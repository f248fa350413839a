"""The two-queue frontier and the overlapped seen-filter inserts.

The engine dequeues with a range filter over per-class FIFO positions
(``queue_pos``) instead of ranking the whole frontier, and it runs the
seen-filter inserts on a background thread joined before the next probe.
Both must leave the crawl bit-identical to the pure-Python oracle, under
every mode: smart on and off, mixed-priority seeds, a budget cut mid-batch,
either numbering path, store-mode resume and cooperative writers.
"""

import tempfile
import threading
import time

import pytest

from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.operators.bloom import ShardedBloom
from crawler_seo_spark.oracle import run_oracle
from crawler_seo_spark.sources.synthetic_site import BASE, SEED_URL
from crawler_seo_spark.tables import SnapshotStore

# 4 priority seeds and 4 normal ones, interleaved in list order: with a
# batch of 3 the dequeue splits a batch across the two classes
MIXED_SEEDS = [BASE + p for p in (
    "/blog/post-6", "/product/item-11", "/page/info-108", "/category/cat-13",
    "/blog/post-17", "/service/svc-24", "/page/info-38", "/about/team-45")]

TIMING = {"t_dequeue_ms", "t_fetch_parse_ms", "t_prune_ms", "t_seq_ms",
          "t_merge_ms", "wall_ms"}

FILTER_ON = dict(bloom_min_seen=0, bloom_seen_batch_ratio=0, bloom_shards=8,
                 bloom_bits_per_shard=1 << 14)


def _order(state):
    return [(r["crawl_seq"], r["url"], r["depth"], r["priority"], r["round"])
            for r in state.crawl_order.orderBy("crawl_seq").collect()]


def _oracle_order(site, cfg):
    return [(r["crawl_seq"], r["url"], r["depth"], r["priority"], r["round"])
            for r in run_oracle(site, cfg).crawl_order]


def _counters(state):
    return [{k: v for k, v in r.items() if k not in TIMING}
            for r in state.rounds]


def _assert_queue_invariant(state):
    """The frontier holds exactly the positions [head, tail) of each
    class, and its size is the round counters' frontier_after."""
    last = state.rounds[-1]
    rows = state.frontier.select("priority", "queue_pos").collect()
    assert len(rows) == last["frontier_after"]
    for c in (0, 1):
        got = sorted(r["queue_pos"] for r in rows if r["priority"] == c)
        assert got == list(range(last["queue_head"][c],
                                 last["queue_tail"][c])), c


@pytest.mark.parametrize("kw", [
    pytest.param(dict(smart=True, max_urls=70, batch_size=12), id="smart"),
    pytest.param(dict(smart=False, max_urls=70, batch_size=12), id="fifo"),
    pytest.param(dict(smart=True, max_urls=43, batch_size=10),
                 id="budget-cut-mid-batch"),
    # the numbering threshold is compared with the round's dequeue size:
    # at 15 every full round numbers on the distributed path, at 16 none
    pytest.param(dict(smart=True, max_urls=60, batch_size=15,
                      seq_window_threshold=15), id="batch-at-threshold"),
    pytest.param(dict(smart=True, max_urls=60, batch_size=15,
                      seq_window_threshold=16), id="batch-below-threshold"),
])
def test_two_queue_dequeue_matches_oracle(spark, small_site, pages_df, kw):
    cfg = CrawlConfig(seed_url=SEED_URL, **kw)
    state = CrawlEngine(spark, pages_df, cfg).run()
    assert _order(state) == _oracle_order(small_site, cfg)
    _assert_queue_invariant(state)


def test_mixed_priority_multi_seed(spark, small_site, pages_df):
    cfg = CrawlConfig(seed_url=SEED_URL, seed_urls=MIXED_SEEDS, max_urls=40,
                      batch_size=3, smart=True, seq_window_threshold=3)
    state = CrawlEngine(spark, pages_df, cfg).run()
    assert _order(state) == _oracle_order(small_site, cfg)
    _assert_queue_invariant(state)


def test_batch_split_across_the_two_queues(spark, small_site, pages_df):
    """With no links followed (max_depth=0) the rounds are the seeds
    alone: the priority queue drains first, round 1 takes its last entry
    plus the normal queue's head, each class in list order."""
    cfg = CrawlConfig(seed_url=SEED_URL, seed_urls=MIXED_SEEDS, max_urls=40,
                      batch_size=3, smart=True, max_depth=0)
    got = _order(CrawlEngine(spark, pages_df, cfg).run())
    assert got == _oracle_order(small_site, cfg)
    by_round = [[url[len(BASE):] for _, url, _, _, rnd in got if rnd == r]
                for r in range(3)]
    assert by_round == [
        ["/product/item-11", "/category/cat-13", "/service/svc-24"],
        ["/about/team-45", "/blog/post-6", "/page/info-108"],
        ["/blog/post-17", "/page/info-38"]]


def test_store_resume_mid_crawl_bit_identical(spark, pages_df):
    """Resume restores the queue counters from the manifest: the resumed
    rounds replay the uninterrupted run's rounds exactly — crawl order,
    frontier rows and every non-timing round counter."""
    ckpt = tempfile.mkdtemp(prefix="queues_resume_")
    cfg = CrawlConfig(seed_url=SEED_URL, seed_urls=MIXED_SEEDS, max_urls=50,
                      batch_size=7, checkpoint_dir=ckpt)
    full = CrawlEngine(spark, pages_df, cfg).run()
    want_frontier = sorted(tuple(r) for r in full.frontier.collect())

    store = SnapshotStore(ckpt)
    kill_at = store.manifest()["round"] // 2
    assert kill_at >= 1
    store.rollback(kill_at)
    resumed = CrawlEngine(spark, pages_df, cfg).run(resume=True)
    assert _order(resumed) == _order(full)
    assert sorted(tuple(r) for r in resumed.frontier.collect()) \
        == want_frontier
    assert _counters(resumed) == _counters(full)[kill_at + 1:]


def test_cooperative_writers_share_the_queues(spark, pages_df):
    """Two cooperative writers race on mixed-priority seeds; the loser
    rebases onto the winner's committed queue counters and both finish
    with the serial crawl and the serial final frontier."""
    base = dict(seed_url=SEED_URL, seed_urls=MIXED_SEEDS, max_urls=45,
                batch_size=9)
    serial = CrawlEngine(spark, pages_df, CrawlConfig(
        **base, checkpoint_dir=tempfile.mkdtemp(prefix="queues_serial_"))
    ).run()
    ckpt = tempfile.mkdtemp(prefix="queues_coop_")
    engines = [CrawlEngine(spark, pages_df, CrawlConfig(
        **base, checkpoint_dir=ckpt, writer_id=w)) for w in ("qa", "qb")]
    states, errors = {}, []

    def runner(eng):
        try:
            states[eng.config.writer_id] = eng.run()
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=runner, args=(e,)) for e in engines]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    want_frontier = sorted(tuple(r) for r in serial.frontier.collect())
    for name, st in states.items():
        assert _order(st) == _order(serial), name
        assert sorted(tuple(r) for r in st.frontier.collect()) \
            == want_frontier, name
    assert len(states) == 2


def test_probe_waits_for_a_slow_insert(spark, small_site, pages_df,
                                       monkeypatch):
    """With every filter insert slowed down, the crawl stays exact: each
    probe starts only after every insert started before it has landed."""
    events, lock = [], threading.Lock()
    add_urls, prune_new = ShardedBloom.add_urls, ShardedBloom.prune_new

    def slow_add(self, df, url_col="url"):
        with lock:
            events.append("insert")
        time.sleep(1.5)
        add_urls(self, df, url_col)
        with lock:
            events.append("inserted")

    def probe(self, candidates, seen, url_col="url"):
        with lock:
            events.append("probe")
        return prune_new(self, candidates, seen, url_col)

    monkeypatch.setattr(ShardedBloom, "add_urls", slow_add)
    monkeypatch.setattr(ShardedBloom, "prune_new", probe)
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=12,
                      **FILTER_ON)
    state = CrawlEngine(spark, pages_df, cfg).run()
    assert _order(state) == _oracle_order(small_site, cfg)
    assert events.count("probe") == len(state.rounds)
    assert events.count("insert") >= 2
    for i, e in enumerate(events):
        if e == "probe":
            assert events[:i].count("insert") == events[:i].count("inserted")


def test_insert_thread_error_surfaces_from_run(spark, pages_df,
                                               monkeypatch):
    def broken_add(self, df, url_col="url"):
        raise RuntimeError("seen-filter insert failed")

    monkeypatch.setattr(ShardedBloom, "add_urls", broken_add)
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=30, batch_size=10,
                      **FILTER_ON)
    with pytest.raises(RuntimeError, match="seen-filter insert failed"):
        CrawlEngine(spark, pages_df, cfg).run()


def test_failed_round_joins_the_insert_thread(spark, pages_df,
                                              monkeypatch):
    """A round that fails while an insert is in flight leaves no insert
    running once run() has raised: a retry over the same filter state
    must not race an orphaned writer."""
    events, threads, lock = [], [], threading.Lock()
    add_urls, fetch = ShardedBloom.add_urls, CrawlEngine._fetch
    calls = []

    def slow_add(self, df, url_col="url"):
        with lock:
            events.append("insert")
            threads.append(threading.current_thread())
        time.sleep(1.5)
        add_urls(self, df, url_col)
        with lock:
            events.append("inserted")

    def failing_fetch(self, batch):
        calls.append(1)
        if len(calls) == 2:  # round 1, with round 0's insert in flight
            raise RuntimeError("fetch failed")
        return fetch(self, batch)

    monkeypatch.setattr(ShardedBloom, "add_urls", slow_add)
    monkeypatch.setattr(CrawlEngine, "_fetch", failing_fetch)
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=60, batch_size=12,
                      checkpoint_dir=tempfile.mkdtemp(prefix="queues_fail_"),
                      **FILTER_ON)
    with pytest.raises(RuntimeError, match="fetch failed"):
        CrawlEngine(spark, pages_df, cfg).run()
    assert events.count("insert") >= 2
    assert not any(t.is_alive() for t in threads)
    assert events.count("inserted") == events.count("insert")


def test_resume_refuses_checkpoint_without_queue_counters(spark, pages_df):
    """A checkpoint whose counters predate the per-class queue counters
    fails with a clear error instead of a KeyError."""
    ckpt = tempfile.mkdtemp(prefix="queues_old_")
    SnapshotStore(ckpt).commit_round(0, {
        "results_total": 10, "next_discovery_seq": 30, "seen_total": 30})
    cfg = CrawlConfig(seed_url=SEED_URL, max_urls=20, batch_size=10,
                      checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="no frontier queue counters"):
        CrawlEngine(spark, pages_df, cfg).run(resume=True)


@pytest.mark.parametrize("checkpoint", [False, True],
                         ids=["in-memory", "store"])
def test_round_counters_deterministic(spark, pages_df, checkpoint):
    """Overlapped inserts never make a round counter racy: two runs give
    identical counters, and the last round's ``bloom_inserted`` is what
    the filter holds once the run has returned."""
    def run():
        cfg = CrawlConfig(
            seed_url=SEED_URL, max_urls=45, batch_size=15,
            checkpoint_dir=tempfile.mkdtemp(prefix="queues_det_")
            if checkpoint else None, **FILTER_ON)
        eng = CrawlEngine(spark, pages_df, cfg)
        state = eng.run()
        assert state.rounds[-1]["bloom_inserted"] == eng.bloom.n_inserted
        return _counters(state)

    first = run()
    assert all(r["bloom_active"] for r in first)
    assert run() == first


def test_background_jobs_carry_the_callers_job_group(spark, pages_df):
    """The snapshot publish and the filter inserts run on inheritable
    threads: every job of a store-mode run with the filter on belongs to
    the job group the caller set, none is left without a group."""
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("queues-background", "background job attribution")
    try:
        CrawlEngine(spark, pages_df, CrawlConfig(
            seed_url=SEED_URL, max_urls=30, batch_size=10,
            checkpoint_dir=tempfile.mkdtemp(prefix="queues_group_"),
            **FILTER_ON)).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("queues-background")
    # the status store evicts old jobs past spark.ui.retainedJobs, so
    # compare new ids only
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
