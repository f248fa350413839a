"""The distributed crawl engine: iterative DataFrame jobs per crawl round.

Spark lifecycle per round (SURVEY §3, north-star design)::

    two-queue dequeue (range filter on per-class queue_pos; no ranking)
      → per-host politeness schedule (window over host)
      → synthetic fetch (broadcast batch ⋈ page store; HTTP mapInPandas in prod)
      → Arrow-batched parse/analyze UDF (links, metatags, headings, mixed)
      → candidate links: posexplode → within-round first-occurrence dedup
      → Bloom prune + exact anti-join vs seen (J1)
      → robots admission (allow-all default = reference parity)
      → deterministic discovery_seq + queue_pos assignment
      → frontier/seen merge + results/filtered/metrics append
      → seen-filter insert (background; joined before the next probe)
      → (optional) snapshot commit for bit-identical resume (background)

The driver loop is the only imperative control flow (BFS round barriers are
batch-synchronous by nature — reference: core/crawler.py:61-93). Crawl order
is reproduced EXACTLY: the frontier IS the reference's two FIFO deques
(core/url_manager.py:386-404) — each url carries its dense position in its
priority class's queue, the driver keeps each queue's head and tail, and a
round dequeues the priority queue's first positions, then the normal
queue's, up to the budget. ``discovery_seq`` and ``queue_pos`` are derived
from deterministic inputs — (parent crawl_seq, link position on the page)
within each round — never from ``monotonically_increasing_id`` or timing.
"""

from __future__ import annotations

import functools
import logging
import os
import time
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import CrawlConfig
from .functions.parse import analysis_column
from .functions.urlnorm import base_domain_of, is_priority_col
from .operators.bloom import ShardedBloom
from .operators.politeness import schedule_fetches
from .operators.robots import filter_allowed, robots_table
from .tables import ConcurrentCommitError, SnapshotStore

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("priority", T.IntegerType(), False),
    T.StructField("discovery_seq", T.LongType(), False),
    T.StructField("round_added", T.IntegerType(), False),
    # dense FIFO position within the url's priority class: the frontier is
    # the two reference deques, each the position range [head, tail) of
    # its class (the driver holds the counters) — within a class,
    # discovery_seq order IS enqueue order, so the positions are exact
    T.StructField("queue_pos", T.LongType(), False),
])


@dataclass
class CrawlState:
    results: DataFrame          # raw per-page rows (analysis struct attached)
    frontier: DataFrame         # remaining frontier
    seen: DataFrame             # registered URL set
    filtered: DataFrame         # (url, reason, round)
    rounds: list[dict]          # per-round counters/lineage
    crawl_order: DataFrame      # (crawl_seq, url, depth, priority, round)


class CrawlEngine:
    """One crawl run over a page-store DataFrame."""

    def __init__(self, spark: SparkSession, pages: DataFrame | None,
                 config: CrawlConfig,
                 robots_rules: dict[str, list[str]] | None = None,
                 analyzers: list | None = None,
                 fetch_fn_factory=None) -> None:
        """``analyzers``: optional plug-in column analyzers — each a
        ``DataFrame -> DataFrame`` adding columns to the per-round result
        (the Spark form of the reference's duck-typed ``.analyze(soup, url)``
        protocol, core/crawler.py:169-174).

        ``pages=None`` = LIVE mode: each round's batch is fetched over HTTP
        by the politeness-scheduled ``mapInPandas`` fetcher
        (sources/fetch.py) instead of joined against a page store.
        ``fetch_fn_factory`` overrides the per-task fetcher (tests inject a
        deterministic one)."""
        self.spark = spark
        self.pages = pages
        self.fetch_fn_factory = fetch_fn_factory
        self.config = config
        self.analyzers = analyzers or []
        self.base_domain = base_domain_of(config.seed_url)
        # Seen-filter shard state rides the checkpoint dir: resume reopens
        # the same file-backed shards (and skips the seen backfill); without
        # checkpointing the filters use a private temp dir.
        # cooperative writers keep writer-local filter state (it is derived
        # from the committed seen set; a rebase resets + re-backfills it)
        filter_name = ("seen_filter" if config.writer_id is None
                       else f"seen_filter.{config.writer_id}")
        filter_dir = (os.path.join(config.checkpoint_dir, filter_name)
                      if config.checkpoint_dir else None)
        if config.seen_filter == "cuckoo":
            # deletable variant (recrawl invalidation); same prune contract
            from .operators.cuckoo import ShardedCuckoo
            self.bloom = ShardedCuckoo(config.bloom_shards,
                                       config.cuckoo_buckets_per_shard,
                                       state_dir=filter_dir)
        else:
            self.bloom = ShardedBloom(config.bloom_shards,
                                      config.bloom_bits_per_shard,
                                      config.bloom_num_hashes,
                                      state_dir=filter_dir)
        self.robots = (robots_table(spark, robots_rules)
                       if robots_rules else None)
        self._robots_dynamic: DataFrame | None = None  # LIVE robots cache
        self._robots_delay_count = 0  # hosts with a Crawl-delay directive
        self.store = (SnapshotStore(config.checkpoint_dir,
                                    writer_id=config.writer_id)
                      if config.checkpoint_dir else None)
        self.rebase_count = 0  # cooperative commit races lost (telemetry)

    # ------------------------------------------------------------------
    def _seed_frontier(self) -> tuple[DataFrame, DataFrame, list[int]]:
        """Seed frontier and seen set, plus the seeds per priority class
        (``[normal, priority]`` — the initial queue tails). The rows go
        through Arrow in one batch into a pinned frontier; ``seen`` derives
        from it in the JVM (``md5(url)`` IS the reference's ``url_md5``)."""
        import pandas as pd

        from .functions.urlnorm import (
            canonicalize_url,
            filter_reason,
            is_priority,
        )
        raw_seeds = self.config.seed_urls or [self.config.seed_url]
        rows, registered, tails = [], set(), [0, 0]
        for raw in raw_seeds:
            seed = canonicalize_url(raw, None, self.base_domain)
            if seed is None or filter_reason(seed):
                if self.config.seed_urls:
                    continue  # multi-seed: skip rejected entries
                raise ValueError(f"seed URL rejected: {raw}")
            if seed in registered:
                continue
            registered.add(seed)
            # single-seed reference behavior: priority=True in smart mode
            # (crawler.py:294); multi-seed: classify by pattern
            if self.config.seed_urls:
                prio = 1 if (self.config.smart and is_priority(
                    seed, self.config.priority_patterns)) else 0
            else:
                prio = 1 if self.config.smart else 0
            rows.append((seed, 0, prio, len(rows), 0, tails[prio]))
            tails[prio] += 1
        if not rows:
            raise ValueError("no admissible seed URLs")
        frontier = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=FRONTIER_SCHEMA.fieldNames()),
            FRONTIER_SCHEMA).localCheckpoint(eager=True)
        return frontier, self._seen_of(frontier), tails

    @staticmethod
    def _seen_of(frontier: DataFrame) -> DataFrame:
        return frontier.select("url", F.md5(F.col("url")).alias("url_md5"))

    @staticmethod
    def _order_of(df: DataFrame) -> DataFrame:
        """The crawl-order projection of a round's batch or results."""
        return df.select("crawl_seq", "url", "depth",
                         (F.col("priority") == 1).alias("priority"), "round")

    def _fetch(self, batch: DataFrame) -> DataFrame:
        """Synthetic fetch, found rows only: broadcast the (small) batch into
        a hash join against the page store — the store is streamed ONCE per
        round, never shuffled. Store-miss rows (network 404s) are derived
        AFTER the round result is checkpointed, by anti-joining the batch
        against the found result's urls (two tiny checkpointed inputs — zero
        extra store scans; round 1 streamed the store twice per round).
        LIVE mode (``pages=None``) never reaches here — it runs the fused
        fetch+analyze ``mapInPandas`` (:meth:`_fused_live_round`) instead.
        """
        return self.pages.join(F.broadcast(batch), "url", "inner")

    def _fused_live_round(self, batch: DataFrame,
                          max_depth: int) -> DataFrame:
        """LIVE-mode fused round stage: fetch + parse/analyze in ONE
        ``mapInPandas`` — the page html never crosses the Arrow boundary
        (the unfused form shipped each ~10 KB page python→JVM→python→JVM;
        at 80k URLs/round that is ~3 GB of extra Arrow+join traffic per
        round, and memory bandwidth is exactly what does not scale with
        cores). Output rows are byte-identical to the store-join path
        (tests/test_politeness_fetch.py::test_live_mode_matches_store_mode).
        """
        import hashlib

        from .functions.parse import ANALYSIS_SCHEMA, analyze_page
        factory = self.fetch_fn_factory
        if factory is None:
            from .sources.fetch import make_http_fetch
            factory = make_http_fetch
        base_domain = self.base_domain
        out_schema = T.StructType([
            T.StructField("crawl_seq", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("depth", T.IntegerType()),
            T.StructField("priority", T.IntegerType()),
            T.StructField("round", T.IntegerType()),
            T.StructField("content_md5", T.StringType()),
            T.StructField("status_code", T.IntegerType()),
            T.StructField("content_type", T.StringType()),
            T.StructField("final_url", T.StringType()),
            T.StructField("response_time_ms", T.DoubleType()),
            T.StructField("content_length", T.LongType()),
            T.StructField("headers",
                          T.MapType(T.StringType(), T.StringType())),
            T.StructField("host", T.StringType()),
            T.StructField("fetch_slot", T.LongType()),
            T.StructField("scheduled_offset_ms", T.DoubleType()),
            T.StructField("analysis", ANALYSIS_SCHEMA),
        ])

        def kernel(batches):
            import pandas as pd

            from .sources.fetch import paced_rows
            fetch = factory()
            start = time.monotonic()
            for pdf in batches:
                rows = []
                for rec in paced_rows(pdf, start):
                    r = fetch(rec.url)
                    html = r["html"] or ""
                    analyzed = (r["status_code"] == 200
                                and "text/html" in r["content_type"].lower())
                    analysis = None
                    if analyzed:
                        analysis = analyze_page(
                            html, rec.url, base_domain,
                            want_links=rec.depth < max_depth)
                    rows.append({
                        "crawl_seq": rec.crawl_seq, "url": rec.url,
                        "depth": rec.depth, "priority": rec.priority,
                        "round": rec.round,
                        "content_md5":
                            hashlib.md5(html.encode("utf-8")).hexdigest(),
                        "status_code": r["status_code"],
                        "content_type": r["content_type"].split(";")[0],
                        "final_url": r["final_url"],
                        "response_time_ms": r["response_time_ms"],
                        "content_length": r["content_length"],
                        "headers": r["headers"],
                        "host": rec.host, "fetch_slot": rec.fetch_slot,
                        "scheduled_offset_ms": rec.scheduled_offset_ms,
                        "analysis": analysis,
                    })
                yield pd.DataFrame(rows)

        return batch.mapInPandas(kernel, schema=out_schema)

    def _refresh_robots(self, candidates: DataFrame, round_id: int) -> None:
        """LIVE-mode robots.txt acquisition (north-star "robots.txt
        caching"): fetch ``/robots.txt`` once per newly-seen or TTL-stale
        candidate host through the configured fetcher (one tiny
        ``mapInPandas`` over the hosts — rules are parsed worker-side),
        and merge the rows into the per-host rules cache TABLE. The cache
        is a DataFrame, not a driver dict — no O(hosts) driver residency;
        refreshed rows replace stale ones by anti-join. Non-200/erroring
        robots endpoints yield allow-all (the common-crawler simplification
        of RFC 9309's 4xx rule; a strict 5xx=deny policy would plug in
        here)."""
        from pyspark.sql import Observation

        from .functions.urlnorm import host_col
        cfg = self.config
        if self._robots_dynamic is None:
            self._robots_dynamic = self.spark.createDataFrame(
                [], "host string, "
                    "rules array<struct<allow:boolean,prefix:string,rx:string>>, "
                    "crawl_delay double, fetched_round int, "
                    "fetch_ok boolean")
        # carry the candidates' own scheme: an http-only origin serves its
        # robots at http://, never https:// (max() prefers https when a
        # host appears under both — robots are scheme-agnostic per host
        # here, matching the per-host rules cache granularity)
        hosts = (candidates.select(
            host_col(F.col("url")).alias("host"),
            F.when(F.col("url").startswith("http://"), "http")
            .otherwise("https").alias("scheme"))
            .groupBy("host").agg(F.max("scheme").alias("scheme")))
        fresh = self._robots_dynamic.filter(
            F.col("fetched_round") > round_id - cfg.robots_ttl_rounds)
        todo = hosts.join(fresh.select("host"), "host", "left_anti")
        factory = self.fetch_fn_factory
        if factory is None:
            from .sources.fetch import make_http_fetch
            factory = make_http_fetch
        ua = cfg.robots_user_agent

        def kernel(batches):
            import pandas as pd

            from crawler_seo_spark.operators.robots import (
                parse_crawl_delay,
                parse_robots_rules,
                rule_structs,
            )
            fetch = factory()
            for pdf in batches:
                rows = []
                for host, scheme in zip(pdf["host"], pdf["scheme"]):
                    try:
                        r = fetch(f"{scheme}://{host}/robots.txt")
                        ok = r["status_code"] == 200
                        body = r["html"] if ok else ""
                    except Exception:
                        ok, body = False, ""
                    rows.append({"host": host, "fetch_ok": ok,
                                 "rules": rule_structs(
                                     parse_robots_rules(body or "", ua)),
                                 "crawl_delay":
                                     parse_crawl_delay(body or "", ua)})
                yield pd.DataFrame(rows, columns=[
                    "host", "rules", "crawl_delay", "fetch_ok"])

        obs = Observation()
        fetched = (todo.mapInPandas(
            kernel, "host string, "
                    "rules array<struct<allow:boolean,prefix:string,rx:string>>, "
                    "crawl_delay double, fetch_ok boolean")
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.sum(F.when(F.col("fetch_ok"), 0).otherwise(1))
                     .alias("failed"))
            .withColumn("fetched_round", F.lit(round_id))
            # pin: the fetch kernel feeds BOTH the anti-join build side
            # and the union branch — without this the mapInPandas subtree
            # executes twice and every todo host gets two robots.txt
            # requests per refresh
            .localCheckpoint(eager=True))
        cache_obs = Observation()
        self._robots_dynamic = (
            self._robots_dynamic
            .join(fetched.select("host"), "host", "left_anti")
            .unionByName(fetched)
            .observe(cache_obs,
                     F.sum(F.when(F.col("crawl_delay").isNotNull(), 1)
                           .otherwise(0)).alias("n_delay"))
            .localCheckpoint(eager=True))
        # fail-open (non-200/error robots → allow-all) must be observable,
        # not silent: the counters ride the checkpoint materialization
        # recomputed from the WHOLE cache (not accumulated): a TTL
        # refetch that drops a host's Crawl-delay re-enables the
        # unlimited-rps fast path
        self._robots_delay_count = int(cache_obs.get["n_delay"] or 0)
        failed = obs.get["failed"] or 0
        if failed:
            logging.getLogger(__name__).warning(
                "robots.txt fetch failed for %d/%d host(s) in round %d — "
                "crawling those hosts allow-all", failed, obs.get["n"],
                round_id)

    @staticmethod
    def _fill_missing(batch: DataFrame, result_found: DataFrame) -> DataFrame:
        """404-fill for batch urls absent from the store, shaped exactly like
        the checkpointed found-result (analysis struct included, as null)."""
        analysis_type = result_found.schema["analysis"].dataType
        missing = batch.join(result_found.select("url"), "url", "left_anti")
        return (
            missing
            .withColumn("status_code", F.lit(404))
            .withColumn("content_type", F.lit(""))
            .withColumn("final_url", F.col("url"))
            .withColumn("response_time_ms", F.lit(0.0))
            .withColumn("content_length", F.lit(0).cast("long"))
            .withColumn("headers",
                        F.create_map().cast("map<string,string>"))
            .withColumn("content_md5", F.md5(F.lit("")))
            .withColumn("analysis", F.lit(None).cast(analysis_type))
            .select(*result_found.columns))

    @staticmethod
    def _filtered_from(result: DataFrame) -> DataFrame:
        return (result
                .select("round",
                        F.explode(F.coalesce(
                            F.col("analysis.filtered"),
                            F.array().cast(
                                "array<struct<url:string,reason:string>>")))
                        .alias("f"))
                .select(F.col("f.url").alias("url"),
                        F.col("f.reason").alias("reason"), "round"))

    # ------------------------------------------------------------------
    def _filter_covered_round(self) -> int:
        """Last round whose urls the seen filter is KNOWN to contain
        (persisted in the filter's own manifest counters, so it rides
        the same atomic save as ``n_inserted``). -1 = unknown/none."""
        return int(self.bloom.meta.counters.get("covered_round", -1))

    def _mark_filter_covered(self, round_id: int) -> None:
        self.bloom.meta.counters["covered_round"] = round_id
        self.bloom.meta.save()

    def _insert_covered(self, urls: DataFrame, round_id: int) -> None:
        """OR ``urls`` into the seen filter, then record that it covers
        every url through ``round_id`` (the insert thread's unit of work)."""
        self.bloom.add_urls(urls)
        self._mark_filter_covered(round_id)

    def _publish(self, result: DataFrame, round_id: int, counters: dict,
                 robots: DataFrame | None) -> None:
        """Write the round's results (and live-robots state), then claim
        its commit marker and publish the manifest."""
        self.store.write("results", result, round_id)
        if robots is not None:
            self.store.write("robots", robots, round_id)
        self.store.commit_round(round_id, counters)

    # ------------------------------------------------------------------
    def _load_committed_state(self) -> tuple:
        """Reconstruct the full per-round loop state from the manifest's
        committed round — the resume path, and the rebase target for a
        cooperative writer that lost a commit race. Returns ``(frontier,
        seen, results_parts, filtered_parts, order_parts, results_count,
        next_discovery_seq, queue_heads, queue_tails, seen_count,
        round_id)``."""
        manifest = self.store.manifest()
        last, c = manifest["round"], manifest["counters"]
        if "queue_head" not in c:
            raise ValueError(
                f"checkpoint {self.config.checkpoint_dir!r} has no frontier "
                "queue counters (written before the two-queue frontier): "
                "it cannot be resumed or joined; start a fresh run")
        frontier = self.store.read(self.spark, "frontier", last) \
            .localCheckpoint(eager=True)
        seen = self.store.read(self.spark, "seen", last) \
            .localCheckpoint(eager=True)
        results_parts = [self.store.read(self.spark, "results", r)
                         for r in range(last + 1)]
        # live-robots state is part of the replayed inputs: without it a
        # resumed round would take the unlimited-rps fast path (breaking
        # bit-identical resume) and ignore learned Crawl-delays until the
        # next TTL refetch
        # Missing robots snapshot = crawl ran without live robots, nothing
        # to restore. A PRESENT-but-unreadable one must NOT degrade to
        # no-robots state (the resumed round would take the unlimited-rps
        # fast path and ignore learned Crawl-delays) — let the read error
        # propagate.
        if self.store.has_table("robots", last):
            self._robots_dynamic = self.store.read(
                self.spark, "robots", last).localCheckpoint(eager=True)
            self._robots_delay_count = self._robots_dynamic.filter(
                F.col("crawl_delay").isNotNull()).count()
        return (frontier, seen, results_parts,
                [self._filtered_from(p) for p in results_parts],
                [self._order_of(p) for p in results_parts],
                c["results_total"], c["next_discovery_seq"],
                list(c["queue_head"]), list(c["queue_tail"]),
                c["seen_total"], last + 1)

    @staticmethod
    def _dequeue(frontier: DataFrame, heads: list[int], tails: list[int],
                 budget: int, seq_base: int, round_id: int):
        """The reference's two-deque pop (core/url_manager.py:386-404) as a
        range filter: the priority class's first ``min(budget, n1)``
        positions, then the normal class's first positions up to the
        budget. No ranking job — ``crawl_seq`` is arithmetic (priority rows
        first, each class in queue order). Returns ``(batch, remaining
        frontier, per-class takes)``; the remaining frontier is the
        complement filter."""
        take1 = min(budget, tails[1] - heads[1])
        take0 = min(budget - take1, tails[0] - heads[0])
        prio, pos = F.col("priority") == 1, F.col("queue_pos")
        taken = F.when(prio, pos < heads[1] + take1) \
            .otherwise(pos < heads[0] + take0)
        rank = F.when(prio, pos - heads[1]) \
            .otherwise(pos - heads[0] + take1)
        batch = (frontier.filter(taken)
                 .withColumn("crawl_seq", (rank + seq_base).cast("long"))
                 .withColumn("round", F.lit(round_id)))
        return batch, frontier.filter(~taken), [take0, take1]

    def _number_links(self, new_links: DataFrame, round_id: int,
                      seq_base: int, batch_count: int, next_seq: int,
                      tails: list[int], n_parts: int):
        """Deterministic enqueue numbering of the round's new links:
        ``discovery_seq`` = ``next_seq`` + rank in (parent_seq, link_pos)
        order, and ``queue_pos`` = the class tail + rank within the url's
        priority class (the reference appends links to its deques in
        exactly this order). Returns ``(new frontier rows, new links per
        class)``.

        Big rounds use the distributed prefix-sum (one pinned pass yields
        both numberings and the per-class counts); small rounds use a
        checkpoint with the counts observed on it and one-task windows —
        a global window would funnel millions of candidates through a
        single reducer at the 10^10 design point.
        """
        cfg = self.config
        order_cols = [F.asc("parent_seq"), F.asc("link_pos")]
        new_links = new_links.select(
            "url", "parent_seq", "link_pos", "parent_depth",
            (is_priority_col(F.col("url"), cfg.priority_patterns)
             if cfg.smart else F.lit(False)).cast("int").alias("priority"))
        if batch_count >= cfg.seq_window_threshold:
            # big-round regime (dequeue size is the cheap proxy for the
            # candidate count). parent_seq is contiguous in
            # [seq_base, seq_base + batch_count), so the order-monotone
            # bucket is pure arithmetic — no repartitionByRange sampling
            # job, which would re-evaluate the whole explode→dedup→prune
            # pipeline a second time. 4× buckets per partition so hash
            # placement stays balanced.
            from .operators.sequence import global_sequence_arith
            n_buckets = 4 * n_parts
            pid = F.floor((F.col("parent_seq") - F.lit(seq_base).cast("long"))
                          * F.lit(n_buckets) / F.lit(batch_count))
            numbered, per_class = global_sequence_arith(
                new_links, pid, order_cols, "discovery_seq", "priority",
                tails, "queue_pos", start=next_seq, num_partitions=n_parts)
        else:
            from pyspark.sql import Observation
            obs = Observation()  # auto-named: unique across rounds/runs
            new_links = (new_links
                         .observe(obs, F.count(F.lit(1)).alias("n"),
                                  F.sum("priority").alias("n1"))
                         .localCheckpoint(eager=True))
            n1 = int(obs.get["n1"] or 0)
            per_class = [int(obs.get["n"]) - n1, n1]
            # one window yields both numberings: a row's rank within its
            # class is the running count of its class in the global order
            w = Window.orderBy(*order_cols).rowsBetween(
                Window.unboundedPreceding, Window.currentRow)
            rank = F.row_number().over(w).cast("long")
            n1_upto = F.sum("priority").over(w).cast("long")
            numbered = (
                new_links
                .withColumn("discovery_seq",
                            rank - 1 + F.lit(next_seq).cast("long"))
                .withColumn("queue_pos",
                            F.when(F.col("priority") == 1,
                                   n1_upto - 1 + F.lit(tails[1]))
                            .otherwise(rank - n1_upto - 1
                                       + F.lit(tails[0]))
                            .cast("long")))
        new_frontier = (numbered
                        .withColumn("depth",
                                    (F.col("parent_depth") + 1).cast("int"))
                        .withColumn("round_added", F.lit(round_id + 1))
                        .select(*FRONTIER_SCHEMA.fieldNames()))
        return new_frontier, per_class

    def run(self, resume: bool = False) -> CrawlState:
        """Run the crawl; with ``resume=True`` continue from the last
        committed snapshot round (bit-identical to an uninterrupted run —
        every per-round input is reconstructed from the snapshot store).

        With ``config.writer_id`` set (cooperative mode) the engine JOINS
        the shared crawl: it resumes from the committed round if one
        exists, commits rounds synchronously, and on losing a commit race
        aborts its staged round and rebases onto the winner's state."""
        # off the round's critical path, at most one of each in flight:
        # the previous round's snapshot publish (store mode) and the
        # seen-filter insert. Each is joined before anything reads what it
        # writes — the next publish, the next probe, a filter reset, the
        # end of the run — and re-raises its error there.
        publish, inserts = _Background(), _Background()
        try:
            return self._crawl(resume, publish, inserts)
        except BaseException:
            # never leave a task running past run(): a retry over the same
            # checkpoint dir would race it on the filter and snapshot
            # files. The crawl's own error wins over the task's.
            for task in (publish, inserts):
                try:
                    task.join()
                except BaseException:
                    pass
            raise

    def _crawl(self, resume: bool, publish: _Background,
               inserts: _Background) -> CrawlState:
        cfg = self.config
        cooperative = self.store is not None and cfg.writer_id is not None
        if cooperative:
            # cross-writer politeness budget: every cooperative writer
            # redundantly fetches the round, so each schedules at
            # rps/n_registered — the COMBINED per-host rate stays within
            # the single-writer budget. Registration precedes the first
            # fetch; the registry persists (a dead writer keeps its slot,
            # which only makes the combined rate more conservative).
            self.store.register_writer()
        rounds: list[dict] = []
        n_parts = self.spark.sparkContext.defaultParallelism

        manifest = None
        if self.store is not None and (resume or cooperative):
            if not cooperative:
                # reclaim markers orphaned by a crash between marker claim
                # and manifest publish (we are the single resuming writer —
                # cooperative writers must NOT do this: a peer may be
                # mid-commit, its claimed marker is not an orphan)
                self.store.recover_incomplete()
            manifest = self.store.manifest()
        if manifest is not None:
            (frontier, seen, results_parts, filtered_parts, order_parts,
             results_count, next_discovery_seq, heads, tails, seen_count,
             round_id) = self._load_committed_state()
            # A reopened filter is only trustworthy if it covers every
            # committed round: a writer that crashed and rejoined has
            # filter state from ITS last round, but peers (or a later
            # single-writer run) committed rounds while it was down — a
            # bloom miss on one of their urls is a definite-negative that
            # bypasses the exact anti-join and duplicates the crawl.
            # Covered ≥ manifest round ⇒ superset of the committed seen
            # set (extra aborted-round urls only cost false positives,
            # which the exact join absorbs). Anything less ⇒ reset; the
            # activation-time backfill rebuilds from the committed seen.
            if (self.bloom.n_inserted
                    and self._filter_covered_round() < manifest["round"]):
                self.bloom.reset()
        else:
            # fresh run: a stale store/filter from a previous run over the
            # same checkpoint dir must not leak into this one — old commit
            # markers would refuse round 0, and a stale seen filter lacking
            # this run's urls would produce FALSE NEGATIVES (duplicates)
            # through the skipped backfill. Reset UNCONDITIONALLY (not only
            # when a manifest exists): a run that died in round 0 between
            # the O_EXCL marker claim and the manifest publish leaves a
            # marker with NO manifest, which would still refuse round 0.
            # Cooperative writers never reset: a peer may already be
            # mid-commit of round 0 — they seed identically (deterministic)
            # and let the commit race pick the winner.
            if self.store is not None and not cooperative:
                self.store.reset()
            if self.bloom.n_inserted:
                self.bloom.reset()
            frontier, seen, tails = self._seed_frontier()
            results_parts, filtered_parts, order_parts = [], [], []
            results_count = round_id = 0
            next_discovery_seq = seen_count = sum(tails)
            heads = [0, 0]
        bloom_active = False

        while sum(tails) > sum(heads) and results_count < cfg.max_urls:
            t0 = time.monotonic()
            budget = min(cfg.batch_size, cfg.max_urls - results_count)

            # --- O1/O3: two-queue dequeue ------------------------------------
            seq_base = results_count
            batch, remaining, takes = self._dequeue(
                frontier, heads, tails, budget, seq_base, round_id)
            heads = [h + t for h, t in zip(heads, takes)]
            batch_count = sum(takes)
            # LIVE mode fuses the whole dequeue→schedule→fetch→parse chain
            # into ONE materialization (the result checkpoint): the fused
            # kernel emits exactly one row per batch row, so the batch has
            # a single consumer and needs no pin of its own. Store mode
            # pins it lazily: the fetch stage's broadcast build is the
            # first consumer and materializes the checkpoint inside its
            # own job; _fill_missing and the crawl order reuse it.
            if self.pages is not None:
                batch = batch.localCheckpoint(eager=False)
                order_parts.append(self._order_of(batch))
            t_dequeue = time.monotonic()

            # --- seen-filter activation: decided before the round's first
            # job, so the backfill overlaps the fetch. The Bloom prefilter
            # is the 10^10-scale scan-saver; below the threshold its
            # build/probe jobs cost more than the plain anti-join, so it
            # stays cold (exactness is identical either way — the prune
            # only bypasses join probes).
            if (not bloom_active and seen_count >= cfg.bloom_min_seen
                    and seen_count
                    >= cfg.bloom_seen_batch_ratio * batch_count):
                # backfill once — unless the reopened file-backed filter
                # already carries state (resume path). A crash between the
                # filter write and the round commit can leave the replayed
                # round's urls pre-inserted: harmless (Bloom OR is
                # idempotent; a cuckoo duplicate costs one slot and keeps
                # prune exactness — false negatives remain impossible).
                # `seen` is the state entering this round ⇒ the filter
                # then covers everything through round_id - 1.
                if self.bloom.n_inserted == 0:
                    inserts.start(self._insert_covered, seen.select("url"),
                                  round_id - 1)
                bloom_active = True

            # --- S2: per-host politeness schedule ------------------------------
            # At "unlimited" rate budgets (≥1e8 rps — benchmark / offline
            # replay mode) every offset is ~0: skip the per-host rank window
            # and project constant slots. Identical crawl semantics — the
            # schedule only TIMES fetches, never orders results.
            host_delays = None
            if self._robots_dynamic is not None and self._robots_delay_count:
                # robots Crawl-delay overrides: a host's interval becomes
                # max(1/rps, crawl_delay) — forces the real schedule even
                # in unlimited-rps replay mode
                host_delays = (self._robots_dynamic
                               .filter(F.col("crawl_delay").isNotNull())
                               .select("host",
                                       F.col("crawl_delay")
                                       .alias("crawl_delay_s")))
            eff_rps = cfg.requests_per_second
            if cooperative and cfg.requests_per_second < 1e8:
                # rps split across registered writers (see run() preamble);
                # re-read per round so a writer joining mid-crawl tightens
                # the split from the next round boundary. Only FINITE
                # budgets split: dividing the unlimited sentinel (≥1e8)
                # is meaningless and would knock a cooperative replay off
                # the zero-offset fast path (r5 advisor finding)
                n_w = len(self.store.registered_writers())
                if n_w > 1:
                    eff_rps = cfg.requests_per_second / n_w
            if eff_rps >= 1e8 and host_delays is None:
                from .operators.politeness import with_host
                batch = (with_host(batch)
                         .withColumn("fetch_slot", F.lit(0).cast("long"))
                         .withColumn("scheduled_offset_ms", F.lit(0.0)))
            else:
                batch = schedule_fetches(batch, eff_rps,
                                         host_delays=host_delays)

            # --- J4: salted host repartition — one hot host's fetches spread
            # over salt buckets (each row keeps its politeness slot, so the
            # rate budget still holds; the skew kill is for fetch/parse work)
            if cfg.host_salt_buckets > 1:
                from .operators.politeness import salted_repartition
                batch = salted_repartition(
                    batch, cfg.host_salt_buckets).drop("host_salt")

            # --- S1: fetch + F6/F7 gates + parse/analyze -----------------------
            # ONE streamed pass over the page store: found rows are parsed and
            # checkpointed; network-404 rows are synthesized afterwards from
            # the two checkpointed sides and appended lazily (narrow ops over
            # pinned inputs — deterministic, no extra materialization job).
            if self.pages is None:
                # LIVE: fused fetch+parse/analyze — html stays python-side.
                # The kernel emits a row for EVERY batch url (network errors
                # come back as status rows): no 404 fill, and the crawl
                # order comes off the checkpointed result.
                result_found = self._fused_live_round(
                    batch, cfg.max_depth).localCheckpoint(eager=True)
                result = result_found
                order_parts.append(self._order_of(result_found))
            else:
                fetched = self._fetch(batch)
                analyzed_cond = ((F.col("status_code") == 200)
                                 & F.lower(F.col("content_type"))
                                 .contains("text/html"))
                want_links = analyzed_cond & (F.col("depth") < cfg.max_depth)
                analysis = analysis_column(
                    F.when(analyzed_cond, F.col("html")).otherwise(F.lit("")),
                    F.col("url"), want_links, self.base_domain)
                result_found = (
                    fetched
                    .withColumn("analysis",
                                F.when(analyzed_cond, analysis)
                                .otherwise(F.lit(None)))
                    # content hash feeds the recrawl cache (reference
                    # artifact cache/<domain>_cache.json — SURVEY §1.4)
                    .withColumn("content_md5", F.md5(F.col("html")))
                    .select("crawl_seq", "url", "depth", "priority", "round",
                            "content_md5",
                            "status_code",
                            F.split(F.col("content_type"), ";").getItem(0)
                            .alias("content_type"),
                            "final_url", "response_time_ms", "content_length",
                            "headers", "host", "fetch_slot",
                            "scheduled_offset_ms",
                            "analysis")
                ).localCheckpoint(eager=True)
                result = result_found.unionByName(
                    self._fill_missing(batch, result_found))
            # P2 plug-in analyzers: column pipelines over the round's result
            for analyzer_fn in self.analyzers:
                result = analyzer_fn(result)
            results_parts.append(result)
            results_count += batch_count
            t_fetch = time.monotonic()

            # --- filtered-log append (per occurrence, reference semantics) ----
            filtered_parts.append(self._filtered_from(result))

            # --- candidate links: posexplode keeps page order ------------------
            # (missing rows have null analysis — candidates come straight off
            # the checkpointed found-result)
            candidates = (
                result_found
                .filter(F.col("analysis").isNotNull())
                .select(F.col("crawl_seq").alias("parent_seq"),
                        F.col("depth").alias("parent_depth"),
                        F.posexplode_outer(F.col("analysis.links"))
                        .alias("link_pos", "url"))
                .filter(F.col("url").isNotNull())
            )
            # within-round first occurrence wins (reference: first add_url
            # registers, later ones are duplicates — url_manager.py:207-220).
            # min(struct) is the lexicographic first (parent_seq, link_pos)
            # per url — same rows a row_number window selects, but as an
            # aggregate it gets MAP-SIDE partial combine: within-partition
            # duplicates collapse before the shuffle, which a window can
            # never do.
            candidates = (candidates
                          .groupBy("url")
                          .agg(F.min(F.struct("parent_seq", "link_pos",
                                              "parent_depth")).alias("_f"))
                          .select("url", "_f.parent_seq", "_f.link_pos",
                                  "_f.parent_depth"))

            # --- J1: bloom prune + exact anti-join, then robots -----------------
            inserts.join()  # the probe must read every insert so far
            filter_inserted = self.bloom.n_inserted
            if bloom_active:
                new_links = self.bloom.prune_new(candidates, seen)
            else:
                new_links = candidates.join(seen.select("url"), "url",
                                            "left_anti")
            if self.pages is None and cfg.fetch_robots:
                # live robots acquisition gates admission alongside any
                # injected static rules (allow-all for unknown hosts)
                self._refresh_robots(new_links, round_id)
                new_links = filter_allowed(
                    new_links,
                    self._robots_dynamic.select("host", "rules"))
            new_links = filter_allowed(new_links, self.robots)
            t_prune = time.monotonic()

            # --- deterministic discovery_seq + queue positions ---------------
            new_frontier, per_class = self._number_links(
                new_links, round_id, seq_base, batch_count,
                next_discovery_seq, tails, n_parts)
            tails = [t + n for t, n in zip(tails, per_class)]
            enqueued = sum(per_class)
            next_discovery_seq += enqueued
            t_seq = time.monotonic()

            # --- merge frontier & seen (Iceberg MERGE INTO) --------------------
            new_seen = self._seen_of(new_frontier)
            if self.store is not None:
                # Store mode: the table provider is the single publish
                # path. The round's frontier/seen snapshots are produced BY
                # the merge itself — MERGE INTO frontier (the dequeue's
                # complement filter as target, new rows INSERT) and MERGE
                # INTO seen (insert-only) — and the returned DataFrames
                # read back from the written files: lineage is cut by
                # storage instead of a localCheckpoint materialization, and
                # a resumed run continues from the exact bytes this run
                # used. assume_disjoint invariant: new_frontier urls were
                # pruned against seen, and frontier ⊆ seen (every enqueued
                # url is registered the same round) — oracle-differential
                # tested.
                frontier = self.store.merge_into(
                    self.spark, "frontier", new_frontier, on="url",
                    round_id=round_id, target=remaining,
                    assume_disjoint=True)
                seen = self.store.merge_into(
                    self.spark, "seen", new_seen, on="url",
                    round_id=round_id, target=seen, assume_disjoint=True)
            else:
                # In-memory mode: frontier and seen grow as LAZY unions of
                # per-round parts, each narrow over an already-checkpointed
                # round output (the frontier behind the dequeue's
                # complement filter), so no materialization job runs per
                # round. Every seen_compact_every rounds both are pinned to
                # bound the stacked plan.
                frontier = remaining.unionByName(new_frontier)
                seen = seen.unionByName(new_seen)
                if (round_id + 1) % cfg.seen_compact_every == 0:
                    frontier = (frontier.coalesce(n_parts)
                                .localCheckpoint(eager=True))
                    seen = (seen.repartition(n_parts, "url")
                            .localCheckpoint(eager=True))
            seen_count += enqueued
            # the round's urls go into the filter off the critical path;
            # a last round's insert is skipped only when no later probe
            # can read the filter (private temp-dir state, no snapshots)
            last_round = (sum(tails) == sum(heads)
                          or results_count >= cfg.max_urls)
            if bloom_active and not (last_round and self.store is None):
                # even if a cooperative commit race is lost below, marking
                # this round covered is safe: the rebase path resets the
                # filter (clearing the marker) before any reuse
                inserts.start(self._insert_covered,
                              new_frontier.select("url"), round_id)
                filter_inserted += enqueued
            t_merge = time.monotonic()

            def ms(a, b):
                return round((b - a) * 1000, 1)

            rounds.append({
                "round": round_id, "dequeued": batch_count,
                "enqueued": enqueued,
                "frontier_after": sum(tails) - sum(heads),
                "results_total": results_count, "seen_total": seen_count,
                "next_discovery_seq": next_discovery_seq,
                # [normal, priority] FIFO position counters: the frontier
                # holds exactly the positions [head, tail) of each class
                "queue_head": heads, "queue_tail": tails,
                "bloom_active": bloom_active,
                "bloom_inserted": filter_inserted,
                "bloom_rebroadcast_bytes":
                    self.bloom.last_rebroadcast_bytes,
                "partitions": n_parts,
                # per-phase wall breakdown — the round's lineage counters
                "t_dequeue_ms": ms(t0, t_dequeue),
                "t_fetch_parse_ms": ms(t_dequeue, t_fetch),
                "t_prune_ms": ms(t_fetch, t_prune),
                "t_seq_ms": ms(t_prune, t_seq),
                "t_merge_ms": ms(t_seq, t_merge),
                "wall_ms": round((time.monotonic() - t0) * 1000, 1),
            })

            if cooperative:
                # synchronous commit: the conflict must surface BEFORE the
                # next round builds on uncommitted state (the single-writer
                # overlap below would detect it one round late, wasting a
                # second round of work per race lost)
                try:
                    self._publish(result, round_id, rounds[-1],
                                  self._robots_dynamic)
                except ConcurrentCommitError:
                    # a LIVE peer publishes the manifest within ms of the
                    # marker claim — wait for it rather than reading the
                    # manifest inside that window (a round-0 race would
                    # otherwise see manifest=None). Timeout ⇒ the marker
                    # holder is dead: an orphaned marker from a crashed
                    # run, not a peer — clean our staging and fail loudly.
                    if self.store.await_round(round_id) is None:
                        self.store.abort_round(round_id)
                        raise
                    self.rebase_count += 1
                    # rebase: drop this round's staged artifacts and every
                    # in-memory derivation of it, reload the winner's
                    # committed state, and continue from there
                    self.store.abort_round(round_id)
                    rounds.pop()
                    (frontier, seen, results_parts, filtered_parts,
                     order_parts, results_count, next_discovery_seq, heads,
                     tails, seen_count,
                     round_id) = self._load_committed_state()
                    inserts.join()
                    if bloom_active or self.bloom.n_inserted:
                        # the filter carries our aborted rounds' urls but
                        # may MISS urls the winner committed — a missing
                        # url is a definite-negative (duplicate crawl), so
                        # rebuild from the committed seen at reactivation
                        self.bloom.reset()
                    bloom_active = False
                    continue
            elif self.store is not None:
                # frontier/seen snapshots were already published by the
                # MERGE INTO above; the results write + commit marker run
                # in the background, overlapping the next round's dequeue
                # (concurrent driver-thread jobs are a supported Spark
                # pattern). Ordering: the previous round's publish is
                # joined before this one starts, so commits stay
                # sequential; a crash mid-overlap leaves the previous
                # round committed — the same consistency as before, one
                # round-barrier cheaper per round.
                publish.start(self._publish, result, round_id, rounds[-1],
                              self._robots_dynamic)
            round_id += 1

        publish.join()  # last round's overlapped publish must land
        inserts.join()
        if self.store is not None:
            # the returned state must outlive the store contents — a later
            # run over the same checkpoint dir may rewrite these round dirs
            # — so pin the storage-backed tables into the session once, at
            # the run boundary (not per round: within a run no referenced
            # snapshot dir is ever overwritten).
            frontier = frontier.localCheckpoint(eager=True)
            seen = seen.localCheckpoint(eager=True)
        return CrawlState(results=_union(results_parts), frontier=frontier,
                          seen=seen, filtered=_union(filtered_parts),
                          rounds=rounds, crawl_order=_union(order_parts))


def _union(parts: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


class _Background:
    """At most one driver-side task in flight, on a
    ``pyspark.InheritableThread`` so its jobs carry the caller's job group
    and local properties. The task's error re-raises at :meth:`join`;
    :meth:`start` joins the previous task first."""

    def __init__(self) -> None:
        self._thread: InheritableThread | None = None
        self._errors: list[BaseException] = []

    def start(self, fn, *args) -> None:
        self.join()
        errors = self._errors = []

        def body():
            try:
                fn(*args)
            except BaseException as e:  # re-raised at join
                errors.append(e)

        self._thread = InheritableThread(target=body, daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None
            if self._errors:
                raise self._errors[0]
