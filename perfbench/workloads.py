"""The benchmark's workloads: seeded inputs, one timed operation each, the
oracle that checks it, and the standalone layer calls of the traced run.

Every workload drives ``crawler_seo_spark`` through its public API only.
The seed varies the generated site or corpus, never the engine config.
"""

from __future__ import annotations

import hashlib
import random
import re
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

from crawler_seo_spark.config import CrawlConfig
from crawler_seo_spark.engine import CrawlEngine
from crawler_seo_spark.functions.parse import analyze_page
from crawler_seo_spark.functions.urlnorm import (
    base_domain_of,
    canonicalize_series,
)
from crawler_seo_spark.oracle import run_oracle

PAGE_SCHEMA = ("url string, page_index int, status_code int, "
               "content_type string, final_url string, "
               "response_time_ms double, content_length long, html string, "
               "headers map<string,string>, image_ids array<string>")

# how many pages the kernel-only layer runs parse, outside Spark
KERNEL_PAGES = 200
_HREF = re.compile(r'href="([^"]*)"')


def no_span(name: str):
    return nullcontext()


def force(df) -> None:
    """Run the whole plan without collecting it (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def digest(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def order_digest(rows) -> str:
    """Digest of a crawl order: (crawl_seq, url, depth, priority, round)."""
    return digest(f"{seq}\t{url}\t{depth}\t{int(prio)}\t{rnd}"
                  for seq, url, depth, prio, rnd in rows)


@dataclass
class OpResult:
    wall_s: float            # the whole operation
    items: int               # pages crawled / documents processed
    outputs: dict = field(default_factory=dict)   # what the check reads
    info: dict = field(default_factory=dict)      # per-op layer figures


def timed(fn, *args, **kw) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def kernel_rates(pages: list[tuple[str, str]], base_domain: str) -> dict:
    """Python-only cost of the parse kernels on local pages (no Spark, no
    Arrow): pages/s through ``analyze_page`` and hrefs/s through
    ``canonicalize_series``."""
    t_parse, _ = timed(lambda: [analyze_page(h, u, base_domain, True)
                                for u, h in pages])
    hrefs, bases = [], []
    for u, h in pages:
        found = _HREF.findall(h)
        hrefs += found
        bases += [u] * len(found)
    t_canon, _ = timed(canonicalize_series, pd.Series(hrefs, dtype=object),
                       pd.Series(bases, dtype=object), base_domain)
    return {"functions.analyze_page.pages_per_s": len(pages) / t_parse,
            "functions.canonicalize_series.urls_per_s": len(hrefs) / t_canon}


# ---------------------------------------------------------------------------
# the crawl
# ---------------------------------------------------------------------------

class CrawlFrontier:
    """A page-store crawl of a seeded synthetic site from a large random
    seed list, at the default finite ``requests_per_second`` (the
    politeness schedule runs). Rounds are big enough for the distributed
    sequencing path, and the seen set is big enough from round 0 for the
    Bloom prefilter to run."""

    name = "crawl_frontier"
    N_PAGES = 4000
    N_SEEDS = 2000

    def __init__(self, seed: int) -> None:
        from crawler_seo_spark.sources.synthetic_site import (
            BASE,
            SEED_URL,
            page_paths,
        )
        self.seed = seed
        rng = random.Random(seed)
        paths = page_paths(self.N_PAGES)
        seeds = [BASE + paths[i]
                 for i in rng.sample(range(self.N_PAGES), self.N_SEEDS)]
        self.seed_set = set(seeds)
        self.page_store_s: list[float] = []
        # batch 250 ≥ seq_window_threshold → distributed prefix sums;
        # 2k seeds ≥ bloom_min_seen and ≥ 8 × batch → filter on from round 0
        self.cfg = CrawlConfig(seed_url=SEED_URL, seed_urls=seeds,
                               max_urls=500, batch_size=250,
                               seq_window_threshold=200,
                               bloom_min_seen=2000)

    def build(self, spark) -> None:
        from crawler_seo_spark.sources.synthetic_site import build_site
        self.store = build_site(self.N_PAGES, seed=self.seed)
        t0 = time.perf_counter()
        self.pages = spark.createDataFrame(
            pd.DataFrame(list(self.store.values())),
            schema=PAGE_SCHEMA).localCheckpoint(eager=True)
        self.page_store_s.append(time.perf_counter() - t0)

    def op(self, spark, work: Path, span=no_span) -> OpResult:
        t0 = time.perf_counter()
        with span("engine.run"):
            state = CrawlEngine(spark, self.pages, self.cfg).run()
            n = state.crawl_order.count()
        wall = time.perf_counter() - t0
        order = state.crawl_order.orderBy("crawl_seq").collect()
        seen = sorted(r.url for r in state.seen.select("url").collect())
        return OpResult(wall_s=wall, items=n,
                        outputs={"order": order_digest(order),
                                 "seen": digest(seen), "n": n},
                        info={"state": state,
                              "round_ms": [r["wall_ms"]
                                           for r in state.rounds]})

    def reference(self) -> dict:
        ref = run_oracle(self.store, self.cfg)
        order = [(r["crawl_seq"], r["url"], r["depth"], r["priority"],
                  r["round"]) for r in ref.crawl_order]
        return {"order": order_digest(order),
                "seen": digest(sorted(ref.seen_urls)), "n": len(order)}

    def check(self, res: OpResult, ref: dict) -> list[str]:
        return [f"{k}: got {res.outputs[k]} want {ref[k]}"
                for k in ("order", "seen", "n") if res.outputs[k] != ref[k]]

    # -- traced run: standalone layer calls on round-shaped inputs -------
    def layers(self, spark, res: OpResult, tracer, work: Path) -> dict:
        from pyspark.sql import functions as F

        from crawler_seo_spark.operators import politeness, sequence

        state, cfg = res.info["state"], self.cfg
        crawled = [r.url for r in state.crawl_order.orderBy("crawl_seq")
                   .limit(KERNEL_PAGES).collect()]
        out = kernel_rates([(u, self.store[u]["html"]) for u in crawled
                            if u in self.store],
                           base_domain_of(cfg.seed_url))
        out["sources.page_store.wall_s"] = statistics.median(
            self.page_store_s)
        rounds = state.rounds
        out["engine.rounds"] = len(rounds)
        out["engine.bloom_rebroadcast_mb"] = sum(
            r["bloom_rebroadcast_bytes"] for r in rounds) / 2 ** 20

        # round 0's batch, shaped like the engine's schedule input
        batch = (state.crawl_order.filter(F.col("round") == 0)
                 .select("crawl_seq", "url").localCheckpoint(eager=True))
        with tracer.span("operators.politeness.schedule_fetches"):
            force(politeness.schedule_fetches(batch,
                                              cfg.requests_per_second))
        salted = politeness.salted_repartition(batch, cfg.host_salt_buckets)
        sizes = [r["n"] for r in salted.groupBy(
            F.spark_partition_id().alias("p")).agg(
            F.count("*").alias("n")).collect()]
        parts = spark.sparkContext.defaultParallelism
        out["operators.politeness.salt_task_skew"] = (
            max(sizes) / (sum(sizes) / parts))

        # both sequencing paths on the frontier left after the crawl
        order = [F.desc("priority"), F.asc("discovery_seq")]
        frontier = state.frontier.localCheckpoint(eager=True)
        with tracer.span("operators.sequence.global_sequence"):
            force(sequence.global_sequence(frontier, order, "_rank"))
        with tracer.span("operators.sequence.global_sequence_small"):
            force(sequence.global_sequence_small(frontier, order, "_rank"))

        out.update(self._bloom_layer(spark, state, tracer, work))
        out.update(self._tables_layer(spark, state, tracer, work))
        out.update(self._report_layer(state, res, tracer, work))
        return out

    def _bloom_layer(self, spark, state, tracer, work: Path) -> dict:
        """Backfill the seen set at activation (the seeds) into a fresh
        filter, then prune round 0's candidate links against it."""
        from pyspark.sql import functions as F

        from crawler_seo_spark.operators.bloom import ShardedBloom

        cfg = self.cfg
        bloom = ShardedBloom(cfg.bloom_shards, cfg.bloom_bits_per_shard,
                             cfg.bloom_num_hashes,
                             state_dir=str(work / "bloom"))
        seen0 = spark.createDataFrame([(u,) for u in sorted(self.seed_set)],
                                      "url string").localCheckpoint(eager=True)
        cands = (state.results.filter(F.col("round") == 0)
                 .select(F.explode("analysis.links").alias("url"))
                 .distinct().localCheckpoint(eager=True))
        with tracer.span("operators.bloom.add_urls"):
            bloom.add_urls(seen0)
        with tracer.span("operators.bloom.prune_new"):
            force(bloom.prune_new(cands, seen0))
        probe = bloom.maybe_seen_col(spark)
        flags = (ShardedBloom.with_hashes(cands)
                 .select("url", probe(F.col("_bh1"), F.col("_bh2"))
                         .alias("maybe")).toPandas())
        new = ~flags["url"].isin(self.seed_set)
        return {
            "operators.bloom.definite_new_ratio":
                float((~flags["maybe"]).mean()),
            "operators.bloom.fpr": float((flags["maybe"] & new).sum()
                                         / max(int(new.sum()), 1)),
        }

    def _tables_layer(self, spark, state, tracer, work: Path) -> dict:
        """Snapshot one round the way ``checkpoint_dir`` runs do: merge the
        seen set, write the round's results, commit."""
        from pyspark.sql import functions as F

        from crawler_seo_spark.tables import SnapshotStore

        last = state.rounds[-1]
        results = (state.results.filter(F.col("round") == last["round"])
                   .localCheckpoint(eager=True))
        seen = state.seen.localCheckpoint(eager=True)
        root = work / "tables"
        store = SnapshotStore(str(root))
        with tracer.span("tables.merge_into"):
            store.merge_into(spark, "seen", seen, on="url", round_id=0)
        with tracer.span("tables.write"):
            store.write("results", results, 0)
        with tracer.span("tables.commit_round"):
            store.commit_round(0, last)
        on_disk = sum(p.stat().st_size for p in root.rglob("*")
                      if p.is_file())
        return {"tables.bytes_per_url": on_disk / (last["seen_total"]
                                                   + last["dequeued"])}

    def _report_layer(self, state, res: OpResult, tracer, work: Path) -> dict:
        """The report on the traced crawl's results. ``write_report`` runs
        unchanged; each ``ALL_TABS`` entry is wrapped so that the jobs of
        its tab run under a job group of their own."""
        from crawler_seo_spark.plans import reports
        from crawler_seo_spark.plans.enrich import enrich_results

        with tracer.span("plans.enrich_results"):
            force(enrich_results(state.results))

        def tagged(tab, fn):
            def call(wide):
                tracer.switch(f"plans.tab.{tab}")
                return fn(wide)
            return call

        tabs = dict(reports.ALL_TABS)
        reports.ALL_TABS.update({t: tagged(t, f) for t, f in tabs.items()})
        try:
            t0 = time.perf_counter()
            counts = reports.write_report(enrich_results(state.results),
                                          str(work / "report"))
            report_s = time.perf_counter() - t0
        finally:
            tracer.switch(None)
            reports.ALL_TABS.update(tabs)
        if counts["analise_completa"] != res.items:
            raise RuntimeError(f"report has {counts['analise_completa']} "
                               f"rows for {res.items} crawled pages")
        return {"plans.report_s": report_s}


# ---------------------------------------------------------------------------
# the training-data chain
# ---------------------------------------------------------------------------

TEMPLATE_TEXT = "bloco duplicado para teste de dedup exato"
_STOP = {
    "en": "the and of to is with that".split(),
    "pt": "de que não uma para com os".split(),
    "es": "el la los las una por para".split(),
}
_BOILERPLATE = [f"Aviso legal {i}: todos os direitos reservados, "
                f"consulte a politica de privacidade numero {i * 7}."
                for i in range(15)]


def make_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """Seeded documents with planted structure:

    * ``doc_id % 10 < 2``: one shared template text — an exact-duplicate
      clique big enough to trip the LSH ``max_bucket`` guard;
    * ``doc_id % 10 == 9``: a copy of doc ``doc_id - 7`` with two words
      changed — a planted near-duplicate pair;
    * about a quarter of the rest carry a shared boilerplate paragraph.
    """
    rng = random.Random(seed)
    syll = ["ka", "lo", "mi", "ne", "ra", "tu", "ve", "si", "po", "da",
            "gri", "fen", "mar", "tol", "ces"]
    vocab = sorted({"".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
                    for _ in range(3000)})
    texts: list[str] = []
    for d in range(n_docs):
        if d % 10 < 2:
            texts.append(TEMPLATE_TEXT)
            continue
        if d % 10 == 9:
            paras = texts[d - 7].split("\n\n")
            words = paras[0].split(" ")
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append("\n\n".join([" ".join(words)] + paras[1:]))
            continue
        stop = _STOP[rng.choice(list(_STOP))]
        paras = []
        for _ in range(rng.randint(3, 5)):
            words = [rng.choice(stop) if rng.random() < 0.3
                     else rng.choice(vocab)
                     for _ in range(rng.randint(30, 60))]
            words[0] = words[0].capitalize()
            if rng.random() < 0.3:
                words.insert(rng.randrange(len(words)),
                             str(rng.randint(1, 9999)))
            paras.append(" ".join(words) + rng.choice([".", "!", "?"]))
        if rng.random() < 0.25:
            paras.insert(rng.randrange(len(paras) + 1),
                         rng.choice(_BOILERPLATE))
        texts.append("\n\n".join(paras))
    return pd.DataFrame({"doc_id": range(n_docs), "text": texts})


def banded_pairs(sigs: pd.DataFrame, bands: int,
                 max_bucket: int | None) -> set[tuple[int, int]]:
    """pandas reference for banded LSH pairs: all pairs inside a bucket,
    or (min id, member) star pairs when the bucket exceeds ``max_bucket``."""
    pairs: set[tuple[int, int]] = set()
    ids = sigs["doc_id"].tolist()
    rows = [list(s) for s in sigs["signature"]]
    per = len(rows[0]) // bands
    for b in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for i, sig in zip(ids, rows):
            buckets.setdefault(tuple(sig[b * per:(b + 1) * per]), []).append(i)
        for members in buckets.values():
            members.sort()
            if max_bucket is not None and len(members) > max_bucket:
                pairs.update((members[0], m) for m in members[1:])
            else:
                pairs.update((a, c) for i, a in enumerate(members)
                             for c in members[i + 1:])
    return pairs


def paragraph_reference(docs: pd.DataFrame) -> pd.DataFrame:
    first: set[str] = set()
    rows = []
    for d, text in zip(docs["doc_id"], docs["text"]):
        n = dup = 0
        for para in text.split("\n\n"):
            para = para.strip(" ")
            if not para:
                continue
            n += 1
            if para in first:
                dup += 1
            first.add(para)
        if n:
            rows.append((d, n, dup))
    return pd.DataFrame(rows, columns=["doc_id", "n_paras", "n_dup_paras"])


class CorpusDedup:
    """The training-data chain on a seeded documents corpus: text
    analysis, exact dedup, MinHash + guarded LSH, paragraph dedup, and a
    two-batch incremental signature-index ingest."""

    name = "corpus_dedup"
    N_DOCS = 2000
    K, BANDS, MAX_BUCKET = 32, 8, 64
    TEXT_COLS = ["doc_id", "n_chars_m", "n_tokens", "subword_tokens",
                 "punct_ratio", "digit_ratio", "upper_ratio", "lang_id"]

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.n_ops = 0

    def build(self, spark) -> None:
        self.corpus = make_corpus(self.N_DOCS, self.seed)
        self.docs = spark.createDataFrame(
            self.corpus, "doc_id long, text string").localCheckpoint(
            eager=True)

    def op(self, spark, work: Path, span=no_span) -> OpResult:
        from pyspark.sql import functions as F

        from crawler_seo_spark.operators.dedup import (
            exact_duplicates,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from crawler_seo_spark.operators.incremental import SignatureIndex
        from crawler_seo_spark.operators.paragraph import paragraph_stats
        from crawler_seo_spark.operators.text import with_text_analysis
        from crawler_seo_spark.tables import SnapshotStore

        n_docs, docs, out = self.N_DOCS, self.docs, {}
        self.n_ops += 1
        t0 = time.perf_counter()
        with span("operators.text.with_text_analysis"):
            out["text"] = with_text_analysis(docs).select(
                *self.TEXT_COLS).toPandas()
        with span("operators.dedup.exact_duplicates"):
            out["exact"] = exact_duplicates(docs).toPandas()
        with span("operators.dedup.minhash_signatures"):
            sigs = minhash_signatures(
                docs, k=self.K, shingle_mode="word", shingle_n=3,
                hash_mode="xxhash64").localCheckpoint(eager=True)
        with span("operators.dedup.lsh_candidate_pairs"):
            out["lsh"] = lsh_candidate_pairs(
                sigs, bands=self.BANDS, max_bucket=self.MAX_BUCKET).toPandas()
        with span("operators.paragraph.paragraph_stats"):
            out["para"] = paragraph_stats(docs).toPandas()
        with span("operators.incremental.ingest"):
            # the documents outside the template clique, in two batches
            rest = docs.filter(F.col("doc_id") % 10 >= 2)
            store = SnapshotStore(str(work / f"sigindex{self.n_ops}"))
            idx = SignatureIndex(store, k=self.K, bands=self.BANDS)
            half = n_docs // 2
            out["incremental"] = pd.concat([
                idx.ingest(spark, rest.filter(F.col("doc_id") < half))
                .toPandas(),
                idx.ingest(spark, rest.filter(F.col("doc_id") >= half))
                .toPandas()])
        wall = time.perf_counter() - t0
        out["sigs"] = sigs.toPandas()
        return OpResult(wall_s=wall, items=n_docs, outputs=out,
                        info={"pairs_per_doc": len(out["lsh"]) / n_docs})

    def reference(self) -> dict:
        """DuckDB ``oracle_sql()`` entries over the same documents, plus
        the pandas paragraph reference. The exact-dedup oracle rewrites
        ``doc_id % 10 < 2`` to the template text, which these documents
        already carry, so it states exactly this corpus's duplicates."""
        import duckdb

        from crawler_seo_spark.plans.driver_queries import ORACLE

        con = duckdb.connect()
        con.register("documents", self.corpus)
        text = self.corpus[["doc_id"]]
        for q in ("t_token_count", "t_quality_ratios", "t_language_id"):
            text = text.merge(con.execute(ORACLE[q]).df(), on="doc_id")
        exact = con.execute(ORACLE["t_fingerprint_exact_dedup"]).df()
        con.close()
        return {"text": text, "exact": exact,
                "para": paragraph_reference(self.corpus)}

    def check(self, res: OpResult, ref: dict) -> list[str]:
        out, bad = res.outputs, []
        got = out["text"].sort_values("doc_id").reset_index(drop=True)
        want = ref["text"].sort_values("doc_id").reset_index(drop=True)
        for c in self.TEXT_COLS:
            if c in ("punct_ratio", "digit_ratio", "upper_ratio"):
                ok = ((got[c] - want[c]).abs() <= 2e-6).all()
            else:
                ok = (got[c].astype(str) == want[c].astype(str)).all()
            if not ok:
                bad.append(f"text column {c} differs from the DuckDB oracle")
        exact = {tuple(r) for r in out["exact"][
            ["fp", "dup_count", "keeper_id"]].itertuples(index=False)}
        if exact != {tuple(r) for r in ref["exact"].itertuples(index=False)}:
            bad.append("exact duplicate groups differ from the DuckDB oracle")

        sigs = out["sigs"]
        lsh = set(map(tuple, out["lsh"][["id_a", "id_b"]].values.tolist()))
        if lsh != banded_pairs(sigs, self.BANDS, self.MAX_BUCKET):
            bad.append("guarded LSH pairs differ from the pandas reference")
        rest = sigs[sigs["doc_id"] % 10 >= 2]
        inc = set(map(tuple, out["incremental"][["id_a", "id_b"]]
                      .values.tolist()))
        if inc != banded_pairs(rest, self.BANDS, None):
            bad.append("incremental pairs differ from a full recompute")
        planted = {(d - 7, d) for d in range(9, self.N_DOCS, 10)}
        if not planted <= inc:
            bad.append("a planted near-duplicate pair was missed")

        para = out["para"][["doc_id", "n_paras", "n_dup_paras"]]
        para = para.sort_values("doc_id").reset_index(drop=True)
        if not para.astype("int64").equals(ref["para"].astype("int64")):
            bad.append("paragraph stats differ from the pandas reference")
        return bad

    def layers(self, spark, res: OpResult, tracer, work: Path) -> dict:
        return {"operators.dedup.pairs_per_doc": res.info["pairs_per_doc"]}


WORKLOADS = {w.name: w for w in (CrawlFrontier, CorpusDedup)}

