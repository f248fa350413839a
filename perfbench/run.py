"""Crawl-frontier benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. One client issues one operation at a time on
a ``local[nproc]`` session. A run sets up (session + inputs) several times
and reports the median as ``setup_s``, runs one untimed warm-up operation,
then repeats the workload's operation until ``--seconds`` of operations
have been measured. Every operation is checked against the repository's
oracles; a mismatch or an error counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs a traced
operation and an untraced one, then times each layer standalone, and prints
the per-layer metrics. The last line of standard output is the
result as one JSON object. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3

END_TO_END = {            # name → unit
    "setup_s": "s",
    "pipeline_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

_SPANS = [
    "engine.run",
    "plans.enrich_results",
    "operators.bloom.add_urls",
    "operators.bloom.prune_new",
    "operators.sequence.global_sequence",
    "operators.sequence.global_sequence_small",
    "operators.text.with_text_analysis",
    "operators.dedup.exact_duplicates",
    "operators.dedup.minhash_signatures",
    "operators.dedup.lsh_candidate_pairs",
    "operators.paragraph.paragraph_stats",
    "operators.incremental.ingest",
]
_TABS = ["analise_completa", "headings_problematicos", "headings_vazios",
         "sequencia_headings", "gravidade_headings", "titles_duplicados",
         "descriptions_duplicadas", "hierarquia_problemas", "score_ranking",
         "resumo_executivo", "mixed_content"]
_WALL_ONLY_SPANS = (["operators.politeness.schedule_fetches",
                     "tables.merge_into", "tables.write",
                     "tables.commit_round"]
                    + [f"plans.tab.{t}" for t in _TABS])


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A layer a workload does not
    exercise reports 0."""
    from tracing import SPAN_FIELDS
    units = {f"{s}.{f}": u for s in _SPANS for f, u in SPAN_FIELDS}
    units.update({f"{s}.wall_s": "s" for s in _WALL_ONLY_SPANS})
    units.update({
        "session.get_spark.wall_s": "s",
        "sources.page_store.wall_s": "s",
        "setup.inputs_s": "s",
        "setup.warmup_s": "s",
        "engine.rounds": "count",
        "engine.round_p50_ms": "ms",
        "engine.jobs_per_round": "count",
        "engine.unattributed_jobs": "count",
        "engine.bloom_rebroadcast_mb": "MB",
        "plans.report_s": "s",
        "functions.analyze_page.pages_per_s": "1/s",
        "functions.canonicalize_series.urls_per_s": "1/s",
        "operators.bloom.definite_new_ratio": "ratio",
        "operators.bloom.fpr": "ratio",
        "operators.politeness.salt_task_skew": "ratio",
        "tables.bytes_per_url": "B",
        "operators.dedup.pairs_per_doc": "ratio",
        "trace.overhead_s": "s",
        "error_rate": "ratio",
    })
    return units


def host_resources() -> dict:
    """Size the session from the host: cores from the CPU affinity mask
    (what ``nproc`` prints), driver heap a quarter of MemTotal, 1-2 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, total_kb // 1024 // 4))
    return {"cores": cores, "heap_mb": heap_mb,
            "mem_total_mb": total_kb // 1024}


def configure_env(res: dict) -> None:
    """Pass the sizing through the package's own variables, keep every
    file the run writes inside the work directory, and give the Python
    workers the package on their path."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{res['heap_mb']}m",
        "SPARK_GRAFT_CPUS": str(res["cores"]),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # every JVM (launcher and driver): no /tmp/hsperfdata, temp files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # the status store must keep every job of a run for the trace; a
        # fixed-size heap (-Xms = -Xmx) keeps the peak RSS from following
        # the collector's resizing decisions
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            f"--conf spark.driver.extraJavaOptions=-Xms{res['heap_mb']}m "
            "pyspark-shell"),
    })


def stop_spark(procs: dict[int, int]) -> None:
    """Stop the session and the JVM, then wait for every process the run
    started (``procs``: pid → start time) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from tracing import still_running

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procs = {p: t for p, t in procs.items() if p != os.getpid()}
    for grace_s in (30, 5):
        deadline = time.monotonic() + grace_s
        while still_running(procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in still_running(procs):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def traced_metrics(wl, spark, attempt) -> dict:
    """One traced operation, one untraced one, then the workload's
    standalone layer calls; every per-layer metric (0 for a layer the
    workload does not use)."""
    from tracing import JobTracer

    tracer = JobTracer(spark)
    traced = attempt(tracer.span)
    # the base of the overhead runs second, a little warmer, so the
    # overhead is overstated rather than understated
    base = attempt()
    if traced is None or base is None:
        raise RuntimeError("an operation of the traced run failed")
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    metrics.update(wl.layers(spark, traced, tracer, WORK))
    spans, unattributed = tracer.harvest()
    for name, fields in spans.items():
        for f, v in fields.items():
            metrics[f"{name}.{f}"] = v
    rounds = traced.info.get("round_ms")
    if rounds:
        metrics["engine.round_p50_ms"] = statistics.median(rounds)
        metrics["engine.jobs_per_round"] = (spans["engine.run"]["jobs"]
                                            / len(rounds))
    metrics["engine.unattributed_jobs"] = unattributed
    metrics["trace.overhead_s"] = traced.wall_s - base.wall_s
    return metrics


def run(args, res: dict) -> dict:
    from crawler_seo_spark.session import get_spark
    from tracing import RssSampler, process_tree
    from workloads import WORKLOADS, no_span

    wl = WORKLOADS[args.workload](args.seed)
    procs: dict[int, int] = {}   # every process seen: pid → start time
    setups, sessions, inputs = [], [], []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cores=res["cores"])
            t1 = time.perf_counter()
            wl.build(spark)
            t2 = time.perf_counter()
            sessions.append(t1 - t0)
            inputs.append(t2 - t1)
            setups.append(t2 - t0)
            log(f"set-up: session {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s")
        procs.update(process_tree(os.getpid()))
        t0 = time.perf_counter()
        ref = wl.reference()
        log(f"reference: {time.perf_counter() - t0:.2f} s")

        attempted = failed = 0

        def attempt(span=no_span):
            """One checked operation; None when it raised."""
            nonlocal attempted, failed
            attempted += 1
            try:
                r = wl.op(spark, WORK, span)
            except Exception:
                traceback.print_exc()
                failed += 1
                return None
            log(f"operation: {r.wall_s:.2f} s, {r.items} items")
            bad = wl.check(r, ref)
            if bad:
                log(f"check failed: {bad}")
                failed += 1
            return r

        t0 = time.perf_counter()
        wl.op(spark, WORK)  # untimed warm-up
        warmup_s = time.perf_counter() - t0
        log(f"warm-up: {warmup_s:.2f} s")

        if args.trace:
            units = per_layer_units()
            metrics = traced_metrics(wl, spark, attempt)
            metrics.update({
                "session.get_spark.wall_s": statistics.median(sessions),
                "setup.inputs_s": statistics.median(inputs),
                "setup.warmup_s": warmup_s,
                "error_rate": failed / attempted,
            })
        else:
            ops = []   # the closed loop
            with RssSampler() as rss:
                while not ops or sum(r.wall_s for r in ops) < args.seconds:
                    r = attempt()
                    if r is not None:
                        ops.append(r)
                    if failed >= 3:
                        break
            procs.update(rss.procs)
            if not ops:
                raise RuntimeError("every operation raised")
            units = END_TO_END
            metrics = {
                "setup_s": statistics.median(setups),
                "pipeline_s": statistics.median(r.wall_s for r in ops),
                "items_per_s": statistics.median(r.items / r.wall_s
                                                  for r in ops),
                "peak_rss_mb": rss.peak_mb,
            }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        procs.update(process_tree(os.getpid()))
        t0 = time.perf_counter()
        stop_spark(procs)
        log(f"stopped: {time.perf_counter() - t0:.2f} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_frontier", "corpus_dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "crawler_seo_spark" / "__init__.py").is_file():
        print("run from the repository root: crawler_seo_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    res = host_resources()
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        configure_env(res)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "resources": res}), flush=True)
        result = run(args, res)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
