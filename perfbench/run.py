"""genie_spark benchmark: three seeded workloads, end-to-end and per-layer.

Run from the repository root:

    python3 perfbench/run.py --workload kg_pages --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Everything runs in one Python process with one local
Spark session of ``nproc`` task slots and a JVM heap of a sixteenth
of host RAM (1-4 GiB); all files go under ``.perfbench_work/`` in the
current directory.

Workloads (sizes at full scale; ``--tiny`` shrinks them for the self-test)
---------------------------------------------------------------------------
kg_pages   400 seeded ``synth`` pages with gold triples; extraction catalog =
           the 191 synth entities + 5000 seeded distractor names sharing
           first/last-name pieces (entity-trie root fan-out in the
           thousands, as with Wikidata) / 24 relations. One pass =
           run_checkpointed(extraction, 16 chunks, 4 per job) →
           materialize_graph(salt_buckets=8) → write_graph → micro/macro
           metrics against gold. Decode, constraints and trie do most of
           the extraction work, while checkpoint commits, canonicalize, the
           sink and the Arrow boundary all show in the pass; catalog size
           shows in set-up (broadcast and per-worker trie build).
registry   Seeded TPC-H-like lineitem (~8k rows)/supplier/nation plus a
           600-document corpus, written as Parquet. One pass = the graph
           tier (kg_pagerank, kg_communities, kg_two_hop) then the operator
           tier (tfidf_top_terms, bm25_topk, line_dedup, dedup_minhash_lsh,
           dedup_incremental, micro_prf), each collected (a few thousand
           rows at most) for the DuckDB oracle check. No
           decode runs: a decode change must predict no change here, and a
           checkpoint/canonicalize change likewise.

A run measures whole passes until --seconds have elapsed, so with a short
--seconds it measures exactly one: the first pass after set-up, in a JVM
that has not run the workload's jobs before. A warm-up pass before timing
would double the length of every run.

End-to-end metrics (tracing off)
--------------------------------
setup_s      median of 3 set-ups, each a fresh SparkContext (the first also
             launches the JVM) + input/catalog load + extractor broadcast +
             Python worker warm-up.
docs_per_s   input documents per second of one pass, median over the passes
             that fit in --seconds (registry: corpus documents per 9-query
             round). kg_pages counts until the graph is written and the
             evaluation has finished. Pass time is wall time with the
             hypervisor's CPU steal taken out (pass_seconds); the raw wall,
             busy and steal seconds are printed on a "# cpu" line.
peak_rss_mb  sum of VmHWM over the JVM and its Python workers.
Failed checks are the JSON line's ``failed``; any failure exits non-zero.

Per-layer metrics (tracing on) and the end-to-end metric each should move
--------------------------------------------------------------------------
extract.{split_s,sentences}          docs_per_s on kg_pages
pipeline.{extract_s,arrow_s}         docs_per_s on kg_pages (arrow_s is an
                                     identity mapInPandas with the same
                                     schema: the Arrow boundary alone)
pipeline.broadcast_bytes             setup_s on kg_pages
decode.*, constraints.state_s,       docs_per_s on kg_pages (most of its
trie.step_s                          extraction), none on registry (zero)
checkpoint.{commit_s,jobs,bytes_written}       docs_per_s on kg_pages only
canonicalize.{materialize_s,write_s,link_ratio,graph_rows,shuffle_bytes}
                                     docs_per_s on kg_pages only
metrics.eval_s                       docs_per_s on kg_pages
registry.<q>.{s,jobs,tasks,serial_stages,shuffle_bytes},
registry.{graph,operator}_tier_s     docs_per_s on registry
trace.pass_s                         the traced pass; minus the untraced pass
                                     (docs / docs_per_s) = tracing overhead
The decode layers come from a framework-free pass over a seeded sentence
sample (decode_probe.py); ``decode.extract_share`` projects that decode
time onto the Spark extraction. Spark-side layers are timed from outside
by materializing each layer's output, tagged with setJobGroup, and folded
from the session's event log. A traced run also prints each span's self
time along the pass and writes the spans to .perfbench_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)

from spans import Tracer, event_log_conf, fold_event_log, peak_rss_mb  # noqa: E402
from workloads import GRAPH_TIER, OPERATOR_TIER, WORKLOADS  # noqa: E402

SETUPS = 3

END_TO_END = {"setup_s": "s", "docs_per_s": "1/s", "peak_rss_mb": "MiB"}

PER_LAYER = {
    "extract.split_s": "s",
    "extract.sentences": "count",
    "pipeline.extract_s": "s",
    "pipeline.arrow_s": "s",
    "pipeline.broadcast_bytes": "bytes",
    "decode.score_s": "s",
    "constraints.state_s": "s",
    "trie.step_s": "s",
    "decode.search_self_s": "s",
    "decode.steps": "count",
    "decode.candidates": "count",
    "decode.allowed_mean": "count",
    "decode.kept_ratio": "ratio",
    "decode.proxy_overhead_s": "s",
    "decode.extract_share": "ratio",
    "checkpoint.commit_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "canonicalize.materialize_s": "s",
    "canonicalize.write_s": "s",
    "canonicalize.link_ratio": "ratio",
    "canonicalize.graph_rows": "count",
    "canonicalize.shuffle_bytes": "bytes",
    "metrics.eval_s": "s",
    "registry.graph_tier_s": "s",
    "registry.operator_tier_s": "s",
    **{
        f"registry.{q}.{k}": u
        for q in GRAPH_TIER + OPERATOR_TIER
        for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                     ("serial_stages", "count"), ("shuffle_bytes", "bytes"))
    },
    "trace.pass_s": "s",
}


def host_resources():
    """Task slots = the CPUs this process may run on (what nproc prints);
    JVM heap = a sixteenth of physical RAM, clamped to 1-4 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    return cores, min(4096, max(1024, total_mb // 16))


def start_session(work: str, cores: int, heap_mb: int, event_log: str = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.Builder()
        .master(f"local[{cores}]")
        .appName("genie-spark-perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # the heap is committed and touched up front, so the JVM's peak
        # RSS does not depend on when the collector happened to grow it
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        )
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (event_log_conf(event_log) if event_log else {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _wall_busy_steal(span: dict):
    busy, steal = (b - a for a, b in zip(span["cpu0"], span["cpu1"]))
    return span["end"] - span["start"], busy, steal


def pass_seconds(tracer: Tracer):
    """Seconds of each top-level span with the hypervisor's CPU steal taken
    out: wall x busy / (busy + steal), the CPU seconds summed over all CPUs
    during the span. On a host whose neighbours steal a share f of every
    busy CPU, a pass that takes t unstolen seconds runs t / (1 - f) wall
    seconds, and the ratio recovers t."""
    out = []
    for s in tracer.spans:
        if s["parent"] is None:
            wall, busy, steal = _wall_busy_steal(s)
            out.append(wall * busy / (busy + steal) if busy > 0 else wall)
    return out


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import genie_spark from this checkout; temp files
    # stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM, spark-submit's launcher too, keeps its temp and perf files
    # here, and Spark's scratch space (the variable overrides spark.local.dir)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = WORKLOADS[args.workload](work, args.seed, args.tiny)
    wl.build()
    cores, heap_mb = host_resources()
    setup_s = []
    log_dir = os.path.join(work, "eventlog")
    for i in range(SETUPS):
        t0 = time.perf_counter()
        traced = args.trace and i == SETUPS - 1
        spark = start_session(work, cores, heap_mb, log_dir if traced else None)
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()

    # the last session stays up to measure whole passes
    tracer = Tracer(spark, enabled=bool(args.trace))
    start = time.perf_counter()
    while True:
        wl.one_pass(tracer)
        passes = pass_seconds(tracer)
        if args.trace or time.perf_counter() - start >= args.seconds:
            break
    if args.trace:
        metrics = wl.layers(tracer)
        metrics["trace.pass_s"] = passes[0]
    else:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "docs_per_s": statistics.median(wl.docs / p for p in passes),
            "peak_rss_mb": peak_rss_mb(spark.sparkContext._gateway.proc.pid),
        }
    attempted, failed, notes = wl.check()
    spark.stop()

    if args.trace:
        metrics.update(wl.from_log(fold_event_log(log_dir)))
        tracer.dump(os.path.join(work, "spans.jsonl"))
        print("# self time along the traced pass (span, parent, self_s, total_s):")
        for s in tracer.self_times():
            print(f"#   {s['name']:<34} {str(s['parent']):<24} {s['self_s']:9.3f} {s['total_s']:9.3f}")
        units = PER_LAYER
    else:
        units = END_TO_END
    metrics = {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    for n in notes:
        print(f"# CHECK FAILED: {n}")
    for s in tracer.spans:
        if s["parent"] is None:
            print("# cpu {}: wall {:.3f} busy {:.2f} steal {:.2f}".format(s["name"], *_wall_busy_steal(s)))
    print(
        f"# {args.workload}: {len(passes)} pass(es) {[round(p, 3) for p in passes]} s; "
        f"setups {[round(s, 3) for s in setup_s]} s; checks {attempted - failed}/{attempted} ok"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted + len(passes),
        "failed": failed,
        "metrics": metrics,
    }


def stop_jvm() -> None:
    """End the JVM that pyspark launched (and with it the Python worker
    daemon) and wait for it, instead of leaving it to notice our exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)
    try:
        result = run(args)
    finally:
        stop_jvm()
    print(json.dumps(result), flush=True)
    return 0 if result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
