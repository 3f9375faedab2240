"""Resumable per-partition checkpointing with lineage + metrics.

The north_rule requires the 10^12-document run to be resumable from
checkpoint with per-partition lineage and throughput/coverage metrics. The
reference has nothing comparable (its per-rank JSONL append,
genie/models/genie_base_pl.py:275-297, is not idempotent). Design:

* Work is split into deterministic **chunks** by a stable hash of the
  document key: ``chunk = pmod(xxhash64(url), n_chunks)``. Chunk membership
  depends only on the data — never on cluster size or input split — so a
  resume at different parallelism processes exactly the complete remainder.
  ``run_checkpointed`` is the only place that assigns chunks.
* Each chunk group's output lands under ``out/data/chunk=<k>/`` in one
  write; ``_lineage/chunk_<k>.json`` records (chunk, n_docs, n_rows,
  n_triples, wall_s, docs_per_s, finished_ts) once chunk k is committed,
  with the row/triple counts observed on the write itself (no read-back).
* Resume = skip chunks with a committed record (a ``.tmp`` left by a crash
  is not one) and roll back whatever data the others left. On Iceberg the
  same layout maps to partitioned appends + snapshot metadata; locally it
  is Parquet directories, same semantics.

At 100 TB with n_chunks ≈ 10k, each chunk is ~10 GB — large enough to
amortize job overhead, small enough that a preemption loses minutes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_DIR = "_lineage"
# committed records only: _append_lineage writes ``<name>.tmp`` first
LINEAGE_GLOB = "chunk_*.json"


def with_chunk(df: DataFrame, key: str = "url", n_chunks: int = 16) -> DataFrame:
    return df.withColumn("chunk", F.pmod(F.xxhash64(F.col(key)), F.lit(n_chunks)))


def completed_chunks(spark: SparkSession, out_path: str) -> List[int]:
    """Chunks with a committed lineage record, read from the local record
    files (no Spark job)."""
    chunks = set()
    for fname in glob.glob(os.path.join(out_path, LINEAGE_DIR, LINEAGE_GLOB)):
        with open(fname) as f:
            chunks.add(int(json.load(f)["chunk"]))
    return sorted(chunks)


def lineage_df(spark: SparkSession, out_path: str) -> Optional[DataFrame]:
    if not completed_chunks(spark, out_path):
        return None
    return spark.read.option("pathGlobFilter", LINEAGE_GLOB).json(
        os.path.join(out_path, LINEAGE_DIR)
    )


def _append_lineage(out_path: str, record: dict) -> None:
    path = os.path.join(out_path, LINEAGE_DIR)
    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, f"chunk_{record['chunk']}.json")
    tmp = fname + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(record) + "\n")
    os.replace(tmp, fname)  # atomic: a chunk is done iff its record exists


def _clean_uncommitted(out_path: str, todo_chunks) -> None:
    """Drop data for chunks with NO lineage record — a crash between the
    data append and the lineage write leaves orphaned partition files that
    a naive resume would duplicate (observed: kill -TERM mid-run left
    chunk=4,5 data without lineage; re-run re-emitted them → 254 rows for
    a 193-row corpus). The lineage record is the commit point; anything
    outside it is rolled back here. On Iceberg the same rollback is a
    snapshot expire of the uncommitted append."""
    import shutil

    data = os.path.join(out_path, "data")
    for c in todo_chunks:
        part_dir = os.path.join(data, f"chunk={c}")
        if os.path.exists(part_dir):
            shutil.rmtree(part_dir)


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    process: Callable[[DataFrame], DataFrame],
    out_path: str,
    key: str = "url",
    n_chunks: int = 16,
    chunks_per_job: int = 4,
) -> List[int]:
    """Process ``pages`` chunk-group by chunk-group, atomically committing
    output + lineage per group; safe to kill and re-invoke. Returns the
    list of chunks processed THIS call (already-complete ones are skipped
    via their lineage records).

    ``process`` maps a subset of ``pages`` (same schema) to output rows
    that keep ``key`` and carry ``pred_triples`` (e.g. the extraction
    pipeline). It knows nothing of chunks: ``chunk`` is stamped on its
    output here, from ``key``, overwriting any ``chunk`` it attached.

    Each group is one write, and its lineage numbers come from that write
    (n_rows/n_triples via an ``Observation``); n_docs comes from one
    per-chunk page count taken before the first group.
    """
    chunked = with_chunk(pages, key=key, n_chunks=n_chunks)
    done = set(completed_chunks(spark, out_path))
    todo = [c for c in range(n_chunks) if c not in done]
    _clean_uncommitted(out_path, todo)
    if not todo:
        return []
    counts = chunked.filter(F.col("chunk").isin(todo)).groupBy("chunk").count()
    n_docs = {int(r["chunk"]): r["count"] for r in counts.collect()}
    processed: List[int] = []
    for i in range(0, len(todo), chunks_per_job):
        group = todo[i : i + chunks_per_job]
        t0 = time.time()
        subset = chunked.filter(F.col("chunk").isin(group)).drop("chunk")
        out = with_chunk(process(subset), key=key, n_chunks=n_chunks)
        obs = Observation()
        per_chunk = []
        for c in group:
            in_c = F.col("chunk") == c
            per_chunk += [
                F.count_if(in_c).alias(f"n_rows_{c}"),
                F.sum(F.when(in_c, F.size("pred_triples"))).alias(f"n_triples_{c}"),
            ]
        out.observe(obs, *per_chunk).write.mode("append").partitionBy(
            "chunk"
        ).parquet(os.path.join(out_path, "data"))
        stats = obs.get
        wall = time.time() - t0
        group_docs = sum(n_docs.get(c, 0) for c in group)
        # every chunk in the group gets a record — an empty chunk (no rows
        # hashed into it) is COMPLETE, not pending, or resume would rescan
        # it on every invocation
        for c in group:
            _append_lineage(
                out_path,
                {
                    "chunk": c,
                    "n_docs": n_docs.get(c, 0),
                    "n_rows": int(stats[f"n_rows_{c}"]),
                    "n_triples": int(stats[f"n_triples_{c}"] or 0),
                    "wall_s": round(wall, 3),
                    "docs_per_s": round(group_docs / wall, 3) if wall > 0 else None,
                    "finished_ts": time.time(),
                },
            )
            processed.append(c)
    return processed
