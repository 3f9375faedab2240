"""Resumable checkpointing: kill-and-rerun must neither duplicate nor drop
chunks (SURVEY.md §5.2 resumability test)."""

import pytest
from pyspark.sql import functions as F

from genie_spark import synth
from genie_spark.checkpoint import (
    completed_chunks,
    lineage_df,
    run_checkpointed,
    with_chunk,
)
from genie_spark.pipeline import extract_pipeline

N_PAGES = 24
N_CHUNKS = 6


@pytest.fixture()
def process(spark):
    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)

    def fn(pages):
        return extract_pipeline(spark, pages, ents, rels)

    return fn


def test_chunk_assignment_is_data_only(spark):
    pages = synth.pages_df(spark, N_PAGES)
    a = {r["url"]: r["chunk"] for r in with_chunk(pages.repartition(2), n_chunks=N_CHUNKS).collect()}
    b = {r["url"]: r["chunk"] for r in with_chunk(pages.repartition(9), n_chunks=N_CHUNKS).collect()}
    assert a == b


def test_resume_no_dup_no_loss(spark, process, tmp_path):
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()

    # first invocation "dies" after one job group (2 chunk-groups of 2)
    done1 = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=2
    )
    assert len(done1) == N_CHUNKS
    # simulate partial completion: wipe lineage for the last group and rerun
    import os, glob

    lineage_files = sorted(glob.glob(os.path.join(out, "_lineage", "*.json")))
    victims = lineage_files[-2:]
    victim_chunks = [int(os.path.basename(v).split("_")[1].split(".")[0]) for v in victims]
    for v in victims:
        os.remove(v)
    # also remove their data (the atomic-commit contract: lineage record is
    # written only after data lands; a crash between leaves orphan data that
    # the resume overwrites via append + chunk filter on read)
    for c in victim_chunks:
        import shutil

        shutil.rmtree(os.path.join(out, "data", f"chunk={c}"), ignore_errors=True)

    done2 = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=2
    )
    assert sorted(done2) == sorted(victim_chunks)
    assert completed_chunks(spark, out) == list(range(N_CHUNKS))

    # final output: exactly one row per (url, sent_idx), nothing lost
    data = spark.read.parquet(os.path.join(out, "data"))
    got = data.groupBy("url", "sent_idx").count().filter(F.col("count") > 1).count()
    assert got == 0
    n_expected = (
        extract_pipeline(
            spark, pages,
            synth.unique_entity_names(synth.make_entities()),
            sorted(synth.RELATIONS),
        ).count()
    )
    assert data.count() == n_expected

    lin = lineage_df(spark, out)
    assert lin.count() == N_CHUNKS
    cols = set(lin.columns)
    assert {"chunk", "n_rows", "n_triples", "wall_s", "docs_per_s"} <= cols


def test_third_run_is_noop(spark, process, tmp_path):
    out = str(tmp_path / "graph_out2")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3)
    assert run_checkpointed(spark, pages, process, out, n_chunks=N_CHUNKS) == []


def test_orphaned_data_rolled_back_on_resume(spark, process, tmp_path):
    """A crash BETWEEN the data append and the lineage write leaves
    partition files with no commit record; resume must roll them back,
    not duplicate them (regression: observed 254 rows for a 193-row corpus
    after a SIGTERM mid-run)."""
    import os

    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()

    # simulate the crash: write one chunk's data WITHOUT its lineage record
    chunked = with_chunk(pages, n_chunks=N_CHUNKS)
    orphan = with_chunk(process(chunked.filter(F.col("chunk") == 0)), n_chunks=N_CHUNKS)
    orphan.write.mode("append").partitionBy("chunk").parquet(
        os.path.join(out, "data")
    )
    assert completed_chunks(spark, out) == []  # no commit record

    run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS
    )
    got = spark.read.parquet(os.path.join(out, "data"))
    n = got.count()
    n_distinct = got.select("url", "sent_idx").distinct().count()
    assert n == n_distinct, f"orphaned chunk data duplicated: {n} vs {n_distinct}"


def _dup_keys(data):
    return data.groupBy("url", "sent_idx").count().filter(F.col("count") > 1).count()


def test_lineage_tmp_files_are_not_commits(spark, process, tmp_path):
    """A crash inside _append_lineage leaves ``chunk_<k>.json.tmp`` —
    truncated, or complete but never renamed — beside the chunk's data.
    Neither is a commit: resume must redo both chunks, exactly once."""
    import os

    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS
    )
    n_rows = spark.read.parquet(os.path.join(out, "data")).count()
    lin = os.path.join(out, "_lineage")
    for c in (1, 4):
        assert os.path.exists(os.path.join(out, "data", f"chunk={c}"))
    record = open(os.path.join(lin, "chunk_1.json")).read()
    os.remove(os.path.join(lin, "chunk_1.json"))
    with open(os.path.join(lin, "chunk_1.json.tmp"), "w") as f:
        f.write(record[: len(record) // 2])
    os.replace(os.path.join(lin, "chunk_4.json"), os.path.join(lin, "chunk_4.json.tmp"))
    assert completed_chunks(spark, out) == [0, 2, 3, 5]
    assert lineage_df(spark, out).count() == N_CHUNKS - 2

    done = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS
    )
    assert sorted(done) == [1, 4]
    data = spark.read.parquet(os.path.join(out, "data"))
    assert _dup_keys(data) == 0
    assert data.count() == n_rows
    assert completed_chunks(spark, out) == list(range(N_CHUNKS))


def test_lineage_counts_are_per_chunk(spark, process, tmp_path):
    """Each record carries its own chunk's page count (not a group
    average), and n_rows/n_triples match the rows written under it. With
    more chunks than pages some chunks are empty; they still commit, at 0."""
    import os

    n_chunks = 40
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(spark, pages, process, out, n_chunks=n_chunks, chunks_per_job=16)

    per_chunk = with_chunk(pages, n_chunks=n_chunks).groupBy("chunk").count()
    want_docs = {r["chunk"]: r["count"] for r in per_chunk.collect()}
    data = spark.read.parquet(os.path.join(out, "data"))
    written = {
        r["chunk"]: (r["n"], r["t"])
        for r in data.groupBy("chunk")
        .agg(F.count("*").alias("n"), F.sum(F.size("pred_triples")).alias("t"))
        .collect()
    }
    recs = {r["chunk"]: r for r in lineage_df(spark, out).collect()}
    assert sorted(recs) == list(range(n_chunks))
    for c, r in recs.items():
        assert r["n_docs"] == want_docs.get(c, 0), c
        assert (r["n_rows"], r["n_triples"]) == written.get(c, (0, 0)), c
    assert sum(r["n_docs"] for r in recs.values()) == N_PAGES
    assert any(r["n_docs"] == 0 for r in recs.values())


@pytest.mark.parametrize("stamp", [None, N_CHUNKS + 3])
def test_run_checkpointed_owns_chunk_column(spark, process, tmp_path, stamp):
    """``process`` may return no ``chunk`` column, or one derived with a
    different n_chunks; either way every row lands under the chunk
    run_checkpointed assigned it."""
    import os

    fn = process if stamp is None else (
        lambda pages: with_chunk(process(pages), n_chunks=stamp)
    )
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    run_checkpointed(spark, pages, fn, out, n_chunks=N_CHUNKS, chunks_per_job=3)

    data = spark.read.parquet(os.path.join(out, "data"))
    assert data.count() > 0 and _dup_keys(data) == 0
    want = F.pmod(F.xxhash64("url"), F.lit(N_CHUNKS))
    assert data.filter(F.col("chunk") != want).count() == 0
    assert data.count() == lineage_df(spark, out).agg(F.sum("n_rows")).first()[0]


def test_group_with_no_extractable_pages_commits_empty(spark, process, tmp_path):
    """Pages that are all filtered out by the lang filter still commit
    their chunks, with n_rows == 0, instead of waiting forever on the
    write's observed metrics."""
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).withColumn("lang", F.lit("de"))
    done = run_checkpointed(
        spark, pages, process, out, n_chunks=N_CHUNKS, chunks_per_job=3
    )
    assert done == list(range(N_CHUNKS))
    recs = lineage_df(spark, out).collect()
    assert all(r["n_rows"] == 0 and r["n_triples"] == 0 for r in recs)
    assert sum(r["n_docs"] for r in recs) == N_PAGES


def test_group_commit_job_budget(spark, process, tmp_path):
    """G chunk groups fire at most 2G + 2 Spark jobs: one page count up
    front, then each group's extraction write — no per-group count and
    no read-back of the output."""
    out = str(tmp_path / "graph_out")
    pages = synth.pages_df(spark, N_PAGES).cache()
    pages.count()
    n_groups = 3
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-job-budget", "run_checkpointed job budget")
    try:
        run_checkpointed(
            spark, pages, process, out,
            n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS // n_groups,
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint-job-budget")
    assert 0 < len(jobs) <= 2 * n_groups + 2, len(jobs)


def test_decode_stage_runs_one_task_per_core(spark, process, tmp_path):
    """Each chunk group's decode stage launches exactly defaultParallelism
    tasks: one Python task per core. The pages are one parquet file, so
    the scan and count stages run one task each and the only multi-task
    stages are the G decode stages."""
    src = str(tmp_path / "pages")
    synth.pages_df(spark, N_PAGES).coalesce(1).write.parquet(src)
    n_groups = 3
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-decode-tasks", "run_checkpointed decode tasks")
    try:
        run_checkpointed(
            spark, spark.read.parquet(src), process, str(tmp_path / "graph_out"),
            n_chunks=N_CHUNKS, chunks_per_job=N_CHUNKS // n_groups,
        )
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    st = sc.statusTracker()
    stages = {
        s: st.getStageInfo(s)
        for j in st.getJobIdsForGroup("checkpoint-decode-tasks")
        for s in st.getJobInfo(j).stageIds
    }
    # a stage AQE already ran in an earlier job is listed again, skipped
    ran = [i.numTasks for _, i in sorted(stages.items()) if i and i.numCompletedTasks]
    assert [n for n in ran if n > 1] == [sc.defaultParallelism] * n_groups, ran
