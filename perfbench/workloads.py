"""The benchmark workloads.

Each workload builds its inputs before timing (``build``), sets itself up
in a fresh Spark session (``setup``: input/catalog load, extractor
broadcast, Python worker warm-up), then runs whole passes (``one_pass``)
through the public genie_spark APIs. ``check`` compares outputs with
independent references outside the timed window; ``layers`` runs the
per-layer measurements of a traced run.
"""

from __future__ import annotations

import os
import random
import shutil
from typing import Dict, List, Tuple

from pyspark.sql import functions as F

import decode_probe
import inputs
from genie_spark import synth
from genie_spark.canonicalize import materialize_graph, surface_to_id, write_graph
from genie_spark.checkpoint import run_checkpointed, with_chunk
from genie_spark.decode import generate_for_text, top_valid_prediction
from genie_spark.extract import sentences_df, split_sentences
from genie_spark.metrics import macro_metrics, micro_metrics
from genie_spark.pipeline import GenieExtractor, _worker_setup, default_stack_factory, extract_pipeline
from genie_spark.triples import parse_linearization

NUM_BEAMS = 2
N_CHUNKS, CHUNKS_PER_JOB, SALT_BUCKETS = 16, 4, 8

GRAPH_TIER = ("kg_pagerank", "kg_communities", "kg_two_hop")
OPERATOR_TIER = (
    "tfidf_top_terms", "bm25_topk", "line_dedup",
    "dedup_minhash_lsh", "dedup_incremental", "micro_prf",
)

# (full, tiny) sizes; tiny is the self-test's smoke size
SIZES = {
    "kg_pages": ({"pages": 400, "distractors": 5000, "check_urls": 8, "probe_sents": 40},
                 {"pages": 40, "distractors": 300, "check_urls": 3, "probe_sents": 5}),
    "registry": ({"orders": 2000, "docs": 600}, {"orders": 300, "docs": 120}),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _twin_rows(pages: List[dict], stack) -> Dict[Tuple[str, int], tuple]:
    """Pure-Python twin of the extraction: split → decode → parse."""
    tok, codes, ent, rel, scorer = stack
    out = {}
    for p in pages:
        for i, sent in enumerate(split_sentences(p["text"])):
            beams = generate_for_text(sent, scorer, tok, codes, ent, rel, num_beams=NUM_BEAMS)
            pred = top_valid_prediction(beams)
            out[(p["url"], i)] = (sent, pred, parse_linearization(pred or ""))
    return out


def _spark_rows(rows) -> Dict[Tuple[str, int], tuple]:
    return {
        (r["url"], r["sent_idx"]): (
            r["input"], r["prediction"], [(t["s"], t["r"], t["o"]) for t in r["pred_triples"]]
        )
        for r in rows
    }


class KgPages:
    """The paper pipeline end to end on a Wikidata-like catalog fan-out:
    checkpointed extraction → canonical graph written → micro/macro
    P/R/F1 against the pages' gold triples."""

    name = "kg_pages"

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work, self.seed = work, seed
        self.size = SIZES[self.name][1 if tiny else 0]
        self.passes = 0

    def build(self) -> None:
        self.pages_path = inputs.write_pages(
            os.path.join(self.work, "inputs", "pages.parquet"), self.size["pages"], self.seed
        )
        self.docs = self.size["pages"]
        self.catalog = inputs.large_catalog(self.size["distractors"], self.seed)
        rng = random.Random(self.seed)
        self.en_pages = [p for p in synth.pages_local(self.docs, self.seed) if p["lang"] == "en"]
        self.check_pages = rng.sample(self.en_pages, min(self.size["check_urls"], len(self.en_pages)))
        sents = [s for p in self.en_pages for s in split_sentences(p["text"])]
        self.n_sentences = len(sents)
        self.probe_sents = rng.sample(sents, min(self.size["probe_sents"], len(sents)))

    def setup(self, spark) -> None:
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.pages = spark.read.parquet(self.pages_path)
        self.pages.count()
        # canonicalize links against the synth catalog, the names the
        # pages mention; a decoded distractor stays unlinked (link_ratio)
        self.ent_cat, self.rel_cat = synth.catalogs_df(spark)
        self.extractor = GenieExtractor(
            spark, self.catalog["ents"], self.catalog["rels"], num_beams=NUM_BEAMS
        )
        bc = self.extractor._bc

        def warm(batches):
            _worker_setup(bc.value)
            yield from batches

        _noop(spark.range(0, self.cores, 1, self.cores).mapInPandas(warm, "id long"))

    def extract(self, pages):
        return extract_pipeline(
            self.spark, pages, self.catalog["ents"], self.catalog["rels"], extractor=self.extractor
        )

    def one_pass(self, tracer) -> None:
        # a fresh output directory per pass (a reused one would make
        # run_checkpointed resume instead of extracting); only the last
        # pass's output is kept, for check() and layers()
        shutil.rmtree(os.path.join(self.work, f"pass{self.passes}"), ignore_errors=True)
        self.passes += 1
        out = self.out = os.path.join(self.work, f"pass{self.passes}")
        spark = self.spark
        with tracer.span("kg.pass"):
            pages = spark.read.parquet(self.pages_path)
            with tracer.span("checkpoint"):
                run_checkpointed(
                    spark, pages,
                    lambda df: with_chunk(self.extract(df), n_chunks=N_CHUNKS),
                    os.path.join(out, "extracted"), n_chunks=N_CHUNKS, chunks_per_job=CHUNKS_PER_JOB,
                )
            extracted = spark.read.parquet(os.path.join(out, "extracted", "data"))
            with tracer.span("canonicalize"):
                graph = materialize_graph(extracted, self.ent_cat, self.rel_cat, salt_buckets=SALT_BUCKETS)
                write_graph(graph, os.path.join(out, "graph"), mode="overwrite")
            with tracer.span("metrics"):
                ev = self.eval_frame(pages, extracted)
                self.micro = micro_metrics(ev).collect()[0]
                self.macro = macro_metrics(ev).collect()[0]

    @staticmethod
    def eval_frame(pages, extracted):
        gold = pages.filter(F.col("lang") == "en").select("url", F.col("gold").alias("target"))
        pred = extracted.groupBy("url").agg(
            F.array_distinct(F.flatten(F.collect_list("pred_triples"))).alias("pred")
        )
        empty = F.array().cast("array<struct<s:string,r:string,o:string>>")
        return gold.join(pred, "url", "left").select(
            "url", F.coalesce("pred", empty).alias("pred"), "target"
        )

    def check(self) -> Tuple[int, int, List[str]]:
        spark = self.spark
        urls = [p["url"] for p in self.check_pages]
        rows = (
            spark.read.parquet(os.path.join(self.out, "extracted", "data"))
            .filter(F.col("url").isin(urls))
            .select("url", "sent_idx", "input", "prediction", "pred_triples")
            .collect()
        )
        # one check per sampled url: every sentence's input, prediction and
        # parsed triples must equal the pure-Python twin's
        payload = {"ent_names": sorted(set(self.catalog["ents"])), "rel_names": sorted(set(self.catalog["rels"]))}
        twin = _twin_rows(self.check_pages, default_stack_factory(payload))
        got = _spark_rows(rows)
        failed, notes = 0, []
        for u in urls:
            if {k: v for k, v in twin.items() if k[0] == u} != {k: v for k, v in got.items() if k[0] == u}:
                failed += 1
                notes.append(f"spark rows differ from the twin for {u}")
        attempted = len(urls)
        ent_ids = {e["id"] for e in synth.make_entities()}
        rel_ids = {r["id"] for r in synth.make_relations()}
        g = spark.read.parquet(os.path.join(self.out, "graph"))
        n_rows = g.count()
        graph_checks = {
            "duplicate (subj,pred,obj) rows": g.select("subj", "pred", "obj").distinct().count() != n_rows,
            "ids outside the catalog": bool(
                {r["subj"] for r in g.select("subj").distinct().collect()} - ent_ids
                or {r["obj"] for r in g.select("obj").distinct().collect()} - ent_ids
                or {r["pred"] for r in g.select("pred").distinct().collect()} - rel_ids
            ),
            "n_sources < 1": g.filter(F.col("n_sources") < 1).count() > 0,
            "empty graph": n_rows == 0,
            "n_target differs from the gold count": self.micro["n_target"]
            != sum(len({(t["s"], t["r"], t["o"]) for t in p["gold"]}) for p in self.en_pages),
            "f1 outside [0, 1]": not (0.0 <= self.micro["f1"] <= 1.0 and 0.0 <= self.macro["macro_f1"] <= 1.0),
        }
        for what, bad in graph_checks.items():
            attempted += 1
            if bad:
                failed += 1
                notes.append(what)
        return attempted, failed, notes

    def layers(self, tracer) -> Dict[str, float]:
        """Each layer timed from outside by materializing its output."""
        spark = self.spark
        en = self.pages.filter(F.col("lang") == "en")
        sents = sentences_df(en, text_col="text").select("url", "warc_ts", "sent_idx", "input")
        with tracer.span("extract.split"):
            _noop(sents)
        with tracer.span("pipeline.extract"):
            _noop(self.extract(self.pages))
        out_schema = self.extractor.transform(sents).drop("pred_triples").schema

        def identity(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["beams"] = [[] for _ in range(len(pdf))]
                pdf["prediction"] = None
                yield pdf

        # the Arrow boundary alone: the same rows and partitioning through
        # a mapInPandas with the extractor's output schema, no decode
        with tracer.span("pipeline.arrow"):
            _noop(sents.repartition(2 * self.cores, "url", "sent_idx").mapInPandas(identity, out_schema))
        with tracer.span("decode.probe"):
            m = decode_probe.run(self.probe_sents, self.catalog["ents"], self.catalog["rels"], NUM_BEAMS)
        # decode cost of the whole input with every core decoding in
        # parallel, as a share of the measured Spark extraction
        projected = m.pop("decode.plain_s") / len(self.probe_sents) * self.n_sentences / self.cores
        m["decode.extract_share"] = projected / tracer.seconds("pipeline.extract")
        bc_path = self.extractor._bc._path
        extracted = spark.read.parquet(os.path.join(self.out, "extracted", "data"))
        with tracer.span("canonicalize.materialize"):
            _noop(materialize_graph(extracted, self.ent_cat, self.rel_cat, salt_buckets=SALT_BUCKETS))
        flat = extracted.select("url", F.explode("pred_triples").alias("t")).select("url", "t.s", "t.r", "t.o")
        n_pred = flat.count()
        n_linked = surface_to_id(flat, self.ent_cat, self.rel_cat).count()
        ck_dir = os.path.join(self.out, "extracted")
        m.update(
            {
                "extract.split_s": tracer.seconds("extract.split"),
                "extract.sentences": float(sents.count()),
                "pipeline.extract_s": tracer.seconds("pipeline.extract"),
                "pipeline.arrow_s": tracer.seconds("pipeline.arrow"),
                "pipeline.broadcast_bytes": float(os.path.getsize(bc_path)),
                "checkpoint.commit_s": tracer.seconds("checkpoint") - tracer.seconds("pipeline.extract"),
                "checkpoint.bytes_written": float(
                    sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ck_dir) for f in fs)
                ),
                "canonicalize.materialize_s": tracer.seconds("canonicalize.materialize"),
                "canonicalize.write_s": tracer.seconds("canonicalize"),
                "canonicalize.link_ratio": n_linked / n_pred if n_pred else 0.0,
                "canonicalize.graph_rows": float(spark.read.parquet(os.path.join(self.out, "graph")).count()),
                "metrics.eval_s": tracer.seconds("metrics"),
            }
        )
        return m

    @staticmethod
    def from_log(folded) -> Dict[str, float]:
        return {
            "checkpoint.jobs": float(folded.get("checkpoint", {}).get("jobs", 0)),
            "canonicalize.shuffle_bytes": float(folded.get("canonicalize", {}).get("shuffle_bytes", 0)),
        }


class Registry:
    """Fixed registry queries over seeded TPC-H-like tables, each result
    checked against its DuckDB oracle. No decode runs here."""

    name = "registry"
    queries = GRAPH_TIER + OPERATOR_TIER

    def __init__(self, work: str, seed: int, tiny: bool):
        self.work, self.seed = work, seed
        self.size = SIZES[self.name][1 if tiny else 0]
        self.dir = os.path.join(work, "inputs")

    def build(self) -> None:
        inputs.write_registry_tables(self.dir, self.seed, self.size["orders"], self.size["docs"])
        self.docs = self.size["docs"]

    def setup(self, spark) -> None:
        self.spark = spark
        for name in ("lineitem", "supplier", "nation", "documents"):
            spark.read.parquet(os.path.join(self.dir, f"{name}.parquet")).count()

    def one_pass(self, tracer) -> None:
        """Collect is the sink: results are a few thousand rows at most,
        and the collected rows are what check() compares."""
        from genie_spark.entry_queries import QUERIES

        self.results = {}
        with tracer.span("registry.pass"):
            for tier, names in (("registry.graph_tier", GRAPH_TIER), ("registry.operator_tier", OPERATOR_TIER)):
                with tracer.span(tier):
                    for q in names:
                        with tracer.span(f"registry.{q}"):
                            df = QUERIES[q](self.spark, self.dir)
                            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])

    def check(self) -> Tuple[int, int, List[str]]:
        """Each query's normalized row hash must equal DuckDB's over the
        same Parquet files running the query's oracle SQL."""
        import duckdb

        from correctness_local import _canon, _hash
        from genie_spark.entry_queries import ORACLES

        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.path.join(self.work, 'duckdb_tmp')}'")
        # planning the unrolled PageRank CTE chain costs DuckDB's optimizer
        # ~6 s at any input size; unoptimized plans give the same rows
        con.sql("PRAGMA disable_optimizer")
        for name in ("lineitem", "supplier", "nation", "documents"):
            path = os.path.join(self.dir, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        failed, notes = 0, []
        for q in self.queries:
            cols, rows = self.results[q]
            rel = con.sql(ORACLES[q])
            d_rows = rel.fetchall()
            same = _hash(_canon(cols, rows)) == _hash(_canon(rel.columns, d_rows))
            if not same or not rows:
                failed += 1
                notes.append(f"{q}: spark {len(rows)} rows vs oracle {len(d_rows)}, hash match {same}")
        con.close()
        return len(self.queries), failed, notes

    def layers(self, tracer) -> Dict[str, float]:
        m = {
            "registry.graph_tier_s": tracer.seconds("registry.graph_tier"),
            "registry.operator_tier_s": tracer.seconds("registry.operator_tier"),
        }
        for q in self.queries:
            m[f"registry.{q}.s"] = tracer.seconds(f"registry.{q}")
        return m

    @staticmethod
    def from_log(folded) -> Dict[str, float]:
        m = {}
        for q in Registry.queries:
            rec = folded.get(f"registry.{q}", {})
            for key in ("jobs", "tasks", "serial_stages", "shuffle_bytes"):
                m[f"registry.{q}.{key}"] = float(rec.get(key, 0))
        return m


WORKLOADS = {w.name: w for w in (KgPages, Registry)}
