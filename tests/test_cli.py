"""run_pipeline CLI: JSON config layering (CLI > config > defaults), stack
flag validation, and the names a trie-artifact run canonicalizes against."""

import json
import os

import pytest

import run_pipeline


def test_config_file_layering(tmp_path):
    cfg = tmp_path / "run.json"
    cfg.write_text(json.dumps({
        "input": "/data/pages",
        "output": "/data/out",
        "num_beams": 4,
        "lang": "de",
        "as_documents": True,
    }))
    # config supplies required values and defaults
    args = run_pipeline.parse_args(["--config", str(cfg)])
    assert args.input == "/data/pages" and args.output == "/data/out"
    assert args.num_beams == 4 and args.lang == "de" and args.as_documents

    # CLI overrides config
    args = run_pipeline.parse_args(
        ["--config", str(cfg), "--num-beams", "2", "--output", "/other"]
    )
    assert args.num_beams == 2 and args.output == "/other"
    assert args.input == "/data/pages"  # still from config


def test_config_rejects_unknown_keys(tmp_path):
    cfg = tmp_path / "bad.json"
    cfg.write_text(json.dumps({"input": "x", "output": "y", "typo_key": 1}))
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--config", str(cfg)])


def test_missing_required_still_errors():
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--input", "only-input"])


@pytest.mark.parametrize("extra", [
    ["--ent-trie", "e"],
    ["--rel-trie", "r"],
    ["--ent-trie", "e", "--rel-trie", "r", "--hf-checkpoint", "ckpt"],
    ["--ent-trie", "e", "--rel-trie", "r", "--ent-catalog", "c", "--rel-catalog", "d"],
])
def test_stack_flags_validated_at_parse_time(extra):
    """A lone trie flag, or trie artifacts combined with a stack or
    catalog they would silently override, is a usage error before any
    Spark work starts."""
    with pytest.raises(SystemExit):
        run_pipeline.parse_args(["--input", "i", "--output", "o", *extra])


def _run_main(argv):
    """run_pipeline.main() in-process on the test session (its stop() is
    neutered); returns the printed summary."""
    import sys
    from unittest import mock

    from pyspark.sql import SparkSession

    printed = []
    with mock.patch.object(sys, "argv", ["run_pipeline.py", *argv]), \
            mock.patch.object(SparkSession, "stop", lambda self: None), \
            mock.patch("builtins.print", lambda *a, **k: printed.append(a)):
        run_pipeline.main()
    return json.loads(printed[-1][0])


def test_trie_artifacts_canonicalize_against_their_names(spark, tmp_path):
    """A run decoding with --ent-trie/--rel-trie must link against the
    artifacts' own names: its graph equals a run given those names as
    --ent-catalog/--rel-catalog parquet."""
    from genie_spark import synth
    from genie_spark.pipeline import save_trie_artifacts

    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)
    save_trie_artifacts(ents, rels, str(tmp_path / "ent"), str(tmp_path / "rel"))
    for name, p, names in (("ent_cat", "Q", ents), ("rel_cat", "P", rels)):
        spark.createDataFrame(
            [(f"{p}{i}", n, "en_title") for i, n in enumerate(names)],
            ["id", "name", "provenance"],
        ).coalesce(1).write.parquet(str(tmp_path / name))
    synth.pages_df(spark, 12).write.parquet(str(tmp_path / "pages"))

    def graph(tag, flags):
        out = str(tmp_path / tag)
        summary = _run_main([
            "--input", str(tmp_path / "pages"), "--output", out,
            "--cpus", "0", "--n-chunks", "2", *flags,
        ])
        rows = spark.read.parquet(os.path.join(out, "graph")).collect()
        assert summary["graph_triples"] == len(rows)
        return sorted(tuple(sorted(r.asDict().items())) for r in rows)

    got = graph("tries", ["--ent-trie", str(tmp_path / "ent"),
                          "--rel-trie", str(tmp_path / "rel")])
    want = graph("catalog", ["--ent-catalog", str(tmp_path / "ent_cat"),
                             "--rel-catalog", str(tmp_path / "rel_cat")])
    assert want, "the catalog run must link some triples"
    assert any(" " in dict(r)["subj_name"] for r in want)
    assert got == want


def test_parquet_catalog_ids_reach_the_graph(spark, tmp_path):
    """--ent-catalog/--rel-catalog canonicalize against the parquet
    catalogs as read: the graph's ids are the catalogs' own, not
    positions in the name lists."""
    from genie_spark import synth

    ids = {}
    for name, p, names in (
        ("ent_cat", "Q", synth.unique_entity_names(synth.make_entities())),
        ("rel_cat", "P", sorted(synth.RELATIONS)),
    ):
        rows = [(f"{p}{1000 + i}", n, "en_label") for i, n in enumerate(names)]
        ids[p] = {n: i for i, n, _ in rows}
        spark.createDataFrame(rows, ["id", "name", "provenance"]).coalesce(1).write.parquet(
            str(tmp_path / name)
        )
    synth.pages_df(spark, 12).write.parquet(str(tmp_path / "pages"))
    out = str(tmp_path / "out")
    _run_main([
        "--input", str(tmp_path / "pages"), "--output", out, "--cpus", "0",
        "--n-chunks", "2", "--ent-catalog", str(tmp_path / "ent_cat"),
        "--rel-catalog", str(tmp_path / "rel_cat"),
    ])
    rows = spark.read.parquet(os.path.join(out, "graph")).collect()
    assert rows, "the catalog run must link some triples"
    for r in rows:
        assert (r["subj"], r["pred"], r["obj"]) == (
            ids["Q"][r["subj_name"]], ids["P"][r["pred_name"]], ids["Q"][r["obj_name"]]
        )
