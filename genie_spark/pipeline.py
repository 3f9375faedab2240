"""The Spark generation operator and the end-to-end extraction pipeline.

This is the Spark-native counterpart of the reference's flagship entry
point (reference: genie/evaluate.py:33-66 driving
genie/models/genie_base_pl.py:194-248): scan → filter → sentence split →
batched constrained generation → parse → triples. Everything relational is
declarative DataFrame API (Catalyst plans it); Python appears exactly once,
in the Arrow-batched ``mapInPandas`` generation stage — per the
BASELINE.json input_hint ("vectorized pandas/Arrow UDFs, no per-row
Python" at the API boundary).

Scale design (100 TB / 1000 executors):

* The broadcast (``sc.broadcast``, one copy per executor JVM) carries
  the sorted entity/relation names and one picklable stack factory, not
  the built stack. Each reused Python worker builds the tokenizer and both
  tries from those names on first use (reference loads the pickled trie
  per process: genie/models/genie_base_pl.py:92-94); names compress well
  and the build is deterministic. With preloaded S10 artifacts
  (:func:`load_trie_artifacts`) the factory itself carries the FlatTrie
  CSR arrays, so the ~6M-name trie ships as a few hundred MB of numpy
  buffers and workers skip the build.
* Generation is embarrassingly parallel per sentence — no cross-row
  state — so output is invariant to partitioning (the two-cluster-size
  determinism invariant) and the stage scales linearly until the scan or
  the downstream canonicalize shuffle dominates.
* ``repartition`` to default parallelism (one decode task per core)
  before the generation stage. Every Python task has a fixed cost
  (measured ~0.3 CPU-s, mostly pyspark's per-task import-cache reset),
  so extra tasks buy no balance: at scale the hash partitioning on
  (url, sent_idx) already spreads each task's rows evenly.
* Per-executor init (trie build, scorer construction) happens once per
  Python worker via a module-level cache keyed by content: the name
  counts, an md5 over the full catalog and an md5 of the pickled stack
  factory — the same trick as the reference's once-per-run tag-id
  precompute (ie_prefix_constraints.py:94-134), not once per batch.
"""

from __future__ import annotations

import hashlib
import pickle
from functools import partial
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .constraints import TagCodes
from .decode import DeterministicScorer, generate_for_text, top_valid_prediction
from .extract import sentences_df
from .tokenizer import WordTokenizer
from .trie import FlatTrie, trie_from_names
from .triples import parse_triples_col

BEAM_SCHEMA = ArrayType(
    StructType(
        [
            StructField("text", StringType()),
            StructField("log_prob", DoubleType()),
        ]
    )
)

# per-Python-worker cache: cache_key → (tokenizer, codes, ent_trie,
# rel_trie, scorer). Survives across tasks when spark.python.worker.reuse
# is on (default), so the decode machinery is built once per worker.
_WORKER_CACHE: dict = {}


def default_stack_factory(payload: dict, scorer=DeterministicScorer, tries=None):
    """Build the decode stack in WordTokenizer space (the sandbox/oracle
    path). ``scorer`` is a ``tokenizer -> scorer`` callable — bind another
    one with ``functools.partial`` (reference analog: the model object
    handed to evaluate.py:35-66 is the scorer). ``tries`` is a preloaded
    (entity, relation) FlatTrie pair built over the same names
    (:func:`load_trie_artifacts`), so workers skip the trie build."""
    tok = WordTokenizer(payload["ent_names"] + payload["rel_names"])
    if tries is None:
        tries = (
            trie_from_names(payload["ent_names"], tok),
            trie_from_names(payload["rel_names"], tok),
        )
    return (tok, TagCodes(tok), *tries, scorer(tok))


def hf_stack_factory(payload: dict, checkpoint: str, device: str = "cuda"):
    """Build the decode stack in the HF checkpoint's OWN id space — the
    production path (reference flagship: model.sample,
    genie_base_pl.py:435-555, with tag ids derived from the model's BART
    tokenizer, ie_prefix_constraints.py:94-131). The tokenizer adapter
    derives TagCodes from the checkpoint's tokenizer and the tries are
    re-encoded through it, so constraint masks, beam tokens, and
    decoder_input_ids all live in one id space. Ship it as
    ``partial(hf_stack_factory, checkpoint=..., device=...)``. Raises
    NotImplementedError without torch/transformers — the wiring is
    exercised by the fake-BPE adapter tests."""
    from .decode import HFSeq2SeqScorer
    from .hf_adapter import HFTokenizerAdapter

    scorer = HFSeq2SeqScorer(checkpoint, device=device)
    tok = HFTokenizerAdapter(scorer.tokenizer)
    codes = TagCodes(tok)
    ent = trie_from_names(payload["ent_names"], tok)
    rel = trie_from_names(payload["rel_names"], tok)
    return tok, codes, ent, rel, scorer


def _worker_setup(payload: dict):
    key = payload["cache_key"]
    hit = _WORKER_CACHE.get(key)
    if hit is not None:
        return hit
    stack = payload["stack_factory"](payload)
    _WORKER_CACHE.clear()  # one active schema per worker; avoid leaks
    _WORKER_CACHE[key] = stack
    return _WORKER_CACHE[key]


def save_trie_artifacts(
    ent_names: List[str],
    rel_names: List[str],
    ent_path: str,
    rel_path: str,
) -> None:
    """S10 (reference trie.py:65-77): persist both catalog tries (+ the
    companion original-strings jsonl) as reloadable artifacts. Both tries
    MUST be saved together: token ids come from the tokenizer built over
    the ent+rel name union, so artifacts from different unions cannot be
    mixed — :func:`load_trie_artifacts` reloads the pair and workers
    rebuild that same tokenizer from the companion names."""
    ents = sorted(set(ent_names))
    rels = sorted(set(rel_names))
    tok = WordTokenizer(ents + rels)
    trie_from_names(ents, tok).save(ent_path, names=ents)
    trie_from_names(rels, tok).save(rel_path, names=rels)


def load_trie_artifacts(ent_path: str, rel_path: str):
    """Reload a :func:`save_trie_artifacts` pair →
    ``(ent_names, rel_names, stack_factory)``. The names come from the
    companion jsonl; the factory carries the CSR arrays in the broadcast,
    so workers skip the trie build. Pass all three to GenieExtractor, and
    canonicalize against the same names."""
    tries = (FlatTrie.load(ent_path), FlatTrie.load(rel_path))
    return (
        FlatTrie.load_names(ent_path),
        FlatTrie.load_names(rel_path),
        partial(default_stack_factory, tries=tries),
    )


class GenieExtractor:
    """Closed-world constrained triple generation as a DataFrame transform.

    Public API analog of the reference's ``model.sample``
    (genie_base_pl.py:435-555), lifted to DataFrames:
    ``transform(df)`` consumes a column of input texts and appends
    ``beams: array<struct<text,log_prob>>`` plus the top-valid
    ``prediction`` string and parsed ``pred_triples``.
    """

    def __init__(
        self,
        spark: SparkSession,
        ent_names: List[str],
        rel_names: List[str],
        num_beams: int = 2,
        max_length: int = 96,
        length_penalty: float = 0.0,
        bos_first: bool = False,
        num_return_sequences: Optional[int] = None,
        stack_factory=default_stack_factory,
        constrained: bool = True,
    ):
        """``constrained=False`` switches to FREE generation — the
        reference's ``free_generation=true`` run mode (genie_base_pl.py:
        92-94: tries only load when constrained and model.sample runs
        without a constraint fn; genie_base_hf.py:1-36 is that baseline).
        The decode stack (tokenizer/scorer) is identical; only the
        per-step allowed set changes to the full non-special vocabulary,
        so output need not be well-formed and names need not be catalog
        entries.

        ``stack_factory`` is the one way to choose the decode stack: a
        picklable ``payload -> (tok, codes, ent_trie, rel_trie, scorer)``
        callable, built once per executor Python worker from the broadcast
        names. It must be a module-level function or a
        ``functools.partial`` of one:

        * ``default_stack_factory`` (default) — DeterministicScorer over
          WordTokenizer (the oracle path);
          ``partial(default_stack_factory, scorer=UniformScorer)`` swaps
          the scorer.
        * the factory from :func:`load_trie_artifacts` — preloaded S10
          tries; pass the names it returns as well.
        * ``partial(hf_stack_factory, checkpoint=..., device=...)`` — the
          production path: each worker loads the HF seq2seq checkpoint
          and builds the WHOLE stack (TagCodes, tries, beams) in that
          model's tokenizer id space via hf_adapter.HFTokenizerAdapter,
          matching the reference's model.sample flagship
          (genie_base_pl.py:435-555).
        * ``toy_bpe.toy_bpe_stack_factory`` — the executable reference
          for the HF adapter contract.
        """
        self.num_beams = num_beams
        self.max_length = max_length
        # search width vs returned beams (reference hf_generation_params:
        # num_beams=10, num_return_sequences=2); None = return all beams
        self.num_return_sequences = num_return_sequences
        # reference decode-parity knobs (default.yaml:9 length_penalty=1.0,
        # ie_prefix_constraints.py:183-184 BOS forcing); defaults keep the
        # deterministic-scorer golden outputs unchanged
        self.length_penalty = length_penalty
        self.bos_first = bos_first
        self.constrained = constrained
        # sort for build determinism (reference trie.py:36)
        payload = {
            "ent_names": sorted(set(ent_names)),
            "rel_names": sorted(set(rel_names)),
            "stack_factory": stack_factory,
        }
        # Hash the FULL name lists: a catalog refresh that preserves counts
        # and the first-N sorted names must still produce a distinct key, or
        # a reused Python worker would serve stale tries (silent wrong
        # triples). One md5 over the joined byte string is microseconds even
        # at ~6M names, and — unlike Python's salted hash() — stable across
        # driver processes.
        catalog_digest = hashlib.md5()
        for name in payload["ent_names"]:
            catalog_digest.update(name.encode("utf-8", "surrogatepass"))
            catalog_digest.update(b"\x1f")
        catalog_digest.update(b"\x1e")
        for name in payload["rel_names"]:
            catalog_digest.update(name.encode("utf-8", "surrogatepass"))
            catalog_digest.update(b"\x1f")
        # the key must also separate stacks that share a catalog but differ
        # in factory or its bound arguments (scorer, checkpoint, tries), or
        # worker reuse would serve the wrong stack; the broadcast pickles
        # the factory anyway, so its pickle is the stack's identity
        stack_id = hashlib.md5(pickle.dumps(stack_factory)).hexdigest()
        payload["cache_key"] = (
            len(payload["ent_names"]),
            len(payload["rel_names"]),
            catalog_digest.hexdigest(),
            stack_id,
        )
        self._bc = spark.sparkContext.broadcast(payload)

    def transform(self, df: DataFrame, text_col: str = "input") -> DataFrame:
        """df(..., text_col) → df + beams + prediction + pred_triples."""
        bc = self._bc
        num_beams, max_length = self.num_beams, self.max_length
        length_penalty, bos_first = self.length_penalty, self.bos_first
        n_ret = self.num_return_sequences
        constrained = self.constrained
        out_schema = StructType(
            df.schema.fields
            + [
                StructField("beams", BEAM_SCHEMA),
                StructField("prediction", StringType()),
            ]
        )
        in_cols = [f.name for f in df.schema.fields]

        def gen(batches: Iterator) -> Iterator:
            import pandas as pd

            tok, codes, ent, rel, scorer = _worker_setup(bc.value)
            if constrained:
                fv = None
            else:
                from .decode import free_vocab_ids

                # free mode: tries are ignored, allowed set = full vocab
                # (built once per worker, shared across rows)
                ent = rel = None
                fv = free_vocab_ids(tok)
            for pdf in batches:
                beams_col, pred_col = [], []
                for text in pdf[text_col]:
                    beams = generate_for_text(
                        text, scorer, tok, codes, ent, rel,
                        num_beams=num_beams, max_length=max_length,
                        length_penalty=length_penalty, bos_first=bos_first,
                        num_return_sequences=n_ret, free_vocab=fv,
                    )
                    beams_col.append(
                        [(b["text"], float(b["log_prob"])) for b in beams]
                    )
                    pred_col.append(top_valid_prediction(beams))
                out = pdf[in_cols].copy()
                out["beams"] = beams_col
                out["prediction"] = pred_col
                yield out

        result = df.mapInPandas(gen, out_schema)
        return result.withColumn(
            "pred_triples", parse_triples_col(F.coalesce(F.col("prediction"), F.lit("")))
        )

    def score_targets(
        self,
        df: DataFrame,
        text_col: str = "input",
        target_col: str = "prediction",
        epsilon: float = 0.1,
    ) -> DataFrame:
        """A9 — forced target scoring as a DataFrame transform (reference:
        label-smoothed NLL in validation_step, genie_base_pl.py:168-192 /
        utils.py:6-54, lifted out of torch into the scorer protocol).
        Appends nll_sum, smooth_sum, n_tokens, loss (per-token,
        label-smoothed) for each row's target linearization — NULL target
        rows get NULL scores. Row-local like generation: no cross-row
        state, partition-invariant, same broadcast stack and per-worker
        cache as transform()."""
        from pyspark.sql.types import IntegerType

        bc = self._bc
        out_schema = StructType(
            df.schema.fields
            + [
                StructField("nll_sum", DoubleType()),
                StructField("smooth_sum", DoubleType()),
                StructField("n_tokens", IntegerType()),
                StructField("loss", DoubleType()),
            ]
        )
        in_cols = [f.name for f in df.schema.fields]

        def score(batches: Iterator) -> Iterator:
            from .decode import sequence_nll

            tok, codes, ent, rel, scorer = _worker_setup(bc.value)
            eos = tok.eos_token_id
            for pdf in batches:
                nlls, smooths, ns, losses = [], [], [], []
                for text, target in zip(pdf[text_col], pdf[target_col]):
                    if target is None:
                        nlls.append(None); smooths.append(None)
                        ns.append(None); losses.append(None)
                        continue
                    ids = tok.encode_pieces(target) + [eos]
                    nll, smooth, n, loss = sequence_nll(
                        text, ids, scorer, tok, codes, ent, rel, epsilon=epsilon
                    )
                    nlls.append(nll); smooths.append(smooth)
                    ns.append(n); losses.append(loss)
                out = pdf[in_cols].copy()
                out["nll_sum"] = nlls
                out["smooth_sum"] = smooths
                out["n_tokens"] = ns
                out["loss"] = losses
                yield out

        return df.mapInPandas(score, out_schema)


def extract_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    ent_names: List[str],
    rel_names: List[str],
    lang: Optional[str] = "en",
    num_beams: int = 2,
    extractor: Optional[GenieExtractor] = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, …) → one row per sentence with
    extracted triples: (url, sent_idx, input, beams, prediction,
    pred_triples).

    Plan shape: scan → lang filter (pushed to the parquet/Iceberg scan by
    Catalyst) → JVM-side sentence split (no Python) → hash repartition on
    (url, sent_idx) to the cluster's default parallelism → mapInPandas
    generation → JVM-side parse. The repartition is unconditional: the
    generation stage is compute-bound, so inheriting a small file count
    single-threads the decode (measured: a 1-partition scan pinned
    throughput at one worker regardless of local[8] vs local[32]). One
    task per core, not more: each Python task costs ~0.3 CPU-s of fixed
    overhead, and the hash on (url, sent_idx) already balances the rows.
    """
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    sents = sentences_df(pages, text_col="text").select(
        "url", "warc_ts", "sent_idx", "input"
    )
    sents = sents.repartition(
        spark.sparkContext.defaultParallelism, "url", "sent_idx"
    )
    ex = extractor or GenieExtractor(spark, ent_names, rel_names, num_beams=num_beams)
    return ex.transform(sents)
