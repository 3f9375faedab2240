"""HF-tokenizer-adapter + pluggable-scorer tests.

This sandbox has no torch/transformers, so the production HF path is
exercised with a deterministic fake BPE tokenizer that reproduces the
structural properties the adapter contract depends on (multi-piece
subword splits, leading-space 'Ġ' marker, BART-style special ids, tags
splitting as [Ġ<, tag, >]). What IS fully tested here:

* the reference's tag-id derivation contract (encode " <tag>", equal
  lengths, shared start/end ids — ie_prefix_constraints.py:94-131),
  including rejection of tokenizers that violate it;
* the leading-space trie recipe (trie.py:25-36) through the adapter;
* end-to-end constrained beam search in a NON-WordTokenizer id space —
  multi-piece names walked through the trie cursor, EOS→'<' swap,
  grammar well-formedness, catalog closure of every emitted name;
* stack_factory plumbing: a non-default scorer bound into
  default_stack_factory reaches the executors through GenieExtractor's
  broadcast (mapInPandas output matches the single-process twin of that
  scorer and differs from the default scorer's output);
* the HF stack's contract (construction, std-pickle payload,
  distinct cache keys) up to the import guard that stops it here.
"""

import pickle
import re
from functools import partial

import pytest
from pyspark.sql import functions as F

from genie_spark.constraints import TagCodes
from genie_spark.decode import (
    INVALID_LOG_PROB,
    DeterministicScorer,
    UniformScorer,
    generate_for_text,
    top_valid_prediction,
)
from genie_spark.hf_adapter import HFTokenizerAdapter, TagIdContractError
from genie_spark.tokenizer import WordTokenizer
from genie_spark.trie import trie_from_names
from genie_spark.triples import parse_linearization


# The fake tokenizer now lives in the library as the executable
# reference for the adapter contract (usable on executors); tests keep
# the old name.
from genie_spark.toy_bpe import ToyBPETokenizer as FakeBPETokenizer  # noqa: E402


ENTS = ["Albert Einstein", "Zurich", "Mileva Maric", "Switzerland", "photon"]
RELS = ["birthplace", "spouse", "country"]


@pytest.fixture(scope="module")
def adapter():
    return HFTokenizerAdapter(FakeBPETokenizer(ENTS + RELS))


def test_adapter_tag_contract(adapter):
    """Tag triplet derivation per the reference asserts: shared '<'/'>'
    ids, four distinct content ids, and ids distinct from specials."""
    lt, gt = adapter.piece2id["<"], adapter.piece2id[">"]
    tags = [adapter.piece2id[w] for w in ("sub", "rel", "obj", "et")]
    assert len(set(tags)) == 4
    assert lt not in tags and gt not in tags and lt != gt
    assert min([lt, gt, *tags]) >= 4  # no collision with special ids
    # " <sub>" must encode to exactly [bos, lt, sub, gt, eos]
    ids = adapter._ids(" <sub>")
    assert ids == [
        adapter.bos_token_id, lt, adapter.piece2id["sub"], gt,
        adapter.eos_token_id,
    ]


def test_adapter_rejects_tag_splitting_tokenizer():
    """A tokenizer that chunks tag words into multiple pieces violates
    the contract and must be rejected loudly, not mis-derive ids."""

    class TwoCharBPE(FakeBPETokenizer):
        def _pieces(self, text):
            out = []
            for m in self._SPLIT.finditer(text):
                t = m.group()
                marked = t.startswith(" ")
                w = t.lstrip(" ")
                if w in ("<", ">"):
                    out.append(("Ġ" if marked else "") + w)
                    continue
                for i in range(0, len(w), 2):  # 'sub' → ['su', 'b']
                    out.append(("Ġ" if marked and i == 0 else "") + w[i : i + 2])
            return out

    with pytest.raises(TagIdContractError):
        HFTokenizerAdapter(TwoCharBPE(ENTS + RELS))


def test_adapter_trie_recipe(adapter):
    """encode(name)[1:] must equal the reference recipe: ids of
    ' ' + name with BOS stripped and the trailing EOS kept
    (trie.py:25-36) — multi-piece names included."""
    hf = adapter.hf
    for name in ENTS + RELS:
        expect = hf(" " + name)["input_ids"][1:]
        assert adapter.encode(name)[1:] == expect
        assert expect[-1] == adapter.eos_token_id
    # multi-piece check: a long name really is several pieces
    assert len(adapter.encode_pieces("Albert Einstein")) >= 4


class GrammarMockScorer:
    """Deterministic pseudo-random logits over the allowed set — no
    knowledge of the id space, so any grammar violation would surface."""

    def context(self, text):
        import zlib

        return zlib.crc32(text.encode())

    def advance(self, ctx, ptr, token):
        return ptr

    def score(self, ctx, tokens, state, allowed, ptr=None):
        import zlib

        step = len(tokens)
        return [
            (zlib.crc32(b"%d|%d|%d" % (ctx, step, t)) % 997) / 100.0
            for t in allowed
        ]


def test_constrained_beam_search_in_bpe_space(adapter):
    """Full decode loop in the fake-BPE id space: every finished beam is
    a well-formed linearization whose subject/object are catalog entities
    and whose relation is a catalog relation — proving TagCodes, the
    multi-piece trie cursor, and the EOS→'<' swap all operate in the
    model tokenizer's id space (the contract the HF path relies on)."""
    codes = TagCodes(adapter)
    ent_t = trie_from_names(ENTS, adapter)
    rel_t = trie_from_names(RELS, adapter)
    scorer = GrammarMockScorer()
    n_finished = 0
    for text in [
        "Albert Einstein was born in Zurich.",
        "the photon paper",
        "Mileva Maric married Albert Einstein in Switzerland",
    ]:
        beams = generate_for_text(
            text, scorer, adapter, codes, ent_t, rel_t,
            num_beams=3, max_length=64,
        )
        assert beams
        for b in beams:
            if b["log_prob"] <= INVALID_LOG_PROB:
                continue
            if b["text"] == "":
                continue  # legal zero-triple stop (EOS in status OB)
            n_finished += 1
            triples = parse_linearization(b["text"])
            assert triples, b["text"]
            for s, r, o in triples:
                assert s in ENTS and o in ENTS, (s, o)
                assert r in RELS, r
    assert n_finished >= 3


def test_bos_first_in_bpe_space(adapter):
    """bos_first forces the adapter's BOS id as the first generated token
    (reference bos_as_first_token_generated)."""
    codes = TagCodes(adapter)
    ent_t = trie_from_names(ENTS, adapter)
    rel_t = trie_from_names(RELS, adapter)
    from genie_spark.constraints import DecodeState

    st = DecodeState(codes, ent_t, rel_t, bos_first=True)
    assert st.allowed() == [adapter.bos_token_id]
    st.push(adapter.bos_token_id)
    assert st.allowed() == [codes.lt, codes.eos]


# ---------------------------------------------------------------------------
# stack_factory plumbing through the distributed pipeline
# ---------------------------------------------------------------------------


def _driver_twin(texts, ents, rels, scorer_cls):
    ents, rels = sorted(set(ents)), sorted(set(rels))
    tok = WordTokenizer(ents + rels)
    codes = TagCodes(tok)
    ent_t, rel_t = trie_from_names(ents, tok), trie_from_names(rels, tok)
    scorer = scorer_cls(tok)
    return {
        t: top_valid_prediction(
            generate_for_text(t, scorer, tok, codes, ent_t, rel_t, num_beams=2)
        )
        for t in texts
    }


def test_scorer_factory_reaches_executors(spark):
    """GenieExtractor(stack_factory=partial(default_stack_factory,
    scorer=UniformScorer)) must build the injected scorer on the
    executors: pipeline output matches the
    driver-side UniformScorer twin and differs from the default
    DeterministicScorer output (so the selection demonstrably took
    effect), while the default path's goldens stay covered by
    test_spark_pipeline."""
    from genie_spark.pipeline import GenieExtractor, default_stack_factory

    texts = [
        "Albert Einstein was born in Zurich.",
        "Mileva Maric lived in Switzerland.",
        "the photon spouse Zurich story.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["input"])

    uni = GenieExtractor(
        spark, ENTS, RELS, num_beams=2,
        stack_factory=partial(default_stack_factory, scorer=UniformScorer),
    ).transform(df)
    got_uni = {r["input"]: r["prediction"] for r in uni.collect()}
    assert got_uni == _driver_twin(texts, ENTS, RELS, UniformScorer)

    default = GenieExtractor(spark, ENTS, RELS, num_beams=2).transform(df)
    got_def = {r["input"]: r["prediction"] for r in default.collect()}
    assert got_def == _driver_twin(texts, ENTS, RELS, DeterministicScorer)
    assert got_uni != got_def, "injected scorer produced the default output"


def test_toy_bpe_stack_runs_distributed(spark):
    """The HF-shaped stack (HFTokenizerAdapter over a BPE tokenizer,
    tries + TagCodes in its id space) must run through the DISTRIBUTED
    mapInPandas pipeline exactly as the real checkpoint path would:
    outputs match the driver-side twin of the same stack, every emitted
    name is catalog-closed, and the result is partition-invariant."""
    from genie_spark.pipeline import GenieExtractor
    from genie_spark.toy_bpe import toy_bpe_stack_factory

    texts = [
        "Albert Einstein was born in Zurich.",
        "Mileva Maric married Albert Einstein in Switzerland.",
        "the photon paper came from Zurich.",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["input"])
    ex = GenieExtractor(
        spark, ENTS, RELS, num_beams=3, stack_factory=toy_bpe_stack_factory
    )
    out = {r["input"]: r for r in ex.transform(df).collect()}

    # driver-side twin of the identical stack
    payload = {"ent_names": sorted(set(ENTS)), "rel_names": sorted(set(RELS))}
    tok, codes, ent_t, rel_t, scorer = toy_bpe_stack_factory(payload)
    for t in texts:
        beams = generate_for_text(
            t, scorer, tok, codes, ent_t, rel_t, num_beams=3
        )
        assert [(b["text"], b["log_prob"]) for b in beams] == [
            (b["text"], b["log_prob"]) for b in out[t]["beams"]
        ], t
        for s, r, o in parse_linearization(out[t]["prediction"] or ""):
            assert s in ENTS and o in ENTS and r in RELS

    rep = {r["input"]: r["prediction"] for r in ex.transform(df.repartition(7)).collect()}
    assert rep == {t: out[t]["prediction"] for t in texts}


def test_adapter_decode_strips_only_0x20(adapter):
    """decode() must normalize with strip(" "), never bare strip(): Spark's
    trim removes only 0x20, so a BPE decode emitting leading/trailing
    tab/NBSP must keep those bytes to stay byte-identical with the
    Column-side convention (the round-3 twin-divergence rule)."""

    class HostileDecodeBPE(FakeBPETokenizer):
        def decode(self, ids, skip_special_tokens=True):
            return "\t\xa0 " + super().decode(ids, skip_special_tokens) + " \xa0\t"

    hostile = HFTokenizerAdapter(HostileDecodeBPE(ENTS + RELS))
    ids = hostile.encode("Zurich")
    got = hostile.decode(ids)
    assert got.startswith("\t\xa0") and got.endswith("\xa0\t"), repr(got)
    assert got.strip(" \t\xa0") == "Zurich", repr(got)
    # and the normal path still yields the bare surface form
    assert adapter.decode(adapter.encode("Zurich")) == "Zurich"


def test_hf_stack_factory_guard(spark):
    """The HF stack cannot run here (no torch/transformers), so this pins
    its contract: GenieExtractor accepts the partial, the
    payload survives the std-pickle round trip Spark's broadcast makes,
    the cache key separates it from the default stack and from another
    checkpoint, and on a worker the factory gets as far as the scorer's
    import guard."""
    from genie_spark.pipeline import GenieExtractor, hf_stack_factory

    def hf(ckpt):
        factory = partial(hf_stack_factory, checkpoint=ckpt, device="cpu")
        return GenieExtractor(spark, ENTS, RELS, stack_factory=factory)

    payload = pickle.loads(pickle.dumps(hf("x")._bc.value))
    key_default = GenieExtractor(spark, ENTS, RELS)._bc.value["cache_key"]
    key_y = hf("y")._bc.value["cache_key"]
    assert payload["cache_key"][:3] == key_default[:3] == key_y[:3]
    assert len({payload["cache_key"], key_default, key_y}) == 3
    with pytest.raises(NotImplementedError, match="torch"):
        payload["stack_factory"](payload)
