"""Free (unconstrained) generation — the reference's free_generation=true
run mode (genie_base_pl.py:92-94: tries only load when constrained, and
model.sample runs without a constraint fn; genie_base_hf.py:1-36 serves
that baseline). The engine's constrained path is pinned bit-identical by
the parity suites; these tests pin the trie-less mode."""

import pytest

from genie_spark import synth
from genie_spark.constraints import OB, FreeDecodeState, TagCodes
from genie_spark.decode import (
    DeterministicScorer,
    beam_search,
    free_vocab_ids,
    generate_for_text,
    top_valid_prediction,
)
from genie_spark.tokenizer import WordTokenizer
from genie_spark.trie import trie_from_names
from genie_spark.triples import parse_linearization

ENTS = ["Albert Einstein", "Zurich", "Mileva Maric", "Switzerland", "photon"]
RELS = ["birthplace", "spouse", "country"]


@pytest.fixture(scope="module")
def stack():
    tok = WordTokenizer(ENTS + RELS)
    codes = TagCodes(tok)
    return (
        tok,
        codes,
        trie_from_names(ENTS, tok),
        trie_from_names(RELS, tok),
        DeterministicScorer(tok),
    )


def test_free_vocab_ids_excludes_specials(stack):
    tok, codes, *_ = stack
    fv = free_vocab_ids(tok)
    assert tok.pad_token_id not in fv
    assert tok.bos_token_id not in fv
    assert tok.unk_token_id not in fv
    assert codes.eos in fv  # EOS stays: it finishes the beam
    assert len(fv) == len(tok) - 3


def test_free_state_tracks_groups_like_full_scan(stack):
    """FreeDecodeState's incremental '< tag >' counter must agree with a
    full-prefix rescan (the same count allowed_for_prefix derives status
    from) on arbitrary token streams, including malformed tag attempts."""
    import random

    tok, codes, *_ = stack
    fv = free_vocab_ids(tok)
    rng = random.Random(7)
    # bias the stream toward structural tokens so groups actually form
    pool = fv + [codes.lt, codes.gt, *codes.tags] * 6
    for _ in range(200):
        seq = [rng.choice(pool) for _ in range(rng.randrange(0, 40))]
        st = FreeDecodeState(codes, fv)
        for t in seq:
            if st.finished:
                break
            st.push(t)
        # full scan (allowed_for_prefix's counting rule)
        consumed = []
        for t in seq:
            consumed.append(t)
            if t == codes.eos:
                break
        if consumed and consumed[-1] == codes.eos:
            consumed = consumed[:-1]
            assert st.finished
        groups = sum(
            1
            for i in range(len(consumed) - 2)
            if consumed[i] == codes.lt
            and consumed[i + 1] in codes.tagset
            and consumed[i + 2] == codes.gt
        )
        assert st.status == groups % 4, seq
        assert st.triples_done == groups // 4, seq
        if not st.finished:
            assert st.allowed() is fv


def test_free_state_allowed_transitions(stack):
    tok, codes, *_ = stack
    fv = free_vocab_ids(tok)
    st = FreeDecodeState(codes, fv, bos_first=True)
    assert st.allowed() == [codes.bos]
    st.push(codes.bos)
    assert st.allowed() is fv
    st.push(codes.eos)
    assert st.finished and st.allowed() == []
    assert st.status == OB


def test_beam_search_argument_validation(stack):
    tok, codes, ent_t, rel_t, scorer = stack
    ctx = scorer.context("Zurich")
    with pytest.raises(ValueError, match="BOTH tries"):
        beam_search(ctx, scorer, codes, ent_t, None)
    with pytest.raises(ValueError, match="free_vocab"):
        beam_search(ctx, scorer, codes, None, None)


def test_free_decode_deterministic_and_differs(stack):
    tok, codes, ent_t, rel_t, scorer = stack
    text = "Albert Einstein was born in Zurich."
    con = generate_for_text(text, scorer, tok, codes, ent_t, rel_t, num_beams=2)
    free1 = generate_for_text(text, scorer, tok, codes, None, None, num_beams=2)
    free2 = generate_for_text(text, scorer, tok, codes, None, None, num_beams=2)
    assert [(b["text"], b["log_prob"]) for b in free1] == [
        (b["text"], b["log_prob"]) for b in free2
    ]
    assert free1 != con, "free mode must not silently run constrained"
    # the constrained output is catalog-closed; the free one need not be
    for s, r, o in parse_linearization(top_valid_prediction(con) or ""):
        assert s in ENTS and o in ENTS and r in RELS
    pred = top_valid_prediction(free1)
    assert pred is not None
    ungrounded = [
        (s, r, o)
        for s, r, o in parse_linearization(pred)
        if s not in ENTS or o not in ENTS or r not in RELS
    ]
    assert ungrounded, "free decode should exhibit ungrounded names here"


def test_free_pipeline_matches_driver_twin_and_partition_invariant(spark):
    """GenieExtractor(constrained=False) through distributed mapInPandas
    must match the single-process free twin byte-for-byte and be
    partition-invariant (the free path's two-cluster-size determinism)."""
    from genie_spark.pipeline import GenieExtractor, extract_pipeline

    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)
    pages = synth.pages_df(spark, 16)
    ex = GenieExtractor(spark, ents, rels, num_beams=2, constrained=False)
    out = extract_pipeline(spark, pages, [], [], extractor=ex)
    got = {(r["url"], r["sent_idx"]): r for r in out.collect()}

    from genie_spark.extract import sentences_df, split_sentences

    tok = WordTokenizer(ents + rels)
    codes = TagCodes(tok)
    scorer = DeterministicScorer(tok)
    fv = free_vocab_ids(tok)
    n = 0
    for lr in synth.pages_local(16):
        if lr["lang"] != "en":
            continue
        for i, sent in enumerate(split_sentences(lr["text"])):
            beams = generate_for_text(
                sent, scorer, tok, codes, None, None, num_beams=2, free_vocab=fv
            )
            r = got[(lr["url"], i)]
            assert r["prediction"] == top_valid_prediction(beams), sent
            assert [(b["text"], b["log_prob"]) for b in r["beams"]] == [
                (b["text"], b["log_prob"]) for b in beams
            ]
            n += 1
    assert n > 10

    # extract_pipeline always repartitions before decode; run the decode
    # stage itself over a different partition count
    sents = sentences_df(pages.filter(pages["lang"] == "en")).select(
        "url", "warc_ts", "sent_idx", "input"
    )
    rep = ex.transform(sents.repartition(13))
    assert sorted(
        (r["url"], r["sent_idx"], r["prediction"]) for r in rep.collect()
    ) == sorted((u, i, r["prediction"]) for (u, i), r in got.items())


def test_constrained_default_unchanged(spark):
    """constrained=True (the default) and an explicit constrained
    GenieExtractor must agree — the free knob cannot leak into the
    default path (the flagship goldens themselves are pinned by
    test_spark_pipeline + the oracle parity suite)."""
    from genie_spark.pipeline import GenieExtractor, extract_pipeline

    ents = synth.unique_entity_names(synth.make_entities())
    rels = sorted(synth.RELATIONS)
    pages = synth.pages_df(spark, 8)
    base = extract_pipeline(spark, pages, ents, rels)
    explicit = extract_pipeline(
        spark, pages, [], [],
        extractor=GenieExtractor(spark, ents, rels, num_beams=2, constrained=True),
    )
    key = lambda df: sorted(
        (r["url"], r["sent_idx"], r["prediction"]) for r in df.collect()
    )
    assert key(base) == key(explicit)
