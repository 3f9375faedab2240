"""Framework-free decode pass with per-layer timers (traced runs only).

Runs ``decode.generate_for_text`` in this process over a sentence sample,
with the default decode stack wrapped by proxies: the scorer
(``decode.score_s``), the constraint state machine (``constraints.state_s``)
and the tries (``trie.step_s``). Times are self times — the state
machine's share excludes the trie calls it makes. The same sample also
runs once without proxies, which gives the projection of decode cost
onto the Spark extraction and the proxies' own overhead.
"""

from __future__ import annotations

import time
from collections import defaultdict
from typing import Dict, List

from genie_spark import decode
from genie_spark.constraints import DecodeState
from genie_spark.pipeline import default_stack_factory


class _Clock:
    """Self-time accumulator: a nested call's time is charged to the
    callee and removed from its caller."""

    def __init__(self):
        self.self_s: Dict[str, float] = defaultdict(float)
        self._stack: List[float] = []

    def call(self, name, fn, *args, **kw):
        t0 = time.perf_counter()
        self._stack.append(0.0)
        try:
            return fn(*args, **kw)
        finally:
            dt = time.perf_counter() - t0
            nested = self._stack.pop()
            self.self_s[name] += dt - nested
            if self._stack:
                self._stack[-1] += dt


class _TimedTrie:
    def __init__(self, trie, clock):
        self._t, self._c = trie, clock

    def start(self):
        return self._c.call("trie", self._t.start)

    def step(self, node, tok):
        return self._c.call("trie", self._t.step, node, tok)

    def allowed(self, node):
        return self._c.call("trie", self._t.allowed, node)


class _TimedScorer:
    def __init__(self, scorer, clock, counts):
        self._s, self._c, self._n = scorer, clock, counts

    def context(self, text):
        return self._c.call("score", self._s.context, text)

    def advance(self, ctx, ptr, token):
        return self._c.call("score", self._s.advance, ctx, ptr, token)

    def score(self, ctx, tokens, state, allowed, ptr=None):
        self._n["steps"] += 1
        self._n["candidates"] += len(allowed)
        return self._c.call("score", self._s.score, ctx, tokens, state, allowed, ptr=ptr)


def _timed_state_class(clock, counts):
    class TimedDecodeState(DecodeState):
        __slots__ = ()

        def push(self, tok):
            return clock.call("state", DecodeState.push, self, tok)

        def allowed(self):
            return clock.call("state", DecodeState.allowed, self)

        def clone(self):
            # beam_search clones each top-scoring candidate it expands
            # into a beam (up to 2 x num_beams per step)
            counts["kept"] += 1
            c = clock.call("state", DecodeState.clone, self)
            c.__class__ = TimedDecodeState
            return c

    return TimedDecodeState


def run(texts: List[str], ents: List[str], rels: List[str], num_beams: int = 2) -> Dict[str, float]:
    payload = {"ent_names": sorted(set(ents)), "rel_names": sorted(set(rels))}
    tok, codes, ent, rel, scorer = default_stack_factory(payload)

    clock, counts = _Clock(), defaultdict(int)
    saved = decode.DecodeState
    decode.DecodeState = _timed_state_class(clock, counts)
    try:
        t0 = time.perf_counter()
        traced = [
            clock.call(
                "search",
                decode.generate_for_text,
                t,
                _TimedScorer(scorer, clock, counts),
                tok,
                codes,
                _TimedTrie(ent, clock),
                _TimedTrie(rel, clock),
                num_beams=num_beams,
            )
            for t in texts
        ]
        traced_s = time.perf_counter() - t0
    finally:
        decode.DecodeState = saved
    t0 = time.perf_counter()
    plain = [decode.generate_for_text(t, scorer, tok, codes, ent, rel, num_beams=num_beams) for t in texts]
    plain_s = time.perf_counter() - t0
    if traced != plain:
        raise AssertionError("proxied decode changed the beams")
    steps = counts["steps"]
    return {
        "decode.score_s": clock.self_s["score"],
        "constraints.state_s": clock.self_s["state"],
        "trie.step_s": clock.self_s["trie"],
        "decode.search_self_s": clock.self_s["search"],
        "decode.steps": float(steps),
        "decode.candidates": float(counts["candidates"]),
        "decode.allowed_mean": counts["candidates"] / steps if steps else 0.0,
        "decode.kept_ratio": counts["kept"] / counts["candidates"] if counts["candidates"] else 0.0,
        "decode.plain_s": plain_s,
        "decode.proxy_overhead_s": traced_s - plain_s,
    }
