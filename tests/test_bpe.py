"""Distributed BPE fitting (operators/bpe.py): round-1 pair counts,
the iterative trainer, and the fitted encoder — all pinned against a
plain-Python reference implementation of Sennrich-style BPE."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from website_indexer_spark.operators import bpe

CORPUS = [
    (0, "low low low lower lower newest newest newest newest"),
    (1, "wider wider new new newest lowest"),
    (2, "low wide wider widest"),
    (3, ""),
    (4, None),
]


def _py_symbolize(w):
    cs = list(w)
    cs[-1] = cs[-1] + bpe.EOW
    return cs


def _py_pair_counts(texts, merges=()):
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    cnt = collections.Counter()
    for t in texts:
        for w in (t or "").split():
            s = bpe._apply_merges(_py_symbolize(w), ranks)
            for a, b in zip(s, s[1:]):
                cnt[(a, b)] += 1
    return cnt


def _py_fit(texts, k):
    merges = []
    for _ in range(k):
        cnt = _py_pair_counts(texts, [(l, r) for l, r, _ in merges])
        if not cnt:
            break
        (a, b), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, c))
    return merges


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_pair_counts_round1_matches_python(spark, docs):
    got = {
        (r["left"], r["right"]): r["cnt"]
        for r in bpe.pair_counts(docs).collect()
    }
    want = _py_pair_counts([t for _, t in CORPUS])
    assert got == dict(want)


def test_pair_counts_after_merges_matches_python(spark, docs):
    merges = (("e", "s</w>"), ("l", "o"))
    got = {
        (r["left"], r["right"]): r["cnt"]
        for r in bpe.pair_counts(docs, merges=merges).collect()
    }
    want = _py_pair_counts([t for _, t in CORPUS], merges)
    assert got == dict(want)


def test_fit_bpe_matches_python_reference(spark, docs):
    got = bpe.fit_bpe(docs, n_merges=6)
    want = _py_fit([t for _, t in CORPUS], 6)
    assert [(l, r) for l, r, _ in got] == [(l, r) for l, r, _ in want]
    assert [c for _, _, c in got] == [c for _, _, c in want]
    # the classic corpus learns an 'est</w>'-family merge early
    joined = ["".join(p[:2]) for p in got]
    assert any("es" in j or "est" in j for j in joined)


def test_encode_with_merges_roundtrip(spark, docs):
    merges = [(l, r) for l, r, _ in bpe.fit_bpe(docs, n_merges=4)]
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    enc = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe.encode_with_merges(docs, merges).collect()
    }
    for doc_id, text in CORPUS:
        want = []
        for w in (text or "").split():
            want.extend(bpe._apply_merges(_py_symbolize(w), ranks))
        toks, n = enc[doc_id]
        assert toks == want, doc_id
        assert n == len(want)
        # every token stream reassembles the original words
        assert "".join(toks).replace(bpe.EOW, " ").split() == (
            (text or "").split()
        )


def test_pair_count_plan_partial_agg_no_python_round1(spark, docs):
    """Round 1 is pure native dataflow: no Python evaluator in the
    plan, and the pair count partial-aggregates map-side."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        bpe.pair_counts(docs).explain("formatted")
    plan = buf.getvalue()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_unicode_space_segments_words_the_same_on_every_path(spark):
    """U+00A0 is not a word separator under the native round-1 split
    (Java ``\\s``), so the re-segmenting rounds and the encoder must not
    split on it either: with a merge that never fires, round 1 and the
    merges>0 path count the same pairs, and the encoder keeps the
    no-break space inside one word."""
    docs = spark.createDataFrame(
        [(0, "ab\u00a0cd ab\tcd"), (1, "cd\u00a0ab")], ["doc_id", "text"]
    )
    no_op = (("x", "y"),)

    def counts(merges):
        return {
            (r["left"], r["right"]): r["cnt"]
            for r in bpe.pair_counts(docs, merges=merges).collect()
        }

    round1 = counts(())
    assert round1 == counts(no_op)
    assert round1[("b", "\u00a0")] == 1 and round1[("\u00a0", "c")] == 1
    enc = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe.encode_with_merges(docs, list(no_op)).collect()
    }
    assert enc[0] == ["a", "b", "\u00a0", "c", "d</w>",
                      "a", "b</w>", "c", "d</w>"]
    assert enc[1] == ["c", "d", "\u00a0", "a", "b</w>"]
