"""Distributed BPE tokenizer fitting — the pair-count core of
byte-pair-encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public paper; the
algorithm Common Crawl-scale pipelines run to fit the tokenizer that
the token-budget packing then counts against).

Why this shape scales:

* ``pair_counts`` — ONE posexplode of the per-doc symbol stream into
  adjacent (left, right) pairs and ONE partial-aggregated exchange
  keyed by the pair. A pair repeated 10^9 times across the corpus
  collapses map-side (the groupBy combiner), so shuffle traffic is
  bounded by the DISTINCT pair vocabulary per task, not corpus size —
  the same skew-kill as the paragraph-dedup firsts.
* ``fit_bpe`` — the classic iterative trainer: k merge rounds, each
  round = one distributed pair count + a driver-side argmax of ONE
  row (TakeOrdered(1)) + a broadcast re-segmentation. Driver state is
  the merge table (k rows, caller-bounded) — never corpus data. The
  re-segmentation applies ALL merges learned so far inside one
  Arrow-batched pandas UDF per round, so round t scans the corpus
  once (the published algorithm's cost envelope; at 100 TB a
  deployment fits on a hash-sample — compose with
  ``sampling.hash_sample`` — exactly like every production tokenizer
  run).

Determinism / gating: symbols are whitespace words split into
character symbols with the end-of-word marker ``</w>`` appended to a
word's last character (the paper's construction). Ties in the argmax
break lexicographically on (left, right) — a total order both engines
can replay, so the FIRST-round pair count is hash-gated against
DuckDB (`bpe_pair_counts`) and the iterative trainer is pinned by a
plain-Python reference implementation in pytest.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


# The word separator of every path: Java's ``\s`` (what the native
# round-1 split runs), i.e. ASCII whitespace only. Python's
# ``str.split()`` also splits on Unicode separators such as U+00A0, so
# the re-segmenting rounds and the encoder use this pattern instead.
_WS = re.compile(r"\s+", re.ASCII)


def _words(text: str) -> List[str]:
    """Whitespace words of ``text`` under the shared separator rule."""
    return [w for w in _WS.split(text) if w]


def _symbolize(word: str) -> List[str]:
    """Character symbols with the end-of-word marker fused onto the
    last character — BPE's standard word representation."""
    if not word:
        return []
    chars = list(word)
    chars[-1] = chars[-1] + EOW
    return chars


def _apply_merges(symbols: List[str], ranks: dict) -> List[str]:
    """Greedily apply learned merges in rank order (the published
    inference rule: always merge the lowest-rank adjacent pair)."""
    while len(symbols) >= 2:
        best = None
        best_rank = None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        symbols = (
            symbols[:best]
            + [symbols[best] + symbols[best + 1]]
            + symbols[best + 2:]
        )
    return symbols


def pair_counts(
    df: DataFrame,
    text_col: str = "text",
    merges: Tuple[Tuple[str, str], ...] = (),
) -> DataFrame:
    """(left, right, cnt) — corpus-wide adjacent-symbol pair counts
    under the symbol stream induced by ``merges`` (empty = raw
    character symbols). The gateable first round is merges=();
    later rounds re-segment inside an Arrow-batched UDF."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), _WS.pattern), lambda t: t != ""
    )
    if not merges:
        # native path: word -> char symbols with EOW on the last char,
        # pairs via a transform over indices — zero Python
        words = df.select(F.explode(toks).alias("w"))
        chars = F.split(F.col("w"), "")
        n = F.size(chars)
        syms = F.transform(
            chars,
            lambda c, i: F.when(i == n - 1, F.concat(c, F.lit(EOW))).otherwise(c),
        )
        pairs = words.select(
            F.explode(
                F.when(
                    n >= 2,
                    F.transform(
                        F.sequence(F.lit(0), n - 2),
                        lambda i: F.struct(
                            F.element_at(syms, i + 1).alias("left"),
                            F.element_at(syms, i + 2).alias("right"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
            ).alias("p")
        ).select("p.left", "p.right")
    else:
        ranks = {tuple(m): i for i, m in enumerate(merges)}

        def seg(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for texts in batches:
                lefts: List[str] = []
                rights: List[str] = []
                for t in texts.fillna(""):
                    for w in _words(t):
                        s = _apply_merges(_symbolize(w), ranks)
                        lefts.extend(s[:-1])
                        rights.extend(s[1:])
                yield pd.DataFrame({"left": lefts, "right": rights})

        pairs = df.select(F.col(text_col)).mapInPandas(
            lambda it: seg(pdf[text_col] for pdf in it),
            "left string, right string",
        )
    return pairs.groupBy("left", "right").agg(
        F.count("*").cast("long").alias("cnt")
    )


def fit_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> List[Tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges: per round, distributed pair
    count -> argmax by (cnt DESC, left ASC, right ASC) — ONE row via
    orderBy+limit (TakeOrderedAndProject: per-task top-1 heaps) ->
    append to the merge table. Returns [(left, right, cnt)...] in
    merge order. Driver state = the k-row merge table only."""
    merges: List[Tuple[str, str]] = []
    out: List[Tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        top = (
            pair_counts(df, text_col, tuple(merges))
            .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        merges.append((r["left"], r["right"]))
        out.append((r["left"], r["right"], r["cnt"]))
    return out


def encode_with_merges(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, tokens array<string>, n_tokens) — the fitted tokenizer
    applied corpus-wide (one Arrow-batched pass, merge table in the
    closure — k-bounded by construction)."""
    ranks = {tuple(m[:2]): i for i, m in enumerate(merges)}

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = []
            for t in pdf[text_col].fillna(""):
                syms: List[str] = []
                for w in _words(t):
                    syms.extend(_apply_merges(_symbolize(w), ranks))
                toks.append(syms)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(s) for s in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        enc, f"{id_col} long, tokens array<string>, n_tokens long"
    )


__all__ = ["EOW", "encode_with_merges", "fit_bpe", "pair_counts"]
