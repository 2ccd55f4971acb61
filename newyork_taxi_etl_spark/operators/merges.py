"""Merge-table tokenizers: train and apply (Sennrich et al. 2016).

Char BPE, WordPiece (Schuster & Nakajima 2012) and byte-level BPE run one
algorithm and differ only in how a word is split into seed symbols and how
a round picks its winning pair:

1. the corpus collapses ONCE to a frequency-weighted word vocab
   (:func:`word_counts`), so every round is vocab-sized, never
   token-instance-sized;
2. each round (:func:`merge_round`) counts adjacent symbol pairs
   (map-side-combinable, shuffle bounded by the pair vocabulary), lets
   ``pick`` choose the 1-row winner, truncates the lineage with
   ``localCheckpoint`` and rewrites every word's symbols with the
   leftmost-non-overlapping merge fold :data:`MERGE_EXPR` (the winner
   broadcasts);
3. the per-round winners ("tops") are the merge table: :func:`apply_merges`
   replays them in training order over any (..., syms) frame and
   :func:`merge_table` lists them as step/pair/merged/n rows.

The pick rules are :func:`by_count` (BPE: ``(n DESC, a, b)``) and
:func:`by_gain` (WordPiece likelihood gain).  This module is the only
place that spells the pair explode, the fold and the char seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: word -> its characters as symbols.  No empty-word guard: Spark's
#: sequence(1, 0) is [1, 0], so callers seed non-empty words only.
CHAR_SYMS = "transform(sequence(1, length(w)), i -> substring(w, i, 1))"

#: rewrite ``syms`` merging every leftmost non-overlapping (a, b) pair
#: into one symbol: a left fold carrying the output so far and a pending
#: symbol ('aaa' -> [aa, a]; 'abab' -> [ab, ab])
MERGE_EXPR = """
  aggregate(
    syms,
    named_struct('o', CAST(array() AS ARRAY<STRING>), 'p', CAST(NULL AS STRING)),
    (acc, s) -> CASE
      WHEN acc.p = a AND s = b
        THEN named_struct('o', concat(acc.o, array(concat(a, b))),
                          'p', CAST(NULL AS STRING))
      WHEN acc.p IS NULL THEN named_struct('o', acc.o, 'p', s)
      ELSE named_struct('o', concat(acc.o, array(acc.p)), 'p', s) END,
    acc -> CASE WHEN acc.p IS NULL THEN acc.o
                ELSE concat(acc.o, array(acc.p)) END)
"""

_PAIRS = (
    "CASE WHEN size(syms) < 2 "
    "THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
    "ELSE transform(sequence(1, size(syms) - 1), "
    "i -> named_struct('a', element_at(syms, i), "
    "'b', element_at(syms, i + 1))) END"
)


def word_counts(docs: DataFrame, cnt: str = "cnt") -> DataFrame:
    """(w, ``cnt``): each whitespace-split word of at least two characters
    with its corpus count — the vocab every trainer merges over."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias(cnt))
    )


def char_vocab(docs: DataFrame) -> DataFrame:
    """(cnt, syms): :func:`word_counts` with each word split into its
    characters — the char trainers' seed."""
    return word_counts(docs).select("cnt", F.expr(CHAR_SYMS).alias("syms"))


def by_count(counts: DataFrame, syms: DataFrame) -> DataFrame:
    """BPE's pick: the most frequent pair, ties broken by (a, b)."""
    return counts.orderBy(F.desc("n"), "a", "b").limit(1)


def by_gain(counts: DataFrame, syms: DataFrame) -> DataFrame:
    """WordPiece's pick: the pair with the highest likelihood gain
    ln n - ln f(a) - ln f(b), the log of count(ab) / (count(a) count(b)),
    so rare-but-cohesive pairs beat merely common ones.  The LOG domain
    keeps it DOUBLE arithmetic (the raw f(a) f(b) product overflows int64
    at corpus scale); rounded to 12 places, ties broken by (a, b).  The
    winner row carries the ``score``."""
    symfreq = (
        syms.select(F.explode("syms").alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").cast("bigint").alias("f"))
    )
    fa = symfreq.select(F.col("sym").alias("a"), F.col("f").alias("fa"))
    fb = symfreq.select(F.col("sym").alias("b"), F.col("f").alias("fb"))
    score = F.round(F.log("n") - F.log("fa") - F.log("fb"), 12)
    scored = (
        counts.join(F.broadcast(fa), "a")
        .join(F.broadcast(fb), "b")
        .select("a", "b", "n", score.alias("score"))
    )
    return scored.orderBy(F.desc("score"), "a", "b").limit(1)


def merge_round(
    syms: DataFrame, pick=by_count
) -> tuple[DataFrame, DataFrame]:
    """One training round over a (cnt, syms) frame: returns the 1-row
    winner (a, b, n, ...) that ``pick(counts, syms)`` chose from the
    (a, b, n) pair counts, localCheckpoint-ed (eagerly: it ends the
    iterative lineage and is read by the next round and every apply),
    and the (cnt, syms) frame rewritten with it."""
    pairs = syms.select("cnt", F.explode(F.expr(_PAIRS)).alias("e"))
    counts = pairs.groupBy(
        F.col("e.a").alias("a"), F.col("e.b").alias("b")
    ).agg(F.sum("cnt").alias("n"))
    top = pick(counts, syms).localCheckpoint()
    return top, apply_merges(syms, [top], "cnt")


def train(syms: DataFrame, rounds: int = 3, pick=by_count) -> list:
    """Run ``rounds`` merge rounds over a (cnt, syms) frame; returns each
    round's 1-row merge table, first round first."""
    tops = []
    for _ in range(rounds):
        top, syms = merge_round(syms, pick)
        tops.append(top)
    return tops


def apply_merges(df: DataFrame, tops, *keep: str) -> DataFrame:
    """``df``'s ``syms`` rewritten by each merge table of ``tops`` in
    training order; keeps the ``keep`` columns, then ``syms``."""
    for top in tops:
        df = df.crossJoin(F.broadcast(top.select("a", "b"))).select(
            *keep, F.expr(MERGE_EXPR).alias("syms")
        )
    return df


def merge_table(tops, *extra: str) -> DataFrame:
    """(step, pair, merged, n, *extra): one row per trained merge,
    step 1 first; ``extra`` names more columns of the merge tables."""
    out = None
    for step, top in enumerate(tops, start=1):
        leg = top.select(
            F.lit(step).alias("step"),
            F.concat_ws("+", "a", "b").alias("pair"),
            F.concat("a", "b").alias("merged"),
            F.col("n").cast("bigint").alias("n"),
            *(F.col(c).alias(c) for c in extra),
        )
        out = leg if out is None else out.unionAll(leg)
    return out.orderBy("step")
