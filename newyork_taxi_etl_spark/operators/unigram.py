"""Unigram-LM (SentencePiece-style) subword tokenizer — the OTHER
tokenizer family beside BPE (Kudo 2018, "Subword Regularization";
SentencePiece's unigram trainer): pieces carry probabilities and a word's
tokenization is its minimum-cost segmentation under those probabilities,
found by Viterbi DP over the word lattice.  Training is hard-EM (Viterbi
E-step): segment every vocab word under current piece costs, re-estimate
piece counts from the segmentations, iterate, then prune to a target
vocabulary (single characters are never pruned — they guarantee
coverage).

Engine discipline (the ``bpe_merge_loop`` pattern, ``queries/text.py``):
the corpus collapses ONCE to a frequency-weighted word vocabulary; every
EM statistic and every DP runs over vocab-sized tables.  The Viterbi fold
itself is a pure higher-order aggregate both engines execute bit-
identically:

- piece costs are INTEGER micro-nats ``round(ln(total/cnt) * 1e6)`` — a
  12-significant-digit discipline that makes cross-engine float drift
  irrelevant (the ``categorical_mi_profile`` ln rule);
- per word, a COST GRID is materialized relationally (end position i x
  piece length d -> zero-padded 16-digit cost, or an all-9s sentinel) so
  the fold never looks anything up — it only indexes the grid;
- the DP accumulator is a chr(1)-joined STRING of per-position entries
  ``paddedcost|d|seg`` (chr(2)-joined seg) — DuckDB's list_reduce cannot
  thread LIST-typed struct members (the ``_bpe_fold_sql`` lesson), a
  scalar VARCHAR threads fine in both engines;
- the argmin is a LEXICOGRAPHIC min over candidate strings: zero-padded
  cost, then piece length d, then seg — a total order both engines
  evaluate identically (ties broken toward the SHORTER final piece).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators.merges import CHAR_SYMS

MAX_PIECE_LEN = 4
SENT = "9999999999999999"  # unreachable / absent-piece sentinel cost
SENT_ENTRY = SENT + "|9|"
INIT_ENTRY = "0000000000000000|0|"  # position-0 entry: cost 0, empty seg


def word_vocab(docs: DataFrame) -> DataFrame:
    """Corpus -> frequency-weighted word vocabulary (the one corpus-sized
    pass; everything downstream is vocab-sized)."""
    from newyork_taxi_etl_spark.session import spread

    return (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def seed_counts(words: DataFrame) -> DataFrame:
    """Candidate pieces = every substring of length 1..MAX_PIECE_LEN of
    every vocab word; seed count = freq-weighted positional occurrences
    (the standard unigram-trainer seeding: frequent substrings start
    probable)."""
    subs = F.expr(
        f"""
        flatten(transform(sequence(1, length(w)), i ->
          transform(sequence(1, least({MAX_PIECE_LEN}, length(w) - i + 1)),
                    d -> substring(w, i, d))))
        """
    )
    return (
        words.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )


def piece_costs(counts: DataFrame) -> DataFrame:
    """(piece, cnt) -> (piece, cost) in integer micro-nats:
    cost = round(ln(total / cnt) * 1e6)."""
    total = counts.agg(F.sum("cnt").cast("bigint").alias("_tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "piece",
        F.round(
            F.log(F.col("_tot").cast("double") / F.col("cnt")) * 1e6
        )
        .cast("bigint")
        .alias("cost"),
    )


def _with_grid(words: DataFrame, costs: DataFrame) -> DataFrame:
    """Attach the per-word DP cost grid: entry (i, d) at 1-based index
    (i-1)*MAX_PIECE_LEN + d holds the zero-padded cost of piece
    substring(w, i-d+1, d), or the sentinel when d > i / piece unknown."""
    L = MAX_PIECE_LEN
    cells = (
        words.select(
            "w",
            F.explode(F.expr("sequence(1, length(w))")).alias("i"),
        )
        .select(
            "w", "i", F.explode(F.expr(f"sequence(1, {L})")).alias("d")
        )
        .withColumn(
            "piece",
            F.when(
                F.col("d") <= F.col("i"),
                F.expr("substring(w, i - d + 1, d)"),
            ),
        )
    )
    entries = cells.join(F.broadcast(costs), "piece", "left").select(
        "w",
        "i",
        "d",
        F.coalesce(
            F.lpad(F.col("cost").cast("string"), 16, "0"), F.lit(SENT)
        ).alias("entry"),
    )
    grid = entries.groupBy("w").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, d, entry))), "
            "x -> x.entry)"
        ).alias("grid")
    )
    return words.join(grid, "w")


_FOLD = f"""
aggregate(
  sequence(1, length(w)),
  '{INIT_ENTRY}',
  (acc, i) -> concat(acc, chr(1), array_min(
    transform(sequence(1, {MAX_PIECE_LEN}), d ->
      CASE WHEN d > i OR element_at(grid, (i - 1) * {MAX_PIECE_LEN} + d)
                          = '{SENT}'
           THEN '{SENT_ENTRY}'
           ELSE element_at(transform(
             array(element_at(split(acc, chr(1)), i - d + 1)), p ->
             CASE WHEN element_at(split(p, '\\\\|'), 1) = '{SENT}'
                  THEN '{SENT_ENTRY}'
                  ELSE concat(
                    lpad(cast(
                      cast(element_at(split(p, '\\\\|'), 1) as bigint)
                      + cast(element_at(grid,
                          (i - 1) * {MAX_PIECE_LEN} + d) as bigint)
                      as string), 16, '0'),
                    '|', d, '|',
                    CASE WHEN element_at(split(p, '\\\\|'), 3) = ''
                         THEN substring(w, i - d + 1, d)
                         ELSE concat(element_at(split(p, '\\\\|'), 3),
                                     chr(2),
                                     substring(w, i - d + 1, d)) END)
             END), 1)
      END))),
  acc -> element_at(split(element_at(split(acc, chr(1)),
                                     length(w) + 1), '\\\\|'), 3)
)
"""


def segment_words(words: DataFrame, costs: DataFrame) -> DataFrame:
    """Viterbi minimum-cost segmentation of every vocab word under the
    given piece costs.  Returns (w, freq, pieces array<string>) — with
    single characters present in the cost table every word is reachable.
    """
    return _with_grid(words, costs).select(
        "w",
        "freq",
        F.split(F.expr(_FOLD), chr(2)).alias("pieces"),
    )


def em_counts(words: DataFrame, costs: DataFrame) -> DataFrame:
    """Hard-EM M-step: piece counts = freq-weighted usage in the Viterbi
    segmentations; single chars never drop (floor count 1 — coverage)."""
    used = (
        segment_words(words, costs)
        .select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    singles = (
        words.select(F.explode(F.expr(CHAR_SYMS)).alias("piece"))
        .distinct()
        .join(used, "piece", "left_anti")
        .select("piece", F.lit(1).cast("bigint").alias("cnt"))
    )
    return used.unionByName(singles)


def train_unigram(
    docs: DataFrame, em_rounds: int = 2, keep_multi: int = 24
) -> DataFrame:
    """Full trainer: seed -> ``em_rounds`` x (cost, Viterbi, re-count) ->
    prune to the ``keep_multi`` highest-count multi-char pieces plus ALL
    single characters.  Returns the final (piece, cnt) table.

    The word vocab and each round's counts are localCheckpoint-ed:
    they are VOCAB-SIZED (tens of rows) but every round references its
    predecessor several times (cost normalizer + cost rows + singles
    floor), so an uncut lineage re-runs the whole upstream chain per
    reference — the DuckDB MATERIALIZED-CTE lesson (``_bpe_round_sql``),
    Spark edition.  Pinning O(vocab) rows per round costs microseconds
    and makes the train wall-clock linear in rounds."""
    words = word_vocab(docs).localCheckpoint()
    counts = seed_counts(words)
    for _ in range(em_rounds):
        counts = em_counts(words, piece_costs(counts)).localCheckpoint()
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(keep_multi)
    )
    singles = counts.filter(F.length("piece") == 1)
    return multi.unionByName(singles).localCheckpoint()


def fold_sql_duckdb() -> str:
    """DuckDB twin of the Spark Viterbi fold (identical semantics; see
    module docstring for why the accumulator is a scalar VARCHAR).
    Expects columns ``w`` and ``grid`` (LIST(VARCHAR)); yields the
    chr(2)-joined seg string of the full word."""
    L = MAX_PIECE_LEN
    return f"""
      string_split(string_split(list_reduce(
        list_prepend('{INIT_ENTRY}',
          list_transform(range(1, len(w) + 1), q -> CAST(q AS VARCHAR))),
        (acc, x) -> acc || chr(1) || list_min(
          list_transform(range(1, {L + 1}), d ->
            CASE WHEN d > CAST(x AS INT)
                   OR grid[(CAST(x AS INT) - 1) * {L} + d] = '{SENT}'
                 THEN '{SENT_ENTRY}'
                 ELSE list_transform(
                   [string_split(acc, chr(1))[CAST(x AS INT) - d + 1]],
                   p ->
                   CASE WHEN string_split(p, '|')[1] = '{SENT}'
                        THEN '{SENT_ENTRY}'
                        ELSE lpad(CAST(
                               CAST(string_split(p, '|')[1] AS BIGINT)
                               + CAST(grid[(CAST(x AS INT) - 1) * {L} + d]
                                      AS BIGINT) AS VARCHAR), 16, '0')
                             || '|' || CAST(d AS VARCHAR) || '|' ||
                             CASE WHEN string_split(p, '|')[3] = ''
                                  THEN substring(w, CAST(x AS INT) - d + 1, d)
                                  ELSE string_split(p, '|')[3] || chr(2) ||
                                       substring(w, CAST(x AS INT) - d + 1, d)
                             END
                   END)[1]
            END))),
        chr(1))[len(w) + 1], '|')[3]
    """
