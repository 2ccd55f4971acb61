"""WordPiece greedy longest-match segmentation (the BERT runtime
algorithm).

``wordpiece_merge_loop`` trains the merge table and
``wordpiece_holdout_fertility`` applies it in training ORDER, both through
operators/merges; the deployed BERT tokenizer instead segments against
the FINAL vocabulary with greedy longest-match-first (Schuster & Nakajima
2012; Devlin et al. 2019 use the same runtime).  This operator is that
runtime, relational:

1. candidate cells (w, i, d) = substring(w, i, d) for d <= max_piece_len,
   inner-joined against the vocabulary — the unigram cost-grid idiom
   (operators/unigram.py) pointed forward instead of backward;
2. best_len(w, i) = max matching d per position (singles must be in the
   vocabulary, so every position matches at least itself — and the fold
   GUARDS that precondition loudly: a vocab missing a single character
   raises instead of silently shifting positions);
3. one left fold over positions with a struct accumulator (the merge
   fold's idiom, operators/merges): at the current cursor take the longest
   match, emit it, jump the cursor; other positions pass through.

Everything is vocab-sized after the word collapse: the fold runs once per
DISTINCT word, never per token instance.  Registered as the
``wordpiece_greedy_segment`` query (queries/text.py) with the DuckDB twin
below as its value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from newyork_taxi_etl_spark.operators.merges import CHAR_SYMS

#: merges of merges can reach 2^rounds chars; 8 covers 3 training rounds
MAX_PIECE_LEN = 8

_GREEDY_FOLD = """
aggregate(
  sequence(1, length(w)),
  named_struct('pos', 1,
               'out', CAST(array() AS ARRAY<STRING>)),
  (acc, i) -> CASE
    WHEN i = acc.pos THEN named_struct(
      'pos', acc.pos + element_at(best, i),
      'out', concat(acc.out,
                    array(substring(w, i, element_at(best, i)))))
    ELSE acc END,
  acc -> acc.out)
"""

#: the fold indexes ``best`` positionally, so it is only correct when every
#: position of ``w`` matched at least one vocab piece (singles present).  A
#: gap would shift later entries left and SILENTLY mis-segment; guard it
#: with an explicit raise instead (the words->best join is LEFT so a fully
#: unmatched word reaches the guard as best IS NULL rather than vanishing).
_GUARDED_FOLD = f"""
CASE
  WHEN best IS NULL OR size(best) <> length(w)
  THEN raise_error(concat(
    'wordpiece vocab does not cover every character of word: ', w))
  ELSE {_GREEDY_FOLD}
END
"""


def greedy_segment_words(
    words: DataFrame, vocab: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """Greedy longest-match segmentation of every (w, freq) word against
    ``vocab`` (one ``piece`` string column; MUST contain every single
    character of the words — a violation raises at execution rather than
    silently corrupting the segmentation).

    Returns (w, freq, pieces array<string>).
    """
    L = int(max_piece_len)
    cells = (
        words.select(
            "w", F.explode(F.expr("sequence(1, length(w))")).alias("i")
        )
        .select("w", "i", F.explode(F.expr(f"sequence(1, {L})")).alias("d"))
        .filter(F.col("i") + F.col("d") - 1 <= F.length("w"))
        .withColumn("piece", F.expr("substring(w, i, d)"))
    )
    matched = cells.join(
        F.broadcast(vocab.select("piece").distinct()), "piece"
    )
    best = (
        matched.groupBy("w", "i")
        .agg(F.max("d").alias("bl"))
        .groupBy("w")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, bl))), "
                "x -> x.bl)"
            ).alias("best")
        )
    )
    return (
        words.join(best, "w", "left")
        .select("w", "freq", F.expr(_GUARDED_FOLD).alias("pieces"))
    )


def vocab_from_tops(words: DataFrame, tops) -> DataFrame:
    """Final WordPiece vocabulary = all single characters of the ``words``
    corpus (the (w, freq) frame being segmented — guarantees
    :func:`greedy_segment_words`'s every-position-covered precondition)
    plus each round's merged pair of a trained merge table (list of
    1-row (a, b, ...) frames, operators/merges).  One ``piece`` string
    column."""
    singles = words.select(
        F.explode(F.expr(CHAR_SYMS)).alias("piece")
    ).distinct()
    merged = singles
    for top in tops:
        merged = merged.unionByName(
            top.select(F.concat("a", "b").alias("piece"))
        )
    return merged


def greedy_fold_sql_duckdb() -> str:
    """DuckDB twin of ``_GREEDY_FOLD``.  list_reduce cannot thread LIST
    struct members, so the accumulator is a scalar VARCHAR — but it holds
    ONLY the cursor and the emitted cut POSITIONS ('pos' || chr(1) ||
    'p1,p2,...'): digits, commas, and the chr(1) separator, never a byte
    of the word itself, so no corpus content (e.g. a '|', ',' or control
    character inside a whitespace-split word) can collide with the
    accumulator encoding — the piece TEXT is materialized after the fold
    from (w, position, best[position]).  The seed rides as a prepended
    first element (the unigram fold's idiom).  Expects columns ``w`` and
    ``best`` (LIST of INTs, 1-based per position); yields the pieces as a
    LIST(VARCHAR)."""
    fold = """list_reduce(
        list_prepend('1' || chr(1),
          list_transform(range(1, length(w) + 1),
                         q -> CAST(q AS VARCHAR))),
        (acc, x) -> CASE
          WHEN CAST(x AS INT) =
               CAST(string_split(acc, chr(1))[1] AS INT)
          THEN CAST(CAST(x AS INT) + best[CAST(x AS INT)] AS VARCHAR)
               || chr(1) ||
               CASE WHEN string_split(acc, chr(1))[2] = '' THEN x
                    ELSE string_split(acc, chr(1))[2] || ',' || x END
          ELSE acc END)"""
    return f"""
      list_transform(
        string_split(string_split({fold}, chr(1))[2], ','),
        p -> substring(w, CAST(p AS INT), best[CAST(p AS INT)]))
    """


def greedy_segment_ctes_duckdb(
    words: str, vocab: str, max_piece_len: int = MAX_PIECE_LEN
) -> str:
    """The gcells/gmatched/gbest CTE bodies (no leading WITH) mirroring
    :func:`greedy_segment_words`'s cell grid, vocab match, and per-word
    best-length array — shared by the standalone statement below and the
    registered wordpiece_greedy_segment oracle, which embeds them in its
    own WITH chain after the trainer CTEs."""
    L = int(max_piece_len)
    return f"""
    gcells AS (
      SELECT t.w, i.i AS i, d.d AS d, substring(t.w, i.i, d.d) AS piece
      FROM {words} t,
           unnest(range(1, length(t.w) + 1)) AS i(i),
           unnest(range(1, {L + 1})) AS d(d)
      WHERE i.i + d.d - 1 <= length(t.w)
    ),
    gmatched AS (
      SELECT c.w, c.i, c.d
      FROM gcells c JOIN (SELECT DISTINCT piece FROM {vocab}) v
        ON c.piece = v.piece
    ),
    gbest AS (
      SELECT w, list(bl ORDER BY i) AS best FROM (
        SELECT w, i, CAST(MAX(d) AS INT) AS bl
        FROM gmatched GROUP BY w, i
      ) GROUP BY w
    )"""


def greedy_segment_sql_duckdb(
    words: str, vocab: str, max_piece_len: int = MAX_PIECE_LEN
) -> str:
    """Full DuckDB statement mirroring :func:`greedy_segment_words`:
    ``words`` (w, freq) and ``vocab`` (piece) are existing relations;
    returns SQL yielding (w, freq, pieces LIST(VARCHAR))."""
    return f"""
    WITH {greedy_segment_ctes_duckdb(words, vocab, max_piece_len)}
    SELECT t.w, t.freq, {greedy_fold_sql_duckdb()} AS pieces
    FROM {words} t JOIN gbest USING (w)
    """
