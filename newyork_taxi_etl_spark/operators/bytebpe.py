"""Byte-level BPE groundwork (GPT-2 style; Radford et al. 2019 §2.2,
Sennrich et al. 2016 merges over UTF-8 BYTES): the tokenizer family's
fourth member, seeding the merge loop from a word's UTF-8 byte sequence
instead of its characters, so no input can ever be out-of-vocabulary —
the <unk>-free guarantee char_coverage_budget / oov_fallback_rate
quantify the need for.

Symbols are hex PAIRS of the UTF-8 encoding ('C3', 'A9', ... — engine-
portable strings, reversible via unhex), so the merge rounds and the
leftmost-non-overlapping merge fold of operators/merges apply UNCHANGED
over byte symbols: on pure-ASCII corpora byte-BPE degenerates to
char-BPE with renamed symbols (pinned in tests), and multi-byte
codepoints split into learnable byte pairs.  The ``bytebpe_merge_loop``
and ``bytebpe_holdout_fertility`` queries (queries/text.py) train and
apply through this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators.merges import apply_merges, train

#: word -> UTF-8 byte symbols as hex pairs.  hex() is uppercase on both
#: engines; `div` keeps the index integral.  The empty-word guard is
#: load-bearing for cross-engine seed equality (r12 ADVICE): Spark's
#: sequence(1, 0) yields a DESCENDING [1, 0] — so w = '' would seed
#: syms = ['', ''] and a ('','') pair could pollute the merge argmax —
#: while DuckDB's range(1, 1) yields [].  Guarded, both engines seed [].
BYTE_SYMS_EXPR = (
    "CASE WHEN w = '' THEN CAST(array() AS ARRAY<STRING>) "
    "ELSE transform(sequence(1, length(hex(encode(w, 'UTF-8'))) div 2), "
    "i -> substring(hex(encode(w, 'UTF-8')), 2 * i - 1, 2)) END"
)

#: DuckDB twin of BYTE_SYMS_EXPR (encode() -> BLOB, hex() -> uppercase).
BYTE_SYMS_SQL = (
    "list_transform(range(1, len(hex(encode(w))) // 2 + 1), "
    "i -> substring(hex(encode(w)), 2 * i - 1, 2))"
)


def byte_symbol_words(words: DataFrame) -> DataFrame:
    """(w, freq) vocab -> (w, freq, syms) with UTF-8 byte-pair-hex
    symbols — the byte-level seeding of the shared merge loop."""
    return words.select("w", "freq", F.expr(BYTE_SYMS_EXPR).alias("syms"))


def bytebpe_train_tops(words: DataFrame, rounds: int = 3) -> list:
    """Byte-level BPE training: operators/merges' rounds with the
    (n DESC, a, b) argmax, over the byte symbols of the (w, freq) vocab."""
    syms = byte_symbol_words(words).select(F.col("freq").alias("cnt"), "syms")
    return train(syms, rounds)


def encode_words_bytebpe(words: DataFrame, tops: list) -> DataFrame:
    """Apply the trained merge table in training order to every vocab
    word; returns (w, freq, syms).  concat(unhex(concat(syms))) must
    reconstruct w exactly — byte-BPE can never lose or invent bytes
    (the round-trip test pins it, multi-byte codepoints included)."""
    enc = byte_symbol_words(words).select(
        "w", F.col("freq").alias("cnt"), "syms"
    )
    enc = apply_merges(enc, tops, "w", "cnt")
    return enc.select("w", F.col("cnt").alias("freq"), "syms")
