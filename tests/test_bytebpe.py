"""Byte-level BPE groundwork tests (operators/bytebpe.py — round-13
registration item): cross-engine seed equality, multi-byte round-trip,
Python-reference trainer equality, and ASCII degeneration to the char
trainer."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators.bytebpe import (
    BYTE_SYMS_SQL,
    byte_symbol_words,
    bytebpe_train_tops,
    encode_words_bytebpe,
)


def _words(spark, rows):
    return spark.createDataFrame(rows, "w string, freq long")


WORDS = [("cafeé", 3), ("straße", 2), ("scan", 5), ("ab", 4)]


@pytest.mark.quick
def test_byte_seed_matches_duckdb_and_utf8(spark):
    """The hex-pair seed equals DuckDB's twin AND the actual UTF-8
    encoding for ASCII and multi-byte words alike."""
    got = {
        r.w: r.syms
        for r in byte_symbol_words(_words(spark, WORDS)).collect()
    }
    duck = dict(
        duckdb.sql(
            "SELECT w, " + BYTE_SYMS_SQL + " FROM (VALUES "
            + ", ".join(f"('{w}')" for w, _ in WORDS)
            + ") AS t(w)"
        ).fetchall()
    )
    for w, _ in WORDS:
        want = [f"{b:02X}" for b in w.encode("utf-8")]
        assert got[w] == want, w
        assert duck[w] == want, w


@pytest.mark.quick
def test_roundtrip_multibyte(spark):
    """Encoded symbols always reconstruct the original word byte-for-
    byte — the <unk>-free guarantee (multi-byte codepoints included)."""
    words = _words(spark, WORDS)
    tops = bytebpe_train_tops(words, rounds=3)
    enc = encode_words_bytebpe(words, tops)
    back = enc.select(
        "w",
        F.expr("decode(unhex(concat_ws('', syms)), 'UTF-8')").alias("rt"),
    )
    for r in back.collect():
        assert r.rt == r.w


def _py_bytebpe(words, rounds):
    """Reference byte-BPE: pair counts weighted by freq, (n desc, a, b)
    argmax, leftmost-non-overlapping rewrite."""
    seqs = {
        w: ([f"{b:02X}" for b in w.encode("utf-8")], f) for w, f in words
    }
    merges = []
    for _ in range(rounds):
        counts = {}
        for syms, f in seqs.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, n))
        for w, (syms, f) in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = (out, f)
    return merges, seqs


@pytest.mark.quick
def test_trainer_matches_python_reference(spark):
    """Three merge rounds == the Python reference on a planted vocab
    where the winning pair involves a multi-byte codepoint."""
    rows = [("éé", 10), ("ab", 3), ("ba", 2)]
    tops = bytebpe_train_tops(_words(spark, rows), rounds=3)
    got = [
        (t.collect()[0].a, t.collect()[0].b, t.collect()[0].n) for t in tops
    ]
    want, seqs = _py_bytebpe(rows, 3)
    assert got == want
    # and the rewritten symbol streams agree
    enc = {
        r.w: r.syms
        for r in encode_words_bytebpe(_words(spark, rows), tops).collect()
    }
    for w, (syms, _) in seqs.items():
        assert enc[w] == syms, w


def test_ascii_degenerates_to_char_bpe(spark):
    """On a pure-ASCII vocab, byte-BPE == char-BPE with hex-renamed
    symbols: merge sequence and counts identical under the char<->hex
    bijection (the honesty check that the byte path adds nothing on
    this corpus until multi-byte data arrives)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    from newyork_taxi_etl_spark.operators.merges import char_vocab, train

    btops = bytebpe_train_tops(vocab, rounds=3)
    ctops = train(char_vocab(docs), rounds=3)
    for bt, ct in zip(btops, ctops):
        b, c = bt.collect()[0], ct.collect()[0]
        assert b.n == c.n
        # hex->char bijection: unhex the byte symbols
        assert bytes.fromhex(b.a).decode("utf-8") == c.a
        assert bytes.fromhex(b.b).decode("utf-8") == c.b


@pytest.mark.quick
def test_empty_word_seeds_empty_on_both_engines(spark):
    """r12 ADVICE guard: Spark's sequence(1, 0) is a DESCENDING [1, 0],
    so an unguarded seed turns w = '' into ['', ''] — the guarded
    expression must yield [] on BOTH engines (DuckDB's range(1, 1)
    already does), keeping the cross-engine seed-equality contract even
    if a caller ever skips the non-empty-vocab filter."""
    got = byte_symbol_words(_words(spark, [("", 1), ("ab", 2)])).collect()
    by_w = {r.w: r.syms for r in got}
    assert by_w[""] == []
    assert by_w["ab"] == ["61", "62"]
    duck = duckdb.sql(
        "SELECT " + BYTE_SYMS_SQL + " FROM (VALUES ('')) AS t(w)"
    ).fetchall()
    assert duck[0][0] == []
