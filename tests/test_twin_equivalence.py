"""Arrow twins vs their JVM pipelines, bit for bit.

Three functions split their input: rows inside a guard (ASCII; for
minhash and repetition also >= 3 tokens) take a pandas-UDF twin, every
other row the original JVM pipeline. Covered here: the minhash signature
(``_minhash_sig_batch`` vs ``_minhash_sig_table_jvm``, which the dedup
gate persists and compares across batches), the simhash fingerprint
(``_simhash_batch`` vs ``_simhash_table_jvm``) and the repetition
signals (``_repetition_batch`` vs ``_repetition_table_jvm``). On every
row inside the guard the two must agree on every integer and every
double. The corpus is adversarial for the tokenizer mirror
(``_py_tokens``): every whitespace character Java's ``\\s`` knows (tab,
newline, ``\\x0b``, ``\\f``, carriage return), characters Python's
``str.split()`` would treat as whitespace but ``\\s`` does not (``\\x1c``,
``\\x85``), leading and trailing spaces, empty tokens, docs with fewer
than 3 tokens, repeated tokens and non-ASCII rows.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.plans.llm_ops import (
    _REP_STRUCT,
    _minhash_sig_batch,
    _minhash_sig_table_jvm,
    _repetition_batch,
    _repetition_table_jvm,
    _simhash_batch,
    _simhash_table_jvm,
    minhash_sig_table,
    tokens,
)

_HAND_PICKED = [
    "the quick brown fox jumps",
    "  leading and trailing spaces  ",
    "tab\tseparated\ttokens here",
    "\tleading tab makes an empty first token",
    "trailing tab makes an empty last token\t",
    "vertical\x0btab and\x0cform feed",
    "carriage\rreturn and\nnewline mixed",
    "runs  of   mixed \t\x0b\x0c\r\n whitespace",
    "file\x1cseparator is\x1da token char",
    "next\x85line is not java whitespace",
    "repeat repeat repeat repeat repeat",
    "a b a b a b a b",
    "two tokens",
    "one",
    "",
    "   ",
    "\t\t",
    "x y z",
    "café au lait with accents",
    "naïve résumé text here",
    "emoji 🙂 in the middle of text",
    "中文 文本 测试 一 二",
]

_ALPHABET = list("abcAB01 ") + [" ", " ", "\t", "\n", "\x0b", "\x0c", "\r", "\x1c"]


def _generated(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(0, 40)))
        for _ in range(n)
    ]


def _corpus(spark):
    texts = _HAND_PICKED + _generated(300)
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    ascii_ = F.octet_length("text") == F.length("text")
    return d.withColumn("ascii", ascii_).withColumn(
        "fast", ascii_ & (F.size(tokens("text")) >= 3)
    )


_REP_FIELDS = _REP_STRUCT.fieldNames()

# twin name -> (fast-slice value, JVM-slice value, guard column)
_TWINS = {
    "minhash": (
        lambda d: _minhash_sig_batch(F.col("text")),
        lambda d: _minhash_sig_table_jvm(d).select("doc_id", F.col("sig").alias("v")),
        "fast",
    ),
    "simhash": (
        lambda d: _simhash_batch(F.col("text")),
        lambda d: _simhash_table_jvm(d).select("doc_id", F.col("simhash").alias("v")),
        "ascii",
    ),
    "repetition": (
        lambda d: _repetition_batch(F.col("text")),
        lambda d: _repetition_table_jvm(d).select(
            "doc_id", F.struct(*_REP_FIELDS).alias("v")
        ),
        "fast",
    ),
}


@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_fast_slice_equals_jvm_slice(spark, twin):
    fast_value, jvm_table, guard = _TWINS[twin]
    d = _corpus(spark).filter(guard)
    rows = d.select("doc_id", "text", fast_value(d).alias("v")).collect()
    jvm = {r["doc_id"]: r["v"] for r in jvm_table(d).collect()}
    assert len(rows) > 100  # the corpus exercises the fast slice heavily
    for r in rows:
        assert r["v"] == jvm[r["doc_id"]], repr(r["text"])


def test_minhash_twin_declines_rows_outside_its_guard(spark):
    d = _corpus(spark).filter(~F.col("fast"))
    assert d.count() >= 10
    assert all(
        r["sig"] is None
        for r in d.select(_minhash_sig_batch(F.col("text")).alias("sig")).collect()
    )


def test_non_ascii_rows_route_to_jvm_slice(spark):
    d = _corpus(spark)
    non_ascii = [r for r in d.collect() if not r["text"].isascii()]
    assert len(non_ascii) >= 4
    assert not any(r["fast"] for r in non_ascii)

    got = {r["doc_id"]: r["sig"] for r in minhash_sig_table(d).collect()}
    want = {r["doc_id"]: r["sig"] for r in _minhash_sig_table_jvm(d).collect()}
    assert got == want
    # non-ASCII docs with >= 3 tokens are signed (by the JVM slice)
    assert {r["doc_id"] for r in non_ascii} & set(got)
