"""Streaming dedup gate (streaming/dedup_stream.py) — the composition
pins: however the file source cuts the drops into micro-batches, the
union of emitted flag pairs equals the one-shot full-corpus LSH, the
index converges to ``minhash_sig_table`` of everything ingested, a
finished stream re-run is a checkpointed no-op, and late-landing files
are gated against everything previously accepted."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_lambda_spark.plans.llm_ops import (
    dedup_minhash_lsh,
    minhash_sig_table,
)
from data_ingestion_lambda_spark.streaming.dedup_stream import (
    run_dedup_gate_available_now,
)
from tests.conftest import SF_SMOKE

_N_DAYS = 3


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")


def _drop_day(docs, day, source_dir):
    docs.filter(F.col("doc_id") % _N_DAYS == day).coalesce(1).write.parquet(
        f"{source_dir}/day{day}", mode="overwrite"
    )


def _canonical_pairs(rows):
    return sorted(
        (min(r["a"], r["b"]), max(r["a"], r["b"]), round(r["j"], 9)) for r in rows
    )


def _flag_pairs(spark, matches_dir):
    return _canonical_pairs(
        spark.read.parquet(str(matches_dir))
        .select(
            F.col("new_doc").alias("a"),
            F.col("dup_of").alias("b"),
            F.col("est_jaccard").alias("j"),
        )
        .collect()
    )


def test_streamed_gate_equals_one_shot_lsh(spark, tmp_path):
    docs = _docs(spark)
    src = tmp_path / "drops"
    for day in range(_N_DAYS):
        _drop_day(docs, day, src)
    reports = run_dedup_gate_available_now(
        spark,
        str(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        matches_dir=str(tmp_path / "matches"),
        max_files_per_trigger=1,
    )
    # one micro-batch per file drop, every batch saw documents
    assert len(reports) == _N_DAYS
    assert all(r["batch_docs"] > 0 for r in reports)

    want = _canonical_pairs(
        dedup_minhash_lsh(spark, SF_SMOKE)
        .select(
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("est_jaccard").alias("j"),
        )
        .collect()
    )
    assert _flag_pairs(spark, tmp_path / "matches") == want

    # the index converged to the full-corpus signature table
    stored = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.read.parquet(str(tmp_path / "index"))
        .select("doc_id", "sig")
        .collect()
    )
    oneshot = sorted(
        (r["doc_id"], tuple(r["sig"])) for r in minhash_sig_table(docs).collect()
    )
    assert stored == oneshot


def test_cli_dedup_gate_stream_roundtrip(spark, tmp_path, capsys):
    import json

    from data_ingestion_lambda_spark.cli import main

    docs = _docs(spark)
    src = tmp_path / "drops"
    for day in range(_N_DAYS):
        _drop_day(docs, day, src)
    assert (
        main(
            [
                "dedup-gate",
                "--index",
                str(tmp_path / "index"),
                "--stream-source",
                str(src),
                "--checkpoint",
                str(tmp_path / "ckpt"),
                "--matches-out",
                str(tmp_path / "matches"),
                "--max-files-per-trigger",
                "1",
            ]
        )
        == 0
    )
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["statusCode"] == 200 and len(report["batches"]) == _N_DAYS
    want = _canonical_pairs(
        dedup_minhash_lsh(spark, SF_SMOKE)
        .select(
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("est_jaccard").alias("j"),
        )
        .collect()
    )
    assert _flag_pairs(spark, tmp_path / "matches") == want


def test_finished_stream_rerun_is_noop_and_late_files_gate_incrementally(
    spark, tmp_path
):
    docs = _docs(spark)
    src = tmp_path / "drops"
    for day in range(_N_DAYS - 1):
        _drop_day(docs, day, src)
    args = (str(src), str(tmp_path / "index"), str(tmp_path / "ckpt"))
    kwargs = {"matches_dir": str(tmp_path / "matches"), "max_files_per_trigger": 1}
    first = run_dedup_gate_available_now(spark, *args, **kwargs)
    assert len(first) == _N_DAYS - 1
    pairs_before = _flag_pairs(spark, tmp_path / "matches")

    # finished stream, nothing new: checkpointed no-op — no batch runs
    assert run_dedup_gate_available_now(spark, *args, **kwargs) == []
    assert _flag_pairs(spark, tmp_path / "matches") == pairs_before

    # a late drop is gated against everything previously accepted, and
    # the total flag set converges to the one-shot full-corpus answer
    _drop_day(docs, _N_DAYS - 1, src)
    late = run_dedup_gate_available_now(spark, *args, **kwargs)
    assert len(late) == 1 and late[0]["batch_docs"] > 0
    want = _canonical_pairs(
        dedup_minhash_lsh(spark, SF_SMOKE)
        .select(
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("b"),
            F.col("est_jaccard").alias("j"),
        )
        .collect()
    )
    assert _flag_pairs(spark, tmp_path / "matches") == want


def test_streamed_gate_releases_what_each_batch_pinned(spark, tmp_path):
    # Every micro-batch pins its signature table (minhash_sig_table) and
    # its flag table; a long-running stream must not keep one cached
    # copy per batch for the life of the session.
    from data_ingestion_lambda_spark.plans import registry

    docs = _docs(spark)
    src = tmp_path / "drops"
    for day in range(_N_DAYS):
        _drop_day(docs, day, src)
    jsc = spark.sparkContext._jsc
    rdds_before = jsc.getPersistentRDDs().size()
    pinned_before = len(registry._PINNED)
    reports = run_dedup_gate_available_now(
        spark,
        str(src),
        str(tmp_path / "index"),
        str(tmp_path / "ckpt"),
        matches_dir=str(tmp_path / "matches"),
        max_files_per_trigger=1,
    )
    assert len(reports) == _N_DAYS
    assert jsc.getPersistentRDDs().size() == rdds_before
    assert len(registry._PINNED) == pinned_before
