"""Checkpoint manifest + idempotent resume (FIXTURES.md §4)."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark import fixtures, lineage


@pytest.fixture()
def transcripts(spark):
    return spark.createDataFrame(fixtures.fixture_frame(20))


def test_resume_skips_done_buckets(spark, transcripts, tmp_path):
    out = str(tmp_path / "run")
    s1 = lineage.run(spark, transcripts, out, run_id="r1", n_buckets=8)
    assert s1["turns"] > 0 and len(s1["buckets_processed"]) == 8

    s2 = lineage.run(spark, transcripts, out, run_id="r2", n_buckets=8)
    assert s2["turns"] == 0
    assert s2["buckets_processed"] == []
    assert s2["buckets_skipped"] == s1["buckets_processed"]

    # lineage rows only from the first run
    lin = lineage.read_lineage(spark, out).toPandas()
    assert set(lin.run_id) == {"r1"}


def test_partial_resume_produces_identical_output(spark, transcripts, tmp_path):
    """Pre-mark half the buckets done (by running on a half-input), then
    resume with the full input: only pending buckets produce lineage, and
    the final table equals a clean full run byte-for-byte."""
    half_buckets = [0, 1, 2, 3]
    with_b = transcripts.withColumn("b", lineage.bucket_expr(8))
    first_half = with_b.filter(F.col("b").isin(half_buckets)).drop("b")

    out_a = str(tmp_path / "resumed")
    lineage.run(spark, first_half, out_a, run_id="half", n_buckets=8)
    s2 = lineage.run(spark, transcripts, out_a, run_id="rest", n_buckets=8)
    assert sorted(s2["buckets_skipped"]) == half_buckets
    assert sorted(s2["buckets_processed"]) == [4, 5, 6, 7]

    out_b = str(tmp_path / "clean")
    lineage.run(spark, transcripts, out_b, run_id="clean", n_buckets=8)

    cols = ["conv_id", "turn_idx", "kind", "clean_text", "n_chars_in", "n_chars_out"]
    a = lineage.read_output(spark, out_a).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    b = lineage.read_output(spark, out_b).select(cols).orderBy("conv_id", "turn_idx").toPandas()
    assert a.equals(b)

    lin = lineage.read_lineage(spark, out_a).toPandas()
    assert set(lin[lin.run_id == "rest"].bucket) == {4, 5, 6, 7}


def test_lineage_counts_reconcile(spark, transcripts, tmp_path):
    out = str(tmp_path / "counts")
    lineage.run(spark, transcripts, out, run_id="r", n_buckets=4)
    lin = lineage.read_lineage(spark, out)
    data = lineage.read_output(spark, out)
    assert lin.agg(F.sum("extracted_count")).collect()[0][0] == data.count()
    assert lin.agg(F.sum("bytes_out")).collect()[0][0] == data.agg(F.sum("n_chars_out")).collect()[0][0]
    # per-bucket counts match the data partitioning
    per_bucket = {r.bucket: r.cnt for r in data.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}
    for r in lin.collect():
        assert per_bucket[r.bucket] == r.extracted_count


def test_mode_mixing_refused(spark, transcripts, tmp_path):
    """A text-only resume atop a full-mode root must be refused —
    heterogeneous buckets would silently corrupt downstream assembly."""
    out = str(tmp_path / "mixed")
    half = transcripts.filter(F.pmod(F.crc32("conv_id"), F.lit(8)) < 4)
    lineage.run(spark, half, out, run_id="full", n_buckets=8)
    with pytest.raises(ValueError, match="refusing to resume"):
        lineage.run(spark, transcripts, out, run_id="fast", n_buckets=8, with_services=False)


def test_n_buckets_mismatch_refused(spark, transcripts, tmp_path):
    """Resuming with a different bucket count would skip/duplicate
    conversations (bucket ids identify different sets) — must refuse."""
    out = str(tmp_path / "nb")
    lineage.run(spark, transcripts, out, run_id="a", n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        lineage.run(spark, transcripts, out, run_id="b", n_buckets=16)


def test_depara_mismatch_refused(spark, transcripts, tmp_path):
    """Resuming with a different de/para dimension payload would mix
    buckets extracted under incompatible rules — must refuse (the
    manifest records a digest of the payload)."""
    from pdf_ocr_api_spark import fixtures

    out = str(tmp_path / "dep")
    half = transcripts.filter(F.pmod(F.crc32("conv_id"), F.lit(8)) < 4)
    lineage.run(spark, half, out, run_id="a", n_buckets=8)
    altered = dict(fixtures.runtime_depara())
    altered["unidade"] = list(altered.get("unidade") or []) + [{"id": 9999, "valor": "ZZZ"}]
    with pytest.raises(ValueError, match="de/para"):
        lineage.run(spark, transcripts, out, run_id="b", n_buckets=8, depara=altered)


def test_lineage_input_count_measured_on_input(spark, transcripts, tmp_path):
    """input_count must reconcile against the INPUT transcripts per
    bucket, not echo the output count."""
    out = str(tmp_path / "inp")
    lineage.run(spark, transcripts, out, run_id="a", n_buckets=4)
    lin = lineage.read_lineage(spark, out)
    want = {
        r.bucket: r.cnt
        for r in transcripts.withColumn("bucket", lineage.bucket_expr(4))
        .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
    }
    got = {r.bucket: r.input_count for r in lin.collect()}
    assert got == want


def test_lineage_ts_exact_across_time_zones(spark, transcripts, tmp_path, monkeypatch):
    """Lineage and manifest carry the collected rollup's ``ts`` exactly,
    even when the session time zone differs from the process one (the
    collected ``ts`` is a naive process-local datetime)."""
    import time

    from pdf_ocr_api_spark import sources

    captured = []
    real = sources.io.local_frame

    def spy(spark_, rows, schema):
        captured.append(list(rows))
        return real(spark_, rows, schema)

    monkeypatch.setattr(lineage, "local_frame", spy)
    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = str(tmp_path / "tz")
    try:
        t0 = time.time()
        lineage.run(spark, transcripts, out, run_id="tz", n_buckets=4)
        t1 = time.time()
        # naive process-local datetimes: convert while TZ still applies
        expected = {
            r.bucket: int(r.ts.timestamp()) * 10**6 + r.ts.microsecond for r in captured[0]
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        monkeypatch.undo()
        time.tzset()

    def micros(path):
        q = spark.read.parquet(f"{out}/{path}").select("bucket", F.unix_micros("ts").alias("us"))
        return {r.bucket: r.us for r in q.collect()}

    lin, man = micros("lineage"), micros("manifest")
    assert lin == man and len(lin) == 4
    assert expected == lin
    assert all(t0 - 1 <= us / 1e6 <= t1 + 1 for us in lin.values())


def test_epoch_us_round_trips_a_repeated_dst_hour(monkeypatch):
    import datetime as dt
    import time

    from pdf_ocr_api_spark.sources.io import _epoch_us

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        # both instants read 2024-11-03 01:30 local; fromtimestamp sets fold
        for t in (1730611800, 1730615400):
            assert _epoch_us(dt.datetime.fromtimestamp(t)) == t * 10**6
    finally:
        monkeypatch.undo()
        time.tzset()
