"""Checkpointed, resumable extraction runs: lineage + manifest (FIXTURES §4).

The reference tracks one job row in an external store (ref server.cjs:11-30,
jobs.js:1-48 — LRU cap 100, 10-min TTL). At 10^12-turn scale the unit of
tracking is the **bucket**: a deterministic hash partition of conversations
(`pmod(crc32(conv_id), n_buckets)`). Three logical tables:

* ``data``     — extracted turns, partitioned by bucket
* ``lineage``  — per-bucket metrics per run: input/extracted counts, bytes
                 in/out, services, UDF processing time (FIXTURES.md §4)
* ``manifest`` — bucket completion markers; a rerun anti-joins finished
                 buckets and touches ONLY pending ones (idempotent resume —
                 the distributed analogue of the reference's status poll,
                 ref server.cjs:99-103)

Writes are bucket-wise dynamic-partition overwrites, so a crashed run that
re-processes a bucket converges to the same bytes (extraction is a pure
per-turn function — see tests/test_pipeline.py::test_partition_invariance).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_transcripts
from .sources.io import local_frame, read_table, table_exists, write_table

DEFAULT_BUCKETS = 64


def bucket_expr(n_buckets: int):
    return F.pmod(F.crc32(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _paths(out_root: str) -> dict:
    if "/" in out_root:
        return {k: f"{out_root}/{k}" for k in ("data", "lineage", "manifest")}
    return {k: f"{out_root}_{k}" for k in ("data", "lineage", "manifest")}


def done_buckets(spark: SparkSession, out_root: str) -> list[int]:
    p = _paths(out_root)
    if not table_exists(spark, p["manifest"]):
        return []
    m = read_table(spark, p["manifest"])
    return [r.bucket for r in m.filter(F.col("status") == "done").select("bucket").distinct().collect()]


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    depara: dict | None = None,
    salt: int | None = None,
    with_services: bool = True,
    with_styling: bool = False,
    with_tables: bool = False,
    with_metadata: bool = False,
    compact_write: bool = True,
) -> dict:
    """Execute one checkpointed extraction run; returns summary stats.

    Only buckets not yet marked done in the manifest are processed.

    ``compact_write``: repartition by bucket before the partitioned
    write — one shuffle, but the file count is O(n_buckets) instead of
    O(tasks × buckets) (a 10^12-turn run with 10k buckets would
    otherwise shatter into millions of small files). Disable only for
    small local runs where the shuffle outweighs the file tax.
    """
    p = _paths(out_root)
    done = set(done_buckets(spark, out_root))
    # the mode string is part of the resume guard: any option that
    # changes the OUTPUT SCHEMA must refuse to mix within one root
    mode = "full" if with_services else "text_only"
    if with_styling:
        mode += "+styled"
    if with_tables:
        mode += "+tables"
    if with_metadata:
        mode += "+meta"

    if depara is None:
        from .fixtures import runtime_depara

        depara = runtime_depara()
    # the de/para dimension payload shapes the extraction output: a resume
    # under a different payload would mix incompatible bucket contents
    # just like a different mode would — digest it into the manifest
    import hashlib
    import json as _json

    depara_digest = hashlib.md5(
        _json.dumps(depara, sort_keys=True, ensure_ascii=False, default=str).encode()
    ).hexdigest()

    # refuse to mix extraction modes or bucket counts within one output
    # root — a resumed run with different settings would silently skip
    # some conversations and duplicate others (bucket ids from a
    # different n_buckets identify different conversation sets)
    if done and table_exists(spark, p["manifest"]):
        m = read_table(spark, p["manifest"])
        mode_col = F.coalesce(F.col("mode"), F.lit("full")) if "mode" in m.columns else F.lit("full")
        nb_col = (
            F.coalesce(F.col("n_buckets"), F.lit(n_buckets))  # pre-upgrade rows → assume current
            if "n_buckets" in m.columns
            else F.lit(n_buckets)
        )
        dig_col = (
            F.coalesce(F.col("depara_digest"), F.lit(depara_digest))  # pre-upgrade rows
            if "depara_digest" in m.columns
            else F.lit(depara_digest)
        )
        prev = m.select(mode_col.alias("mode"), nb_col.alias("nb"), dig_col.alias("dig")).distinct().collect()
        prev_modes = {r.mode for r in prev}
        prev_nb = {r.nb for r in prev}
        prev_dig = {r.dig for r in prev}
        if prev_modes and prev_modes != {mode}:
            raise ValueError(
                f"output root {out_root!r} was written in mode(s) {sorted(prev_modes)}; "
                f"refusing to resume in mode {mode!r}"
            )
        if prev_nb and prev_nb != {n_buckets}:
            raise ValueError(
                f"output root {out_root!r} was bucketed with n_buckets={sorted(prev_nb)}; "
                f"refusing to resume with n_buckets={n_buckets}"
            )
        if prev_dig and prev_dig != {depara_digest}:
            raise ValueError(
                f"output root {out_root!r} was extracted with a different de/para payload "
                f"(digest {sorted(prev_dig)} != {depara_digest}); refusing to resume"
            )

    df = transcripts.withColumn("bucket", bucket_expr(n_buckets))
    if done:
        df = df.filter(~F.col("bucket").isin(list(done)))

    t0 = time.monotonic()
    extracted = extract_transcripts(
        df.drop("bucket"),
        depara=depara,
        salt=salt,
        with_services=with_services,
        with_styling=with_styling,
        with_tables=with_tables,
        with_metadata=with_metadata,
    ).withColumn("bucket", bucket_expr(n_buckets))
    if compact_write:
        extracted = extracted.repartition(n_buckets, F.col("bucket"))

    write_table(extracted, p["data"], mode="overwrite_partitions", partition_by=["bucket"])
    wall_ms = int((time.monotonic() - t0) * 1000)

    # input counts come from the PRE-extraction transcripts (conv_id-only
    # columnar scan): extraction is 1:1 today, but the lineage contract is
    # input-vs-extracted reconciliation, so the 'input' metric must be
    # measured on the input, not echoed from the output
    input_counts = df.groupBy("bucket").agg(F.count("*").alias("input_count"))

    # lineage rollup — reads back the just-written buckets (cheap columnar
    # scan) so metrics reflect what is durably on disk, not what a retried
    # task produced twice
    out = read_table(spark, p["data"])
    if done:
        out = out.filter(~F.col("bucket").isin(list(done)))
    lineage = (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("extracted_count"),
            F.sum("n_chars_in").alias("bytes_in"),
            F.sum("n_chars_out").alias("bytes_out"),
            F.sum(F.size("services")).alias("services_count"),
            F.sum("proc_us").alias("proc_us"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(wall_ms))
        .withColumn("ts", F.current_timestamp())
    )
    lineage = input_counts.join(lineage, "bucket", "right").withColumn(
        "input_count", F.coalesce("input_count", F.lit(0))
    )
    lineage = lineage.select(
        "bucket", "input_count", "extracted_count", "bytes_in", "bytes_out",
        "services_count", "proc_us", "run_id", "wall_ms", "ts",
    )
    # collect ONCE: the rollup plan (read-back groupBy + input-scan join)
    # would otherwise lazily re-execute for every consumer below — the
    # lineage write, the manifest write, the bucket list and the totals
    # were four independent actions (three redundant full passes at the
    # 10^12-turn design point), and per-action F.current_timestamp()
    # even gave lineage and manifest different ts values within one run.
    # The result is ~n_buckets rows — driver-trivial.
    rows = lineage.collect()

    # idempotent lineage append: a crash between the lineage and
    # manifest writes leaves ORPHAN lineage rows for buckets that were
    # never manifested — the resume reprocesses those buckets (data
    # converges via overwrite_partitions) and must not append their
    # metrics twice. Only non-manifested buckets reach this point, so
    # any bucket already present in the lineage table IS such an orphan:
    # keep the durable row, skip the duplicate.
    fresh = rows
    if rows and table_exists(spark, p["lineage"]):
        seen = {
            r.bucket
            for r in read_table(spark, p["lineage"]).select("bucket").distinct().collect()
        }
        fresh = [r for r in rows if r.bucket not in seen]
    if fresh:
        write_table(local_frame(spark, fresh, lineage.schema), p["lineage"], mode="append")

    if rows:
        # manifest marks EVERY bucket processed this run as done — the
        # commit point of the resume protocol (written last)
        lineage_local = local_frame(spark, rows, lineage.schema)
        manifest = (
            lineage_local.select("bucket", "ts")
            .withColumn("run_id", F.lit(run_id))
            .withColumn("status", F.lit("done"))
            .withColumn("mode", F.lit(mode))
            .withColumn("n_buckets", F.lit(n_buckets))
            .withColumn("depara_digest", F.lit(depara_digest))
            .select("bucket", "run_id", "status", "mode", "n_buckets", "depara_digest", "ts")
        )
        write_table(manifest, p["manifest"], mode="append")

    new_buckets = [r.bucket for r in rows]
    return {
        "run_id": run_id,
        "wall_ms": wall_ms,
        "buckets_processed": sorted(new_buckets),
        "buckets_skipped": sorted(done),
        "turns": sum(r.extracted_count or 0 for r in rows),
        "services": sum(r.services_count or 0 for r in rows),
    }


def read_output(spark: SparkSession, out_root: str) -> DataFrame:
    return read_table(spark, _paths(out_root)["data"])


def read_lineage(spark: SparkSession, out_root: str) -> DataFrame:
    return read_table(spark, _paths(out_root)["lineage"])
