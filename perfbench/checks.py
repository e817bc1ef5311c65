"""Output checks run after every op, outside its timed region.

An op fails when it raises or when any check here returns a message.
A digest is order-independent: the sum of per-row ``xxhash64`` over
the deterministic output columns (``proc_us`` is a timing and is left
out), together with the row count.  The ``seed`` digest covers the whole
output; the ``canary`` digest covers the canary conversations, whose
output is the same under every seed.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F  # noqa: N812

from pdf_ocr_api_spark import fixtures, pipeline

DIGESTS = Path(__file__).resolve().parent / "digests.json"
SAMPLE_TURNS = 48


def digest(df, drop: tuple[str, ...] = ()) -> str:
    cols = sorted(c for c in df.columns if c not in drop)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def recorded_digests() -> dict[str, str]:
    """``"<workload>:<seed>"`` and ``"<workload>:canary"`` -> digest."""
    return json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}


def record_digests(workload: str, seed: int, digests: dict[str, str]) -> None:
    table = recorded_digests()
    for kind, value in digests.items():
        table[f"{workload}:{seed if kind == 'seed' else kind}"] = value
    DIGESTS.write_text(json.dumps(dict(sorted(table.items())), indent=1) + "\n")


def _canon(v):
    """Spark rows and in-process frames in one comparable form."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def sample(inp: pd.DataFrame, seed: int) -> pd.DataFrame:
    """A fixed, seeded sample of input turns."""
    rng = fixtures.rng_for("sample", seed)
    idx = sorted(rng.sample(range(len(inp)), min(SAMPLE_TURNS, len(inp))))
    return inp.iloc[idx][fixtures.TRANSCRIPT_COLUMNS].reset_index(drop=True)


def local_rows(sample_pdf: pd.DataFrame, with_services: bool) -> dict:
    """In-process ``make_extractor`` over the sample, keyed by turn."""
    fn = pipeline.make_extractor(fixtures.runtime_depara(), with_services=with_services)
    out = pd.concat(list(fn(iter([sample_pdf]))), ignore_index=True).drop(columns="proc_us")
    return {(r["conv_id"], int(r["turn_idx"])): _canon(r) for r in out.to_dict("records")}


def spark_rows(df, keys) -> dict:
    conv_ids = sorted({k[0] for k in keys})
    rows = df.filter(F.col("conv_id").isin(conv_ids)).drop("proc_us", "bucket").collect()
    got = {(r["conv_id"], int(r["turn_idx"])): _canon(r) for r in rows}
    return {k: got.get(k) for k in keys}


def compare_sample(expected: dict, got: dict) -> list[str]:
    bad = [k for k in expected if json.dumps(expected[k], sort_keys=True, default=str)
           != json.dumps(got.get(k), sort_keys=True, default=str)]
    return [f"sample rows differ from make_extractor: {bad[:3]}"] if bad else []


def extract_op(spark, out_root: str, summary: dict, n_input: int, expected: dict,
               records: bool, canary_prefix: str) -> tuple[list[str], dict]:
    """Checks of one ``runner --records`` / ``--text-only`` op."""
    from pdf_ocr_api_spark import lineage

    errors = []
    if summary.get("buckets_skipped") != []:
        errors.append(f"buckets skipped: {summary.get('buckets_skipped')}")
    if summary.get("turns") != n_input:
        errors.append(f"turns out {summary.get('turns')} != turns in {n_input}")
    lin = lineage.read_lineage(spark, out_root).agg(
        F.sum("input_count").alias("i"), F.sum("extracted_count").alias("e"),
        F.sum((F.col("input_count") != F.col("extracted_count")).cast("int")).alias("bad"),
    ).collect()[0]
    if lin["bad"] or lin["i"] != n_input or lin["e"] != n_input:
        errors.append(f"lineage input/extracted mismatch: {lin.asDict()}")
    tables = [lineage.read_output(spark, out_root).drop("proc_us")]
    errors += compare_sample(expected, spark_rows(tables[0], list(expected)))
    if records:
        tables.append(spark.read.parquet(f"{out_root}/records"))
    canary = F.col("conv_id").startswith(canary_prefix)
    return errors, {
        "seed": "/".join(digest(t) for t in tables),
        # ids (and the buckets hashed from them) are the only seeded part
        "canary": "/".join(digest(t.filter(canary), drop=("conv_id", "bucket")) for t in tables),
    }


def corpus_op(spark, out_root: str, summary: dict, n_batch: int, batch_prefix: str
              ) -> tuple[list[str], dict]:
    """Checks of one ``runner --clean-incremental`` op."""
    errors = []
    kept = summary.get("new_rows_kept")
    if kept is None or not 0 < kept <= n_batch:
        errors.append(f"rows kept {kept} not in (0, {n_batch}]")
    if not summary.get("substring_tokens_removed"):
        errors.append("substring dedup removed no tokens: copied passages were not found")
    appended = spark.read.parquet(f"{out_root}/corpus").filter(
        F.col("conv_id").startswith(batch_prefix))
    n = appended.count()
    if n != kept:
        errors.append(f"corpus gained {n} batch rows, summary says {kept}")
    return errors, {"seed": f"{digest(appended)}/{summary.get('substring_tokens_removed')}"}
