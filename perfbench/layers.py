"""Per-layer metrics of a traced run.

``pipeline_probe`` and ``local_probes`` are calls the benchmark makes
straight into a layer's public functions; ``op_metrics`` splits one
traced runner op by its spans and by the Spark counters charged to
them.  Layers report 0 on workloads that never call them.
"""

from __future__ import annotations

import json

import pandas as pd

import sparkstats
from sparkstats import MB
from tracing import descendants, duration, self_times

BATCH_ROWS = 2048  # spark.sql.execution.arrow.maxRecordsPerBatch of the session
# The op's root span may keep at most this share of its wall time for
# itself; the rest is covered by layer spans on the blocking path.
OTHER_MAX_SHARE = 0.2
SELF_LAYERS = ("pipeline", "lineage", "io", "conversation", "ops", "runner")


def pipeline_probe(w, tracer) -> dict:
    """``extract_transcripts(...)`` on its own: plan construction, then
    execution on the frame's own ``queryExecution`` so the executed
    plan's ``MapInPandas`` metrics and Catalyst phases are the ones that
    ran.  Run first in the session, so Python worker boot shows."""
    from pdf_ocr_api_spark import pipeline

    df = w.spark.read.parquet(w.input_path)
    with tracer.span("pipeline.plan") as plan:
        ext = pipeline.extract_transcripts(df, with_services=w.with_services)
    qe = ext._jdf.queryExecution()
    with tracer.span("pipeline.exec") as ex:
        rows = qe.toRdd().count()
    st = sparkstats.stage_stats(w.spark, {ex["group"]})
    py = sparkstats.map_in_pandas_metrics(qe)
    return {
        "pipeline.plan_s": duration(plan),
        "pipeline.exec_s": duration(ex),
        "pipeline.catalyst_s": sparkstats.catalyst_phases(qe),
        "pipeline.core_s": st["core_s"],
        "pipeline.py_s": py.get("pythonTotalTime", 0) / 1e3,
        "pipeline.py_boot_s": py.get("pythonBootTime", 0) / 1e3,
        "pipeline.py_init_s": py.get("pythonInitTime", 0) / 1e3,
        "pipeline.arrow_in_mb": py.get("pythonDataSent", 0) / MB,
        "pipeline.arrow_out_mb": py.get("pythonDataReceived", 0) / MB,
        "pipeline.rows_out": py.get("pythonNumRowsReceived", 0),
        "pipeline.rows_counted": rows,
    }


def local_probes(w, tracer) -> dict:
    """In-process calls on the same pandas batches the UDF sees."""
    from pdf_ocr_api_spark import fixtures, pipeline
    from pdf_ocr_api_spark.extract.html_extract import extract_html
    from pdf_ocr_api_spark.extract.pdf_layout import extract_pdf_layout
    from pdf_ocr_api_spark.extract.services import parse_lines_batch, parse_services_tiered
    from pdf_ocr_api_spark.functions.normalize import v_clean_line
    from pdf_ocr_api_spark.functions.patterns import boilerplate_mask

    from inputs import COLUMNS

    depara = fixtures.runtime_depara()
    inp = w.inp[COLUMNS]
    batches = [inp.iloc[i:i + BATCH_ROWS] for i in range(0, len(inp), BATCH_ROWS)]
    fn = pipeline.make_extractor(depara, with_services=w.with_services)
    with tracer.span("pipeline.local") as local:
        for _ in fn(iter(batches)):
            pass
    with tracer.span("pipeline.classify") as cls:
        routes = pd.concat([pipeline.classify_batch(b["text"]) for b in batches])
    text = inp["text"][routes == "text"]
    lines = text.fillna("").str.split("\n").explode()
    with tracer.span("functions.clean_line") as clean:
        cleaned = v_clean_line(lines)
    cleaned = cleaned[cleaned != ""]
    with tracer.span("functions.boilerplate") as boiler:
        mask = boilerplate_mask(cleaned)
    html = inp["text"][routes == "html"].tolist()
    with tracer.span("extract.html") as ht:
        for t in html:
            extract_html(t)
    docs = [json.loads(t) for t in inp["text"][routes == "json"]]
    layout = [d for d in docs if "elements" in d]
    with tracer.span("extract.layout") as lay:
        for d in layout:
            extract_pdf_layout(d)
    out = {
        "pipeline.local_us_per_turn": duration(local) / len(inp) * 1e6,
        "pipeline.classify_s": duration(cls),
        "functions.clean_line_s": duration(clean),
        "functions.boilerplate_s": duration(boiler),
        "extract.html_s": duration(ht),
        "extract.layout_s": duration(lay),
        "extract.services_s": 0.0,
        "extract.lines_batch_s": 0.0,
        "extract.turns.text": int((routes == "text").sum()),
        "extract.turns.html": len(html),
        "extract.turns.json": len(docs),
    }
    if w.with_services:  # the service cascade runs only in full mode
        tables = [d for d in docs if "elements" not in d]
        with tracer.span("extract.services") as svc:
            for d in tables:
                parse_services_tiered(d, depara)
        with tracer.span("extract.lines_batch") as lb:
            parse_lines_batch(cleaned[~mask], depara)
        out["extract.services_s"] = duration(svc)
        out["extract.lines_batch_s"] = duration(lb)
    return out


def op_metrics(w, tracer, root: dict, op: dict, out_root) -> dict:
    """The traced op's split by its spans and by the Spark counters
    charged to them (``spark.catalyst_s`` is added by the caller)."""
    spans = tracer.op_spans(root["op"])
    wall = duration(root)
    selfs = self_times(spans)
    summary = op["summary"] or {}

    def total(pred) -> float:
        return sum(duration(s) for s in spans if pred(s))

    def stats(roots: list[dict]) -> dict:
        tree = roots + [d for r in roots for d in descendants(spans, r["id"])]
        return sparkstats.stage_stats(w.spark, {s["group"] for s in tree})

    def top_write(leaf: str):
        return lambda s: s["parent"] == root["id"] and s["name"] == f"io.write.{leaf}"

    m: dict = {}
    # lineage
    runs = [s for s in spans if s["name"] == "lineage.run"]
    run_s = total(lambda s: s["name"] == "lineage.run")
    write_s = summary.get("wall_ms", 0) / 1e3 if runs else 0.0
    m["lineage.run_s"] = run_s
    m["lineage.extract_write_s"] = write_s
    m["lineage.rollup_s"] = run_s - write_s
    m["lineage.jobs"] = stats(runs)["jobs"] if runs else 0
    # io
    m["io.files_written"] = op["files_written"]
    m["io.bytes_written_mb"] = op["bytes_written"] / MB
    # conversation
    rec = [s for s in spans if s["name"] == "io.write.records"]
    rec_st = stats(rec) if rec else {"core_s": 0.0, "shuffle_write_mb": 0.0}
    m["conversation.plan_s"] = total(lambda s: s["name"] == "conversation.plan")
    m["conversation.records_s"] = total(lambda s: s["name"] == "io.write.records")
    m["conversation.core_s"] = rec_st["core_s"]
    m["conversation.shuffle_mb"] = rec_st["shuffle_write_mb"]
    m["conversation.records"] = (
        w.spark.read.parquet(str(out_root / "records")).count() if rec else 0
    )
    # ops
    dm = summary.get("dedup_metrics") or {}
    m["ops.clean_incremental_s"] = total(lambda s: s["name"] == "ops.clean_incremental")
    m["ops.substrings_s"] = total(lambda s: s["name"].startswith("ops.substrings"))
    m["ops.substring_index_s"] = total(
        lambda s: s["name"].startswith("ops.substring_index") or top_write("substring_index")(s)
    )
    m["ops.sync_signatures_s"] = total(lambda s: s["name"] == "ops.sync_signatures")
    m["ops.signatures_s"] = total(
        lambda s: s["name"].startswith("ops.signatures") or top_write("signatures")(s)
    )
    m["ops.rows_in"] = w.n_turns if "store" in w.tables else 0
    m["ops.rows_kept"] = summary.get("new_rows_kept", 0)
    m["ops.tokens_removed"] = summary.get("substring_tokens_removed", 0)
    m["ops.lsh_max_bucket"] = dm.get("max_bucket") or 0
    m["ops.lsh_dropped_buckets"] = dm.get("dropped_buckets") or 0
    # spark, over every job of the op
    st = stats([root])
    for k in ("jobs", "stages", "tasks", "core_s", "task_skew", "shuffle_write_mb",
              "spill_mb", "gc_s", "task_retries"):
        m[f"spark.{k}"] = st[k]
    m["spark.core_util"] = st["core_s"] / (wall * w.nproc)
    m["spark.rdd_storage_mb_after"] = sparkstats.rdd_storage_mb(w.spark)
    # where the op's time went
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(
            selfs[s["id"]] for s in spans if s["name"].split(".")[0] == layer
        )
    m["trace.op_wall_s"] = wall
    m["trace.other_s"] = selfs[root["id"]]
    m["trace.other_share"] = selfs[root["id"]] / wall
    m["trace.spans"] = len(spans)
    return m
