"""Corpus report: the datasheet a training-data release ships with.

Every published corpus pipeline ends in a stats card — C4/Gopher/Pile
papers tabulate language mix, length distributions, domain
concentration and filter rates.  ``corpus_report`` computes that card
as ONE tidy DataFrame (``section, key, metric, value``) so it can be
written next to the corpus, diffed between releases, joined in SQL,
and rendered by any tool — the same "state is a table" contract as the
signature index, the LM and the NB model.

Sections:

* ``global``  — doc/token/char totals, tokens-per-doc mean and
  approx-p50/p95 (mergeable Greenwald-Khanna sketch — an EXACT
  percentile over 10^9 per-doc values would hold per-distinct-value
  state in one aggregator; the sketch is the scale-safe choice and its
  error bound is the documented ``percentile_approx`` contract).
* ``lang``    — per-language doc counts and token share.
* ``quality`` — 10-bucket histogram of the quality score.
* ``domain``  — top-N domain doc counts, top-1/top-10 shares, and the
  Herfindahl–Hirschman concentration index (Σ share² — the alarm
  metric for "one site dominates the mix"; per-domain caps exist to
  push it down).

Plan shape: ONE full-scan aggregate (global totals and the quality
histogram ride the same pass; its single row is collected and reused
as literals — without that cut every derived row would re-run the
scan), plus one small-key groupBy per keyed section (lang, domain).
The domain concentration metrics aggregate the domain-cardinality-
scale count table, never the corpus.  Nothing corpus-scale is
collected.

Reference provenance: no reporting stage exists in the reference
engine; LLM-training-data operator family (build brief), like
ops/domains.py and ops/classify.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import local_frame
from .textstats import ws_tokens

__all__ = ["corpus_report"]

_OUT_SCHEMA = "section string, key string, metric string, value double"


def corpus_report(
    df: DataFrame,
    text_col: str = "clean_text",
    lang_col: str | None = "lang",
    quality_col: str | None = "quality_score",
    domain_col: str | None = None,
    top_domains: int = 20,
    tokens_col: str | None = None,
) -> DataFrame:
    """The corpus datasheet as a tidy ``(section, key, metric, value)``
    frame (all-scalar — driver/report-tool safe).  Pass ``None`` for
    any column the corpus lacks to skip its section; ``value`` is
    DOUBLE throughout (counts are exact integers in double — safe to
    2^53, far beyond any corpus row count).  NULL lang/domain keys
    report under ``'∅'``; documents with a NULL quality score land in
    a ``'∅'`` histogram bucket (silently dropping them would make the
    bucket sum disagree with n_docs and read as a distribution shift).
    ``tokens_col``: a precomputed token-count column (the stored corpus
    carries ``n_tokens``) — skips re-tokenizing, the most expensive
    expression here."""
    spark = df.sparkSession
    nt = (
        F.col(tokens_col).cast("long")
        if tokens_col
        else F.size(ws_tokens(F.col(text_col), lower=False)).cast("long")
    )
    staged = df.select(
        nt.alias("_nt"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nc"),
        # coalesce BEFORE the rollup: after it, a NULL key must mean
        # only "the grand-total row" (F.grouping disambiguates, but a
        # pre-coalesced key keeps real-NULL langs as a visible '∅' row)
        (
            F.coalesce(F.col(lang_col), F.lit("∅")) if lang_col else F.lit("")
        ).alias("_lang"),
        *([F.col(quality_col).alias("_q")] if quality_col else []),
        *([F.col(domain_col).alias("_dom")] if domain_col else []),
    )

    # global totals + percentiles + quality histogram + per-lang rows:
    # ONE corpus scan via rollup(_lang) — per-lang rows and the
    # grand-total row come out of the same pass, so the tokenizer (or
    # the token column) is evaluated exactly once per document (the
    # separate global-agg + lang-groupBy form scanned and re-tokenized
    # the corpus twice, r5 review finding). Known trade: the per-LANG
    # histogram sums and GK percentile sketches are computed and then
    # discarded (only the totals row's are read) — that waste is
    # lang-cardinality × sketch state (tens of KB), which loses to the
    # alternative (a second corpus-scale scan) by many orders of
    # magnitude; revisit only if a per-lang histogram section is added
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        F.avg("_nt").alias("mean_tokens"),
        F.percentile_approx("_nt", 0.5).alias("p50_tokens"),
        F.percentile_approx("_nt", 0.95).alias("p95_tokens"),
    ]
    if quality_col:
        # bucket k covers [k/10, (k+1)/10); scores clamped into [0, 9];
        # NULL **and NaN** scores land in the '∅' bucket (never
        # silently dropped or mis-bucketed). Both guards are
        # load-bearing: greatest(NULL, 0) is 0 in Spark (greatest
        # skips NULLs) and floor(NaN*10) CASTS TO 0 — either way an
        # unguarded clamp reports unknown scores as a mass of
        # lowest-quality docs (r5 review findings, live-confirmed)
        q_unknown = F.col("_q").isNull() | F.isnan(F.col("_q").cast("double"))
        bucket = F.when(
            ~q_unknown,
            F.least(F.greatest(F.floor(F.col("_q") * 10), F.lit(0)), F.lit(9)),
        )
        aggs += [
            F.sum(F.when(bucket == k, 1).otherwise(0)).alias(f"q_{k}")
            for k in range(10)
        ]
        aggs.append(
            F.sum(F.when(q_unknown, 1).otherwise(0)).alias("q_null")
        )
    rolled = (
        staged.rollup("_lang")
        .agg(F.grouping("_lang").alias("_total"), *aggs)
        .collect()
    )
    # an EMPTY corpus rolls up to NO rows at all (unlike a plain global
    # aggregate) — synthesize the zero-row the datasheet still owes
    g = next(
        (r.asDict() for r in rolled if r["_total"] == 1),
        {
            "n_docs": 0,
            **{
                m: None
                for m in (
                    "n_tokens", "n_chars", "mean_tokens",
                    "p50_tokens", "p95_tokens",
                )
            },
            **({f"q_{k}": None for k in range(10)} if quality_col else {}),
            **({"q_null": None} if quality_col else {}),
        },
    )
    lang_rows = [r for r in rolled if r["_total"] == 0]

    def _f(v):
        # sums/percentiles over an EMPTY corpus come back NULL
        return float(v) if v is not None else None

    rows: list[tuple] = [
        ("global", "", m, _f(g[m]))
        for m in (
            "n_docs", "n_tokens", "n_chars",
            "mean_tokens", "p50_tokens", "p95_tokens",
        )
    ]
    if quality_col:
        rows += [
            (
                "quality",
                f"{k / 10:.1f}-{(k + 1) / 10:.1f}",
                "n_docs",
                _f(g[f"q_{k}"]),
            )
            for k in range(10)
        ]
        rows.append(("quality", "∅", "n_docs", _f(g["q_null"])))

    total_tokens = float(g["n_tokens"] or 0.0)
    total_docs = float(g["n_docs"] or 0.0)
    if lang_col:
        for r in lang_rows:
            rows.append(("lang", r["_lang"], "n_docs", float(r["n_docs"])))
            if total_tokens > 0:
                rows.append(
                    (
                        "lang",
                        r["_lang"],
                        "token_share",
                        float(r["n_tokens"] or 0) / total_tokens,
                    )
                )
            # the rollup computes these per language anyway (same pass
            # as the totals) — emitting them is free, and per-language
            # length/quality distributions are standard datasheet cuts
            # (CCNet gates quality per language)
            for m in ("mean_tokens", "p50_tokens", "p95_tokens"):
                rows.append(("lang", r["_lang"], m, _f(r[m])))
            if quality_col:
                for k in range(10):
                    rows.append(
                        (
                            "lang_quality",
                            r["_lang"],
                            f"{k / 10:.1f}-{(k + 1) / 10:.1f}",
                            _f(r[f"q_{k}"]),
                        )
                    )
                rows.append(("lang_quality", r["_lang"], "∅", _f(r["q_null"])))
    parts = [local_frame(spark, rows, _OUT_SCHEMA)]

    if domain_col and total_docs > 0:
        from pyspark.sql import Window

        doms = staged.groupBy(
            F.coalesce(F.col("_dom"), F.lit("∅")).alias("_k")
        ).agg(F.count("*").alias("_n"))
        # top-N via orderBy+limit — Spark plans TakeOrderedAndProject
        # (per-partition partial top-k, then a k-row merge), so NO task
        # ever sorts the whole domain-cardinality count table (a global
        # row_number window would); deterministic tie-break on the key
        topk = doms.orderBy(F.desc("_n"), F.asc("_k")).limit(
            max(top_domains, 10)
        )
        # ranking the ≤ max(N,10)-row top-k frame is driver-scale work
        ranked = topk.withColumn(
            "_rk", F.row_number().over(Window.orderBy(F.desc("_n"), F.asc("_k")))
        )
        parts.append(
            ranked.filter(F.col("_rk") <= top_domains).select(
                F.lit("domain").alias("section"),
                F.col("_k").alias("key"),
                F.lit("n_docs").alias("metric"),
                F.col("_n").cast("double").alias("value"),
            )
        )
        share = F.col("_n") / F.lit(total_docs)
        top_conc = ranked.agg(
            F.sum(F.when(F.col("_rk") == 1, share).otherwise(0.0)).alias("top1_share"),
            F.sum(F.when(F.col("_rk") <= 10, share).otherwise(0.0)).alias("top10_share"),
        )
        # HHI and the domain count are plain aggregates over the full
        # count table — no window, no sort
        conc = doms.agg(
            F.sum(share * share).alias("hhi"),
            F.count("*").cast("double").alias("n_domains"),
        ).crossJoin(top_conc)
        stack = ", ".join(f"'{m}', {m}" for m in ("top1_share", "top10_share", "hhi", "n_domains"))
        parts.append(
            conc.selectExpr(f"stack(4, {stack}) AS (metric, value)").select(
                F.lit("domain").alias("section"),
                F.lit("").alias("key"),
                "metric",
                F.col("value").cast("double"),
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
