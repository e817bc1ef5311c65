"""Tests of the benchmark's seeded input generator.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import inputs  # noqa: E402


@pytest.mark.parametrize("workload", sorted(inputs.SPECS))
def test_same_seed_same_tables(workload):
    a, b = inputs.make_tables(workload, 7), inputs.make_tables(workload, 7)
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])


@pytest.mark.parametrize("workload", sorted(inputs.SPECS))
def test_seeds_give_disjoint_ids_same_shape(workload):
    a, b = inputs.make_tables(workload, 1), inputs.make_tables(workload, 2)
    for name in a:
        assert not set(a[name]["conv_id"]) & set(b[name]["conv_id"])
        canary = a[name]["conv_id"].str.startswith("s1-canary-")
        assert not set(a[name]["text"][~canary]) & set(b[name]["text"])
        assert len(a[name]) == len(b[name])
    ids = set(a["input"]["conv_id"]) | set(a.get("store", a["input"])["conv_id"])
    assert all(i.startswith("s1-") for i in ids)


@pytest.mark.parametrize("workload", ["mixed_extract", "prose_extract"])
def test_canary_text_is_seed_free(workload):
    a, b = (inputs.make_tables(workload, s)["input"] for s in (1, 2))
    ca = a[a["conv_id"].str.startswith("s1-canary-")]
    cb = b[b["conv_id"].str.startswith("s2-canary-")]
    assert len(ca) > 0
    assert ca["text"].tolist() == cb["text"].tolist()
    assert ca["turn_idx"].tolist() == cb["turn_idx"].tolist()


def test_mixed_kind_mix_and_hot_share():
    t = inputs.make_tables("mixed_extract", 3)
    info = inputs.describe(t)
    # FIXTURES.md §1 weights, within sampling error
    want = {"plain": 0.35, "boiler": 0.20, "html": 0.15, "pdf_table": 0.15, "pdf_layout": 0.10}
    for kind, share in want.items():
        assert abs(info["kind_mix"][kind] - share) < 0.05, (kind, info["kind_mix"])
    assert abs(info["hot_share"] - inputs.SPECS["mixed_extract"].hot_share) < 0.02
    turns = t["input"].groupby("conv_id")["turn_idx"].agg(["min", "max", "count"])
    assert (turns["min"] == 0).all() and (turns["max"] + 1 == turns["count"]).all()


def test_prose_has_only_prose_kinds_and_dense_turns():
    t = inputs.make_tables("prose_extract", 4)["input"]
    assert set(t["gen_kind"]) == set(inputs.PROSE_KINDS)
    assert inputs.describe({"input": t})["hot_share"] < 0.02
    turns = t.groupby("conv_id")["turn_idx"].agg(["max", "count"])
    assert (turns["max"] + 1 == turns["count"]).all()
    assert (t.loc[t["role"] != "tool", "tool"].isna()).all()


def test_corpus_batch_carries_copied_passages():
    spec = inputs.SPECS["corpus_incremental"]
    t = inputs.make_tables("corpus_incremental", 5)
    batch, store = t["input"], t["store"]
    copied = batch[batch["passage"].notna()]
    assert abs(len(copied) / len(batch) - spec.copy_share) < 0.01
    assert set(copied["gen_kind"]) <= set(inputs.PROSE_KINDS)
    stored = store.loc[store["gen_kind"] == "plain", "text"].tolist()
    for text, passage in zip(copied["text"], copied["passage"]):
        assert text.endswith("\n" + passage)
        assert len(passage.split()) >= spec.copy_tokens
        # whole consecutive lines of one stored turn
        assert any(("\n" + s + "\n").find("\n" + passage + "\n") >= 0 for s in stored)
