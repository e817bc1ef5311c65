"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(workload, seed)``.  Rows come from
``fixtures.gen_turn``, so payload content follows FIXTURES.md §1; the
benchmark only chooses which conversations exist, how many turns each
has and, for ``prose_extract``, which generated turns are kept.

Conversation ids carry the seed (``s<seed>-<part>-<n>``), so tables made
from different seeds never share an id, and apart from the canary
conversations never share text: the fixture RNG is keyed on
``(conv_id, turn_idx)``.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import pandas as pd

from pdf_ocr_api_spark import fixtures

COLUMNS = fixtures.TRANSCRIPT_COLUMNS
PROSE_KINDS = ("plain", "boiler")
# Canary conversations have the same text under every seed (only their
# ids carry the seed), so one recorded digest of their output checks the
# program's results whatever seed a run gets.
CANARY_CONVS = 4


@dataclass(frozen=True)
class Spec:
    """Input sizes of one workload (the numbers WORKLOADS.md quotes)."""

    convs: int  # conversations in the op's input table
    avg_turns: int = 12
    hot_share: float = 0.0  # share of turns held by one hot conversation
    kinds: tuple[str, ...] | None = None  # keep only these gen kinds
    store_convs: int = 0  # corpus_incremental: conversations in the stored corpus
    copy_share: float = 0.0  # share of batch turns that carry a copied passage
    copy_tokens: int = 0  # at least this many tokens in each copied passage
    dedup_width: int = 0  # --dedup-substrings width


SPECS: dict[str, Spec] = {
    "mixed_extract": Spec(convs=120, hot_share=0.2),
    "prose_extract": Spec(convs=400, kinds=PROSE_KINDS),
    "corpus_incremental": Spec(
        convs=30, store_convs=60, copy_share=0.3, copy_tokens=40, dedup_width=25
    ),
}


def conv_id(seed: int, part: str, i: int) -> str:
    return f"s{seed}-{part}-{i:05d}"


def _conversation(cid: str, n_turns: int, kinds: tuple[str, ...] | None) -> list[dict]:
    """``n_turns`` generated turns of one conversation.  With ``kinds``
    the generator is walked past turns of other kinds and the kept turns
    are renumbered, so indices stay dense and roles keep their cycle."""
    rows: list[dict] = []
    t = 0
    while len(rows) < n_turns:
        row = fixtures.gen_turn(cid, t)
        t += 1
        if kinds is not None and row["gen_kind"] not in kinds:
            continue
        idx = len(rows)
        row["turn_idx"] = idx
        row["role"] = ("user", "assistant", "tool")[idx % 3]
        if row["role"] != "tool":
            row["tool"] = None
        elif row["tool"] is None:
            row["tool"] = "search"
        rows.append(row)
    return rows


def turn_counts(convs: int, spec: Spec, part: str, hot_share: float) -> list[int]:
    """Turns per conversation.  The lengths are drawn by
    ``fixtures.n_turns_for`` from seed-free names, so every seed gives a
    table of the same shape (same turn count, same hot conversation) and
    only the content changes: runs with different seeds stay comparable."""
    hot_turns = int(convs * spec.avg_turns * hot_share / (1 - hot_share)) if hot_share else 0
    hot = f"{part}-00000" if hot_share else None
    return [
        fixtures.n_turns_for(f"{part}-{i:05d}", spec.avg_turns, hot, hot_turns)
        for i in range(convs)
    ]


def _table(seed: int, part: str, convs: int, spec: Spec, hot_share: float) -> pd.DataFrame:
    rows: list[dict] = []
    for i, n in enumerate(turn_counts(convs, spec, part, hot_share)):
        rows.extend(_conversation(conv_id(seed, part, i), n, spec.kinds))
    return pd.DataFrame(rows)


def _canary(seed: int, spec: Spec) -> pd.DataFrame:
    rows: list[dict] = []
    for i, n in enumerate(turn_counts(CANARY_CONVS, spec, "canary", 0.0)):
        for row in _conversation(f"canary-{i:05d}", n, spec.kinds):
            row["conv_id"] = conv_id(seed, "canary", i)
            rows.append(row)
    return pd.DataFrame(rows)


def _copy_passages(batch: pd.DataFrame, store: pd.DataFrame, spec: Spec, seed: int) -> pd.DataFrame:
    """Append a passage of at least ``copy_tokens`` tokens, cut from a
    stored plain-prose turn, to ``copy_share`` of the batch's turns (all
    of them prose turns).  The passage is a run of whole consecutive
    stored lines, so its tokens stay contiguous after line cleaning; the
    batch turn keeps its own text, so near-dup dedup does not drop it
    whole.  The ``passage`` column holds what was appended."""
    sources = []
    for text in store.loc[store["gen_kind"] == "plain", "text"]:
        lines = text.split("\n")
        # start lines from which the passage fits inside the turn
        tail = [sum(len(l.split()) for l in lines[i:]) for i in range(len(lines))]
        starts = [i for i, n in enumerate(tail) if n >= spec.copy_tokens]
        if starts:
            sources.append((lines, starts))
    rng = fixtures.rng_for("copy", seed)
    prose = batch.index[batch["gen_kind"].isin(PROSE_KINDS)].tolist()
    chosen = sorted(rng.sample(prose, round(len(batch) * spec.copy_share)))
    batch = batch.copy()
    batch["passage"] = None
    for idx in chosen:
        lines, starts = rng.choice(sources)
        end = start = rng.choice(starts)
        while sum(len(l.split()) for l in lines[start:end]) < spec.copy_tokens:
            end += 1
        passage = "\n".join(lines[start:end])
        batch.at[idx, "text"] = batch.at[idx, "text"] + "\n" + passage
        batch.at[idx, "passage"] = passage
    return batch


def make_tables(workload: str, seed: int) -> dict[str, pd.DataFrame]:
    """``{"input": ...}`` plus ``{"store": ...}`` for corpus_incremental;
    the extract workloads' input ends with the canary conversations.
    Frames carry the generation columns ``gen_kind`` (and ``passage``)
    next to the transcript columns; only ``COLUMNS`` reach Spark."""
    spec = SPECS[workload]
    if spec.store_convs:
        store = _table(seed, "store", spec.store_convs, spec, 0.0)
        batch = _table(seed, "batch", spec.convs, spec, 0.0)
        return {"store": store, "input": _copy_passages(batch, store, spec, seed)}
    main = _table(seed, "conv", spec.convs, spec, spec.hot_share)
    return {"input": pd.concat([main, _canary(seed, spec)], ignore_index=True)}


def describe(tables: dict[str, pd.DataFrame]) -> dict:
    """Input sizes as the benchmark reports them."""
    inp = tables["input"]
    turns_per_conv = inp.groupby("conv_id").size()
    out = {
        "conversations": int(inp["conv_id"].nunique()),
        "turns": len(inp),
        "text_bytes": text_bytes(inp),
        "kind_mix": {k: round(v / len(inp), 3) for k, v in sorted(Counter(inp["gen_kind"]).items())},
        "hot_share": round(float(turns_per_conv.max()) / len(inp), 3),
    }
    if "store" in tables:
        out["store_turns"] = len(tables["store"])
        out["copied_share"] = round(float(inp["passage"].notna().mean()), 3)
    return out


def text_bytes(df: pd.DataFrame) -> int:
    return int(df["text"].fillna("").map(lambda t: len(t.encode("utf-8"))).sum())
