"""Distributed byte-level BPE tokenizer: train on a word-frequency
table, apply with a Zipf-cached vectorized encoder.

The one tokenizer design that works at 100 TB is the one every serious
training pipeline uses: the *corpus-sized* work is a single
pre-tokenize → word-count pass (map-side combined inside ``mapInPandas``
batches, so the shuffle carries one row per *distinct* word per batch,
not per token), and the merge-learning loop runs on the resulting
word-frequency table — which by Zipf's law is millions of rows for a
corpus of any size, i.e. driver-sized. Encoding is then a broadcast
lookup structure + a shuffle-free ``mapInPandas`` whose per-word cost is
amortized to ~zero by a word → ids cache (Zipf again: the head of the
distribution is almost every token occurrence).

Byte-level (GPT-2 style): the initial alphabet is the 256 byte values,
so there is no OOV and encode→decode is lossless for arbitrary unicode
(the pre-tokenizer is a *partition* of the input string — asserted in
tests — and concatenating decoded pre-tokens reproduces the text
byte-for-byte).

Determinism contract (the property everything else in this repo is built
on): pre-tokenization is the same Python regex in the count pass and the
encoder; merge selection breaks count ties on the pair's *byte content*
(not dict order, not heap order); and applying merges in rank order
replays the trainer's segmentation exactly, so ``encode(word)`` equals
the trainer's final symbol sequence for every trained word (asserted
over the whole word table in tests). Same corpus → same model → same
ids, regardless of partitioning.
"""

from __future__ import annotations

import heapq
import re
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GPT-2's pre-tokenizer, in Python-re dialect: contractions, space-prefixed
# letter runs ([^\W\d_] ≈ \p{L}), space-prefixed digit runs (\d ≈ \p{N} for
# the scripts that matter here), space-prefixed punctuation runs (non-space
# non-word, plus _ which \w claims but \p{L}/\p{N} do not), then whitespace
# (all-but-last-before-nonspace, then trailing). Matches tile the string.
_PRETOK = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+"
    r"|\s+(?!\S)|\s+",
    re.UNICODE,
)

_ALPHABET = 256  # byte-level initial vocab: ids 0..255 are the raw bytes


def pre_tokenize(text: str) -> list[str]:
    """Split ``text`` into BPE pre-tokens. A partition: ``''.join(...)``
    reproduces the input exactly (whitespace included)."""
    return _PRETOK.findall(text)


@dataclass
class BpeModel:
    """A trained tokenizer: ``vocab[id] -> bytes`` (ids 0..255 are the
    byte alphabet; id 256+r is the token produced by ``merges[r]``) and
    the ranked merge list as id pairs. ``stats`` records what the
    trainer saw — including ``dropped_mass``, the token-mass fraction of
    words beyond the ``max_words`` cap that never influenced a merge."""

    vocab: list[bytes]
    merges: list[tuple[int, int]]
    stats: dict = field(default_factory=dict)
    # word -> final trainer symbol tuple; only populated by
    # train_bpe(keep_segments=True) (audit/tests — never ships to tasks)
    final_segments: dict | None = None

    @property
    def vocab_size(self) -> int:
        return len(self.vocab)

    def rank_map(self) -> dict[tuple[int, int], int]:
        return {pair: r for r, pair in enumerate(self.merges)}


# ---------------------------------------------------------------------------
# word frequencies (the only corpus-sized pass)
# ---------------------------------------------------------------------------


def word_frequencies(df: DataFrame, text_col: str = "text", lowercase: bool = False) -> DataFrame:
    """``(word STRING, n BIGINT)`` over the pre-tokenized corpus.

    The per-batch ``Counter`` is the map-side combine: each Arrow batch
    emits one row per distinct word, so the single shuffle moves
    ~|vocab| × partitions rows, not one row per token — at corpus scale
    that is the difference between a word-count and a full re-shuffle of
    the data."""
    cols = [text_col]

    def _count(batches):
        for pdf in batches:
            c: Counter = Counter()
            for t in pdf[text_col]:
                if t is None:
                    continue
                if lowercase:
                    t = t.lower()
                c.update(pre_tokenize(t))
            if c:
                yield pd.DataFrame({"word": list(c.keys()), "n": list(c.values())})

    partial = df.select(*cols).mapInPandas(_count, schema="word STRING, n BIGINT")
    return partial.groupBy("word").agg(F.sum("n").alias("n"))


# ---------------------------------------------------------------------------
# training (driver loop over the compressed table)
# ---------------------------------------------------------------------------


def _merge_word(sym: tuple[int, ...], a: int, b: int, new_id: int) -> tuple[int, ...]:
    """Replace every left-to-right non-overlapping (a, b) with new_id —
    the same scan order the encoder uses, so train == apply on 'aaa'."""
    out = []
    i, n = 0, len(sym)
    while i < n:
        if sym[i] == a and i + 1 < n and sym[i + 1] == b:
            out.append(new_id)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_bpe(
    freqs: DataFrame | list[tuple[str, int]],
    vocab_size: int,
    min_frequency: int = 2,
    max_words: int = 1_000_000,
    keep_segments: bool = False,
) -> BpeModel:
    """Learn merges from a word-frequency table (``word_frequencies``
    output or an in-memory list).

    The table is truncated to the ``max_words`` most frequent words
    (deterministic: count desc, word asc) before collecting — Zipf makes
    the dropped token mass tiny, and it is *reported*, not silent
    (``stats['dropped_mass']``). The merge loop is the classic
    incremental algorithm with a lazy max-heap: each merge rewrites only
    the words containing the chosen pair and re-pushes their changed
    pair counts, so cost per merge is proportional to affected words,
    not the table. Ties on count break on the pair's byte content —
    heap order and dict order never leak into the model.
    """
    if vocab_size < _ALPHABET:
        raise ValueError(f"vocab_size must be >= {_ALPHABET}")
    if isinstance(freqs, DataFrame):
        total_row = freqs.agg(F.sum(F.col("n") * F.length(F.col("word"))).alias("m")).collect()[0]
        top = (
            freqs.orderBy(F.col("n").desc(), F.col("word"))
            .limit(max_words)
            .collect()
        )
        rows = [(r["word"], r["n"]) for r in top]
        total_mass = total_row["m"] or 0
    else:
        rows = sorted(freqs, key=lambda r: (-r[1], r[0]))[:max_words]
        total_mass = sum(n * len(w) for w, n in freqs)

    words: list[tuple[int, ...]] = []
    counts: list[int] = []
    for w, n in rows:
        words.append(tuple(w.encode("utf-8")))
        counts.append(int(n))
    kept_mass = sum(len(w) * n for w, n in zip(words, counts))
    # byte-length mass, not word count: the honest truncation metric
    dropped_mass = 0.0 if not total_mass else max(0.0, 1.0 - kept_mass / total_mass)

    vocab: list[bytes] = [bytes([i]) for i in range(_ALPHABET)]
    merges: list[tuple[int, int]] = []

    pair_counts: Counter = Counter()
    where: dict[tuple[int, int], set[int]] = {}
    for wi, sym in enumerate(words):
        n = counts[wi]
        for p in zip(sym, sym[1:]):
            pair_counts[p] += n
            where.setdefault(p, set()).add(wi)

    # lazy heap: entries go stale when a count changes; validate on pop
    heap: list = [
        (-c, vocab[a], vocab[b], (a, b)) for (a, b), c in pair_counts.items()
    ]
    heapq.heapify(heap)

    def _push(pair):
        c = pair_counts.get(pair, 0)
        if c > 0:
            heapq.heappush(heap, (-c, vocab[pair[0]], vocab[pair[1]], pair))

    while len(vocab) < vocab_size and heap:
        neg_c, _, _, pair = heapq.heappop(heap)
        if pair_counts.get(pair, 0) != -neg_c:
            continue  # stale
        if -neg_c < min_frequency:
            break
        a, b = pair
        new_id = len(vocab)
        vocab.append(vocab[a] + vocab[b])
        merges.append(pair)

        touched: set[tuple[int, int]] = set()
        for wi in where.pop(pair, ()):  # words are rewritten; old index dies with the pair
            sym = words[wi]
            n = counts[wi]
            for p in zip(sym, sym[1:]):
                pair_counts[p] -= n
                touched.add(p)
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
            new_sym = _merge_word(sym, a, b, new_id)
            words[wi] = new_sym
            for p in zip(new_sym, new_sym[1:]):
                pair_counts[p] += n
                touched.add(p)
                where.setdefault(p, set()).add(wi)
        pair_counts.pop(pair, None)
        touched.discard(pair)
        for p in touched:
            if pair_counts.get(p, 0) <= 0:
                pair_counts.pop(p, None)
                where.pop(p, None)
            else:
                _push(p)

    model = BpeModel(
        vocab=vocab,
        merges=merges,
        stats={
            "n_words": len(words),
            "dropped_mass": round(dropped_mass, 8),
            "min_frequency": min_frequency,
            "requested_vocab": vocab_size,
        },
    )
    if keep_segments:
        # train == apply replay audit (word -> final trainer segmentation);
        # opt-in: a max_words-sized dict must not ride the encode closure
        model.final_segments = {w: s for (w, _), s in zip(rows, words)}
    return model


# ---------------------------------------------------------------------------
# encoding (broadcast model + cached per-word walk)
# ---------------------------------------------------------------------------


def _encode_word_bytes(wb: bytes, ranks, merges) -> tuple[int, ...]:
    sym: list[int] = list(wb)
    while len(sym) > 1:
        best_rank = None
        for p in zip(sym, sym[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        a, b = merges[best_rank]
        out = []
        i, n = 0, len(sym)
        new_id = _ALPHABET + best_rank
        while i < n:
            if sym[i] == a and i + 1 < n and sym[i + 1] == b:
                out.append(new_id)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return tuple(sym)


def encode_text(text: str, model: BpeModel, _cache: dict | None = None, lowercase: bool = False) -> list[int]:
    """Encode one string to token ids (driver-side / reference path)."""
    ranks = model.rank_map()
    cache = _cache if _cache is not None else {}
    out: list[int] = []
    if lowercase:
        text = text.lower()
    for w in pre_tokenize(text):
        ids = cache.get(w)
        if ids is None:
            ids = _encode_word_bytes(w.encode("utf-8"), ranks, model.merges)
            cache[w] = ids
        out.extend(ids)
    return out


def decode_ids(ids, model: BpeModel, errors: str = "strict") -> str:
    """Inverse of encode: concatenate token bytes, decode UTF-8."""
    return b"".join(model.vocab[i] for i in ids).decode("utf-8", errors)


_CACHE_CAP = 1 << 20


def _encoder_iter(model: BpeModel, text_col: str, out_fn, lowercase: bool):
    """Shared mapInPandas body: one ranks dict + word cache per TASK
    (the generator closure lives for the whole partition iterator, so
    the Zipf head is computed once per task, not once per row)."""
    ranks = model.rank_map()
    merges = model.merges
    cache: dict = {}

    def _ids(t):
        if t is None:
            return []
        if lowercase:
            t = t.lower()
        out: list[int] = []
        for w in pre_tokenize(t):
            ids = cache.get(w)
            if ids is None:
                if len(cache) >= _CACHE_CAP:
                    cache.clear()
                ids = _encode_word_bytes(w.encode("utf-8"), ranks, merges)
                cache[w] = ids
            out.extend(ids)
        return out

    def _run(batches):
        for pdf in batches:
            yield out_fn(pdf, [_ids(t) for t in pdf[text_col]])

    return _run


def bpe_encode(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    out_col: str = "token_ids",
    lowercase: bool = False,
) -> DataFrame:
    """Append ``out_col ARRAY<INT>`` of BPE token ids. Shuffle-free: a
    ``mapInPandas`` projection; the model rides the closure (sub-MB at
    any realistic vocab — broadcast cost is one task deserialize)."""
    import pyspark.sql.types as T

    # fresh StructType: .add() MUTATES the df's cached schema object
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )

    def _attach(pdf, ids):
        pdf = pdf.copy()
        pdf[out_col] = [list(x) for x in ids]
        return pdf

    return df.mapInPandas(
        _encoder_iter(model, text_col, _attach, lowercase), schema=schema
    )


def bpe_token_count(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    lowercase: bool = False,
) -> DataFrame:
    """Append the REAL tokenizer token count (the budget unit sequence
    packing actually wants — ``textstats.bpe_ish_token_count`` is the
    codegen-cheap proxy; this is the exact number, one shuffle-free
    pass)."""
    import pyspark.sql.types as T

    schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())])

    def _attach(pdf, ids):
        pdf = pdf.copy()
        pdf[out_col] = [len(x) for x in ids]
        return pdf

    return df.mapInPandas(
        _encoder_iter(model, text_col, _attach, lowercase), schema=schema
    )


# ---------------------------------------------------------------------------
# persistence (parquet, same props pattern as the ANN index)
# ---------------------------------------------------------------------------


def save_bpe(spark, model: BpeModel, path: str) -> None:
    """Persist vocab + merges + props as parquet tables under ``path``.
    Props carry the stats and a format version so a loader can refuse
    models it does not understand (the ivfpq props pattern)."""
    from ..sources.io import local_frame

    vocab_df = local_frame(
        spark, [(i, bytearray(tok)) for i, tok in enumerate(model.vocab)], "id INT, token BINARY"
    )
    merges_df = local_frame(
        spark, [(r, a, b) for r, (a, b) in enumerate(model.merges)], "rank INT, left INT, right INT"
    )
    props = {"format": "bpe-v1", "vocab_size": str(len(model.vocab))}
    for k, v in model.stats.items():
        if v is not None and not isinstance(v, (dict, list)):
            props[f"stat.{k}"] = str(v)
    props_df = local_frame(spark, list(props.items()), "key STRING, value STRING")
    vocab_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/vocab")
    merges_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    props_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/props")


def load_bpe(spark, path: str) -> BpeModel:
    props = {r.key: r.value for r in spark.read.parquet(f"{path}/props").collect()}
    if props.get("format") != "bpe-v1":
        raise ValueError(f"unknown BPE model format: {props.get('format')!r}")
    vocab_rows = spark.read.parquet(f"{path}/vocab").collect()
    vocab = [b"" for _ in vocab_rows]
    for r in vocab_rows:
        vocab[r.id] = bytes(r.token)
    merge_rows = sorted(spark.read.parquet(f"{path}/merges").collect(), key=lambda r: r.rank)
    merges = [(r.left, r.right) for r in merge_rows]
    if int(props["vocab_size"]) != len(vocab):
        raise ValueError("vocab table size does not match props vocab_size")
    stats = {
        k[len("stat."):]: v for k, v in props.items() if k.startswith("stat.")
    }
    return BpeModel(vocab=vocab, merges=merges, stats=stats)
