"""Seeded input generators for the three workloads.

Every generator takes the seed as an argument and writes plain files;
the package under test only ever sees those files. The same seed gives
byte-identical files.

- :func:`topic_dump` — a Kafka topic archived as parquet segments with
  the Kafka source's columns ``(partition int, offset long, value
  binary)``, carrying the reference's edge cases.
- :func:`stream_segments` — the same message shape cut into small
  segments for the open-loop stream, with Zipf-skewed (hot) ids.
- :class:`SegmentProducer` — the open-loop producer thread that makes
  staged segments visible on a fixed schedule by atomic rename.
- :func:`corpus` — a synthetic document corpus with injected
  near-duplicate chains (A≈B≈C).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KAFKA_SCHEMA = pa.schema(
    [("partition", pa.int32()), ("offset", pa.int64()), ("value", pa.binary())]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# Shares of the reference's edge cases among generated messages.
MALFORMED_SHARE = 0.01  # truncated JSON: dropped by the parser
MISSING_ID_SHARE = 0.005  # {"msg": ...}: id defaults to 0
MISSING_MSG_SHARE = 0.005  # {"id": ...}: msg defaults to ""
BASE_OFFSET = 1000  # first offset of every partition
PARTITIONS = 4

# Topic dump: ids are uniform over this share of one partition's
# messages, so about three in four messages are superseded.
DUMP_KEY_SHARE = 0.25
DUMP_FILES_PER_PARTITION = 2

# Stream: Zipf-skewed ids, so a few hot keys change winner in almost
# every micro-batch while the tail grows the state.
STREAM_KEYS = 20_000
STREAM_ZIPF_S = 1.1

# Corpus: Zipf words; a share of the documents are near-duplicates in
# chains of CORPUS_CHAIN documents, each copy editing CORPUS_EDIT_RATE of
# the tokens of the previous one.
CORPUS_VOCAB = 30_000
CORPUS_ZIPF_S = 1.05
CORPUS_DOC_TOKENS = (60, 140)
CORPUS_NEAR_DUP_SHARE = 0.3
CORPUS_EDIT_RATE = 0.02
CORPUS_CHAIN = 3
CORPUS_FILES = 4


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=False)


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _messages(
    rng: np.random.Generator, ids: np.ndarray, offsets: np.ndarray, partitions: np.ndarray
) -> pa.Array:
    """JSON payloads for the given keys; a seeded share is malformed or
    lacks ``id`` / ``msg``. ``msg`` embeds (partition, offset), so a
    wrong winner is visible in the output, not just a wrong count."""
    n = len(ids)
    word = _str(rng.integers(0, 1 << 30, n))
    msg = pc.binary_join_element_wise(
        "p", _str(partitions), " o", _str(offsets), " ", word, ""
    )
    sid = _str(ids)
    full = pc.binary_join_element_wise('{"id":', sid, ',"msg":"', msg, '"}', "")
    no_id = pc.binary_join_element_wise('{"msg":"', msg, '"}', "")
    no_msg = pc.binary_join_element_wise('{"id":', sid, "}", "")
    broken = pc.binary_join_element_wise('{"id":', sid, ',"msg":"', msg, "")
    kind = rng.random(n)
    out = pc.if_else(pa.array(kind < MALFORMED_SHARE), broken, full)
    lo = MALFORMED_SHARE
    out = pc.if_else(pa.array((kind >= lo) & (kind < lo + MISSING_ID_SHARE)), no_id, out)
    lo += MISSING_ID_SHARE
    out = pc.if_else(pa.array((kind >= lo) & (kind < lo + MISSING_MSG_SHARE)), no_msg, out)
    return pc.cast(out, pa.binary())


def _kafka_table(partitions, offsets, values) -> pa.Table:
    return pa.table(
        [
            pa.array(partitions, pa.int32()),
            pa.array(offsets, pa.int64()),
            values,
        ],
        schema=KAFKA_SCHEMA,
    )


@dataclass
class TopicDump:
    path: str
    messages: int
    partitions: int
    files: int


def topic_dump(out_dir: str, seed: int, messages: int) -> TopicDump:
    """A bounded topic dump: ``messages`` spread evenly over PARTITIONS,
    each partition's offsets contiguous from ``BASE_OFFSET`` and cut into
    DUMP_FILES_PER_PARTITION segments. Every id range is shared by all
    partitions (the same id in two partitions yields two survivors).
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    per_part = messages // PARTITIONS
    keys = max(1, int(per_part * DUMP_KEY_SHARE))
    n_files = 0
    for p in range(PARTITIONS):
        offsets = np.arange(BASE_OFFSET, BASE_OFFSET + per_part, dtype=np.int64)
        ids = rng.integers(1, keys + 1, per_part)
        values = _messages(rng, ids, offsets, np.full(per_part, p))
        table = _kafka_table(np.full(per_part, p), offsets, values)
        bounds = np.linspace(0, per_part, DUMP_FILES_PER_PARTITION + 1).astype(int)
        for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            _write_parquet(
                table.slice(lo, hi - lo), os.path.join(out_dir, f"p{p:02d}-{f:03d}.parquet")
            )
            n_files += 1
    return TopicDump(out_dir, per_part * PARTITIONS, PARTITIONS, n_files)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** s)
    return w / w[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    """``n`` values in [0, len(cdf)) with the distribution ``cdf``."""
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(cdf) - 1)


@dataclass
class Segments:
    stage_dir: str
    names: list[str]  # file names, in schedule order
    sizes: list[int]  # messages per segment
    tables: list[pa.Table] = field(repr=False)


def stream_segments(stage_dir: str, seed: int, sizes: list[int]) -> Segments:
    """One staged parquet segment per entry of ``sizes`` (messages each).

    Messages go round-robin over partitions with per-partition offsets
    that keep increasing from one segment to the next; ids follow a Zipf
    law over STREAM_KEYS ids.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(stage_dir, exist_ok=True)
    next_offsets = [BASE_OFFSET] * PARTITIONS
    cdf = _zipf_cdf(STREAM_KEYS, STREAM_ZIPF_S)
    names, tables = [], []
    for i, n in enumerate(sizes):
        parts = np.arange(n) % PARTITIONS
        offsets = np.empty(n, np.int64)
        for p in range(PARTITIONS):
            sel = parts == p
            k = int(sel.sum())
            offsets[sel] = np.arange(next_offsets[p], next_offsets[p] + k)
            next_offsets[p] += k
        ids = _draw(rng, cdf, n) + 1
        table = _kafka_table(parts, offsets, _messages(rng, ids, offsets, parts))
        name = f"seg-{i:05d}.parquet"
        _write_parquet(table, os.path.join(stage_dir, name))
        names.append(name)
        tables.append(table)
    return Segments(stage_dir, names, list(sizes), tables)


class SegmentProducer(threading.Thread):
    """Open-loop producer: makes segment ``i`` visible at ``t0 + i /
    rate`` by renaming it from the staging directory into the watched
    directory (atomic on one filesystem, so the file source never lists
    a partial parquet file). The schedule never waits for the system
    under test. ``due[i]`` is each segment's due time; ``late[i]`` is
    how far the rename ran behind it.
    """

    def __init__(self, segs: Segments, names: list[str], watch_dir: str, t0: float, rate: float):
        super().__init__(name="segment-producer", daemon=True)
        self.segs, self.names, self.watch_dir = segs, names, watch_dir
        self.due = [t0 + i / rate for i in range(len(names))]
        self.late: list[float] = []
        self.error: OSError | None = None

    def run(self) -> None:
        try:
            for name, due in zip(self.names, self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(
                    os.path.join(self.segs.stage_dir, name),
                    os.path.join(self.watch_dir, name),
                )
                self.late.append(max(0.0, time.time() - due))
        except OSError as exc:  # reported by the caller after join
            self.error = exc


def publish_now(segs: Segments, name: str, watch_dir: str) -> float:
    """Make one segment visible now; returns the time it was published."""
    t = time.time()
    os.rename(os.path.join(segs.stage_dir, name), os.path.join(watch_dir, name))
    return t


@dataclass
class Corpus:
    path: str
    docs: int
    texts: dict[int, str] = field(repr=False)
    injected_pairs: list[tuple[int, int]] = field(repr=False)  # (parent, child)


def corpus(out_dir: str, seed: int, docs: int) -> Corpus:
    """``docs`` documents of single-space-separated Zipf words.

    A CORPUS_NEAR_DUP_SHARE of the documents are near-duplicates, in
    chains of CORPUS_CHAIN documents: each copy replaces CORPUS_EDIT_RATE
    of the tokens of the previous one, so A≈B and B≈C while A and C can
    fall below the threshold and only transitive closure joins them. Every
    cluster is such a chain, so the component diameter, and with it the
    number of label-propagation rounds, does not depend on the seed. Doc
    ids are a seeded permutation, so the minimum-id survivor of a cluster
    is not always its original.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    cdf = _zipf_cdf(CORPUS_VOCAB, CORPUS_ZIPF_S)
    copies = CORPUS_CHAIN - 1
    n_chains = int(docs * CORPUS_NEAR_DUP_SHARE) // copies
    toks: list[np.ndarray] = []
    parent: list[int] = []
    lo, hi = CORPUS_DOC_TOKENS
    for _ in range(docs - n_chains * copies):
        toks.append(_draw(rng, cdf, int(rng.integers(lo, hi + 1))))
        parent.append(-1)
    for src in range(n_chains):
        for _ in range(copies):
            t = toks[src].copy()
            edits = rng.random(len(t)) < CORPUS_EDIT_RATE
            t[edits] = _draw(rng, cdf, int(edits.sum()))
            toks.append(t)
            parent.append(src)
            src = len(toks) - 1
    ids = rng.permutation(docs).astype(np.int64) + 1
    words = np.array([f"w{w}" for w in range(CORPUS_VOCAB)], dtype=object)
    texts = {int(ids[i]): " ".join(words[t]) for i, t in enumerate(toks)}
    injected = [(int(ids[p]), int(ids[i])) for i, p in enumerate(parent) if p >= 0]
    order = np.sort(ids)
    table = pa.table(
        [pa.array(order), pa.array([texts[int(i)] for i in order], pa.string())],
        schema=DOC_SCHEMA,
    )
    bounds = np.linspace(0, docs, CORPUS_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        _write_parquet(table.slice(lo, hi - lo), os.path.join(out_dir, f"docs-{f:03d}.parquet"))
    return Corpus(out_dir, docs, texts, injected)
