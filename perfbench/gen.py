"""Seeded input generators for the benchmark: an event log, a wide
sequence matrix and a document + embedding stream.

Each generator is a pure function of its seed: numpy's PCG64 drives every
value, and the parquet files are written with fixed writer settings, so
one seed gives byte-identical content (checked by ``content_digest`` in
``selftest.py``). Nothing here imports Spark.

Sizes are module constants; ``SIZES`` is the record that the benchmark
prints and that ``perfbench/README.md`` quotes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
# 2024-01-01T00:00:00Z in microseconds: the event log's first day
T0_US = 1_704_067_200 * 1_000_000

# featurize_longhist
LONGHIST_ENTITIES = 500
LONGHIST_EVENTS_PER_ENTITY = (150, 250)   # uniform, mean 200
LONGHIST_SPAN_DAYS = 540
LONGHIST_EVENT_TYPES = 30
LONGHIST_ZIPF_S = 1.1
LONGHIST_NULL_SHARE = 0.05
LONGHIST_PROPS_BYTES = 40

# embed_wide
WIDE_ENTITIES = 20_000
WIDE_SEQ_LEN = 15
WIDE_CAT_CODES = 31              # codes 0..30; 0 is the padding/unseen code
WIDE_COHORT = 5_000

# ingest_state
INGEST_BATCH_DOCS = 2_000
INGEST_RECRAWL_SHARE = 0.25
INGEST_DIM = 64
INGEST_CELLS = 8
INGEST_VOCAB = 5_000
INGEST_WORDS = (20, 40)

SIZES = {
    "featurize_longhist": {
        "entities": LONGHIST_ENTITIES,
        "events_per_entity": list(LONGHIST_EVENTS_PER_ENTITY),
        "span_days": LONGHIST_SPAN_DAYS,
        "event_types": LONGHIST_EVENT_TYPES,
        "null_value_share": LONGHIST_NULL_SHARE,
        "props_bytes": LONGHIST_PROPS_BYTES,
    },
    "embed_ingest": {
        "wide_entities": WIDE_ENTITIES, "seq_len": WIDE_SEQ_LEN,
        "cat_codes": WIDE_CAT_CODES, "continuous_cols": 2,
        "score_cohort": WIDE_COHORT,
        "batch_docs": INGEST_BATCH_DOCS,
        "recrawl_share": INGEST_RECRAWL_SHARE, "dim": INGEST_DIM,
        "ivf_cells": INGEST_CELLS,
    },
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def content_digest(paths: list[str]) -> str:
    """sha256 over the decoded rows of every parquet file, in order —
    independent of file metadata such as the writer's created_by."""
    h = hashlib.sha256()
    for p in paths:
        t = pq.read_table(p)
        h.update(str(t.schema).encode())
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


def make_events(seed: int, out_dir: str) -> dict:
    """Long-history event log: one parquet file in ``out_dir``.

    Columns: ``event_id`` (unique, in time order), ``user_id``, ``ts``
    (µs, naive UTC), ``event_type`` (Zipf over 30 types), ``value``
    (lognormal, 5% null) and ``props`` (a 40-char payload no role reads).
    """
    rng = np.random.default_rng([seed, 1])
    lo, hi = LONGHIST_EVENTS_PER_ENTITY
    per = rng.integers(lo, hi + 1, LONGHIST_ENTITIES)
    n = int(per.sum())
    user = np.repeat(np.arange(1, LONGHIST_ENTITIES + 1, dtype=np.int64), per)
    ts = T0_US + rng.integers(0, LONGHIST_SPAN_DAYS * DAY_US, n)
    order = np.lexsort((user, ts))
    user, ts = user[order], ts[order]
    w = 1.0 / np.arange(1, LONGHIST_EVENT_TYPES + 1) ** LONGHIST_ZIPF_S
    types = np.array([f"t{i:02d}" for i in range(LONGHIST_EVENT_TYPES)])
    etype = types[rng.choice(LONGHIST_EVENT_TYPES, n, p=w / w.sum())]
    value = np.round(rng.lognormal(1.0, 0.8, n), 4)
    null = rng.random(n) < LONGHIST_NULL_SHARE
    hexd = np.frombuffer(b"0123456789abcdef", dtype="S1")
    props = hexd[rng.integers(0, 16, (n, LONGHIST_PROPS_BYTES))] \
        .view(f"S{LONGHIST_PROPS_BYTES}").ravel()
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype.astype(object), type=pa.string()),
        "value": pa.array(value, mask=null),
        "props": pa.array(props.astype(object), type=pa.binary())
                   .cast(pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part-0.parquet")
    _write(table, path)
    return {"path": out_dir, "events": n, "files": [path]}


def make_wide(seed: int, out_dir: str) -> dict:
    """Featurized wide sequence matrix, as ``SequenceFeaturizer`` lays it
    out: ``user_id`` then ``{s}_event_type`` (int codes), ``{s}_value``
    and ``{s}_ts`` (doubles in [0, 1]) for slots 1..15. Shorter histories
    are right-padded: code 0, value 0.0 and ts 1.0 (the history fill)."""
    rng = np.random.default_rng([seed, 2])
    n, L = WIDE_ENTITIES, WIDE_SEQ_LEN
    length = rng.integers(1, L + 1, n)
    live = np.arange(L)[None, :] < length[:, None]
    w = 1.0 / np.arange(1, WIDE_CAT_CODES) ** LONGHIST_ZIPF_S
    codes = rng.choice(np.arange(1, WIDE_CAT_CODES), (n, L), p=w / w.sum())
    codes = np.where(live, codes, 0).astype(np.int32)
    value = np.where(live, np.round(rng.beta(2.0, 5.0, (n, L)), 6), 0.0)
    gaps = np.cumsum(rng.exponential(0.04, (n, L)), axis=1)
    ts = np.where(live, np.round(np.minimum(gaps, 1.0), 6), 1.0)
    cols = {"user_id": pa.array(np.arange(1, n + 1, dtype=np.int64))}
    for s in range(L):
        cols[f"{s + 1}_event_type"] = pa.array(codes[:, s])
        cols[f"{s + 1}_value"] = pa.array(value[:, s])
        cols[f"{s + 1}_ts"] = pa.array(ts[:, s])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part-0.parquet")
    _write(pa.table(cols), path)
    return {"path": out_dir, "rows": n, "files": [path]}


class DocStream:
    """Document + embedding batches with a fixed re-crawl share.

    A re-crawl repeats an earlier document's text and vector under a new
    id, so exact dedup must drop it. Batch ``b`` is a pure function of
    ``(seed, b)`` and the batches before it; ``batch(b)`` must be called
    in order. ``centroids`` are the pinned IVF quantizer, the cluster
    centres the vectors are drawn around.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 3])
        self.centroids = rng.normal(0.0, 1.0, (INGEST_CELLS, INGEST_DIM))
        self.texts: list[str] = []          # distinct texts, first-seen order
        self.vecs: list[np.ndarray] = []
        self.next_batch = 0

    def _vectors(self, rng, n: int) -> np.ndarray:
        cell = rng.integers(0, INGEST_CELLS, n)
        v = self.centroids[cell] + rng.normal(0.0, 0.6, (n, INGEST_DIM))
        return np.round(v, 4).astype(np.float32)

    def batch(self, b: int) -> pa.Table:
        if b != self.next_batch:
            raise ValueError(f"batch {b} requested before {self.next_batch}")
        self.next_batch += 1
        rng = np.random.default_rng([self.seed, 4, b])
        n = INGEST_BATCH_DOCS
        n_re = int(round(n * INGEST_RECRAWL_SHARE)) if self.texts else 0
        lo, hi = INGEST_WORDS
        fresh_vecs = self._vectors(rng, n - n_re)
        texts, vecs = [], []
        for i in range(n - n_re):
            # a per-document tag keeps every fresh text distinct
            words = rng.integers(0, INGEST_VOCAB, rng.integers(lo, hi + 1))
            t = f"doc{b}x{i} " + " ".join(f"w{w}" for w in words)
            self.texts.append(t)
            self.vecs.append(fresh_vecs[i])
            texts.append(t)
            vecs.append(fresh_vecs[i])
        for j in rng.integers(0, len(self.texts), n_re):
            texts.append(self.texts[j])
            vecs.append(self.vecs[j])
        perm = rng.permutation(n)
        ids = np.int64(b) * 1_000_000 + np.arange(n, dtype=np.int64)
        emb = np.stack(vecs)[perm]
        return pa.table({
            "doc_id": pa.array(ids),
            "text": pa.array([texts[i] for i in perm], type=pa.string()),
            "vec_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), INGEST_DIM).cast(
                    pa.list_(pa.float32())),
        })

    def write_batch(self, b: int, out_dir: str) -> dict:
        table = self.batch(b)
        d = os.path.join(out_dir, f"batch-{b:05d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.parquet")
        _write(table, path)
        return {"path": d, "rows": table.num_rows, "files": [path],
                "ids": table.column("vec_id").to_numpy(),
                "distinct_texts": len(self.texts)}
