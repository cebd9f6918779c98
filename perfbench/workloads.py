"""The benchmark workloads, each a closed loop of requests.

A workload yields ``Op`` objects forever; the runner times ``op.run``
and calls ``op.check`` outside the timed window. Every call into a
``caspr_spark`` layer is wrapped in ``tracer.span(<layer>.<call>)``, so
the traced run can attribute Spark's job, stage and SQL telemetry to it.
The program is driven only through its public functions and only with
inputs ``gen.py`` made from the seed.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from caspr_spark import (ColumnRoles, SequenceFeaturizer, cache_scope,
                         read_parquet_table)
from caspr_spark.data.tensorize import transform_and_load
from caspr_spark.llm.similarity import read_ivf_state
from caspr_spark.score import score
from caspr_spark.state import describe_state
from caspr_spark.streaming import (ann_ingest_sink, dedup_corpus_sink,
                                   read_dedup_corpus)
from caspr_spark.train_distributed import fit_deep_autoencoder_ddp
from tools.check_correctness import value_hash

import gen


class Mismatch(Exception):
    """An output differs from its independent twin."""


@dataclass
class Op:
    kind: str                       # request type, one of the kinds
    units: int                      # rows this request processes
    run: Callable[[], None]
    check: Callable[[], None]
    prepare: Callable[[], None] | None = None   # input generation, untimed


# ---------------------------------------------------------------- featurize

SEQ_LEN = 15
HISTORY_DAYS = 365
# fit cutoffs (days after the log's first day); the two transforms after
# each fit reapply the fitted model 30 and 60 days later, still inside
# the 540-day log
FIT_DAYS = (400, 460)
TRANSFORM_LAG_DAYS = (30, 60)

EVENT_ROLES = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                          cat_cols=["event_type"], cont_cols=["value"],
                          seq_cols=["event_type", "value", "ts"],
                          date_cols=["ts"], order_tiebreak=["event_id"])


def _cutoff(days: int) -> str:
    t = dt.datetime(2024, 1, 1) + dt.timedelta(days=days)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def featurize_sql(seq_len: int, history_days: int, fit_cutoff: str,
                  apply_cutoff: str) -> str:
    """DuckDB twin of the wide featurization: encoding and min-max stats
    fitted on the window before ``fit_cutoff``, applied to the window
    before ``apply_cutoff`` (equal cutoffs give ``fit_transform``)."""
    n, hist = seq_len, history_days

    def window(c):
        return (f"SELECT * FROM events WHERE extract(epoch FROM ts) > "
                f"floor(extract(epoch FROM TIMESTAMP '{c}')) - {hist}*86400 "
                f"AND ts < TIMESTAMP '{c}'")

    def pivot(src, alias, fill):
        return ",\n  ".join(
            f'coalesce(max(CASE WHEN slot={s} THEN {src} END), {fill}) '
            f'AS "{s}_{alias}"' for s in range(1, n + 1))

    return f"""
WITH fw AS ({window(fit_cutoff)}),
enc AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC,
                                        event_type ASC) AS code
  FROM fw GROUP BY event_type),
stats AS (
  SELECT min(TIMESTAMP '{fit_cutoff}'::DATE - ts::DATE) AS tmin,
         max(TIMESTAMP '{fit_cutoff}'::DATE - ts::DATE) AS tmax,
         min(value) AS vmin, max(value) AS vmax FROM fw),
f AS ({window(apply_cutoff)}),
d AS (
  SELECT f.*, (TIMESTAMP '{apply_cutoff}'::DATE - ts::DATE) AS ts_feat,
         count(*) OVER (PARTITION BY user_id) AS sl,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM f),
n AS (
  SELECT d.user_id,
         (d.sl - d.rd + 1) + CASE WHEN d.sl >= {n} THEN {n} - d.sl ELSE 0 END
           AS slot,
         CAST(coalesce(enc.code, 0) AS INT) AS et,
         (d.value - s.vmin) / (s.vmax - s.vmin) AS val_n,
         CAST(d.ts_feat - s.tmin AS DOUBLE)
           / CAST(s.tmax - s.tmin AS DOUBLE) AS ts_n,
         CAST({hist} - s.tmin AS DOUBLE)
           / CAST(s.tmax - s.tmin AS DOUBLE) AS hist_n
  FROM d LEFT JOIN enc USING (event_type) CROSS JOIN stats s
  WHERE d.rd <= {n})
SELECT user_id,
  {pivot("et", "event_type", "0")},
  {pivot("val_n", "value", "0.0")},
  {pivot("ts_n", "ts", "max(hist_n)")}
FROM n GROUP BY user_id
"""


class FeaturizeLonghist:
    """fit: read → ``fit_transform`` at cutoff c → write the wide table;
    transform: read → reapply that model at c + 30 d, then c + 60 d →
    write."""

    name = "featurize_longhist"
    kinds = ("fit", "transform")
    # the JIT still compiles heavily for the first few requests of each
    # type after the cold one
    warmup = {"fit": 3, "transform": 5}
    main, side = "fit", "transform"

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self._oracle: dict[tuple[str, str], tuple[int, str]] = {}

    def generate(self) -> dict:
        self.events = gen.make_events(self.seed, f"{self.work}/events")
        return {"events": self.events["events"]}

    def start(self, spark) -> None:
        self.spark = spark
        self.duck = duckdb.connect()
        self.duck.sql(f"CREATE VIEW events AS SELECT * FROM "
                      f"read_parquet('{self.events['files'][0]}')")

    def _read(self, cutoff: str):
        with self.tracer.span("sources.read"):
            ev = read_parquet_table(self.spark, self.events["path"])
        return ev.withColumn("prediction_date",
                             F.lit(cutoff).cast("timestamp"))

    def _fit(self, cutoff: str, out: str, holder: dict) -> None:
        df = self._read(cutoff)
        with cache_scope():
            with self.tracer.span("pipeline.fit"):
                wide, model = SequenceFeaturizer(
                    roles=EVENT_ROLES, seq_len=SEQ_LEN,
                    history_days=HISTORY_DAYS, interval=True,
                ).fit_transform(df)
            with self.tracer.span("pipeline.featurize"):
                wide.write.mode("overwrite").parquet(out)
        holder["model"] = model

    def _transform(self, cutoff: str, out: str, holder: dict) -> None:
        df = self._read(cutoff)
        with self.tracer.span("pipeline.transform"):
            holder["model"].transform(df).write.mode("overwrite").parquet(out)

    def _check(self, fit_cutoff: str, apply_cutoff: str, out: str) -> None:
        key = (fit_cutoff, apply_cutoff)
        if key not in self._oracle:
            want = self.duck.sql(featurize_sql(SEQ_LEN, HISTORY_DAYS,
                                               *key)).df()
            self._oracle[key] = (len(want), value_hash(want))
        got = pq.read_table(out).to_pandas()
        if (len(got), value_hash(got)) != self._oracle[key]:
            raise Mismatch(f"featurization at {key} differs from DuckDB")

    def ops(self):
        n = self.events["events"]
        out_fit, out_tr = f"{self.work}/wide_fit", f"{self.work}/wide_tr"
        i = 0
        while True:
            days = FIT_DAYS[i % len(FIT_DAYS)]
            c_fit = _cutoff(days)
            holder: dict = {}
            yield Op("fit", n,
                     lambda c=c_fit, h=holder: self._fit(c, out_fit, h),
                     lambda c=c_fit: self._check(c, c, out_fit))
            for lag in TRANSFORM_LAG_DAYS:
                c_tr = _cutoff(days + lag)
                yield Op("transform", n,
                         lambda c=c_tr, h=holder:
                             self._transform(c, out_tr, h),
                         lambda c=c_fit, a=c_tr:
                             self._check(c, a, out_tr))
            i += 1

    def finish(self) -> dict:
        return {}


# --------------------------------------------------------------- embed_wide

TRAIN_EPOCHS = 2
TRAIN_ROWS = 1_000
HIDDEN_DIM = 16
WORLD_SIZE = 4
CHECK_SAMPLE = 512

TRAIN_ROLES = ColumnRoles(tgt_id=["user_id"], activity_date="ts",
                          cat_cols=["event_type"], cont_cols=["value", "ts"],
                          seq_cols=["event_type", "value", "ts"])
CONT_COLS = ([f"{s}_value" for s in range(1, gen.WIDE_SEQ_LEN + 1)]
             + [f"{s}_ts" for s in range(1, gen.WIDE_SEQ_LEN + 1)])
CAT_COLS = [f"{s}_event_type" for s in range(1, gen.WIDE_SEQ_LEN + 1)]


class EmbedWide:
    """One DDP autoencoder fit on the first 1k entities, then score
    requests over fixed-size cohorts, each written as parquet."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.model = None

    def generate(self) -> dict:
        self.wide = gen.make_wide(self.seed, f"{self.work}/wide")
        self.local = pq.read_table(self.wide["files"][0]).to_pandas()
        return {"rows": self.wide["rows"]}

    def start(self, spark) -> None:
        self.spark = spark

    def _read(self):
        with self.tracer.span("sources.read"):
            return read_parquet_table(self.spark, self.wide["path"])

    def _train(self) -> None:
        df = self._read().filter(F.col("user_id") <= TRAIN_ROWS)
        with self.tracer.span("train_distributed.fit"):
            model, hist = fit_deep_autoencoder_ddp(
                df, TRAIN_ROLES, gen.WIDE_SEQ_LEN, arch="lstm",
                hidden_dim=HIDDEN_DIM, world_size=WORLD_SIZE,
                epochs=TRAIN_EPOCHS, lr=3e-3, seed=self.seed)
        self.model, self.history = model, hist

    def _check_train(self) -> None:
        if len(self.history) != TRAIN_EPOCHS or \
                not np.all(np.isfinite(self.history)):
            raise Mismatch(f"training loss history {self.history}")

    def _cohort(self, i: int) -> tuple[int, int]:
        k = gen.WIDE_ENTITIES // gen.WIDE_COHORT
        lo = (i % k) * gen.WIDE_COHORT + 1
        return lo, lo + gen.WIDE_COHORT - 1

    def _score(self, i: int, out: str) -> None:
        lo, hi = self._cohort(i)
        cohort = self._read().filter(F.col("user_id").between(lo, hi))
        with self.tracer.span("score.score"):
            (score(cohort, self.model, gen.WIDE_SEQ_LEN, 1, 2,
                   cont_cols=CONT_COLS, cat_cols=CAT_COLS)
             .select("user_id", "embeddings")
             .write.mode("overwrite").parquet(out))

    def _check_score(self, i: int, out: str) -> None:
        lo, hi = self._cohort(i)
        got = pq.read_table(out).to_pandas().sort_values("user_id")
        if got["user_id"].tolist() != list(range(lo, hi + 1)):
            raise Mismatch(f"cohort {i}: wrong entity set")
        # the traced run re-encodes the whole cohort, which is also what
        # data.tensorize / models.encode time; otherwise a seeded sample
        if self.tracer.enabled:
            pick = np.arange(len(got))
        else:
            rng = np.random.default_rng([self.seed, i])
            pick = np.sort(rng.choice(len(got), CHECK_SAMPLE, replace=False))
        rows = self.local.iloc[lo - 1 + pick]
        with self.tracer.span("data.tensorize"):
            b = transform_and_load(rows, TRAIN_ROLES, gen.WIDE_SEQ_LEN)
        with self.tracer.span("models.encode"):
            want = self.model.encode(b.seq_cat, b.seq_cont, b.non_seq_cat,
                                     b.non_seq_cont)
        emb = np.stack(got["embeddings"].to_numpy()[pick])
        if not np.allclose(emb, np.asarray(want, np.float32),
                           rtol=1e-4, atol=1e-5):
            raise Mismatch(f"cohort {i}: embeddings differ from encode")

    def ops(self):
        """One DDP fit, whose model every score request then uses."""
        out = f"{self.work}/scored"
        yield Op("train", TRAIN_ROWS * TRAIN_EPOCHS, self._train,
                 self._check_train)
        i = 0
        while True:
            yield Op("score", gen.WIDE_COHORT,
                     lambda i=i: self._score(i, out),
                     lambda i=i: self._check_score(i, out))
            i += 1

    def finish(self) -> dict:
        fits = self.tracer.spans.get("train_distributed.fit", []) \
            if self.tracer.enabled else []
        if not fits:
            return {}
        jobs = sum(r["jobs"] for r in fits) / len(fits)
        return {"train_distributed.fit.jobs_per_epoch": jobs / TRAIN_EPOCHS}


# ------------------------------------------------------------- ingest_state

WRITER = "perfbench"


class IngestState:
    """fold: read a fresh batch → exact-dedup sink → ANN ingest sink."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.dstate, self.corpus = f"{work}/dedup_state", f"{work}/corpus"
        self.astate = f"{work}/ivf_state"
        self.ids: list[np.ndarray] = []

    def generate(self) -> dict:
        self.stream = gen.DocStream(self.seed)
        self.centroids = [[float(v) for v in c]
                          for c in self.stream.centroids]
        return {"batch_docs": gen.INGEST_BATCH_DOCS}

    def start(self, spark) -> None:
        self.spark = spark
        self.dsink = dedup_corpus_sink(self.dstate, self.corpus,
                                       mode="exact", writer_id=WRITER)
        self.asink = ann_ingest_sink(self.astate, self.centroids,
                                     writer_id=WRITER)

    def _prepare(self, b: int, batch: dict) -> None:
        before = len(self.stream.texts)
        batch.update(self.stream.write_batch(b, f"{self.work}/in"))
        batch["new_texts"] = len(self.stream.texts) - before
        self.ids.append(batch["ids"])

    def _fold(self, b: int, batch: dict) -> None:
        with self.tracer.span("sources.read"):
            df = read_parquet_table(self.spark, batch["path"])
        with self.tracer.span("streaming.dedup_fold"):
            self.dsink(df, b)
        with self.tracer.span("streaming.ann_fold"):
            self.asink(df, b)

    def _check_fold(self, b: int, batch: dict) -> None:
        if pq.read_table(f"{self.corpus}/k{b}").num_rows != \
                batch["new_texts"]:
            raise Mismatch(f"batch {b}: kept docs != new distinct texts")
        self.last = (b, batch)

    def ops(self):
        b = 0
        while True:
            batch: dict = {}
            yield Op("fold", 2 * gen.INGEST_BATCH_DOCS,
                     lambda b=b, batch=batch: self._fold(b, batch),
                     lambda b=b, batch=batch: self._check_fold(b, batch),
                     prepare=lambda b=b, batch=batch: self._prepare(b, batch))
            b += 1

    def finish(self) -> dict:
        """End-of-run checks: the kept corpus holds each distinct text
        once, the IVF index holds every ingested id, and replaying the
        last batch changes neither state dir."""
        texts = Counter(r.text for r in read_dedup_corpus(
            self.spark, self.corpus).select("text").collect())
        if texts != Counter(self.stream.texts):
            raise Mismatch("corpus is not the distinct ingested texts")
        ids = sorted(r.vec_id for r in read_ivf_state(
            self.spark, self.astate).select("vec_id").collect())
        if ids != sorted(np.concatenate(self.ids).tolist()):
            raise Mismatch("IVF ids != ingested ids")
        before = [describe_state(self.spark, d)
                  for d in (self.dstate, self.astate)]
        b, batch = self.last
        df = read_parquet_table(self.spark, batch["path"])
        self.dsink(df, b)
        self.asink(df, b)
        after = [describe_state(self.spark, d)
                 for d in (self.dstate, self.astate)]
        if before != after:
            raise Mismatch("replaying the last batch changed the state")
        frames = live_bytes = 0
        for desc in after:
            live = {f["batch_id"] for f in desc["live"]}
            frames += len(live)
            live_bytes += sum(f["bytes"] for f in desc["frames"]
                              if f["batch_id"] in live)
        rows = len(self.stream.texts) + len(ids)
        return {"state.frames": frames,
                "state.bytes_per_live_row": live_bytes / rows}


class EmbedIngest:
    """The model and state side of the engine, with the featurizer
    bypassed: ``EmbedWide``'s requests interleaved with ``IngestState``'s
    folds. The single DDP fit is the train warm-up; the timed loop
    sends one fold per two score requests."""

    name = "embed_ingest"
    kinds = ("train", "score", "fold")
    # the second fold is the first against history, which runs the
    # anti-join and the delta commit for the first time; scores get
    # faster by about 30% over the first four
    warmup = {"train": 1, "fold": 2, "score": 4}
    main, side = "score", "fold"

    def __init__(self, seed: int, work: str, tracer):
        self.embed = EmbedWide(seed, work, tracer)
        self.ingest = IngestState(seed, work, tracer)

    @property
    def tracer(self):
        return self.embed.tracer

    @tracer.setter
    def tracer(self, tracer) -> None:
        self.embed.tracer = self.ingest.tracer = tracer

    def generate(self) -> dict:
        return {**self.embed.generate(), **self.ingest.generate()}

    def start(self, spark) -> None:
        self.embed.start(spark)
        self.ingest.start(spark)

    def ops(self):
        """train, then one fold per two score requests."""
        embed, ingest = self.embed.ops(), self.ingest.ops()
        yield next(embed)
        while True:
            yield next(ingest)
            yield next(embed)
            yield next(embed)

    def finish(self) -> dict:
        return {**self.embed.finish(), **self.ingest.finish()}


WORKLOADS = {w.name: w for w in (FeaturizeLonghist, EmbedIngest)}
