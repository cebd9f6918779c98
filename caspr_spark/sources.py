"""Parquet sources/sinks (SURVEY §2.1).

Both parquet readers — :func:`read_parquet_table` and
``streaming.stream_events`` — start from one memoized record,
:class:`_TableSource`, keyed on the path's ``*.parquet`` files: their
nanosecond columns (from the first file's footer; pyarrow, driver-side,
no data read) and the Spark schema inferred once. A read of an
unchanged path opens no footer and runs no inference.

One ns rule: Spark 4 refuses parquet ``TIMESTAMP(NANOS)``, so a column
stored as INT64 with that logical type — naive or UTC-adjusted — is
inferred as a long (``nanosAsLong``) and rebuilt to microseconds with
*integer* division (ns epochs exceed 2^53; truncation toward zero
matches DuckDB / pyarrow, which keeps oracle comparisons exact). INT96
never counts: Spark writes it by default and reads it natively as a
timestamp, though pyarrow reports it as ``timestamp[ns]`` too.
"""

from __future__ import annotations

import glob
import json
import os
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# confs that change what parquet schema inference returns (nanosAsLong
# does not: a table with ns columns is always inferred with it on)
_INFER_CONFS = ("spark.sql.parquet.inferTimestampNTZ.enabled",
                "spark.sql.parquet.binaryAsString",
                "spark.sql.parquet.int96AsTimestamp",
                "spark.sql.parquet.mergeSchema")


class _TableSource(NamedTuple):
    """One parquet path's metadata, for the file listing in its memo key."""
    root: tuple[str, str]      # (directory, file glob) naming those files
    ns_cols: tuple[str, ...]   # INT64 TIMESTAMP(NANOS) columns
    schema: StructType         # Spark's inferred schema, ns columns as longs


# (path, (file, size, mtime)×N, inference confs, applicationId)
#   -> _TableSource. Inference costs ~90 ms of driver work per path, a
# pinned-schema read ~14 ms (sf0.1 documents), and a hit skips the footer
# read too. A rewritten path, a conf change or a new application misses.
_TABLE_SOURCES: dict[tuple, _TableSource] = {}
_TABLE_SOURCES_MAX = 1024


def _table_source(spark: SparkSession, path: str) -> _TableSource:
    """The memoized :class:`_TableSource` of a parquet file or directory."""
    if os.path.isdir(path):
        root = (path, "*.parquet")
        files = tuple(sorted(glob.glob(os.path.join(path, "*.parquet"))))
        if not files:
            raise ValueError(f"no parquet files under {path!r}")
    else:
        root, files = os.path.split(path), (path,)
    listing = tuple((f, st.st_size, st.st_mtime)
                    for f, st in zip(files, map(os.stat, files)))
    key = (path, listing, tuple(spark.conf.get(c, None) for c in _INFER_CONFS),
           spark.sparkContext.applicationId)
    src = _TABLE_SOURCES.get(key)
    if src is not None:
        return src
    footer = pq.read_metadata(files[0]).schema
    ns_cols = tuple(c.name for c in map(footer.column, range(len(footer)))
                    if c.path == c.name             # top-level column
                    and c.physical_type == "INT64"
                    and c.logical_type.type == "TIMESTAMP"
                    and "nanoseconds" in c.logical_type.to_json())
    prev = spark.conf.get(_NANOS_CONF, "false")
    if ns_cols:
        spark.conf.set(_NANOS_CONF, "true")
    try:
        schema = spark.read.parquet(path).schema
    finally:
        spark.conf.set(_NANOS_CONF, prev)
    if len(_TABLE_SOURCES) >= _TABLE_SOURCES_MAX:
        _TABLE_SOURCES.clear()
    src = _TABLE_SOURCES[key] = _TableSource(root, ns_cols, schema)
    return src


def _rebuild_ns(df: DataFrame, ns_cols: tuple[str, ...]) -> DataFrame:
    """Nanosecond longs -> microsecond timestamps, truncating toward zero."""
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table, transparently fixing ns-timestamp columns."""
    src = _table_source(spark, path)
    return _rebuild_ns(spark.read.schema(src.schema).parquet(path), src.ns_cols)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Read the driver's test tables under ``sf_dir`` into a dict."""
    return {n: read_parquet_table(spark, f"{sf_dir}/{n}.parquet") for n in names}


# (canonical plan, file listings, split confs, parallelism, applicationId)
#   -> (n_partitions, sizeInBytes). The partition-count probe below costs
# ~50 ms of driver-side PHYSICAL PLANNING per fresh DataFrame, mostly over
# the same base-table scans. A hit returns exactly what the probe returned
# for the same key, and the key holds everything the count and the size
# estimate depend on — the canonical plan text alone does not: it omits the
# scanned files and renders every in-memory frame of one schema the same.
# So only plans whose leaves are ALL file-source relations are memoized,
# keyed with each leaf's file listing (path, length, mtime) and the confs a
# live session can change between probes (``configure_for_scale``).
_NPARTS_CACHE: dict[tuple, tuple[int, int | None]] = {}
_NPARTS_CACHE_MAX = 1024
_NPARTS_CONFS = ("spark.sql.shuffle.partitions",
                 "spark.sql.files.maxPartitionBytes",
                 "spark.sql.files.openCostInBytes",
                 "spark.sql.files.minPartitionNum")
# probe telemetry (driver-side ints, no jobs): calls vs physical-planning
# probes actually paid
_NPARTS_STATS = {"calls": 0, "misses": 0}


def _nparts_key(df: DataFrame) -> tuple | None:
    """The probe memo key, or ``None`` when the plan reads anything but
    files (in-memory frames, ranges, streams) — those are never
    memoized."""
    plan = df._jdf.queryExecution().analyzed()
    listings = []
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = leaf.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        listings.append(rel.location().allFiles().toString())
    spark = df.sparkSession
    sc = spark.sparkContext
    return (plan.canonicalized().toString(), tuple(listings),
            tuple(spark.conf.get(c, None) for c in _NPARTS_CONFS),
            sc.defaultParallelism, sc.applicationId)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None,
                       cpu_light: bool = False) -> DataFrame:
    """Repartition up if the plan has fewer partitions than cores.

    Small single-file inputs (one parquet row-group) otherwise pin
    CPU-heavy per-row stages (shingling, hashing, regex, Python kernels)
    to one task. No-op when the input is already wide — at 100 TB the
    scan naturally yields thousands of partitions and this never fires.

    ``cpu_light=True`` declares the downstream per-row work cheap (a
    vectorized matmul, simple exprs): the target is then capped by the
    optimizer's size estimate (~2 MB of input per task, floor 4), since
    fanning a 1 MB relation out to 32 tasks of a few dozen rows buys no
    CPU and pays 32 task schedules per downstream stage. CPU-bound
    kernels (the default) always get the full core count — for them the
    bytes-per-task heuristic under-parallelizes badly (shingling 5k docs
    is minutes of CPU on single-digit MB of input).

    Probe results of file-only plans are memoized (``_NPARTS_CACHE``,
    keyed by :func:`_nparts_key`): repeat probes of the same files under
    the same plan and confs skip the physical planning, returning the
    identical count — the repartition DECISION (and hence certified
    partition layouts) is unchanged by construction.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    _NPARTS_STATS["calls"] += 1
    key = None
    try:
        key = _nparts_key(df)
    except Exception:
        pass
    hit = _NPARTS_CACHE.get(key) if key is not None else None
    n, size = hit if hit is not None else (None, None)
    if min_partitions is None and cpu_light:
        if size is None:
            try:
                size = int(df._jdf.queryExecution().optimizedPlan()
                           .stats().sizeInBytes())
            except Exception:
                pass  # stats unavailable (e.g. streaming plan): keep cores
            if hit is not None and size is not None:
                _NPARTS_CACHE[key] = (n, size)     # write the size back
        if size is not None:
            target = max(4, min(target, size // (2 << 20) + 1))
    if n is None:
        _NPARTS_STATS["misses"] += 1
        try:
            # Same physical-plan RDD ``df.rdd`` wraps, minus the Python-
            # serialization stages that wrapper prepends — identical
            # partition count by construction, ~25 ms less driver work per
            # probe (this fires on every fresh DataFrame handed to a
            # shingling/hash path).
            n = df._jdf.queryExecution().toRdd().getNumPartitions()
        except Exception:
            n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_NPARTS_CACHE) >= _NPARTS_CACHE_MAX:
                _NPARTS_CACHE.clear()
            _NPARTS_CACHE[key] = (n, size)
    if n < target:
        return df.repartition(target)
    return df


def write_bucketed_table(df: DataFrame, name: str, bucket_cols: list[str],
                         num_buckets: int = 32,
                         sort_cols: list[str] | None = None) -> DataFrame:
    """Persist ``df`` bucketed (and optionally sorted) by join/agg keys.

    Bucketing pre-shuffles the data once at write time: any later
    equi-join or aggregation on ``bucket_cols`` between tables bucketed
    the same way runs with NO exchange — at 100 TB this converts every
    repeated entity-key join from a shuffle into a local merge. (Parquet
    self-describing buckets need the session catalog: ``saveAsTable``.)
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
    return df.sparkSession.table(name)


def write_parquet_handover(df: DataFrame, path: str, partitions: int | None = None,
                           block_size: int = 128 * 1024 * 1024) -> str:
    """Repartition + write parquet for downstream consumers (S1).

    Reference ``petastorm_handover`` (caspr/utils/spark/preprocess.py:47-62)
    used 1 MiB row groups to widen Petastorm streaming parallelism; for
    pure-Spark consumers the 128 MiB default here is the right row-group
    size — pass ``block_size=1 << 20`` to reproduce the Petastorm tuning.
    """
    writer = (df.repartition(partitions) if partitions else df).write
    writer.mode("overwrite").option("parquet.block.size", block_size).parquet(path)
    return path


def write_table(df: DataFrame, path: str, format: str = "csv",
                mode: str = "overwrite", compression: str | None = None,
                **options) -> str:
    """Write ``df`` as csv (header on) or json (JSON-lines) — the
    interchange formats the parquet-native reference never speaks.

    CSV/JSONL are row formats with no column pruning or predicate
    pushdown, so they are HANDOVER formats here (exports to other
    stacks), not storage formats; the scale path stays parquet. Pass
    ``compression`` ('gzip', 'zstd', ...) for wire-size-sensitive
    exports — note gzip'd csv is not splittable, so one file = one read
    task downstream.
    """
    if format not in ("csv", "json"):
        raise ValueError(f"format must be csv or json, got {format!r}")
    writer = df.write.mode(mode)
    if format == "csv":
        writer = writer.option("header", "true")
    if compression:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    getattr(writer, format)(path)
    return path


def read_table(spark: SparkSession, path: str, format: str = "csv",
               schema=None, **options) -> DataFrame:
    """Read a csv/json table written by :func:`write_table`.

    ALWAYS pass ``schema`` in production — schema inference runs an
    extra full scan of the data and infers per-file types that can
    disagree across files; with an explicit schema the read is
    single-pass and stable. (Falls back to inference when omitted, for
    exploration only.)
    """
    if format not in ("csv", "json"):
        raise ValueError(f"format must be csv or json, got {format!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif format == "csv":
        options.setdefault("inferSchema", "true")
    if format == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return getattr(reader, format)(path)


def _shard_checksums(df: DataFrame, id_col: str) -> dict[int, tuple[int, int]]:
    """Per-shard (rows, id checksum) of a shard export — the checksum is
    order-insensitive: the XOR of the ids' md5 hashes."""
    return {int(r["__shard"]): (int(r["rows"]), int(r["id_xor"]))
            for r in df.groupBy("__shard").agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.conv(F.substring(F.md5(
                    F.col(id_col).cast("string")), 1, 15), 16, 10)
                    .cast("long")).alias("id_xor")).collect()}


def write_training_shards(df: DataFrame, path: str, n_shards: int,
                          id_col: str, sort_cols: list[str] | None = None,
                          seed: int = 42) -> dict:
    """Export a training corpus as ``n_shards`` DETERMINISTIC shards +
    a manifest — the handover format a multi-node data loader consumes
    (each worker reads ``shard = rank % n_shards``, exactly once, no
    coordination).

    Shard assignment is ``md5(seed ‖ id) mod n_shards`` — the portable
    keyed-hash discipline of ``operators.sampling`` (stable across
    Spark versions, partitionings, and engines, unlike ``hash()``), so
    re-exporting the same table yields byte-identical shard membership.
    Rows sort by ``sort_cols`` (default: the id) INSIDE each shard —
    deterministic iteration order without any global sort. The manifest
    (``_manifest.json``) records per-shard row counts and an
    order-insensitive id checksum, which ``read_training_shards``
    re-verifies — torn/partial exports fail loudly at read time, not
    as silently-shorter epochs.

    Scale shape: one hash exchange into ``n_shards`` write tasks
    (``repartition`` on the shard id), sort within partitions only.
    """
    from caspr_spark.operators.sampling import _hash_col
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # the portable keyed hash is operators.sampling's — ONE definition
    # of the md5 discipline, not a re-rolled variant
    shard = F.pmod(
        F.conv(F.substring(_hash_col([id_col], seed), 1, 15), 16, 10)
        .cast("long"), F.lit(n_shards)).cast("int")
    out = df.withColumn("__shard", shard)
    sort_cols = list(sort_cols or [id_col])
    (out.repartition(n_shards, F.col("__shard"))
        .sortWithinPartitions("__shard", *sort_cols)
        .write.mode("overwrite").partitionBy("__shard").parquet(path))
    # manifest stats come from the FILES JUST WRITTEN, not a second
    # scan of the source plan: a non-bit-stable plan (sample/limit/
    # rand-derived columns) would otherwise produce a manifest for a
    # different row set than the export — the exact torn-export
    # confusion the manifest exists to rule out
    per_shard = _shard_checksums(df.sparkSession.read.parquet(path), id_col)
    manifest = {
        "n_shards": n_shards, "id_col": id_col, "seed": seed,
        "total_rows": sum(rows for rows, _ in per_shard.values()),
        "shards": {str(k): dict(zip(("rows", "id_xor"),
                                    per_shard.get(k, (0, 0))))
                   for k in range(n_shards)},
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def read_training_shards(spark: SparkSession, path: str,
                         verify: bool = True) -> DataFrame:
    """Read a shard export back (all shards), verifying the manifest's
    per-shard row counts and id checksums when ``verify`` (one
    aggregation over the ids — cheap next to the read itself)."""
    with open(os.path.join(path, "_manifest.json")) as fh:
        manifest = json.load(fh)
    df = spark.read.parquet(path)
    if verify:
        got = _shard_checksums(df, manifest["id_col"])
        for k, want in manifest["shards"].items():
            if want["rows"] == 0:
                continue
            g = got.get(int(k))
            if g != (want["rows"], want["id_xor"]):
                raise ValueError(
                    f"shard {k} fails manifest verification: "
                    f"got rows/checksum {g}, manifest says "
                    f"({want['rows']}, {want['id_xor']}) — partial or "
                    "torn export")
    return df
