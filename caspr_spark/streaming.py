"""Structured Streaming surface — the reference's batch featurization
re-expressed over unbounded event streams.

The reference is batch-only (its "watermark" is the per-entity
prediction-date filter, caspr/utils/spark/preprocess.py:577-581; SURVEY
§1.2). This module is the streaming extension:

- ``stream_events``: file-source ``readStream`` over the same parquet
  tables, from the same source record (schema, file glob, ns-timestamp
  columns) as ``read_parquet_table``;
- ``windowed_event_stats``: event-time tumbling-window aggregation with a
  real watermark for late data;
- ``streaming_last_n``: a custom stateful operator via
  ``applyInPandasWithState`` that maintains each entity's latest-n events
  — the incremental twin of get_rank + filter_last_n (W1+F2). State is
  a bounded top-n by (ts, tiebreak), so results are independent of
  micro-batch boundaries.
- ``run_to_memory``: drain a finite stream with ``trigger(availableNow)``
  into an in-memory table — how the driver-facing queries and tests turn
  a streaming plan into a checkable DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from caspr_spark.sources import _NANOS_CONF, _rebuild_ns, _table_source


def stream_events(spark: SparkSession, path: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """``readStream`` over one parquet table (file or its directory).

    The schema, the file glob and the ns-timestamp columns come from the
    same memoized source record as ``read_parquet_table``; ns columns
    arrive as longs (legacy conf) and are rebuilt to microsecond
    timestamps by the same integer division.
    """
    src = _table_source(spark, path)
    if src.ns_cols:
        # NOTE: intentionally NOT restored — the streaming query reads
        # files lazily long after this function returns, so the legacy
        # conf must stay set for the life of the stream. Batch reads are
        # unaffected: they pin the recorded schema.
        spark.conf.set(_NANOS_CONF, "true")
    base, pattern = src.root
    reader = (spark.readStream.schema(src.schema)
              .option("pathGlobFilter", pattern))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _rebuild_ns(reader.parquet(base), src.ns_cols)


def windowed_event_stats(stream: DataFrame, ts_col: str = "ts",
                         key_col: str = "event_type", value_col: str = "value",
                         window: str = "1 day",
                         watermark: str = "1 day") -> DataFrame:
    """Tumbling event-time window aggregation with a late-data watermark.

    At scale this is the canonical shape: the watermark bounds state, the
    window+key grouping shuffles once, partial aggregation is map-side.
    """
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(value_col).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), key_col,
                    "n", "sum_value"))


def streaming_last_n(stream: DataFrame, n: int, key_col: str = "user_id",
                     ts_col: str = "ts", value_col: str | list[str] = "value",
                     tiebreak_col: str = "event_id") -> DataFrame:
    """Stateful latest-n tracker: ``applyInPandasWithState`` keeping each
    entity's n most-recent events across micro-batches — the incremental
    twin of the batch sequence featurizer, for one or several value
    columns.

    Output: one row per entity per micro-batch with the current latest-n
    values per column (slot 1 = oldest retained, the pivot layout) plus a
    monotonically increasing ``ver`` — in update mode the memory sink
    appends one row per key per batch, so the final state per key is the
    max-``ver`` row. State is the bounded (ts_epoch_us, tiebreak,
    values...) tuple list + the counter — O(n·cols) per key.

    The key column keeps its source type; value columns must be numeric
    (tracked as doubles) and the tiebreak integral.
    """
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    key_type = dict(stream.dtypes)[key_col]
    out_cols = [key_col, "ver"] + [f"{s}_{c}" for c in value_cols
                                   for s in range(1, n + 1)]
    out_schema = (f"`{key_col}` {key_type}, ver int, " +
                  ", ".join(f"`{s}_{c}` double" for c in value_cols
                            for s in range(1, n + 1)))
    state_schema = ("ts array<long>, tb array<long>, " +
                    ", ".join(f"v{i} array<double>"
                              for i in range(len(value_cols))) + ", ver int")

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        tuples, ver = [], 0
        if state.exists:
            st = state.get
            ts0, tb0, vals0, ver = st[0], st[1], st[2:-1], st[-1]
            tuples = list(zip(ts0, tb0, *vals0))
        for pdf in pdfs:
            ep = (pdf[ts_col].astype("int64") // 1000).tolist()  # ns -> us
            tuples.extend(zip(ep, pdf[tiebreak_col].tolist(),
                              *[pdf[c].tolist() for c in value_cols]))
        tuples.sort(key=lambda t: (t[0], t[1]))
        tuples = tuples[-n:]
        state.update((
            [int(t[0]) for t in tuples],
            [int(t[1]) for t in tuples],
            *[[float(t[2 + i]) for t in tuples]
              for i in range(len(value_cols))],
            ver + 1,
        ))
        pad = n - len(tuples)
        row = [key[0], ver + 1]
        for i in range(len(value_cols)):
            row += [t[2 + i] for t in tuples] + [None] * pad
        yield pd.DataFrame([row], columns=out_cols)

    return (stream.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_sessions(stream: DataFrame, gap: str = "2 days",
                       key_col: str = "user_id", ts_col: str = "ts",
                       value_col: str = "value",
                       watermark: str = "40 days") -> DataFrame:
    """Event-time sessionization over an unbounded stream — the
    incremental twin of the batch ``sessionize`` (W5), via Spark's
    native ``session_window`` state store.

    One row per (entity, session): start, end (= last event + gap, the
    session_window convention), event count, value sum. Sessions merge
    while an event lands strictly inside the gap horizon (``ts <
    prev + gap``); the watermark bounds both late-data acceptance and
    state retention — at production scale it should be the real
    lateness SLA (minutes), which evicts each session's state shortly
    after it closes. The generous default exists for finite
    availableNow drains where nothing may be dropped.

    Scale shape: the grouping shuffles once on (key, session-window);
    merging is done by the state store per key, so skew follows the
    entity key distribution — same bound as every per-entity operator
    here (AQE-splittable, no global state).
    """
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col),
                     F.session_window(F.col(ts_col), gap).alias("sw"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(value_col), 6).alias("sum_value"))
            .select(key_col, F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"), "n",
                    "sum_value"))


#: Per-key state of the prequential anomaly operator: EXACTLY three
#: fixed-width numbers (count, sum, sum of squares) = 24 bytes of
#: payload per entity. At 1e9 distinct entities that is ~24 GB of raw
#: state before store overhead (key bytes + HDFS-backed store ~2-3x) —
#: shard-by-entity across executors and it stays comfortably in memory;
#: state NEVER grows with events-per-key, only with key cardinality.
#: Pinned by tests/test_streaming.py (scale audit, r4 verdict item 9).
ANOMALY_STATE_SCHEMA = "n long, s double, q double"


def streaming_anomaly_zscore(stream: DataFrame, key_col: str = "user_id",
                             ts_col: str = "ts", value_col: str = "value",
                             tiebreak_col: str = "event_id") -> DataFrame:
    """Prequential per-entity anomaly scores over an unbounded stream:
    each event is z-scored against its entity's running statistics as
    they stood BEFORE that event arrived (test-then-train, so the score
    is honest — an event never influences its own baseline).

    State per key is three numbers (count, sum, sum-of-squares); the
    per-batch update is vectorized (cumulative sums over the batch's
    time-sorted values), so the Python worker does O(rows) numpy work,
    never a per-row interpreter loop. Emits (key, tiebreak, n_prior, z)
    with ``z`` null until two prior observations exist or the prior
    variance is 0; null values are ignored (excluded from both scoring
    and the state).

    Exact prequential semantics require a time-ordered replay, same
    contract as the stream-stream join: events must arrive no earlier
    than already-absorbed state (a shuffled-history replay would score
    events against statistics from their future).
    """
    key_type = dict(stream.dtypes)[key_col]
    tb_type = dict(stream.dtypes)[tiebreak_col]
    out_schema = (f"`{key_col}` {key_type}, `{tiebreak_col}` {tb_type}, "
                  "n_prior int, z double")
    state_schema = ANOMALY_STATE_SCHEMA

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd
        n, s, q = (state.get if state.exists else (0, 0.0, 0.0))
        frames = [pdf[[ts_col, tiebreak_col, value_col]] for pdf in pdfs]
        batch = pd.concat(frames).sort_values([ts_col, tiebreak_col])
        batch = batch[batch[value_col].notna()]
        v = batch[value_col].to_numpy(dtype="float64")
        k = len(v)
        pn = n + np.arange(k)
        ps = s + np.concatenate([[0.0], np.cumsum(v)[:-1]])
        pq = q + np.concatenate([[0.0], np.cumsum(v * v)[:-1]])
        with np.errstate(invalid="ignore", divide="ignore"):
            var = (pq - ps * ps / np.maximum(pn, 1)) / np.maximum(pn - 1, 1)
            sd = np.sqrt(var)
            z = (v - ps / np.maximum(pn, 1)) / sd
        z = np.where((pn >= 2) & (sd > 0), np.round(z, 6), np.nan)
        state.update((int(n + k), float(s + v.sum()),
                      float(q + (v * v).sum())))
        if k:  # an all-null batch emits nothing (empty frames would
            #   reach Arrow with object dtypes and fail the schema)
            yield pd.DataFrame({
                key_col: [key[0]] * k,
                tiebreak_col: batch[tiebreak_col].to_numpy(),
                "n_prior": pn.astype("int32"),
                "z": z,
            })

    return (stream.groupBy(key_col)
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def enrich_with_static(stream: DataFrame, dim: DataFrame,
                       on: list[str] | str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (small)
    static dimension — planned as a broadcast hash join per batch, the
    canonical way to attach dimension attributes to a stream."""
    from pyspark.sql import functions as F
    return stream.join(F.broadcast(dim), on=on, how="left")


def stream_stream_join(left: DataFrame, right: DataFrame,
                       on: str | list[str], left_ts: str = "ts",
                       right_ts: str = "ts", max_delay: str = "3 days",
                       watermark: str = "1 day",
                       suffix: str = "_r") -> DataFrame:
    """Watermarked stream-stream inner join with an event-time bound.

    The canonical Spark shape for correlating two unbounded streams:
    both sides carry watermarks, and the join condition pairs the equi
    key with a time-range predicate
    (``left_ts <= right_ts <= left_ts + max_delay``). The range bound
    plus the watermarks is what makes state finite — each side's rows
    are evicted once the other side's watermark passes the last instant
    they could still match; without the bound the join would buffer both
    streams forever. Matches emit as they form (append mode), so no
    final-watermark flush is needed to see results.

    Right-side columns that collide with left names (including the
    timestamp) are suffixed. Inner join only: streaming outer joins need
    the watermark delta to emit nulls and are a different latency
    contract.
    """
    on = [on] if isinstance(on, str) else list(on)
    renamed = {}
    rw = right
    for c in right.columns:
        if c in left.columns:
            renamed[c] = c + suffix
            rw = rw.withColumnRenamed(c, c + suffix)
    rts = renamed.get(right_ts, right_ts)
    lw = left.withWatermark(left_ts, watermark)
    rw = rw.withWatermark(rts, watermark)
    cond = F.lit(True)
    for k in on:
        cond = cond & (F.col(k) == F.col(renamed.get(k, k)))
    cond = cond & (F.col(rts) >= F.col(left_ts)) \
                & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    out = lw.join(rw, cond, "inner")
    # collapse the duplicated join keys back to one column each
    for k in on:
        if k in renamed:
            out = out.drop(renamed[k])
    return out


def streaming_dedup(stream: DataFrame, id_cols: list[str], ts_col: str = "ts",
                    watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup with watermark-BOUNDED state.

    Uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): duplicate ids
    arriving within the watermark horizon collapse, and each key's state
    is evicted once the watermark passes it — plain ``dropDuplicates`` on
    non-event-time keys would grow state forever."""
    return (stream.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(id_cols))


def streaming_dedup_against_history(stream: DataFrame,
                                    history_keys: DataFrame,
                                    text_col: str = "text",
                                    id_col: str = "doc_id",
                                    ts_col: str = "ts",
                                    watermark: str = "1 day",
                                    normalize: bool = True) -> DataFrame:
    """STREAMING incremental corpus dedup: the continuous form of
    ``llm.dedup.dedup_against_history`` — a document stream (the live
    crawl) drops (a) docs whose content key exists in the persisted
    history key table and (b) within-stream re-crawls inside the
    watermark horizon.

    Two stages, both state-bounded:

    1. stream-static LEFT ANTI join against ``history_keys`` (the
       parquet table ``llm.dedup.build_history_keys`` /
       ``save_history_keys`` maintain) — planned per micro-batch as a
       broadcast/hash anti join, no streaming state at all;
    2. ``dropDuplicatesWithinWatermark`` on the content key — dedup
       state per key is evicted once the watermark passes it.

    NULL-text contract matches the batch operator: a null text has no
    content key, so such rows are always kept — the anti join never
    matches a null key, and stage 2 keys null-text rows by
    ``id_col`` (otherwise every null-text row would collapse onto the
    single NULL key).

    Between crawl days, fold the accepted output into the key table
    with ``append_history_keys`` and save — the stream restart then
    dedups against the grown history without ever rescanning it.
    """
    from caspr_spark.llm.dedup import _content_key

    key = _content_key(text_col, normalize)
    keyed = stream.withColumn(
        "__k", F.coalesce(key, F.concat(F.lit("__null__"),
                                        F.col(id_col).cast("string"))))
    hk = history_keys.select(F.col("content_key").alias("__k"))
    kept = keyed.join(hk, on="__k", how="left_anti")
    return (kept.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__k"])
            .drop("__k"))


def streaming_gram_census(stream: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 8) -> DataFrame:
    """STREAMING substring-census fold: the continuous form of
    ``llm.dedup.build_gram_census`` / ``append_gram_census`` — a
    document stream's word-``n``-gram occurrence counts maintained as
    streaming aggregation state, one ``(gram_hash, cnt, gram_n)`` row
    per distinct gram.

    The batch fold is a pure per-hash sum, associative and commutative
    by construction (dedup.py:584 docstring) — which is exactly the
    contract a Structured Streaming aggregation needs: each micro-batch
    explodes its own documents' positional grams (``_positional_grams``
    — the SAME gram definition as every span operator, so the streamed
    census feeds ``duplicated_spans_incremental`` /
    ``trim_duplicated_spans_incremental`` unchanged) and the built-in
    ``groupBy(hash).count`` folds them into state. The drained state is
    therefore row-identical to a one-shot full-corpus
    ``build_gram_census`` REGARDLESS of how documents split into
    micro-batches or in what order they arrive — the
    ``stream_dedup_history`` oracle discipline, pinned by the
    batch-boundary-independence test and the full-corpus oracle.

    No watermark, deliberately: a census is a monotone ALL-TIME
    aggregate (history grams must keep counting), so state grows with
    gram cardinality — the same hash-only, text-free footprint as the
    persisted batch census, orders of magnitude smaller than the
    corpus. Run it in ``update`` mode with a stateful sink in
    production, or use :func:`run_gram_census_to_state` /
    :func:`gram_census_sink` — the ``foreachBatch`` +
    ``append_gram_census`` composition onto a versioned parquet state
    table, restart-safe and certified row-identical to the one-shot
    census (round 12); ``complete`` + memory sink in tests."""
    from caspr_spark.llm.dedup import _positional_grams

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    _, grams = _positional_grams(stream, id_col, text_col, n)
    return (grams.groupBy(F.col("__h").alias("gram_hash"))
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .withColumn("gram_n", F.lit(n).cast("int")))


from caspr_spark.state import prune_state


def _state_sink(state_dir: str, table, build, writer_id: str | None,
                compact_every: int, layout: str = "delta",
                offset: int = 0):
    """The one ``foreachBatch`` fold every state sink shares. Per
    micro-batch: claim the single-writer lease once when ``writer_id``
    is set; apply the replay/out-of-order rule
    (:func:`caspr_spark.state.admit_batch` — a committed batch skips
    EVERYTHING, a late one refuses before the build can write output);
    run the fingerprint guard BEFORE the build, so a mismatched state
    refuses before any output bytes exist; then build the batch's
    state frame (``build(spark, batch_df, b, has_history)`` — the
    family's encoder, which may write per-batch output first) and fold
    it, inside a ``cache_scope``. The guard runs once per instance
    only under the lease — every later frame is then this instance's
    own commit — and on every fold without it, since another writer
    may share the dir. Folds run at ``batch_id + offset`` (ANN/PQ: +1,
    as state ids start at 1; stable across restarts because the
    checkpoint replays ids)."""
    from caspr_spark.state import (admit_batch, check_fold_args, check_layout,
                                   claim_writer, state_listing)

    check_fold_args(layout, compact_every)
    done = {"claimed": False, "checked": False}

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        from caspr_spark.cache import cache_scope

        spark = batch_df.sparkSession
        b = batch_id + offset
        if writer_id is not None and not done["claimed"]:
            claim_writer(spark, state_dir, writer_id)
            done["claimed"] = True
        listing = state_listing(spark, state_dir)
        check_layout(listing, layout, state_dir)
        if not admit_batch(listing, b, state_dir):
            return               # replay of a committed batch — no-op
        if writer_id is None or not done["checked"]:
            table.check(spark, state_dir)
            done["checked"] = True
        with cache_scope():
            frame = build(spark, batch_df, b, bool(listing))
            table.fold(spark, state_dir, b, frame, compact_every, layout)

    return _fold


def _drain(stream: DataFrame, sink, checkpoint_dir: str,
           timeout_sec: int, what: str) -> None:
    """Run ``sink`` over a finite stream with the ``availableNow``
    trigger — the batch-job-shaped invocation of a continuous sink
    (rerun on a schedule, reusing the checkpoint dir to resume at the
    next batch id) — and raise if it does not drain in time. The
    ``run_*_to_state`` callers pass the checkpoint dir as the sink's
    ``writer_id`` too, so a stream with a DIFFERENT checkpoint pointed
    at the same state dir refuses at its first fold."""
    _await_drain(stream.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", checkpoint_dir)
                 .trigger(availableNow=True).start(), timeout_sec, what)


def _await_drain(q, timeout_sec: int, what: str) -> None:
    """Wait for an ``availableNow`` query to finish; on timeout stop it
    first (so it can't keep mutating its sink) and raise instead of
    returning partial results."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{what} stream did not drain within {timeout_sec}s")


def read_gram_census_state(spark, state_dir: str, n: int):
    """Current census state as ONE DataFrame, either layout: the
    newest full census (rebuild), or the newest compact merged with
    every younger delta (delta — at most ``compact_every`` frames).
    Raises on an empty or mixed-layout state dir."""
    from caspr_spark.llm.dedup import _census_table

    return _census_table(n).read(spark, state_dir)


def gram_census_sink(state_dir: str, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8,
                     track_first: bool = False,
                     layout: str = "rebuild", compact_every: int = 8,
                     writer_id: str | None = None):
    """The PRODUCTION sink for the streaming census — the
    ``foreachBatch`` + census-fold composition
    :func:`streaming_gram_census`'s docstring prescribes, as a ready
    ``foreachBatch`` callable (:func:`_state_sink` over the census
    table). Two write layouts:

    ``layout='rebuild'``: micro-batch ``b`` folds into the latest
    committed census and writes the WHOLE census to ``state_dir/v{b}``.
    Simple, one live frame — but each fold pays O(census) write, so it
    fits batch-shaped cadences (a daily crawl against a state table
    that is large but rewritten once a day), NOT second-level triggers
    over web-scale state.

    ``layout='delta'``: the LSM shape — batch ``b`` writes only ITS OWN
    gram counts to ``d{b}`` (O(batch) write, independent of state
    size); every ``compact_every``-th commit merges the newest compact
    + live deltas + the batch into a new compact ``c{b}`` (the
    O(census) cost paid once per ``compact_every`` batches, amortized
    O(census/compact_every)); readers merge at most ``compact_every``
    frames (:func:`read_gram_census_state`), exact because the fold is
    associative (:func:`~caspr_spark.llm.dedup.merge_gram_censuses`).
    This is the layout that survives frequent triggers over
    billions-of-grams state.

    Both layouts follow the :mod:`caspr_spark.state` commit protocol:
    NEW paths only, ``_SUCCESS``-marked commits, and exactly-once
    across restarts because the checkpoint REPLAYS a batch id after a
    crash and the fold is keyed by it (a committed replay skips, a
    markerless crashed attempt is rewritten). Prune superseded dirs
    with :func:`prune_census_state`.

    ``track_first=True`` builds first-occurrence-tracking state
    (``first_id``/``first_pos`` ride through every fold and merge),
    the shape
    :func:`~caspr_spark.llm.dedup.trim_duplicated_spans_incremental`
    consumes.

    ``writer_id`` (pass the stream's CHECKPOINT DIR) arms the
    single-writer lease (:func:`caspr_spark.state.claim_writer`): a
    second stream pointed at the same state dir with a different
    checkpoint fails loudly at its first fold instead of interleaving
    batch ids.
    """
    from caspr_spark.llm.dedup import _census_table, build_gram_census

    return _state_sink(
        state_dir, _census_table(n),
        lambda spark, df, b, _: build_gram_census(
            df, id_col, text_col, n, track_first=track_first),
        writer_id, compact_every, layout)


#: The TTL job :func:`gram_census_sink`'s docstring prescribes — the
#: layout-aware :func:`caspr_spark.state.prune_state` under the census's
#: name.
prune_census_state = prune_state


def run_gram_census_to_state(stream: DataFrame, state_dir: str,
                             checkpoint_dir: str, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 8,
                             track_first: bool = False,
                             layout: str = "rebuild",
                             compact_every: int = 8,
                             timeout_sec: int = 120) -> DataFrame:
    """Drain a document stream through :func:`gram_census_sink`
    (:func:`_drain`) and return the current census state
    (:func:`read_gram_census_state`). Keep ``layout`` stable per state
    dir (the sink refuses a mismatch)."""
    _drain(stream, gram_census_sink(state_dir, id_col, text_col, n,
                                    track_first, layout, compact_every,
                                    writer_id=checkpoint_dir),
           checkpoint_dir, timeout_sec, "gram census")
    return read_gram_census_state(stream.sparkSession, state_dir, n)


def dedup_corpus_sink(state_dir: str, out_dir: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      mode: str = "exact", normalize: bool = True,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_size: int = 3, threshold: float = 0.8,
                      hash_family: str = "fast",
                      compact_every: int = 8,
                      batch_internal: bool = True,
                      writer_id: str | None = None):
    """EXACTLY-ONCE streaming corpus dedup — the continuous-crawl
    composition of the incremental-dedup state layer, as a ready
    ``foreachBatch`` callable (:func:`_state_sink` over the key table
    in exact mode, the signature table in near mode). Per micro-batch
    ``b``:

    1. batch-INTERNAL dedup (``batch_internal=True``): exact mode
       keeps the min-id doc per content key
       (:func:`~caspr_spark.llm.dedup.exact_dedup`); near mode runs
       the LSH pass within the batch
       (:func:`~caspr_spark.llm.dedup.minhash_lsh_dedup`);
    2. drop docs already in the CORPUS: anti-join against the
       versioned key table (exact) / banded join against the
       versioned signature table (near) via
       :func:`~caspr_spark.llm.dedup.dedup_against_history` — history
       is never rescanned or self-joined;
    3. write the kept docs to ``out_dir/k{b}`` (parquet ``_SUCCESS``
       commit; a markerless pre-existing dir is a crashed attempt of
       the SAME batch and is rewritten; an already-MARKED dir means
       the crash fell between output commit and state fold — the
       deterministic recompute makes its bytes already correct, so
       the write is skipped and marked dirs stay immutable);
    4. fold the kept docs' keys/signatures into the versioned state —
       THE commit point.

    Exactly-once across crashes, by the write order: a replayed batch
    whose state fold committed skips everything (its output dir was
    written BEFORE that fold, so it exists); a crash anywhere earlier
    leaves state untouched, so the replay recomputes the IDENTICAL
    kept set against the identical pre-batch state and rewrites the
    output idempotently. Out-of-order batch ids refuse up front —
    before the output write, so a late batch can't leave a committed
    output dir with no matching state fold. Near mode's family/width
    guard also runs before the output write: a mismatched
    pre-existing signature state would otherwise mis-band the history
    join silently and commit an under-deduped output dir that the
    corrected replay then skips and folds permanently. The
    deduplicated corpus is the union of committed output dirs
    (:func:`read_dedup_corpus`); each dir is immutable once marked,
    so downstream consumers can incrementally pick up new ``k{b}``
    dirs without re-reading old ones. Retention: ``out_dir`` gains one
    dir per batch forever — fold the old ones into a single merged dir
    on a cron cadence with :func:`compact_corpus` (crash-safe via the
    same supersede-then-delete rule the state frames use).

    Scale shape: state reads are the bounded LSM merge
    (<= ``compact_every`` frames); the exact-mode join input is the
    hash-only key table (~40 B/doc — a 1e9-doc corpus joins against
    ~40 GB, shuffled on the key, never the text); per-batch writes are
    O(batch). Near mode builds the batch's shingle+minhash signatures
    ONCE per micro-batch and shares them across the internal LSH dedup,
    the history banded join and the state fold (``signatures=`` /
    ``batch_signatures=`` plumbing). ``writer_id`` (pass the
    checkpoint dir) arms the single-writer lease on the state dir.
    Kept docs are re-read from the just-written parquet for the fold,
    so output and state are derived from the same bytes and the batch
    plan runs once.
    """
    if mode not in ("exact", "near"):
        raise ValueError(f"mode must be 'exact' or 'near', got {mode!r}")
    from caspr_spark.cache import register_cache
    from caspr_spark.llm.dedup import (_KEYS_TABLE, _signature_rows,
                                       _signature_table,
                                       build_history_keys,
                                       build_history_signatures,
                                       dedup_against_history, exact_dedup,
                                       minhash_lsh_dedup)
    from caspr_spark.state import output_committed

    table = (_KEYS_TABLE if mode == "exact"
             else _signature_table(hash_family, num_hashes))

    def _build(spark, batch_df: DataFrame, batch_id: int,
               has_history: bool) -> DataFrame:
        kept = batch_df
        batch_sigs = None
        if mode == "near":
            # ONE shingle+minhash pass per micro-batch, shared by the
            # internal LSH dedup, the history banded join and the fold
            batch_sigs = register_cache(
                build_history_signatures(batch_df, id_col, text_col,
                                         num_hashes, shingle_size,
                                         hash_family)
                .withColumnRenamed("history_id", id_col).persist())
            # withColumnRenamed returns a fresh object — re-attach the
            # provenance mark so the downstream guards skip their probes
            batch_sigs._caspr_hash_family = hash_family
        if batch_internal:
            kept = (exact_dedup(kept, text_col, id_col, normalize)
                    if mode == "exact" else
                    minhash_lsh_dedup(kept, id_col, text_col, num_hashes,
                                      bands, shingle_size, threshold,
                                      hash_family=hash_family,
                                      signatures=batch_sigs)[0])
        if has_history and mode == "exact":
            kept, _ = dedup_against_history(
                kept, None, id_col, text_col, mode="exact",
                normalize=normalize,
                history_keys=table.read(spark, state_dir))
        elif has_history:
            bs = (batch_sigs.join(kept.select(id_col), on=id_col,
                                  how="left_semi")
                  if batch_internal else batch_sigs)
            hs = table.read(spark, state_dir)
            # both sides are verified for this family — the batch side
            # was built here, the state by the sink's guard — so mark
            # them and dedup_against_history skips its own probes
            bs._caspr_hash_family = hs._caspr_hash_family = hash_family
            kept, _ = dedup_against_history(
                kept, None, id_col, text_col, mode="near",
                num_hashes=num_hashes, bands=bands,
                shingle_size=shingle_size, threshold=threshold,
                hash_family=hash_family,
                history_signatures=hs,
                batch_signatures=bs)
        out_path = f"{out_dir}/k{batch_id}"
        # A crash BETWEEN the output's _SUCCESS commit and the state
        # fold replays here with the output dir already complete; the
        # recompute is deterministic (identical pre-batch state AND
        # configuration — hold the sink's parameters constant across
        # replays of an uncommitted batch; family/width drift refuses
        # via the guard BEFORE this write, and the other knobs are
        # part of the state-dir contract regardless), so the existing
        # bytes are already correct — skip the rewrite to keep marked
        # dirs genuinely immutable for concurrent readers. One O(1)
        # marker probe, never a full out_dir listing (~9k dirs after a
        # year of hourly crawls).
        if not output_committed(spark, out_path):
            kept.write.mode("overwrite").parquet(out_path)
        kept_written = spark.read.parquet(out_path)
        if mode == "exact":
            return build_history_keys(kept_written, id_col, text_col,
                                      normalize)
        # the fold derives its ROW SET from the written bytes
        # (kept_written ids) but reuses the batch's already-computed
        # signature values instead of another full shingle+minhash
        # pass — deterministic build, so the committed state bytes are
        # identical (regression-tested in test_streaming)
        return _signature_rows(kept_written, id_col, text_col,
                               num_hashes, shingle_size, hash_family,
                               signatures=batch_sigs)

    return _state_sink(state_dir, table, _build, writer_id, compact_every)


def ann_ingest_sink(state_dir: str, centroids: list,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    compact_every: int = 8,
                    partition_by_cell: bool = False,
                    writer_id: str | None = None):
    """EXACTLY-ONCE streaming embedding ingest into the versioned IVF
    index (:func:`caspr_spark.llm.similarity.append_ivf_state`) as a
    ``foreachBatch`` callable (:func:`_state_sink`): each micro-batch
    assigns ITS OWN vectors under the pinned ``centroids`` and folds
    them as an O(batch) delta at ``batch_id + 1`` (state ids start at
    1). ``partition_by_cell`` hive-partitions frames on ``ivf_cell``;
    ``writer_id`` (pass the checkpoint dir) arms the single-writer
    lease. Search with
    :func:`caspr_spark.llm.similarity.cosine_topk_ivf_state`."""
    from caspr_spark.llm.similarity import _ivf_frame, _ivf_table

    return _state_sink(
        state_dir, _ivf_table(centroids, partition_by_cell),
        lambda spark, df, b, _: _ivf_frame(df, centroids, id_col, vec_col),
        writer_id, compact_every, offset=1)


def run_ann_ingest_to_state(stream: DataFrame, state_dir: str,
                            checkpoint_dir: str, centroids: list,
                            timeout_sec: int = 120,
                            **sink_kwargs) -> DataFrame:
    """Drain an embedding stream through :func:`ann_ingest_sink`
    (:func:`_drain`) and return the accumulated IVF index
    (:func:`~caspr_spark.llm.similarity.read_ivf_state`)."""
    from caspr_spark.llm.similarity import read_ivf_state

    _drain(stream, ann_ingest_sink(state_dir, centroids,
                                   writer_id=checkpoint_dir, **sink_kwargs),
           checkpoint_dir, timeout_sec, "ANN ingest")
    return read_ivf_state(stream.sparkSession, state_dir)


def pq_ingest_sink(state_dir: str, codebooks,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   compact_every: int = 8,
                   writer_id: str | None = None):
    """EXACTLY-ONCE streaming embedding ingest into the versioned PQ
    code table (:func:`caspr_spark.llm.pq.append_pq_state`) —
    :func:`ann_ingest_sink`'s sibling: each micro-batch encodes ITS
    OWN vectors under the pinned ``codebooks`` and folds the codes at
    ``batch_id + 1``. ``writer_id`` (pass the checkpoint dir) arms the
    single-writer lease. Search with
    :func:`caspr_spark.llm.pq.adc_topk_pq_state`."""
    from caspr_spark.llm.pq import _pq_frame, _pq_table

    return _state_sink(
        state_dir, _pq_table(codebooks),
        lambda spark, df, b, _: _pq_frame(df, codebooks, id_col, vec_col),
        writer_id, compact_every, offset=1)


def _corpus_dirs(spark, out_dir: str):
    """Committed ``k{b}`` and ``m{b}`` ids under a corpus sink's
    ``out_dir``, plus the newest merge id (``None`` before any)."""
    from caspr_spark.state import committed_output_ids

    ids_m = committed_output_ids(spark, out_dir, prefix="m")
    return (committed_output_ids(spark, out_dir), ids_m,
            max(ids_m) if ids_m else None)


def read_dedup_corpus(spark, out_dir: str) -> DataFrame:
    """The deduplicated corpus a :func:`dedup_corpus_sink` has
    accumulated: the newest merged ``m{b}`` dir (if
    :func:`compact_corpus` has run) plus every committed ``k{b}``
    output dir with a LARGER batch id. Markerless (crashed-attempt)
    dirs are invisible — same commit rule as the state frames — and
    so are dirs superseded by the newest merge (``k``/older-``m``
    dirs at or below its id survive only inside the crash window
    between a merge's commit and its victim deletes; the supersede
    rule keeps that window double-read-free)."""
    ids_k, ids_m, base = _corpus_dirs(spark, out_dir)
    paths = [f"{out_dir}/m{base}"] if base is not None else []
    paths += [f"{out_dir}/k{b}" for b in ids_k
              if base is None or b > base]
    if not paths:
        raise RuntimeError(f"no committed dedup output under {out_dir}")
    return spark.read.parquet(*paths)


def compact_corpus(spark, out_dir: str, keep_last: int = 8,
                   drop_ids: DataFrame | None = None) -> list[str]:
    """Fold old per-batch ``k{b}`` output dirs into ONE merged
    ``m{b_max}`` dir — the retention story for a corpus sink that
    would otherwise accumulate a dir per batch forever (a year of
    hourly crawls is ~9k dirs: listings stay cheap, but small-file
    pressure and open-cost per read grow without bound). The newest
    ``keep_last`` k-dirs are kept as-is so incremental consumers
    retain a tail window of per-batch dirs to pick up.

    Crash-safe by the SUPERSEDE rule :func:`read_dedup_corpus`
    enforces: the merged dir commits first (parquet ``_SUCCESS``),
    and from that instant every ``k``/older-``m`` dir at or below its
    id is invisible to readers — so a crash between the merge's
    commit and the victim deletes never double-reads; re-running the
    compaction deletes the leftovers. Incremental consumers that tail
    ``k{b}`` dirs track their consumed frontier ``f`` and skip any
    ``m{b}`` with ``b <= f`` (a merge contains nothing newer than its
    id). Caveat shared with :func:`caspr_spark.state.prune_state`: a
    reader that LISTED dirs before the merge committed can still hit a
    victim dir mid-delete — run compaction off the readers' cadence
    (the nightly-job shape), or let the reader retry its listing.
    Returns the dir names deleted.

    ``drop_ids`` (a one-column frame of document ids) is the output
    side of the forget-document story
    (:func:`caspr_spark.llm.dedup.forget_documents_state` handles the
    STATE side): the merged dir is written WITHOUT those docs, so the
    withdrawn content's bytes leave the corpus output when its source
    dirs fold into the merge. Only the merged span is filtered — the
    ``keep_last`` tail k-dirs are immutable by contract; run the next
    compaction (or ``keep_last=0``) to sweep a forgotten doc that
    still sits in the tail."""
    from caspr_spark.state import _fs

    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    ids_k, ids_m, base = _corpus_dirs(spark, out_dir)
    # leftovers a crashed earlier compaction already superseded
    stale = [f"k{b}" for b in ids_k if base is not None and b <= base]
    stale += [f"m{b}" for b in ids_m if base is not None and b < base]
    live_k = [b for b in ids_k if base is None or b > base]
    victims = live_k[:len(live_k) - keep_last] if keep_last else live_k
    if victims:
        new_id = max(victims)
        paths = ([f"{out_dir}/m{base}"] if base is not None else []) \
            + [f"{out_dir}/k{b}" for b in victims]
        merged = spark.read.parquet(*paths)
        if drop_ids is not None:
            col = drop_ids.columns[0]
            if col not in merged.columns:
                raise ValueError(
                    f"drop_ids column {col!r} is not a corpus column "
                    f"({merged.columns}) — name the drop frame's one "
                    "column after the sink's id column")
            merged = merged.join(
                F.broadcast(drop_ids.select(col).distinct()),
                on=col, how="left_anti")
        merged.write.mode("overwrite").parquet(f"{out_dir}/m{new_id}")
        stale += [f"k{b}" for b in victims]
        if base is not None:
            stale += [f"m{base}"]
    jvm, fs, jpath = _fs(spark, out_dir)
    for name in stale:
        fs.delete(jvm.org.apache.hadoop.fs.Path(jpath, name), True)
    return sorted(set(stale))


def run_dedup_corpus_to_state(stream: DataFrame, state_dir: str,
                              out_dir: str, checkpoint_dir: str,
                              timeout_sec: int = 120,
                              **sink_kwargs) -> DataFrame:
    """Drain a document stream through :func:`dedup_corpus_sink`
    (:func:`_drain`) and return the deduplicated corpus so far
    (:func:`read_dedup_corpus`)."""
    _drain(stream, dedup_corpus_sink(state_dir, out_dir,
                                     writer_id=checkpoint_dir,
                                     **sink_kwargs),
           checkpoint_dir, timeout_sec, "dedup corpus")
    return read_dedup_corpus(stream.sparkSession, out_dir)


def run_to_memory(streaming_df: DataFrame, name: str,
                  output_mode: str = "complete",
                  timeout_sec: int = 120) -> DataFrame:
    """Drain a finite stream into an in-memory table and return it
    (:func:`_await_drain`: raises on timeout, never a partial table)."""
    _await_drain(streaming_df.writeStream.format("memory").queryName(name)
                 .outputMode(output_mode).trigger(availableNow=True)
                 .start(), timeout_sec, f"{name!r}")
    return streaming_df.sparkSession.table(name)


def streaming_windowed_topk(stream: DataFrame, k: int = 3,
                            ts_col: str = "ts",
                            key_col: str = "event_type",
                            window: str = "1 day",
                            watermark: str = "1 day") -> DataFrame:
    """Windowed count stream feeding a per-window top-k — the trending
    dashboard shape (top hashtags per hour, top error codes per day).

    Structured Streaming forbids ranking windows inside a streaming
    plan, so this returns the WATERMARK-BOUNDED windowed counts stream
    (per (window, key), state evicted past the watermark — the scalable
    half); :func:`topk_of_windows` is the batch finisher a consumer
    applies to the sink table, where the relation is already reduced to
    (windows × keys) rows. Splitting at exactly that line keeps the
    unbounded-state part streaming-safe and the rank part trivially
    small.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("window_start"), "key", "cnt"))


def topk_of_windows(counts: DataFrame, k: int = 3) -> DataFrame:
    """Batch finisher for :func:`streaming_windowed_topk`'s sink table:
    rank keys per window (cnt desc, key asc — deterministic) and keep
    the top ``k`` — the grouped-limit primitive, delegated to
    ``operators.rank.topk_per_group`` (one implementation to maintain,
    WindowGroupLimit planning and k validation included)."""
    from caspr_spark.operators.rank import topk_per_group
    return topk_per_group(counts, ["window_start"],
                          [F.col("cnt").desc(), F.col("key").asc()], k)
