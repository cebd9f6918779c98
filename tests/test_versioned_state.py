"""The shared versioned-state layer: the sink factory's fingerprint
guard, the unified vacuum guard, the partition-probe memo key, and
per-fold Spark job counts for the leased state sinks."""

import pytest
from pyspark.sql import functions as F


def _cents(shift: float = 0.0):
    from __spark_entry__ import _ivf_fixed_centroids
    return [[c + shift for c in row] for row in _ivf_fixed_centroids()]


def _codebooks(shift: float = 0.0):
    from __spark_entry__ import _pq_fixed_cb
    return _pq_fixed_cb()[0] + shift


class TestUnleasedSinkGuard:
    """Without a ``writer_id`` nothing stops a second writer from
    sharing the state dir, so an unleased sink must probe the
    fingerprint on EVERY fold, not only its first."""

    def _sink(self, family, shift, d, out):
        from caspr_spark.streaming import (ann_ingest_sink,
                                           dedup_corpus_sink,
                                           pq_ingest_sink)
        if family == "ivf":
            return ann_ingest_sink(d, _cents(shift))
        if family == "pq":
            return pq_ingest_sink(d, _codebooks(shift))
        return dedup_corpus_sink(d, out, mode="near", num_hashes=16,
                                 bands=8, hash_family=("fast" if shift
                                                       else "portable"))

    @pytest.mark.parametrize("family", ["ivf", "pq", "near"])
    def test_second_unleased_writer_refuses_later_fold(
            self, family, spark, embeddings, documents, tmp_path):
        from caspr_spark.state import state_listing
        d, out = str(tmp_path / "state"), str(tmp_path / "out")
        a, b = (self._sink(family, shift, d, out) for shift in (0.0, 1.0))
        data, idc = ((embeddings, "vec_id") if family != "near"
                     else (documents.select("doc_id", "text"), "doc_id"))
        empty = data.filter(F.col(idc) < 0)
        rows = data.filter(F.col(idc) < 40)
        a(empty, 0)          # both first folds pass: only empty frames
        b(empty, 1)
        a(rows.filter(F.col(idc) % 2 == 0), 2)    # A's rows commit
        with pytest.raises(ValueError,
                           match="fingerprint|hash_family"):
            b(rows.filter(F.col(idc) % 2 == 1), 3)
        assert len(state_listing(spark, d)) == 3
        if family == "near":           # refused before the output write
            import os
            assert not os.path.exists(os.path.join(out, "k3"))


class TestVacuumGuard:
    """Vacuum refuses a mismatched quantizer/codebook even when the
    newest live frame is an empty delta (routine for streaming
    sinks) — the guard probes past empty frames."""

    def test_ivf_vacuum_probes_past_empty_delta(self, embeddings,
                                               tmp_path):
        from caspr_spark.llm.similarity import (append_ivf_state,
                                                vacuum_ivf_state)
        from caspr_spark.state import state_listing
        spark = embeddings.sparkSession
        d = str(tmp_path / "ivf")
        append_ivf_state(spark, d, 1, embeddings, _cents())
        append_ivf_state(spark, d, 2, embeddings.filter("vec_id < 0"),
                         _cents())
        with pytest.raises(ValueError, match="fingerprint"):
            vacuum_ivf_state(spark, d, 3, _cents(1.0))
        assert [b for b, _ in state_listing(spark, d)] == [1, 2]

    def test_pq_vacuum_probes_past_empty_delta(self, embeddings, tmp_path):
        from caspr_spark.llm.pq import append_pq_state, vacuum_pq_state
        from caspr_spark.state import state_listing
        spark = embeddings.sparkSession
        d = str(tmp_path / "pq")
        append_pq_state(spark, d, 1, embeddings, _codebooks())
        append_pq_state(spark, d, 2, embeddings.filter("vec_id < 0"),
                        _codebooks())
        with pytest.raises(ValueError, match="fingerprint"):
            vacuum_pq_state(spark, d, 3, _codebooks(0.25))
        assert [b for b, _ in state_listing(spark, d)] == [1, 2]


class TestPartitionProbeMemo:
    """``ensure_parallelism``'s probe memo must never answer for a
    frame whose partition count it did not probe."""

    def _frames(self, spark):
        # same schema, same plan text (``LogicalRDD [none#0L], false``)
        rows = [(i,) for i in range(64)]
        sc = spark.sparkContext
        return (spark.createDataFrame(sc.parallelize(rows, 1), "x long"),
                spark.createDataFrame(sc.parallelize(rows, 8), "x long"))

    def test_narrow_then_wide_in_memory(self, spark):
        from caspr_spark.sources import _NPARTS_CACHE, ensure_parallelism
        _NPARTS_CACHE.clear()
        narrow, wide = self._frames(spark)
        assert ensure_parallelism(narrow, min_partitions=4) is not narrow
        assert ensure_parallelism(wide, min_partitions=4) is wide

    def test_wide_then_narrow_in_memory(self, spark):
        from caspr_spark.sources import _NPARTS_CACHE, ensure_parallelism
        _NPARTS_CACHE.clear()
        narrow, wide = self._frames(spark)
        assert ensure_parallelism(wide, min_partitions=4) is wide
        out = ensure_parallelism(narrow, min_partitions=4)
        assert out is not narrow and out.rdd.getNumPartitions() == 4

    def test_same_schema_different_files(self, spark, tmp_path):
        from caspr_spark.sources import _NPARTS_CACHE, ensure_parallelism
        one, many = str(tmp_path / "one"), str(tmp_path / "many")
        spark.range(64).coalesce(1).write.parquet(one)
        spark.range(64).repartition(8).write.parquet(many)
        for first, second, fans in ((one, many, False),
                                    (many, one, True)):
            _NPARTS_CACHE.clear()
            ensure_parallelism(spark.read.parquet(first), min_partitions=4)
            df = spark.read.parquet(second)
            assert (ensure_parallelism(df, min_partitions=4)
                    is not df) == fans

    def test_conf_flip_between_probes(self, spark, tmp_path):
        from caspr_spark.sources import _NPARTS_CACHE, ensure_parallelism
        p = str(tmp_path / "t")
        spark.range(40_000).selectExpr("id", "rand(7) AS v").coalesce(1) \
            .write.parquet(p)
        conf = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(conf)
        _NPARTS_CACHE.clear()
        try:
            df = spark.read.parquet(p)
            assert ensure_parallelism(df, min_partitions=4) is not df
            spark.conf.set(conf, "16k")
            df = spark.read.parquet(p)
            assert df.rdd.getNumPartitions() >= 4
            assert ensure_parallelism(df, min_partitions=4) is df
        finally:
            spark.conf.set(conf, prev)

    def test_cpu_light_size_written_back_on_hit(self, spark, tmp_path):
        from caspr_spark.sources import _NPARTS_CACHE, ensure_parallelism
        p = str(tmp_path / "s")
        spark.range(100).write.parquet(p)
        _NPARTS_CACHE.clear()
        ensure_parallelism(spark.read.parquet(p))
        assert [v[1] for v in _NPARTS_CACHE.values()] == [None]
        ensure_parallelism(spark.read.parquet(p), cpu_light=True)
        (n, size), = _NPARTS_CACHE.values()
        assert size is not None and size > 0


def _last_job_id(spark) -> int:
    """Newest job id in the status store (JobDataWrapper): ids are
    sequential per application, and retention drops the OLDEST jobs
    first, so the difference of two readings counts the jobs run in
    between however many the long-lived test session has retained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.status.JobDataWrapper")
    it = sc.statusStore().store().view(cls).reverse().iterator()
    try:
        return int(it.next().info().jobId()) if it.hasNext() else -1
    finally:
        it.close()


class TestSinkJobCounts:
    """Spark jobs per leased sink fold, pinned: a delta fold and a
    compacting fold (``compact_every=2``: batch 0 commits a compact,
    1 a delta, 2 a compact) for the IVF, PQ and exact-dedup sinks. A
    refactor of the state layer must not add a job per fold."""

    PINS = {"ivf": (3, 5), "pq": (2, 4), "exact": (9, 14)}

    @pytest.mark.parametrize("family", sorted(PINS))
    def test_leased_fold_job_counts(self, family, spark, embeddings,
                                    documents, tmp_path):
        from caspr_spark.streaming import (ann_ingest_sink,
                                           dedup_corpus_sink,
                                           pq_ingest_sink)
        d = str(tmp_path / "state")
        if family == "ivf":
            sink = ann_ingest_sink(d, _cents(), compact_every=2,
                                   writer_id="ck")
        elif family == "pq":
            sink = pq_ingest_sink(d, _codebooks(), compact_every=2,
                                  writer_id="ck")
        else:
            sink = dedup_corpus_sink(d, str(tmp_path / "out"),
                                     compact_every=2, writer_id="ck")
        df, idc = ((embeddings, "vec_id") if family != "exact"
                   else (documents, "doc_id"))
        counts = []
        for b in range(3):
            batch = df.filter(F.col(idc) % 3 == b)
            j0 = _last_job_id(spark)
            sink(batch, b)
            counts.append(_last_job_id(spark) - j0)
        assert tuple(counts[1:]) == self.PINS[family], counts
