"""Sources and sinks: the reference's native text format
(Main.scala:40-41) and the engine's durable writers."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ema_bigdata_spark.sources.sinks import (
    write_csv,
    write_json,
    write_parquet,
)
from ema_bigdata_spark.sources.textfile import read_doubles_text


@pytest.fixture
def doubles_file(tmp_path):
    p = tmp_path / "dataset-mini.txt"
    p.write_text("1.5\n-2.25\n3.0\n0.125\n")
    return str(p)


def test_read_doubles_text(spark, doubles_file):
    df = read_doubles_text(spark, doubles_file)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["double"]
    vals = sorted(r.value for r in df.collect())
    assert vals == [-2.25, 0.125, 1.5, 3.0]


def test_read_doubles_text_lenient(spark, tmp_path):
    p = tmp_path / "dirty.txt"
    p.write_text("1.0\nnot-a-number\n2.0\n\n")
    df = read_doubles_text(spark, str(p), strict=False)
    assert sorted(r.value for r in df.collect()) == [1.0, 2.0]


def test_gmm_on_reference_format(spark, tmp_path):
    """End-to-end parity with the reference's entry path: text file of
    doubles → EM fit (Main.scala:40-45), on a tiny two-mode sample."""
    from ema_bigdata_spark.gmm import gmm_fit

    vals = [0.0, 0.1, -0.1, 0.05, 10.0, 10.1, 9.9, 10.05]
    p = tmp_path / "sample.txt"
    p.write_text("\n".join(str(v) for v in vals) + "\n")
    model = gmm_fit(read_doubles_text(spark, str(p)), k=2, max_iter=25)
    assert abs(min(model.means) - 0.0) < 0.5
    assert abs(max(model.means) - 10.0) < 0.5


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    from ema_bigdata_spark.sources.tables import load_table

    out = str(tmp_path / "nation_by_region")
    src = load_table(spark, sf_dir, "nation")
    write_parquet(src, out, partition_by=("n_regionkey",))
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    # partition pruning: reading one key touches only that directory
    pruned = back.where(F.col("n_regionkey") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == src.where("n_regionkey = 0").count()
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    from ema_bigdata_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "region")
    write_csv(src, str(tmp_path / "r_csv"))
    write_json(src, str(tmp_path / "r_json"))
    assert (
        spark.read.option("header", "true").csv(str(tmp_path / "r_csv")).count()
        == src.count()
    )
    assert spark.read.json(str(tmp_path / "r_json")).count() == src.count()


def test_orc_roundtrip_pushes_filters(spark, sf_dir, tmp_path):
    """ORC writes re-read losslessly AND keep predicate pushdown: the
    point of a columnar sink is that the filter reaches the scan."""
    from ema_bigdata_spark.sources.sinks import write_orc
    from ema_bigdata_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "orders")
    write_orc(src, str(tmp_path / "o_orc"))
    back = spark.read.orc(str(tmp_path / "o_orc"))
    assert back.count() == src.count()
    filt = back.where(F.col("o_orderpriority") == "1-URGENT")
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority," in plan
    assert filt.count() == src.where("o_orderpriority = '1-URGENT'").count()


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables joined on the bucket key need no exchange: the
    files are already hash-partitioned, so the sort-merge join reads
    them bucket-by-bucket (the 100 TB co-located-join strategy)."""
    from ema_bigdata_spark.sources.sinks import write_bucketed_table
    from ema_bigdata_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    write_bucketed_table(cust, "b_cust", "c_custkey", buckets=4)
    write_bucketed_table(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "b_orders", "c_custkey", buckets=4,
    )
    joined = (
        spark.table("b_cust").join(spark.table("b_orders"), "c_custkey")
        .groupBy("c_mktsegment").count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # broadcast threshold may still pick BHJ; force the check only on
    # the merge-join path by disabling broadcast for this plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            spark.table("b_cust").join(spark.table("b_orders"), "c_custkey")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_cust")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_sorted_write_clusters_row_groups(spark, sf_dir, tmp_path):
    """Rows sorted within files → parquet column chunk min/max ranges
    are narrow, the precondition for row-group skipping on range
    filters."""
    import pyarrow.parquet as pq

    from ema_bigdata_spark.sources.sinks import write_sorted_parquet
    from ema_bigdata_spark.sources.tables import load_table

    out = str(tmp_path / "orders_sorted")
    src = load_table(spark, sf_dir, "orders").repartition(4)
    write_sorted_parquet(src, out, ("o_totalprice",))
    import glob

    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 2
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_totalprice"
            )
            stats = col.statistics
            assert stats.has_min_max and stats.min <= stats.max
    back = spark.read.parquet(out)
    assert back.count() == src.count()


def test_ivf_partitioned_index_prunes_unprobed_lists(spark, sf_dir, tmp_path):
    """Substantiates the q_ann_ivf docstring's scale claim: writing the
    corpus partitioned by ivf_list turns the nprobe filter into
    PARTITION PRUNING — the plan reads only the probed lists'
    directories, zero I/O for the rest."""
    from pyspark.sql import functions as F

    from ema_bigdata_spark.operators.similarity import (
        _IVF_LISTS,
        _ivf_centroids,
        _with_assignment,
    )
    from ema_bigdata_spark.plans import executed_plan
    from ema_bigdata_spark.sources.tables import load_table

    out = str(tmp_path / "ivf_index")
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    _with_assignment(spark, emb, cents).write.partitionBy("ivf_list").parquet(
        out
    )
    indexed = spark.read.parquet(out)
    probe_lists = [1, 2]
    plan = executed_plan(
        indexed.where(F.col("ivf_list").isin(probe_lists)).select("vec_id")
    )
    # pruning happened at PLAN time: the partition filter is present and
    # the file index selected only the probed directories
    assert "PartitionFilters: [ivf_list" in plan
    import glob

    n_dirs = len(glob.glob(f"{out}/ivf_list=*"))
    assert n_dirs >= _IVF_LISTS // 2  # the index actually fanned out
    # count files the scan selected: Spark reports selected partitions
    # in the FileIndex; cheapest check is the row count equivalence
    got = indexed.where(F.col("ivf_list").isin(probe_lists)).count()
    want = (
        _with_assignment(spark, emb, cents)
        .where(F.col("ivf_list").isin(probe_lists))
        .count()
    )
    assert got == want > 0


def test_spread_fallback_and_memoization(spark, sf_dir, tmp_path):
    """The r2-advice spread() guard: few-file inputs consult the real
    split count (and widen when narrow), many-file inputs take the
    fast path untouched, and the fallback verdict is memoized per
    (files, n) so repeated spreads don't re-pay the RDD translation."""
    from ema_bigdata_spark.sources import tables as T
    from ema_bigdata_spark.sources.tables import load_table

    # few files, narrow splits -> widened to n
    src = load_table(spark, sf_dir, "nation")
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    df = spark.read.parquet(str(tmp_path / "one"))
    assert T.spread(df, 4).rdd.getNumPartitions() == 4
    key = (tuple(sorted(df.inputFiles())), 4)
    assert T._SPREAD_CACHE.get(key) is False  # verdict memoized
    # many tiny files (>= n) -> fast path, NO repartition exchange
    src.repartition(6).write.mode("overwrite").parquet(str(tmp_path / "many"))
    many = spark.read.parquet(str(tmp_path / "many"))
    assert len(many.inputFiles()) >= 4
    plan = many._jdf.queryExecution().executedPlan().toString()
    spread_plan = (
        T.spread(many, 4)._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" not in spread_plan
    assert plan.splitlines()[0] == spread_plan.splitlines()[0]


def _jobs_run(spark, group, fn):
    """(fn(), number of Spark jobs fn ran) — counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestLocalCheckpoint:
    """local_checkpoint marks a one-partition checkpoint SinglePartition,
    so statements over it need no Exchange, and leaves a checkpoint of
    several partitions as it is."""

    @staticmethod
    def _frame(spark, parts):
        return spark.range(0, 200, 1, parts).select(
            "id", (F.col("id") % 7).alias("v")
        )

    def test_one_partition_statements_run_one_job(self, spark):
        from pyspark.sql import Window

        from ema_bigdata_spark.plans import executed_plan
        from ema_bigdata_spark.sources.tables import local_checkpoint

        ckpt = local_checkpoint(self._frame(spark, 1))
        agg = ckpt.agg(F.sum("v").alias("s"), F.count("id").alias("n"))
        win = ckpt.select(
            "id", F.sum("v").over(Window.orderBy("id")).alias("cm")
        )
        rows, n_agg = _jobs_run(spark, "lckpt_agg", agg.collect)
        _, n_win = _jobs_run(spark, "lckpt_win", win.collect)
        assert [tuple(r) for r in rows] == [
            (sum(i % 7 for i in range(200)), 200)
        ]
        assert (n_agg, n_win) == (1, 1)
        for df in (agg, win):
            assert "Exchange" not in executed_plan(df), executed_plan(df)

    def test_wide_checkpoint_keeps_partitions_and_exchange(self, spark):
        from ema_bigdata_spark.plans import executed_plan
        from ema_bigdata_spark.sources.tables import local_checkpoint

        def total(df):
            return df.groupBy("v").agg(F.sum("id").alias("s"))

        wide = local_checkpoint(self._frame(spark, 1).repartition(4))
        narrow = local_checkpoint(self._frame(spark, 1))
        assert wide.rdd.getNumPartitions() == 4
        agg = total(wide)
        assert sorted(agg.collect()) == sorted(total(narrow).collect())
        assert "Exchange" in executed_plan(agg)

    def test_runs_the_jobs_of_a_bare_checkpoint(self, spark):
        from ema_bigdata_spark.sources.tables import local_checkpoint

        for parts in (1, 3):
            _, bare = _jobs_run(
                spark, f"lckpt_bare_{parts}",
                lambda: self._frame(spark, parts).localCheckpoint(),
            )
            _, helper = _jobs_run(
                spark, f"lckpt_helper_{parts}",
                lambda: local_checkpoint(self._frame(spark, parts)),
            )
            assert helper == bare > 0, (parts, helper, bare)


_NAN, _INF = float("nan"), float("inf")

#: local_frame inputs: case -> (DDL schema, rows)
_LOCAL_FRAMES = {
    "scalars": ("a BIGINT, b STRING", [(1, "x"), (2, None), (-(2**63), "")]),
    "empty": ("a BIGINT, b STRING", []),
    "nonfinite": ("x DOUBLE", [(1.5,), (_NAN,), (_INF,), (-_INF,), (None,)]),
    "nested": (
        "books ARRAY<ARRAY<ARRAY<DOUBLE>>>, lut ARRAY<ARRAY<DOUBLE>>",
        [([[[1.0, 2.0]], [[_NAN, -_INF]]], [[0.5], []]), (None, [[None]])],
    ),
}


class TestLocalFrame:
    """local_frame plans driver-held values as a LocalTableScan, whose
    collect runs no job, with the schema and values of the row-list
    ``createDataFrame``."""

    @staticmethod
    def _check(spark, case):
        from pyspark.sql.types import StructType

        from ema_bigdata_spark.plans import executed_plan
        from ema_bigdata_spark.sources.tables import local_frame

        ddl, rows = _LOCAL_FRAMES[case]
        n = len(StructType.fromDDL(ddl).fields)
        frame = local_frame(
            spark, [[r[i] for r in rows] for i in range(n)], ddl
        )
        got, jobs = _jobs_run(spark, f"local_frame_{case}", frame.collect)
        assert jobs == 0
        assert executed_plan(frame).startswith("LocalTableScan")
        # repr: NaN compares unequal to itself
        assert repr([tuple(r) for r in got]) == repr(rows)
        assert frame.schema == spark.createDataFrame(rows, ddl).schema

    @pytest.mark.parametrize("case", sorted(_LOCAL_FRAMES))
    def test_collect_runs_no_job_and_matches_row_list(self, spark, case):
        self._check(spark, case)

    @pytest.mark.parametrize("case", sorted(_LOCAL_FRAMES))
    def test_independent_of_arrow_pyspark_conf(self, spark, case):
        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            self._check(spark, case)
        finally:
            spark.conf.set(key, before)
        assert spark.conf.get(key) == before


@pytest.mark.parametrize("name", ["gmm_fit", "q_dedup_cluster", "q_gmm_bic"])
def test_driver_built_result_runs_no_job(spark, sf_dir, name):
    """A query whose result is built on the driver collects with no
    job: the frame it returns is a LocalTableScan."""
    from ema_bigdata_spark import registry

    registry.load_all()
    df = registry.QUERIES[name](spark, sf_dir)
    rows, jobs = _jobs_run(spark, f"driver_built_{name}", df.collect)
    assert rows and jobs == 0, (name, jobs)


class TestSchemaMemo:
    """load_raw infers a parquet file's schema once per path, and infers
    again when the file or the inference confs change."""

    def test_second_load_runs_no_job(self, spark, tmp_path):
        from ema_bigdata_spark.sources.tables import load_table

        pq.write_table(pa.table({"a": [1, 2]}), tmp_path / "t.parquet")
        first, _ = _jobs_run(
            spark, "memo_first", lambda: load_table(spark, str(tmp_path), "t").schema
        )
        second, n = _jobs_run(
            spark, "memo_second", lambda: load_table(spark, str(tmp_path), "t").schema
        )
        assert n == 0
        assert second == first

    def test_replaced_file_is_reinferred(self, spark, tmp_path):
        from ema_bigdata_spark.sources import tables as T

        path = tmp_path / "t.parquet"
        pq.write_table(pa.table({"a": [1, 2]}), path)
        assert T.load_raw(spark, str(tmp_path), "t").columns == ["a"]
        n_entries = len(T._SCHEMAS)
        pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
        df = T.load_raw(spark, str(tmp_path), "t")
        assert df.columns == ["a", "b"]
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
        assert len(T._SCHEMAS) == n_entries
        assert T._SCHEMAS[str(path)][2].fieldNames() == ["a", "b"]

    def test_inference_conf_change_is_reinferred(self, spark, tmp_path):
        from pyspark.sql.types import BinaryType, StringType

        from ema_bigdata_spark.sources.tables import load_raw

        pq.write_table(
            pa.table({"s": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet"
        )
        key = "spark.sql.parquet.binaryAsString"
        prev = spark.conf.get(key)
        try:
            spark.conf.set(key, "false")
            plain = load_raw(spark, str(tmp_path), "t").schema["s"].dataType
            spark.conf.set(key, "true")
            as_str = load_raw(spark, str(tmp_path), "t").schema["s"].dataType
        finally:
            spark.conf.set(key, prev)
        assert isinstance(plain, BinaryType)
        assert isinstance(as_str, StringType)


class TestStreamSourceSeam:
    """The Kafka seam (stream_queries.stream_source): queries are
    source-agnostic; a config flips the SAME code from the local file
    source to a Kafka subscription.  No broker in this container, so
    the kafka branch is verified at its two contract points — the
    reader configuration and the wire-format decode — plus the default
    dispatch."""

    def test_default_is_file_stream(self, spark, sf_dir):
        from ema_bigdata_spark.streaming.stream_queries import stream_source

        df = stream_source(spark, sf_dir)
        assert df.isStreaming
        assert "user_id" in df.columns and "event_id" in df.columns

    def test_wire_schema_matches_testdata(self, spark, sf_dir):
        """The DECLARED Kafka wire schema (no local files needed on a
        broker deploy — review-r4 fix) must not drift from the actual
        events table shape the file source reads."""
        from pyspark.sql.types import StructType

        from ema_bigdata_spark.sources.tables import load_raw
        from ema_bigdata_spark.streaming.stream_queries import (
            _WIRE_SCHEMAS,
        )

        declared = StructType.fromDDL(_WIRE_SCHEMAS["events"])
        actual = load_raw(spark, sf_dir, "events").schema
        assert [f.name for f in declared] == [f.name for f in actual]
        # dtypes match too on modern testdata (a legacy raw-nanos LONG
        # ts file would differ — that variant is file-source-only)
        assert declared == actual

    def test_kafka_reader_configuration(self, monkeypatch):
        from ema_bigdata_spark.streaming.stream_queries import (
            _configure_kafka,
        )

        class FakeReader:
            def __init__(self):
                self.fmt = None
                self.opts = {}

            def format(self, f):
                self.fmt = f
                return self

            def option(self, k, v):
                self.opts[k] = v
                return self

        monkeypatch.setenv("SPARK_GRAFT_KAFKA_BOOTSTRAP", "k1:9092,k2:9092")
        monkeypatch.setenv("SPARK_GRAFT_KAFKA_TOPIC_EVENTS", "prod.events.v2")
        r = _configure_kafka(FakeReader(), "events")
        assert r.fmt == "kafka"
        assert r.opts["kafka.bootstrap.servers"] == "k1:9092,k2:9092"
        assert r.opts["subscribe"] == "prod.events.v2"
        assert r.opts["startingOffsets"] == "earliest"
        # topic defaults to the table name without the env override
        monkeypatch.delenv("SPARK_GRAFT_KAFKA_TOPIC_EVENTS")
        r2 = _configure_kafka(FakeReader(), "events")
        assert r2.opts["subscribe"] == "events"

    def test_kafka_payload_decode_roundtrip(self, spark, sf_dir):
        """The value-bytes→typed-columns decode must invert to_json on
        real event rows (same expression batch vs stream, so a batch
        round-trip IS the contract check)."""
        from pyspark.sql import functions as F

        from ema_bigdata_spark.sources.tables import load_raw
        from ema_bigdata_spark.streaming.stream_queries import _kafka_parse

        from ema_bigdata_spark.streaming.stream_queries import (
            _KAFKA_JSON_OPTS,
        )

        batch = load_raw(spark, sf_dir, "events").limit(50)
        wire = batch.select(
            F.encode(
                F.to_json(F.struct(*batch.columns), _KAFKA_JSON_OPTS),
                "utf-8",
            ).alias("value")
        )
        back = _kafka_parse(wire, batch.schema)
        assert back.schema == batch.schema
        a = sorted(map(repr, batch.collect()))
        b = sorted(map(repr, back.collect()))
        assert a == b

    def test_kafka_undeclared_table_is_a_clean_error(
        self, spark, sf_dir, monkeypatch
    ):
        """ADVICE r4: a table with no declared wire schema must fail
        with a descriptive ValueError naming the table and the
        declared set — not a bare KeyError from _WIRE_SCHEMAS."""
        import pytest

        from ema_bigdata_spark.streaming.stream_queries import (
            stream_source,
        )

        monkeypatch.setenv("SPARK_GRAFT_STREAM_SOURCE", "kafka")
        with pytest.raises(ValueError, match="wire schema.*lineitem"):
            stream_source(spark, sf_dir, table="lineitem")
