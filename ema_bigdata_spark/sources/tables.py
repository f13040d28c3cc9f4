"""Parquet table loading for the driver's TPC-H-ish star schema.

Tables (``TESTDATA.md``): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
an sf dir.

Timestamp handling
------------------
``events.ts`` is parquet ``INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false)``
(verified via pyarrow on sf0.001/0.01/0.1), which Spark reads natively as
``TIMESTAMP_NTZ`` — no conversion needed.  The loader still *guards* for a
raw-nanos physical type (``spark.sql.legacy.parquet.nanosAsLong=true``
reads TIMESTAMP(NANOS) as a LONG of ns-since-epoch): if the loaded dtype
is LongType we convert ``ns div 1000`` to TIMESTAMP_NTZ, a truncation
that matches DuckDB's ns→µs parquet read bit-for-bit.  The guard means a
testdata regeneration with either physical type loads identically.
``orders.o_orderdate`` / ``lineitem.l_shipdate`` are millisecond
timestamps (isAdjustedToUTC=false) read natively as TIMESTAMP_NTZ.  NTZ
is timezone-free so results never depend on the session timezone
(DuckDB's TIMESTAMP is likewise naive).

Scale note: the conversion is a codegen'd per-row projection (no
shuffle, no Python).  Filters on a *converted* column cannot be pushed
into the parquet scan, so hot queries that filter on time ranges should
use :func:`ts_ns` literals against the raw long column — see
``filter_ts_range`` — which keeps predicate pushdown + row-group
pruning intact at 100 TB.

Schema memoization
------------------
``spark.read.parquet`` with no schema runs a one-task Spark job to read
a file footer, on every call.  :func:`load_raw` — the one parquet read
path of the engine, the streaming seam included — memoizes the inferred
``StructType`` per path and hands it back through ``spark.read.schema``,
which skips inference.  An entry holds the path's fingerprint and the
session values of the confs that shape inference (``_SCHEMA_CONFS``);
the fingerprint comes from driver-side Hadoop ``FileSystem`` status
calls, with no Spark job — (length, mtime) for a file, the sorted (name,
length, mtime) of the entries for a directory.  A read whose fingerprint or confs differ infers again and
replaces the entry, so a file rewritten at the same path is re-read and
the memo holds one entry per distinct path.  Like ``_SPREAD_CACHE`` it
is a plain dict without a lock: a race only infers twice.
"""

from __future__ import annotations

import datetime as _dt
import string

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# event-time columns per table that may arrive as raw nanos LONGs
# (everything else reads natively)
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _ns_to_ntz(col: str) -> F.Column:
    # integer µs arithmetic — identical to DuckDB's ns→µs truncation
    return F.expr(f"timestampadd(MICROSECOND, {col} div 1000, {_EPOCH_NTZ})")


def ts_ns(value: str | _dt.datetime) -> int:
    """Nanoseconds-since-epoch literal for pushdown-friendly filters on
    the raw long column (naive UTC interpretation, matching NTZ)."""
    if isinstance(value, str):
        value = _dt.datetime.fromisoformat(value)
    return int(value.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000) * 1_000


#: session confs that change what parquet schema inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: memoized inferred schemas: path -> (fingerprint, confs, StructType)
_SCHEMAS: dict[str, tuple] = {}


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """(length, mtime) of a file, or the sorted (name, length, mtime) of
    a directory's entries — driver-side FileSystem calls, no job.
    None when the path cannot be statted (the read reports why)."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        st = fs.getFileStatus(jpath)
        if not st.isDirectory():
            return (st.getLen(), st.getModificationTime())
        return tuple(sorted(
            (e.getPath().getName(), e.getLen(), e.getModificationTime())
            for e in fs.listStatus(jpath)
        ))
    except Py4JJavaError:
        return None


def load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table with nanos timestamps left as raw long columns.

    The inferred schema is memoized per path (module docstring), so only
    a path's first read pays Spark's footer-inference job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    fp = _fingerprint(spark, path)
    if fp is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (fp, confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fp, confs, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table with event-time columns normalized to TIMESTAMP_NTZ.

    Conversion only fires when the column actually loaded as a raw nanos
    LONG (legacy nanosAsLong path); native TIMESTAMP(MICROS) columns —
    the testdata's current physical type — pass through untouched so
    time-range predicates on them still push into the parquet scan.
    """
    from pyspark.sql.types import LongType

    df = load_raw(spark, sf_dir, name)
    for c in NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, _ns_to_ntz(c))
    return df


def _placeholders(body: str) -> list[str]:
    """The ``{name}`` fields of ``body``, first-use order, no repeats."""
    names = (f for _, f, _, _ in string.Formatter().parse(body) if f)
    return list(dict.fromkeys(names))


def sql_on_tables(spark: SparkSession, sf_dir: str, body: str) -> DataFrame:
    """Run a SQL text whose ``{table}`` placeholders name driver tables.

    Each placeholder is loaded with :func:`load_table` and bound through
    ``spark.sql``'s keyword arguments, which register a uniquely named
    view per frame and drop it once the statement is analysed — the
    session catalog is left as it was found.  As with any ``spark.sql``
    keyword call, literal braces in ``body`` must be doubled."""
    return spark.sql(
        body, **{t: load_table(spark, sf_dir, t) for t in _placeholders(body)}
    )


def plain_sql(body: str) -> str:
    """The same SQL text with each placeholder replaced by its own name
    — the DuckDB oracle form, where the tables are views of those names."""
    return body.format(**{t: t for t in _placeholders(body)})


def event_epoch_us(df: DataFrame, col: str = "ts") -> F.Column:
    """BIGINT µs-since-epoch expression for an event-time column,
    whatever physical type it loaded as.

    The ONE place that knows the events timestamp encoding: a raw nanos
    LONG (legacy nanosAsLong read) truncates ``ns div 1000``; a native
    TIMESTAMP_NTZ (the testdata's current type) diffs against the NTZ
    epoch — both pure integer codegen, no session-timezone dependence.
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema[col].dataType, LongType):
        return F.expr(f"{col} div 1000")
    return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")


def event_instant(df: DataFrame, col: str = "ts") -> F.Column:
    """Event time as a TIMESTAMP (LTZ) *instant* — what watermarks and
    ``F.window`` require — derived via :func:`event_epoch_us` so the
    UTC wall clock is preserved regardless of loaded dtype."""
    return F.timestamp_micros(event_epoch_us(df, col))


#: the streaming event-time domain: [1900-01-01, 9000-01-01) as
#: epoch-µs.  Window/watermark arithmetic (≤ 1-day windows/slides/
#: gaps) can push an event time at most days past these bounds, so
#: every derived window start/end stays inside [0001-01-01,
#: 9999-12-31] — the range BOTH engines and Python datetimes
#: represent.  Outside it, a year-0001 event makes
#: s_stream_sliding emit a year-0 window start (unrepresentable in
#: Python — the driver's collect() dies), a year-9999 event pushes
#: tumbling window ends past 9999-12-31, and a NULL event time
#: crashes the stateful cores.  NULL fails the comparisons, so the
#: gate subsumes IS NOT NULL.  Out-of-domain events are ignored like
#: NULL keys; the 7100-year window is ~50× any lived data range.
TS_DOMAIN_MIN_US = -2_208_988_800_000_000
TS_DOMAIN_MAX_US = 221_845_392_000_000_000


def ts_domain_gate(df: DataFrame, col: str = "ts") -> F.Column:
    """Spark predicate of the event-time domain (see constants)."""
    us = event_epoch_us(df, col)
    return (us >= F.lit(TS_DOMAIN_MIN_US)) & (us < F.lit(TS_DOMAIN_MAX_US))


def sql_ts_domain(col: str = "ts") -> str:
    """Oracle text of :func:`ts_domain_gate` (DuckDB parses these
    wall-clock literals to the same instants the µs bounds encode)."""
    return (
        f"({col} >= TIMESTAMP '1900-01-01 00:00:00'"
        f" AND {col} < TIMESTAMP '9000-01-01 00:00:00')"
    )


#: memoized spread() verdicts: (sorted input files, n) -> has >= n splits
_SPREAD_CACHE: dict[tuple, bool] = {}


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan for CPU-heavy per-row operators.

    The testdata parquet files hold ONE row group each, so Spark plans a
    single split and per-row compute (shingling, minhash, vector math,
    Arrow batches) runs on one core.  At 100 TB a scan yields thousands
    of row-group splits and this is a no-op (guarded below) — the
    round-robin exchange only fires when the input has fewer splits
    than cores, where shuffling a few MB to unlock every core is free.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    # two-tier guard: file count is only a FAST POSITIVE
    # signal — >= n files always means >= n splits, but the converse
    # fails both ways (Spark packs many small files into few partitions
    # via maxPartitionBytes/openCostInBytes; a few large files can hold
    # many row-group splits).  When the file count is inconclusive,
    # fall back to the real partition count from the RDD translation —
    # a driver-side planning step, no job, but NOT free (~0.1-0.3 s of
    # analysis), so the verdict is memoized per (files, n): split count
    # derives from the scan's files alone, not the projection above it.
    try:
        files: tuple[str, ...] | None = tuple(sorted(df.inputFiles()))
    except Exception:
        files = None
    if files is not None and len(files) >= n:
        return df
    key = (files, n)
    if files is None or key not in _SPREAD_CACHE:
        try:
            enough = df.rdd.getNumPartitions() >= n
        except Exception:
            enough = False
        if files is None:
            return df if enough else df.repartition(n)
        _SPREAD_CACHE[key] = enough
    return df if _SPREAD_CACHE[key] else df.repartition(n)


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once (``localCheckpoint``) and keep a
    one-partition result's layout.

    The checkpoint's ``LogicalRDD`` takes its partitioning from the AQE
    root, which reports ``UnknownPartitioning(0)`` — so a global
    aggregate or an un-partitioned window over it plans an ``Exchange
    SinglePartition``, and a GROUP BY a hash exchange, even when the
    checkpoint already IS one partition: an extra job and task per
    statement, and a full re-shuffle for a window.  ``coalesce(1)``
    over a one-partition RDD
    is a narrow no-op whose ``CoalesceExec`` reports ``SinglePartition``,
    which satisfies every required distribution, so the exchange goes.
    A checkpoint with several partitions is returned as it is: a wide
    histogram or vocabulary keeps its parallelism and its exchange.
    A ``cache()`` is no substitute: statements over a cached
    one-partition histogram still plan an exchange each (the EM
    engine's init and 2 iterations, K=3 at sf0.01, ran 9 jobs over the
    bare cache and 3 over its checkpoint), which is why the engine
    checkpoints its cache before iterating on Spark.
    """
    ckpt = df.localCheckpoint()
    return ckpt.coalesce(1) if ckpt.rdd.getNumPartitions() == 1 else ckpt


def release_checkpoint(ckpt: DataFrame) -> None:
    """Unpersist the RDD a :func:`local_checkpoint` holds.
    ``DataFrame.unpersist`` only drops cache-manager entries; the
    checkpoint's blocks stay until the RDD is unpersisted itself or
    garbage-collected on the JVM."""
    leaves = ckpt._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def local_frame(spark: SparkSession, columns: list, schema: str) -> DataFrame:
    """A frame of driver-held values, one sequence per field of the DDL
    ``schema``, sent as one Arrow table.  Below Spark's Arrow
    ``localRelationThreshold`` (48 MiB) it plans as a ``LocalTableScan``,
    so its ``collect()`` runs no job whatever ``arrow.pyspark.enabled``
    says; a row list would be parallelized into a job of
    ``defaultParallelism`` tasks."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_arrays(columns, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)


def filter_ts_range(
    df_raw: DataFrame,
    col: str,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """Pushdown-friendly time-range filter (``lo`` inclusive, ``hi``
    exclusive, ISO strings).

    For a raw nanos LONG column the comparison stays integer (parquet
    pushdown + row-group stats pruning survive) and the column is then
    converted to TIMESTAMP_NTZ; native TIMESTAMP_NTZ columns filter
    directly (Spark pushes NTZ predicates into the scan).
    """
    from pyspark.sql.types import LongType

    is_raw = isinstance(df_raw.schema[col].dataType, LongType)
    if lo is not None:
        bound = F.lit(ts_ns(lo)) if is_raw else F.lit(lo).cast("timestamp_ntz")
        df_raw = df_raw.where(F.col(col) >= bound)
    if hi is not None:
        bound = F.lit(ts_ns(hi)) if is_raw else F.lit(hi).cast("timestamp_ntz")
        df_raw = df_raw.where(F.col(col) < bound)
    return df_raw.withColumn(col, _ns_to_ntz(col)) if is_raw else df_raw
