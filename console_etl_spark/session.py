"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen to also be correct on a large
cluster: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle comparability), Arrow for the Pandas-UDF slow
path, and shuffle partitions sized to the parallelism at hand rather than
the 200 default.

The generated-class cache is sized to hold a whole pass of the registry:
Spark's default (``spark.sql.codegen.cache.maxEntries`` = 100) is below
the working set, so every repeated query recompiled every class it uses.
Measured at sf0.001 on a 4-CPU host, one pass of the 119 ``bench.py``
queries compiles 1,887 distinct classes and the frozen core 30 ~440; at
the default a warm pass of the core 30 still compiled ~475, with this
cache 2-20 (AQE's stage numbering makes a few class sources differ).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache: a whole bench.py pass
# (1,887 classes, module docstring) with room to spare. Static conf, so
# it only takes effect when get_spark starts the session.
CODEGEN_CACHE_ENTRIES = 4096

# Footer key under which Spark's Parquet writer stores its row schema.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def get_spark(
    app_name: str = "console_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we use
    ``local[N]`` with N from $SPARK_GRAFT_CPUS (default all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not defaultParallelism:
        # with parallelismFirst (the default) every exchange keeps ~32
        # partitions even for kilobytes, and multi-stage plans pay ~200
        # no-op task launches. Size-based is also the production setting —
        # at real scale partitions exceed the advisory anyway. Operators
        # that need parallelism on small bytes (GEMM, shingle explosion)
        # use spread()'s explicit repartition, which AQE never coalesces.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "16") + "m",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushdown (datasource.py implements
        # pushFilters; Spark refuses to plan such a reader with this off)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Older fixture generations ship events.ts as parquet
        # TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read
        # as long and normalize in load_table() (current micros fixtures
        # take the TIMESTAMP_NTZ branch there instead).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local benches read few small parquet files; the 128 MB default
        # split would give 1-3 tasks on 32 cores. On a real cluster (many
        # files, 100 TB) leave this at default via SPARK_GRAFT_SPLIT_MB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_MB", "16") + "m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Only force a master when none is configured (i.e. not under spark-submit).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT_OPTS" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _first_data_file(path: str) -> str | None:
    """The file Spark's schema inference reads when it does not merge
    schemas: ``path`` itself, or the first data file under the directory
    ``path``. Names starting with ``_`` or ``.`` are metadata, not data."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _spark_readable(at, nanos_as_long: bool):
    """``at`` with TIMESTAMP(NANOS) as int64, as ``nanosAsLong`` reads it.

    Raises TypeError where Spark does not read what ``from_arrow_type``
    gives: nanos without ``nanosAsLong`` (Spark refuses them), and time,
    duration and null columns."""
    import pyarrow as pa
    import pyarrow.types as pat

    if pat.is_timestamp(at) and at.unit == "ns":
        if not nanos_as_long:
            raise TypeError(at)
        return pa.int64()
    if pat.is_time(at) or pat.is_duration(at) or pat.is_null(at):
        raise TypeError(at)
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return pa.list_(at.value_field.with_type(
            _spark_readable(at.value_type, nanos_as_long)))
    if pat.is_map(at):
        return pa.map_(
            _spark_readable(at.key_type, nanos_as_long),
            at.item_field.with_type(_spark_readable(at.item_type, nanos_as_long)),
        )
    if pat.is_struct(at):
        return pa.struct([
            f.with_type(_spark_readable(f.type, nanos_as_long)) for f in at
        ])
    return at


def footer_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    Parquet footer on the driver, or None where this cannot tell.

    Spark infers a Parquet schema with a job that reads one footer; this
    reads the same footer with pyarrow and launches none. Without schema
    merging (the session default) Spark reads one file: ``path`` itself
    or the first data file of the directory.

    - A footer written by Spark carries Spark's own schema under
      ``org.apache.spark.sql.parquet.row.metadata``; Spark reads that one
      as-is, and so does this.
    - Any other footer is mapped from its Arrow schema as Spark maps the
      Parquet types: TIMESTAMP(NANOS) to bigint (``nanosAsLong``), INT96
      to timestamp, a timestamp not adjusted to UTC to timestamp_ntz
      (``inferTimestampNTZ``).

    None means Spark should infer: no local data file, a nested INT96
    column, or a type the mapping does not cover (unsigned integers,
    time, ...). Nullability is left as the footer has it: Spark makes
    every column nullable on read, declared schema or not.
    """
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType, TimestampType

    data_file = _first_data_file(path)
    if data_file is None:
        return None
    pf = pq.ParquetFile(data_file)
    row_metadata = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
    if row_metadata is not None:
        return StructType.fromJson(json.loads(row_metadata))
    int96 = {
        pf.schema.column(i).path
        for i in range(pf.metadata.num_columns)
        if pf.schema.column(i).physical_type == "INT96"
    }
    if any("." in p for p in int96):
        return None
    conf = spark.conf
    nanos_as_long = conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    prefer_ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    fields = []
    for f in pf.schema_arrow:
        if f.name in int96:
            dtype = TimestampType()
        else:
            try:
                dtype = from_arrow_type(_spark_readable(f.type, nanos_as_long), prefer_ntz)
            except TypeError:  # PySparkTypeError too: an unmapped type
                return None
        fields.append(StructField(f.name, dtype, f.nullable))
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table (see TESTDATA.md).

    The schema comes from the Parquet footer (``footer_schema``), not
    from Spark's inference: inferring it runs a Spark job on every call,
    ~0.15 s warm, and query builders call this once per table they
    read. The footer gives the schema Spark would infer, so plans and
    results are unchanged; a footer written by Spark is read by the
    schema Spark stored in it. This is not a declared table schema:
    tests write partial tables (fewer columns) and Spark-written
    directories under fixture names, and a fixed schema would read
    nulls for them.

    The fixture's ``events.ts`` column has shipped under two different
    parquet physical types across generations, and the engine accepts
    both (the robustness contract in BASELINE.md):

    - TIMESTAMP(NANOS): Spark has no nanos type, so ``nanosAsLong``
      reads it as long; we truncate to microsecond TimestampType — the
      same truncation DuckDB applies casting timestamp_ns to timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads this as
      TIMESTAMP_NTZ; under the UTC session timezone pinned below, a cast
      to TimestampType is wall-clock-identical, so every downstream
      epoch/window/date expression (and the DuckDB oracle, which sees
      naive micros either way) is unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # The driver may hand us a session without this conf; it is
        # runtime-settable and required to read TIMESTAMP(NANOS) parquet.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp semantics (date_trunc / window / cast-to-date) follow the
    # session timezone; the oracle's timestamps are wall-clock naive, so
    # any non-UTC session would shift hour/date buckets. Runtime-settable,
    # idempotent — pin it here so queries are correct on ANY session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, not `/`: ns-since-epoch exceeds 2^53, double
            # division would lose microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Wall-clock-identical under the UTC session TZ pinned above.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


from collections import OrderedDict as _OrderedDict
import itertools as _itertools

_PIN_GROUPS: "_OrderedDict[int, tuple]" = _OrderedDict()
_PIN_CAP = int(os.environ.get("SPARK_GRAFT_PIN_GROUPS", "8"))
_pin_seq = _itertools.count()


def pin(*dfs):
    """Persist operator intermediates with a BOUNDED lifetime.

    Operators persist intermediates that feed multiple branches of the
    lazy plan they return; they cannot unpersist before the caller acts,
    and Spark's CacheManager holds cached plans until an explicit
    unpersist/clearCache — so bare ``.persist()`` leaks storage in
    long-lived sessions. ``pin`` closes the leak class with a
    self-evicting FIFO of pin groups (one group per call): when more
    than ``$SPARK_GRAFT_PIN_GROUPS`` (default 8) groups are live, the
    oldest group is unpersisted. Cache usage is therefore bounded for
    ANY session lifetime with no caller-side contract; an evicted block
    is never a correctness event — the unpersisted InMemoryRelation
    recomputes from lineage, only the reuse speedup is lost.

    (A GC-finalizer tie to the returned DataFrame was considered and
    rejected: helper results chained inside larger operators are
    refcount-dropped at frame exit, which would release the cache
    before the plan ever executes. ``localCheckpoint`` was rejected for
    the 100 TB story: it truncates lineage, so losing one executor of a
    thousand fails the job instead of recomputing.)

    Returns the single DataFrame (or the tuple) persisted.
    """
    for d in dfs:
        d.persist()
    _PIN_GROUPS[next(_pin_seq)] = dfs
    while len(_PIN_GROUPS) > _PIN_CAP:
        _, old = _PIN_GROUPS.popitem(last=False)
        for d in old:
            try:
                d.unpersist(False)
            except Exception:
                pass  # session already stopped
    return dfs[0] if len(dfs) == 1 else dfs


_BCAST_GROUPS: "_OrderedDict[int, object]" = _OrderedDict()
_BCAST_CAP = int(os.environ.get("SPARK_GRAFT_BCAST_GROUPS", "16"))
_bcast_seq = _itertools.count()


def bpin(bc):
    """Bounded lifetime for raw ``sparkContext.broadcast`` variables —
    the broadcast twin of ``pin``. Spark never frees a broadcast until
    the context stops, so the GEMM kernels' centroid/codebook/rotation
    broadcasts would accumulate without bound across repeated index
    builds and searches in a long-lived session. Registered broadcasts
    evict FIFO past ``$SPARK_GRAFT_BCAST_GROUPS`` (default 16) via
    ``unpersist()`` (non-blocking): executor blocks are dropped, the
    driver keeps the value, and any LATER task use re-broadcasts on
    demand — eviction is a re-send cost, never a correctness event
    (which is why ``destroy()`` is NOT used: a lazily-executed plan may
    still hold the handle)."""
    _BCAST_GROUPS[next(_bcast_seq)] = bc
    while len(_BCAST_GROUPS) > _BCAST_CAP:
        _, old = _BCAST_GROUPS.popitem(last=False)
        try:
            old.unpersist(False)
        except Exception:
            pass  # session already stopped
    return bc


def release_pins():
    """Unpersist every live pin group (idempotent). Optional hygiene for
    hosts that want cache empty NOW rather than bounded — bench.py calls
    it between measurements."""
    while _PIN_GROUPS:
        _, old = _PIN_GROUPS.popitem(last=False)
        for d in old:
            try:
                d.unpersist(False)
            except Exception:
                pass
    return None


def spread(df, multiplier: int = 1):
    """Round-robin repartition to the session's full parallelism.

    Use before compute-heavy per-row operators (shingle explosion, GEMM
    blocks) when the input may arrive in fewer splits than cores — a
    single small parquet file otherwise serializes the whole operator on
    one task. At real scale inputs already arrive in many splits and the
    shuffle this forces is cheap relative to the operator it feeds.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    return df.repartition(target)
