"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the
same config block is what we would ship to a 1000-executor cluster,
minus the master/memory lines which come from the cluster manager.

Scale notes (100 TB design):
- AQE on: runtime coalescing, skew-join splitting, dynamic join
  strategy switch replace hand-tuned shuffle partition counts.
- ``spark.sql.shuffle.partitions`` is only the AQE *initial* value;
  on a real cluster set it to 2-3x total cores and let AQE coalesce.
- Session timezone pinned UTC: the reference stores all timestamps
  as UTC-naive (obmp-psql ``timestamp without time zone``, e.g.
  /root/reference/database/1_base.sql:319) and the DuckDB oracle is
  UTC-naive too.

Driver-side plan building:
- ``spark.python.sql.dataFrameDebugging.enabled=false``. pyspark 4's
  ``_with_origin`` wraps every ``functions.*`` call and every
  ``Column`` method to record the Python call site for error
  messages; each wrapped call costs about six extra py4j round trips
  (``getActiveSession``, a ``conf.get``, ``PySparkCurrentOrigin.set``
  and ``.clear``). Turning it off alone took a run of the MinHash
  estimator gate on a 200-document corpus from 4.1k round trips to
  1.7k, and the kNN classifier from 1.1k to 0.45k. It is a static
  conf, so it lives in the builder.
  The cost: a DataFrame error no longer carries the Python call-site
  fragment (file and line of the ``functions.*`` call) in its query
  context; the JVM-side message and stack are unchanged, and no test
  or package code reads that fragment.

Partition sizing: one law, ``gate_shuffle_partitions``, sizes the
gate pipelines' and stream gates' partitions from the source volume
(stateful streaming fixes its state partitioning for the life of a
checkpoint). ``sized_session`` applies it on a clone of the caller's
session, as Spark's ``StreamExecution`` clones for every stream: a conf
change on the shared session re-plans whatever is planning on it
concurrently. ``cloneSession`` keeps the caller's runtime confs and
temp views; ``newSession`` drops both (AQE turned off for a plan audit
would read on). A DataFrame plans with its owning session's conf, so a
sized build makes every frame from the clone; a memory-sink table
exists only in the session that started the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_APP = "obmp-psql-spark"


def get_spark(app_name: str = _APP, extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing floor: the default 1MB floor
        # collapses sub-32MB shuffles to a handful of partitions, which
        # serializes window/join stages on small-to-mid batches (measured:
        # the two-batch ingest merge ran its window+merge on ONE core for
        # ~5s at sf0.1). 64KB keeps those stages at full parallelism; at
        # 100 TB the 64MB advisory target governs, so large shuffles are
        # unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark
        # has no ns timestamps — read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no Python call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (session id, sf_dir) -> {table name: DataFrame}. A *plan* memo, not a
# data cache: the returned DataFrames are immutable lazy plans and every
# action over them still scans the parquet inputs. Building the plan
# costs ~0.1-1 s of py4j/py-side work (read.parquet footer + schema
# probe + ts normalization + temp view), and nearly every registered
# query pays it at least once per bench pass — ~45 s across a 153-query
# pass before this memo. Keyed by id(spark) like _cached_pipeline; a
# dead session is detected by the conf probe below and its entry
# rebuilt under the new session's id.
_TABLE_CACHE: dict = {}
# (path, mtime_ns, size) -> the file's schema as Spark reads it. Process
# wide, unlike the plan memo: a schema handed to the reader skips the
# footer-inference job that each session (a sized clone and its caller)
# would otherwise run for the same file, as store reads do with their
# recorded schemas.
_SCHEMAS: dict = {}


def _read_parquet(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)  # Spark's own missing-path error
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver-generated parquet tables and register temp views.

    Returns a dict name -> DataFrame.
    """
    all_names = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    key = (id(spark), sf_dir)
    try:
        # The caller may hand us a session we didn't build (the driver
        # does); events.ts is TIMESTAMP(NANOS) which Spark only reads
        # with this runtime conf. Doubles as a liveness probe for the
        # memo: a dead session throws here and drops its entry.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        _TABLE_CACHE.pop(key, None)
        raise
    cached = _TABLE_CACHE.setdefault(key, {})
    out = {}
    for name in names or all_names:
        df = cached.get(name)
        if df is None:
            path = f"{sf_dir}/{name}.parquet"
            df = normalize_ts(_read_parquet(spark, path))
            df.createOrReplaceTempView(name)
            cached[name] = df
        out[name] = df
    return out


def empty_df(spark: SparkSession, schema):
    """Empty DataFrame of ``schema`` (a ``StructType`` or DDL) for
    state seeds and store-read fallbacks, built JVM-side as an empty
    ``LocalRelation``. Catalyst sees that it is empty, so
    ``PropagateEmptyRelation`` folds away what is planned against it:
    the anti-join of a merge into a never-written table, an inner join
    or union branch over an empty bucket set, with the exchanges and
    jobs above them. An empty RDD scan is opaque to Catalyst, and
    ``spark.createDataFrame([], schema)`` also parallelizes the empty
    list through Python into
    ``defaultParallelism`` empty Python partitions, one worker round
    trip each per action."""
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    js = spark._jsparkSession
    return DataFrame(js.createDataFrame(spark._jvm.java.util.ArrayList(),
                                        js.parseDataType(schema.json())),
                     spark)


def tiny_df(spark: SparkSession, rows, schema):
    """Single-partition DataFrame for driver-scale literal row sets
    (seeds, estimate lists, codebook re-pins, component labels). Built
    from a pyarrow table, so Spark holds the rows JVM-side: pickled
    rows cost every action one more job with a Python-worker task (an
    aggregate over 2 rows, 4 cores: 2 jobs, 0.29-0.44 s; here 1 job,
    0.11-0.14 s). One partition keeps a stored dim one file. ``schema``
    is a ``StructType`` or DDL; rows are tuples in its field order, or a
    ``pyarrow.Table`` with its columns in that order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        table = rows.rename_columns(arrow.names).cast(arrow)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema).coalesce(1)


# Post-shuffle partitions follow the INPUT VOLUME: ~32 MB of source
# parquet each, floor 8 (at gate scale 8 beat 32 by ~10%: fewer tasks
# and state files), cap 256 (small files). A fixed 8 was a scale bug:
# the sf100 probe (finding 40) ran 12.5M-row spilling sorts per
# partition. Every local scale (27 KB to 2 MB) sits at the floor.
GATE_PARTITION_BYTES = 32 << 20
GATE_PARTITION_FLOOR = 8
GATE_PARTITION_CAP = 256


def gate_shuffle_partitions(sf_dir: str) -> int:
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return GATE_PARTITION_FLOOR
    return max(GATE_PARTITION_FLOOR,
               min(GATE_PARTITION_CAP, -(-size // GATE_PARTITION_BYTES)))


# (id(caller), count, caller conf hash) -> (caller, clone). Holding the
# caller pins its id; the hash remakes the clone when the caller's conf
# changes, since a clone copies that conf only when it is made. One clone
# per key keeps the session-keyed load_tables and pipeline memos warm.
_SIZED: dict = {}
# id(clone) -> count: a sized build reaching another gets itself back
_CLONE_PARTS: dict = {}


def sized_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """The caller's session with ``spark.sql.shuffle.partitions`` set
    by ``gate_shuffle_partitions(sf_dir)``, as a clone made once per
    caller, count and caller conf (module docstring)."""
    n = gate_shuffle_partitions(sf_dir)
    if _CLONE_PARTS.get(id(spark)) == n:
        return spark
    key = (id(spark), n, spark.conf._jconf.getAll().hashCode())
    hit = _SIZED.get(key)
    if hit is None:
        jclone = spark._jsparkSession.cloneSession()
        jclone.conf().set("spark.sql.shuffle.partitions", str(n))
        hit = _SIZED.setdefault(
            key, (spark, SparkSession(spark.sparkContext, jclone)))
        _CLONE_PARTS[id(hit[1])] = n
    return hit[1]


def fan_out(df, spark: SparkSession):
    """Restore source parallelism for compute-heavy map stages.

    The driver fixtures are single-row-group parquet files, so Spark
    plans a ONE-task scan regardless of maxPartitionBytes (a row
    group is the split atom) and every map-side operator above it —
    the v6 Arrow parse, shingle/md5 signatures, embedding math — runs
    on one core. A production table at this engine's target scale has
    thousands of row groups (and a Kafka source has N partitions), so
    the scan itself parallelizes; this helper restores that with one
    round-robin exchange of the raw rows.

    Deliberately NOT applied inside ``load_tables``: pipelines whose
    per-row map work is cheap (plain filters/aggregations) lose more
    to the extra exchange than they gain (measured ~+0.5s per query
    at sf0.1 across ~25 cheap queries), while the parse- and
    hash-heavy pipelines gain 1.5-3x. Call it at the load site of the
    heavy pipelines only.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def normalize_ts(df):
    """Coerce any ``ts`` column to session-tz TimestampType.

    The driver has shipped events.ts as TIMESTAMP(NANOS) (surfaced as
    LongType epoch-nanos under nanosAsLong), TIMESTAMP_NTZ(µs), and
    plain TIMESTAMP across rounds; queries assume TimestampType.
    Session tz is pinned UTC, so the NTZ cast is value-preserving and
    matches DuckDB's naive-timestamp reading of the same file.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    for f in df.schema.fields:
        if f.name != "ts":
            continue
        if isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
