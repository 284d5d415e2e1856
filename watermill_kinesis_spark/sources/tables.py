"""Batch table sources over the driver-generated parquet testdata.

At cluster scale these reads stay efficient because everything
downstream is expressed declaratively: Catalyst pushes predicates and
column pruning into the parquet scan (verify with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

# Memo of logical table DataFrames, keyed by (applicationId, SESSION,
# sf_dir, name). ``spark.read.parquet`` costs a driver round-trip (file
# listing + footer schema read, ~70-100 ms) on EVERY call; a multi-table
# query rebuilt per-run pays it 5-6×. DataFrames are immutable logical
# plans, so reusing one across queries is free and safe — this is the
# engine's catalog, not a data cache (scans still hit parquet with full
# pushdown). The key carries the Python session identity, not just the
# applicationId: ``spark.newSession()`` children share an application
# but have their OWN temp-view namespace, and a DataFrame is bound to
# the session that built it — handing a parent-bound memo entry to a
# child session makes ``createOrReplaceTempView`` silently register on
# the parent (the sql_recursive_cte scoped-session failure class). The
# outer map is weak-keyed on the session object, so ephemeral child
# sessions release their entries on GC and a recycled object identity
# can never inherit another session's bindings; a re-wrapped session
# (same JVM session, new Python wrapper) just misses the memo and
# rebuilds — a ~100 ms cost, never a wrong binding. One discipline the
# memo imposes: a SELF-join of a table must alias-project one side
# (fresh attribute ids), since both sides now share a plan instance
# (see q8_market_share).
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = per_session.get(key)
    if df is None:
        if name == "events":
            df = _load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP_NTZ (naive UTC), whatever the
    generator wrote:

    - parquet TIMESTAMP(NANOS): the Spark reader rejects it outright, so
      ``spark.sql.legacy.parquet.nanosAsLong`` (read-path-only, no
      per-read option form) reads it as a long, which we floor-truncate
      to µs (``ts div 1000``) — the same ns→µs truncation DuckDB applies
      on scan, so oracle comparisons stay bit-identical.
    - parquet TIMESTAMP(MICROS) (current driver testdata): reads natively;
      an ``isAdjustedToUTC`` instant becomes TIMESTAMP, a naive one
      TIMESTAMP_NTZ — either is renormalized to NTZ via a UTC shift that
      is independent of the session timezone.

    NTZ everywhere means query results do not depend on whatever session
    timezone the caller's SparkSession happens to use — DuckDB
    timestamps are naive as well. No session-timezone pin is needed.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):  # TIMESTAMP(NANOS) via nanosAsLong
        ts = F.expr(
            "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    elif isinstance(ts_type, T.TimestampType):  # instant-semantics micros
        ts = F.expr(
            "timestampadd(MICROSECOND, unix_micros(ts), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    else:  # already TIMESTAMP_NTZ
        ts = F.col("ts")
    return df.withColumn("ts", ts)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: bytes-per-task target for :func:`adaptive_partitions` — sized so a
#: task's Arrow batch work comfortably exceeds the measured ~15-25 ms
#: fixed cost of one Python-runner task (socket handshake + Arrow
#: stream open/close): ~512 KB of 64-dim vectors is ~1.9k rows, far
#: above the breakeven, while a 100 TB corpus still fans out to the
#: full cluster via the parallelism cap.
ADAPTIVE_TARGET_BYTES = 512 * 1024

#: per-task ceiling of :func:`adaptive_partitions` — once a stage's
#: estimated bytes exceed ``defaultParallelism`` × this, the count grows
#: past the core count so no task holds more than ~128 MiB (a gram
#: explosion at the 100× replica would otherwise sort GBs per task on
#: a 1 GiB heap).
TASK_CEILING_BYTES = 128 << 20


def _input_bytes(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """On-disk byte size of a table, stat'ed through the Hadoop
    FileSystem API resolved from the session's Hadoop conf (one
    namenode/list call; works identically for local paths, s3a://,
    hdfs://, …): a driver-local stat silently returns nothing for the
    remote stores a 100 TB deployment reads from. Falls back to a
    driver-local stat, then ``None`` for a genuinely unstattable
    path."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(jpath).getLength())
    except Exception:
        try:
            return os.path.getsize(path)
        except OSError:
            return None


def adaptive_partitions(
    spark: SparkSession, sf_dir: str, name: str, expand: float = 1.0
) -> int:
    """The one partition count for fanning a table out to Python
    kernel, explode or shuffle work, derived from the table's on-disk
    size instead of a constant. With ``n = bytes·expand`` and ``dp =
    defaultParallelism``::

        max(2, min(dp, ceil(n / ADAPTIVE_TARGET_BYTES)),
               min(64·dp, ceil(n / TASK_CEILING_BYTES)))

    or ``dp`` when the table cannot be stat'd. Tiny inputs stop paying
    32 Python-task fixed costs per stage (measured 0.64 s vs 0.28 s per
    stage on a 2000-row table at local[32]); big inputs use every core,
    and past ``dp`` × 128 MiB the count keeps growing (capped at 64·dp,
    so a mis-estimate can never schedule an absurd task count).
    ``expand`` models the amplification between the parquet bytes and
    the bytes the sized stage actually processes: text decompresses
    ~10× out of parquet, and an explode multiplies further (a char-gram
    row is ~24 B, so a gram explosion is ``expand=240``). Floor 2, not
    1: a repartition(1) plans as Exchange SinglePartition, the
    global-funnel shape plan_audit red-flags (and a 2-task stage costs
    the same ~20 ms as a 1-task one).

    Every site resolves it at call time (operators import it inside
    the function body), so reassigning ``tables.adaptive_partitions``
    (tools/tune_fanout.py) steers all of them."""
    dp = spark.sparkContext.defaultParallelism
    size = _input_bytes(spark, sf_dir, name)
    if size is None:
        return dp
    n = int(size * expand)
    return max(
        2,
        min(dp, -(-n // ADAPTIVE_TARGET_BYTES)),  # ceil
        min(64 * dp, -(-n // TASK_CEILING_BYTES)),
    )


def fanned_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` repartitioned by ``doc_id`` for CPU-bound per-row
    text work (tokenizing, shingling, hashing): the table is one input
    split on disk, so without the exchange an operator's whole pass
    runs in one task. Sized with ``expand=10``, text's decompression
    out of parquet; keyed on doc_id so the layout is deterministic."""
    return load_table(spark, sf_dir, "documents").repartition(
        adaptive_partitions(spark, sf_dir, "documents", expand=10), "doc_id"
    )


def embedding_vectors(
    spark: SparkSession,
    sf_dir: str,
    distribute: bool = False,
    fixed: bool = False,
) -> DataFrame:
    """``embeddings`` as ``(vec_id, emb array<double>, …)``: the other
    columns (``label`` in the testdata table) ride along.
    ``distribute=True`` repartitions by vec_id for operators that do
    CPU-bound per-row kernel work over the whole corpus (64 LSH
    projections per row, the iterative k-means / k-center / PCA passes);
    it is left off for broadcast-probe shapes, where the extra shuffle
    costs more than it buys.

    The partition count is ``adaptive_partitions`` of the on-disk size:
    the iterative fits run ~10 Python-kernel stages per call, and a
    32-partition layout of a small corpus pays 32 × ~20 ms of
    Python-task fixed cost per stage for microseconds of BLAS work
    (measured 5.2 s → 3.3 s on the k-center audit at sf0.1), while a
    real corpus still reaches defaultParallelism. ``fixed=True`` keeps
    the defaultParallelism layout for the one consumer
    (similarity_ann_pq) whose batch-local candidate pool makes its
    approximate OUTPUT depend on the batch layout."""
    from pyspark.sql import functions as F

    t = load_table(spark, sf_dir, "embeddings")
    e = t.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        *[c for c in t.columns if c not in ("vec_id", "embedding")],
    )
    if distribute:
        n = (
            spark.sparkContext.defaultParallelism
            if fixed
            else adaptive_partitions(spark, sf_dir, "embeddings")
        )
        e = e.repartition(n, "vec_id")
    return e
