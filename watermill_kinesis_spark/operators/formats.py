"""File-format I/O surface: Parquet, ORC, JSON-lines, CSV, fixed-width
and XML parsing, and partitioned, bucketed and space-filling-curve
(Z-order, Hilbert) layouts.

The reference has no file I/O at all (SURVEY.md §2-B — its only I/O is
the AWS SDK); a batch engine needs the standard lake formats. Each
round-trip query writes a slice of the testdata in the target format,
reads it back, and aggregates — the oracle runs the same aggregate on
the ORIGINAL table, so a hash match proves the round trip was lossless
(schema + values), not just that the code ran.

Scale notes: all writers go through the normal distributed write path
(one file per task); `partitioned_write_prune` additionally proves
partition pruning — the read plan touches only the selected partition
directories, which at 100 TB is the difference between scanning one
day and scanning the lake.
"""

from __future__ import annotations

import os
import tempfile
import uuid as uuidlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.functions.exact import dsum, lcents, sql_dsum
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=f"wk_fmt_{prefix}_{uuidlib.uuid4().hex[:6]}_")


_AGG_ORACLE = f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY event_type
"""


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )


@query("format_json_roundtrip", oracle=_AGG_ORACLE, tags=("format",))
def format_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → read back → aggregate; hash-matching the
    oracle's direct aggregate proves lossless round trip. Timestamps
    ride as ISO strings and are restored via the explicit schema."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_tmp("json"), "events_json")
    ev.select("event_id", "event_type", "value").write.mode("overwrite").json(out)
    back = spark.read.schema("event_id long, event_type string, value double").json(
        out
    )
    return _agg(back)


@query("format_csv_roundtrip", oracle=_AGG_ORACLE, tags=("format",))
def format_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV (header) → read back with explicit schema →
    aggregate. Doubles survive because Spark writes round-trippable
    shortest representations."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_tmp("csv"), "events_csv")
    ev.select("event_id", "event_type", "value").write.mode("overwrite").option(
        "header", True
    ).csv(out)
    back = spark.read.schema("event_id long, event_type string, value double").option(
        "header", True
    ).csv(out)
    return _agg(back)


@query("format_parquet_roundtrip", oracle=_AGG_ORACLE, tags=("format",))
def format_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → Parquet → read back → aggregate (the lake's native
    format; schema travels with the data)."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_tmp("parquet"), "events_parquet")
    ev.select("event_id", "event_type", "value").write.mode("overwrite").parquet(out)
    return _agg(spark.read.parquet(out))


@query("format_orc_roundtrip", oracle=_AGG_ORACLE, tags=("format",))
def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → read back → aggregate (the other columnar lake
    format Spark ships natively; same lossless-roundtrip proof as the
    parquet twin — the oracle aggregates the source directly, so a
    hash match certifies the write/read cycle preserved every value)."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_tmp("orc"), "events_orc")
    ev.select("event_id", "event_type", "value").write.mode("overwrite").orc(out)
    return _agg(spark.read.orc(out))


@query(
    "partitioned_write_prune",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    tags=("format", "partition-prune"),
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (`partitionBy(event_type)`) + a
    partition-pruned read: the filter on the partition column prunes
    directories at planning time — `PartitionFilters` in the scan node,
    zero I/O for unselected partitions."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(_tmp("part"), "events_part")
    ev.select("event_id", "value", "event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(out)
    back = spark.read.parquet(out).where(
        F.col("event_type").isin("click", "purchase")
    )
    return _agg(back)


@query(
    "bucketed_join_colocated",
    oracle=f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           {sql_dsum('l.l_quantity')} AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("format", "bucketing", "join"),
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables are written
    ``bucketBy(8, orderkey)`` + ``sortBy``, so the merge join reads
    bucket-aligned files and needs NO exchange on either side — the
    shuffle happened once at write time and is amortized over every
    subsequent join. This is the 100 TB answer to repeated fact-fact
    joins on the same key (the plan shows ``Bucketed: true`` scans and
    no Exchange below the SortMergeJoin; asserted in
    tests/test_plans.py). The oracle computes the same join+aggregate
    from the original tables, proving bucketing changed the plan, not
    the result."""
    run = uuidlib.uuid4().hex[:8]
    base = _tmp("bucket")
    o_name, l_name = f"wk_orders_b{run}", f"wk_lineitem_b{run}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable(o_name)
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(base, "lineitem"))
        .saveAsTable(l_name)
    )
    ob, lb = spark.table(o_name), spark.table(l_name)
    # 'merge' hint pins a sort-merge join so the bucket layout (not a
    # broadcast) is what elides the exchanges
    return (
        ob.hint("merge")
        .join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "format_json_corrupt_modes",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE event_id % 31 <> 0) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (WHERE event_id % 31 = 0) AS BIGINT) AS n_corrupt,
           CAST(SUM(event_id) FILTER (WHERE event_id % 31 <> 0) AS BIGINT)
               AS sum_good_ids
    FROM events
    """,
    tags=("format", "codec"),
)
def format_json_corrupt_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling at the FORMAT layer — the file-reader
    counterpart of the wire codec's corrupt-skip (reference
    subscriber.go:54-59): every 31st JSON line is mangled before
    writing; the PERMISSIVE read (Spark's default) lands those rows in
    ``columnNameOfCorruptRecord`` with data columns NULL, and good
    rows parse fully. The emitted triple (good count, corrupt count,
    good-id checksum) is pinned by the oracle's arithmetic, proving
    both that poison lines never kill the scan and that they are
    EXACTLY the lines the synthesis corrupted — no healthy row is
    misclassified."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    lines = ev.select(
        F.when(
            F.col("event_id") % 31 == 0,
            F.concat(F.lit("{broken"), F.to_json(F.struct("event_id"))),
        )
        .otherwise(F.to_json(F.struct("event_id", "event_type")))
        .alias("value")
    )
    out = os.path.join(_tmp("json_corrupt"), "lines")
    lines.write.mode("overwrite").text(out)
    back = spark.read.schema(
        "event_id long, event_type string, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(out)
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("bigint")
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("event_id")))
        .cast("bigint")
        .alias("sum_good_ids"),
    )


@query(
    "format_fixedwidth_parse",
    oracle="""
    WITH rendered AS (
        -- the fixed-width record a legacy feed would emit: 12-char
        -- right-padded status+priority code, 20-char zero-padded key,
        -- 20-char zero-padded cents amount (both sized past int64's
        -- 19 digits so lpad can NEVER truncate — lpad silently keeps
        -- a prefix on overflow, which would corrupt keys while both
        -- engines agreed; r6 review)
        SELECT rpad(o_orderstatus || substr(o_orderpriority, 1, 1), 12, ' ')
               || lpad(CAST(o_orderkey AS VARCHAR), 20, '0')
               || lpad(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                            AS VARCHAR), 20, '0') AS line
        FROM orders),
    parsed AS (
        SELECT trim(substr(line, 1, 12)) AS code,
               CAST(substr(line, 13, 20) AS BIGINT) AS okey,
               CAST(substr(line, 33, 20) AS BIGINT) AS cents
        FROM rendered)
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(MIN(okey) AS BIGINT) AS min_key,
           CAST(MAX(okey) AS BIGINT) AS max_key
    FROM parsed GROUP BY code
    """,
    tags=("formats", "ingestion"),
)
def format_fixedwidth_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL-copybook-style) record round trip — the
    legacy-feed ingestion face: render each order into a 52-char
    fixed-layout line (right-padded code, zero-padded key and cents —
    numeric fields 20 wide, PAST int64's 19 digits, because ``lpad``
    silently keeps a prefix on overflow and would corrupt keys on
    both engines at once), then parse it back with pure substring
    arithmetic and aggregate — proving the offsets, padding, and
    numeric reconversion are lossless at any int64 value. Everything
    is JVM ``substring``/``lpad``/``rpad`` inside whole-stage codegen
    (the classic mainframe-feed decode needs no UDF); one shuffle for
    the final rollup."""
    o = load_table(spark, sf_dir, "orders")
    line = F.concat(
        F.rpad(
            F.concat(
                F.col("o_orderstatus"), F.substring("o_orderpriority", 1, 1)
            ),
            12,
            " ",
        ),
        F.lpad(F.col("o_orderkey").cast("string"), 20, "0"),
        F.lpad(
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("bigint")
            .cast("string"),
            20,
            "0",
        ),
    )
    rendered = o.select(line.alias("line"))
    parsed = rendered.select(
        F.trim(F.substring("line", 1, 12)).alias("code"),
        F.substring("line", 13, 20).cast("bigint").alias("okey"),
        F.substring("line", 33, 20).cast("bigint").alias("cents"),
    )
    return parsed.groupBy("code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.min("okey").alias("min_key"),
        F.max("okey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# XML shredding (the other semi-structured ingest format)


@query(
    "xml_shred",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "xml", "format"),
)
def xml_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest via Spark 4's built-in ``from_xml`` — the enterprise
    sibling of variant_shred: each event re-serializes to an XML
    fragment, parses back through a typed schema, and aggregates from
    the shredded struct. The oracle aggregates the raw columns, so a
    hash match proves serialize→parse→shred is lossless. Values are
    exact integers end-to-end; the parse is a JVM expression at scan
    speed (no Python, no RDD)."""
    ev = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><c>"),
        lcents("value").cast("string"),
        F.lit("</c><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u></e>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "t STRING, c BIGINT, u BIGINT").alias("x")
    )
    return (
        parsed.select(
            F.col("x.t").alias("event_type"),
            F.col("x.c").alias("cents"),
            F.col("x.u").alias("uid"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum("uid").alias("sum_uid"),
        )
    )


# ---------------------------------------------------------------------------
# z-order layout (multi-dimensional data skipping)

#: bits per dimension → 2^(2·ZORDER_BITS) z-buckets
ZORDER_BITS = 4


def _z_interleave_sql(bx: str, by: str, intdiv: str = "DIV") -> str:
    """Bit-interleave two {ZORDER_BITS}-bit ints into a z-value — pure
    integer div/mod arithmetic, exact on any engine. The only dialect
    difference is the integer-division spelling (Spark ``DIV``,
    DuckDB ``//``); every operand is an exact integer, so the results
    are identical regardless."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({bx} {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({by} {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "zorder_layout",
    oracle=f"""
    SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM (
        SELECT l_partkey, l_suppkey,
               {_z_interleave_sql(f"(l_partkey % {1 << ZORDER_BITS})",
                                  f"(l_suppkey % {1 << ZORDER_BITS})",
                                  intdiv="//")} AS zbucket
        FROM lineitem)
    GROUP BY zbucket
    """,
    tags=("layout", "scan"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout: interleaving the bits of two
    key dimensions gives a 1-D sort key under which contiguous file
    groups cover small rectangles of the 2-D key space — so min/max
    file statistics prune scans on EITHER dimension (the Delta/Iceberg
    OPTIMIZE ZORDER technique, here as a first-class operator). The
    z-value is pure integer div/mod arithmetic (shared text with the
    oracle); the output is each z-bucket's row count and per-dimension
    min/max — exactly the skipping statistics a writer would persist.
    At 100 TB: add dimensions by extending the interleave, widen
    ZORDER_BITS to match file count, write with
    ``df.repartitionByRange(zbucket).sortWithinPartitions``."""
    li = load_table(spark, sf_dir, "lineitem")
    z = F.expr(
        _z_interleave_sql(
            f"(l_partkey % {1 << ZORDER_BITS})", f"(l_suppkey % {1 << ZORDER_BITS})"
        )
    )
    return (
        li.select("l_partkey", "l_suppkey", z.alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout (the locality-stronger sibling of z-order)

#: bits per dimension → a 2^HILBERT_BITS × 2^HILBERT_BITS grid and
#: 4^HILBERT_BITS hilbert buckets (matches ZORDER_BITS so the two
#: layouts are directly comparable)
HILBERT_BITS = 4


def _hilbert_d_sql(x: str, y: str, intdiv: str = "DIV") -> str:
    """xy→d on the order-``HILBERT_BITS`` Hilbert curve as ONE nested
    SQL expression, shared verbatim between engines (the
    ``_z_interleave_sql`` convention; only the integer-division
    spelling differs). The classic loop (per level: quadrant digit
    from the two high bits, then reflect/transpose the frame) is
    unrolled into ``HILBERT_BITS`` nested SELECTs over (x, y, d) —
    state threading the optimizer collapses into straight-line
    integer arithmetic. No bitwise XOR anywhere: ``^`` means POWER in
    DuckDB, so the quadrant digit (3·rx)⊕ry is spelled as the
    explicit 4-case CASE."""
    inner = f"SELECT {x} AS x, {y} AS y, 0 AS d FROM __src__"
    for lvl in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << lvl
        rx = f"((x {intdiv} {s}) % 2)"
        ry = f"((y {intdiv} {s}) % 2)"
        digit = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f"      WHEN {rx} = 0 AND {ry} = 1 THEN 1"
            f"      WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f"      ELSE 3 END)"
        )
        # rotation operates on the SUB-SQUARE coordinates (x % s):
        # reflecting the raw coordinate (s-1-x) goes negative whenever
        # the extracted high bit was set, and negative div/mod then
        # diverges between engines — masking first keeps every
        # intermediate in [0, s) (verified equivalent to the classic
        # formulation and pinned against it in tests)
        new_x = (
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (y % {s})"
            f"       ELSE y % {s} END)"
            f" ELSE x % {s} END)"
        )
        new_y = (
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (x % {s})"
            f"       ELSE x % {s} END)"
            f" ELSE y % {s} END)"
        )
        inner = (
            f"SELECT {new_x} AS x, {new_y} AS y,"
            f" d + {s * s} * {digit} AS d FROM ({inner})"
        )
    return inner


@query(
    "hilbert_curve_layout",
    oracle=f"""
    WITH __src__ AS (
        SELECT l_partkey, l_suppkey,
               l_partkey % {1 << HILBERT_BITS} AS hx,
               l_suppkey % {1 << HILBERT_BITS} AS hy
        FROM lineitem),
    hd AS ({_hilbert_d_sql("hx", "hy", intdiv="//")
            .replace("FROM __src__",
                     ", l_partkey AS pk, l_suppkey AS sk FROM __src__")
            .replace("AS d FROM (", "AS d, pk, sk FROM (")})
    SELECT d AS hbucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(pk) AS min_part, MAX(pk) AS max_part,
           MIN(sk) AS min_supp, MAX(sk) AS max_supp
    FROM hd GROUP BY d
    """,
    tags=("layout", "scan"),
)
def hilbert_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering layout — ``zorder_layout``'s
    locality-stronger sibling and the curve behind Databricks liquid
    clustering: unlike Morton order, the Hilbert curve never jumps
    across the key space (consecutive d values are always grid
    neighbors), so contiguous file groups cover tighter rectangles
    and min/max skipping prunes strictly better on range predicates.
    The xy→d map is the classic reflect/transpose recursion unrolled
    to ``HILBERT_BITS`` levels of pure integer div/mod/CASE
    arithmetic — one expression text shared with the oracle, exact on
    both engines (no float, no xor — ``^`` is POWER in DuckDB). The
    output is each hilbert-bucket's row count and per-dimension
    min/max — the skipping statistics a writer would persist, and
    directly comparable with ``zorder_layout``'s buckets since both
    use {1 << HILBERT_BITS}×{1 << HILBERT_BITS} grids. At 100 TB: add
    dimensions by lifting the unroll to the n-D Hilbert recursion,
    widen bits to the target file count, and write with
    ``repartitionByRange(hbucket).sortWithinPartitions``."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_partkey") % (1 << HILBERT_BITS)).alias("hx"),
        (F.col("l_suppkey") % (1 << HILBERT_BITS)).alias("hy"),
    )
    cur = li.selectExpr(
        "hx AS x", "hy AS y", "0 AS d", "l_partkey AS pk", "l_suppkey AS sk"
    )
    for lvl in range(HILBERT_BITS - 1, -1, -1):
        s = 1 << lvl
        rx = f"((x DIV {s}) % 2)"
        ry = f"((y DIV {s}) % 2)"
        digit = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0"
            f"      WHEN {rx} = 0 AND {ry} = 1 THEN 1"
            f"      WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f"      ELSE 3 END)"
        )
        cur = cur.selectExpr(
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (y % {s})"
            f"       ELSE y % {s} END)"
            f" ELSE x % {s} END) AS x",
            f"(CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN {s} - 1 - (x % {s})"
            f"       ELSE x % {s} END)"
            f" ELSE y % {s} END) AS y",
            f"d + {s * s} * {digit} AS d",
            "pk",
            "sk",
        )
    return cur.groupBy(F.col("d").alias("hbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("pk").alias("min_part"),
        F.max("pk").alias("max_part"),
        F.min("sk").alias("min_supp"),
        F.max("sk").alias("max_supp"),
    )
