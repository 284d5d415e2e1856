"""User-defined function surface.

The reference's only extension point is the pluggable
marshaller/unmarshaller function type (reference marshaller.go:22,52;
publisher.go:48-51; subscriber.go:109-112) — a per-record codec hook.
Spark-first, that hook is a UDF; the engine exposes every Arrow-backed
face of the surface, each as a named, oracle-anchored entry:

- scalar ``@pandas_udf`` (``udf_scalar_pandas``) — per-value logic,
  vectorized over Arrow batches;
- grouped-aggregate ``@pandas_udf`` (``udaf_grouped_pandas``) — the
  UDAF: whole group in, scalar out;
- grouped-map ``applyInPandas`` (``udf_grouped_map_pandas``) — whole
  group in, DataFrame out;
- Python UDTF (``udtf_token_ngrams``) — one row in, many rows out via
  LATERAL join;
- plus the codec hook itself (``udf_custom_codec``) and the
  whole-partition ``mapInPandas`` kernels used throughout
  operators/multimodal.py and the similarity/dedup families.

Row-at-a-time ``F.udf`` is deliberately NOT used anywhere in this
engine — it is the slow path and nothing here needs it.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


@query(
    "udf_scalar_pandas",
    oracle="""
    SELECT doc_id,
           CAST(n_chars AS DOUBLE) / (1.0 + len(string_split(text, ' ')))
               AS quality
    FROM documents
    """,
    tags=("udf", "llm-pipeline"),
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF over documents; the oracle recomputes the same
    arithmetic in SQL, pinning the UDF's semantics (int inputs → one
    double division, bit-exact across engines). Defined in-function:
    ``pandas_udf`` resolves its return type against the active session,
    so module import stays session-free."""

    @pandas_udf("double")
    def quality_score(n_chars: pd.Series, n_tokens: pd.Series) -> pd.Series:
        # vectorized over Arrow batches — the whole column divides at
        # numpy speed, no per-row Python
        return n_chars / (1.0 + n_tokens)

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        quality_score(F.col("n_chars").cast("double"), n_tokens.cast("double")).alias(
            "quality"
        ),
    )


def hex_codec_udfs():
    """The length-prefixed-hex codec as a (encode, decode) Pandas UDF
    pair — ONE definition shared by ``udf_custom_codec`` and its
    whole-corpus audit twin, so a wire-format change cannot leave the
    audit round-tripping a stale copy."""

    @pandas_udf("string")
    def encode_hex(payload: pd.Series) -> pd.Series:
        return payload.map(lambda b: f"{len(b):08x}{b.hex()}" if b is not None else None)

    @pandas_udf("binary")
    def decode_hex(wire: pd.Series) -> pd.Series:
        def dec(s):
            if s is None:
                return None
            n = int(s[:8], 16)
            out = bytes.fromhex(s[8:])
            return out if len(out) == n else None

        return wire.map(dec)

    return encode_hex, decode_hex


@query("udf_custom_codec", tags=("udf", "codec"))
def udf_custom_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pluggable-marshaller hook, Spark-first: a custom
    codec (length-prefixed hex instead of JSON+base64) swapped in as a
    pair of Pandas UDFs, round-tripped, and verified inline — rows
    where decode(encode(payload)) ≠ payload would surface as
    ``roundtrip_ok = false``. Rows-only check (the custom wire format
    is by definition not the oracle's JSON envelope)."""
    encode_hex, decode_hex = hex_codec_udfs()
    d = load_table(spark, sf_dir, "documents").limit(200)
    msgs = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    coded = msgs.withColumn("wire", encode_hex("payload"))
    back = coded.withColumn("decoded", decode_hex("wire"))
    return back.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.length("wire").alias("wire_len"),
        (F.col("decoded") == F.col("payload")).alias("roundtrip_ok"),
    )


@query(
    "udtf_token_ngrams",
    oracle="""
    SELECT doc_id,
           array_to_string(list_slice(toks, s, s + 2), ' ') AS ngram
    FROM (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id < 50)
    )
    """,
    tags=("udf", "udtf", "llm-pipeline"),
)
def udtf_token_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one input row → many
    output rows, here word trigrams per document via LATERAL join.
    This is the API-parity demo for generator-style user logic (the
    reference's pluggable codec generalized to 1→N); the SCALE path
    for n-grams is JVM-side slicing as in chunk_documents /
    explode_unnest — a Python UDTF runs row-at-a-time and is kept off
    hot paths. Oracle cross-checks the UDTF against DuckDB's
    list-slice formulation."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, ngram: string")
    class Trigrams:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 2):
                yield doc_id, " ".join(toks[i : i + 3])

    spark.udtf.register("wk_trigrams", Trigrams)
    return spark.sql(
        "SELECT t.doc_id, t.ngram "
        "FROM {docs} AS d, LATERAL wk_trigrams(d.doc_id, d.text) AS t",
        docs=load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50),
    )


@query(
    "udaf_grouped_pandas",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS weighted_cents
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "udaf"),
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF — the UDAF face of the UDF surface
    (scalar pandas UDF, UDTF, and custom codec cover the other three).
    Each group's columns arrive as Arrow-backed Series; the kernel is
    one vectorized int64 dot product, so the result is exact and the
    oracle can recompute it as plain SQL. Grouped-agg UDFs ship whole
    groups through Arrow — the right tool for numpy-shaped group logic
    (here a revenue-weighted quantity sum in cents); anything
    expressible as built-in aggregates should stay JVM-side (agg_hash
    et al.), which is why this entry exists as API parity with an
    exact-integer anchor rather than a hot-path recommendation."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from watermill_kinesis_spark.functions.exact import lcents

    @pandas_udf("long")
    def weighted_cents(q: pd.Series, cents: pd.Series) -> int:
        return int((q.astype("int64") * cents.astype("int64")).sum())

    # grouped-agg pandas UDFs can't mix with built-in aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count is a second
    # pandas aggregate over the same Arrow group
    @pandas_udf("long")
    def group_rows(q: pd.Series) -> int:
        return len(q)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        lcents("l_extendedprice").alias("cents"),
    )
    return li.groupBy("l_returnflag").agg(
        group_rows("q").alias("n_rows"),
        weighted_cents("q", "cents").alias("weighted_cents"),
    )


@query(
    "udf_grouped_map_pandas",
    oracle="""
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS quantity,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(DENSE_RANK() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_rank
    FROM lineitem
    GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    """,
    tags=("udf", "grouped-map"),
)
def udf_grouped_map_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (``applyInPandas``) — the fourth face of
    the pandas API surface (scalar UDF, grouped-agg UDF, UDTF are the
    others): a whole group arrives as one pandas DataFrame and leaves
    as another, the hook for per-group model fitting, normalization,
    or resampling that has no SQL spelling. The kernel here is chosen
    to HAVE one — per-returnflag dense rank of quantity levels — so
    the oracle can recompute it as a window function and the Arrow
    round trip is value-verified exactly (all-integer output). Group =
    return flag: three fat groups at any scale, the documented worst
    case for grouped-map (state must fit one task); real pipelines key
    finer, exactly like the applyInPandas cells in
    dedup_embedding_cosine."""
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("quantity")
    )
    grouped = li.groupBy("l_returnflag", "quantity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )

    def rank_levels(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("quantity").reset_index(drop=True)
        pdf["qty_rank"] = pdf["quantity"].rank(method="dense").astype("int64")
        return pdf

    return grouped.groupBy("l_returnflag").applyInPandas(
        rank_levels,
        "l_returnflag string, quantity bigint, n_rows bigint, qty_rank bigint",
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS BIGINT) * l_linenumber) AS BIGINT)
               AS weighted_qty,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_orderkey % 7 = 0
    GROUP BY l_orderkey
    """,
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the Arrow-native face of the UDF surface (no
    pandas materialization at all): the kernel receives raw
    ``pyarrow.RecordBatch``es and computes with pyarrow.compute, which
    is the lowest-overhead Python hook Spark offers (zero-copy into
    Arrow, columnar end to end). The kernel does a per-batch
    weighted-quantity partial; the final groupBy is JVM-side, so the
    Python stage stays embarrassingly parallel and map-side only —
    the pattern for plugging C-speed Arrow kernels (tokenizers,
    codecs) into a 100 TB scan. All-integer arithmetic ⇒ exact oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_quantity", "l_linenumber")
    )

    def weighted(batches):
        for batch in batches:
            qty = pc.cast(batch.column("l_quantity"), pa.int64())
            ln = pc.cast(batch.column("l_linenumber"), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), pc.multiply(qty, ln)],
                ["l_orderkey", "w"],
            )

    partial = li.mapInArrow(weighted, "l_orderkey long, w long")
    return partial.groupBy("l_orderkey").agg(
        F.sum("w").alias("weighted_qty"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@query(
    "udf_apply_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(MIN(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
           CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "arrow"),
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` — the GROUPED Arrow-native face (the zero-pandas
    sibling of ``applyInPandas``): each group arrives as one
    ``pyarrow.Table`` and leaves as another, computed entirely with
    pyarrow.compute — the hook for grouped C-speed kernels
    (per-group tokenizer fits, codec passes) without pandas
    materialization overhead. Exact-integer group statistics pin the
    Arrow round trip against the SQL oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )

    def group_stats(table: pa.Table) -> pa.Table:
        qty = table.column("qty")
        return pa.table(
            {
                "l_returnflag": [table.column("l_returnflag")[0].as_py()],
                "n_rows": [table.num_rows],
                "sum_qty": [pc.sum(qty).as_py()],
                "min_qty": [pc.min(qty).as_py()],
                "max_qty": [pc.max(qty).as_py()],
            }
        )

    return li.groupBy("l_returnflag").applyInArrow(
        group_stats,
        "l_returnflag string, n_rows bigint, sum_qty bigint, "
        "min_qty bigint, max_qty bigint",
    )


@query(
    "udf_scalar_arrow_optimized",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN event_id % 2 = 0
                         THEN event_id * 3 ELSE event_id END) AS BIGINT)
               AS transformed_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("udf", "arrow"),
)
def udf_scalar_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-OPTIMIZED scalar Python UDF (``useArrow=True``) — the
    third scalar-UDF flavor next to row-at-a-time pickled UDFs (never
    used in this engine) and pandas UDFs: plain per-value Python
    semantics but Arrow-batched transfer, the drop-in accelerator for
    legacy scalar UDF code that can't be vectorized. The kernel is a
    branchy per-row function with a pure-SQL twin, so the oracle pins
    the Arrow path's values exactly."""
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType(), useArrow=True)
    def branchy(event_id: int) -> int:
        return event_id * 3 if event_id % 2 == 0 else event_id

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", branchy("event_id").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum("t").cast("bigint").alias("transformed_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "codec_roundtrip_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(COALESCE(SUM(octet_length(encode(text)) * 2 + 8), 0)
                AS BIGINT) AS total_wire_chars,
           1 AS all_roundtrip,
           1 AS all_wire_len_exact
    FROM documents
    """,
    tags=("udf", "codec", "audit"),
)
def codec_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only
    ``udf_custom_codec``: runs the length-prefixed-hex codec over the
    WHOLE corpus (no limit — the codec is one Arrow map pass) and
    pins, as oracle-checked scalars, the wire-format arithmetic the
    custom format defines: every payload round-trips bit-exactly
    (decode ∘ encode = id), every wire string is exactly
    8 + 2·octet_length(payload) chars (the 8-hex-digit length prefix
    plus two hex chars per byte), and the TOTAL wire size — which the
    oracle recomputes independently from the UTF-8 byte lengths,
    catching any encoder that silently mis-handles multi-byte
    characters. The codec pair is the SHARED :func:`hex_codec_udfs` —
    the audit exercises the production codec, not a copy. Verdict
    arithmetic is null-safe (eqNullSafe; a NULL payload's wire-length
    claim is vacuously true), so a null text row cannot fail a verdict
    the oracle pins to 1. Zero shuffle: one scan, one scalar
    aggregate."""
    encode_hex, decode_hex = hex_codec_udfs()
    d = load_table(spark, sf_dir, "documents")
    msgs = d.select(F.encode("text", "UTF-8").alias("payload"))
    back = msgs.withColumn("wire", encode_hex("payload")).withColumn(
        "decoded", decode_hex("wire")
    )
    agg = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_msgs"),
        F.coalesce(
            F.sum(F.length("wire")).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("total_wire_chars"),
        F.sum(
            F.col("decoded").eqNullSafe(F.col("payload")).cast("long")
        ).alias("n_rt"),
        F.sum(
            F.coalesce(
                F.length("wire") == F.octet_length("payload") * 2 + 8,
                F.col("payload").isNull(),
            ).cast("long")
        ).alias("n_len_ok"),
    )
    return agg.select(
        "n_msgs",
        "total_wire_chars",
        (F.col("n_rt") == F.col("n_msgs")).cast("int").alias("all_roundtrip"),
        (F.col("n_len_ok") == F.col("n_msgs")).cast("int").alias(
            "all_wire_len_exact"
        ),
    )
