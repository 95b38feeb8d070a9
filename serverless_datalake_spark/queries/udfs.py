"""User-defined function surface (SURVEY.md §2b): scalar pandas UDF,
grouped-aggregate pandas UDF (UDAF), applyInPandas (grouped map), and
a table function (UDTF-shaped sessionizer).

Scale notes: every Python hook here is Arrow-batched (pandas_udf /
applyInPandas) — row-at-a-time F.udf is deliberately absent from the
hot paths; the 10-100× Arrow advantage is the difference between a
feasible and an infeasible 100 TB Python stage.

NB: pandas_udf objects are built inside the query functions — the
decorator needs an active SparkSession to parse its DDL return type,
and this module imports at registry-load time (driver may import
before creating the session).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from serverless_datalake_spark.queries import query
from serverless_datalake_spark.tables import load_table


@query(
    "udf_scalar_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS net_price
    FROM lineitem
    WHERE l_orderkey % 17 = 0
    """,
    tags=("udf", "pandas"),
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF vs the same arithmetic in SQL — numerically
    identical because both sides do IEEE double ops in the same order."""

    @pandas_udf("double")
    def net_price(extended: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
        return extended * (1.0 - discount) * (1.0 + tax)

    li = load_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_orderkey") % 17 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(net_price("l_extendedprice", "l_discount", "l_tax"), 2).alias("net_price"),
    )


@query(
    "udaf_grouped_agg",
    # An order statistic is summation-order-independent, so a pandas
    # UDAF computing it is value-exact against SQL (a float SUM would
    # depend on pandas chunk order and could only be rows-checked).
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 2) AS median_price,
           ROUND(MAX(l_extendedprice) - MIN(l_extendedprice), 2) AS price_range
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("udf", "udaf"),
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + range of price per return flag via grouped-agg pandas
    UDFs — the custom-UDAF extension point, chosen as order statistics
    so the result is deterministic under any partitioning."""

    @pandas_udf("double")
    def median_price(price: pd.Series) -> float:
        return float(price.median())

    @pandas_udf("double")
    def price_range(price: pd.Series) -> float:
        return float(price.max() - price.min())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(median_price("l_extendedprice"), 2).alias("median_price"),
        F.round(price_range("l_extendedprice"), 2).alias("price_range"),
    )


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas grouped-map: full group as one DataFrame.
    Degenerate groups (single row / zero variance) get zscore 0.0 —
    mirrored by the oracle's COALESCE."""
    v = pdf["value"]
    sd = v.std(ddof=1)
    z = (v - v.mean()) / sd if sd and sd == sd else pd.Series(0.0, index=v.index)
    pdf = pdf.assign(zscore=z)
    return pdf[["user_id", "event_id", "zscore"]]


@query(
    "udf_grouped_map",
    oracle="""
    SELECT user_id, event_id,
           COALESCE(ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                 / NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY user_id), 0), 4), 0.0) AS zscore
    FROM events
    """,
    tags=("udf", "applyInPandas"),
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via applyInPandas — the grouped-map pattern
    for logic that genuinely needs the whole group in memory
    (sessionization, per-entity model scoring). One shuffle on the
    grouping key, Arrow both ways."""
    e = load_table(spark, sf_dir, "events")
    out = e.select("user_id", "event_id", "value").groupBy("user_id").applyInPandas(
        _zscore_group, schema="user_id bigint, event_id bigint, zscore double"
    )
    return out.select("user_id", "event_id", F.round("zscore", 4).alias("zscore"))


@query(
    "udtf_python_tokenize",
    oracle="""
    SELECT doc_id, toks[i] AS token, CAST(i - 1 AS INT) AS pos
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents WHERE doc_id % 25 = 0),
         UNNEST(range(1, len(toks) + 1)) AS u(i)
    """,
    tags=("udf", "udtf", "python"),
)
def udtf_python_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python UDTF (spark.udtf, Spark ≥3.5): one text row →
    (token, position) rows via a generator class, invoked through a
    SQL LATERAL join. Row-based Python — use for genuinely
    non-expressible generators only; this tokenize shape has a
    codegen twin (explode/posexplode) used everywhere else."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            pos = 0
            for t in text.split(" "):
                if t:
                    yield t, pos
                    pos += 1

    spark.udtf.register("tokenize_udtf", Tokenize)
    from serverless_datalake_spark.tables import register_views

    register_views(spark, sf_dir, only=("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM documents d, LATERAL tokenize_udtf(d.text) t
        WHERE d.doc_id % 25 = 0
        """
    )


@query(
    "udtf_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq,
           event_id
    FROM flagged
    """,
    tags=("udf", "udtf"),
)
def udtf_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function shape: one input row group → many output rows
    with derived structure (session sequence numbers). Composed from
    window built-ins — the UDTF extension point without leaving
    codegen; a Python UDTF (F.udtf) would be the escape hatch for
    non-expressible generators."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            # exact µs arithmetic — truncating to seconds would flag
            # sessions differently from the oracle's INTERVAL compare
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return flagged.select(
        "user_id", F.sum("new_s").over(run).alias("session_seq"), "event_id"
    )


@query(
    "udtf_ngram_generator",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id,
           toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS ngram,
           CAST(i - 1 AS INT) AS pos
    FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 3
    """,
    tags=("udf", "udtf", "python", "ngram"),
)
def udtf_ngram_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF #3: a sliding trigram generator (one text row →
    n−2 shingle rows with positions) through SQL LATERAL — the
    row-expanding shape contamination/dedup pipelines use when the
    generator logic outgrows HOFs (custom tokenizers, byte-aware
    windows). Like the tokenizer UDTF, this exact shape HAS a codegen
    twin (textops.shingles_of_tokens + posexplode, used by the minhash
    family) — the UDTF exists to prove the escape hatch carries the same
    semantics when the built-ins stop being expressive enough."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="ngram string, pos int")
    class Trigrams:
        def eval(self, text: str):
            toks = [t for t in text.split(" ") if t]
            for i in range(len(toks) - 2):
                yield " ".join(toks[i : i + 3]), i

    spark.udtf.register("trigrams_udtf", Trigrams)
    from serverless_datalake_spark.tables import register_views

    register_views(spark, sf_dir, only=("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, t.ngram, t.pos
        FROM documents d, LATERAL trigrams_udtf(d.text) t
        WHERE d.doc_id % 25 = 0
        """
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0)
                    AS BIGINT)) AS BIGINT) AS disc_e4
    FROM lineitem WHERE l_quantity >= 40
    GROUP BY 1
    """,
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy RecordBatch escape hatch (the fourth
    Python-execution surface after scalar pandas / grouped map /
    grouped agg): per-batch pyarrow.compute kernels with no pandas
    conversion on either side, the shape to reach for when the Python
    stage is itself vectorized (tokenizers emitting Arrow, model
    feature extractors, Arrow-native libs).

    The kernel computes price*(1-discount) with element-wise IEEE ops
    — bit-identical to the engines' expression evaluation — and every
    rounding/summing step stays ENGINE-side (integer 1e-4 units, the
    agg_pricing_summary discipline), so the oracle needs no knowledge
    that Python ever touched the rows.

    Scale shape: map-only over the scan (the l_quantity filter is
    pushed below the Python stage by the projection order here: filter
    first, then mapInArrow), then one partial-agg shuffle at
    returnflag grain. Arrow batch size rides
    spark.sql.execution.arrow.maxRecordsPerBatch; no per-row Python."""
    import pyarrow as pa

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 40)
        .select("l_returnflag", "l_extendedprice", "l_discount")
    )

    def kernel(batches):
        import pyarrow.compute as pc

        for batch in batches:
            disc = pc.multiply(
                batch.column(1), pc.subtract(pa.scalar(1.0), batch.column(2))
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), disc], ["l_returnflag", "disc_price"]
            )

    mapped = li.mapInArrow(kernel, "l_returnflag string, disc_price double")
    return mapped.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("disc_price") * 10000, 0).cast("long"))
        .cast("long")
        .alias("disc_e4"),
    )


@query(
    "udtf_dynamic_schema",
    oracle="""
    SELECT doc_id,
           CASE WHEN len(toks) >= 1 THEN toks[1] END AS tok1,
           CASE WHEN len(toks) >= 2 THEN toks[2] END AS tok2,
           CASE WHEN len(toks) >= 3 THEN toks[3] END AS tok3,
           CAST(len(toks) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents WHERE doc_id % 11 = 0)
    """,
    tags=("udf", "udtf", "python", "analyze"),
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF #4 — the Spark 4 `analyze()` static method: the
    UDTF computes its OWN output schema at plan time from the literal
    argument (k=3 → columns tok1..tok3), the polymorphic-table-
    function contract (SQL:2016 PTF) that lets one UDTF serve any
    width without a registry of fixed-schema variants. eval() then
    yields rows matching the analyzed schema.

    Scale: same execution profile as the other UDTFs (Arrow-batched
    lateral generator); analyze() runs ONCE at planning, so the
    dynamic schema costs nothing per row."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class TokenPrefix:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)
            st = StructType()
            for i in range(n):
                st = st.add(f"tok{i + 1}", StringType())
            st = st.add("n_tokens", LongType())
            return AnalyzeResult(schema=st)

        def eval(self, text: str, k: int):
            toks = [t for t in (text or "").split(" ") if t]
            yield tuple(
                [toks[i] if i < len(toks) else None for i in range(k)] + [len(toks)]
            )

    spark.udtf.register("token_prefix_udtf", udtf(TokenPrefix))
    from serverless_datalake_spark.tables import register_views

    register_views(spark, sf_dir, only=("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, t.*
        FROM documents d, LATERAL token_prefix_udtf(d.text, 3) t
        WHERE d.doc_id % 11 = 0
        """
    )


@query(
    "udf_grouped_ols_fit",
    oracle="""
    WITH grid AS (
      SELECT event_type,
             CAST(FLOOR(EPOCH(ts) / 3600.0) AS BIGINT) - 473352 AS t,
             CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(t * y) AS BIGINT) AS sty
      FROM grid GROUP BY 1
    )
    SELECT event_type, n,
           ROUND(CAST(n * sty - st * sy AS DOUBLE)
                 / CAST(n * stt - st * st AS DOUBLE) / 100.0, 6) AS slope_per_hour,
           ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(n * sty - st * sy AS DOUBLE)
                     / CAST(n * stt - st * st AS DOUBLE))
                    * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 4)
             AS intercept
    FROM m
    """,
    tags=("udf", "grouped-map", "ols"),
)
def udf_grouped_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model FITTING inside applyInPandas: each event type's
    hourly-revenue series gets a least-squares trend fit in Python —
    the grouped-map ML shape (one model per key: per-SKU forecasters,
    per-tenant calibrations). Exactness across the Python boundary is
    arranged the same way as engine-side OLS: the pandas kernel
    accumulates co-moments as PYTHON INTS (arbitrary precision, exact)
    from the integer-unit grid, and evaluates the SAME final double
    formula the oracle spells — so even a numpy float32 habit can't
    drift the result.

    Scale shape: the grid aggregate reduces events to (type, hour)
    grain BEFORE Python (never ship raw rows to pandas); one group
    per event type, Arrow-batched; the fit is O(grid) per group."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    base_h = 473352
    grid = ev.groupBy(
        "event_type",
        (F.floor(F.col("ts").cast("double") / 3600.0).cast("long") - base_h).alias("t"),
    ).agg(
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long")).cast("long").alias("y")
    )

    from decimal import ROUND_HALF_UP, Decimal

    def rnd(x: float, nd: int) -> float:
        # Spark's round(double, n) = HALF_UP on the double's SHORTEST
        # decimal repr (BigDecimal.valueOf) — which is exactly what
        # Python's repr(float) produces. Quantizing that repr HALF_UP
        # matches the oracle's rewritten ROUND by construction, even
        # on exact 1e-6 midpoints (Python's built-in round() is
        # HALF_EVEN and would disagree there).
        return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = [int(v) for v in pdf["t"]]
        ys = [int(v) for v in pdf["y"]]
        n = len(ts)
        st, sy = sum(ts), sum(ys)
        stt = sum(t * t for t in ts)
        sty = sum(t * y for t, y in zip(ts, ys))
        slope = float(n * sty - st * sy) / float(n * stt - st * st)
        intercept = float(sy) / float(n) - slope * (float(st) / float(n))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "slope_per_hour": [rnd(slope / 100.0, 6)],
                "intercept": [rnd(intercept / 100.0, 4)],
            }
        )

    return grid.groupBy("event_type").applyInPandas(
        fit, "event_type string, n bigint, slope_per_hour double, intercept double"
    )


def _reconcile_cogroup(key, odf, ldf):
    """Cogrouped merge kernel at BUCKET grain: the frames carry every
    order and every lineitem whose orderkey lands in this bucket, so
    the kernel does vectorized pandas work (groupby + outer merge)
    over ~hundreds of orders per call instead of paying the per-call
    overhead once per order. Pure int64 arithmetic — every float was
    rounded to integer cents SPARK-SIDE before crossing Arrow."""
    import pandas as pd

    if len(ldf):
        lagg = ldf.groupby("orderkey", as_index=False).agg(
            n_lines=("line_cents", "size"), line_cents=("line_cents", "sum")
        )
    else:
        lagg = pd.DataFrame(
            {"orderkey": pd.Series(dtype="int64"),
             "n_lines": pd.Series(dtype="int64"),
             "line_cents": pd.Series(dtype="int64")}
        )
    o = odf[["orderkey", "o_cents"]] if len(odf) else pd.DataFrame(
        {"orderkey": pd.Series(dtype="int64"),
         "o_cents": pd.Series(dtype="int64")}
    )
    m = o.merge(lagg, on="orderkey", how="outer")
    for c in ("o_cents", "n_lines", "line_cents"):
        m[c] = m[c].fillna(0).astype("int64")
    m["delta_cents"] = m["o_cents"] - m["line_cents"]
    return m[["orderkey", "o_cents", "n_lines", "line_cents", "delta_cents"]]


@query(
    "udf_cogrouped_reconcile",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS o_cents
      FROM orders
    ), l AS (
      SELECT l_orderkey AS orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                 * (1 + l_tax) * 100, 0) AS BIGINT))
                  AS BIGINT) AS line_cents
      FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.orderkey, l.orderkey) AS orderkey,
           COALESCE(o.o_cents, 0) AS o_cents,
           COALESCE(l.n_lines, 0) AS n_lines,
           COALESCE(l.line_cents, 0) AS line_cents,
           COALESCE(o.o_cents, 0) - COALESCE(l.line_cents, 0) AS delta_cents
    FROM o FULL OUTER JOIN l ON l.orderkey = o.orderkey
    """,
    tags=("udf", "cogroup", "pandas"),
)
def udf_cogrouped_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas — the two-sided grouped-map API (the
    fifth Python execution surface after scalar/grouped-agg/grouped-
    map/UDTF): orders and lineitem cogrouped on orderkey, one pandas
    kernel sees BOTH sides of each key and reconciles header total
    vs Σ line net·(1+tax) — the merge shape for per-entity
    source-vs-derived audits where the kernel genuinely needs both
    relations at once (this arithmetic has a join+agg codegen twin,
    used as the oracle, exactly like the other UDF demos).

    Exactness: every monetary value becomes exact integer cents
    SPARK-SIDE (registry ROUND rewriting applies) before crossing
    Arrow; the Python kernel is int64-only, so no libm or pandas
    rounding semantics leak into results.

    Scale shape: ONE co-partitioned shuffle brings both sides of a
    key to the same task (same cost as the equivalent join); Arrow
    batches both ways; output is key-grain. Keys missing from either
    side arrive with an empty frame — surfaced as 0-line orders /
    orphan lines rather than dropped.

    MEASURED HAZARD (the reason the cogroup key is a 256-way BUCKET,
    not the orderkey): cogrouped applyInPandas invokes the Python
    kernel and builds pandas frames ONCE PER KEY — keyed on the raw
    orderkey at sf0.1's 150k keys that measured 76 s (~0.5 ms/key)
    for arithmetic the join+agg twin does in 0.7 s. Bucketing the
    cogroup key keeps the per-call overhead amortized over hundreds
    of rows while the kernel stays genuinely two-sided; key-grain
    arithmetic belongs to the codegen twin."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("o_cents"),
        (F.col("o_orderkey") % 256).alias("bucket"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
            * 100,
            0,
        )
        .cast("long")
        .alias("line_cents"),
        (F.col("l_orderkey") % 256).alias("bucket"),
    )
    return (
        o.groupBy("bucket")
        .cogroup(li.groupBy("bucket"))
        .applyInPandas(
            _reconcile_cogroup,
            schema=(
                "orderkey bigint, o_cents bigint, n_lines bigint, "
                "line_cents bigint, delta_cents bigint"
            ),
        )
    )
