"""Relational query surface (SURVEY.md §2.2) — declarative DataFrame plans.

The reference delegates ALL of this to its host engine, Opteryx
(``/root/reference/README.md:5``); its own query surface stops at
scan/filter/project parameters that are accepted and ignored
(``/root/reference/hadro/engine.py:139``). Here each operator family is an
idiomatic DataFrame plan that Catalyst optimizes — predicate pushdown, column
pruning, broadcast joins, AQE — with zero custom physical code.

Every query here has a DuckDB oracle twin in ``ORACLE``.

Determinism contract with the oracle (drives the hash-match gate):

- SUM/AVG over doubles go through exact ``DECIMAL(18,2)`` arithmetic, then a
  single final cast to DOUBLE — both engines produce bit-identical values
  regardless of partition/summation order. (Money columns in the fixtures
  carry exactly 2 decimals.)
- AVG is ``CAST(exact-decimal-sum AS DOUBLE) / COUNT`` — one IEEE division.
- Dates surface as ``yyyy-MM-dd`` strings (dtype-stable across engines).
- Any LIMIT/top-k orders by a unique tiebreaker so the row *set* is unique.

Scale notes per operator are in the docstrings; the common themes: joins to
small dims are broadcast (no shuffle of the fact table), aggregations are
partial (map-side combine) by construction, and every filter/projection
reaches the Parquet scan (verify via ``hadrodb_spark.plans.explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (read as raw
        # nanos under session.QUERY_CONFS and converted; µs truncation, so
        # oracle SQL never compares sub-second precision) and as
        # TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ). Both become an LTZ
        # timestamp, which renders like DuckDB's naive one in UTC.
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes)["ts"] == "bigint":  # nanos-as-long era
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        else:  # NTZ wall-clock → LTZ; identity instant under UTC session TZ
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count — but ONLY
    when the plan currently yields fewer partitions.

    Why (guide §2.5, input skew): the local fixture files are single-
    row-group parquet, which is unsplittable no matter how small
    ``maxPartitionBytes`` goes — every scan-stage map runs as ONE task,
    so a compute-heavy projection (hash explosions, per-token work)
    serializes on one core out of 32.  The guide's fix for unsplittable
    input is to repartition immediately after the read.  The condition
    makes it scale-adaptive rather than a local-mode constant: at
    deployment scale the scan already yields ≥ cores partitions and no
    exchange is added.  Call it AFTER the narrow projection so the
    exchange carries only the needed columns.

    Round-robin repartition is retry-safe (sort-before-repartition) and
    every caller aggregates with exact decimal/integer arithmetic, so
    results are partition-layout-invariant."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def dec(col: str) -> F.Column:
    """Exact 2-decimal fixed-point view of a money/measure column."""
    return F.col(col).cast("decimal(18,2)")


def one() -> F.Column:
    """Literal 1 as exact decimal (lazy: needs an active session)."""
    return F.lit(1).cast("decimal(18,2)")

# SQL fragment mirrors of dec()/ONE for the DuckDB oracle side.
_D = "CAST({c} AS DECIMAL(18,2))"


# --------------------------------------------------------------------- scans
def scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate scan — the reference's ``scan(columns,
    predicates)`` intent (params ignored there, ``hadro/engine.py:139``)
    made real: both reach the Parquet reader (PushedFilters/ReadSchema)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 30) & (F.col("l_discount") > 0.05))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


# ------------------------------------------------------------------- filters
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison + boolean + BETWEEN + null-test predicate mix."""
    return (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_totalprice").between(50_000, 200_000))
            & (F.col("o_orderstatus") != "P")
            & F.col("o_orderpriority").isNotNull()
        )
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


def filter_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + LIKE pattern predicates."""
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#3") & F.col("p_type").like("%BRASS%"))
        .select("p_partkey", "p_name", "p_brand", "p_type")
    )


def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection incl. computed column (ReadSchema prunes the rest)."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        (dec("c_acctbal") * one()).cast("double").alias("acctbal"),
    )


# --------------------------------------------------------------------- joins
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join. customer is small relative to orders → broadcast:
    the orders side never shuffles (at 100 TB the fact-table shuffle is the
    cost to kill)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(broadcast(customer), orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        )
    )


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with no orders (null-extended)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one high-value order. Semi joins
    ship only the join key of the probe side — cheaper than inner+distinct."""
    customer = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150_000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with NO orders at all."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (non-equi): bucket parts against a broadcast size-band
    dim. Non-equi → broadcast-nested-loop; the small side MUST be the
    broadcast one or this is quadratic at scale."""
    part = load(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [(0, 10, "small"), (10, 25, "medium"), (25, 100, "large")],
        "lo INT, hi INT, band STRING",
    )
    return (
        part.join(broadcast(bands), (part.p_size >= bands.lo) & (part.p_size < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(dec("p_retailprice")).cast("double").alias("total_price"),
        )
    )


def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-way star join: lineitem⋈orders⋈customer⋈nation. Dims broadcast;
    only the single fact→orders equi-join shuffles (and AQE may convert it
    too once filters shrink orders)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum((dec("l_extendedprice") * (one() - dec("l_discount"))).cast("decimal(38,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


# -------------------------------------------------------------- aggregations
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure groupBy: count/sum/min/max/avg with exact arithmetic."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.min(dec("l_extendedprice")).cast("double").alias("min_price"),
            F.max(dec("l_extendedprice")).cast("double").alias("max_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
        )
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — expands to a two-phase partial/final
    aggregate in Spark (no global de-dup shuffle of raw rows)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (grouping sets) over two keys, with explicit grouping level so
    the oracle can reproduce NULL-group semantics."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("spend"),
        )
        .filter(F.col("n_orders") >= 3)
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality keys."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance via the explicit two-pass formula over EXACT
    integer sums — builtin stddev accumulates floats in partition order
    (Welford merges), which can differ across engines at the last ulp; the
    (Q - S·S/n)/(n-1) form from exact ints is bit-identical everywhere."""
    qty = F.col("l_quantity").cast("long")  # quantities are integral
    agg = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(qty).alias("s"),
            F.sum(qty * qty).alias("q"),
        )
    )
    var = (
        F.col("q").cast("double")
        - (F.col("s").cast("double") * F.col("s").cast("double")) / F.col("n")
    ) / (F.col("n") - 1)
    return agg.select(
        "l_linestatus",
        F.round(F.sqrt(var), 6).alias("sd_qty"),
        F.round(var, 6).alias("var_qty"),
    )


# ------------------------------------------------------------------- windows
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number per partition. Orders by a unique key chain
    so ranks are deterministic."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 2)
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum + lag over an ordered partition — exact
    decimal accumulation then one cast, so prefix sums match the oracle."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(frame).cast("double").alias("running_spend"),
        F.lag("o_orderkey", 1).over(w).alias("prev_order"),
    )


def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag with defaults across an event-ordered partition."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
        F.lead("event_type", 1, "none").over(w).alias("next_type"),
    )


# --------------------------------------------------------------- sort / topk
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT: Spark runs TakeOrderedAndProject — a per-partition
    top-N then driver merge, never a global sort. Unique tiebreaker keeps the
    row set deterministic."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k = rank window + filter (the scalable idiom — one
    shuffle on the group key, no driver involvement)."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "rn")
    )


# ------------------------------------------------------------------- set ops
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    buyers = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    rich = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return buyers.union(rich).distinct()


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers that never ordered (set difference)."""
    all_c = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    buyers = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return all_c.exceptAll(buyers.distinct())


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of supplier and customer nation keys."""
    sn = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    cn = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    return sn.intersect(cn)


# ------------------------------------------------------------ scalar functions
def scalar_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String (upper/substr/concat/trim) + date (year/month/date math)
    functions; dates surfaced as strings for dtype stability."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_u"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.concat_ws("-", F.col("o_orderstatus"), F.col("o_orderpriority")).alias("status_prio"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


def scalar_math_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math (abs/round/sqrt/floor) + CASE WHEN + coalesce."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.abs(F.col("c_acctbal")), 1).alias("abs_bal"),
        F.round(F.sqrt(F.abs(F.col("c_acctbal"))), 6).alias("sqrt_bal"),
        F.floor(F.col("c_acctbal")).cast("bigint").alias("floor_bal"),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "normal")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
    )


def scalar_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events ``props`` column (semi-structured
    payload — get_json_object stays JVM-side/codegen)."""
    return (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_val"),
        )
        .filter(F.col("k_val") > 50)
    )


def array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops: split + explode (table-generating), posexplode index."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"))
        .filter(F.length("word") > 0)
    )


# --------------------------------------------------------------- SQL surface
def sql_tpch_q1_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — TPC-H Q1 shape: scan→filter→group→multi-agg→(order later).

    Scale: pure map-side-combinable aggregation over a pushed-down filter;
    the only shuffle is 6 groups × partial aggregates. This is the plan shape
    that survives 100 TB unchanged."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = dec("l_extendedprice") * (one() - dec("l_discount"))
    charge = disc_price * (one() + dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def sql_view_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SQL entry point over registered collection views — the host-engine
    (Opteryx) role the reference delegates (``README.md:5``)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY c.c_mktsegment
        """
    )


ORACLE: dict[str, str] = {
    "scan_lineitem": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_quantity >= 30 AND l_discount > 0.05
    """,
    "filter_compound": """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders
        WHERE o_totalprice BETWEEN 50000 AND 200000
          AND o_orderstatus <> 'P' AND o_orderpriority IS NOT NULL
    """,
    "filter_in_like": """
        SELECT p_partkey, p_name, p_brand, p_type
        FROM part
        WHERE p_brand IN ('Brand#1','Brand#3') AND p_type LIKE '%BRASS%'
    """,
    "project_columns": """
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(1 AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
        FROM customer
    """,
    "join_inner": """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "join_left": """
        SELECT c_custkey, c_name, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
    """,
    "join_anti": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
    "join_range": """
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM part
        JOIN (VALUES (0,10,'small'),(10,25,'medium'),(25,100,'large')) AS bands(lo,hi,band)
          ON p_size >= lo AND p_size < hi
        GROUP BY band
    """,
    "join_multiway": """
        SELECT n_name,
               CAST(SUM(CAST(
                 CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "agg_groupby": """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
               CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_distinct": """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_rollup": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "agg_having": """
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
    """,
    "agg_cube": """
        SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "agg_stats": """
        SELECT l_linestatus,
               ROUND(SQRT((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
                          / (n - 1)), 6) AS sd_qty,
               ROUND((CAST(q AS DOUBLE) - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n)
                     / (n - 1), 6) AS var_qty
        FROM (
          SELECT l_linestatus,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(l_quantity AS BIGINT)) AS s,
                 SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS q
          FROM lineitem GROUP BY l_linestatus
        )
    """,
    "window_rank": """
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER w AS INT) AS rn,
                 CAST(RANK() OVER w AS INT) AS rnk,
                 CAST(DENSE_RANK() OVER w AS INT) AS drnk
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        ) WHERE rn <= 2
    """,
    "window_running_sum": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
               LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_order
        FROM orders
    """,
    "window_lead_lag": """
        SELECT user_id, event_id, event_type,
               LAG(event_type, 1, 'none') OVER w AS prev_type,
               LEAD(event_type, 1, 'none') OVER w AS next_type
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    "sort_limit": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
    "topk_per_group": """
        SELECT c_mktsegment, c_custkey, c_name, c_acctbal, rn FROM (
          SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
                 CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
          FROM customer
        ) WHERE rn <= 3
    """,
    "setop_union": """
        SELECT o_custkey AS custkey FROM orders
        UNION
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    """,
    "setop_except": """
        SELECT c_custkey AS custkey FROM customer
        EXCEPT ALL
        SELECT DISTINCT o_custkey AS custkey FROM orders
    """,
    "setop_intersect": """
        SELECT s_nationkey AS nationkey FROM supplier
        INTERSECT
        SELECT c_nationkey AS nationkey FROM customer
    """,
    "scalar_string_date": """
        SELECT o_orderkey,
               UPPER(o_orderstatus) AS status_u,
               SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
               CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_prio,
               CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
               CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
               STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
        FROM orders
    """,
    "scalar_math_conditional": """
        SELECT c_custkey,
               ROUND(ABS(c_acctbal), 1) AS abs_bal,
               ROUND(SQRT(ABS(c_acctbal)), 6) AS sqrt_bal,
               CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 5000 THEN 'normal'
                    ELSE 'premium' END AS tier,
               COALESCE(c_mktsegment, 'UNKNOWN') AS segment
        FROM customer
    """,
    "scalar_json_props": """
        SELECT event_id, event_type, CAST(props->>'$.k' AS BIGINT) AS k_val
        FROM events WHERE CAST(props->>'$.k' AS BIGINT) > 50
    """,
    "array_explode": """
        SELECT doc_id, CAST(pos - 1 AS INT) AS pos, word
        FROM (
          SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word,
                 UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) AS pos
          FROM documents WHERE doc_id < 100
        ) WHERE LEN(word) > 0
    """,
    "sql_tpch_q1_like": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
                        (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
                 AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "sql_view_query": """
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY c.c_mktsegment
    """,
}
