package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions.{polyHash, polyHashSql, shinglesSql, tokens}
import graft.operators.{Dedup, Salting}
import graft.functions.HashExpressions.{shingleHashesFast, winnowFast}

/** Relational analytics over the TPC-H-style fixtures — the surface the
  * reference never had (SURVEY §2.2): TPC-H shapes, CUBE / ROLLUP /
  * grouping sets, windows, subqueries, pivots, set operations, salted
  * aggregation, SCD2 history, referential-integrity audits, and the
  * hand-rolled mergeable sketches (HyperLogLog, count-min, Bloom).
  *
  * Every SUM runs over per-row DECIMAL casts, so partition-parallel
  * partial aggregation and DuckDB's single-node sum agree bit for bit;
  * scalar math on aggregates happens after, and outputs are cast to
  * DOUBLE or BIGINT. The sketches hash with the engine's own polyHash,
  * so DuckDB builds bit-identical registers and the accuracy columns
  * are checked numbers, not tolerances. Exact medians select rows
  * instead of interpolating.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary: scan-heavy groupBy with partial aggs.
    *
    * Output-type discipline (the oracle hash compares declared types):
    * sums are exact
    * DECIMAL internally (order-independent across partition-parallel
    * partial aggregation), but the OUTPUT columns are CAST to DOUBLE on
    * both sides — the driver's hash is representation-sensitive and
    * DECIMAL output encodings differ across engines even when values are
    * identical. Decimal→double conversion is deterministic (unscaled
    * values stay far below 2^53 at gate scale, so both engines produce
    * the same correctly-rounded double).
    */
  val q1Pricing: QueryDef = QueryDef.sql(
    "q1_pricing",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(Dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(Dec)).cast("double").as("sum_base"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec)).cast("double").as("sum_disc"),
        count(lit(1)).as("n"))
      .withColumn("avg_qty", col("sum_qty") / col("n"))
      .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base", "sum_disc", "avg_qty", "n")
  }

  /** TPC-H Q3-style: filtered 3-way join, revenue top-10. Customer side is
    * broadcast (segment-filtered dimension); lineitem never shuffles twice.
    */
  val q3TopOrders: QueryDef = QueryDef.sql(
    "q3_top_orders",
    """SELECT o_orderkey, CAST(revenue AS DOUBLE) AS revenue, odate FROM (
      |  SELECT o.o_orderkey,
      |         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS revenue,
      |         CAST(epoch(o.o_orderdate) AS BIGINT) AS odate
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |                 JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  WHERE c.c_mktsegment = 'BUILDING'
      |    AND o.o_orderdate < TIMESTAMP '1998-06-01'
      |    AND l.l_shipdate > TIMESTAMP '1998-06-01'
      |  GROUP BY o.o_orderkey, o.o_orderdate
      |  ORDER BY revenue DESC, o.o_orderkey
      |  LIMIT 10) t""".stripMargin) { (spark, dir) =>
    val cust = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    // customer is SF-scaled (TPC-H: 150k rows PER SF) — no broadcast
    // hint; AQE broadcasts the filtered segment when it measures small
    // and shuffle-joins when it doesn't (a forced broadcast hard-fails
    // at 8 GB long before 100 TB)
    li.join(ord.join(cust, col("c_custkey") === col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec)).as("revenue"))
      .select(col("o_orderkey"), col("revenue"),
        unix_timestamp(col("o_orderdate")).as("odate"))
      // top-10 selection orders on the EXACT decimal; only the surviving
      // rows cast to double (output-type discipline, header comment)
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("revenue").cast("double").as("revenue"), col("odate"))
  }

  /** TPC-H Q5-style: star join through supplier→nation→region (all
    * broadcast dims), revenue per nation.
    */
  val q5RegionRevenue: QueryDef = QueryDef.sql(
    "q5_region_revenue",
    """SELECT n.n_name,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem l
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n.n_name""".stripMargin) { (spark, dir) =>
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val nat = Tables(spark, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables(spark, dir, "region").filter(col("r_name") === "ASIA").select("r_regionkey")
    val ord = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey")
    // supplier is SF-scaled (10k rows per SF) — hint dropped, AQE
    // decides; nation (25) and region (5) are constant-size, hints stay
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
      .join(broadcast(reg), col("r_regionkey") === col("n_regionkey"))
      .groupBy("n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec)).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Window function: top-3 orders per customer by price. */
  val qWindowRank: QueryDef = QueryDef.sql(
    "q_window_rank",
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      // BIGINT like DuckDB's row_number (Spark's is INT)
      .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"))
  }

  /** Semi + anti join: customers with an open order and no finished order. */
  val qSemiAnti: QueryDef = QueryDef.sql(
    "q_semi_anti",
    """SELECT c_mktsegment, count(*) AS n
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY c_mktsegment""".stripMargin) { (spark, dir) =>
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
    val open = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val fin = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    cust.join(open, cust("c_custkey") === open("o_custkey"), "left_semi")
      .join(fin, cust("c_custkey") === fin("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
  }

  /** CUBE over returnflag × linestatus; rollup rows identified by the
    * NULL→'ALL' coalesce (source columns are non-null), which avoids any
    * cross-engine grouping-id bit-order convention.
    */
  val cube: QueryDef = QueryDef.sql(
    "q_cube",
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |       coalesce(l_linestatus, 'ALL') AS lstatus,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(Dec)).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
  }

  /** ROLLUP counterpart of [[cube]] — hierarchical subtotals only
    * (flag, flag×status, grand total), same NULL→'ALL' discipline.
    */
  val rollup: QueryDef = QueryDef.sql(
    "q_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |       coalesce(l_linestatus, 'ALL') AS lstatus,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(Dec)).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
  }

  /** Explicit GROUPING SETS (the generalization CUBE/ROLLUP compile to)
    * with `grouping_id()`: detail, per-flag subtotal, and grand total in
    * one pass. The gid is emitted as explicit `grouping()` bit arithmetic
    * in the oracle so no cross-engine bit-order convention is assumed —
    * Spark's no-arg `grouping_id()` uses the same first-column-is-MSB
    * order over the grouping columns.
    */
  val groupingSets: QueryDef = QueryDef.sql(
    "q_grouping_sets",
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
      |       coalesce(l_linestatus, 'ALL') AS lstatus,
      |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |       count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(Dec)).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("n"), col("sum_qty"))
  }

  /** Approximate distinct counts with the error bound ENCODED IN THE
    * QUERY: the output carries `ok` booleans asserting the HLL++ sketch
    * landed within its documented relative standard deviation (rsd 0.05,
    * checked at 3σ) of the exact count — the oracle asserts the same
    * booleans as literal TRUE, so a sketch drifting out of tolerance
    * fails the hash gate. At 100 TB the approx form is the default (no
    * per-group distinct shuffle, mergeable sketches); the exact twin for
    * reference is [[distinctCounts]] on the same columns.
    */
  val approxDistinct: QueryDef = QueryDef.sql(
    "q_approx_distinct",
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS n_parts_exact,
      |       count(DISTINCT l_suppkey) AS n_supps_exact,
      |       TRUE AS parts_ok,
      |       TRUE AS supps_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    val rsd = 0.05
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts_exact"),
        countDistinct(col("l_suppkey")).as("n_supps_exact"),
        approx_count_distinct(col("l_partkey"), rsd).as("ap"),
        approx_count_distinct(col("l_suppkey"), rsd).as("as_"))
      .select(col("l_returnflag"), col("n_parts_exact"), col("n_supps_exact"),
        (abs(col("ap") - col("n_parts_exact")).cast("double")
          <= col("n_parts_exact") * (3 * rsd)).as("parts_ok"),
        (abs(col("as_") - col("n_supps_exact")).cast("double")
          <= col("n_supps_exact") * (3 * rsd)).as("supps_ok"))
  }

  /** Approximate percentile with the rank-error bound ENCODED IN THE
    * QUERY, like [[approxDistinct]]: `percentile_approx` (accuracy
    * 10000 → rank error ≤ N/10000, an element of the data) must land
    * between the exact p±5% RANK-selected elements computed by the SAME
    * engine — each engine checks its own bounds, the oracle asserts
    * literal TRUE, and a sketch outside the envelope fails the hash
    * gate. The exact envelope rides
    * [[graft.operators.PrefixSum.rowNumber]]: an exact
    * `percentile(...)` aggregate would buffer every
    * (value, count) of its group in ONE reducer's heap, grouped by the
    * 3-value return flag — Θ(corpus/3) state per task, the aggregate
    * form of the hot-group class the q_median window rewrite retired.
    * Element selection at ranks ⌊.45n⌋/⌈.55n⌉/⌊.85n⌋/⌈.95n⌉ bounds the
    * sketch the same way (the sketch's true rank is within n/10000 of
    * target, and sorted order maps rank containment to value
    * containment) with zero per-group state. The exact element-based
    * median twin is `q_median` (same segmented-scan rank path).
    */
  val approxQuantile: QueryDef = QueryDef.sql(
    "q_approx_quantile",
    """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    val t = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    val cnt = t.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    def atRank(r: org.apache.spark.sql.Column, out: String) =
      max(when(col("rn") === r, col("l_extendedprice"))).as(out)
    // envelope AND sketch fold out of ONE pass over the rank frame
    // (which the scan path has already checkpointed): a separate
    // sketch branch would re-scan the fact table a second time
    graft.operators.PrefixSum.rowNumber(t, "l_returnflag",
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc, col("l_linenumber").asc), "rn")
      .join(cnt, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"),
        atRank(greatest((col("n") * 45 / lit(100)).cast("long"), lit(1L)), "p45"),
        atRank(((col("n") * 55 + 99) / lit(100)).cast("long"), "p55"),
        atRank(greatest((col("n") * 85 / lit(100)).cast("long"), lit(1L)), "p85"),
        atRank(((col("n") * 95 + 99) / lit(100)).cast("long"), "p95"),
        // ONE sketch per group (the array-percentage form: separate
        // percentile_approx exprs would build four summaries)
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("a"))
      .select(col("l_returnflag"), col("n"),
        (col("a")(0) >= col("p45") && col("a")(0) <= col("p55")).as("p50_ok"),
        (col("a")(1) >= col("p85") && col("a")(1) <= col("p95")).as("p90_ok"))
  }

  /** Monthly revenue trend: date_trunc bucketing over two years. */
  val monthlyTrend: QueryDef = QueryDef.sql(
    "q_monthly_trend",
    """SELECT CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_ts,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Dec)).cast("double").as("revenue"))
      .select(unix_timestamp(col("m")).as("month_ts"), col("n_orders"), col("revenue"))
  }

  /** Exact distinct cardinalities (the exact counterpart of the
    * approx_count_distinct sketch surface, which has no cross-engine
    * oracle; the sketch variant is exercised in tests with tolerance).
    */
  val distinctCounts: QueryDef = QueryDef.sql(
    "q_distinct_counts",
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
  }

  /** UNION / INTERSECT / EXCEPT composed: customers in two segments,
    * intersected with open-order holders, minus finished-order holders.
    */
  val setOps: QueryDef = QueryDef.sql(
    "q_setops",
    """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      | UNION
      | SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (spark, dir) =>
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders")
    val seg = cust.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .union(cust.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey")))
      .distinct()
    seg.intersect(ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("c_custkey")))
      .except(ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("c_custkey")))
  }

  /** Two-stage salted aggregation — bit-identical to the oracle's plain
    * GROUP BY because the sums are exact decimals (associativity holds).
    */
  val saltedAgg: QueryDef = QueryDef.sql(
    "q_salted_agg",
    """SELECT l_returnflag,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    Salting.saltedSumCount(
      Tables(spark, dir, "lineitem"),
      Seq("l_returnflag"),
      col("l_extendedprice").cast(Dec),
      col("l_orderkey"), nSalts = 16)
      .select(col("l_returnflag"), col("sum_value").cast("double").as("sum_value"), col("n"))
  }

  /** TPC-H Q18 shape: large-quantity orders via HAVING over a 3-way
    * join. The group-then-filter runs BEFORE the customer join in the
    * Spark form — the aggregation shrinks lineitem to order grain and
    * HAVING keeps a handful of rows, so only survivors join customer
    * (broadcast): the join order a 100 TB plan needs, stated
    * declaratively. Quantities sum as BIGINT (integer-valued column) —
    * no decimal in the output schema.
    */
  val bigOrders: QueryDef = QueryDef.sql(
    "q_big_orders",
    """WITH big AS (
      |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
      |SELECT c.c_name, o.o_orderkey, big.total_qty
      |FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey
      |         JOIN customer c ON c.c_custkey = o.o_custkey""".stripMargin) { (spark, dir) =>
    val big = Tables(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300)
    big.join(Tables(spark, dir, "orders"),
        big("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("total_qty"))
  }

  /** TPC-H Q10 shape: revenue lost to returned items per customer over
    * one year, top 20. Plan: lineitem filters on returnflag at the
    * scan; orders filters on the date band at the scan; customer and
    * nation broadcast; one agg shuffle on custkey; the top-20 is
    * TakeOrderedAndProject (revenue DESC, custkey tiebreak).
    */
  val q10Returned: QueryDef = QueryDef.sql(
    "q10_returned",
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |WHERE l.l_returnflag = 'R'
      |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c.c_custkey
      |LIMIT 20""".stripMargin) { (spark, dir) =>
    val l = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    // customer is SF-scaled — no hint (AQE decides); nation is 25 rows
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q6 shape: one-table revenue-change scan — date band +
    * discount band + quantity cap, a single global aggregate. The
    * whole query should be scan + codegen'd filter + partial/final
    * agg with every predicate in PushedFilters; it exists as the
    * canary for pushdown regressions as much as for its number.
    */
  val q6Forecast: QueryDef = QueryDef.sql(
    "q6_forecast",
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast(Dec))
        .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }

  /** TPC-H Q14 shape: promo revenue share — fact join to the part
    * dimension with a conditional aggregate. Part (2k rows at any
    * gate SF; bounded by catalog size, not corpus, at 100 TB)
    * broadcasts; the share is exact DECIMAL over DECIMAL cast to
    * DOUBLE only at the boundary.
    */
  val q14Promo: QueryDef = QueryDef.sql(
    "q14_promo",
    """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |                     THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
      |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin) { (spark, dir) =>
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec)
    // part is SF-scaled (200k rows per SF) — no hint, AQE decides
    l.join(Tables(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(Dec)))
        .cast("double").as("promo_revenue"),
        sum(rev).cast("double").as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Supplier-side revenue rollup (the supplier mirror of Q5's
    * customer-nation path): revenue per supplier nation and region.
    * Nation and region broadcast (constant-size); supplier is SF-scaled
    * so AQE picks its join side; one agg shuffle.
    */
  val qSupplierNation: QueryDef = QueryDef.sql(
    "q_supplier_nation",
    """SELECT n.n_name AS nation, r.r_name AS region,
      |       CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
      |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN region r ON r.r_regionkey = n.n_regionkey
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
      .agg(countDistinct("s_suppkey").as("n_suppliers"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(Dec))
          .cast("double").as("revenue"))
  }

  /** Orders priced above 2x their customer's average order price
    * (correlated scalar subquery; exact decimal average).
    */
  val aboveCustomerAvg: QueryDef = QueryDef.sql(
    "q_above_cust_avg",
    """SELECT o_orderkey
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT 2 * CAST(CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) / count(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)""".stripMargin) { (spark, dir) =>
    // window formulation: one scan + one shuffle on o_custkey, no join,
    // no broadcast of an aggregate table (the groupBy+join shape showed a
    // super-linear step in the 10x scale probe from broadcast growth);
    // identical exact-decimal semantics to the oracle's correlated subquery
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    Tables(spark, dir, "orders")
      .withColumn("threshold",
        lit(2) * sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("decimal(38,4)").cast("double") / count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("threshold"))
      .select("o_orderkey")
  }

  /** Per-customer running revenue, frame = unbounded preceding..current. */
  val runningSum: QueryDef = QueryDef.sql(
    "q_running_sum",
    """SELECT o_custkey, o_orderkey,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
      |            OVER (PARTITION BY o_custkey
      |                  ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS running
      |FROM orders""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        // exact decimal running sum; DOUBLE output (driver-hash discipline)
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("running"))
  }

  /** Exact lower median per group: the value at row floor((n+1)/2) of the
    * deterministic (l_quantity, l_orderkey, l_linenumber) sort. Ranks
    * ride [[graft.operators.PrefixSum.rowNumber]]: a
    * row_number window partitioned by the 3-value return flag puts ~a
    * third of the fact table through ONE task — the #groups parallelism
    * ceiling the packer postmortem measured — where the segmented scan
    * keeps the identical (value, id...) total order at full
    * parallelism. Group counts join back from a flag-sized aggregate
    * (unhinted: AQE broadcasts an enum-sized frame on its real stats).
    */
  val median: QueryDef = QueryDef.sql(
    "q_median",
    """WITH r AS (
      |  SELECT l_returnflag, l_quantity,
      |         row_number() OVER (PARTITION BY l_returnflag
      |                            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag,
      |       max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS median_qty,
      |       max(CASE WHEN rn = (n * 95 + 99) // 100 THEN l_quantity END) AS p95_qty,
      |       max(n) AS n
      |FROM r GROUP BY l_returnflag""".stripMargin) { (spark, dir) =>
    val t = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_orderkey"), col("l_linenumber"))
    val cnt = t.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    graft.operators.PrefixSum.rowNumber(t, "l_returnflag",
        Seq(col("l_quantity").asc, col("l_orderkey").asc, col("l_linenumber").asc), "rn")
      .join(cnt, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        max(when(col("rn") === ((col("n") + 1) / lit(2)).cast("long"), col("l_quantity"))).as("median_qty"),
        max(when(col("rn") === ((col("n") * 95 + 99) / lit(100)).cast("long"), col("l_quantity"))).as("p95_qty"),
        max(col("n")).as("n"))
  }

  /** The remaining ranking/navigation window surface in one query:
    * ntile, percent_rank, cume_dist, lag, lead — per customer over the
    * deterministic (o_orderdate, o_orderkey) order. The tie-free
    * ordering makes every peer group a single row, so the rank-based
    * doubles are the same trivially-exact fractions in both engines;
    * lag/lead emit NULL at the edges (hash-identical).
    */
  val windowFuncs: QueryDef = QueryDef.sql(
    "q_window_funcs",
    """SELECT o_custkey, o_orderkey,
      |       CAST(ntile(4)      OVER w AS BIGINT) AS quartile,
      |       percent_rank()     OVER w AS pr,
      |       cume_dist()        OVER w AS cd,
      |       lag(o_totalprice)  OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
  }

  private val Types = Seq("click", "view", "purchase", "signup", "error")

  val eventPivot: QueryDef = QueryDef.sql(
    "q_pivot", {
      val cases = Types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
        .mkString(",\n       ")
      s"""SELECT user_id,
         |       $cases
         |FROM events GROUP BY user_id""".stripMargin
    }) { (spark, dir) =>
    val pivoted = Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Types)
      .agg(count(lit(1)))
    pivoted.select(col("user_id") +: Types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** The inverse op: a wide per-flag aggregate melted to long form via
    * `Dataset.unpivot` (Spark's native melt — one generated projection,
    * no join). Measures are BIGINT so the shared value column needs no
    * lossy common-type promotion.
    */
  val unpivot: QueryDef = QueryDef.sql(
    "q_unpivot",
    """WITH wide AS (
      |  SELECT l_returnflag, count(*) AS n_items,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, value FROM wide
      |UNPIVOT (value FOR measure IN (n_items, sum_qty, n_orders))""".stripMargin) {
    (spark, dir) =>
    val wide = Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    wide.unpivot(
      Array(col("l_returnflag")),
      Array(col("n_items"), col("sum_qty"), col("n_orders")),
      "measure", "value")
  }

  /** The HyperLogLog estimate `out` per event_type of `types`, from the
    * non-empty registers `reg` (event_type, idx, m) of a 256-register
    * sketch: empty registers read 0, and small cardinalities switch to
    * linear counting. */
  private def hllEstimate(spark: SparkSession, types: DataFrame, reg: DataFrame,
      out: String): DataFrame = {
    val grid = types.distinct()
      .crossJoin(spark.range(256).select(col("id").as("idx")))
    val fullReg = grid.join(reg, Seq("event_type", "idx"), "left")
      .select(col("event_type"), coalesce(col("m"), lit(0)).as("m"))
    val alphaM2 = lit(0.7213) / (lit(1) + lit(1.079) / 256) * 65536
    fullReg.groupBy("event_type")
      .agg(sum(expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")).as("s"),
        count(when(col("m") === 0, 1)).as("v"))
      .select(col("event_type"),
        when(alphaM2 / col("s") <= 640 && col("v") > 0,
          floor(lit(256) * log(lit(256.0) / col("v"))).cast("long"))
          .otherwise(floor(alphaM2 / col("s")).cast("long")).as(out))
  }

  /** The HLL cell of each event: the `keep` columns, `key` = user@day,
    * register `idx` (m = 256) and `rho`, the leading-1 position in a
    * 2^22 window, each from its own square-mixed salted polyhash of the
    * key (see [[hllSketch]] for why). */
  private def hllCells(events: DataFrame, keep: Column*): DataFrame = {
    val key = concat(col("user_id").cast("string"), lit("@"),
      date_format(col("ts"), "yyyy-MM-dd"))
    def sqMix(salt: String) = {
      val x = polyHash(concat(lit(salt), key))
      pmod(x * x, lit(1000000007L))
    }
    events.select(keep ++ Seq(key.as("key"), pmod(sqMix("i#"), lit(256L)).as("idx"),
      when(pmod(sqMix("r#"), lit(4194304L)) === 0, lit(23))
        .otherwise(lit(23) - length(bin(pmod(sqMix("r#"), lit(4194304L))))).as("rho")): _*)
  }

  /** Deterministic HYPERLOGLOG (m=256 registers) per event_type over
    * distinct active user-days, with the published small-range (linear
    * counting) correction — estimate vs exact, error in basis points
    * (measured 0.6-12.7% across types at sf0.01; σ = 1.04/√256 ≈ 6.5%
    * is the published bound). Hash design carries two scars from this
    * repo's own probes: (a) bucket and rho come from SEPARATE salted
    * hashes because one hash's low bits + high bits are coupled, and
    * (b) each is SQUARE-MIXED ((x² mod p); the rendezvous-shard
    * lesson) because two salted polyhashes of the same key differ
    * affinely per length class — squaring adds the x-dependent cross
    * term that decorrelates them. rho counts the leading-zero position
    * inside a 2^22 window (uniform: 2^22 divides into p's range ~239x,
    * so the mod bias is negligible), registers are max(rho).
    * Estimate = α₂₅₆·m²/Σ2^(−M) with α = 0.7213/(1+1.079/256), linear
    * counting m·ln(m/V) below 2.5m with V empty registers — both
    * branches exact-deterministic on integer registers. SCALE: the
    * register build is a (type × 256)-bounded max-aggregate with
    * map-side combine; registers MERGE by max — the distributed-sketch
    * contract: 1000 executors sketch shards, a reduce merges 256
    * bytes; the estimate algebra runs on 5×256 rows.
    */
  val hllSketch: QueryDef = QueryDef.sql(
    "q_hll_sketch",
    s"""WITH k AS (SELECT event_type,
       |                 CAST(user_id AS VARCHAR) || '@' || strftime(ts, '%Y-%m-%d') AS key
       |          FROM events),
       |h AS (SELECT event_type, key,
       |             ${polyHashSql("'i#' || key")} AS xi,
       |             ${polyHashSql("'r#' || key")} AS xr FROM k),
       |r AS (SELECT event_type,
       |             (xi * xi) % 1000000007 % 256 AS idx,
       |             CASE WHEN (xr * xr) % 1000000007 % 4194304 = 0 THEN 23
       |                  ELSE 23 - length(bin((xr * xr) % 1000000007 % 4194304)) END AS rho
       |      FROM h),
       |reg AS (SELECT event_type, idx, max(rho) AS m FROM r GROUP BY 1, 2),
       |grid AS (SELECT DISTINCT event_type FROM events),
       |full_reg AS (SELECT g.event_type, u.idx, coalesce(reg.m, 0) AS m
       |             FROM grid g CROSS JOIN (SELECT unnest(range(0, 256)) AS idx) u
       |             LEFT JOIN reg ON reg.event_type = g.event_type AND reg.idx = u.idx),
       |est0 AS (SELECT event_type,
       |                sum(1.0 / CAST((1::BIGINT << m) AS DOUBLE)) AS s,
       |                count(*) FILTER (WHERE m = 0) AS v
       |         FROM full_reg GROUP BY 1),
       |est AS (SELECT event_type,
       |               CASE WHEN 0.7213 / (1 + 1.079 / 256) * 65536 / s <= 640 AND v > 0
       |                    THEN CAST(floor(256 * ln(256.0 / v)) AS BIGINT)
       |                    ELSE CAST(floor(0.7213 / (1 + 1.079 / 256) * 65536 / s) AS BIGINT)
       |               END AS est
       |        FROM est0),
       |ex AS (SELECT event_type, CAST(count(DISTINCT key) AS BIGINT) AS exact
       |       FROM k GROUP BY 1)
       |SELECT est.event_type, est.est, ex.exact,
       |       CAST((abs(est.est - ex.exact) * 10000) // ex.exact AS BIGINT) AS err_bp
       |FROM est JOIN ex USING (event_type)""".stripMargin) { (spark, dir) =>
    val r = hllCells(Tables.events(spark, dir), col("event_type"))
    val reg = r.groupBy("event_type", "idx").agg(max("rho").as("m"))
    val est = hllEstimate(spark, r.select("event_type"), reg, "est")
    val ex = r.groupBy("event_type").agg(countDistinct("key").as("exact"))
    est.join(ex, "event_type")
      .select(col("event_type"), col("est"), col("exact"),
        expr("abs(est - exact) * 10000 DIV exact").as("err_bp"))
  }

  /** Deterministic COUNT-MIN sketch (d=4 rows × w=512) over document
    * tokens: the sketch counts, then point estimates for the top-10
    * exact tokens with the overcount in basis points (CM guarantees
    * est ≥ exact; the report shows how tight at this width). Salted
    * polyHash rows — both engines build the identical 2048-cell
    * sketch. SCALE: the build is a 2048-bounded count with map-side
    * combine (mergeable by cell-wise SUM across shards); estimation
    * touches 10×4 cells.
    */
  val cmsSketch: QueryDef = QueryDef.sql(
    "q_cms_sketch",
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |cells AS (SELECT r, ${polyHashSql("tok || '|' || CAST(r AS VARCHAR)")} % 512 AS b,
       |                 count(*) AS cnt
       |          FROM tk CROSS JOIN (SELECT unnest(range(0, 4)) AS r) s
       |          GROUP BY 1, 2),
       |ex AS (SELECT tok, count(*) AS exact FROM tk GROUP BY 1
       |       ORDER BY exact DESC, tok LIMIT 10),
       |lu AS (SELECT ex.tok, ex.exact, c.cnt
       |       FROM ex CROSS JOIN (SELECT unnest(range(0, 4)) AS r) s
       |       JOIN cells c ON c.r = s.r
       |         AND c.b = ${polyHashSql("ex.tok || '|' || CAST(s.r AS VARCHAR)")} % 512)
       |SELECT tok, CAST(exact AS BIGINT) AS exact,
       |       CAST(min(cnt) AS BIGINT) AS est,
       |       CAST(((min(cnt) - exact) * 10000) // exact AS BIGINT) AS over_bp
       |FROM lu GROUP BY tok, exact""".stripMargin) { (spark, dir) =>
    val tk = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    val salts = (0 until 4).map(r => struct(lit(r).as("r"),
      pmod(polyHash(concat(col("tok"), lit("|"), lit(r).cast("string"))), lit(512L)).as("b")))
    val cells = tk.select(explode(array(salts: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val ex = tk.groupBy("tok").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok")).limit(10)
    val lu = ex.select(col("tok"), col("exact"), explode(array(salts: _*)).as("rb"))
      .select(col("tok"), col("exact"), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
    lu.groupBy("tok", "exact")
      .agg(min("cnt").as("est"))
      .select(col("tok"), col("exact"), col("est"),
        expr("(est - exact) * 10000 DIV exact").as("over_bp"))
  }

  /** JOIN-KEY SKEW AUDIT on the lineitem⋈orders key — the histogram a
    * planner (or an engineer choosing a salting factor) reads before a
    * 100 TB shuffle join: top-10 heaviest keys with corpus share, plus
    * the max·n_keys/total skew ratio (1.00x = perfectly uniform; the
    * AQE skew-join threshold decision in one number). SCALE: one
    * key-count aggregate with map-side combine + a top-10 heap
    * (TakeOrderedAndProject); the rank window runs on 10 rows.
    */
  val skewAudit: QueryDef = QueryDef.sql(
    "q_skew_audit",
    """WITH kc AS (SELECT l_orderkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_keys,
      |               CAST(max(cnt) AS BIGINT) AS max_cnt FROM kc),
      |top AS (SELECT k, cnt FROM kc ORDER BY cnt DESC, k LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, k) AS BIGINT) AS rank,
      |       k AS l_orderkey, CAST(cnt AS BIGINT) AS cnt,
      |       CAST((cnt * 10000) // total AS BIGINT) AS share_bp,
      |       CAST((max_cnt * n_keys * 100) // total AS BIGINT) AS skew_x100
      |FROM top, tot""".stripMargin) { (spark, dir) =>
    val kc = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cnt"))
    val tot = kc.agg(sum("cnt").cast("long").as("total"),
      count(lit(1)).as("n_keys"), max("cnt").as("max_cnt"))
    val top = kc.orderBy(col("cnt").desc, col("k")).limit(10)
    top.crossJoin(broadcast(tot))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("k"))).cast("long"))
      .select(col("rank"), col("k").as("l_orderkey"), col("cnt"),
        expr("cnt * 10000 DIV total").as("share_bp"),
        expr("max_cnt * n_keys * 100 DIV total").as("skew_x100"))
  }

  /** BLOOM-STYLE PREJOIN AUDIT — the runtime-filter decision priced on
    * real data: build the distinct hash-bucket set (m=65536) of the
    * FILTERED orders side, prefilter lineitem by bucket membership,
    * and compare against the exact semi-join: pass count, true count,
    * false-positive rate among true negatives, and bucket fill. This
    * is the measurement behind "push a bloom filter into the probe
    * side scan" — at fill f the expected FP rate among non-matches is
    * ≈ f, and the report states the realized value. SCALE: the bucket
    * set is a bounded (≤65536-row) broadcast semi-join against the
    * probe scan. The EXACT-truth side joins on the raw selected-order
    * keys — Θ(selected orders), SF-scaled — so it carries no broadcast
    * hint: AQE broadcasts it when it measures small and
    * falls back to a shuffled semi-join when it doesn't.
    */
  val bloomPrejoin: QueryDef = QueryDef.sql(
    "q_bloom_prejoin",
    s"""WITH sel AS (SELECT o_orderkey FROM orders
       |             WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'),
       |bk AS (SELECT DISTINCT ${polyHashSql("CAST(o_orderkey AS VARCHAR)")} % 65536 AS b
       |       FROM sel),
       |li AS (SELECT l_orderkey,
       |              ${polyHashSql("CAST(l_orderkey AS VARCHAR)")} % 65536 AS b
       |       FROM lineitem),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_lineitem FROM li),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pass FROM li
       |       WHERE b IN (SELECT b FROM bk)),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM li
       |       WHERE l_orderkey IN (SELECT o_orderkey FROM sel)),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM bk)
       |SELECT n_lineitem, n_pass, n_true, n_buckets,
       |       CAST((n_buckets * 10000) // 65536 AS BIGINT) AS fill_bp,
       |       CAST(((n_pass - n_true) * 10000)
       |            // greatest(n_lineitem - n_true, 1) AS BIGINT) AS fp_bp
       |FROM n, np, nt, nb""".stripMargin) { (spark, dir) =>
    val sel = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= "2000-01-01 00:00:00")
      .select(col("o_orderkey"))
    val bk = sel.select(pmod(polyHash(col("o_orderkey").cast("string")), lit(65536L)).as("b"))
      .distinct()
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        pmod(polyHash(col("l_orderkey").cast("string")), lit(65536L)).as("b"))
    val n = li.agg(count(lit(1)).as("n_lineitem"))
    val np = li.join(broadcast(bk), Seq("b"), "left_semi").agg(count(lit(1)).as("n_pass"))
    val nt = li.join(sel.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi").agg(count(lit(1)).as("n_true"))
    val nb = bk.agg(count(lit(1)).as("n_buckets"))
    n.crossJoin(np).crossJoin(nt).crossJoin(nb)
      .select(col("n_lineitem"), col("n_pass"), col("n_true"), col("n_buckets"),
        expr("n_buckets * 10000 DIV 65536").as("fill_bp"),
        expr("(n_pass - n_true) * 10000 DIV greatest(n_lineitem - n_true, 1)").as("fp_bp"))
  }

  /** HLL MERGE LAW in the oracle gate: split events into halves by
    * event_id parity, build the q_hll_sketch registers for each half
    * and for the whole stream, max-merge the halves, and report the
    * per-type register diff count against the whole — ZERO rows of
    * disagreement is the mergeability theorem (max is commutative /
    * associative / idempotent) as a driver-verified number, plus the
    * estimate from the whole for context. SCALE: three
    * (type × 256)-bounded register builds + a 256-key merge; this is
    * the exact reduce a 1000-executor fleet runs, priced at
    * aggregate-only cost.
    */
  val hllMerge: QueryDef = QueryDef.sql(
    "q_hll_merge",
    s"""WITH k AS (SELECT event_type, event_id,
       |                 CAST(user_id AS VARCHAR) || '@' || strftime(ts, '%Y-%m-%d') AS key
       |          FROM events),
       |r AS (SELECT event_type, event_id,
       |             (xi * xi) % 1000000007 % 256 AS idx,
       |             CASE WHEN (xr * xr) % 1000000007 % 4194304 = 0 THEN 23
       |                  ELSE 23 - length(bin((xr * xr) % 1000000007 % 4194304)) END AS rho
       |      FROM (SELECT event_type, event_id,
       |                   ${polyHashSql("'i#' || key")} AS xi,
       |                   ${polyHashSql("'r#' || key")} AS xr FROM k)),
       |ra AS (SELECT event_type, idx, max(rho) AS m FROM r WHERE event_id % 2 = 0 GROUP BY 1, 2),
       |rb AS (SELECT event_type, idx, max(rho) AS m FROM r WHERE event_id % 2 = 1 GROUP BY 1, 2),
       |rw AS (SELECT event_type, idx, max(rho) AS m FROM r GROUP BY 1, 2),
       |merged AS (SELECT event_type, idx, max(m) AS m
       |           FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1, 2),
       |diff AS (SELECT w.event_type,
       |                count(*) FILTER (WHERE coalesce(mg.m, -1) <> w.m) AS n_diff,
       |                count(*) AS n_regs
       |         FROM rw w LEFT JOIN merged mg
       |           ON mg.event_type = w.event_type AND mg.idx = w.idx
       |         GROUP BY 1),
       |est0 AS (SELECT g.event_type,
       |                sum(1.0 / CAST((1::BIGINT << coalesce(rw.m, 0)) AS DOUBLE)) AS s,
       |                count(*) FILTER (WHERE coalesce(rw.m, 0) = 0) AS v
       |         FROM (SELECT DISTINCT event_type FROM events) g
       |         CROSS JOIN (SELECT unnest(range(0, 256)) AS idx) u
       |         LEFT JOIN rw ON rw.event_type = g.event_type AND rw.idx = u.idx
       |         GROUP BY 1),
       |est AS (SELECT event_type,
       |               CASE WHEN 0.7213 / (1 + 1.079 / 256) * 65536 / s <= 640 AND v > 0
       |                    THEN CAST(floor(256 * ln(256.0 / v)) AS BIGINT)
       |                    ELSE CAST(floor(0.7213 / (1 + 1.079 / 256) * 65536 / s) AS BIGINT)
       |               END AS est
       |        FROM est0)
       |SELECT d.event_type, CAST(d.n_regs AS BIGINT) AS n_regs,
       |       CAST(d.n_diff AS BIGINT) AS n_reg_diff, est.est AS est_whole
       |FROM diff d JOIN est USING (event_type)""".stripMargin) { (spark, dir) =>
    // q_hll_sketch's cells, with event_id carried through for the
    // parity split
    val r = hllCells(Tables.events(spark, dir), col("event_type"), col("event_id"))
    // SHAPE (guide §2.3/§2.4): ONE corpus pass computes all
    // three register sets as conditional maxes of one (type, idx)
    // aggregate — the half-split registers are max(rho) over the even/
    // odd rows of the SAME group, so ra/rb/rw never needed separate
    // passes (the first cut ran three register builds plus a fourth
    // scan for the type grid — 10 scans / 20 exchanges). The merged
    // register is greatest(ma, mb) per group — the union+re-aggregate
    // disappears. The (types × 256)-bounded frame is materialized once
    // and feeds the diff, the grid, and the estimator (localCheckpoint;
    // single-JVM durability note as per the q_ivf_kmeans site).
    val regs = r.groupBy("event_type", "idx")
      .agg(max(when(col("event_id") % 2 === 0, col("rho"))).as("ma"),
        max(when(col("event_id") % 2 === 1, col("rho"))).as("mb"),
        max(col("rho")).as("m"))
      .localCheckpoint()
    val diff = regs
      .groupBy(col("event_type"))
      .agg(count(when(coalesce(greatest(col("ma"), col("mb")), lit(-1)) =!= col("m"), 1))
          .as("n_diff"),
        count(lit(1)).as("n_regs"))
    val est = hllEstimate(spark, regs.select("event_type"),
      regs.select(col("event_type"), col("idx"), col("m")), "est_whole")
    diff.join(est, "event_type")
      .select(col("event_type"), col("n_regs"), col("n_diff").as("n_reg_diff"),
        col("est_whole"))
  }

  /** Winsorized (percentile-clipped) aggregate — the robust-statistics
    * step a metrics pipeline applies before averaging heavy-tailed
    * values. Clip bounds are NEAREST-RANK percentiles (p05/p95) computed
    * with integer rank arithmetic (`rn·20 ≥ n` ⟺ rank ≥ 0.05·n), not
    * interpolated quantiles — interpolation arithmetic differs across
    * engines, exact order statistics do not. The clipped sum rides the
    * per-row DECIMAL cast (values are 2-decimal doubles, so the cast is
    * exact and the sum order-independent).
    */
  val winsorize: QueryDef = QueryDef.sql(
    "q_winsorize",
    """WITH r AS (SELECT event_type, event_id, value,
      |                  row_number() OVER (PARTITION BY event_type
      |                                     ORDER BY value, event_id) AS rn,
      |                  count(*) OVER (PARTITION BY event_type) AS n
      |           FROM events),
      |b AS (SELECT event_type,
      |             min(CASE WHEN rn * 20 >= n THEN value END) AS lo,
      |             min(CASE WHEN rn * 20 >= n * 19 THEN value END) AS hi
      |      FROM r GROUP BY 1)
      |SELECT e.event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |       CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |       b.lo, b.hi,
      |       CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi) AS DECIMAL(18,4))) AS DOUBLE)
      |         AS clipped_sum
      |FROM events e JOIN b USING (event_type)
      |GROUP BY e.event_type, b.lo, b.hi""".stripMargin) { (spark, dir) =>
    val events = Tables.events(spark, dir)
    // ranks via the segmented scan: a row_number window
    // partitioned by the handful of event types puts each type's whole
    // event stream through one task (the packer-postmortem parallelism
    // ceiling); PrefixSum.rowNumber keeps the identical (value, id)
    // order at full parallelism, and the type-sized count frame joins
    // back unhinted (AQE broadcasts it on its real stats)
    val et = events.select(col("event_type"), col("event_id"), col("value"))
    val cnt = et.groupBy("event_type").agg(count(lit(1)).as("n"))
    val b = graft.operators.PrefixSum.rowNumber(et, "event_type",
        Seq(col("value").asc, col("event_id").asc), "rn")
      .join(cnt, "event_type")
      .groupBy("event_type")
      .agg(min(when(col("rn") * 20 >= col("n"), col("value"))).as("lo"),
        min(when(col("rn") * 20 >= col("n") * 19, col("value"))).as("hi"))
    events.join(b, "event_type")
      .groupBy("event_type", "lo", "hi")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1).otherwise(0)).cast("long").as("n_lo"),
        sum(when(col("value") > col("hi"), 1).otherwise(0)).cast("long").as("n_hi"),
        sum(least(greatest(col("value"), col("lo")), col("hi"))
          .cast("decimal(18,4)")).cast("double").as("clipped_sum"))
      .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
        col("lo"), col("hi"), col("clipped_sum"))
  }

  /** FK AUDIT — for each declared child->parent edge (lineitem->
    * orders, orders->customer, customer->nation): child rows, distinct
    * child keys, ORPHAN rows (child keys absent from the parent — the
    * rows an inner join silently drops), max and mean fan-out over
    * matched parents (the skew number that prices the join). SCALE:
    * per edge, one key-distinct aggregate on each side + one anti-join
    * count; parents of the outer edges are broadcast-sized. The audit
    * is the cheap pass that catches a truncated dimension load before
    * a 100-TB fact join multiplies the damage.
    */
  val fkAudit: QueryDef = QueryDef.sql(
    "q_fk_audit",
    """WITH e1 AS (
      |  SELECT 'lineitem->orders' AS rel, count(*) AS n_child,
      |         count(DISTINCT l.l_orderkey) AS n_keys,
      |         count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |f1 AS (SELECT max(c) AS mx, sum(c) AS sc, count(*) AS np FROM (
      |       SELECT count(*) AS c FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |       GROUP BY l.l_orderkey) g),
      |e2 AS (
      |  SELECT 'orders->customer' AS rel, count(*) AS n_child,
      |         count(DISTINCT o.o_custkey) AS n_keys,
      |         count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
      |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
      |f2 AS (SELECT max(c) AS mx, sum(c) AS sc, count(*) AS np FROM (
      |       SELECT count(*) AS c FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |       GROUP BY o.o_custkey) g),
      |e3 AS (
      |  SELECT 'customer->nation' AS rel, count(*) AS n_child,
      |         count(DISTINCT c.c_nationkey) AS n_keys,
      |         count(*) FILTER (WHERE n.n_nationkey IS NULL) AS n_orphans
      |  FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey),
      |f3 AS (SELECT max(c) AS mx, sum(c) AS sc, count(*) AS np FROM (
      |       SELECT count(*) AS c FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      |       GROUP BY c.c_nationkey) g)
      |SELECT rel, CAST(n_child AS BIGINT) AS n_child,
      |       CAST(n_keys AS BIGINT) AS n_keys,
      |       CAST(n_orphans AS BIGINT) AS n_orphans,
      |       CAST(mx AS BIGINT) AS max_fanout,
      |       CAST(sc * 100 // np AS BIGINT) AS avg_fanout_x100
      |FROM (SELECT * FROM e1, f1 UNION ALL
      |      SELECT * FROM e2, f2 UNION ALL
      |      SELECT * FROM e3, f3) u""".stripMargin) { (spark, dir) =>
    // SHAPE (guide §2.4): ONE left join per edge feeds the
    // whole audit — per-key counts first (a key's left-join rows are
    // its inner-join fan-out when matched, its orphan rows when not;
    // the two are never mixed because equal keys match equal parent
    // sets), then a 1-row fold. The first cut ran TWO joins per edge
    // (orphan pass + fan-out pass), each re-scanning both sides — 24
    // scans / 42 exchanges across the 3-edge union.
    def edge(rel: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame = {
      val j = child.join(parent, child(ck) === parent(pk), "left")
      val g = j.groupBy(child(ck).as("k"))
        .agg(count(lit(1)).as("n"), count(when(parent(pk).isNull, 1)).as("n_null"))
      // coalesce(. , 0): on an EMPTY child table sum() over zero groups
      // is NULL where the oracle's keyless count(*) is 0 — the fold must
      // preserve the empty-table contract
      g.agg(coalesce(sum(col("n")), lit(0L)).as("n_child"),
          count(col("k")).as("n_keys"),
          coalesce(sum(col("n_null")), lit(0L)).as("n_orphans"),
          max(when(col("n_null") === 0, col("n"))).as("mx"),
          sum(when(col("n_null") === 0, col("n"))).as("sc"),
          count(when(col("n_null") === 0, 1)).as("np"))
        .select(lit(rel).as("rel"), col("n_child"), col("n_keys"),
          col("n_orphans"), col("mx").as("max_fanout"),
          expr("sc * 100 DIV np").as("avg_fanout_x100"))
    }
    def t(n: String): DataFrame = Tables(spark, dir, n)
    edge("lineitem->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey")
      .unionByName(edge("orders->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey"))
      .unionByName(edge("customer->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey"))
  }

  /** SKETCH STORAGE — measured unit counts and byte budgets for every
    * derived index tier this engine maintains: MinHash signatures
    * (8 perms x 8 B/doc), SimHash (8 B/doc), the winnowed fingerprint
    * index (8 B per selected fingerprint), the exact shingle postings
    * (16 B per (doc, shingle) entry), int8 vectors (dim + 8 B scale)
    * and PQ codes (4 B/vec). The ratios are the load-bearing numbers:
    * postings vs winnow is the exact-vs-sampled dedup storage trade
    * this round measured end to end, and raw-float vs int8 vs PQ is
    * the serving-layout ladder. All counts come from one documents
    * pass (codegen kernels) and one embeddings count — the byte
    * algebra is exact integers on both engines. SCALE: two scans, two
    * 1-row aggregates, a 6-row output at any corpus size.
    */
  val sketchStorage: QueryDef = QueryDef.sql(
    "q_sketch_storage",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 1, 1))) AS pos, toks FROM tk),
       |hrow AS (SELECT doc_id, pos,
       |                ${graft.functions.TextFunctions.polyHashSql(
                          "array_to_string(list_slice(toks, pos, pos + 2), ' ')")} AS h
       |         FROM sh),
       |hs AS (SELECT doc_id, list(h ORDER BY pos) AS h FROM hrow GROUP BY doc_id),
       |wins AS (SELECT doc_id,
       |                CASE WHEN len(h) >= 4
       |                     THEN list_transform(range(1, len(h) - 2),
       |                                         j -> list_min(list_slice(h, j, j + 3)))
       |                     ELSE [list_min(h)] END AS w
       |         FROM hs),
       |d AS (SELECT count(*) AS n_docs FROM documents),
       |p AS (SELECT count(*) AS n_postings FROM (SELECT DISTINCT doc_id, h FROM hrow) x),
       |wf AS (SELECT sum(len(list_distinct(w))) AS n_fp FROM wins),
       |v AS (SELECT count(*) AS n_vecs, max(len(embedding)) AS dim FROM embeddings)
       |SELECT tier, CAST(n_units AS BIGINT) AS n_units, CAST(bytes AS BIGINT) AS bytes
       |FROM (
       |  SELECT 'minhash_sigs' AS tier, d.n_docs AS n_units, d.n_docs * 64 AS bytes FROM d
       |  UNION ALL SELECT 'simhash', d.n_docs, d.n_docs * 8 FROM d
       |  UNION ALL SELECT 'winnow_index', wf.n_fp, wf.n_fp * 8 FROM wf
       |  UNION ALL SELECT 'shingle_postings', p.n_postings, p.n_postings * 16 FROM p
       |  UNION ALL SELECT 'int8_vectors', v.n_vecs, v.n_vecs * (v.dim + 8) FROM v
       |  UNION ALL SELECT 'pq_codes', v.n_vecs, v.n_vecs * 4 FROM v) u""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val toks = tokens(col("text"))
    val per = Tables(spark, dir, "documents")
      .select(size(shingleHashesFast(toks, 3)).cast("long").as("np"),
        size(winnowFast(toks, 3, 4)).cast("long").as("nf"))
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("np"), lit(0L)).as("n_postings"),
        sum("nf").as("n_fp"))
    val v = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vecs"), max(size(col("embedding"))).cast("long").as("dim"))
    val counts = per.crossJoin(broadcast(v)).head()
    // over no documents or vectors the oracle's sum and max are NULL,
    // and so is every size derived from them
    def opt(i: Int): Option[Long] = if (counts.isNullAt(i)) None else Some(counts.getLong(i))
    val (nd, np, nf, nv, dim) = (counts.getLong(0), counts.getLong(1), opt(2),
      counts.getLong(3), opt(4))
    Seq(
      ("minhash_sigs", Some(nd), Some(nd * 64)),
      ("simhash", Some(nd), Some(nd * 8)),
      ("winnow_index", nf, nf.map(_ * 8)),
      ("shingle_postings", Some(np), Some(np * 16)),
      ("int8_vectors", Some(nv), dim.map(d => nv * (d + 8))),
      ("pq_codes", Some(nv), Some(nv * 4))
    ).toDF("tier", "n_units", "bytes")
  }

  /** SCD2 CHANGE HISTORY — the type-2 slowly-changing-dimension build
    * every CDC/incremental-ingest pipeline runs: collapse each user's
    * event stream to its STATE CHANGES (consecutive-duplicate
    * elimination on `event_type`) and emit validity intervals
    * [valid_from, valid_to) with an open-ended current row. The
    * complement of `q_latest_event` (latest-wins compaction): this
    * keeps the full history a training-data snapshot query needs to
    * reconstruct "state as of t".
    *
    * SCALE: two windows over the SAME (user_id; ts, event_id)
    * partitioning — one exchange, the second window rides the first's
    * sort (no re-shuffle, no re-sort). user_id is a row-identity-scale
    * key, so per-task state is one user's events — the sessionize
    * class, never a corpus funnel. Timestamps exported as epoch-µs
    * BIGINT (the ledger's cross-engine timestamp convention).
    */
  val scd2History: QueryDef = QueryDef.sql(
    "q_scd2_history",
    """WITH o AS (SELECT user_id, event_id, ts, event_type,
      |                  lag(event_type) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS prev
      |           FROM events),
      |c AS (SELECT user_id, event_id, ts, event_type FROM o
      |      WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id, event_type,
      |             CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
      |             CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
      |                                          ORDER BY ts, event_id)) AS BIGINT)
      |               AS valid_to_us
      |      FROM c)
      |SELECT user_id, event_type, valid_from_us, valid_to_us,
      |       CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("valid_to_ts")).as("valid_to_us"),
        when(col("valid_to_ts").isNull, 1L).otherwise(0L).as("is_current"))
  }

  val all: Seq[QueryDef] = Seq(
    q1Pricing, q3TopOrders, q5RegionRevenue, qWindowRank, qSemiAnti, cube, rollup, groupingSets,
    approxDistinct, approxQuantile, monthlyTrend, distinctCounts, setOps, saltedAgg, bigOrders,
    q10Returned, q6Forecast, q14Promo, qSupplierNation, aboveCustomerAvg, runningSum, median,
    windowFuncs, eventPivot, unpivot, hllSketch, cmsSketch, skewAudit, bloomPrejoin, hllMerge,
    winsorize, fkAudit, sketchStorage, scd2History)
}
