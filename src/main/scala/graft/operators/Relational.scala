package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql

/** The batch relational surface of the engine — the declarative
  * re-expression of the reference's hand-built Flink join tree
  * (reference: main/DataFlow.java:37-58) plus the standard operator
  * categories a complete engine needs (SURVEY.md §2 checklist).
  *
  * Design notes for scale (local[32] here, 1000 executors at 100 TB):
  *  - `nation`/`region` are broadcast explicitly — a 25-row dim must
  *    never shuffle the fact side.
  *  - Filters are declared before joins so Catalyst pushes them into
  *    the parquet scan (`PushedFilters` in explain); at 100 TB the
  *    date-range + returnflag predicates drop ~90% of bytes read when
  *    the data is date-partitioned.
  *  - Aggregates run as partial (map-side) + final HashAggregate —
  *    free from Catalyst, unlike the reference's single-level keyed
  *    state (Q10AggregateProcessFunction.java:16).
  *  - All money sums are rounded at 2dp in BOTH engines so the oracle
  *    compare is robust to summation-order float noise.
  */
object Relational {

  // Reference predicate shape: o_orderdate ∈ [start, end)
  // (Q10OrdersProcessFunction.java:41-45) — constants shifted into the
  // synthetic data's 1995..2001 date range.
  private val dateLo = "1996-01-01"
  private val dateHi = "1996-04-01"

  /** ONE oracle for the absence twins (batch anti interval join and
    * the streamed timer machine) — shared so the "same oracle" claim
    * is structural, not copy-paste. */
  private val absenceOracle =
    """SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS click_us
        |FROM events c
        |WHERE c.event_type = 'click' AND NOT EXISTS (
        | SELECT 1 FROM events p
        | WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |  AND epoch_us(p.ts) > epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 86400000000)""".stripMargin

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.types.DecimalType

  /** Money-sum that is bit-identical between Spark and DuckDB: the
    * per-row product of 2dp columns is an exact `scale`-dp decimal, so
    * summing in DECIMAL is exact and order-independent (double sums are
    * NOT — partial-aggregate order varies run to run). Round 2, back to
    * double. Oracle mirror: CAST(ROUND(SUM(CAST(e AS DECIMAL(18,s))),2) AS DOUBLE).
    */
  /** Exact SUM of a NON-NEGATIVE fixed-point expression whose true
    * value has ≤ `scale` decimals: scale each row to an integer with
    * `floor(x·10^s + 0.5)` (half-up for non-negatives; the +0.5 also
    * absorbs the double representation error of e.g. 36.00·100 =
    * 3599.999…), SUM as BIGINT (exact, order-independent), then ONE
    * per-group decimal conversion + round(2) + double cast. Measured
    * 3.5× faster than per-row DECIMAL summation (sf0.1 Q1: 1.7 s →
    * 0.5 s) with identical output in both engines. Long capacity
    * bounds it at ~9e18/10^s absolute sum — beyond that (or for
    * expressions that can go negative, where floor-half-up flips
    * direction) use [[decSumSigned]]. */
  private def decSum(c: Column, scale: Int): Column = {
    val pow = math.pow(10, scale).toLong
    val frac = new java.math.BigDecimal(java.math.BigInteger.ONE, scale) // 10^-scale
    round(sum(floor(c * pow + lit(0.5))).cast(DecimalType(28, 0)) * lit(frac), 2)
      .cast("double")
  }

  /** Oracle-SQL mirror of [[decSum]] (DuckDB dialect = shared ANSI). */
  private def decSumSql(e: String, scale: Int): String = {
    val pow = math.pow(10, scale).toLong
    val frac = new java.math.BigDecimal(java.math.BigInteger.ONE, scale).toPlainString
    s"CAST(ROUND(CAST(SUM(CAST(FLOOR(($e) * $pow + 0.5) AS BIGINT)) AS DECIMAL(28,0)) * $frac, 2) AS DOUBLE)"
  }

  /** Sign-safe decimal summation (per-row DECIMAL cast — slower; use
    * only where the summand can be negative). */
  private def decSumSigned(c: Column, scale: Int): Column =
    round(sum(c.cast(DecimalType(18, scale))), 2).cast("double")

  /** Exact per-row decimal snap (no rounding ambiguity — the true value
    * has at most `scale` decimals). Oracle: CAST(CAST(e AS DECIMAL(18,s)) AS DOUBLE). */
  private def decCol(c: Column, scale: Int): Column =
    c.cast(DecimalType(18, scale)).cast("double")

  /** TPC-H Q10 (the reference's one continuous query, SURVEY.md §0) as
    * a batch DataFrame pipeline, with the ORDER BY/LIMIT the reference
    * left out. Join order follows the FK tree nation→customer→orders→
    * lineitem; Catalyst/AQE may reorder, which is fine for batch.
    */
  def q10(s: SparkSession, dir: String): DataFrame = {
    val nation   = Tables.nation(s, dir)
    val customer = Tables.customer(s, dir)
    val orders   = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= to_timestamp(lit(dateLo)) &&
              col("o_orderdate") <  to_timestamp(lit(dateHi)))
    val lineitem = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")                  // Q10LineitemProcessFunction.java:38-41
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    s"""SELECT c_custkey, c_name,
       | ${decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
       | c_acctbal, n_name
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** Purchases ⋈ clicks of the same user within the preceding hour as
    * a native stream-stream interval join of type `joinType`, both
    * sides watermarked: the click and purchase events replay ts-sorted
    * in two micro-batches, and an outer join gets two more, each with
    * a far-future row on an unused key per side. The first moves both
    * watermarks past all real data; outer null-extensions emit on the
    * FOLLOWING trigger, which the second forces. Returns the memory
    * sink `sink`. */
  private def streamStreamJoin(s: SparkSession, d: String, entry: String, sink: String,
      joinType: String): DataFrame = {
    import graft.streaming.IncrementalQueries.{boundedReplayCollect, replay, MemorySink}
    import s.implicits._
    val collected = boundedReplayCollect(entry,
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), (col("event_type") === "click").as("isClick"),
          col("event_id"))
        .as[(Long, java.sql.Timestamp, Boolean, Long)])
      .sortBy(e => (e._2.getTime, e._4)).toSeq
    val (first, second) = collected.splitAt(collected.length / 2)
    val flush = if (joinType == "inner") Nil else (0 until 2).map { i =>
      val far = java.sql.Timestamp.valueOf(s"203$i-01-01 00:00:00")
      Seq(Seq((-1L, far, -1L)), Seq((-1L, far, -1L)))
    }
    val batches = Seq(first, second).map { b =>
      Seq(b.filter(_._3), b.filterNot(_._3)).map(_.map(e => (e._1, e._2, e._4)))
    } ++ flush
    replay(s, MemorySink(sink), batches) { (_, in) =>
      val clicks = in(0).toDF("c_user", "click_ts", "click_id")
        .withWatermark("click_ts", "2 hours")
      val purchases = in(1).toDF("user_id", "purchase_ts", "purchase_id")
        .withWatermark("purchase_ts", "2 hours")
      purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"),
        joinType)
    }
  }

  val defs: Seq[GraftQuery] = Seq(
    sql("q10_flagship", q10Oracle)(q10),

    // S2 projection at parse (DataFlow.java:88-89): column pruning must
    // reach the scan — ReadSchema shows only these 4 columns.
    sql("scan_project",
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem") {
      (s, d) => Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    // J2 local predicate (Q10OrdersProcessFunction.java:41-45).
    sql("filter_date_range",
      s"""SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice FROM orders
         |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '1997-01-01'""".stripMargin) {
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(dateLo)) &&
                col("o_orderdate") <  to_timestamp(lit("1997-01-01")))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    },

    // J3 local predicate (Q10LineitemProcessFunction.java:38-41).
    sql("filter_string_eq",
      "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity FROM lineitem WHERE l_returnflag = 'R'") {
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    },

    // J1: nation ⋈ customer on NATIONKEY (Q10CustomerProcessFunction.java).
    // nation is tiny → broadcast; no shuffle of customer at any scale.
    sql("join_nation_customer",
      """SELECT c_custkey, c_name, c_acctbal, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin) {
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    },

    // J2 join edge: customer ⋈ orders on CUSTKEY.
    sql("join_customer_orders",
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey""".stripMargin) {
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
    },

    // J3 join edge: orders ⋈ lineitem on ORDERKEY — the big shuffle at
    // scale; both sides hash-partition on orderkey, AQE coalesces.
    sql("join_orders_lineitem",
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderdate, l_extendedprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin) {
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderdate", "l_extendedprice")
    },

    // The full acyclic FK join tree pre-aggregation (the reference's
    // join view whose deltas J3 emits, Q10LineitemProcessFunction.java:77-116).
    sql("join_tree_full",
      s"""SELECT l_orderkey, l_linenumber, c_custkey, n_name,
         | CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS net_price
         |FROM customer, orders, lineitem, nation
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         | AND c_nationkey = n_nationkey
         | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         | AND l_returnflag = 'R'""".stripMargin) {
      (s, d) =>
        val orders = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit(dateLo)) &&
                  col("o_orderdate") <  to_timestamp(lit(dateHi)))
        val lineitem = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(orders, col("c_custkey") === col("o_custkey"))
          .join(lineitem, col("o_orderkey") === col("l_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("c_custkey"), col("n_name"),
            decCol(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net_price"))
    },

    // Beyond the reference's 4-table tree: a TPC-H-Q5-flavored 4-hop
    // join through the OTHER branch of the star (region→nation→
    // supplier→lineitem) — region/nation broadcast, supplier/lineitem
    // shuffle-joined on suppkey.
    sql("q5_like_supplier_revenue",
      s"""SELECT n_name,
        | ${decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
        | COUNT(*) AS n_items
        |FROM region, nation, supplier, lineitem
        |WHERE n_regionkey = r_regionkey AND s_nationkey = n_nationkey
        | AND l_suppkey = s_suppkey AND r_name IN ('ASIA', 'EUROPE')
        |GROUP BY n_name""".stripMargin) {
      (s, d) =>
        val region = Tables.region(s, d).filter(col("r_name").isin("ASIA", "EUROPE"))
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))),
            col("s_nationkey") === col("n_nationkey"))
          .join(Tables.lineitem(s, d), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"))
          .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
            count(lit(1)).as("n_items"))
    },

    // part ⋈ lineitem brand rollup — the dimension-broadcast pattern on
    // the part branch.
    sql("part_brand_agg",
      s"""SELECT p_brand, ${decSumSql("l_quantity", 2)} AS sum_qty, COUNT(*) AS n
        |FROM part, lineitem WHERE p_partkey = l_partkey
        |GROUP BY p_brand""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(decSum(col("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // J0 set-semantics dedup (Q10NationProcessFunction.java:41-57) as
    // batch DISTINCT.
    sql("dedup_distinct",
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer") {
      (s, d) => Tables.customer(s, d).select("c_nationkey", "c_mktsegment").distinct()
    },

    // A1 grouped SUM generalized (TPC-H Q1 shape): partial+final
    // HashAggregate, map-side combine — contrast with the reference's
    // single-level keyed state.
    sql("agg_sum_groupby",
      s"""SELECT l_returnflag, l_linestatus,
        | ${decSumSql("l_quantity", 2)} AS sum_qty,
        | ${decSumSql("l_extendedprice", 2)} AS sum_base_price,
        | ${decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
        | FLOOR(CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
        |   / COUNT(*) * 10000 + 0.5) / 10000 AS avg_qty,
        | COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity"), 2).as("sum_qty"),
          decSum(col("l_extendedprice"), 2).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          // avg via the exact scaled-long sum → identical double in both
          // engines, then a floor-based round (bit-deterministic, unlike
          // ROUND on a double).
          (floor(sum(floor(col("l_quantity") * 100 + lit(0.5))).cast("double") / lit(100.0)
            / count(lit(1)) * lit(10000) + lit(0.5)) / lit(10000)).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // Distinct aggregate (absent in reference — completeness).
    sql("agg_count_distinct",
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin) {
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
    },

    // Approximate distinct via the KMV bottom-k sketch — the SCALE
    // path next to agg_count_distinct's exact shuffle: state is k
    // longs per (group, partition) regardless of cardinality
    // (functions/KmvDistinctAgg). The oracle replays the estimator
    // closed-form on the identical md5-derived hash, so this
    // APPROXIMATE aggregate still sits behind the exact value-hash
    // gate — determinism makes the sketch auditable.
    sql("agg_kmv_distinct",
      graft.functions.KmvDistinctAgg.oracleSql(
        table = "orders",
        groupCols = Seq("o_orderstatus"),
        hashSql = "('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT",
        k = 64, estAlias = "approx_cust")) {
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.KmvDistinctAgg.kmv_distinct(
          conv(substring(md5(to_binary(col("o_custkey").cast("string"), lit("utf-8"))), 1, 15),
            16, 10).cast("long"), 64).as("approx_cust"))
    },

    // Rollup (multi-level aggregation).
    sql("agg_rollup",
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) {
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // Sort + limit (absent in reference even though Q10 specifies it).
    // Tie-break on the PK so the top-k cut is deterministic.
    sql("topk_orderby_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) {
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // Set op: union (inverse of the reference's side-output demux,
    // DataFlow.java:21-24).
    sql("union_all",
      """SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d).select("event_id", "event_type", "value")
        ev.filter(col("event_type") === "click")
          .unionAll(ev.filter(col("event_type") === "purchase"))
    },

    // INTERSECT / EXCEPT — set semantics (dedup built in); Spark plans
    // both as aggregated semi/anti joins, one shuffle per side.
    sql("set_intersect",
      """SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
        o.filter(col("o_totalprice") > 150000).select("o_custkey")
          .intersect(o.filter(col("o_orderdate") >= lit("1996-01-01")).select("o_custkey"))
    },

    // customers with a finished order but no open one — picked so the
    // sf0.01 gate has a NON-EMPTY expected result (46 rows): a 0=0 gate
    // would also pass an operator that returns nothing for everything.
    sql("set_except",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    },

    // CUBE — all grouping-set combinations in one pass (Expand + agg).
    sql("agg_cube",
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) {
      (s, d) => Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // Semi join — the reference's "liveness" propagation is semantically
    // an existential semijoin from parent to child (SURVEY.md §2 joins row).
    sql("semi_join",
      s"""SELECT c_custkey, c_name FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |  AND o.o_orderdate >= TIMESTAMP '$dateLo' AND o.o_orderdate < TIMESTAMP '$dateHi')""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit(dateLo)) &&
                  col("o_orderdate") <  to_timestamp(lit(dateHi)))
        Tables.customer(s, d)
          .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
    },

    // Anti join (NOT EXISTS) — complement of semi_join over the same
    // date window so the result is non-empty and value-checked.
    sql("anti_join",
      s"""SELECT c_custkey, c_name FROM customer c
         |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
         |  AND o.o_orderdate >= TIMESTAMP '$dateLo' AND o.o_orderdate < TIMESTAMP '$dateHi')""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit(dateLo)) &&
                  col("o_orderdate") <  to_timestamp(lit(dateHi)))
        Tables.customer(s, d)
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
    },

    // Outer join (absent in reference — completeness).
    sql("left_outer_join",
      """SELECT n_nationkey, n_name, s_suppkey, s_name
        |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey""".stripMargin) {
      (s, d) => Tables.nation(s, d)
        .join(Tables.supplier(s, d), col("n_nationkey") === col("s_nationkey"), "left_outer")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
    },

    // Full outer join — both unmatched sides survive with NULLs. The
    // probe filters make both sides partial (customers outside the
    // window, orders of excluded customers), so null-padding is
    // exercised in BOTH directions.
    sql("full_outer_join",
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0),
        |o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_custkey
        |FROM c FULL JOIN o ON c.c_custkey = o.o_custkey""".stripMargin) {
      (s, d) =>
        val c = Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
          .select("c_custkey", "c_name")
        val o = Tables.orders(s, d).filter(col("o_orderkey") % 100 === 0)
          .select("o_orderkey", "o_custkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select("c_custkey", "c_name", "o_orderkey", "o_custkey")
    },

    // Window function: ranking within a partition (absent in reference).
    sql("window_rank",
      """SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
        | SELECT c_nationkey, c_custkey, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk
        | FROM customer) t WHERE rk <= 3""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
            row_number().over(w).as("rk"))
          .filter(col("rk") <= 3)
    },

    // Window function: running (analytic frame) aggregate.
    sql("window_running_sum",
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double").as("running_value"))
    },

    // BOUNDED sliding frame — the moving average, completing the frame
    // vocabulary next to the unbounded running sum: ROWS BETWEEN 3
    // PRECEDING AND CURRENT ROW per user in event order. The mean
    // folds DECIMAL-exact cents over the (≤4-row) frame and divides by
    // the frame COUNT once, so the double output is a single IEEE
    // division of exact integers in both engines.
    sql("window_moving_avg",
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS DOUBLE)
        |   / COUNT(*) OVER w / 100.0 AS moving_avg,
        | COUNT(*) OVER w AS frame_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        | ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-3, Window.currentRow)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            (sum(round(col("value") * 100, 0).cast("long")).over(w).cast("double")
              / count(lit(1)).over(w) / lit(100.0)).as("moving_avg"),
            count(lit(1)).over(w).as("frame_n"))
    },

    // Offset window functions (lag/lead/ntile) — inter-row sequence
    // analytics over the same per-user event ordering; the gap to the
    // previous event and the position of the next complete the window
    // vocabulary next to rank and running frames. Deterministic
    // ordering tie-break on event_id, integer outputs throughout.
    sql("window_lag_lead",
      """SELECT event_id, user_id,
        | lag(event_id) OVER w AS prev_event,
        | lead(event_id) OVER w AS next_event,
        | CAST(coalesce(epoch_us(ts) - epoch_us(lag(ts) OVER w), -1) AS BIGINT) AS micros_since_prev,
        | ntile(4) OVER w AS session_quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            lag(col("event_id"), 1).over(w).as("prev_event"),
            lead(col("event_id"), 1).over(w).as("next_event"),
            coalesce(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)),
              lit(-1L)).cast("long").as("micros_since_prev"),
            ntile(4).over(w).as("session_quartile"))
    },

    // The reference's scalar expression vocabulary in one projection
    // (SURVEY.md §2 "Scalar expressions"): arithmetic, date parts,
    // string slice/concat/compare, casts.
    sql("scalar_exprs",
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6)) AS DOUBLE) AS charge,
        | CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
        | SUBSTRING(l_returnflag || l_linestatus, 1, 2) AS flag_status,
        | UPPER(l_returnflag) = 'R' AS is_return,
        | CAST(l_quantity AS BIGINT) AS qty_int
        |FROM lineitem""".stripMargin) {
      (s, d) => Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        decCol(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 6).as("charge"),
        year(col("l_shipdate")).cast("bigint").as("ship_year"),
        substring(concat(col("l_returnflag"), col("l_linestatus")), 1, 2).as("flag_status"),
        (upper(col("l_returnflag")) === "R").as("is_return"),
        col("l_quantity").cast("bigint").as("qty_int"))
    },

    // Changelog fold as signed-delta aggregation (A1's retraction-correct
    // form, SURVEY.md §2 A1 Spark mapping): '+' events add, '-' events
    // retract; built-in sum over signed deltas IS retraction handling.
    // Tumbling event-time window aggregation — the SAME builder serves
    // batch (watermark no-op; what the oracle checks here) and
    // readStream (watermark-bounded state, late-data fencing; see
    // StreamingSpec "watermarked tumbling windows").
    sql("events_tumbling_window",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, d) => graft.streaming.StreamingAnalytics.tumblingAgg(Tables.events(s, d))
    },

    // SLIDING windows (width 1 h, slide 30 min — each event lands in
    // exactly 2 windows). The oracle mirrors Spark's epoch-aligned
    // window starts by bucketing each event twice: a 1-hour window
    // starting at w contains t iff w ∈ {bucket30(t), bucket30(t)−30min}.
    // Same builder serves readStream (watermark bounds per-window
    // state; Expand fan-out happens map-side, before the shuffle).
    sql("events_sliding_window",
      """SELECT ws AS window_start, event_type, COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
        | UNION ALL
        | SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value
        | FROM events)
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => graft.streaming.StreamingAnalytics.slidingAgg(Tables.events(s, d))
    },

    // OHLC BARS (open/high/low/close) — the market-data rollup, and
    // the showcase for the struct-extreme idiom: open/close are
    // first/last values by (ts, event_id), computed as MIN/MAX over a
    // packed (ts, event_id, value) struct inside ONE hash aggregate —
    // no window, no per-bar sort, map-side combinable (each partition
    // reduces to one partial per bar before the shuffle). The oracle
    // spells the identical (ts, event_id) order as two ROW_NUMBER
    // cuts; event_id uniqueness makes both deterministic.
    sql("events_ohlc_bars",
      """WITH t AS (
        | SELECT time_bucket(INTERVAL '1 hour', ts) AS bar_hour, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |    ORDER BY ts, event_id) AS ra,
        |  ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |    ORDER BY ts DESC, event_id DESC) AS rd
        | FROM events)
        |SELECT bar_hour, event_type,
        | MAX(CASE WHEN ra = 1 THEN value END) AS open_value,
        | MAX(CASE WHEN rd = 1 THEN value END) AS close_value,
        | MIN(value) AS low_value, MAX(value) AS high_value,
        | COUNT(*) AS n_events
        |FROM t GROUP BY bar_hour, event_type""".stripMargin) {
      (s, d) =>
        val pack = struct(col("ts"), col("event_id"), col("value"))
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("bar_hour"), col("event_type"))
          .agg(
            min(pack).getField("value").as("open_value"),
            max(pack).getField("value").as("close_value"),
            min(col("value")).as("low_value"),
            max(col("value")).as("high_value"),
            count(lit(1)).as("n_events"))
    },

    // MAD OUTLIER DETECTION — the robust anomaly rule (median ± k·MAD
    // survives the outliers it hunts, unlike mean ± k·σ): both the
    // median and the median-absolute-deviation are SELECTION-based
    // discrete medians (inverted-CDF over per-(type, value) counts via
    // PARTITIONED cumulative windows — the same cut rule as the
    // maintained QUANTILE_DISC aggregate), so the entire detector is
    // deterministic cross-engine: selections pick existing doubles,
    // |v − med| and 3·MAD are single correctly-rounded IEEE ops.
    sql("events_mad_outliers",
      """WITH med AS (SELECT event_type, quantile_disc(value, 0.5) AS med
        |             FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(value - med) AS adev, med
        |        FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_disc(adev, 0.5) AS mad
        |        FROM dev GROUP BY 1)
        |SELECT dev.event_type, max(dev.med) AS med_value, max(mad) AS mad_value,
        | CAST(COUNT(CASE WHEN adev > 3 * mad THEN 1 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY dev.event_type""".stripMargin) {
      (s, d) =>
        def discMedian(df: org.apache.spark.sql.DataFrame, valCol: String,
                       out: String): org.apache.spark.sql.DataFrame = {
          val pv = df.groupBy(col("event_type"), col(valCol).as("__v"))
            .agg(count(lit(1)).as("__n"))
          val part = Window.partitionBy(col("event_type"))
          val cum = part.orderBy(col("__v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          pv.withColumn("__cum", sum(col("__n")).over(cum))
            .withColumn("__tot", sum(col("__n")).over(part))
            .filter(col("__cum") * 2 >= col("__tot"))
            .groupBy(col("event_type")).agg(min(col("__v")).as(out))
        }
        val ev = Tables.events(s, d).select(col("event_type"), col("value"))
        val med = discMedian(ev, "value", "med")
        val dev = ev.join(med, "event_type")
          .select(col("event_type"), abs(col("value") - col("med")).as("adev"),
            col("med"))
        val mad = discMedian(dev, "adev", "mad")
        dev.join(mad, "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("med")).as("med_value"), max(col("mad")).as("mad_value"),
            count(when(col("adev") > lit(3) * col("mad"), 1)).as("n_outliers"))
    },

    // The CONTINUOUS sliding window — the slidingAgg builder (Expand
    // fan-out map-side, each event in exactly 2 windows) over real
    // micro-batches with the sentinel flush; same oracle text as
    // events_sliding_window.
    sql("events_sliding_stream",
      """SELECT ws AS window_start, event_type, COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value FROM events
        | UNION ALL
        | SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type, value
        | FROM events)
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_sliding_stream",
          Tables.events(s, d)
            .select(col("ts"), col("event_type"), col("value"))
            .as[(java.sql.Timestamp, String, Double)])
        val ev = collected.sortBy(_._1.getTime).toSeq
        replay(s, MemorySink("events_sliding_stream_sink"),
            halves(ev, (FlushTs, "__sentinel", 0.0))) { (_, in) =>
          graft.streaming.StreamingAnalytics.slidingAgg(
            in.head.toDF("ts", "event_type", "value"), delay = "1 second")
        }.filter(col("event_type") =!= "__sentinel")
    },

    // The CONTINUOUS tumbling window behind the hash gate: the same
    // tumblingAgg builder the batch entry runs, but over real
    // micro-batches (ts-sorted replay in two batches + a far-future
    // sentinel to flush every window in append mode — an emitted
    // window's end is behind the watermark, so batch placement cannot
    // change any bar). Same oracle text as events_tumbling_window:
    // stream/batch parity for the windowed-aggregation core.
    sql("events_tumbling_stream",
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_tumbling_stream",
          Tables.events(s, d)
            .select(col("ts"), col("event_type"), col("value"))
            .as[(java.sql.Timestamp, String, Double)])
        val ev = collected.sortBy(_._1.getTime).toSeq
        replay(s, MemorySink("events_tumbling_stream_sink"),
            halves(ev, (FlushTs, "__sentinel", 0.0))) { (_, in) =>
          graft.streaming.StreamingAnalytics.tumblingAgg(
            in.head.toDF("ts", "event_type", "value"), delay = "1 second")
        }.filter(col("event_type") =!= "__sentinel")
    },

    // GROUPING SETS — the explicit form of rollup/cube (one Expand +
    // one aggregate pass; no re-scan per set).
    sql("agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin) {
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
    },

    // PIVOT — long-to-wide on a known value set (each pivot column is
    // a conditional aggregate inside ONE pass; na.fill(0) matches
    // SQL's COUNT-over-empty-set = 0 where a combination is absent).
    sql("orders_pivot",
      """SELECT o_orderpriority,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        | COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        |FROM orders GROUP BY o_orderpriority""".stripMargin) {
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
    },

    // Q3-LIKE shipping priority — the third canonical TPC-H shape
    // beside Q10 and the Q5-like: segment-filtered customers ⋈ orders
    // ⋈ lineitem with date predicates on BOTH fact tables, grouped by
    // (order, date, priority), top-10 by revenue. Exact e4-scaled
    // revenue fold; deterministic cut via the unique o_orderkey
    // tie-break.
    sql("q3_like_shipping_priority",
      """SELECT o_orderkey, revenue_e4,
        | CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority
        |FROM (
        | SELECT o.o_orderkey,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
        |  o.o_orderdate, o.o_orderpriority
        | FROM customer c, orders o, lineitem l
        | WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
        |  AND l.l_orderkey = o.o_orderkey
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        | GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority) t
        |ORDER BY revenue_e4 DESC, o_orderkey LIMIT 10""".stripMargin) {
      (s, d) =>
        val cut = "1995-03-15"
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
          .join(Tables.orders(s, d).filter(col("o_orderdate") < lit(cut))
            .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d).filter(col("l_shipdate") > lit(cut))
            .select("l_orderkey", "l_extendedprice", "l_discount"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg((sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))) * 10000).cast("long").as("revenue_e4"))
          .orderBy(col("revenue_e4").desc, col("o_orderkey")).limit(10)
          .select(col("o_orderkey"), col("revenue_e4"),
            col("o_orderdate").cast("string").as("o_orderdate"), col("o_orderpriority"))
    },

    // Q18-LIKE large-volume customers — the fourth canonical TPC-H
    // shape beside Q10/Q5/Q3: a grouped-HAVING subquery over the fact
    // table qualifying heavy-hitter orders, feeding the customer⋈
    // orders join. The qualifier is computed ONCE (map-side-combined
    // aggregate on l_orderkey, exact e2-scaled integer quantities) and
    // since it groups by the same key the outer query needs, it
    // CARRIES the aggregate — no TPC-H-style second scan/re-aggregate
    // of lineitem. The qualifier set is tiny by construction (orders
    // above the quantity cut), so both remaining joins broadcast: at
    // 100 TB this is one shuffle (the lineitem aggregate) + two
    // broadcast probes, no fact-table re-shuffle.
    sql("q18_like_big_orders",
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        | CAST(o.o_orderdate AS VARCHAR) AS o_orderdate,
        | CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        | t.total_qty_e2
        |FROM customer c, orders o,
        | (SELECT l_orderkey,
        |   CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_qty_e2
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 25000) t
        |WHERE o.o_orderkey = t.l_orderkey AND c.c_custkey = o.o_custkey
        |ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin) {
      (s, d) =>
        val big = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            floor(col("l_quantity") * 100 + lit(0.5)).cast("long").as("q"))
          .groupBy(col("l_orderkey")).agg(sum(col("q")).as("total_qty_e2"))
          .filter(col("total_qty_e2") > 25000)
        val bigOrders = Tables.orders(s, d)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "total_qty_e2")
        Tables.customer(s, d).select("c_custkey", "c_name")
          .join(broadcast(bigOrders), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("string").as("o_orderdate"),
            decCol(col("o_totalprice"), 2).as("o_totalprice"),
            col("total_qty_e2"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },

    // MARKET-BASKET co-occurrence — part pairs bought in the same
    // order (the association-mining staple): a self equi-join on
    // l_orderkey with p1 < p2. BOUNDED blow-up by construction: an
    // order has at most 7 lineitems, so the per-key product is ≤ 21
    // pairs — the join key itself caps the fan-out, no salting needed
    // (contrast the dedup blockers, where length buckets require it).
    // Support threshold keeps the output the frequent tail.
    sql("basket_part_pairs",
      """SELECT p1, p2, support FROM (
        | SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
        | FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2) t
        |WHERE support >= 2""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
        val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2"))
        a.join(b, col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
    },

    // ASSOCIATION RULES from the pairs — p1 ⇒ p2 with support and
    // confidence: confidence = support(p1,p2)/orders(p1), emitted both
    // directions (a rule per antecedent), scaled to an e6 INTEGER by
    // integer division so the ranking metric is exact in both engines
    // (the raw ratio stays derivable; the gated value cannot drift).
    // Item supports come from ONE aggregate over lineitem; the rule
    // join is antecedent-keyed equi.
    sql("basket_rules",
      """WITH pairs AS (
        | SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
        | FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2),
        |freq AS (SELECT p1, p2, support FROM pairs WHERE support >= 2),
        |items AS (
        | SELECT l_partkey AS item, COUNT(DISTINCT l_orderkey) AS n_orders
        | FROM lineitem GROUP BY 1),
        |rules AS (
        | SELECT p1 AS antecedent, p2 AS consequent, support FROM freq
        | UNION ALL
        | SELECT p2, p1, support FROM freq)
        |SELECT r.antecedent, r.consequent, r.support,
        | (r.support * 1000000) // i.n_orders AS confidence_e6
        |FROM rules r JOIN items i ON i.item = r.antecedent""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
        val b = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2"))
        val freq = a.join(b, col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        val items = li.groupBy(col("l_partkey").as("item"))
          .agg(countDistinct(col("l_orderkey")).as("n_orders"))
        val rules = freq.select(col("p1").as("antecedent"), col("p2").as("consequent"),
            col("support"))
          .unionAll(freq.select(col("p2"), col("p1"), col("support")))
        rules.join(items, col("item") === col("antecedent"))
          .select(col("antecedent"), col("consequent"), col("support"),
            expr("(support * 1000000) div n_orders").as("confidence_e6"))
    },

    // UNPIVOT — the inverse wide-to-long reshape next to orders_pivot:
    // the pivoted (priority × status-count) frame melts back to
    // (priority, status, n) rows via Spark's native unpivot
    // (LogicalPlan Expand, one pass, no join/union re-scan); the
    // oracle mirrors with per-status CTE rows through UNION ALL over
    // the SAME pivoted CTE. Round-trip shape: pivot ∘ unpivot =
    // the original grouped counts.
    sql("orders_unpivot",
      """WITH p AS (
        | SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
        | FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, n FROM (
        | SELECT o_orderpriority, 'F' AS status, F AS n FROM p
        | UNION ALL SELECT o_orderpriority, 'O', O FROM p
        | UNION ALL SELECT o_orderpriority, 'P', P FROM p) u
        |WHERE n IS NOT NULL""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("F", "O", "P"))
          .unpivot(Array(col("o_orderpriority")), Array(col("F"), col("O"), col("P")),
            "status", "n")
    },

    // JSON extraction (SURVEY §2 marks array/map/json functions ABSENT
    // in the reference — completeness): typed path lookup from the
    // events.props JSON column, with a missing path yielding NULL in
    // both engines.
    sql("events_json_extract",
      """SELECT event_id, event_type,
        | CAST(props->>'$.k' AS BIGINT) AS k,
        | CAST(props->>'$.missing' AS BIGINT) AS miss
        |FROM events""".stripMargin) {
      (s, d) => Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.missing").cast("long").as("miss"))
    },

    // The SAME extraction through Spark 4's VARIANT type — the
    // semi-structured columnar encoding that replaces
    // string-JSON-per-row parsing: parse ONCE into the binary variant
    // (at 100 TB you store the variant column and never re-parse),
    // then typed `variant_get` path access, plus an aggregation
    // straight off the extracted value to show the type composes.
    // Missing paths are NULL (try semantics). Same oracle family as
    // the string twin.
    sql("events_variant_extract",
      """SELECT event_type,
        | CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
        | COUNT(CAST(props->>'$.missing' AS BIGINT)) AS n_missing_present,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_type"), parse_json(col("props")).as("v"))
          .select(col("event_type"),
            try_variant_get(col("v"), "$.k", "bigint").as("k"),
            try_variant_get(col("v"), "$.missing", "bigint").as("miss"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("k_sum"),
            count(col("miss")).as("n_missing_present"),
            count(lit(1)).as("n"))
    },

    // Sessionization: 30-minute-gap sessions via lag + running sum of
    // session-start markers — the standard scalable shape (two window
    // passes over the same user partitioning, ONE shuffle total).
    // NB oracle: DuckDB's windowed SUM over INTEGER yields HUGEINT while
    // Spark's sum(int) window yields BIGINT — cast the oracle output so
    // the driver's value hash compares like-for-like (same convention as
    // window_running_sum above).
    sql("events_sessionize",
      """SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id FROM (
        | SELECT event_id, user_id,
        |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM (
        |  SELECT event_id, user_id, ts,
        |   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events) t) s""".stripMargin) {
      (s, d) =>
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val prev = lag(col("ts"), 1).over(byUser)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            when(prev.isNull ||
              unix_micros(col("ts")) - unix_micros(prev) > 1800L * 1000000L, 1)
              .otherwise(0).as("is_new"))
          .select(col("event_id"), col("user_id"),
            sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("session_id"))
    },

    // As-of join — for each purchase, the user's latest click at or
    // before it (AsOfJoin scaladoc explains the union-window shape;
    // DuckDB oracles it with native ASOF LEFT JOIN). Clicks are
    // deduped to one per (user, ts) so the match is deterministic.
    sql("events_asof_join",
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.click_id AS asof_click_id, c.ts AS asof_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        AsOfJoin.asOfLeft(purchases, clicks, keyCols = Seq("user_id"), ts = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id"), col("asof_ts").as("asof_click_ts"))
    },

    // As-of join with a TOLERANCE — the staleness-bounded enrichment
    // (kdb aj's tolerance, pandas merge_asof(tolerance=...)): a click
    // more than 1 hour before the purchase is no context at all, so
    // the match reverts to the NULL extension. Same one-shuffle
    // union-window plan as events_asof_join — the bound is one
    // codegen'd conditional on the already-selected latest match, NOT
    // a range join. DuckDB oracles it as native ASOF LEFT JOIN with a
    // post-CASE on the match age.
    sql("events_asof_tolerance",
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        | CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.click_id END AS asof_click_id,
        | CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.ts END AS asof_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        AsOfJoin.asOfLeft(purchases, clicks, keyCols = Seq("user_id"), ts = "ts",
            tolerance = Some((l, r) =>
              unix_micros(l) - unix_micros(r) <= 3600L * 1000000L))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_click_id"), col("asof_ts").as("asof_click_ts"))
    },

    // The CONTINUOUS as-of join behind the hash gate: the same
    // purchases-to-latest-click enrichment, but run through
    // StreamingAnalytics.streamAsOfJoin as real micro-batches (events
    // split into two ts-ordered batches — the watermark advances
    // between them, so early lefts finalize while later ones buffer —
    // plus a far-future sentinel on an unused key to flush the tail).
    // Same DuckDB ASOF oracle as events_asof_join, so any divergence
    // between the streaming operator and batch semantics fails the
    // hash. Equal-ts click dedup falls out of the operator's
    // larger-id tie rule (the batch query's max() pre-agg).
    sql("events_asof_stream",
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, c.click_id AS asof_click_id, c.ts AS asof_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{streamAsOfJoin, AsOfIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        // Unlike the other stream-gated entries (which collect small
        // CHANGELOGS), this one replays a TABLE — boundedReplayCollect
        // is the guard. The production operator is watermark-bounded
        // readStream → StreamingAnalytics.streamAsOfJoin; this harness
        // exists to put it behind the batch ASOF oracle.
        val collected = boundedReplayCollect("events_asof_stream",
          Tables.events(s, d)
            .filter(col("event_type").isin("click", "purchase"))
            .select(col("user_id"), col("ts"), (col("event_type") === "click").as("isRight"),
              col("event_id"))
            .as[(Long, java.sql.Timestamp, Boolean, Long)])
        val ev = collected.map(r => AsOfIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        // sentinel: unused key far past every event, flushes the tail
        replay(s, MemorySink("events_asof_stream_sink"),
            halves(ev, AsOfIn(-1L, FlushTs, isRight = false, id = -1L))) {
          (_, in) => streamAsOfJoin(in.head, delay = "1 second")
        }.filter(col("key") >= 0)
          .select(col("left_id").as("event_id"), col("key").as("user_id"),
            col("left_ts").as("ts"), col("asof_id").as("asof_click_id"),
            col("asof_ts").as("asof_click_ts"))
    },

    // NATIVE stream-stream INTERVAL JOIN behind the hash gate — the
    // one Structured Streaming join operator the surface had not yet
    // gated: purchases ⋈ clicks of the same user within the preceding
    // hour, BOTH sides unbounded streams with watermarks bounding the
    // buffered state (the production attribution-join shape; contrast
    // events_asof_join, where one side is a lookup). Inner stream-
    // stream joins emit eagerly on match, so results are complete
    // once both replays drain; the watermark exists to evict state,
    // not to trigger output — eviction is provably safe here because
    // the ts-ordered two-batch replay keeps every batch-2 purchase's
    // 1-hour click lookback inside the retained horizon. Oracle: the
    // identical batch interval join.
    sql("events_stream_stream_join",
      """SELECT p.event_id AS purchase_id, p.user_id,
        | p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
        |FROM events p JOIN events c
        | ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) {
      (s, d) =>
        streamStreamJoin(s, d, "events_stream_stream_join", "events_ss_join_sink", "inner")
          .select(col("purchase_id"), col("user_id"),
            col("purchase_ts"), col("click_id"), col("click_ts"))
    },

    // Stream-stream LEFT OUTER interval join — the attribution join
    // that must also report UNATTRIBUTED purchases: a left row's NULL
    // extension can only emit once the watermark proves no matching
    // click can still arrive, which is exactly the semantics the
    // batch LEFT JOIN oracle pins. Two sentinel rounds close the tail
    // (the first advances both watermarks past all real data; outer
    // null-extensions emit on the FOLLOWING trigger, which the second
    // sentinel forces — the classic outer-join flush gotcha).
    sql("events_stream_stream_left",
      """SELECT p.event_id AS purchase_id, p.user_id,
        | p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) {
      (s, d) =>
        streamStreamJoin(s, d, "events_stream_stream_left", "events_ss_left_sink", "leftOuter")
          .filter(col("user_id") >= 0)
          .select(col("purchase_id"), col("user_id"),
            col("purchase_ts"), col("click_id"), col("click_ts"))
    },

    // Stream-stream FULL OUTER interval join — completes the
    // stream-stream family (inner / left / full): unattributed
    // purchases AND orphan clicks both null-extend once the watermark
    // proves their window closed. Same double-sentinel tail flush;
    // the user key coalesces from whichever side is present.
    sql("events_stream_stream_full",
      """SELECT p.event_id AS purchase_id,
        | COALESCE(p.user_id, c.user_id) AS user_id,
        | p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) {
      (s, d) =>
        streamStreamJoin(s, d, "events_stream_stream_full", "events_ss_full_sink", "fullOuter")
          .filter(coalesce(col("user_id"), col("c_user")) >= 0)
          .select(col("purchase_id"),
            coalesce(col("user_id"), col("c_user")).as("user_id"),
            col("purchase_ts"), col("click_id"), col("click_ts"))
    },

    // NATIVE streaming session windows behind the hash gate: the same
    // 30-minute-gap sessions as events_sessionize, but aggregated to
    // session level and computed by Spark's session_window operator
    // over real micro-batches (events replayed ts-sorted in two
    // batches + a far-future sentinel on an unused key to flush the
    // tail). Determinism of the append-mode output: a session emits
    // only once the watermark passes its end (last ts + gap); with a
    // ts-sorted replay every later event has ts >= the current batch
    // max > that end, so an emitted session can never have merged a
    // later event — batch-boundary placement cannot change the
    // result. Oracle = the lag/running-sum sessionize rolled up per
    // session (both engines put a gap of EXACTLY 30 minutes in the
    // same session). The sentinel's own session never finalizes
    // (nothing advances the watermark past it) and is filtered
    // defensively.
    sql("events_session_window_stream",
      """WITH s AS (
        | SELECT user_id, ts,
        |  SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM (
        |  SELECT event_id, user_id, ts,
        |   CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events) t)
        |SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL '30 minutes' AS session_end,
        | count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_session_window_stream",
          Tables.events(s, d)
            .select(col("user_id"), col("ts"))
            .as[(Long, java.sql.Timestamp)])
        val ev = collected.sortBy(r => (r._2.getTime, r._1)).toSeq
        replay(s, MemorySink("events_session_window_sink"), halves(ev, (-1L, FlushTs))) {
          (_, in) => in.head.toDF("user_id", "ts")
            .withWatermark("ts", "1 second")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("user_id"), col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"), col("n_events"))
        }.filter(col("user_id") >= 0)
    },

    // STREAMING exact dedup behind the hash gate: the continuous twin
    // of dedup_distinct — dropDuplicates over a replayed event stream
    // emits each key's FIRST occurrence, so the keys-only output is
    // exactly DISTINCT regardless of arrival order. State is one row
    // per distinct key (bounded by key cardinality, not stream
    // length); for time-bounded state use dropDuplicatesWithinWatermark
    // (spec-asserted in StreamingSpec), whose late-arrival re-emits
    // would break exact-DISTINCT parity here.
    sql("events_stream_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_stream_dedup",
          Tables.events(s, d)
            .select(col("user_id"), col("event_type"))
            .as[(Long, String)])
        replay(s, MemorySink("events_stream_dedup_sink"), halves(collected.toSeq)) {
          (_, in) => in.head.toDF("user_id", "event_type")
            .dropDuplicates("user_id", "event_type")
        }
    },

    // STREAMING CEP behind the hash gate: the strict-contiguity
    // view NEXT click NEXT purchase pattern as an incremental per-key
    // state machine (StreamingAnalytics.streamPatternMatch — the
    // engine's answer to Flink CEP, which Spark does not ship), gated
    // against the SAME two-LEAD window oracle as the batch twin
    // events_pattern_match. The replay sends ALL event types (any
    // intervening event must break contiguity — filtering the stream
    // would change the semantics), ts-sorted in two micro-batches so
    // the watermark advances between them: early events finalize and
    // match while later ones buffer; a far-future sentinel on an
    // unused key flushes the tail. Any divergence between the state
    // machine and the batch window semantics fails the hash.
    sql("events_pattern_stream", TimeSeries.patternMatchOracle) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{streamPatternMatch, PatIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_pattern_stream",
          Tables.events(s, d)
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
            .as[(Long, java.sql.Timestamp, String, Long)])
        val ev = collected.map(r => PatIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        replay(s, MemorySink("events_pattern_stream_sink"), halves(ev, PatIn(-1L, FlushTs, "view", -1L)),
            tws = false) {
          (_, in) => streamPatternMatch(in.head, delay = "1 second", windowUs = 86400000000L)
        }.filter(col("user_id") >= 0)
    },

    // The SAME CEP view through Spark 4's transformWithState —
    // pending/tail as typed ListStates in RocksDB, the
    // re-finalization wake-up as a real per-key timer. Third
    // implementation (window query / flatMap machine /
    // StatefulProcessor), one two-LEAD oracle.
    sql("events_pattern_tws", TimeSeries.patternMatchOracle) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{twsPatternMatch, PatIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_pattern_tws",
          Tables.events(s, d)
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
            .as[(Long, java.sql.Timestamp, String, Long)])
        val ev = collected.map(r => PatIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        replay(s, MemorySink("events_pattern_tws_sink"), halves(ev, PatIn(-1L, FlushTs, "view", -1L)),
            tws = true) {
          (_, in) => twsPatternMatch(in.head, delay = "1 second", windowUs = 86400000000L)
        }.filter(col("user_id") >= 0)
    },

    // STREAM-STATIC enrichment join — the most common production
    // streaming shape: an unbounded event stream joined per
    // micro-batch against a STATIC dimension (here a user→cohort
    // lookup derived deterministically from customer). Stateless by
    // construction — the static side broadcasts into every batch, no
    // state store, no watermark needed for the join itself — which is
    // why it is THE first join a pipeline reaches for before
    // stream-stream machinery. Gated against the identical batch
    // join, replayed in two micro-batches: batch boundaries must not
    // change the enriched set.
    sql("events_stream_static_join",
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |WHERE e.event_type IN ('purchase', 'signup')""".stripMargin) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_stream_static_join",
          Tables.events(s, d)
            .filter(col("event_type").isin("purchase", "signup"))
            .select(col("event_id"), col("user_id"), col("event_type"))
            .as[(Long, Long, String)])
          .sortBy(_._1).toSeq
        replay(s, MemorySink("events_stream_static_sink"), halves(collected)) { (ss, in) =>
          val static = Tables.customer(ss, d)
            .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          in.head.toDF("event_id", "user_id", "event_type")
            .join(broadcast(static), col("c_custkey") === col("user_id"))
            .select("event_id", "user_id", "event_type", "segment")
        }
    },

    // ABSENCE as a batch anti interval join — clicks with NO purchase
    // by the same user within the following 24 h (cart abandonment /
    // missed-SLA shape). One LEFT ANTI hash join on user_id with the
    // interval as residual; at scale the purchase side prunes to the
    // watched window before the shuffle. The streamed twin
    // (events_absence_stream) must fire these SAME alerts from a
    // per-key TIMER instead of a join.
    sql("events_absence_join", absenceOracle) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("click_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pus"))
        clicks.join(purchases,
            col("user_id") === col("pu") &&
              col("pus") > col("click_us") &&
              col("pus") <= col("click_us") + 86400000000L,
            "left_anti")
          .select("user_id", "click_id", "click_us")
    },

    // STREAMING ABSENCE behind the hash gate — the alerting shape no
    // streaming join can express (an alert fires on the PASSAGE OF
    // TIME past a deadline, not on a row's arrival; Flink CEP's
    // notFollowedBy+within): StreamingAnalytics.streamAbsenceAlerts
    // decides each click only once the watermark passes its deadline
    // (so a straggler purchase inside the window can still clear it)
    // and fires quiet keys through the event-time timeout. Same anti
    // interval-join oracle as the batch twin — a timer that fires
    // early, late, or twice fails the hash.
    sql("events_absence_stream", absenceOracle) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{streamAbsenceAlerts, PatIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_absence_stream",
          Tables.events(s, d)
            .filter(col("event_type").isin("click", "purchase"))
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
            .as[(Long, java.sql.Timestamp, String, Long)])
        val ev = collected.map(r => PatIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        replay(s, MemorySink("events_absence_stream_sink"), halves(ev, PatIn(-1L, FlushTs, "click", -1L)),
            tws = false) {
          (_, in) => streamAbsenceAlerts(in.head, delay = "1 second", windowUs = 86400000000L)
        }.filter(col("user_id") >= 0)
    },

    // The SAME absence view through Spark 4's transformWithState —
    // typed ListState columns in a RocksDB store and REAL per-key
    // timers (handleExpiredTimer) instead of flatMapGroupsWithState's
    // single timeout slot. Third implementation, same
    // anti-interval-join oracle: batch join ≡ flatMap state machine ≡
    // StatefulProcessor, or the hash fails.
    sql("events_absence_tws", absenceOracle) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{twsAbsenceAlerts, PatIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_absence_tws",
          Tables.events(s, d)
            .filter(col("event_type").isin("click", "purchase"))
            .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
            .as[(Long, java.sql.Timestamp, String, Long)])
        val ev = collected.map(r => PatIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        replay(s, MemorySink("events_absence_tws_sink"), halves(ev, PatIn(-1L, FlushTs, "click", -1L)),
            tws = true) {
          (_, in) => twsAbsenceAlerts(in.head, delay = "1 second", windowUs = 86400000000L)
        }.filter(col("user_id") >= 0)
    },

    // RFM SEGMENTATION — the classic customer-value matrix (recency /
    // frequency / monetary), each axis cut into quartiles over a
    // fully deterministic ordering (metric, then custkey — a tie can
    // never straddle a boundary nondeterministically), the segment
    // label a 3-digit concat. The oracle spells the cut as NTILE(4)
    // OVER (ORDER BY ...); the Spark side does NOT — an unpartitioned
    // window is a single-task total sort, and customer cardinality
    // grows linearly with the corpus. Instead each axis runs
    // DistributedRank.withNtile: sampled range repartition +
    // per-partition row_number + broadcast offsets (every stage
    // partitioned), then the NTILE bucket arithmetic on the exact
    // global rank — bit-identical to the window definition. Metrics
    // are exact integers: day = epoch-day of the last order, money
    // in e2.
    sql("customer_rfm_segments",
      """WITH m AS (
        | SELECT o_custkey,
        |  MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS money_e2
        | FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, last_day, n_orders, money_e2,
        | CAST(r || f || mo AS VARCHAR) AS rfm FROM (
        | SELECT o_custkey, last_day, n_orders, money_e2,
        |  NTILE(4) OVER (ORDER BY last_day DESC, o_custkey) AS r,
        |  NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
        |  NTILE(4) OVER (ORDER BY money_e2 DESC, o_custkey) AS mo
        | FROM m) t""".stripMargin) {
      (s, d) =>
        val m = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")).as("last_day"),
            count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("money_e2"))
        val r = DistributedRank.withNtile(m, "r", 4,
          col("last_day").desc, col("o_custkey"))
        val f = DistributedRank.withNtile(r, "f", 4,
          col("n_orders").desc, col("o_custkey"))
        val mo = DistributedRank.withNtile(f, "mo", 4,
          col("money_e2").desc, col("o_custkey"))
        mo.select(col("o_custkey"), col("last_day"), col("n_orders"), col("money_e2"),
            concat(col("r").cast("string"), col("f").cast("string"),
              col("mo").cast("string")).as("rfm"))
    },

    // Retention cohorts — the classic growth-analytics matrix: cohort
    // = a user's first active DATE, k = days since cohort, value =
    // how many of the cohort's users were active on day k. Two
    // hash-aggregates and one equi-join, both sides derived from the
    // same distinct (user, day) frame (exchange reuse); at 100 TB the
    // distinct user-day frame is the only shuffle that scales with
    // data, and it partitions on user_id.
    sql("events_retention_cohorts",
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY user_id)
        |SELECT f.cohort, CAST(date_diff('day', f.cohort, a.d) AS BIGINT) AS k,
        | COUNT(*) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        val a = Tables.events(s, d)
          .select(col("user_id"), col("ts").cast("date").as("d")).distinct()
        val f = a.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
        a.join(f, Seq("user_id"))
          .select(col("cohort"), datediff(col("d"), col("cohort")).cast("long").as("k"))
          .groupBy(col("cohort"), col("k"))
          .agg(count(lit(1)).as("n_users"))
    },

    // Exact interpolated percentiles — Spark percentile_cont and DuckDB
    // quantile_cont share the linear-interpolation definition, so the
    // doubles match bit-for-bit. (A sort-based exact aggregate; at
    // 100 TB prefer approx_percentile, which has no cross-engine
    // oracle and is deliberately not registered here.)
    sql("events_percentiles",
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95, quantile_cont(value, 0.99) AS p99
        |FROM events GROUP BY 1""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
            expr("percentile_cont(0.95) WITHIN GROUP (ORDER BY value)").as("p95"),
            expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY value)").as("p99"))
    },

    // Funnel analysis — ordered-stage conversion per user (the
    // product-analytics staple): a user converts through
    // click → view → purchase when each stage's FIRST occurrence
    // follows the previous stage's. One hash-aggregate computes the
    // three first-occurrence times (min over a conditional — map-side
    // combinable), and the stage comparisons are a projection; no
    // window, no self-join, one shuffle on user_id.
    sql("events_funnel",
      """WITH f AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        | FROM events GROUP BY user_id)
        |SELECT user_id,
        | (t_click IS NOT NULL) AS reached_click,
        | (t_click IS NOT NULL AND t_view IS NOT NULL AND t_view > t_click) AS reached_view,
        | (t_click IS NOT NULL AND t_view IS NOT NULL AND t_view > t_click
        |  AND t_purchase IS NOT NULL AND t_purchase > t_view) AS reached_purchase
        |FROM f""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "click", col("ts"))).as("t_click"),
            min(when(col("event_type") === "view", col("ts"))).as("t_view"),
            min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
          .select(col("user_id"),
            col("t_click").isNotNull.as("reached_click"),
            (col("t_click").isNotNull && col("t_view").isNotNull &&
              col("t_view") > col("t_click")).as("reached_view"),
            (col("t_click").isNotNull && col("t_view").isNotNull &&
              col("t_view") > col("t_click") && col("t_purchase").isNotNull &&
              col("t_purchase") > col("t_view")).as("reached_purchase"))
    },

    // TIME-BOUNDED funnel — the attribution-window variant: each stage
    // must occur within ONE HOUR of the previous stage's time, and the
    // stage time is the FIRST qualifying event (min over events after
    // the previous stage, not the global min — a user whose only view
    // precedes their click does not convert). Three stages = three
    // conditional-min aggregates chained by user-keyed equi-joins;
    // all time arithmetic in integer micros. Latencies emitted as
    // BIGINT micros.
    sql("events_funnel_windowed",
      """WITH c AS (
        | SELECT user_id, min(epoch_us(ts)) AS t_click
        | FROM events WHERE event_type = 'click' GROUP BY user_id),
        |v AS (
        | SELECT e.user_id, min(epoch_us(e.ts)) AS t_view
        | FROM events e JOIN c ON c.user_id = e.user_id
        | WHERE e.event_type = 'view' AND epoch_us(e.ts) > c.t_click
        |  AND epoch_us(e.ts) - c.t_click <= 3600000000
        | GROUP BY e.user_id),
        |p AS (
        | SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
        | FROM events e JOIN v ON v.user_id = e.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_view
        |  AND epoch_us(e.ts) - v.t_view <= 3600000000
        | GROUP BY e.user_id)
        |SELECT c.user_id,
        | (v.user_id IS NOT NULL) AS converted_view,
        | (p.user_id IS NOT NULL) AS converted_purchase,
        | CAST(v.t_view - c.t_click AS BIGINT) AS view_latency_us,
        | CAST(p.t_purchase - v.t_view AS BIGINT) AS purchase_latency_us
        |FROM c LEFT JOIN v ON v.user_id = c.user_id
        |LEFT JOIN p ON p.user_id = c.user_id""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val c = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
        val v = ev.filter(col("event_type") === "view").as("e")
          .join(c.as("c"), col("e.user_id") === col("c.user_id"))
          .filter(col("us") > col("t_click") &&
            col("us") - col("t_click") <= 3600000000L)
          .groupBy(col("e.user_id").as("user_id")).agg(min(col("us")).as("t_view"))
        val p = ev.filter(col("event_type") === "purchase").as("e")
          .join(v.as("v"), col("e.user_id") === col("v.user_id"))
          .filter(col("us") > col("t_view") &&
            col("us") - col("t_view") <= 3600000000L)
          .groupBy(col("e.user_id").as("user_id")).agg(min(col("us")).as("t_purchase"))
        c.join(v.withColumnRenamed("user_id", "vu"), col("user_id") === col("vu"), "left")
          .join(p.withColumnRenamed("user_id", "pu"), col("user_id") === col("pu"), "left")
          .select(col("user_id"),
            col("vu").isNotNull.as("converted_view"),
            col("pu").isNotNull.as("converted_purchase"),
            (col("t_view") - col("t_click")).cast("long").as("view_latency_us"),
            (col("t_purchase") - col("t_view")).cast("long").as("purchase_latency_us"))
    },

    // Histogram quantile estimate — the MERGEABLE-sketch counterpart
    // of events_percentiles: percentile_cont needs the group's sorted
    // values in one place (a full shuffle of raw rows), while a
    // fixed-width histogram reduces to <= #bins counts per (group,
    // partition) under map-side combine and merges by addition — the
    // shape a 100 TB quantile actually ships. The estimate (midpoint
    // of the first bin whose cumulative count reaches the rank) is
    // within W/2 of a true quantile; rank math stays in integers
    // (cum*100 >= p*total) and the midpoint is one IEEE multiply, so
    // the oracle matches bit-for-bit.
    sql("events_histogram_quantile",
      """WITH h AS (
        | SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |c AS (
        | SELECT event_type, bin, n,
        |  sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |  sum(n) OVER (PARTITION BY event_type) AS total
        | FROM h)
        |SELECT event_type,
        | min(CASE WHEN cum * 100 >= 50 * total THEN (CAST(bin AS DOUBLE) + 0.5) * CAST(5.0 AS DOUBLE) END) AS p50_est,
        | min(CASE WHEN cum * 100 >= 95 * total THEN (CAST(bin AS DOUBLE) + 0.5) * CAST(5.0 AS DOUBLE) END) AS p95_est
        |FROM c GROUP BY event_type""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val hist = Tables.events(s, d)
          .groupBy(col("event_type"),
            floor(col("value") / 5.0).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"))
        val byType = Window.partitionBy(col("event_type"))
        val cum = sum(col("n")).over(byType.orderBy(col("bin")))
        val total = sum(col("n")).over(byType)
        hist
          .withColumn("cum", cum).withColumn("total", total)
          .groupBy(col("event_type"))
          .agg(
            min(when(col("cum") * 100 >= col("total") * 50,
              (col("bin") + lit(0.5)) * lit(5.0))).as("p50_est"),
            min(when(col("cum") * 100 >= col("total") * 95,
              (col("bin") + lit(0.5)) * lit(5.0))).as("p95_est"))
    },

    // Range join — purchases within 6 hours AFTER a click by the same
    // user, via window-sized time bins + hash equi-join (RangeJoin
    // scaladoc; the oracle is DuckDB's native inequality join).
    sql("events_range_join",
      """SELECT a.event_id AS click_id, a.user_id, a.ts AS click_ts,
        | b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM events a JOIN events b
        | ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        RangeJoin.withinAfter(clicks, purchases, Seq("user_id"), "ts", windowSec = 6 * 3600)
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"),
            col("r_event_id").as("purchase_id"), col("r_ts").as("purchase_ts"))
    },

    // The OPTIMIZER form of the range join: the query below is the
    // NAIVE theta join — inequality-only condition, no key — which
    // Spark would plan as BroadcastNestedLoopJoin (O(|L|·|R|), the
    // first plan to die at scale). graft.plans.BandedRangeJoin
    // (session-installed here; new sessions arm it via
    // spark.sql.extensions=graft.GraftExtensions) rewrites it into the
    // banded equi-join RangeJoin builds by hand — a user keeps the
    // declarative form and still gets the one-shuffle plan. The
    // rule fires only on inequality-only inner joins with the bin
    // conf set, so installing it session-wide is inert for every
    // other registered query. Same row semantics as the DuckDB
    // oracle's literal theta join.
    sql("events_range_join_auto",
      """SELECT a.event_id AS click_id, a.ts AS click_ts,
        | b.event_id AS purchase_id, b.ts AS purchase_ts
        |FROM events a JOIN events b
        | ON a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR""".stripMargin) {
      (s, d) =>
        // CHILD session: the rule install and bin conf must not leak
        // into the caller's session — other queries' plans (and the
        // surface-wide plan audit) would otherwise depend on whether
        // this entry ran first
        val ss = s.newSession()
        graft.plans.BandedRangeJoin.install(ss)
        ss.conf.set(graft.plans.BandedRangeJoin.BinConf, "3600")
        val ev = Tables.events(ss, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        clicks.join(purchases,
          col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    },

    sql("events_cdc_net_sum",
      """SELECT user_id,
        | CAST(ROUND(SUM(CAST(CASE WHEN event_type = 'error' THEN -value ELSE value END AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_value,
        | COUNT(*) AS n_events
        |FROM events WHERE event_type IN ('purchase', 'error')
        |GROUP BY user_id""".stripMargin) {
      (s, d) => Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .groupBy(col("user_id"))
        .agg(
          decSumSigned(when(col("event_type") === "error", -col("value"))
            .otherwise(col("value")), 2).as("net_value"),
          count(lit(1)).as("n_events"))
    },

    // Q7-LIKE volume shipping — the fifth canonical TPC-H shape: the
    // same fact tree joined to nation TWICE (supplier side and
    // customer side) under a DISJUNCTIVE nation-pair predicate, rolled
    // up by (supp_nation, cust_nation, year). Both nation probes are
    // 25-row broadcasts; the pair predicate evaluates at the top of
    // the broadcast joins (a disjunction across two dimensions cannot
    // push below either one), while the shipdate range DOES push into
    // the lineitem scan. At 100 TB: one fact shuffle per FK hop, zero
    // dimension shuffles, and the year rollup is a map-side-combined
    // hash aggregate on a 2×2×years-cardinality key space.
    sql("q7_like_volume_shipping",
      s"""SELECT supp_nation, cust_nation, l_year,
         | ${decSumSql("volume", 4)} AS revenue
         |FROM (
         | SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  EXTRACT(year FROM l.l_shipdate) AS l_year,
         |  l.l_extendedprice * (1.0 - l.l_discount) AS volume
         | FROM supplier s, lineitem l, orders o, customer c,
         |  nation n1, nation n2
         | WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
         |  AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
         |  AND c.c_nationkey = n2.n_nationkey
         |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
         |    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
         |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l.l_shipdate < TIMESTAMP '1998-01-01') shipping
         |GROUP BY supp_nation, cust_nation, l_year""".stripMargin) {
      (s, d) =>
        val nations = Tables.nation(s, d)
          .filter(col("n_name").isin("NATION_3", "NATION_8"))
        val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(broadcast(nations.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
          .join(broadcast(nations.select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("nk2"))
          .select("c_custkey", "cust_nation")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
                  col("l_shipdate") < lit("1998-01-01"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
                  (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(decSum(col("volume"), 4).as("revenue"))
    },

    // CORRELATED SCALAR SUBQUERY — orders strictly above their own
    // customer's average order value, the canonical decorrelation
    // shape ("WHERE x > (SELECT AVG … WHERE correlated)"). Executed
    // the way an optimizer decorrelates it: the per-customer average
    // becomes a window aggregate over the SAME partitioning the
    // predicate consumes — ONE scan, ONE shuffle on o_custkey, no
    // self-join. The above-average test runs in exact integers
    // (price_e2 · count > sum_e2 avoids the float division entirely),
    // so the qualifying set is bit-identical in both engines.
    sql("orders_above_cust_avg",
      """SELECT o_orderkey, o_custkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM (
        | SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS p_e2,
        |  SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |    OVER (PARTITION BY o_custkey) AS sum_e2,
        |  COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        | FROM orders) t
        |WHERE p_e2 * cnt > sum_e2""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("o_custkey"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("p_e2"))
          .withColumn("sum_e2", sum(col("p_e2")).over(w))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("p_e2") * col("cnt") > col("sum_e2"))
          .select(col("o_orderkey"), col("o_custkey"),
            decCol(col("o_totalprice"), 2).as("o_totalprice"))
    },

    // Q12-LIKE shipmode/priority counting — the CASE-aggregation
    // shape: one join, one group, the measures are conditional COUNTs
    // (SUM of CASE) — the reporting form every warehouse query uses
    // for side-by-side segment columns. Counts are integers; nothing
    // to round.
    sql("q12_like_priority_counts",
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin) {
      (s, d) =>
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
                  col("l_shipdate") < lit("1997-01-01"))
          .select("l_orderkey", "l_linestatus")
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
    },

    // Q14-LIKE promo revenue share — the RATIO-OF-AGGREGATES shape:
    // both numerator and denominator fold as exact scaled integers in
    // ONE aggregate pass (conditional sum, no second scan), and the
    // share is ONE IEEE division of the two exact longs — identical
    // cross-engine, so a derived percentage sits behind the hash gate.
    sql("q14_like_promo_share",
      """SELECT
        | CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS BIGINT)
        |  AS promo_rev_e4,
        | CAST(SUM(rev_e4) AS BIGINT) AS total_rev_e4,
        | 100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
        |  / SUM(rev_e4) AS promo_pct
        |FROM (
        | SELECT p.p_type,
        |  CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT) AS rev_e4
        | FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        | WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1996-02-01') t""".stripMargin) {
      (s, d) =>
        val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000
          + lit(0.5)).cast("long")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
                  col("l_shipdate") < lit("1996-02-01"))
          .select(col("l_partkey"), rev.as("rev_e4"))
          .join(Tables.part(s, d).select("p_partkey", "p_type"),
            col("p_partkey") === col("l_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", col("rev_e4")).otherwise(0L))
              .as("promo_rev_e4"),
            sum(col("rev_e4")).as("total_rev_e4"))
          .select(col("promo_rev_e4"), col("total_rev_e4"),
            (lit(100.0) * col("promo_rev_e4") / col("total_rev_e4")).as("promo_pct"))
    },

    // Q19-LIKE disjunctive multi-predicate join — an OR of
    // (brand, size-range, quantity-range) conjunct groups across BOTH
    // join sides: the shape that exercises CNF conversion and partial
    // pushdown (per-side conjuncts common to all branches — here the
    // quantity floor — push into the scans; the cross-side disjunction
    // evaluates at the join). Revenue in exact scaled integers.
    sql("q19_like_disjunctive_revenue",
      s"""SELECT ${decSumSql("l.l_extendedprice * (1.0 - l.l_discount)", 4)} AS revenue,
         | COUNT(*) AS n_lines
         |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         |WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
         |       AND l.l_quantity BETWEEN 1 AND 20)
         |   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
         |       AND l.l_quantity BETWEEN 10 AND 35)
         |   OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
         |       AND l.l_quantity BETWEEN 20 AND 50)""".stripMargin) {
      (s, d) =>
        val branch1 = col("p_brand") === "Brand#11" &&
          col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
        val branch2 = col("p_brand") === "Brand#22" &&
          col("p_size").between(10, 30) && col("l_quantity").between(10, 35)
        val branch3 = col("p_brand") === "Brand#33" &&
          col("p_size").between(20, 50) && col("l_quantity").between(20, 50)
        Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
            col("p_partkey") === col("l_partkey"))
          .filter(branch1 || branch2 || branch3)
          .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
    },

    // Q17-LIKE small-quantity revenue — the correlated scalar-AVG
    // subquery (`l_quantity < 0.2 * (SELECT AVG(l_quantity) WHERE
    // l_partkey = p_partkey)`) DECORRELATED the way Catalyst and
    // every MPP engine plans it: ONE per-part aggregate over the
    // brand-filtered fact, joined back on the part key — two scans of
    // the reduced fact instead of a per-row subquery. Exactness: the
    // threshold compare runs cross-multiplied in integers
    // (l_q < sum/(5·cnt) ⟺ 5·l_q·cnt < sum — quantities are integral)
    // and the yearly average is one exact e2 sum with ONE IEEE
    // division. At scale the brand filter broadcasts into the fact
    // scan and the partkey shuffle of the aggregate is reused by the
    // threshold join.
    sql("q17_like_small_quantity_revenue",
      """WITH lb AS (
        | SELECT l_partkey, CAST(l_quantity AS BIGINT) AS lq,
        |  CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_e2
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE p_brand = 'Brand#13'),
        |pa AS (SELECT l_partkey AS pk, SUM(lq) AS sq, COUNT(*) AS cnt
        |       FROM lb GROUP BY 1)
        |SELECT CAST(SUM(price_e2) AS DOUBLE) / 700.0 AS avg_yearly,
        | COUNT(*) AS n_lines
        |FROM lb JOIN pa ON pa.pk = lb.l_partkey
        |WHERE 5 * lb.lq * pa.cnt < pa.sq""".stripMargin) {
      (s, d) =>
        val lb = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity").cast("long").as("lq"),
            floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("price_e2"))
          .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") === "Brand#13").select("p_partkey")),
            col("p_partkey") === col("l_partkey"))
        val pa = lb.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("lq")).as("sq"), count(lit(1)).as("cnt"))
        lb.join(pa, col("pk") === col("l_partkey"))
          .filter(lit(5) * col("lq") * col("cnt") < col("sq"))
          .agg((sum(col("price_e2")).cast("double") / lit(700.0)).as("avg_yearly"),
            count(lit(1)).as("n_lines"))
    },

    // Q20-LIKE promo-stock suppliers — the nested `IN (SELECT ... IN
    // (SELECT ...) AND qty > (SELECT SUM(...)))` chain as relational
    // algebra: shipped volume per (part, supplier) over the
    // name-filtered parts in the ship-date window, part totals as a
    // rollup OF THAT aggregate (no second fact pass — the partkey
    // partitioning is reused), the majority-of-total dominance test
    // cross-multiplied in exact integers, and the supplier list
    // recovered by a LEFT SEMI join (the IN). Output is the
    // (supplier, nation) directory of dominant promo-part suppliers.
    sql("q20_like_promo_stock_suppliers",
      """WITH lp AS (
        | SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS sq
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE p_name LIKE 'large%'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pk, SUM(sq) AS total_sq FROM lp GROUP BY 1)
        |SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lp JOIN pt ON pt.pk = lp.l_partkey
        |  WHERE 2 * lp.sq > pt.total_sq)""".stripMargin) {
      (s, d) =>
        val lp = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")))
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(broadcast(Tables.part(s, d)
            .filter(col("p_name").like("large%")).select("p_partkey")),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sq"))
        val pt = lp.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("sq")).as("total_sq"))
        val dominant = lp.join(pt, col("pk") === col("l_partkey"))
          .filter(lit(2) * col("sq") > col("total_sq"))
          .select(col("l_suppkey"))
        Tables.supplier(s, d)
          .join(dominant, col("l_suppkey") === col("s_suppkey"), "left_semi")
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_name", "n_name")
    },

    // Q16-LIKE supplier counting — the NOT IN (subquery) shape:
    // distinct suppliers per (brand, size) EXCLUDING a derived
    // denylist (TPC-H Q16 excludes complaint suppliers; here, the
    // top-3 return-heaviest — an aggregate-ranked subquery instead of
    // a LIKE, same decorrelation). NOT IN over a provably
    // non-NULL key compiles to an anti join against the (tiny,
    // aggregate-derived) denylist — broadcast at any scale — and the
    // distinct count shuffles once on the group key. The denylist
    // cut is orderBy+limit — Spark compiles that to TakeOrdered
    // (per-partition top-3 then a 3-row driver merge; no
    // single-partition Window even though the oracle SQL spells the
    // same cut as ROW_NUMBER) — and ties break on the key, so the
    // cut is deterministic.
    sql("q16_like_supplier_cnt",
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_suppkey NOT IN (
        | SELECT l_suppkey FROM (
        |  SELECT l_suppkey,
        |   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_suppkey) AS rk
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_suppkey) t
        | WHERE rk <= 3)
        |GROUP BY p_brand, p_size""".stripMargin) {
      (s, d) =>
        val denylist = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("__n"))
          .orderBy(col("__n").desc, col("l_suppkey")).limit(3)
          .select(col("l_suppkey").as("bad_supp"))
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
          .join(broadcast(denylist), col("l_suppkey") === col("bad_supp"), "left_anti")
          .join(Tables.part(s, d).select("p_partkey", "p_brand", "p_size"),
            col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // DISTRIBUTION window functions — percent_rank / cume_dist /
    // first_value complete the analytic-function family next to
    // rank/lag/ntile. Both engines define percent_rank as
    // (rank−1)/(n−1) and cume_dist as rows≤current/n; with a total
    // per-partition ordering (price, then key) the integer inputs are
    // identical, and ONE correctly-rounded IEEE division of identical
    // integers is bit-identical cross-engine — no decimal scaffolding
    // needed. One shuffle on the partition key, rank and distribution
    // computed in the same window pass.
    sql("window_percent_rank",
      """SELECT o_orderkey, o_orderpriority,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        | PERCENT_RANK() OVER w AS pct_rank,
        | CUME_DIST() OVER w AS cume,
        | FIRST_VALUE(o_orderkey) OVER w AS cheapest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d).select(
          col("o_orderkey"), col("o_orderpriority"),
          decCol(col("o_totalprice"), 2).as("o_totalprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          first(col("o_orderkey")).over(w).as("cheapest_key"))
    },

    // Q2-LIKE minimum-cost supplier — the canonical correlated-MIN
    // subquery ("the supplier whose price equals the minimum for this
    // part"), decorrelated the way an optimizer does: the per-part
    // minimum becomes a window MIN over the SAME partitioning the
    // equality predicate consumes — one shuffle on l_partkey, no
    // self-join, no re-scan (contrast TPC-H's textbook second
    // partsupp scan). The p_size dimension filter broadcasts and
    // prunes BEFORE the window, so at 100 TB the shuffled set is the
    // qualifying parts' lines only. Prices compared as exact e2
    // integers (2dp inputs), so the winner set is bit-identical
    // cross-engine; DISTINCT collapses multiple winning lines of the
    // same (part, supplier).
    sql("q2_like_min_cost_supplier",
      """WITH w AS (
        | SELECT p.p_partkey, p.p_name, pr.l_suppkey, pr.price_e2,
        |  MIN(pr.price_e2) OVER (PARTITION BY pr.l_partkey) AS min_price_e2
        | FROM (SELECT l_partkey, l_suppkey,
        |        CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_e2
        |       FROM lineitem) pr
        | JOIN part p ON pr.l_partkey = p.p_partkey
        | WHERE p.p_size = 5)
        |SELECT DISTINCT p_partkey, p_name, s.s_name, n.n_name, min_price_e2
        |FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE w.price_e2 = w.min_price_e2""".stripMargin) {
      (s, d) =>
        val priced = Tables.lineitem(s, d).select(
          col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("price_e2"))
        val parts = Tables.part(s, d).filter(col("p_size") === 5)
          .select("p_partkey", "p_name")
        val w = Window.partitionBy(col("l_partkey"))
        priced
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .withColumn("min_price_e2", min(col("price_e2")).over(w))
          .filter(col("price_e2") === col("min_price_e2"))
          .select("p_partkey", "p_name", "l_suppkey", "min_price_e2").distinct()
          .join(Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
            col("min_price_e2"))
    },

    // Q4-LIKE order-priority checking — correlated EXISTS whose inner
    // predicate crosses tables (l_shipdate vs the OUTER row's
    // o_orderdate + 60 days): the textbook decorrelation is a LEFT
    // SEMI join carrying the non-equi condition beside the key
    // equality, which Spark plans as a hash semi join on l_orderkey
    // with the date comparison as a residual — one fact shuffle, and
    // the orders date-range filter pushes into its scan. Pure COUNT
    // output: nothing to round.
    sql("q4_like_priority_exists",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1996-07-01'
        | AND EXISTS (SELECT 1 FROM lineitem
        |             WHERE l_orderkey = o_orderkey
        |              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
                  col("o_orderdate") < to_timestamp(lit("1996-07-01")))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(li,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
    },

    // Q11-LIKE important value share — per-group total HAVING-compared
    // against a GLOBAL scalar aggregate (share > 4%): the global total
    // is derived from the per-brand frame itself (no second fact
    // scan), broadcast as a one-row cross join, and the share test is
    // an integer cross-multiplication (value·1000 > total·40) so the
    // qualifying set cannot drift on a float division. Shape at
    // 100 TB: one fact shuffle for the brand aggregate (map-side
    // combined onto ~25 keys), then scalar algebra on ~25 rows.
    sql("q11_like_value_share",
      """WITH b AS (
        | SELECT p_brand,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS value_e4
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | GROUP BY p_brand)
        |SELECT p_brand, value_e4
        |FROM b, (SELECT SUM(value_e4) AS total_e4 FROM b) t
        |WHERE value_e4 * 1000 > total_e4 * 40""".stripMargin) {
      (s, d) =>
        val brandRev = Tables.lineitem(s, d)
          .select(col("l_partkey"),
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
              .cast("long").as("v_e4"))
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand")).agg(sum(col("v_e4")).as("value_e4"))
        val total = brandRev.agg(sum(col("value_e4")).as("total_e4"))
        brandRev.crossJoin(broadcast(total))
          .filter(col("value_e4") * 1000 > col("total_e4") * 40)
          .select("p_brand", "value_e4")
    },

    // Q13-LIKE customer distribution — the double-aggregate over a
    // LEFT OUTER join: orders are joined with a join-condition-level
    // predicate (priority filter) so customers with zero qualifying
    // orders still appear with c_count = 0 (COUNT of a nullable key
    // column counts matches only — the NULL-extension does the work a
    // correlated COUNT subquery would). Two shuffles by construction:
    // the outer join on custkey, then the tiny histogram aggregate on
    // c_count.
    sql("q13_like_order_count_dist",
      """WITH co AS (
        | SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        | FROM customer c LEFT OUTER JOIN orders o
        |  ON c.c_custkey = o.o_custkey
        |  AND o.o_orderpriority <> '4-NOT SPECIFIED'
        | GROUP BY c.c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM co GROUP BY c_count""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select("o_custkey", "o_orderkey")
        Tables.customer(s, d).select("c_custkey")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    },

    // Q15-LIKE top supplier — the ARGMAX-over-aggregate shape (a view
    // of per-supplier revenue, filtered to rows equal to the view's
    // own MAX): the scalar max comes from the aggregated frame (tiny),
    // broadcast as a one-row cross join; the winner set (usually one
    // row) then broadcasts INTO the supplier dimension, so the fact
    // table is scanned and shuffled exactly once. Revenue in exact e4
    // integers makes "equals the maximum" a bit-identical predicate —
    // the one place this shape can go wrong on floats.
    sql("q15_like_top_supplier",
      """WITH rev AS (
        | SELECT l_suppkey,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS total_rev_e4
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev_e4
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey,
        | (SELECT MAX(total_rev_e4) AS m FROM rev) t
        |WHERE r.total_rev_e4 = t.m""".stripMargin) {
      (s, d) =>
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                  col("l_shipdate") < to_timestamp(lit("1996-04-01")))
          .select(col("l_suppkey"),
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
              .cast("long").as("v_e4"))
          .groupBy(col("l_suppkey")).agg(sum(col("v_e4")).as("total_rev_e4"))
        val m = rev.agg(max(col("total_rev_e4")).as("m"))
        val winners = rev.crossJoin(broadcast(m))
          .filter(col("total_rev_e4") === col("m"))
          .select("l_suppkey", "total_rev_e4")
        Tables.supplier(s, d).select("s_suppkey", "s_name")
          .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev_e4"))
    },

    // MERGEABLE EXACT TOP-K — grouped top-k as a bounded-state
    // AGGREGATE (functions/TopKAgg) instead of a window: the window
    // form shuffles + sorts EVERY row per group; topk_pairs keeps ≤ k
    // pairs per (group, partition) and map-side combine reduces each
    // partition to k pairs BEFORE the exchange — the shuffle carries
    // k·partitions rows instead of the table. Exact by the bounded-
    // merge identity (top-k of a union of per-partition top-k sets IS
    // the union's top-k) with a deterministic total order (score DESC,
    // unique id ASC) — so the window-formulation oracle must match
    // row-for-row, rank included.
    sql("agg_topk_per_group",
      """SELECT o_orderpriority, CAST(rn AS INT) AS rank, price_e2, o_orderkey
        |FROM (
        | SELECT o_orderpriority,
        |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3""".stripMargin) {
      (s, d) =>
        import graft.functions.TopKAgg.topk_pairs
        Tables.orders(s, d)
          .select(col("o_orderpriority"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("price_e2"),
            col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(topk_pairs(col("price_e2"), col("o_orderkey"), 3).as("top"))
          .select(col("o_orderpriority"), posexplode(col("top")))
          .select(col("o_orderpriority"), (col("pos") + 1).cast("int").as("rank"),
            col("col.score").as("price_e2"), col("col.id").as("o_orderkey"))
    },

    // The SAME grouped top-k through the CUSTOM PHYSICAL OPERATOR
    // (plans/GroupedTopK — logical node + opt-in rewrite Rule +
    // Strategy + bounded-heap SparkPlan): the user writes the stock
    // row_number window text; with the conf armed the optimizer swaps
    // in partial-prune → exchange → final-rank execution — no global
    // sort, shuffle bounded at k rows per (group, partition). The fn
    // self-asserts from the physical plan that GroupedTopKExec planned
    // and the stock Window/Sort did NOT; the hash gate then proves the
    // swap answer-invariant against the window-formulation oracle.
    sql("window_topk_rewrite",
      """SELECT o_orderpriority, CAST(rn AS INT) AS rank, price_e2, o_orderkey
        |FROM (
        | SELECT o_orderpriority,
        |  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2, o_orderkey,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3""".stripMargin) {
      (s, d) =>
        val ss = s.newSession()
        ss.conf.set(graft.plans.GroupedTopK.RewriteConf, "true")
        graft.plans.GroupedTopK.install(ss)
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("price_e2").desc, col("o_orderkey"))
        val df = Tables.orders(ss, d)
          .select(col("o_orderpriority"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("price_e2"),
            col("o_orderkey"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GroupedTopK "),
          s"top-k rewrite must fire:\n${plan.take(1200)}")
        // the stock execution (Sort + WindowGroupLimit partial/final +
        // Window) must be fully subsumed — no residual sorts either
        require(!plan.contains("WindowGroupLimit") && !plan.contains("Window [") &&
          !plan.contains("Sort ["),
          s"stock Window/WindowGroupLimit/Sort must be gone:\n${plan.take(1200)}")
        df
    },

    // The TIES-AWARE sibling: the `rank() <= k` spelling (the more
    // common SQL idiom in the wild) through the same custom operator.
    // Bucketed prices guarantee real ties, so each group keeps entire
    // boundary tie-classes (possibly MORE than k rows) with gap ranks
    // — semantics row_number cannot express, exact through the
    // bounded ties-heap. Plan self-assert: GroupedTopK fired, zero
    // sorts; hash gate against DuckDB's own rank().
    sql("window_rank_topk",
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, price_bucket, o_orderkey
        |FROM (
        | SELECT o_orderpriority,
        |  CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS price_bucket, o_orderkey,
        |  rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 20000) AS BIGINT) DESC) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        val ss = s.newSession()
        ss.conf.set(graft.plans.GroupedTopK.RewriteConf, "true")
        graft.plans.GroupedTopK.install(ss)
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("price_bucket").desc)
        val df = Tables.orders(ss, d)
          .select(col("o_orderpriority"),
            floor(col("o_totalprice") / 20000).cast("long").as("price_bucket"),
            col("o_orderkey"))
          .withColumn("rnk", rank().over(w))
          .filter(col("rnk") <= 3)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GroupedTopK "),
          s"ties-aware top-k rewrite must fire:\n${plan.take(1200)}")
        require(!plan.contains("WindowGroupLimit") && !plan.contains("Window [") &&
          !plan.contains("Sort ["),
          s"stock Window/WindowGroupLimit/Sort must be gone:\n${plan.take(1200)}")
        // a genuine tie-class at the boundary (the point of the entry)
        require(df.groupBy("o_orderpriority").count().collect().exists(_.getLong(1) > 3),
          "fixture must tie at the rank boundary")
        df
    },

    // The DENSE sibling completes the rank family on the custom
    // operator: `dense_rank() <= k` keeps every row of the k best
    // DISTINCT order-value classes — rows per group unbounded by k
    // (each class holds ~hundreds of orders here), which is why it
    // stayed stock until the keep-set learned to bound CLASSES and
    // the row budget's flush/spill machinery to bound memory. Plan
    // self-assert: GroupedTopK fired, zero sorts; hash gate against
    // DuckDB's own dense_rank().
    sql("window_dense_topk",
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rnk, price_bucket, o_orderkey
        |FROM (
        | SELECT o_orderpriority,
        |  CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS price_bucket, o_orderkey,
        |  dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(FLOOR(o_totalprice / 20000) AS BIGINT) DESC) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        val ss = s.newSession()
        ss.conf.set(graft.plans.GroupedTopK.RewriteConf, "true")
        graft.plans.GroupedTopK.install(ss)
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("price_bucket").desc)
        val df = Tables.orders(ss, d)
          .select(col("o_orderpriority"),
            floor(col("o_totalprice") / 20000).cast("long").as("price_bucket"),
            col("o_orderkey"))
          .withColumn("rnk", dense_rank().over(w))
          .filter(col("rnk") <= 3)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("GroupedTopK "),
          s"dense-rank top-k rewrite must fire:\n${plan.take(1200)}")
        require(!plan.contains("WindowGroupLimit") && !plan.contains("Window [") &&
          !plan.contains("Sort ["),
          s"stock Window/WindowGroupLimit/Sort must be gone:\n${plan.take(1200)}")
        // rows per group far exceed k — the dense reading's point
        require(df.groupBy("o_orderpriority").count().collect().forall(_.getLong(1) > 3),
          "every group must keep whole classes past k rows")
        df
    },

    // Q6-LIKE forecasting revenue — the degenerate-but-canonical
    // grouping-free global aggregate: one filtered scan, one 1-row
    // answer, nothing else. The whole query is a map-side partial +
    // one final combine; every predicate (date range, discount band,
    // quantity cut) must reach the parquet scan as a PushedFilter —
    // at 100 TB this query IS its scan, and the plan has nothing else
    // to get wrong. Revenue in exact e4 integers.
    sql("q6_like_forecast_revenue",
      """SELECT
        | CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5) AS BIGINT)) AS BIGINT)
        |  AS revenue_e4,
        | COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                  col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
                  col("l_discount").between(0.05, 0.07) &&
                  col("l_quantity") < 24)
          .agg(
            sum(floor(col("l_extendedprice") * col("l_discount") * 10000 + lit(0.5))
              .cast("long")).as("revenue_e4"),
            count(lit(1)).as("n_lines"))
    },

    // Q8-LIKE national market share — the two-level ratio query: of
    // all trade volume shipped 1996-97 to EUROPEAN customers, what
    // share came from NATION_3 suppliers, per year. Both the
    // numerator (conditional sum) and denominator accumulate in the
    // SAME exact e4-integer aggregate pass — one fact shuffle total —
    // and the share is ONE correctly-rounded IEEE division of those
    // two integers, so it is bit-identical cross-engine without any
    // decimal scaffolding. All dimension joins broadcast (customer
    // region membership and supplier nation are each a dim⋈dim
    // lookup).
    sql("q8_like_market_share",
      """SELECT l_year,
        | CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_e4 ELSE 0 END) AS BIGINT)
        |   AS nation_vol_e4,
        | CAST(SUM(vol_e4) AS BIGINT) AS total_vol_e4,
        | CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_e4 ELSE 0 END) AS DOUBLE)
        |   / CAST(SUM(vol_e4) AS DOUBLE) AS mkt_share
        |FROM (
        | SELECT EXTRACT(year FROM l.l_shipdate) AS l_year,
        |  CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT) AS vol_e4,
        |  ns.n_name AS supp_nation
        | FROM lineitem l, orders o, customer c, supplier s,
        |  nation nc, nation ns, region r
        | WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
        |  AND l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = nc.n_nationkey AND nc.n_regionkey = r.r_regionkey
        |  AND s.s_nationkey = ns.n_nationkey
        |  AND r.r_name = 'EUROPE'
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY l_year""".stripMargin) {
      (s, d) =>
        val euroNations = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))
        val euroCust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
          .join(broadcast(euroNations), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("snk"))
          .select("s_suppkey", "supp_nation")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
                  col("l_shipdate") < to_timestamp(lit("1998-01-01")))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
              .cast("long").as("vol_e4"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(euroCust), col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_3", col("vol_e4")).otherwise(0L))
              .as("nation_vol_e4"),
            sum(col("vol_e4")).as("total_vol_e4"))
          .select(col("l_year"), col("nation_vol_e4"), col("total_vol_e4"),
            (col("nation_vol_e4").cast("double") / col("total_vol_e4").cast("double"))
              .as("mkt_share"))
    },

    // Q9-LIKE product-type profit — signed arithmetic over two money
    // streams (revenue minus a retail-price cost proxy), rolled up by
    // supplier nation × year for one product family. Profit is a
    // DIFFERENCE of two exact e4 integers per line, so it can go
    // negative and still sums exactly in BIGINT in any order; the
    // '%widget%' part filter broadcasts into the fact scan and prunes
    // before the orders join.
    sql("q9_like_product_profit",
      """SELECT n_name, o_year,
        | CAST(SUM(profit_e4) AS BIGINT) AS profit_e4
        |FROM (
        | SELECT ns.n_name,
        |  EXTRACT(year FROM o.o_orderdate) AS o_year,
        |  CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT)
        |   - CAST(FLOOR(p.p_retailprice * l.l_quantity * 10000 + 0.5) AS BIGINT) AS profit_e4
        | FROM lineitem l, orders o, part p, supplier s, nation ns
        | WHERE l.l_orderkey = o.o_orderkey AND l.l_partkey = p.p_partkey
        |  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = ns.n_nationkey
        |  AND p.p_name LIKE '%widget%') t
        |GROUP BY n_name, o_year""".stripMargin) {
      (s, d) =>
        val widgets = Tables.part(s, d)
          .filter(col("p_name").contains("widget"))
          .select("p_partkey", "p_retailprice")
        val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .join(broadcast(widgets), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
              .cast("long") -
             floor(col("p_retailprice") * col("l_quantity") * 10000 + lit(0.5))
              .cast("long")).as("profit_e4"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum(col("profit_e4")).as("profit_e4"))
          .select("n_name", "o_year", "profit_e4")
    },

    // Q21-LIKE suppliers who kept orders waiting — the hardest
    // correlated shape in TPC-H: an EXISTS (another supplier touched
    // the order) AND a NOT EXISTS (no OTHER supplier was also late)
    // against the same fact table, both correlated on the outer row's
    // order AND supplier. Decorrelated as one LEFT SEMI + one LEFT
    // ANTI join, each an equi join on l_orderkey with the supplier
    // inequality as residual — semi/anti preserve left multiplicity,
    // so numwait counts qualifying l1 ROWS exactly as the SQL does.
    // The anti side probes the (small) late-line set itself, not the
    // full fact table. "Late" = shipped >120 days after an order
    // already in final status.
    sql("q21_like_waiting_supplier",
      """SELECT s.s_name, COUNT(*) AS numwait
        |FROM supplier s, lineitem l1, orders o
        |WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
        | AND o.o_orderstatus = 'F'
        | AND l1.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |             WHERE l2.l_orderkey = l1.l_orderkey
        |              AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                 WHERE l3.l_orderkey = l1.l_orderkey
        |                  AND l3.l_suppkey <> l1.l_suppkey
        |                  AND l3.l_shipdate > o.o_orderdate + INTERVAL 120 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) {
      (s, d) =>
        // Both correlated subqueries collapse to PER-ORDER AGGREGATES
        // instead of joins back into the fact table:
        //   EXISTS l2 (another supplier touched the order)
        //     ⟺ the order's supplier set is not a singleton
        //     ⟺ min(l_suppkey) ≠ max(l_suppkey) over its lines;
        //   NOT EXISTS l3 (no OTHER supplier was also late)
        //     ⟺ the order's LATE lines name exactly one supplier
        //     ⟺ late min = late max (and every late row then belongs
        //       to that one supplier, so numwait adds COUNT(late)).
        // That replaces the fact×fact LEFT SEMI (a full shuffle+sort of
        // lineitem against the late set) and the LEFT ANTI with two
        // hash aggregates — the late aggregate even reuses the
        // lineitem⋈orders join's o_orderkey partitioning, so no new
        // exchange. Row-for-row the same qualifying l1 multiset as the
        // subquery spelling (the oracle is unchanged and hash-gates it).
        val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val suppSpan = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey")
          .groupBy(col("l_orderkey").as("a_orderkey"))
          .agg(min(col("l_suppkey")).as("supp_lo"), max(col("l_suppkey")).as("supp_hi"))
          .filter(col("supp_lo") =!= col("supp_hi"))
          .select("a_orderkey")
        val lateAgg = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
          .groupBy(col("l_orderkey"))
          .agg(min(col("l_suppkey")).as("late_lo"), max(col("l_suppkey")).as("late_hi"),
            count(lit(1)).as("n_late"))
          .filter(col("late_lo") === col("late_hi"))
          .select(col("l_orderkey"), col("late_lo").as("l_suppkey"), col("n_late"))
        lateAgg
          .join(suppSpan, col("l_orderkey") === col("a_orderkey"), "left_semi")
          .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name")).agg(sum(col("n_late")).cast("long").as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },

    // Q22-LIKE idle high-balance customers — global-scalar comparison
    // (balance above the positive-balance average) PLUS an anti join
    // (no recent orders), rolled up by nation. The average test runs
    // as an integer cross-multiplication (bal_e2·n > total_e2): no
    // float division anywhere near the qualifying-set boundary. At
    // 100 TB: the scalar is one tiny broadcast, the anti join probes
    // only date-filtered orders (filter pushed to the scan), the
    // nation dim broadcasts — one customer-side shuffle total.
    sql("q22_like_idle_customers",
      s"""WITH t AS (
         | SELECT SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS total_e2,
         |  COUNT(*) AS n
         | FROM customer WHERE c_acctbal > 0.0)
         |SELECT nt.n_name, COUNT(*) AS numcust,
         | ${decSumSql("c.c_acctbal", 2)} AS totacctbal
         |FROM customer c JOIN nation nt ON c.c_nationkey = nt.n_nationkey, t
         |WHERE CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * t.n > t.total_e2
         | AND NOT EXISTS (SELECT 1 FROM orders o
         |                 WHERE o.o_custkey = c.c_custkey
         |                  AND o.o_orderdate >= TIMESTAMP '1999-01-01')
         |GROUP BY nt.n_name""".stripMargin) {
      (s, d) =>
        val cust = Tables.customer(s, d).select(
          col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("b_e2"))
        val t = cust.filter(col("c_acctbal") > 0.0)
          .agg(sum(col("b_e2")).as("total_e2"), count(lit(1)).as("n"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
          .select("o_custkey")
        cust.crossJoin(broadcast(t))
          .filter(col("b_e2") * col("n") > col("total_e2"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"), decSum(col("c_acctbal"), 2).as("totacctbal"))
    })
}
