package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class RelationalSpec extends AnyFunSuite with org.scalatest.ParallelTestExecution {
  import SparkTestSession.{spark, sfTiny}

  test("every registered query runs, has a schema, and plans no nested loop") {
    // Declared exceptions — every one a broadcast join whose build
    // side is BOUNDED BY CONSTRUCTION (Spark names any non-equi
    // broadcast join BroadcastNestedLoopJoin; with a constant-size
    // side that is O(stream-side) work, not a quadratic blowup):
    //  - ann_bruteforce_topk: tiny broadcast query set (the declared
    //    brute baseline; ann_lsh_topk / ann_ivf_topk are the scale
    //    paths beside it);
    //  - ann_ivf_topk / dedup_semantic_kmeans: the FIXED-k centroid
    //    broadcast — corpus × k assignment dots are the IVF/k-means
    //    contract, and k never grows with the corpus (seedCentroids);
    //  - mixture_weights / text_top_terms / text_boilerplate_ngrams:
    //    a ONE-ROW corpus-stat scalar broadcast (chosen over a
    //    driver-side count() round trip).
    // Everything else must plan hash/merge joins only (the grouping-set
    // value rollups join on (__gid, keys) — always an equi join, even
    // for the grand total).
    val nljAllowed = Set("ann_bruteforce_topk", "ann_knn_classify", "ann_ivf_topk",
      "dedup_semantic_kmeans", "mixture_weights", "text_top_terms", "text_boilerplate_ngrams",
      "text_bm25_topk",
      // same FIXED-k centroid broadcast as ann_ivf_topk, over the
      // incrementally maintained / resplit / ghost-changelog on-disk
      // index
      "ann_ivf_incremental", "ann_ivf_resplit", "ann_ivf_maintained",
      "ann_ivf_maintained_resplit",
      "embedding_label_margin",
      // ONE-ROW global-scalar broadcasts (the Q11/Q15/Q22 shapes:
      // share-of-total, argmax-of-aggregate, above-global-average;
      // the skew advisor joins its two one-row aggregate frames)
      "q11_like_value_share", "q15_like_top_supplier", "q22_like_idle_customers",
      "profile_lineitem_skew",
      // HITS: one ONE-ROW max-normalization broadcast per half-round
      // (visible since the loop composes lazily)
      "graph_hits_authorities",
      // the same tiny broadcast query set as ann_bruteforce_topk, in
      // both the int8 candidate tier and the exact rescore tier
      "ann_int8_rescore",
      // the same tiny broadcast query set, with the label-inequality
      // predicate riding the broadcast join (hard-negative mining)
      "ann_hard_negatives",
      // four ONE-ROW learned-merge broadcasts (the training loop's
      // argmax result applied to the next iteration's encode)
      "text_bpe_train")
    // the whole-registry audit is the suite's long pole: many entries
    // EXECUTE work while building (snapshot commits, streaming
    // replays, fixpoint loops), and ~460 of them sequentially ran ~10
    // minutes AFTER every other suite had finished. Audit them on a
    // thread pool instead, each in its OWN child session so entries
    // that bind temp views can never race each other (Spark schedules
    // concurrent jobs from one context fine).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val audits = SparkEntry.queries.toSeq.map { case (name, fn) =>
        Future {
          val df = SparkTestSession.sweepFrame(name, sfTiny, fn)
          assert(df.schema.nonEmpty, s"$name has empty schema")
          if (!nljAllowed(name)) {
            val plan = df.queryExecution.executedPlan.toString
            assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
              s"$name plans a nested-loop join:\n$plan")
          }
        }
      }
      Await.result(Future.sequence(audits), 25.minutes)
      ()
    } finally { pool.shutdown(); () }
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("entry (flagship Q10) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q10 revenue equals hand-computed join+agg") {
    // Independent recomputation through a different plan shape: filter
    // after a plain 4-way join, sum in double, compare within rounding.
    val li = Tables.lineitem(spark, sfTiny)
    val o  = Tables.orders(spark, sfTiny)
    val c  = Tables.customer(spark, sfTiny)
    val n  = Tables.nation(spark, sfTiny)
    val flat = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .filter(col("l_returnflag") === "R" &&
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") <  to_timestamp(lit("1996-04-01")))
      .groupBy(col("c_custkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val expected = flat.orderBy(col("rev").desc, col("c_custkey")).limit(20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = operators.Relational.q10(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expected(k)) < 0.011, s"custkey $k") }
  }

  test("semi and anti join partition the customer set over the window") {
    val semi = SparkEntry.queries("semi_join")(spark, sfTiny).count()
    val anti = SparkEntry.queries("anti_join")(spark, sfTiny).count()
    val all  = Tables.customer(spark, sfTiny).count()
    assert(semi + anti == all)
  }

  test("window_rank keeps at most 3 rows per nation") {
    val df = SparkEntry.queries("window_rank")(spark, sfTiny)
    val maxPerNation = df.groupBy("c_nationkey").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxPerNation <= 3)
  }

  test("events ts is read as microsecond timestamps (ns parquet)") {
    val ev = Tables.events(spark, sfTiny)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ev.filter(col("ts") >= to_timestamp(lit("2024-01-01"))).count() > 0)
  }

  test("sliding windows: every event lands in exactly width/slide windows") {
    val nEvents = Tables.events(spark, sfTiny).count()
    val windowed = SparkEntry.queries("events_sliding_window")(spark, sfTiny)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed == 2 * nEvents) // 1 h width / 30 min slide = 2
    // the overlap comes from ONE Expand before the aggregate, not a
    // self-join/union re-scan
    val plan = SparkEntry.queries("events_sliding_window")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(500))
  }

  test("grouping sets: per-set subtotals equal independent aggregations") {
    val df = SparkEntry.queries("agg_grouping_sets")(spark, sfTiny)
    val li = Tables.lineitem(spark, sfTiny)
    // () set: one row with both keys null = the global aggregate
    val global = df.filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
    assert(global.count() == 1)
    assert(global.collect()(0).getAs[Long]("n") == li.count())
    // (l_linestatus) set: matches a direct groupBy
    val bySt = df.filter(col("l_returnflag").isNull && col("l_linestatus").isNotNull)
      .select("l_linestatus", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = li.groupBy("l_linestatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySt == want)
  }

  test("pivot columns partition the rows: F+O+P equals the group count") {
    val piv = SparkEntry.queries("orders_pivot")(spark, sfTiny)
    val sums = piv.agg(sum("F"), sum("O"), sum("P")).collect()(0)
    val total = sums.getLong(0) + sums.getLong(1) + sums.getLong(2)
    assert(total == Tables.orders(spark, sfTiny).count())
  }

  test("json extraction: k parses for every event, missing path is null") {
    val df = SparkEntry.queries("events_json_extract")(spark, sfTiny)
    assert(df.filter(col("k").isNull).count() == 0)
    assert(df.filter(col("miss").isNotNull).count() == 0)
  }

  test("histogram quantile estimates land within one bin of the exact percentiles") {
    val est = SparkEntry.queries("events_histogram_quantile")(spark, sfTiny)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // the histogram answers the DISCRETE (rank-based) quantile: the
    // value at rank ceil(p*n) lies inside the estimate's W=5 bin, so
    // the midpoint is within W/2 of it (the interpolated
    // percentile_cont can legitimately sit further away in a sparse
    // tail — that is a definition difference, not histogram error)
    val byType = Tables.events(spark, sfTiny)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(est.keySet == byType.keySet && est.nonEmpty)
    def rankValue(vs: Array[Double], p: Double): Double =
      vs(math.ceil(p * vs.length).toInt - 1)
    est.foreach { case (t, (p50, p95)) =>
      val (d50, d95) = (rankValue(byType(t), 0.50), rankValue(byType(t), 0.95))
      assert(math.abs(p50 - d50) <= 2.5, s"$t p50: est $p50 vs discrete $d50")
      assert(math.abs(p95 - d95) <= 2.5, s"$t p95: est $p95 vs discrete $d95")
    }
  }

  test("PLAN AUDIT: flagship predicates reach the parquet scans; nation broadcasts") {
    import org.apache.spark.sql.execution.FormattedMode
    val df = SparkEntry.queries("q10_flagship")(spark, sfTiny)
    val plan = df.queryExecution.explainString(FormattedMode)
    // both manual pushdowns of the reference (J2 date range, J3 flag)
    // must appear as parquet PushedFilters, not post-scan Filters only
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(800))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(800))
    // the 25-row nation side must broadcast (codegen spans are not
    // string-auditable under AQE's lazy finalization; `graft.PlanDump`
    // shows them interactively)
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("PLAN AUDIT: incremental changelog predicates are scan-pushed") {
    import org.apache.spark.sql.execution.FormattedMode
    val plan = SparkEntry.queries("incremental_q10")(spark, sfTiny)
      .queryExecution.explainString(FormattedMode)
    // the tree's local predicates ride the changelog's parquet scan
    // (the Spark-native validTuple gate, and their only spelling) —
    // rows failing them are never canon-encoded or shuffled
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(800))
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan.take(800))
  }

  test("q7: only the two declared nations appear, on both sides") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q7_like_volume_shipping")(spark, sfTiny).collect()
    val nations = Set("NATION_3", "NATION_8")
    rows.foreach { r =>
      val s = r.getString(0); val c = r.getString(1)
      assert(nations(s) && nations(c) && s != c, r.toString)
      assert(r.getLong(2) >= 1996L && r.getLong(2) <= 1997L)
    }
    // one shuffle only: every dimension (incl. the nation-pair
    // disjunction's two sides) broadcasts
    val plan = SparkEntry.queries("q7_like_volume_shipping")(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("orders above customer average: strict-majority-side property") {
    import org.apache.spark.sql.functions._
    val above = SparkEntry.queries("orders_above_cust_avg")(spark, sfTiny)
    val orders = Tables.orders(spark, sfTiny)
    // recompute with double AVG: every flagged order is >= its
    // customer's double average (integer cross-multiplication is the
    // exact form of the same test)
    val avg2 = orders.groupBy(col("o_custkey").as("ck"))
      .agg(avg(col("o_totalprice")).as("a"), count(lit(1)).as("n"))
    val joined = above.join(avg2, col("o_custkey") === col("ck")).collect()
    joined.foreach { r =>
      val price = r.getDouble(r.fieldIndex("o_totalprice"))
      val a = r.getDouble(r.fieldIndex("a"))
      assert(price > a - 1e-6, s"flagged below avg: $r")
    }
    // single-order customers can never beat their own average
    val singles = joined.filter(r => r.getLong(r.fieldIndex("n")) == 1L)
    assert(singles.isEmpty)
  }

  test("q2: every winner carries its part's true minimum line price") {
    import org.apache.spark.sql.functions._
    val winners = SparkEntry.queries("q2_like_min_cost_supplier")(spark, sfTiny).collect()
    // independent recompute through a different plan: groupBy-min
    val mins = Tables.lineitem(spark, sfTiny)
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("pe2"))
      .groupBy("l_partkey").agg(min("pe2").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    winners.foreach { r =>
      val pk = r.getLong(r.fieldIndex("p_partkey"))
      assert(r.getLong(r.fieldIndex("min_price_e2")) == mins(pk), r.toString)
    }
    assert(winners.nonEmpty)
  }

  test("q4: semi-join counts can never exceed the filtered order count") {
    import org.apache.spark.sql.functions._
    val counts = SparkEntry.queries("q4_like_priority_exists")(spark, sfTiny).collect()
    val total = Tables.orders(spark, sfTiny)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1996-07-01"))
      .count()
    assert(counts.map(_.getLong(1)).sum <= total)
    assert(counts.map(_.getLong(1)).forall(_ > 0))
  }

  test("q11: every surviving brand's share beats the threshold against the full total") {
    import org.apache.spark.sql.functions._
    val kept = SparkEntry.queries("q11_like_value_share")(spark, sfTiny).collect()
    val total = Tables.lineitem(spark, sfTiny)
      .select(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
        .cast("long").as("v")).agg(sum("v")).collect()(0).getLong(0)
    kept.foreach(r =>
      assert(r.getLong(r.fieldIndex("value_e4")) * 1000L > total * 40L, r.toString))
    assert(kept.nonEmpty)
  }

  test("q13: the distribution partitions the customer table exactly") {
    val dist = SparkEntry.queries("q13_like_order_count_dist")(spark, sfTiny).collect()
    val nCust = Tables.customer(spark, sfTiny).count()
    assert(dist.map(_.getLong(1)).sum == nCust)
  }

  test("q15: the winner's revenue is the maximum over all suppliers") {
    import org.apache.spark.sql.functions._
    val winners = SparkEntry.queries("q15_like_top_supplier")(spark, sfTiny).collect()
    val revs = Tables.lineitem(spark, sfTiny)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
          .cast("long").as("v"))
      .groupBy("l_suppkey").agg(sum("v").as("r"))
      .collect().map(_.getLong(1))
    assert(winners.nonEmpty)
    winners.foreach(r => assert(r.getLong(r.fieldIndex("total_rev_e4")) == revs.max))
  }

  test("q6: every predicate reaches the parquet scan; the plan is scan+aggregate only") {
    import org.apache.spark.sql.execution.FormattedMode
    val df = SparkEntry.queries("q6_like_forecast_revenue")(spark, sfTiny)
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan.take(900))
    assert(plan.contains("GreaterThanOrEqual(l_discount"), plan.take(900))
    assert(plan.contains("LessThan(l_quantity"), plan.take(900))
    assert(!plan.contains("Join"), "a grouping-free aggregate must not join")
    val r = df.collect()(0)
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("q8: shares are ratios of the emitted integers and stay in [0,1]") {
    val rows = SparkEntry.queries("q8_like_market_share")(spark, sfTiny).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nat, tot, share) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nat >= 0 && nat <= tot && tot > 0)
      assert(share == nat.toDouble / tot.toDouble)
    }
  }

  test("q9: profit totals match an independent double-path recompute within rounding") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q9_like_product_profit")(spark, sfTiny)
      .agg(sum("profit_e4")).collect()(0).getLong(0)
    val approx = Tables.lineitem(spark, sfTiny)
      .join(Tables.part(spark, sfTiny).filter(col("p_name").contains("widget")),
        col("l_partkey") === col("p_partkey"))
      .select((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity")).as("p"))
      .agg(sum("p")).collect()(0).getDouble(0)
    assert(math.abs(got / 10000.0 - approx) < 1.0, s"$got vs $approx")
  }

  test("q21: a blamed supplier is its order's SOLE late supplier among several") {
    import org.apache.spark.sql.functions._
    // recompute through the aggregate (count-distinct) formulation and
    // compare totals with the semi/anti formulation the entry plans
    val o = Tables.orders(spark, sfTiny).filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfTiny)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
    val agg = li.groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("nsupp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("nlate"),
        sum(when(col("late"), 1L).otherwise(0L)).as("lateLines"))
      .filter(col("nsupp") >= 2 && col("nlate") === 1)
    val expectTotal = agg.agg(sum("lateLines")).collect()(0).getLong(0)
    val gotTotal = SparkEntry.queries("q21_like_waiting_supplier")(spark, sfTiny)
      .agg(sum("numwait")).collect()(0).getLong(0)
    // the entry is LIMIT 20 by s_name — totals match when <= 20 suppliers
    // qualify (true at sf0.001); otherwise got <= expected
    assert(gotTotal <= expectTotal && gotTotal > 0)
  }

  test("q22: qualifying customers beat the double average and have no recent orders") {
    import org.apache.spark.sql.functions._
    val cust = Tables.customer(spark, sfTiny)
    val posAvg = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg("c_acctbal")).collect()(0).getDouble(0)
    val recent = Tables.orders(spark, sfTiny)
      .filter(col("o_orderdate") >= lit("1999-01-01")).select("o_custkey")
    val qualifying = cust
      .filter(col("c_acctbal") > posAvg)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
    val byNation = SparkEntry.queries("q22_like_idle_customers")(spark, sfTiny).collect()
    // boundary rows differ only within one e2 ulp of the average; away
    // from the boundary the two formulations agree on the total count
    val diff = math.abs(byNation.map(_.getLong(1)).sum - qualifying.count())
    assert(diff <= 1, s"count gap $diff")
  }

  test("percent_rank/cume_dist bounds and first_value is the partition minimum") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("window_percent_rank")(spark, sfTiny)
    val bad = df.filter(col("pct_rank") < 0 || col("pct_rank") > 1 ||
      col("cume") <= 0 || col("cume") > 1).count()
    assert(bad == 0)
    // cheapest_key is constant per partition and belongs to the min-price row
    val mins = df.groupBy("o_orderpriority")
      .agg(countDistinct(col("cheapest_key")).as("nck")).collect()
    mins.foreach(r => assert(r.getLong(1) == 1L, r.toString))
  }
}
