package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftBridge.localCheckpointCounted]] — the fused checkpoint +
  * count + exact-statistics primitive behind every fixpoint loop's
  * lineage truncation (RecursiveSql, GraphOps.kcore).
  *
  * The BYTE-GATE contract (round-17 replacement for round 16's
  * row-count-gated broadcast hints): join strategy against a
  * checkpointed frame follows its MEASURED byte size under
  * `spark.sql.autoBroadcastJoinThreshold`, so a narrow small frame
  * broadcasts with no hint while a WIDE frame whose row count alone
  * looks broadcastable does not — the cliff the row gate had (1e6
  * wide rows hinting a multi-hundred-MB broadcast past AQE's size
  * checks) cannot happen. */
class GraftBridgeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("counted checkpoint returns exact count and carries exact stats") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
    val (c, n) = GraftBridge.localCheckpointCounted(df)
    assert(n == 1000L)
    assert(c.count() == 1000L)
    val stats = c.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(1000)))
    // UnsafeRow of two longs = 8 (null bits) + 16 payload = 24 bytes
    assert(stats.sizeInBytes == BigInt(24 * 1000))
  }

  test("results are the checkpointed rows, reusable across actions") {
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("s", "v").filter(col("v") > 1)
    val (c, n) = GraftBridge.localCheckpointCounted(df)
    assert(n == 2)
    assert(c.orderBy("s").collect().map(_.getString(0)).toSeq == Seq("b", "c"))
    // second action reads the cached blocks, same result
    assert(c.agg(sum("v")).head().getLong(0) == 5L)
  }

  test("narrow small frame broadcasts from its stats, no hint needed") {
    val small = spark.range(0, 100).select(col("id").as("k"))
    val big = spark.range(0, 10000).select(col("id").as("k"), lit("x").as("p"))
    val (c, _) = GraftBridge.localCheckpointCounted(small)
    val plan = big.join(c, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join against the exactly-sized small frame:\n$plan")
  }

  test("wide frame past the byte threshold does NOT broadcast despite a tiny row count") {
    // ~2000 rows x ~64 KB strings ≈ 128 MB measured — far over the
    // 10 MB default threshold while the ROW count is minuscule (the
    // r16 row gate would have hinted broadcast at <= 1e6 rows)
    val wide = spark.range(0, 2000)
      .select(col("id").as("k"),
        concat_ws("", (1 to 8192).map(_ => lit("wide8byt")): _*).as("payload"))
    val (c, n) = GraftBridge.localCheckpointCounted(wide)
    assert(n == 2000L)
    val stats = c.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > BigInt(100L * 1024 * 1024),
      s"expected >100MB measured, got ${stats.sizeInBytes}")
    // the other side estimates 8 B x 5M = 40 MB, over the threshold
    // too — with the wide frame's REAL size known, neither side
    // broadcasts (the row gate would have hinted the 2000-row side)
    val other = spark.range(0, 5000000).select(col("id").as("k"))
    val plan = other.join(c, "k").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"a 128 MB frame must not plan a broadcast build:\n$plan")
  }

  test("FixtureMemo refuses bench headliners (result caching is gaming, not optimization)") {
    // a memoized entry joining benchNames must fail loudly, not
    // silently flatter the bench record with a cache read
    val headliner = SparkEntry.benchNames.head
    val e = intercept[IllegalArgumentException] {
      operators.FixtureMemo.assertNotBenchHeadliner(headliner)
    }
    assert(e.getMessage.contains(headliner))
    // every CURRENT memo user passes the guard
    operators.FixtureMemo.assertNotBenchHeadliner("dedup_cc_persist")
    operators.FixtureMemo.assertNotBenchHeadliner("text_bm25_persist")
    // a memo is refused when ANY entry it declares is a headliner (here
    // the second one), and before its build can run
    var built = false
    val e2 = intercept[IllegalArgumentException] {
      operators.FixtureMemo("graft_bridge_spec#headliner", Seq("dedup_cc_persist", headliner),
          spark) { built = true; spark.range(1).toDF() }
    }
    assert(e2.getMessage.contains(headliner))
    assert(!built, "the bench guard must fire before the memo builds")
  }
}
