package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.plans.MaterializedViewRewrite
import graft.TempDirs.tempDir

/** The MATERIALIZED-VIEW surface: build a pre-aggregated summary once,
  * register it ([[MaterializedViewRewrite]]'s session confs), and have
  * the optimizer answer raw-fact aggregate queries from it — query
  * text unchanged, plan switched from the fact scan to the summary
  * scan. See the rule's scaladoc for the subsumption scope.
  *
  * Reference: beyond-reference optimizer surface. The measure follows
  * the repo's integer-scaled money convention, so the MV partials
  * re-aggregate EXACTLY (BIGINT addition is associative) and the
  * rewritten answer sits behind the same value-hash gate as the raw
  * plan would.
  */
object MatViews {

  /** The ONE definition of the revenue measure — used in the MV build,
    * the registration, the user query, and (dialect-shared) the DuckDB
    * oracle, so all four agree by construction. */
  val RevenueMeasure =
    "CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)"

  /** Build the lineitem revenue MV (dims: returnflag × linestatus) in
    * `mvDir` and register it in `ss`'s session conf. */
  def buildAndRegister(ss: SparkSession, sfDir: String, mvDir: String): Unit = {
    Tables.lineitem(ss, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(expr(RevenueMeasure)).as("rev_e4"),
        count(lit(1)).as("cnt"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .write.mode("overwrite").parquet(mvDir)
    ss.conf.set(MaterializedViewRewrite.ViewsConf, "li_rev")
    ss.conf.set("spark.graft.mv.li_rev.source", s"$sfDir/lineitem.parquet")
    ss.conf.set("spark.graft.mv.li_rev.path", mvDir)
    ss.conf.set("spark.graft.mv.li_rev.dims", "l_returnflag,l_linestatus")
    ss.conf.set("spark.graft.mv.li_rev.agg.rev_e4", s"sum|$RevenueMeasure")
    ss.conf.set("spark.graft.mv.li_rev.agg.cnt", "count|*")
    ss.conf.set("spark.graft.mv.li_rev.agg.min_price", "min|l_extendedprice")
    ss.conf.set("spark.graft.mv.li_rev.agg.max_price", "max|l_extendedprice")
  }

  /** The user query — written against RAW lineitem; with the view
    * registered, the optimizer must answer it from the MV. */
  def revenueByFlag(ss: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(ss, sfDir)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(expr(RevenueMeasure)).as("revenue_e4"),
        count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  private def tempMvDir(): String = tempDir("graft_mv_li_rev").toString

  val defs: Seq[GraftQuery] = Seq(
    // Build → register → query raw → SELF-ASSERT the rewrite fired
    // (the optimized plan must scan the MV path, never the fact
    // table), then gate the VALUES against DuckDB running the same
    // query directly on raw lineitem — the full MV contract in one
    // row: answer-from-summary, answer-equal-to-raw.
    sql("mv_rewrite_revenue",
      s"""SELECT l_returnflag,
         | CAST(SUM($RevenueMeasure) AS BIGINT) AS revenue_e4,
         | COUNT(*) AS n_rows,
         | MIN(l_extendedprice) AS min_price,
         | MAX(l_extendedprice) AS max_price
         |FROM lineitem WHERE l_linestatus = 'F'
         |GROUP BY l_returnflag""".stripMargin) {
      (s, d) =>
        val ss = s.newSession()           // confs must not leak
        MaterializedViewRewrite.install(ss)
        val mvDir = tempMvDir()
        buildAndRegister(ss, d, mvDir)
        val df = revenueByFlag(ss, d)
        // the PHYSICAL plan names scan locations (the logical tree
        // string does not) — the MV path must be the only scan
        val physical = df.queryExecution.executedPlan.toString
        require(physical.contains(mvDir) && !physical.contains("lineitem.parquet"),
          s"MV rewrite did not fire — plan still scans the fact table:\n$physical")
        df
    },

    // INCREMENTAL MV REFRESH — the maintenance half of the MV
    // contract: SUM/COUNT partials are SELF-MAINTAINABLE, so a
    // changelog refreshes the summary with ONE aggregate over the
    // (small) change set plus ONE outer merge on the dims — no
    // re-scan of the unchanged fact data. The algebra: Δ-aggregate
    // signed measures (+insert/−delete), add onto the stored
    // partials, drop groups whose count nets to zero. (MIN/MAX are
    // NOT self-maintainable under deletes — a delete of the extreme
    // needs the group recomputed; that asymmetry is why this view
    // carries only the sum/count partials.) Gated against DuckDB
    // aggregating the post-change fact table directly, so the claim
    // is refresh ≡ rebuild.
    sql("mv_refresh_incremental",
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM($RevenueMeasure) AS BIGINT) AS rev_e4,
         | COUNT(*) AS cnt
         |FROM lineitem
         |WHERE NOT (l_orderkey % 50 <> 0 AND l_linenumber = 3)
         |GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        val dims = Seq(col("l_returnflag"), col("l_linestatus"))
        val li = Tables.lineitem(s, d)
        // yesterday's fact state and its MV
        val base = li.filter(col("l_orderkey") % 50 =!= 0)
        val mv0 = base.groupBy(dims: _*)
          .agg(sum(expr(RevenueMeasure)).as("rev0"), count(lit(1)).as("cnt0"))
        // today's changelog: new orders arrive, linenumber-3 rows are
        // corrected away
        val inserts = li.filter(col("l_orderkey") % 50 === 0)
          .select(dims :+ expr(RevenueMeasure).as("m") :+ lit(1L).as("sgn"): _*)
        val deletes = base.filter(col("l_linenumber") === 3)
          .select(dims :+ expr(RevenueMeasure).as("m") :+ lit(-1L).as("sgn"): _*)
        val delta = inserts.unionAll(deletes)
          .groupBy(dims: _*)
          .agg(sum(col("sgn") * col("m")).as("d_rev"), sum(col("sgn")).as("d_cnt"))
        mv0.join(delta, Seq("l_returnflag", "l_linestatus"), "full_outer")
          .select(col("l_returnflag"), col("l_linestatus"),
            (coalesce(col("rev0"), lit(0L)) + coalesce(col("d_rev"), lit(0L))).as("rev_e4"),
            (coalesce(col("cnt0"), lit(0L)) + coalesce(col("d_cnt"), lit(0L))).as("cnt"))
          .filter(col("cnt") > 0)
    })
}
