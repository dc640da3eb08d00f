package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.TempDirs.tempDir

/** PARTITIONED LAYOUT + PARTITION PRUNING — the other half of the scan
  * story beside bucketing (co-located joins) and Z-order (multi-dim
  * clustering): a Hive-style `partitionBy` directory layout, with the
  * two prunings that make a 100 TB table readable:
  *
  *  - STATIC pruning: a literal predicate on the partition column
  *    resolves to a directory subset at PLANNING time — the scan's
  *    `PartitionFilters` carries it and untouched years contribute
  *    zero I/O, zero tasks;
  *  - DYNAMIC partition pruning (DPP): when the partition column is
  *    joined to a FILTERED dimension, the qualifying partition keys are
  *    only known at RUN time — Spark injects a `dynamicpruning`
  *    subquery into the fact scan (reusing the dimension's broadcast),
  *    so the fact side still reads only the joined years. Both entries
  *    SELF-ASSERT their pruning from the physical plan, then hash-gate
  *    the answer — a layout regression fails the gate, not just a
  *    bench round.
  *
  * The reference engine has no partitioned storage concept (its S1
  * source is a flat text stream); this is Spark-native table layout,
  * written once per JVM to a temp dir from the fixture's lineitem.
  */
object Partitioning {

  /** One partitioned copy of lineitem per fixture dir per JVM:
    * `l_year=YYYY/` directories, plus the original columns. */
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def lineitemByYearRoot(s: SparkSession, d: String): String =
    roots.computeIfAbsent(d, _ => {
      val root = tempDir("graft_part_lineitem").toString
      Tables.lineitem(s, d)
        .withColumn("l_year", year(col("l_shipdate")))
        .write.mode("overwrite").partitionBy("l_year").parquet(root)
      root
    })

  private def yearTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(lineitemByYearRoot(s, d))

  val defs: Seq[GraftQuery] = Seq(
    // STATIC partition pruning: the year literal must appear in the
    // scan's PartitionFilters (planning-time directory pruning), NOT
    // as a post-scan row filter over all years.
    sql("partitioned_scan_prune",
      """SELECT l_returnflag,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_e2
        |FROM lineitem
        |WHERE EXTRACT(year FROM l_shipdate) = 1997
        |GROUP BY l_returnflag""".stripMargin) {
      (s, d) =>
        val df = yearTable(s, d)
          .filter(col("l_year") === 1997)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("l_quantity") * 100 + lit(0.5)).cast("long")).as("qty_e2"))
        val scan = df.queryExecution.executedPlan.toString
        require(scan.contains("PartitionFilters") &&
          scan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*1997[^\\]]*\\].*"),
          s"year literal must prune partitions at planning time:\n${scan.take(1200)}")
        df
    },

    // DYNAMIC partition pruning: the qualifying years come from a
    // FILTERED dimension (urgent orders of 1996-97), so the fact scan
    // cannot prune statically — the plan must carry a `dynamicpruning`
    // subquery on l_year instead, and the answer must equal the plain
    // join. The dimension broadcast is reused as the pruning filter —
    // at 100 TB this is the difference between scanning two years and
    // scanning the table.
    sql("partition_pruned_join",
      """SELECT y, COUNT(*) AS n_lines
        |FROM (SELECT EXTRACT(year FROM l_shipdate) AS ly, l_orderkey FROM lineitem) l
        |JOIN (SELECT DISTINCT EXTRACT(year FROM o_orderdate) AS y
        |      FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |       AND o_orderdate >= TIMESTAMP '1996-01-01'
        |       AND o_orderdate < TIMESTAMP '1998-01-01') d
        | ON l.ly = d.y
        |GROUP BY y""".stripMargin) {
      (s, d) =>
        val dim = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01")))
          .select(year(col("o_orderdate")).as("y")).distinct()
        val df = yearTable(s, d)
          .join(broadcast(dim), col("l_year") === col("y"))
          .groupBy(col("y"))
          .agg(count(lit(1)).as("n_lines"))
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruning"),
          s"fact scan must carry a dynamicpruning subquery on l_year:\n${plan.take(1200)}")
        df
    })
}
