package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.{DeltaEngine, IncrementalQueries}

/** Scratch profiler: per-node cost of the incremental Q10 tree. */
object ProfIQ10 {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[piq] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val logs = IncrementalQueries.q10Changelogs(spark, d)
      time("changelogs count") {
        logs.values.map(_.queryExecution.toRdd.count()).sum
      }
      val tree = IncrementalQueries.q10Tree
      for (k <- 1 to tree.size) {
        time(s"tree depth $k (${tree(k - 1).relation})") {
          DeltaEngine.runBatch(tree.take(k), logs)
            .queryExecution.toRdd.count()
        }
      }
      time("full incremental_q10") {
        SparkEntry.queries("incremental_q10")(spark, d).queryExecution.toRdd.count()
      }
    }
    spark.stop()
  }
}
