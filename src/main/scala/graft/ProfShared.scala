package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.{DeltaEngine, IncrementalQueries}

/** Scratch profiler: per-stage cost of the shared-dimension tree. */
object ProfShared {
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
      println(f"[psh] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val logs = IncrementalQueries.sharedDimChangelogs(spark, d)
      time("changelogs count") {
        logs.values.map(_.queryExecution.toRdd.count()).sum
      }
      val stages = IncrementalQueries.sharedDimStages
      for (k <- 1 to stages.size) {
        val stats = scala.collection.mutable.Buffer[DeltaEngine.NodeStats]()
        val n = time(s"depth $k (${stages(k - 1).name})") {
          DeltaEngine.runTree(stages.take(k), logs, stats = Some(stats))
            .queryExecution.toRdd.count()
        }
        println(s"      rows out: $n; " + stats.map(s =>
          s"${s.relation}: ${s.events.value}ev->${s.emitted.value}em").mkString(", "))
      }
      time("full incremental_shared_dim") {
        SparkEntry.queries("incremental_shared_dim")(spark, d).queryExecution.toRdd.count()
      }
    }
    spark.stop()
  }
}
