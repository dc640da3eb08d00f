package graft

import org.apache.spark.sql.SparkSession

/** Targeted per-query timing harness (dev tool, not the driver
  * surface): times the named queries SPARK_GRAFT_MINI_RUNS times
  * (default 4) each in one JVM on SPARK_GRAFT_SF_DIR (default sf0.1)
  * and prints every sample split into build (DataFrame construction:
  * SQL compile, plan build and any eager replay) and exec
  * (`queryExecution.toRdd.count()`, the plan as written, like Bench) —
  * the tool for isolating warm-floor questions like the r12
  * `ancestor_del` discrepancy without a full Bench run. With no names
  * it sweeps the whole registry. The cache is cleared before every
  * sample, so queries that cache or checkpoint (CDC lines, connected
  * components) do not distort later ones.
  *
  * `sbt "runMain graft.MiniBench incremental_q10 q10_flagship"` */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_MINI_RUNS", "4").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name => // warm-up on tiny
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case e: Throwable => System.err.println(s"warmup $name: ${e.getMessage}") }
    }
    (1 to n).foreach { r =>
      names.foreach { name =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        println(f"[mini] $name run$r build ${(t1 - t0) / 1e9}%.3f s exec ${(t2 - t1) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
