package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: dump `.explain("formatted")` of registered queries.
  *
  * `sbt "runMain graft.PlanDump plans/r16 before [names…]"` writes one
  * file per query — the before/after plan evidence an optimization
  * round commits under `plans/<round>/`; `sbt "runMain graft.PlanDump
  * q10_flagship …"` (the first argument a registered name) prints the
  * plans to stdout instead. With no names, dumps every Bench
  * headliner. The fixture is SPARK_GRAFT_SF_DIR (default sf0.01), and
  * the session mirrors Bench's config (local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cpus, AQE on) so the captured initial plan is
  * the one the bench executes. Queries whose entry REPLAYS work eagerly
  * (changelog replays, fixpoint loops) still dump the plan of the
  * returned frame — the final leg — which is the comparable artifact
  * for those entries. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val toStdout = args.isEmpty || SparkEntry.queries.contains(args(0))
    require(toStdout || args.length >= 2,
      "usage: PlanDump [queryName…] | PlanDump <outDir> <suffix> [queryName…]")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = if (toStdout) None
      else Some(java.nio.file.Files.createDirectories(java.nio.file.Paths.get(args(0))))
    val named = if (toStdout) args.toSeq else args.drop(2).toSeq
    val names = if (named.nonEmpty) named else SparkEntry.benchNames
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, d)
        val txt = s"-- $name @ $d (shuffle=$cpus, AQE initial plan)\n" +
          df.queryExecution.explainString(FormattedMode)
        outDir match {
          case None => println(txt)
          case Some(out) =>
            val file = out.resolve(s"${name}_${args(1)}.txt")
            java.nio.file.Files.write(file, txt.getBytes("UTF-8"))
            println(s"[plandump] $name -> $file")
        }
      } catch { case e: Throwable =>
        println(s"[plandump] $name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
