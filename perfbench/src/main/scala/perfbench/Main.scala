package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> [--smoke] [--break-view]
  * }}}
  *
  * `--work` holds the generated tables (reused across runs), the run's
  * scratch directory and the trace files. The last stdout line is the
  * result JSON; exit code 1 when the correctness check fails. */
object Main {
  val Names: Seq[String] =
    Seq("q10_bulk", "q10_stream_leaf", "q10_stream_fanout", "recursive_paths")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Names.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace takes 0 or 1, not '$t'")
    }
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val smoke = opts.contains("smoke")
    // The stream workloads bootstrap sf0.01: their ops cost the same at
    // sf0.1 (fixed per-batch overhead), but an sf0.1 bootstrap takes
    // 25-40 s, more than a run can spend on set-up.
    val sf = if (smoke) 0.001 else if (workload.startsWith("q10_stream")) 0.01 else 0.1
    val runDir = work.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)

    val sched = new SchedulerListener
    val progress = new ProgressListener
    var current: SparkSession = null
    def session(): SparkSession = {
      if (current != null) current.stop()
      current = SparkSession.builder()
        .appName(s"perfbench-$workload")
        .master(s"local[$cores]")
        // as graft.Bench builds its session; state-store settings stay
        // at Spark's defaults
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", runDir.resolve("local").toString)
        .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
        .getOrCreate()
      current.sparkContext.setLogLevel("ERROR")
      if (trace) {
        current.sparkContext.addSparkListener(sched)
        current.streams.addListener(progress)
      }
      current
    }

    val code =
      try {
        val t = System.nanoTime()
        val dir = DataGen.ensure(() => session(), work.resolve("data"), sf).toString
        val dataS = (System.nanoTime() - t) / 1e9
        val tracer = new Tracer
        tracer.on = trace
        val ctx = new Ctx(() => session(), dir, seed, seconds, smoke,
          opts.contains("break-view"), trace, tracer, runDir)
        val out = workload match {
          case "q10_bulk" => Workloads.q10Bulk(ctx)
          case "q10_stream_leaf" => Workloads.q10Stream(ctx, fanout = false)
          case "q10_stream_fanout" => Workloads.q10Stream(ctx, fanout = true)
          case "recursive_paths" => Workloads.recursivePaths(ctx)
        }
        val env = environment(current, cores, dir, seed, dataS)
        // stopping the context drains the listener bus
        current.stop()
        current = null

        val attempted = out.ops.size
        val failed = if (out.correct) 0 else attempted
        val metrics =
          if (trace) Report.perLayer(out, sched, progress, cores)
          else Report.endToEnd(out)
        val results = work.resolve("results")
        Files.createDirectories(results)
        val stem = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
        Files.writeString(results.resolve(s"$stem.json"),
          Report.record(workload, seed, seconds, out, env, metrics))
        if (trace) Files.writeString(results.resolve(s"$stem-spans.json"), tracer.json)
        System.err.println(s"[perfbench] $workload seed $seed: ${out.detail}; " +
          s"inputs: ${out.inputs} (digest ${out.inputsDigest}); ${out.ops.size} ops; " +
          s"record: ${results.resolve(s"$stem.json")}")
        println(Report.resultLine(out.correct, attempted, failed, metrics))
        if (out.correct) 0 else 1
      } finally {
        if (current != null) current.stop()
        Fs.deleteTree(runDir)
      }
    if (code != 0) sys.exit(code)
  }

  private def environment(spark: SparkSession, cores: Int, dir: String, seed: Long,
                          dataS: Double): Seq[(String, String)] = Seq(
    "nproc" -> cores.toString,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "jvm_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
    "spark_version" -> spark.version,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "data" -> dir,
    "seed" -> seed.toString,
    "data_s" -> dataS.toString,
    "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "state_store" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass",
      "default"))

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("smoke", "break-view")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case k :: tail if k.startsWith("--") && flags(k.drop(2)) => go(tail, acc + (k.drop(2) -> ""))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
      case other => usage(s"cannot parse arguments at '${other.mkString(" ")}'")
    }
    go(args.toList, Map.empty)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> " +
      s"--cores <n> --work <dir> [--smoke] [--break-view]; workloads: ${Names.mkString(", ")}")
    sys.exit(2)
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
