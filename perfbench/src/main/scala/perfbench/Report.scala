package perfbench

/** Turns a workload's [[Outcome]] (and, on traced runs, the listeners'
  * counters) into the named metrics of BENCHMARK.json. */
object Report {
  import Workloads.median

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "events_per_s" -> "1/s", "op_cpu_ms" -> "ms")

  /** Stateful operators of the Q10 stream plan, reported one by one. */
  val StateNodes = 4

  private val stateFields = Seq(
    "commit_ms" -> "ms", "updates_ms" -> "ms", "rows_total" -> "count",
    "rows_updated" -> "count", "memory_bytes" -> "bytes")

  /** Every per-layer metric, in BENCHMARK.json order. A traced run
    * reports all of them; a layer the workload does not touch reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "SqlCompiler.compile_ms" -> "ms",
    "plan.ms" -> "ms",
    "changelog.events" -> "count", "changelog.ms" -> "ms", "changelog.row_bytes" -> "bytes",
    "DeltaEngine.ms" -> "ms", "DeltaEngine.leaf_deltas" -> "count",
    "DeltaEngine.useful_ratio" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.records" -> "count",
    "shuffle.bytes_per_event" -> "bytes", "spill.bytes" -> "bytes",
    "aggregate.ms" -> "ms", "aggregate.groups" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.busy_ratio" -> "ratio",
    "microbatch.batches" -> "count",
    "microbatch.queryPlanning_ms" -> "ms", "microbatch.addBatch_ms" -> "ms",
    "microbatch.walCommit_ms" -> "ms", "microbatch.commitOffsets_ms" -> "ms") ++
    stateFields.map { case (f, u) => s"state.$f" -> u } ++
    (0 until StateNodes).flatMap(n => stateFields.map { case (f, u) => s"state.$f.node$n" -> u }) ++
    Seq("state_mb" -> "MB",
      "RecursiveSql.rounds" -> "count", "RecursiveSql.delta_rows" -> "count",
      "RecursiveSql.compactions" -> "count", "RecursiveSql.jobs_per_round" -> "count",
      "RecursiveSql.ms_per_round" -> "ms",
      "op_fail_ratio" -> "ratio",
      "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms",
      "trace.overhead_ms" -> "ms")

  def endToEnd(out: Outcome): Seq[(String, Double, String)] = {
    val values = Map(
      "setup_s" -> median(out.setupS),
      "op_p50_ms" -> median(out.ops.map(_.ms)),
      // median of the per-op rates: one slow op moves it no more than
      // it moves op_p50_ms
      "events_per_s" -> median(out.ops.map(o => o.events * 1000.0 / o.ms)),
      // the compute an op costs; CPU time the machine withholds from the
      // JVM (steal) counts in op_p50_ms but not here
      "op_cpu_ms" -> median(out.ops.map(_.cpuMs)))
    EndToEnd.map { case (n, u) => (n, values(n), u) }
  }

  def perLayer(out: Outcome, sched: SchedulerListener, progress: ProgressListener,
               cores: Int): Seq[(String, Double, String)] = {
    val traced = out.ops.filter(_.traced)
    val ops = if (traced.nonEmpty) traced else out.ops
    def perOp(f: Op => Double): Double = median(ops.map(f))
    def acc(op: Op) = op.tags.flatMap(sched.byTag.get)
    def sumAcc(op: Op)(f: sched.Acc => Long): Double = acc(op).map(f).sum.toDouble
    val progressOf: Op => Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      op => op.tags.flatMap(progress.byBatch.get)
    def duration(op: Op, k: String): Double =
      progressOf(op).map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def state(op: Op, field: String, node: Option[Int]): Double = {
      val ps = progressOf(op)
      def of(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.stateOperators.indices.filter(i => node.forall(_ == i)).map(p.stateOperators(_))
      field match {
        // levels: read after the op's last batch
        case "rows_total" => ps.lastOption.map(of(_).map(_.numRowsTotal.toDouble).sum).getOrElse(0.0)
        case "memory_bytes" =>
          ps.lastOption.map(of(_).map(_.memoryUsedBytes.toDouble).sum).getOrElse(0.0)
        // work: summed over the op's batches
        case "commit_ms" => ps.map(of(_).map(_.commitTimeMs.toDouble).sum).sum
        case "updates_ms" => ps.map(of(_).map(_.allUpdatesTimeMs.toDouble).sum).sum
        case "rows_updated" => ps.map(of(_).map(_.numRowsUpdated.toDouble).sum).sum
      }
    }
    val untraced = out.ops.filterNot(_.traced).map(_.ms)
    val rounds = out.layers.getOrElse("RecursiveSql.rounds", 0.0)
    val measured: Map[String, Double] = out.layers ++ Map(
      "shuffle.write_bytes" -> perOp(sumAcc(_)(_.shuffleBytes)),
      "shuffle.records" -> perOp(sumAcc(_)(_.shuffleRecords)),
      "shuffle.bytes_per_event" -> perOp(o => sumAcc(o)(_.shuffleBytes) / o.events),
      "spill.bytes" -> perOp(sumAcc(_)(_.spillBytes)),
      "spark.jobs" -> perOp(sumAcc(_)(_.jobs)),
      "spark.stages" -> perOp(sumAcc(_)(_.stages)),
      "spark.tasks" -> perOp(sumAcc(_)(_.tasks)),
      "spark.executor_run_ms" -> perOp(sumAcc(_)(_.runMs)),
      "spark.scheduler_delay_ms" -> perOp(sumAcc(_)(_.schedulerDelayMs)),
      "spark.busy_ratio" -> perOp(o => sumAcc(o)(_.runMs) / (o.ms * cores)),
      "microbatch.batches" -> perOp(progressOf(_).size.toDouble),
      "microbatch.queryPlanning_ms" -> perOp(duration(_, "queryPlanning")),
      "microbatch.addBatch_ms" -> perOp(duration(_, "addBatch")),
      "microbatch.walCommit_ms" -> perOp(duration(_, "walCommit")),
      "microbatch.commitOffsets_ms" -> perOp(duration(_, "commitOffsets")),
      "state_mb" -> out.stateBytes / 1048576.0,
      "RecursiveSql.jobs_per_round" ->
        (if (rounds > 0) perOp(sumAcc(_)(_.jobs)) / rounds else 0.0),
      "op_fail_ratio" -> (if (out.correct) 0.0 else 1.0),
      "trace.op_p50_ms" -> median(traced.map(_.ms)),
      "trace.untraced_op_p50_ms" -> median(untraced),
      "trace.overhead_ms" -> (median(traced.map(_.ms)) - median(untraced))) ++
      stateFields.map { case (f, _) => s"state.$f" -> perOp(state(_, f, None)) } ++
      (0 until StateNodes).flatMap(n => stateFields.map { case (f, _) =>
        s"state.$f.node$n" -> perOp(state(_, f, Some(n))) })
    PerLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString("{", ", ", "}")

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metricsJson(metrics)}}"""

  /** The full record of one run: inputs, environment, every sample. */
  def record(workload: String, seed: Long, seconds: Double, out: Outcome,
             env: Seq[(String, String)], metrics: Seq[(String, Double, String)]): String =
    Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "seconds" -> num(seconds),
      "inputs" -> str(out.inputs), "inputs_digest" -> str(out.inputsDigest),
      "correct" -> out.correct.toString, "check" -> str(out.detail),
      "environment" -> env.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}"),
      "setup_s" -> out.setupS.map(num).mkString("[", ", ", "]"),
      "op_ms" -> out.ops.map(o => num(o.ms)).mkString("[", ", ", "]"),
      "op_cpu_ms" -> out.ops.map(o => num(o.cpuMs)).mkString("[", ", ", "]"),
      "op_traced" -> out.ops.map(_.traced).mkString("[", ", ", "]"),
      "metrics" -> metricsJson(metrics))
      .map { case (k, v) => s"  ${str(k)}: $v" }.mkString("{\n", ",\n", "\n}\n")
}
