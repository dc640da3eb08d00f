package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.streaming.{DeltaEngine, RecursiveSql, SqlCompiler}
import graft.streaming.DeltaEngine.Evt
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload run needs from [[Main]]. `session()` starts a
  * fresh SparkSession (stopping the previous one): each set-up
  * repetition starts from no session at all. */
final class Ctx(val session: () => SparkSession, val dir: String, val seed: Long,
                val seconds: Double, val smoke: Boolean, val breakView: Boolean,
                val trace: Boolean, val tracer: Tracer, val runDir: Path) {
  /** Runs `setup` `reps` times (once in smoke mode); setup_s is the
    * median. The first repetition also pays the JVM's cold start. */
  def repeat(reps: Int)(setup: () => Double): Seq[Double] =
    Seq.fill(if (smoke) 1 else reps)(setup())
}

/** One timed op: wall time, input events it consumed, the scheduler
  * tags its jobs ran under, whether its spans were recorded, and the
  * CPU time the whole process spent during it. */
final case class Op(ms: Double, events: Long, tags: Seq[String], traced: Boolean = false,
                    cpuMs: Double = 0.0)

final case class Outcome(
    setupS: Seq[Double],
    ops: Seq[Op],
    correct: Boolean,
    detail: String,
    inputs: String,
    inputsDigest: String,
    /** Per-layer numbers the workload measured itself (spans, counts);
      * scheduler and micro-batch layers are added from the listeners. */
    layers: Map[String, Double],
    /** State-store bytes held after the last op (stream workloads). */
    stateBytes: Long = 0L)

object Q10 {
  /** The Q10 text of the repository's `incremental_sql_q10_stream`. */
  val Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation, customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      | AND c_nationkey = n_nationkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      | AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  val Relations: Seq[String] = Seq("nation", "customer", "orders", "lineitem")

  /** Plain Spark SQL of the same statement over the given survivor
    * tables, in a session of its own. */
  def oracle(spark: SparkSession, dir: String,
             survivors: String => DataFrame => DataFrame): Seq[String] = {
    val s = spark.newSession()
    Relations.foreach(rel => survivors(rel)(Tables.load(s, dir, rel)).createOrReplaceTempView(rel))
    rowsOf(s.sql(Sql))
  }

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
}

object Workloads {
  /** Untimed `q10_bulk` ops after the checked one, before timing: the
    * JIT is still compiling the pipeline for several ops. */
  private val BulkWarmups = 3

  private def now: Long = System.nanoTime()
  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def secsSince(t: Long): Double = (now - t) / 1e9
  private def msSince(t: Long): Double = (now - t) / 1e6

  /** Runs `op(i)` for `seconds` (at least once, at most `maxOps`) and
    * tags each op's jobs with its id. A traced run records spans on odd
    * ops only, so the even ops measure the same loop without them: the
    * difference is tracing overhead. */
  private def timedLoop(ctx: Ctx, spark: () => SparkSession, maxOps: Int)(
      op: Int => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val deadline = now + (ctx.seconds * 1e9).toLong
    while (ops.size < maxOps && (ops.isEmpty || now < deadline)) {
      val i = ops.size
      ctx.tracer.op = i
      ctx.tracer.on = ctx.trace && i % 2 == 1
      spark().sparkContext.setLocalProperty(SchedulerListener.OpProperty, i.toString)
      val cpu = processCpuNs()
      val o = op(i)
      ops += o.copy(traced = ctx.tracer.on, cpuMs = (processCpuNs() - cpu) / 1e6)
    }
    ctx.tracer.op = -1
    ctx.tracer.on = ctx.trace
    spark().sparkContext.setLocalProperty(SchedulerListener.OpProperty, null)
    ops.toSeq
  }

  private def compare(what: String, got: Seq[String], want: Seq[String],
                      breakView: Boolean): (Boolean, String) = {
    // the benchmark's own tests prove the check fires by dropping a row
    val seen = if (breakView) got.drop(1) else got
    if (want.isEmpty) (false, s"$what: the reference is empty, nothing was checked")
    else if (seen == want) (true, s"$what: ${want.size} rows equal the reference")
    else {
      val (extra, missing) = (seen.diff(want), want.diff(seen))
      (false, s"$what: ${seen.size} rows vs ${want.size} in the reference; " +
        s"unexpected ${extra.take(3).mkString("[", "; ", "]")}, " +
        s"missing ${missing.take(3).mkString("[", "; ", "]")}")
    }
  }

  // ---------------------------------------------------------------- bulk

  def q10Bulk(ctx: Ctx): Outcome = {
    import ctx.tracer.span
    val del = Inputs.bulkDeletes(ctx.seed)
    val deletes = Map("orders" -> expr(del.orders), "lineitem" -> expr(del.lineitem))
    var spark: SparkSession = null
    var c: SqlCompiler.Compiled = null
    def setup(): Double = {
      val t = now
      spark = ctx.session()
      c = span("SqlCompiler.compile")(SqlCompiler.compile(spark, ctx.dir, Q10.Sql))
      secsSince(t)
    }
    val setups = ctx.repeat(5)(() => setup())

    val groups = mutable.ArrayBuffer.empty[Long]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    def build(): DataFrame =
      if (!ctx.tracer.on) c.run(spark, ctx.dir, deletes)
      else {
        // the two calls `run` makes, split so each gets its own span
        val leaf = span("Compiled.leafDeltas")(c.leafDeltas(spark, ctx.dir, deletes))
        span("Compiled.aggregate")(c.aggregate(leaf.toDF()))
      }
    // untimed: the reference answer and the op's input size, and the
    // check of one full build, which is also the first JIT warm-up op
    ctx.tracer.on = false
    val survivors: String => DataFrame => DataFrame = rel => df =>
      deletes.get(rel).map(d => df.filter(!d)).getOrElse(df)
    val want = Q10.oracle(spark, ctx.dir, survivors)
    val (ok, detail) = compare("q10 view", Q10.rowsOf(c.run(spark, ctx.dir, deletes)), want,
      ctx.breakView)
    val events = Q10.Relations.map { rel =>
      val base = Tables.load(spark, ctx.dir, rel)
      base.count() + deletes.get(rel).map(d => base.filter(d).count()).getOrElse(0L)
    }.sum
    if (!ctx.smoke) (1 to BulkWarmups).foreach(_ => c.run(spark, ctx.dir, deletes).queryExecution.toRdd.count())

    val ops = timedLoop(ctx, () => spark, maxOps = if (ctx.smoke) 2 else Int.MaxValue) { i =>
      val t = now
      val n = span("op") {
        val df = build()
        span("plan")(df.queryExecution.executedPlan)
        span("execute")(df.queryExecution.toRdd.count())
      }
      val ms = msSince(t)
      groups += n
      if (ctx.tracer.on) layers += probeBulk(ctx, spark, c, deletes, i)
      Op(ms, events, Seq(s"o$i"))
    }
    val badCounts = groups.count(_ != want.size)
    Outcome(setups, ops, ok && badCounts == 0,
      if (badCounts == 0) detail else s"$detail; $badCounts ops returned a wrong group count",
      s"deletes: orders where ${del.orders}; lineitem where ${del.lineitem}",
      Inputs.digest("q10_bulk", del.orders, del.lineitem),
      medianLayers(layers.toSeq) ++ Map(
        "SqlCompiler.compile_ms" -> median(ctx.tracer.spans.filter(_.name == "SqlCompiler.compile").map(_.ms)),
        "aggregate.groups" -> median(groups.map(_.toDouble).toSeq)))
  }

  /** Traced runs only, after the op's timing ends: re-runs the op's
    * prefixes as single jobs, so its time splits into ingest
    * (changelogs alone), engine (leaf deltas minus changelogs) and fold
    * (the aggregate over the collected leaf deltas). */
  private def probeBulk(ctx: Ctx, spark: SparkSession, c: SqlCompiler.Compiled,
                        deletes: Map[String, org.apache.spark.sql.Column],
                        i: Int): Map[String, Double] = {
    import ctx.tracer.span
    spark.sparkContext.setLocalProperty(SchedulerListener.OpProperty, s"p$i")
    val t = now
    val ingest = span("probe.changelog") {
      val logs = span("Compiled.sourceChangelogs")(c.sourceChangelogs(spark, ctx.dir, deletes))
      logs.values.map(_.select(length(col("row")).as("n"))).reduce(_ union _)
        .agg(count(lit(1)), sum(col("n"))).head()
    }
    val changelogMs = msSince(t)
    val t2 = now
    val leaf = span("probe.leafDeltas")(c.leafDeltas(spark, ctx.dir, deletes).collect())
    val leafMs = msSince(t2)
    val t3 = now
    span("probe.aggregate") {
      val ss = spark
      import ss.implicits._
      c.aggregate(ss.createDataset(leaf.toSeq).toDF()).queryExecution.toRdd.count()
    }
    val aggregateMs = msSince(t3)
    spark.sparkContext.setLocalProperty(SchedulerListener.OpProperty, i.toString)
    val events = ingest.getLong(0)
    Map("changelog.events" -> events.toDouble, "changelog.ms" -> changelogMs,
      "changelog.row_bytes" -> ingest.getLong(1).toDouble,
      "DeltaEngine.ms" -> (leafMs - changelogMs), "DeltaEngine.leaf_deltas" -> leaf.length.toDouble,
      "DeltaEngine.useful_ratio" -> leaf.length.toDouble / events,
      "aggregate.ms" -> aggregateMs, "plan.ms" -> ctx.tracer.msIn("plan", i))
  }

  // -------------------------------------------------------------- stream

  /** `q10_stream_leaf` (1,000 lineitem toggles per op) or
    * `q10_stream_fanout` (2 nation and 100 customer toggles per op). */
  def q10Stream(ctx: Ctx, fanout: Boolean): Outcome = {
    import ctx.tracer.span
    val perOp = if (fanout) Map("nation" -> 2, "customer" -> 100) else Map("lineitem" -> 1000)
    val name = if (fanout) "q10_stream_fanout" else "q10_stream_leaf"
    var spark: SparkSession = null
    var c: SqlCompiler.Compiled = null
    var logs: Map[String, Array[Evt]] = Map.empty
    var streams: Map[String, org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Evt]] =
      Map.empty
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    // the view the benchmark holds: every leaf delta the query emitted,
    // by batch id; the maintained answer is `aggregate` over them
    val held = mutable.LinkedHashMap.empty[Long, Array[Evt]]
    var rep = 0
    def setup(): Double = {
      if (query != null) query.stop()
      held.clear()
      rep += 1
      val t = now
      spark = ctx.session()
      val ss = spark
      implicit val sq: org.apache.spark.sql.SQLContext = ss.sqlContext
      import ss.implicits._
      c = span("SqlCompiler.compile")(SqlCompiler.compile(spark, ctx.dir, Q10.Sql))
      val raw = span("Compiled.sourceChangelogs")(
        c.sourceChangelogs(spark, ctx.dir, filtered = false))
      logs = span("changelog.collect")(raw.map { case (rel, ds) => rel -> ds.collect() })
      streams = logs.keys.map(rel =>
        rel -> org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Evt]).toMap
      val leaf = span("Compiled.runStream")(c.runStream(streams.map { case (r, ms) => r -> ms.toDS() }))
      // all rows are in the sources before the query starts, so the
      // bootstrap is exactly one micro-batch
      logs.foreach { case (rel, evs) => streams(rel).addData(evs.toSeq) }
      span("bootstrap") {
        query = leaf.writeStream
          .option("checkpointLocation", ctx.runDir.resolve(s"checkpoint-$rep").toString)
          .foreachBatch { (b: Dataset[Evt], id: Long) =>
            val rows = b.collect()
            held.synchronized { held(id) = rows }
            ()
          }
          .start()
        query.processAllAvailable()
      }
      secsSince(t)
    }
    // one repetition: a set-up bootstraps the whole view
    val setups = ctx.repeat(1)(() => setup())

    // untimed input generation: indices into the raw changelogs, sorted
    // so that an index does not depend on scan order
    logs = logs.map { case (rel, evs) => rel -> evs.sortBy(_.row) }
    val maxOps = if (ctx.smoke) 3 else 300
    val toggles = Inputs.toggles(ctx.seed, logs.map { case (r, a) => r -> a.length }, perOp, maxOps)
    val leafCounts = mutable.ArrayBuffer.empty[Long]
    val qid = query.id.toString
    val ops = timedLoop(ctx, () => spark, maxOps = maxOps) { i =>
      val evs = toggles(i).groupBy(_.rel).map { case (rel, ts) =>
        rel -> ts.map { t =>
          val e = logs(rel)(t.index)
          Evt(i + 1L, fromParent = false, if (t.delete) -1 else 1, 1, e.key, e.row)
        }
      }
      val before = held.synchronized(held.keySet.toSet)
      val t = now
      span("op") {
        evs.foreach { case (rel, es) => streams(rel).addData(es) }
        query.processAllAvailable()
      }
      val ms = msSince(t)
      val batches = held.synchronized(held.keySet.toSet -- before).toSeq.sorted
      leafCounts += batches.map(b => held.synchronized(held(b)).length.toLong).sum
      Op(ms, evs.values.map(_.size.toLong).sum, batches.map(SchedulerListener.batchTag(qid, _)))
    }
    val stateBytes = Option(query.lastProgress).map(_.stateOperators.map(_.memoryUsedBytes).sum)
      .getOrElse(0L)
    query.stop()

    // untimed: fold the held deltas and check them against plain SQL
    // over the survivor tables (base rows minus those whose last event
    // was a delete)
    val heldRows = held.values.flatten.toSeq
    val t = now
    val view = span("Compiled.aggregate") {
      val ss = spark
      import ss.implicits._
      Q10.rowsOf(c.aggregate(ss.createDataset(heldRows).toDF()))
    }
    val aggregateMs = msSince(t)
    val lastDelete = mutable.HashMap.empty[(String, Int), Boolean]
    toggles.take(ops.size).foreach(_.foreach(tg => lastDelete((tg.rel, tg.index)) = tg.delete))
    val deleted: Map[String, Seq[String]] = lastDelete.toSeq.collect {
      case ((rel, idx), true) => rel -> logs(rel)(idx).row
    }.groupMap(_._1)(_._2)
    // A raw changelog row carries every column the query reads from its
    // relation, so removing one base row per deleted changelog row
    // (EXCEPT ALL on those columns) leaves exactly the survivor table.
    val survivors: String => DataFrame => DataFrame = rel => df =>
      deleted.get(rel) match {
        case None => df
        case Some(rows) =>
          val cols = DeltaEngine.uncanon(rows.head).keys.toSeq.sorted
          val schema = org.apache.spark.sql.types.StructType(cols.map(
            org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType)))
          val gone = df.sparkSession.createDataFrame(
            rows.map(r => { val m = DeltaEngine.uncanon(r); org.apache.spark.sql.Row(cols.map(m): _*) })
              .asJava, schema)
            .select(cols.map(c => col(c).cast(df.schema(c).dataType).as(c)): _*)
          df.select(cols.map(col): _*).exceptAll(gone)
      }
    val want = Q10.oracle(spark, ctx.dir, survivors)
    val (ok, detail) = compare("q10 view", view, want, ctx.breakView)
    val events = logs.values.map(_.length.toLong).sum
    val opEvents = ops.map(_.events.toDouble)
    val layers = Map(
      "SqlCompiler.compile_ms" -> median(ctx.tracer.spans.filter(_.name == "SqlCompiler.compile").map(_.ms)),
      "changelog.events" -> events.toDouble,
      "changelog.ms" -> median(ctx.tracer.spans.filter(_.name == "changelog.collect").map(_.ms)),
      "changelog.row_bytes" -> logs.values.map(_.map(_.row.length.toLong).sum).sum.toDouble,
      "DeltaEngine.leaf_deltas" -> median(leafCounts.map(_.toDouble).toSeq),
      "DeltaEngine.useful_ratio" -> leafCounts.sum.toDouble / opEvents.sum,
      "aggregate.ms" -> aggregateMs,
      "aggregate.groups" -> view.size.toDouble)
    Outcome(setups, ops, ok, detail,
      perOp.toSeq.sorted.map { case (r, k) => s"$k $r toggles" }.mkString(" + ") +
        s" per op, ${toggles.size} ops drawn",
      Inputs.digest(name, toggles), layers, stateBytes)
  }

  // ----------------------------------------------------------- recursive

  /** The bounded reachability statement of the repository's
    * `incremental_sql_recursive_paths`, from the seed's start nation. */
  def recursiveSql(nation: Int): String =
    s"""WITH RECURSIVE r AS (
       | SELECT 's' || CAST(s_suppkey AS STRING) AS node
       | FROM supplier WHERE s_nationkey = $nation
       | UNION
       | SELECT e.dst AS node FROM edges e JOIN r ON r.node = e.src
       |), edges AS (
       | SELECT 'c' || CAST(o_custkey AS STRING) AS src,
       |        's' || CAST(l_suppkey AS STRING) AS dst
       | FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       | UNION ALL
       | SELECT 's' || CAST(l_suppkey AS STRING) AS src,
       |        'c' || CAST(o_custkey AS STRING) AS dst
       | FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |)
       |SELECT node FROM r""".stripMargin

  /** Breadth-first search over the customer-supplier edge set. */
  private def bfs(spark: SparkSession, dir: String, nation: Int): Set[String] = {
    val edges = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")), concat(lit("s"), col("l_suppkey")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    val start = Tables.load(spark, dir, "supplier").filter(col("s_nationkey") === nation)
      .select(concat(lit("s"), col("s_suppkey"))).collect().map(_.getString(0)).toSet
    var seen = start
    var frontier = start
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[String])) -- seen
      seen ++= frontier
    }
    seen
  }

  def recursivePaths(ctx: Ctx): Outcome = {
    import ctx.tracer.span
    var spark: SparkSession = null
    def setup(): Double = {
      val t = now
      spark = ctx.session()
      // what a caller does before its first statement: the session and
      // the base tables' schemas
      Seq("supplier", "orders", "lineitem").foreach(t => Tables.load(spark, ctx.dir, t).schema)
      secsSince(t)
    }
    val setups = ctx.repeat(5)(() => setup())
    // untimed input generation and the reference answer
    val nation = Inputs.startNation(ctx.seed, Tables.load(spark, ctx.dir, "supplier")
      .select("s_nationkey").distinct().collect().map(_.getInt(0)).toSeq)
    val sql = recursiveSql(nation)
    val want = bfs(spark, ctx.dir, nation).toSeq.sorted
    // untimed: the check of one full fixpoint, which is also the JIT
    // warm-up op
    ctx.tracer.on = false
    val (ok, detail) = compare("reachable nodes",
      RecursiveSql.runWithStats(spark, ctx.dir, sql)._1.collect().map(_.getString(0)).toSeq.sorted,
      want, ctx.breakView)
    val input = Seq("supplier", "orders", "lineitem").map(t => Tables.load(spark, ctx.dir, t).count()).sum

    val stats = mutable.ArrayBuffer.empty[RecursiveSql.Stats]
    val sizes = mutable.ArrayBuffer.empty[Long]
    val ops = timedLoop(ctx, () => spark, maxOps = if (ctx.smoke) 2 else Int.MaxValue) { i =>
      val t = now
      val n = span("op") {
        val (df, st) = span("RecursiveSql.runWithStats")(RecursiveSql.runWithStats(spark, ctx.dir, sql))
        span("plan")(df.queryExecution.executedPlan)
        stats += st
        span("execute")(df.queryExecution.toRdd.count())
      }
      sizes += n
      Op(msSince(t), input, Seq(s"o$i"))
    }
    val badCounts = sizes.count(_ != want.size)
    val rounds = stats.map(_.rounds.toDouble).toSeq
    Outcome(setups, ops, ok && badCounts == 0,
      if (badCounts == 0) detail else s"$detail; $badCounts ops returned a wrong node count",
      s"start nation $nation", Inputs.digest("recursive_paths", nation),
      Map(
        "plan.ms" -> median(ops.indices.filter(ops(_).traced).map(ctx.tracer.msIn("plan", _))),
        "RecursiveSql.rounds" -> median(rounds),
        "RecursiveSql.delta_rows" -> median(stats.map(_.deltaRows.toDouble).toSeq),
        "RecursiveSql.compactions" -> median(stats.map(_.compactions.toDouble).toSeq),
        "RecursiveSql.ms_per_round" -> median(ops.zip(stats).map { case (o, s) => o.ms / s.rounds })))
  }

  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-key median over ops of the probe maps. */
  private def medianLayers(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
}
