package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the `private[sql]` Column↔Expression converters that
  * Spark 4 moved behind `org.apache.spark.sql.classic.ExpressionUtils`
  * (columnNodeSupport.scala). Extension libraries that define native
  * Catalyst expressions need exactly these two hops; placing the
  * bridge inside the `org.apache.spark.sql` package is the standard
  * technique (same as spark-packages like sedona/delta do).
  */
object GraftBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Apply the function injections of a SparkSessionExtensions to a
    * registry (what session construction does with
    * `spark.sql.extensions`; `registerFunctions` is `private[sql]`).
    * Test seam for extension classes. */
  def applyInjectedFunctions(
      ext: SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(registry)

  /** Eager local checkpoint that FUSES the materialization action with
    * the row count and byte measurement, and hands the planner the
    * EXACT statistics of the materialized rows.
    *
    * `df.localCheckpoint(true)` runs one job to materialize and — for
    * a caller that needs the row count, as every fixpoint loop does
    * for its emptiness probe — a SECOND job (a fresh Aggregate plan
    * over the checkpointed RDD) to count. This fuses them: the single
    * materializing job sums rows and UnsafeRow bytes per partition,
    * so a loop pays ONE job per round for checkpoint + count.
    *
    * The returned frame's `LogicalRDD` carries
    * `Statistics(sizeInBytes = measured bytes, rowCount = exact)`
    * instead of the session default (conservatively `Long.MaxValue`
    * for RDD-backed plans): joins against the frame plan their
    * strategy from REAL sizes — a frame under
    * `spark.sql.autoBroadcastJoinThreshold` broadcasts at planning
    * time with no hint and no AQE detour, and a wide-row frame past
    * the threshold never builds a runaway broadcast no matter its row
    * count (the byte-accurate form of a count-gated broadcast hint).
    *
    * Physical output partitioning/ordering are preserved exactly as
    * `Dataset.localCheckpoint` preserves them (first leaf of a
    * `PartitioningCollection`; under AQE both read as unknown — same
    * as the built-in path). Constraints are carried over when the
    * origin plan offers them. */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    // defaultSize-based fallback for the rare non-UnsafeRow row
    val fallbackWidth =
      math.max(8L, qe.analyzed.output.map(_.dataType.defaultSize.toLong).sum)
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    // ONE job: computing the per-partition sums populates the
    // localCheckpoint's cached blocks (getOrElseUpdate materializes
    // each partition before iterating it)
    val (n, bytes) = rdd.mapPartitions { it =>
      var c = 0L
      var b = 0L
      it.foreach { r =>
        c += 1
        b += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => fallbackWidth
        })
      }
      Iterator.single((c, b))
    }.collect().foldLeft((0L, 0L)) { case ((c1, b1), (c2, b2)) =>
      (c1 + c2, b1 + b2)
    }
    val stats = Statistics(
      sizeInBytes = BigInt(math.max(bytes, 1L)),
      rowCount = Some(BigInt(n)))
    // constraints ride along as in Dataset.checkpoint; stats do NOT
    // (ours are exact, the origin's are estimates)
    val constraints =
      try LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)._2
      catch { case _: Throwable => None }
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other => other
    }
    val executed = qe.executedPlan
    val plan = LogicalRDD(ds.logicalPlan.output, rdd,
      firstLeaf(executed.outputPartitioning), executed.outputOrdering,
      isStreaming = false, None)(session, Some(stats), constraints)
    (classic.Dataset.ofRows(session, plan), n)
  }

  /** [[localCheckpointCounted]] for callers that don't need the count
    * (loop-invariant helper frames): same single job, exact stats. */
  def localCheckpointStats(df: DataFrame): DataFrame =
    localCheckpointCounted(df)._1

  /** The RDDs behind every `LogicalRDD` leaf of `df`'s analyzed plan,
    * subqueries and resolved temp views included: the RDDs executing
    * `df` reads directly. A caller that frees checkpoints it created
    * must keep these — a local checkpoint's blocks are never
    * recomputed, so freeing one that a live plan still reads fails
    * that plan's next job. */
  def rddsRead(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd }

  /** Register a function builder into an EXISTING session's registry
    * (`sessionState` is `private[sql]`; new sessions should prefer
    * `spark.sql.extensions=graft.GraftExtensions`). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
