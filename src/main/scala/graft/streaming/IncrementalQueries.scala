package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.sources.CdcParser
import graft.streaming.DeltaEngine._
import graft.TempDirs.tempDir

/** The incremental (changelog) query surface, registered against the
  * correctness gate. An entry maintains a view under a
  * synthetic changelog (insert everything, then retract a delete set)
  * and is checked against a DuckDB oracle: plain SQL over the rows the
  * changelog leaves alive (the format round trips check their parsed
  * rows against the parquet columns instead). Incremental-equals-batch is exactly the AJU
  * correctness property (SURVEY.md §5.2).
  *
  * How a maintained view is declared:
  *
  *  - A SQL view compiled by [[SqlCompiler]] is declared ONCE through
  *    [[maintained]] (name, oracle, statement, deletes, twins). Any
  *    statement [[SqlCompiler.statement]] compiles qualifies: a plain
  *    SELECT, UNION ALL, UNION, INTERSECT/EXCEPT [ALL] or WITH. That
  *    registers the batch entry (the statement's refresh) and, per
  *    declared twin, a `_stream` entry (the same statement and deletes
  *    replayed as micro-batches through the continuous engine) and a
  *    `_tws` entry (the same replay on transformWithState). Every twin
  *    shares its base's oracle value, so stream-equals-batch holds by
  *    construction; `TwinMatrixSpec` checks the twin matrix and
  *    `RegistryContractSpec` pins every name and oracle.
  *  - An entry is written out by hand when it differs on purpose: a
  *    twin with its own oracle, statement or deletes (an extended
  *    select list, an extra delete), or a runner the declaration does
  *    not cover — ASOF, OVER branches, recursion ([[RecursiveSql]]),
  *    CDC/JSON/file sources, `foreachBatch` sinks, and the format
  *    round trips such as `cdc_roundtrip_lineitem`.
  *  - Every maintained join tree comes from a statement [[SqlCompiler]]
  *    compiles: a runner of its own (a CDC source, a sink, a TTL, a
  *    salted or re-oriented stage) reads the stages, routing keys,
  *    changelog columns, local predicates and fold from the compiled
  *    statement, never from a hand-written tree.
  *
  * How a continuous entry replays: every stream-gated entry, here and
  * in the operator and source registries, feeds its micro-batches
  * through [[replay]] (child session, fork-free checkpoints, one memory
  * stream per source, a memory or `foreachBatch` sink); the changelog
  * entries go through its [[Evt]] form, one micro-batch per changelog
  * seq value. [[replay]]'s scaladoc names the two entries that replay
  * by hand.
  *
  * Money folds in integer units (`revenue_e4` = 1e-4) so incremental
  * double-summation order can never drift from the decimal oracle.
  */
object IncrementalQueries {

  /** Shuffle/state partition count for the CHILD sessions the
    * stream-replay gate entries run in: chained stateful operators pin
    * one state-store instance per shuffle partition per operator per
    * micro-batch, so a two-batch fixture replay wants few partitions
    * (measured 16.4 s -> 8.3 s at sf0.1). One constant so the
    * fixture-replay entries can't drift apart; production guidance
    * unchanged — size state partitions to the data. */
  val ReplayShufflePartitions = 8

  /** Cap on the FIXTURE-ONLY MemoryStream replay collects (see
    * [[boundedReplayCollect]]). */
  val ReplayMaxRows = 2000000

  /** Typed lookup on the canonical row — the codegen'd byte-scan
    * (graft.functions.CanonGet) that replaced the per-row
    * `str_to_map(row)[name]` map build in every leaf-delta aggregate
    * (round 17; same swap as SqlCompiler.aggregate). */
  private def canonCol(name: String): org.apache.spark.sql.Column =
    graft.functions.CanonGet.canon_get(col("row"), name)

  /** Child session for a stream-replay gate entry, sized by
    * [[ReplayShufflePartitions]] — never mutates the caller's session. */
  def replaySession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", ReplayShufflePartitions)
    // FIXTURE-REPLAY state-store posture (round 17): these child
    // sessions run short-lived MemoryStream replays whose checkpoints
    // are throwaway temp dirs — the HDFS-backed store's background
    // maintenance (snapshot consolidation + old-version cleanup every
    // 60 s) and its 100-version retention exist for RECOVERY of
    // long-running production queries and are pure overhead here:
    // every store instance (one per shuffle partition per stateful
    // operator per query) schedules maintenance and rewrites snapshot
    // files it will never reread. (Hadoop's local file system does not
    // fsync; the measured per-file cost was chmod/readlink process
    // launches, which LocalCheckpointFs removes.) 2 m (not longer): the
    // maintenance thread is ALSO what unloads finished queries'
    // providers — a first try at 1 h let hundreds of finished replays'
    // providers pile up in the shared suite JVM and the suite wall
    // grew 18 -> 25 min; 2 m
    // still outlives a fixture replay (so zero mid-query churn) while
    // unloading promptly. Production guidance unchanged — a real
    // deployment keeps the defaults (or RocksDB) on its own sessions.
    ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    ss.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "2m")
    ss
  }

  /** FIXTURE-ONLY REPLAY GUARD shared by every MemoryStream-replay
    * entry: replay necessarily materializes its input on the driver,
    * so the collect is BOUNDED — limit+1 caps driver memory and the
    * require fails LOUDLY past fixture scale instead of silently
    * OOMing a production driver. Production use is the same operator
    * over a `readStream` source. */
  def boundedReplayCollect[T](entry: String, ds: org.apache.spark.sql.Dataset[T],
                              max: Int = ReplayMaxRows): Array[T] = {
    val collected = ds.limit(max + 1).collect()
    require(collected.length <= max,
      s"$entry is a fixture-scale replay harness (<= $max rows); for production " +
        "data run the operator over a readStream source instead of a MemoryStream replay")
    collected
  }

  /** Where a [[replay]] writes its query's output. */
  private[graft] sealed trait ReplaySink
  /** The memory table `name`, written in `mode`; the replay returns the
    * table as the child session reads it. */
  private[graft] final case class MemorySink(name: String, mode: String = "append")
      extends ReplaySink
  /** `foreachBatch` in `mode`: each micro-batch goes to
    * `write(child, batch, batchId)`; the replay returns `read(child)`. */
  private[graft] final case class BatchSink(mode: String,
      write: (SparkSession, DataFrame, Long) => Unit,
      read: SparkSession => DataFrame) extends ReplaySink

  /** The micro-batch replay harness every stream-gated entry runs
    * through:
    *  - opens a [[replaySession]] child and installs
    *    [[LocalCheckpointFs]] on it, so no checkpoint write forks a
    *    process; `tws` selects the RocksDB state store that
    *    transformWithState requires, and `confs` are set after that;
    *  - makes one memory stream per source (the width of a batch)
    *    and hands their streams to `query`, with the child session;
    *  - starts the query into `sink`, then feeds `batches` in order:
    *    every non-empty source of a batch gets its rows, then the
    *    batch is processed to completion (an all-empty batch is
    *    skipped);
    *  - stops the query, even on failure, and returns the sink's frame.
    *
    * Two entries replay by hand because their feed is not a list of
    * batches: `snapshot_ingest_compact_ingest` compacts the table
    * between its two batches, and `incremental_q10_filestream` reads a
    * file source. */
  private[graft] def replay[T: Encoder](s: SparkSession, sink: ReplaySink,
      batches: Seq[Seq[Seq[T]]], tws: Boolean = false, confs: Map[String, String] = Map.empty)
      (query: (SparkSession, Seq[Dataset[T]]) => Dataset[_]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ss = replaySession(s)
    LocalCheckpointFs.install(ss)
    if (tws) ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    confs.foreach { case (k, v) => ss.conf.set(k, v) }
    implicit val sq: org.apache.spark.sql.SQLContext = ss.sqlContext
    val sources = Seq.fill(batches.headOption.fold(0)(_.size))(MemoryStream[T])
    require(batches.forall(_.size == sources.size), "every batch names each source once")
    val writer = query(ss, sources.map(_.toDS())).toDF().writeStream
    val running = sink match {
      case MemorySink(name, mode) =>
        writer.format("memory").queryName(name).outputMode(mode).start()
      case BatchSink(mode, write, _) =>
        writer.outputMode(mode)
          .foreachBatch((batch: DataFrame, id: Long) => write(ss, batch, id)).start()
    }
    try batches.filter(_.exists(_.nonEmpty)).foreach { batch =>
      sources.zip(batch).foreach { case (src, rows) => if (rows.nonEmpty) src.addData(rows) }
      running.processAllAvailable()
    } finally running.stop()
    sink match {
      case MemorySink(name, _) => ss.table(name)
      case BatchSink(_, _, read) => read(ss)
    }
  }

  /** The event time of a flush row: past every fixture event. */
  private[graft] val FlushTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")

  /** The batches of a one-source replay of time-ordered `rows`: the
    * first half, the second half, then one batch per `flush` row (a
    * far-future sentinel that moves the watermark past every real
    * row, so append-mode state emits its tail). */
  private[graft] def halves[T](rows: Seq[T], flush: T*): Seq[Seq[Seq[T]]] = {
    val (first, second) = rows.splitAt(rows.length / 2)
    (Seq(first, second) ++ flush.map(Seq(_))).map(Seq(_))
  }

  /** [[replay]] of [[Evt]] changelogs for `entry` into `sink`. Each
    * side is a map of relation changelogs, and each changelog is one
    * source; every distinct `seq` value, in order, is one micro-batch,
    * fed to every source that has events at it. `run` builds the leaf
    * deltas from the sides' streams. */
  private def replayChangelogs(s: SparkSession, entry: String, sink: ReplaySink,
      sides: Seq[Map[String, Dataset[Evt]]], tws: Boolean = false,
      confs: Map[String, String] = Map.empty)
      (run: Seq[Map[String, Dataset[Evt]]] => Dataset[Evt]): DataFrame = {
    import s.implicits._
    val rels = sides.map(_.keys.toSeq)
    val logs = for ((side, i) <- sides.zipWithIndex; rel <- rels(i)) yield {
      val tag = if (sides.size == 1) rel else s"$i.$rel"
      boundedReplayCollect(s"$entry($tag)", side(rel)).toSeq
    }
    val seqs = logs.flatten.map(_.seq).distinct.sorted
    replay(s, sink, seqs.map(q => logs.map(_.filter(_.seq == q))), tws, confs) {
      (_, streams) =>
        val next = streams.iterator
        run(rels.map(_.map(_ -> next.next()).toMap))
    }
  }

  /** [[replayChangelogs]] into the memory sink `sinkName`, read back as
    * leaf deltas. */
  private def replayLeaf(s: SparkSession, sinkName: String,
      sides: Seq[Map[String, Dataset[Evt]]], tws: Boolean = false,
      confs: Map[String, String] = Map.empty)
      (run: Seq[Map[String, Dataset[Evt]]] => Dataset[Evt]): Dataset[Evt] = {
    import s.implicits._
    replayChangelogs(s, sinkName, MemorySink(sinkName), sides, tws, confs)(run).as[Evt]
  }

  private val dateLo = "1996-01-01"
  private val dateHi = "1996-04-01"

  /** Q10's survivors oracle: the plain-SQL answer over the rows the
    * Q10 changelog set leaves alive — one value shared by every entry
    * that maintains Q10 under those deletes, whatever its runner. */
  private val q10Oracle =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND c_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R'
       | AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
       |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  /** Q10 as [[SqlCompiler]] reads it — the deletes are changelog data
    * ([[q10Deletes]]), not WHERE conjuncts. The compiled tree is the
    * reference's one (DataFlow.java:45-56, quirks fixed):
    * nation → customer → orders → lineitem. */
  private[graft] val q10Sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation, customer, orders, lineitem
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND c_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  /** The synthetic Q10 changelog set: insert every row, then delete
    * every lineitem with linenumber 3 and every order with
    * orderkey % 50 == 0 (child retraction AND parent-death fan-out). */
  private[graft] val q10Deletes = Map(
    "lineitem" -> (col("l_linenumber") === 3),
    "orders" -> (col("o_orderkey") % 50 === 0))

  /** [[q10Sql]] compiled: the stages, changelog columns and fold every
    * Q10 runner below reads (memoized per session by the compiler). */
  private def q10(s: SparkSession, dir: String): SqlCompiler.Compiled =
    SqlCompiler.compile(s, dir, q10Sql)

  /** The maintained Q10 view — the input of the presentations over it
    * (top-k, outer enrichment, revenue quantile). */
  private def q10View(s: SparkSession, dir: String): DataFrame =
    q10(s, dir).run(s, dir, q10Deletes)

  /** The shared-dimension (nation pair) revenue oracle, shared by the
    * incremental_shared_dim and incremental_sql_shared_dim entries. */
  private val sharedDimOracle =
    s"""SELECT n_name,
       | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_e2,
       | COUNT(*) AS n_pairs
       |FROM nation, customer, orders, supplier
       |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
       | AND s_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND o_orderkey % 7 <> 0 AND s_suppkey % 5 <> 0 AND s_acctbal >= 0
       |GROUP BY n_name""".stripMargin

  /** A SHARED-DIMENSION join graph — nation referenced by BOTH the
    * customer→orders trunk and the supplier branch. The join is
    * many-to-many per nation key (every surviving order pairs with
    * every surviving supplier of that nation), the class an in-tree
    * liveness fold cannot express: [[TreeCompiler.stagesFor]] plans
    * trunk liveness stages nation→customer→orders re-keyed onto
    * `c_nationkey`, plus one PAIR stage incrementally cross-merging the
    * trunk's join deltas with supplier's changelog per nation key
    * ([[DeltaEngine.PairFold]]). nation is a root dimension, so the
    * default [[TreeCompiler.PairOrientation.Auto]] glue is
    * trunk-bucketed (supplier passes through and replicates ×8; the
    * big trunk side buckets by row hash), whose parallelism is not
    * capped at 25 nation keys. Deletes hit both sides of the product,
    * so pair retractions propagate in both directions. */
  private[graft] val sharedDimSql =
    s"""SELECT n_name,
       | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS revenue_e2,
       | COUNT(*) AS n_pairs
       |FROM nation, customer, orders, supplier
       |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
       | AND s_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND s_acctbal >= 0
       |GROUP BY n_name""".stripMargin

  private[graft] val sharedDimDeletes = Map(
    "orders" -> (col("o_orderkey") % 7 === 0),
    "supplier" -> (col("s_suppkey") % 5 === 0))

  /** The branching (multi-parent lineitem) revenue oracle, shared by
    * incremental_part_revenue and incremental_sql_part_revenue entries. */
  private val partRevenueOracle =
    s"""SELECT n_name, p_brand,
       | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation, customer, orders, lineitem, part
       |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
       | AND l_orderkey = o_orderkey AND l_partkey = p_partkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R' AND p_size <= 25
       | AND l_linenumber <> 3 AND o_orderkey % 50 <> 0 AND p_partkey % 10 <> 0
       |GROUP BY n_name, p_brand""".stripMargin

  /** A BRANCHING FK tree — the Q10 chain joined with a SECOND
    * dimension branch: nation→customer→orders→lineitem←part. The
    * multi-parent lineitem node (alive iff its orders-chain parent AND
    * its part parent are both alive) compiles into two liveness
    * stages ([[DeltaEngine.Stage]]): ⋈orders keyed `l_orderkey`
    * emitting re-keyed by `l_partkey`, then ⋈part keyed `l_partkey`.
    * Deletes hit BOTH branches — orders (%50: parent-death fan-out
    * into stage 1) and part (%10: parent-death fan-out into stage 2) —
    * plus the fact itself (linenumber 3), so retractions cross the
    * stage boundary in both directions. */
  private[graft] val partRevenueSql =
    s"""SELECT n_name, p_brand,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation, customer, orders, lineitem, part
       |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
       | AND l_orderkey = o_orderkey AND l_partkey = p_partkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R' AND p_size <= 25
       |GROUP BY n_name, p_brand""".stripMargin

  private[graft] val partRevenueDeletes = Map(
    "lineitem" -> (col("l_linenumber") === 3),
    "orders" -> (col("o_orderkey") % 50 === 0),
    "part" -> (col("p_partkey") % 10 === 0))

  /** Incremental EXISTS — a semi-join as engine nodes. The compiler
    * plans the correlated subquery as a set-semantics KEY node over
    * the subquery side (orders filtered to status 'O', projected to
    * JUST `o_custkey`) maintaining the distinct matching-key set;
    * feeding its 0→1/1→0 deltas as the PARENT of the outer relation's
    * liveness node IS semi-join semantics (each outer row emits
    * exactly once while >= 1 match exists, with full retraction on
    * last-match death). NOT EXISTS is the same wiring under
    * [[DeltaEngine.NodeSpec.antiParent]]. Both shapes shuffle once per
    * hop on the correlation key; no per-row subquery re-execution
    * exists anywhere. The oracle is the literal correlated EXISTS over
    * the changelog's surviving rows. */
  private val existsOracle =
    """SELECT c_nationkey, COUNT(*) AS n_cust,
      | CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_e2
      |FROM customer
      |WHERE c_custkey % 30 <> 0
      | AND EXISTS (SELECT 1 FROM orders
      |             WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
      |               AND o_orderkey % 40 <> 0)
      |GROUP BY c_nationkey""".stripMargin

  private def existsSql(not: String) =
    s"""SELECT c_nationkey, COUNT(*) AS n_cust,
       | SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS acctbal_e2
       |FROM customer
       |WHERE ${not}EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
       |GROUP BY c_nationkey""".stripMargin

  /** Deletes hit BOTH sides: orders %40 (matching-set shrink — a
    * customer whose LAST open order dies flips semi→out / anti→in and
    * the flip replays its buffered row) and customer %30 (plain outer
    * retraction while gated in or out). */
  private val existsDeletes = Map(
    "customer" -> (col("c_custkey") % 30 === 0),
    "orders" -> (col("o_orderkey") % 40 === 0))

  /** TIME-BUCKETED incremental aggregation — the metrics-pipeline
    * shape: the SAME maintained Q10 join tree, grouped by (nation,
    * order month), a DERIVED time bucket of a joined column. The
    * bucket is a group-key expression over a carried column, so the
    * engine needs NO new state or operator. Retraction-correct per
    * bucket because deltas carry their own date — a deleted order
    * retracts from ITS month, never a neighboring one. */
  private val monthlyOracle =
    s"""SELECT n_name, substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS order_month,
       | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM customer, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND c_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R'
       | AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
       |GROUP BY n_name, order_month""".stripMargin

  private val monthlySql =
    s"""SELECT n_name, substr(CAST(o_orderdate AS STRING), 1, 7) AS order_month,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation, customer, orders, lineitem
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND c_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R'
       |GROUP BY n_name, substr(CAST(o_orderdate AS STRING), 1, 7)""".stripMargin

  /** [[q10]] with the bloom reduction ([[SqlCompiler.Compiled.bloomReduced]]):
    * lineitem deltas are pre-filtered by the bloom of the
    * date-windowed orders changelog's o_orderkey set. */
  def incrementalQ10Bloom(s: SparkSession, dir: String): DataFrame = {
    val c = q10(s, dir)
    c.aggregate(runTree(c.stages,
      c.bloomReduced(c.sourceChangelogs(s, dir, q10Deletes))).toDF())
  }

  /** The Q10 signed-delta fold, one row per group with its net
    * `revenue_e4` and `n_rows`: rev_e4 = round(extprice * (1-disc) *
    * 1e4), exact because the true product has 4 decimals (2dp × 2dp).
    * Unlike the compiled fold, which keeps the groups with
    * `n_rows > 0`, it keeps every group: over one micro-batch a
    * group's net may be zero or negative, and the two sinks that merge
    * per-batch partials into a table must still see it. */
  private def q10Fold(leaf: DataFrame): DataFrame =
    leaf.select(
        (col("tag") * col("mult")).as("sign"),
        canonCol("c_custkey").cast(LongType).as("c_custkey"),
        canonCol("c_name").as("c_name"),
        canonCol("c_acctbal").cast(DoubleType).as("c_acctbal"),
        canonCol("n_name").as("n_name"),
        round(canonCol("l_extendedprice").cast(DoubleType) *
          (lit(1.0) - canonCol("l_discount").cast(DoubleType)) * 10000, 0)
          .cast(LongType).as("rev_e4"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(col("sign") * col("rev_e4")).as("revenue_e4"),
        sum(col("sign")).cast(LongType).as("n_rows"))

  /** The explicit-API route to the trunk-bucketed shared-dimension
    * plan: the compiled plan's glue is rebuilt in its DIMENSION-KEYED
    * form (the branch pairs straight off its changelog on the
    * dimension key — zero extra shuffle, |dim|-capped) and swapped back
    * by [[TreeCompiler.swapPairOrientation]] (S = 8), behind the SAME
    * survivors oracle as incremental_shared_dim: the bucketed product
    * must be answer-invariant through BOTH construction paths, not
    * just spec-asserted. */
  def incrementalSharedRevenueSalted(s: SparkSession, dir: String): DataFrame = {
    val c = SqlCompiler.compile(s, dir, sharedDimSql)
    val trunk :+ pass :+ glue = c.stages
    val dimKeyed = trunk :+ pass.copy(name = glue.name,
      spec = pass.spec.copy(isRoot = false), pairStage = glue.ownStage)
    c.copy(stages = TreeCompiler.swapPairOrientation(dimKeyed, salts = 8))
      .run(s, dir, sharedDimDeletes)
  }

  /** [[q10]] with its heaviest hop SALTED (S = 8): lineitem events
    * bucket by row hash while orders' liveness deltas replicate to
    * every bucket ([[DeltaEngine.Stage]] skew note). Shared by the
    * three salted entries, behind the same survivors oracle as
    * incremental_q10 — the de-skew must be answer-invariant, not just
    * spec-asserted. */
  private def q10Salted(s: SparkSession, dir: String): SqlCompiler.Compiled = {
    val c = q10(s, dir)
    c.copy(stages = c.stages.map(st =>
      if (st.spec.relation == "lineitem") st.copy(salts = 8) else st))
  }

  /** A mergeable HISTOGRAM SKETCH over the MAINTAINED Q10 view — the
    * engine's two layers compose: the delta tree maintains
    * per-customer revenue under inserts AND retractions, and a
    * fixed-width histogram (integer bin of the exact integer
    * revenue_e4) reduces the maintained view to <= #bins counts per
    * nation for a per-nation median-revenue readout. Presentation
    * over the view — recomputed from the maintained groups like the
    * SQL compiler's HAVING/ORDER BY, never from raw rows. Bin
    * arithmetic: Spark `div` truncates toward zero, DuckDB `//`
    * floors — identical here because revenue_e4 is nonnegative. */
  private val RevBinE4 = 200000000L // $20,000 in 1e-4 units
  def incrementalQ10RevQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val view = q10View(s, dir)
    val hist = view.groupBy(col("n_name"),
        expr(s"revenue_e4 div $RevBinE4").as("bin"))
      .agg(count(lit(1)).as("n"))
    val byNation = Window.partitionBy(col("n_name"))
    hist
      .withColumn("cum", sum(col("n")).over(byNation.orderBy(col("bin"))))
      .withColumn("total", sum(col("n")).over(byNation))
      .groupBy(col("n_name"))
      .agg(
        min(when(col("cum") * 2 >= col("total"),
          (col("bin").cast(DoubleType) + lit(0.5)) * lit(RevBinE4.toDouble)))
          .as("p50_rev_est"),
        max(col("total")).as("n_cust"))
  }

  /** The incremental engine's SINK upgraded to a LAKEHOUSE TABLE —
    * the reference's K1 (a text file of per-delta updates) replaced
    * by the maintained Q10 view LIVING IN the versioned snapshot log:
    * each micro-batch of signed leaf deltas folds to per-group
    * (Δrevenue, Δrows), combines with the group's current stored
    * totals, and lands as a MERGE commit — an unseen group inserts, a
    * changed group updates, and a group whose row count RETRACTS TO
    * ZERO deletes its table row (the delete the reference's running
    * file never expresses). The gated value is the FINAL SNAPSHOT
    * against the plain survivors oracle: batch boundaries, the
    * upsert/delete path, and the copy-on-write commits must all be
    * invisible. Every version along the way remains time-travelable.
    * At scale the per-batch read of current totals would prune to the
    * changed groups' buckets (the same partition pruning the
    * snapshot's readers use); the fixture reads the small table
    * whole. */
  def incrementalQ10SnapshotSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotLog
    val root = tempDir("graft_q10_snapsink").toString
    val goldPayload = Seq("c_name", "c_acctbal", "n_name", "revenue_e4", "n_rows")
    val version = new java.util.concurrent.atomic.AtomicInteger(-1)
    def commit(ss: SparkSession, batch: DataFrame, batchId: Long): Unit = {
      val deltas = q10Fold(batch).localCheckpoint(true)
      if (!deltas.isEmpty) {
        if (version.get < 0) {
          require(deltas.filter(col("n_rows") <= 0).isEmpty,
            "first batch must be pure assertion")
          SnapshotLog.commitInitial(deltas, root, "c_custkey")
          version.set(0)
        } else {
          val cur = SnapshotLog.readVersion(ss, root, version.get)
            .select(col("c_custkey"), col("revenue_e4").as("cur_rev"),
              col("n_rows").as("cur_n"))
          val combined = deltas.join(cur, Seq("c_custkey"), "left")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"),
              (coalesce(col("cur_rev"), lit(0L)) + col("revenue_e4")).as("revenue_e4"),
              (coalesce(col("cur_n"), lit(0L)) + col("n_rows")).as("n_rows"))
          require(combined.filter(col("n_rows") < 0).isEmpty,
            "a group retracted below zero — delta fold diverged")
          val changes = combined.select(
            col("c_custkey"),
            when(col("n_rows") === 0, "D").otherwise("U").as("op"),
            col("c_name"), col("c_acctbal"), col("n_name"),
            col("revenue_e4"), col("n_rows"))
          SnapshotLog.commitMerge(ss, root, version.get + 1, "c_custkey",
            goldPayload, changes)
          version.incrementAndGet()
        }
      }
    }
    def latest(ss: SparkSession): DataFrame = {
      require(version.get >= 1, s"expected at least two commits, got v${version.get}")
      SnapshotLog.readVersion(ss, root, version.get)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"),
          col("revenue_e4"), col("n_rows"))
    }
    val c = q10(s, dir)
    replayChangelogs(s, "incremental_q10_snapshot_sink", BatchSink("append", commit, latest),
      Seq(c.sourceChangelogs(s, dir, q10Deletes, filtered = false)))(in => c.runStream(in.head))
  }

  /** The maintained Q10 stream with EVENT-TIME TTL enabled — the
    * watermark/timeout machinery (EventTimeTimeout plan, per-stage
    * watermark nodes, horizon arithmetic) runs on every stage, with
    * `delay` sized past the fixture's whole date span so no key's
    * horizon passes during the two-batch replay: state is bounded by
    * data time WITHOUT changing the maintained answer, which is the
    * production contract (the eviction path itself is spec-asserted
    * with a controlled timeline in StreamingSpec). The event time is
    * `o_orderdate`, which the statement's date window names, so the
    * raw orders changelog carries it. Same survivors oracle as
    * incremental_q10. */
  def incrementalQ10StreamTtl(s: SparkSession, dir: String): DataFrame = {
    val c = q10(s, dir)
    val ttl = DeltaEngine.EventTimeTtl("o_orderdate", java.time.Duration.ofDays(3650))
    // per-stage re-derived event times trip the blanket chained-stateful
    // check, and only the orders changelog carries the ts column, so the
    // combined watermark takes the max
    val ttlConfs = Map(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false",
      "spark.sql.streaming.multipleWatermarkPolicy" -> "max")
    c.aggregate(replayLeaf(s, "incremental_q10_stream_ttl_leaf",
        Seq(c.sourceChangelogs(s, dir, q10Deletes, filtered = false)), confs = ttlConfs) { in =>
      c.runStream(in.head, eventTtl = Some(ttl))
    }.toDF())
  }

  /** LEFT OUTER JOIN from SQL TEXT: the compiler plans the inner tree
    * PLUS an anti plan per LEFT boundary (NOT EXISTS wiring — see
    * [[SqlCompiler.OuterPlan]]); their unioned leaf deltas feed the
    * one fold, where the optional side's absent canon columns read as
    * SQL NULLs. Orders with no R-lineitem surface as NULL-extended
    * rows (SUM skips them, COUNT(*) counts them); when lineitem
    * deletes make an order childless, the key node's 1→0 flip asserts
    * the NULL-extension the inner plan just retracted — and vice
    * versa. Oracle: the same LEFT JOIN over the survivor tables. */
  private val q10OuterSql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |LEFT JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = 'R'
       |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  private val q10OuterDeletes = Map(
    "orders" -> (col("o_orderkey") % 50 === 0),
    "lineitem" -> (col("l_linenumber") === 3))

  /** FULL OUTER from SQL text: the LEFT OUTER machinery preserves
    * orders with no surviving lineitem, and the compiler's ORPHAN plan
    * preserves lineitems with no surviving order — those fold under
    * NULL for every customer/nation grouping key, SQL's right-preserved
    * row. Deletes hit BOTH boundary relations so both preservation
    * directions carry real traffic (deleting 1-in-50 orders orphans
    * their lines; deleting a third of lineitems NULL-extends ~1000
    * orders). No WHERE anywhere — the compiler's full-outer scope
    * rules reject it (SQL would NULL-reject the orphan rows). */
  private val q10FullOuterSql =
    """SELECT c_custkey, n_name,
        | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_custkey, n_name""".stripMargin

  private val q10FullOuterDeletes = Map(
    "orders" -> (col("o_orderkey") % 50 === 0),
    "lineitem" -> (col("l_partkey") % 3 === 0))

  /** FULL OUTER **with a WHERE on the preserved (orders) side** — the
    * r8 fence lifted: SQL's WHERE runs after the join, so the date
    * predicate NULL-rejects every orphan (right-preserved) row, and
    * the compiler now PLANS that instead of rejecting it — the orphan
    * plan is dropped (exactly SQL's answer), the predicate becomes an
    * ordinary orders scan filter, and NULL-extension maintenance
    * (orders that lost every lineitem) continues. The oracle is the
    * literal FULL JOIN + WHERE, so DuckDB independently performs the
    * same NULL-rejection. */
  private val q10FullOuterFilteredSql =
    s"""SELECT c_custkey, n_name,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       |GROUP BY c_custkey, n_name""".stripMargin

  /** The mirror case — WHERE on the BOUNDARY CHILD: SQL NULL-rejects
    * every NULL-extension row instead, so the compile drops the anti
    * plan, keeps the orphan plan (lineitems with no surviving order,
    * pre-filtered by the predicate-as-scan-filter), and the view is
    * effectively the RIGHT-preserved reading. */
  private val q10FullOuterChildFilteredSql =
    """SELECT c_custkey, n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_linenumber <> 3
      |GROUP BY c_custkey, n_name""".stripMargin

  /** FULL OUTER × [NOT] EXISTS gate on an INNER relation — the
    * join-then-filter corner: SQL evaluates the gate on the JOINED
    * row, so (a) children of a gate-failing nation matched at join
    * time and are WHERE-dropped as matched rows — they must NOT
    * resurrect as orphans (the orphan plan keys off the UNGATED
    * join-time prefix), and (b) on a right-preserved row the
    * correlation column is the structural NULL of an absent relation:
    * EXISTS is FALSE there (the orphan class is not built at all)
    * while NOT EXISTS is trivially TRUE (orphans pass ungated). */
  private def q10FullOuterGatedSql(anti: String) =
    s"""SELECT c_custkey, n_name,
       | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
       | COUNT(*) AS n_rows
       |FROM nation
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE ${anti}EXISTS (SELECT 1 FROM region
       |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
       |GROUP BY c_custkey, n_name""".stripMargin

  /** The FIND-THE-ORPHANS idiom — FULL OUTER with `WHERE o_orderkey
    * IS NULL` (the r9 fence lifted): the parent boundary key is NULL
    * exactly on the right-preserved rows (the engine-wide non-null
    * FK-key assumption), so the compile keeps ONLY the orphan plan —
    * lineitems whose order is dead anywhere up the tree — drops the
    * anti plan, and never builds the inner tree. Every left grouping
    * key folds as NULL: SQL's single orphan group. Ancestor deletes
    * ride along so orphan-creation flows through the tree-prefix key
    * node, not just the boundary pair. */
  private val q10FullOuterIsNullSql =
    """SELECT c_custkey, n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IS NULL
      |GROUP BY c_custkey, n_name""".stripMargin

  /** FULL OUTER with **deletes on an ANCESTOR of the boundary pair**
    * (customer) — the other r8 fence lifted: the chain-shaped orphan
    * plan now keys on the TREE PREFIX's merged emissions (orders
    * alive under customer and nation), so deleting a customer flips
    * its orders dead in the key node and their lineitems assert as
    * orphans — the rows SQL preserves on the right when the left tree
    * loses the parent row for ANY upstream reason. */
  private val q10FullOuterAncestorDeletes = Map(
    "customer" -> (col("c_custkey") % 30 === 0),
    "orders" -> (col("o_orderkey") % 50 === 0),
    "lineitem" -> (col("l_partkey") % 3 === 0))

  /** The compiled FULL OUTER — fused fullOuterLeaf + the anti plan —
    * through the TWS driver under ancestor deletes: the compiler's
    * hardest maintained shape on the supported state API, same oracle
    * as the flatMap twin. */
  def incrementalSqlQ10FullOuterTws(s: SparkSession, dir: String): DataFrame =
    runSqlStreamed(s, SqlCompiler.compile(s, dir, q10FullOuterSql), dir,
      q10FullOuterAncestorDeletes, "incremental_sql_q10_fullouter_tws_leaf",
      tws = true)

  /** Maintained TOP-LEVEL UNION ALL across two DIFFERENT trees —
    * nation revenue from the customer side (nation→customer→orders→
    * lineitem) unioned with nation revenue from the supplier side
    * (nation→supplier→lineitem). Each branch compiles and maintains
    * independently (lineitem even routes by a different FK per
    * branch); the union is presentation. Shared deletes apply to both
    * branches' changelogs. */
  private val unionSql =
    """SELECT n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE l_returnflag = 'R'
      |GROUP BY n_name
      |UNION ALL
      |SELECT n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation
      |JOIN supplier ON s_nationkey = n_nationkey
      |JOIN lineitem ON l_suppkey = s_suppkey
      |WHERE l_returnflag = 'R'
      |GROUP BY n_name""".stripMargin
  private val unionDeletes = Map("lineitem" -> (col("l_partkey") % 3 === 0))

  // Building lineitem's changelog once for both arms measured
  // SLOWER at sf0.1 (min 2.65 -> 2.89 s, control faster): the shared
  // canon's checkpoint barrier costs more than each arm's lazy
  // re-scan, which pipelines into its first shuffle map stage.

  // ---- maintained INTERSECT / EXCEPT --------------------------------

  /** Branches: nations with a high-balance customer vs nations with a
    * high-balance supplier — both non-aggregate DISTINCT views whose
    * deletes flip tuples in and out of the set result. */
  private val setOpLhs =
    """SELECT DISTINCT n_name FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 8000""".stripMargin
  private val setOpRhs =
    """SELECT DISTINCT n_name FROM nation
      |JOIN supplier ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin
  private val setOpDeletes = Map(
    "customer" -> (col("c_custkey") % 13 === 0),
    "supplier" -> (col("s_suppkey") % 7 === 0))

  /** Bare UNION (set semantics) across BAG branches — multiplicity
    * collapses across and within branches through one set-semantics
    * netting node; a delete removes a tuple only when NO branch still
    * produces it. Branches deliberately non-DISTINCT so the collapse
    * itself is what's gated. */
  private val unionDistinctSql =
    """SELECT n_name FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 8000
      |UNION
      |SELECT n_name FROM nation
      |JOIN supplier ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  /** Bag branches (no DISTINCT): n_name once per qualifying customer
    * vs once per qualifying supplier — INTERSECT ALL keeps min of the
    * two multiplicities, EXCEPT ALL the surplus. */
  private val bagSetOpLhs =
    """SELECT n_name FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |WHERE c_acctbal > 8000""".stripMargin
  private val bagSetOpRhs =
    """SELECT n_name FROM nation
      |JOIN supplier ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  // ---- ASOF JOIN from SQL text ---------------------------------------

  /** The ASOF dialect text the SQL-surface entries compile — the same
    * enrichment events_asof_join runs through the API. */
  private val asofSql =
    """SELECT p.event_id, p.user_id, p.ts,
      | c.click_id AS asof_click_id, c.ts AS asof_click_ts
      |FROM p ASOF LEFT JOIN c
      |ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  /** The prepared branches (CTE bodies stay DataFrame code): clicks
    * deduped to one per (user, ts) for a deterministic match. */
  private def asofInputs(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val ev = Tables.events(s, dir)
    Map(
      "c" -> ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id")),
      "p" -> ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")))
  }

  def incrementalSqlAsOf(s: SparkSession, dir: String): DataFrame =
    SqlCompiler.compileAsOf(s, asofSql).run(asofInputs(s, dir))

  /** The ASOF dialect with the RIGHT KEY in the select list: under
    * ASOF LEFT JOIN the null extension must surface NULL for right
    * columns (DuckDB/Snowflake semantics) even though a MATCHED right
    * key equals the left's — the lowering substitutes the left key
    * gated on the match witness, never unconditionally. 143 of the
    * 1981 sf0.01 purchases have no prior click, so the NULL path is
    * genuinely exercised. */
  private val asofRightKeySql =
    """SELECT p.event_id, p.user_id, p.ts,
      | c.click_id AS asof_click_id, c.user_id AS asof_click_user,
      | c.ts AS asof_click_ts
      |FROM p ASOF LEFT JOIN c
      |ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  def incrementalSqlAsOfRightKey(s: SparkSession, dir: String): DataFrame =
    SqlCompiler.compileAsOf(s, asofRightKeySql).run(asofInputs(s, dir))

  def incrementalSqlAsOfTolerance(s: SparkSession, dir: String): DataFrame =
    SqlCompiler.compileAsOf(s,
      """SELECT p.event_id, p.user_id, p.ts,
        | c.click_id AS asof_click_id, c.ts AS asof_click_ts
        |FROM p ASOF LEFT JOIN c
        |ON p.user_id = c.user_id AND p.ts >= c.ts
        | AND p.ts - c.ts <= INTERVAL 1 HOUR""".stripMargin)
      .run(asofInputs(s, dir))

  /** The compiled ASOF spec lowered onto the CONTINUOUS operator
    * (StreamingAnalytics.streamAsOfJoin): the spec names the key, the
    * two timestamps, the left id and the right value the harness
    * feeds — so the SQL surface, not a hand-wired copy of it, is what
    * the stream gate runs. The continuous lowering supports ONE bigint
    * key and ONE bigint right value (the streaming operator's state
    * row); wider shapes run the batch lowering. */
  def incrementalSqlAsOfStream(s: SparkSession, dir: String,
      sqlText: String = asofSql,
      sinkName: String = "incremental_sql_asof_stream"): DataFrame = {
    import StreamingAnalytics.{streamAsOfJoin, AsOfIn}
    val c = SqlCompiler.compileAsOf(s, sqlText)
    require(c.keyPairs.size == 1 && c.leftOuter,
      "the continuous as-of lowering takes ASOF LEFT JOIN with one key")
    val (lKey, rKey) = c.keyPairs.head
    val lId = c.items.collectFirst {
      case (false, src, _) if src != lKey && src != c.leftTs => src
    }.getOrElse(sys.error("no left id column in the select list"))
    val rVal = c.items.collectFirst {
      case (true, src, _) if src != rKey && src != c.rightTs => src
    }.getOrElse(sys.error("no right value column in the select list"))
    val rels = asofInputs(s, dir)
    import s.implicits._
    val feed = rels(c.leftRel)
        .select(col(lKey).cast("long"), col(c.leftTs),
          lit(false).as("isRight"), col(lId).cast("long"))
        .unionAll(rels(c.rightRel)
          .select(col(rKey).cast("long"), col(c.rightTs),
            lit(true).as("isRight"), col(rVal).cast("long")))
        .as[(Long, java.sql.Timestamp, Boolean, Long)]
    val collected = boundedReplayCollect(sinkName, feed)
    val ev = collected.map(r => AsOfIn(r._1, r._2, r._3, r._4))
      .sortBy(e => (e.ts.getTime, e.id))
    // sentinel: unused key far past every event, flushes the tail
    val sentinel = AsOfIn(-1L, FlushTs, isRight = false, id = -1L)
    val joined = replay(s, MemorySink(sinkName + "_sink"), halves(ev.toSeq, sentinel)) {
      (_, in) => streamAsOfJoin(in.head, delay = "1 second", toleranceMicros = c.toleranceMicros)
    }
    joined.filter(col("key") >= 0)
      .select(c.items.map {
        case (false, src, out0) if src == lKey => col("key").as(out0)
        case (false, src, out0) if src == c.leftTs => col("left_ts").as(out0)
        case (false, _, out0) => col("left_id").as(out0)
        // right key == left key ONLY on matched rows — the null
        // extension must surface NULL for right columns (same match
        // witness as the batch lowering's gated substitution)
        case (true, src, out0) if src == rKey =>
          when(col("asof_ts").isNotNull, col("key")).as(out0)
        case (true, src, out0) if src == c.rightTs => col("asof_ts").as(out0)
        case (true, _, out0) => col("asof_id").as(out0)
      }: _*)
  }

  /** A maintained view OVER A VERSIONED TABLE: the `orders` relation
    * resolves through a version-pinned SHALLOW BRANCH of the snapshot
    * log (SqlCompiler.compileOver) — the lakehouse read path and the
    * incremental engine composed. The branch is created fresh per run
    * (replay-idempotent branchAt; its pin keeps source vacuums from
    * reclaiming the pinned version underneath the view). */
  private def compileOverBranch(s: SparkSession, dir: String): SqlCompiler.Compiled = {
    import graft.sources.SnapshotLog
    val root = SnapshotLog.ordersTableRoot(s, dir)
    // ONE deterministic branch path per source root: branchAt is
    // replay-idempotent, so every run reuses the same pin instead of
    // minting a fresh temp-dir pin per run (unreleased pins would
    // accumulate in the root's _branches registry and permanently
    // block vacuum of the pinned version)
    val branch = root + "_sqlbranch/b"
    SnapshotLog.branchAt(root, 1, branch)
    SqlCompiler.compileOver(s, dir,
      """SELECT n_name, COUNT(*) AS n_orders,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin,
      overrides = Map("orders" ->
        ((ss, _) => SnapshotLog.readVersion(ss, branch, 0).drop("b"))))
  }

  def incrementalSqlOverBranch(s: SparkSession, dir: String): DataFrame =
    compileOverBranch(s, dir)
      .run(s, dir, deletes = Map("customer" -> (col("c_custkey") % 13 === 0)))

  /** The branch-sourced view through the CONTINUOUS engine: the
    * override's changelog (the branch head read per relation) replays
    * as micro-batches — the lakehouse read path feeding the stream. */
  def incrementalSqlOverBranchStream(s: SparkSession, dir: String): DataFrame =
    runSqlStreamed(s, compileOverBranch(s, dir), dir,
      Map("customer" -> (col("c_custkey") % 13 === 0)),
      "incremental_sql_over_branch_stream_leaf")

  /** VIEW MODE through the CONTINUOUS engine: the compiled
    * non-aggregate SELECT replays over raw event streams and the bag
    * view (net-count explode) folds the streamed leaf — same oracle
    * as incremental_sql_join_view. */
  def incrementalSqlViewStream(s: SparkSession, dir: String): DataFrame =
    runSqlStreamed(s, SqlCompiler.compile(s, dir,
        """SELECT n_name, o_orderpriority
          |FROM nation, customer, orders
          |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
          | AND o_orderstatus = 'F'""".stripMargin),
      dir, Map(
        "orders" -> (col("o_orderkey") % 10 === 0),
        "customer" -> (col("c_custkey") % 13 === 0)),
      "incremental_sql_view_stream_leaf")

  /** Twin suffixes a [[maintained]] declaration generates: `_stream`
    * replays the changelog through the continuous engine
    * (flatMapGroupsWithState stages), `_tws` the same replay on
    * transformWithState. */
  private val Stream = "_stream"
  private val Tws = "_tws"

  /** Declare a maintained view ONCE. The batch entry `name` runs
    * `sqlText` under `deletes` through [[SqlCompiler.statement]]'s
    * refresh; every suffix in `twins` adds `name + suffix`, which
    * replays the SAME statement and deletes as changelogs through
    * [[runSqlStreamed]] into the memory sink `<twin>_leaf` (suffixed
    * per arm of a UNION ALL and per view of a WITH query). All of them
    * are gated against the one `oracle` value, so a twin cannot drift
    * from its base. `overrides` are relation loaders for
    * [[SqlCompiler.compileOver]]'s seam. A twin whose oracle, statement
    * or deletes differ on purpose, or that needs another runner (ASOF,
    * OVER, recursion, its own source or sink), is written out by hand
    * instead. */
  private def maintained(name: String, oracle: String, sqlText: String,
      deletes: Map[String, Column] = Map.empty, twins: Seq[String] = Seq(Stream),
      overrides: Map[String, (SparkSession, String) => DataFrame] = Map.empty): Seq[GraftQuery] = {
    def compiled(s: SparkSession, dir: String) = SqlCompiler.statement(s, dir, sqlText, overrides)
    sql(name, oracle)((s, dir) => compiled(s, dir).run(s, dir, deletes)) +:
      twins.map { suffix =>
        require(suffix == Stream || suffix == Tws, s"$name: unknown twin suffix $suffix")
        val twin = name + suffix
        sql(twin, oracle)((s, dir) =>
          runSqlStreamed(s, compiled(s, dir), dir, deletes, twin + "_leaf", tws = suffix == Tws))
      }
  }

  /** A compiled statement's continuous form through the micro-batch
    * replay: each of its streaming queries replays the RAW (unfiltered)
    * changelogs of its branches — runStream's eventFilter applies the
    * compiled predicates per stream — one batch per changelog seq, with
    * state across batches, into the memory sink `sinkName` plus the
    * query's part suffix, and presents the streamed leaf.
    * `transformLogs` rewrites each branch's changelogs before the
    * replay. */
  private def runSqlStreamed(s: SparkSession, st: SqlCompiler.Statement, dir: String,
      deletes: Map[String, org.apache.spark.sql.Column], sinkName: String,
      tws: Boolean = false,
      transformLogs: Map[String, Dataset[Evt]] => Map[String, Dataset[Evt]] = identity): DataFrame =
    st.runStreamed(s, dir, deletes, (part, q, d) =>
      q.present(replayLeaf(s, sinkName + part,
          q.branches.map(c => transformLogs(c.sourceChangelogs(s, dir, d, filtered = false))),
          tws)(q.leaf(_, tws))))

  /** Typed rows + a ±1 sign expression → the engine's [[Evt]]
    * changelog (inserts replay at seq 0, deletes at seq 1, the same
    * two-batch convention as every parquet-backed changelog). */
  private def signedChangelog(parsed: DataFrame, sign: org.apache.spark.sql.Column,
                              keyCol: String, cols: Seq[String],
                              where: Option[org.apache.spark.sql.Column]): Dataset[Evt] = {
    val df = where.map(parsed.filter).getOrElse(parsed)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      when(sign > 0, 0L).otherwise(1L).as("seq"),
      lit(false).as("fromParent"),
      sign.cast("int").as("tag"),
      lit(1).as("mult"),
      col(keyCol).cast("string").as("key"),
      canonColumn(cols).as("row")).as[Evt]
  }

  /** `c`'s relation changelogs from typed frames with a ±1 `sign`:
    * `typed(rel)` carries the relation's raw needed columns; each
    * changelog routes by its compiled key, carries the relation's
    * needed columns, and has the statement's local predicate applied
    * to the typed frame (the fragment the parquet path pushes into its
    * scan). */
  private def typedChangelogs(c: SqlCompiler.Compiled, sign: Column)(
      typed: String => DataFrame): Map[String, Dataset[Evt]] =
    c.path.map { rel =>
      rel -> signedChangelog(typed(rel), sign, c.keyCol(rel), c.needed(rel),
        c.wheres.get(rel).map(expr))
    }.toMap

  /** The relation code of `rel` in the reference's CDC text header
    * (DataFlow.java:74-81): NATI, CUST, ORDE, LINE. */
  private def cdcCode(rel: String): String = rel.take(4).toUpperCase

  /** `c`'s relations as one stream of CDC text lines over each
    * relation's raw needed columns: with `add`, every row as an `Add`
    * line; otherwise the rows `deletes` names, as `Sub` lines. */
  private def cdcLines(s: SparkSession, dir: String, c: SqlCompiler.Compiled, add: Boolean,
      deletes: Map[String, Column] = Map.empty): DataFrame =
    c.path.flatMap { rel =>
      val df = Tables.load(s, dir, rel)
      (if (add) Some(df) else deletes.get(rel).map(df.filter))
        .map(CdcParser.toCdcLines(_, add, cdcCode(rel), c.neededRaw(rel)))
    }.reduce(_ unionAll _)

  /** `c`'s relation changelogs from one CDC line stream: each
    * relation's lines demuxed and parsed by [[CdcParser]] into its
    * compiled column types (`Add` → +1 at seq 0, `Sub` → −1 at seq 1). */
  private def cdcChangelogs(c: SqlCompiler.Compiled,
      lines: DataFrame): Map[String, Dataset[Evt]] =
    typedChangelogs(c, when(col("action") === "Insert", 1).otherwise(-1)) { rel =>
      CdcParser.parseRelation(lines, cdcCode(rel), c.neededRaw(rel).map(n => n -> c.colType(n)))
    }

  def incrementalQ10FromCdc(s: SparkSession, dir: String): DataFrame = {
    val c = q10(s, dir)
    // ONE interleaved line stream, like the reference's single source —
    // MATERIALIZED TO A TEMP TEXT FILE and read back, so this query
    // exercises the reference's true input shape (spark.read.text) and
    // all four demux branches scan the file through the page cache.
    // Without sharing, each branch re-renders every table (16 parquet
    // scans + 4 full line passes — measured 5.4 s vs 2.6 s at sf0.1);
    // a .cache() would do too, but it pins executor storage memory for
    // the rest of the session with no unpersist point.
    // ONE rendered copy per (JVM, fixture): the render is deterministic,
    // so repeat callers (Bench warm-ups, Profile sweeps, Verify) reuse
    // the first write instead of leaking a fresh temp directory each —
    // and the directory is process-unique, so concurrent JVMs on the
    // same fixture never overwrite each other's files mid-scan.
    val path = cdcLineDirs.computeIfAbsent(dir, _ => {
      val p = tempDir("graft_cdc_lines").resolve("lines").toString
      cdcLines(s, dir, c, add = true).unionAll(cdcLines(s, dir, c, add = false, q10Deletes))
        .write.mode("overwrite").text(p)
      p
    })
    c.aggregate(runTree(c.stages, cdcChangelogs(c, s.read.text(path))).toDF())
  }

  /** The JSON-CDC deployment shape end to end: each relation is its
    * own envelope TOPIC (Debezium's per-table topics — no demux
    * needed, unlike the reference's single interleaved line stream),
    * rendered via [[CdcParser.toJsonEnvelope]], parsed back into
    * signed events by [[CdcParser.parseJsonEnvelope]], local predicates
    * applied to the parsed frames, and the same Q10 tree + aggregate.
    * Deletes arrive as 'd' envelopes carrying the before-image. */
  def incrementalQ10FromJson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val c = q10(s, dir)
    val jsonOpts = Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val logs = typedChangelogs(c, col("sign")) { rel =>
      val df = Tables.load(s, dir, rel)
      val cols = c.neededRaw(rel)
      val rowSchema = StructType(cols.map(df.schema(_)))
      val row = struct(cols.map(col): _*)
      val nullRow = lit(null).cast(rowSchema)
      val creates = df.select(lit("c").as("op"), nullRow.as("before"),
        row.as("after"), lit(0L).as("ts_ms"))
      val all = q10Deletes.get(rel).map(cond => creates.unionByName(
          df.filter(cond).select(lit("d").as("op"), row.as("before"),
            nullRow.as("after"), lit(1L).as("ts_ms"))))
        .getOrElse(creates)
      CdcParser.parseJsonEnvelope(CdcParser.toJsonEnvelope(all, jsonOpts), rowSchema, jsonOpts)
    }
    c.aggregate(runTree(c.stages, logs).toDF())
  }

  /** The reference's TRUE production input shape end to end, gated:
    * CDC text lines arrive as FILES in a watched directory (the
    * reference's S1 source IS a file stream — DataFlow.java:37
    * readTextFile), `spark.readStream.text` picks them up,
    * [[CdcParser]] demuxes/parses the four relations, the streaming
    * tree runs with node state in the state store CARRIED ACROSS FILE
    * BATCHES, and the leaf deltas are folded by a foreachBatch UPSERT
    * into a maintained result table — the production
    * upsert-into-a-KV-store sink pattern (StreamingSpec additionally
    * covers checkpoint recovery of this shape). Two physical file
    * drops: the insert lines land first (micro-batch 1 builds state),
    * then the delete lines (micro-batch 2 retracts through the held
    * state — parent-death fan-out replays buffered children from the
    * state store, not from the files). Oracle = incremental_q10's
    * survivors SQL, so any file-source / state-carry / upsert-fold
    * divergence fails the hash.
    *
    * The driver-held upsert map is the SINK (one row per surviving
    * group — bounded by group count, the same bound any KV upsert sink
    * carries), not engine state; all join/retraction state lives in
    * the state store. */
  def incrementalQ10FileStream(s: SparkSession, dir: String): DataFrame = {
    val c = q10(s, dir)
    // one interleaved line stream, inserts and deletes rendered
    // separately so they can arrive as two distinct file drops
    val watch = tempDir("graft_cdc_filestream").resolve("lines").toString
    cdcLines(s, dir, c, add = true).write.mode("append").text(watch)
    val ss = replaySession(s)
    val leaf = runStreamTree(c.stages, cdcChangelogs(c, ss.readStream.text(watch)))
    // foreachBatch upsert: fold each micro-batch's leaf deltas to
    // per-group partials (distributed agg), then merge into the
    // maintained table keyed by the unique group key c_custkey
    val table = new scala.collection.concurrent.TrieMap[
      Long, (String, Double, String, Long, Long)]
    val query = leaf.writeStream
      .foreachBatch { (batch: Dataset[Evt], batchId: Long) =>
        val partial = boundedReplayCollect(s"incremental_q10_filestream(batch $batchId)",
          q10Fold(batch.toDF()))
        partial.foreach { r =>
          val key = r.getLong(0)
          val (dRev, dCnt) = (r.getLong(4), r.getLong(5))
          val merged = table.get(key) match {
            case Some((nm, ab, nn, rev, cnt)) => (nm, ab, nn, rev + dRev, cnt + dCnt)
            case None => (r.getString(1), r.getDouble(2), r.getString(3), dRev, dCnt)
          }
          if (merged._5 == 0L) table.remove(key) else table.put(key, merged)
        }: Unit
      }
      .outputMode("append").start()
    try {
      query.processAllAvailable()   // micro-batch 1: inserts build state
      cdcLines(s, dir, c, add = false, q10Deletes).write.mode("append").text(watch)
      query.processAllAvailable()   // micro-batch 2: deletes retract it
    } finally query.stop()
    import ss.implicits._
    table.toSeq.map { case (k, (nm, ab, nn, rev, cnt)) => (k, nm, ab, nn, rev, cnt) }
      .toDF("c_custkey", "c_name", "c_acctbal", "n_name", "revenue_e4", "n_rows")
  }

  /** The Q10 tree as the per-row projection [[incrementalQ10Running]]
    * reads: a maintained bag view, so every leaf delta carries the
    * lineitem's `l_orderkey` and `l_linenumber` besides its revenue
    * inputs. */
  private val q10RunningSql =
    s"""SELECT c_custkey, l_orderkey, l_linenumber, l_extendedprice, l_discount
       |FROM nation, customer, orders, lineitem
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       | AND c_nationkey = n_nationkey
       | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
       | AND l_returnflag = 'R'""".stripMargin

  /** Per-event running-output parity with the reference's A1 (one
    * `Output` row per delta, Q10AggregateProcessFunction.java:75-80):
    * every leaf delta becomes a row carrying the group's running
    * revenue at that point of the replay. The replay order is the
    * deterministic (seq, l_orderkey, l_linenumber) — the engine's
    * emission multiset is order-independent (ghost-tolerant signed
    * folds), so parity over a deterministic order checks every
    * intermediate aggregate value, not just the net.
    *
    * The oracle reconstructs the same delta multiset in SQL: +1 per
    * qualifying join row at seq 0; at seq 1, −1 for every child of a
    * deleted order (parent-death fan-out replays the buffered set) and
    * −1 for deleted lineitems of SURVIVING orders only (own deletes
    * under a dead parent don't emit — the engine suppresses them, and
    * so must the oracle). */
  def incrementalQ10Running(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leaf = SqlCompiler.compile(s, dir, q10RunningSql).leafDeltas(s, dir, q10Deletes).toDF()
    // mult > 1 events (a parent flip replaying n identical buffered
    // children) EXPAND to n unit rows: the reference emits one Output
    // per base row, and the oracle counts per-row — a packed sign=±n
    // row would diverge from it exactly when duplicates exist
    val ev = leaf
      .withColumn("_unit", explode(sequence(lit(1), col("mult"))))
      .select(
        col("seq"),
        col("tag").cast(LongType).as("sign"),
        canonCol("c_custkey").cast(LongType).as("c_custkey"),
        canonCol("l_orderkey").cast(LongType).as("l_orderkey"),
        canonCol("l_linenumber").cast(LongType).as("l_linenumber"),
        round(canonCol("l_extendedprice").cast(DoubleType) *
          (lit(1.0) - canonCol("l_discount").cast(DoubleType)) * 10000, 0)
          .cast(LongType).as("rev_e4"))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture
    // (no composite-PK guarantee), so sign + rev_e4 join the sort key;
    // fully identical events commute without changing the trajectory
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("seq"), col("l_orderkey"), col("l_linenumber"),
        col("sign"), col("rev_e4"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("c_custkey"), col("seq"), col("l_orderkey"), col("l_linenumber"),
      col("sign"), sum(col("sign") * col("rev_e4")).over(w).as("running_revenue_e4"))
  }

  /** Rendered-CDC-lines directory per fixture dir, for this JVM. */
  private val cdcLineDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val lineitemCdcCols =
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")

  // Reachability from nation-1's suppliers over the customer↔supplier
  // co-purchase graph — the recursion statement shared by the batch
  // headliner, its insert-only maintained twin, and (with helpers
  // split out) the CTE-mix entry. DuckDB (VARCHAR) and Spark (STRING)
  // spell the cast differently; the statements are otherwise
  // identical.
  private def recursivePathsSql(cast: String, ordersRel: String = "orders") =
    s"""WITH RECURSIVE r AS (
       | SELECT 's' || CAST(s_suppkey AS $cast) AS node
       | FROM supplier WHERE s_nationkey = 1
       | UNION
       | SELECT e.dst AS node FROM (
       |  SELECT 'c' || CAST(o_custkey AS $cast) AS src,
       |         's' || CAST(l_suppkey AS $cast) AS dst
       |  FROM $ordersRel JOIN lineitem ON l_orderkey = o_orderkey
       |  UNION ALL
       |  SELECT 's' || CAST(l_suppkey AS $cast) AS src,
       |         'c' || CAST(o_custkey AS $cast) AS dst
       |  FROM $ordersRel JOIN lineitem ON l_orderkey = o_orderkey
       | ) e JOIN r ON r.node = e.src
       |)
       |SELECT node FROM r""".stripMargin

  // Reachability again, with HELPER CTEs around the recursion: the
  // statement shared by the batch and maintained cte-mix entries.
  private def recursiveCteMixSql(cast: String) =
    s"""WITH RECURSIVE r AS (
     | SELECT 's' || CAST(s_suppkey AS $cast) AS node
     | FROM supplier WHERE s_nationkey = 1
     | UNION
     | SELECT e.dst AS node FROM edges e JOIN r ON r.node = e.src
     |), edges AS (
     | SELECT 'c' || CAST(o_custkey AS $cast) AS src,
     |        's' || CAST(l_suppkey AS $cast) AS dst
     | FROM orders JOIN lineitem ON l_orderkey = o_orderkey
     | UNION ALL
     | SELECT 's' || CAST(l_suppkey AS $cast) AS src,
     |        'c' || CAST(o_custkey AS $cast) AS dst
     | FROM orders JOIN lineitem ON l_orderkey = o_orderkey
     |), reached AS (
     | SELECT substr(node, 1, 1) AS kind, COUNT(*) AS n FROM r GROUP BY 1
     |)
     |SELECT kind, n FROM reached""".stripMargin

  private def recursivePathsBatches = Seq(
    Map("orders" -> (col("o_orderkey") % 3 === 0),
      "lineitem" -> (col("l_orderkey") % 3 === 0)),
    Map("orders" -> (col("o_orderkey") % 3 === 1),
      "lineitem" -> (col("l_orderkey") % 3 === 1)),
    Map("orders" -> (col("o_orderkey") % 3 === 2),
      "lineitem" -> (col("l_orderkey") % 3 === 2)))

  /** The DRed entries' mixed changelog: batch 2 deletes every %10==0
    * order inserted so far before adding its own slice. */
  private def recursivePathsDredDeletes =
    Map(2 -> Map("orders" -> (col("o_orderkey") % 10 === 0)))

  /** The recursive_paths closure maintained ACROSS A SESSION RESTART:
    * batches 0-1 run in one session, the closure persists to a
    * snapshot table (keyed by a node hash), and a FRESH session
    * reopens it from the log and processes batch 2 via the resume hook
    * (initialClosure + startBatch) — per-batch semi-naive work
    * continues exactly where the dead JVM stopped, never a
    * from-scratch re-run. `deletesAt` is the changelog's delete
    * schedule (batch 2 is the only one it may name: the resumed run
    * reconstructs every pre/post-delete base state from pure filter
    * expressions, without re-running prior batches). */
  private def recursivePathsResumed(s: SparkSession, d: String,
      deletesAt: Map[Int, Map[String, Column]] = Map.empty): DataFrame = {
    import graft.sources.SnapshotLog
    val partial = RecursiveSql.runIncremental(s, d, recursivePathsSql("STRING"),
      batches = recursivePathsBatches.take(2), deltaLinear = true)
    val s2 = s.newSession()
    // an EMPTY partial closure (the tiny fixture has no nation-1
    // suppliers) has nothing to persist — an empty partitioned parquet
    // write carries no schema to reopen; resume with the empty frame
    // directly (the seeding handles it: no accumulator leg, batch 2
    // re-derives from its own anchor deltas)
    val c0 =
      if (partial.isEmpty) partial
      else {
        val root = tempDir("graft_rec_resume").toString
        SnapshotLog.commitInitial(
          partial.select(xxhash64(col("node")).as("k"), col("node")), root, "k")
        SnapshotLog.readVersion(s2, root, 0).select("node")
      }
    RecursiveSql.runIncremental(s2, d, recursivePathsSql("STRING"),
      batches = recursivePathsBatches, deletesAt = deletesAt, deltaLinear = true,
      initialClosure = Some(c0), startBatch = 2)
  }

  // Statements and oracles that two or more entries below share,
  // each declared once.
  private val unionAllOracle =
    """WITH l AS (SELECT * FROM lineitem
      |           WHERE l_returnflag = 'R' AND l_partkey % 3 <> 0)
      |SELECT n_name,
      | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation JOIN customer ON c_nationkey = n_nationkey
      | JOIN orders ON o_custkey = c_custkey
      | JOIN l ON l_orderkey = o_orderkey
      |GROUP BY n_name
      |UNION ALL
      |SELECT n_name,
      | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation JOIN supplier ON s_nationkey = n_nationkey
      | JOIN l ON l_suppkey = s_suppkey
      |GROUP BY n_name""".stripMargin

  private val intersectOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT DISTINCT n_name FROM nation
      |JOIN c ON c_nationkey = n_nationkey WHERE c_acctbal > 8000
      |INTERSECT
      |SELECT DISTINCT n_name FROM nation
      |JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  private val exceptOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT DISTINCT n_name FROM nation
      |JOIN c ON c_nationkey = n_nationkey WHERE c_acctbal > 8000
      |EXCEPT
      |SELECT DISTINCT n_name FROM nation
      |JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  private val unionDistinctOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT n_name FROM nation
      |JOIN c ON c_nationkey = n_nationkey WHERE c_acctbal > 8000
      |UNION
      |SELECT n_name FROM nation
      |JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  private val unionMixedOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT n_name FROM (
      | SELECT n_name FROM nation JOIN c ON c_nationkey = n_nationkey
      |  WHERE c_acctbal > 8000
      | UNION ALL
      | SELECT n_name FROM nation JOIN s ON s_nationkey = n_nationkey
      |  WHERE s_acctbal > 5000) u
      |UNION
      |SELECT n_name FROM nation JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 9000""".stripMargin

  private val unionMixedSql =
    """(SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
      |  WHERE c_acctbal > 8000
      | UNION ALL
      | SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
      |  WHERE s_acctbal > 5000)
      |UNION
      |SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 9000""".stripMargin

  private val intersectAllOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT n_name FROM nation
      |JOIN c ON c_nationkey = n_nationkey WHERE c_acctbal > 8000
      |INTERSECT ALL
      |SELECT n_name FROM nation
      |JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  private val exceptAllOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0)
      |SELECT n_name FROM nation
      |JOIN c ON c_nationkey = n_nationkey WHERE c_acctbal > 8000
      |EXCEPT ALL
      |SELECT n_name FROM nation
      |JOIN s ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 5000""".stripMargin

  private val asofOracle =
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, c.click_id AS asof_click_id, c.ts AS asof_click_ts
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  private val asofToleranceOracle =
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts,
      | CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.click_id END AS asof_click_id,
      | CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN c.ts END AS asof_click_ts
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  private val asofRightKeyOracle =
    """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, c.click_id AS asof_click_id,
      | c.user_id AS asof_click_user, c.ts AS asof_click_ts
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin

  private val overBranchOracle =
    """WITH o AS (
      | SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 160 = 1 THEN o_totalprice + 1000
      |       ELSE o_totalprice END AS o_totalprice
      | FROM orders WHERE o_orderkey % 160 <> 0
      | UNION ALL
      | SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      | FROM orders WHERE o_orderkey % 160 = 2),
      |c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0)
      |SELECT n_name, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
      |FROM nation JOIN c ON c_nationkey = n_nationkey
      |JOIN o ON o_custkey = c_custkey
      |GROUP BY n_name""".stripMargin

  private val q10FullOuterAncestorOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 30 <> 0),
      |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
      |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
      |SELECT c_custkey, n_name,
      | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation JOIN c ON c_nationkey = n_nationkey
      | JOIN o ON o_custkey = c_custkey
      | FULL JOIN l ON l_orderkey = o_orderkey
      |GROUP BY c_custkey, n_name""".stripMargin

  private val joinViewOracle =
    """SELECT n_name, o_orderpriority
      |FROM nation, customer, orders
      |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
      | AND o_orderstatus = 'F'
      | AND o_orderkey % 10 <> 0 AND c_custkey % 13 <> 0""".stripMargin

  private val q10OuterOracle =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
      | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |LEFT JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = 'R'
      | AND l_linenumber <> 3
      |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
      | AND o_orderkey % 50 <> 0
      |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  val defs: Seq[GraftQuery] = Seq(

    // WITH RECURSIVE — linear recursion compiled onto the checkpointed
    // fixpoint loop (RecursiveSql): reachability from nation-1's
    // suppliers over the customer↔supplier co-purchase graph, standard
    // working-table semantics (UNION dedups against the accumulator,
    // so the cyclic bipartite graph terminates — the BFS shape: one
    // frontier ⋈ edges equi-join + one distinct per round, lineage
    // truncated per round). Oracle: DuckDB runs the statement's
    // NATIVE recursive CTE — two engines, two recursion runtimes, one
    // fixpoint.
    // The Spark-side spelling lifts the edge set into a HELPER CTE,
    // which RecursiveSql MATERIALIZES once (the helper is
    // loop-invariant — base tables don't change within a run) instead
    // of recomputing the orders⋈lineitem join twice per BFS round.
    // Same fixpoint, same oracle statement for DuckDB (which plans the
    // inline form its own way).
    sql("incremental_sql_recursive_paths", recursivePathsSql("VARCHAR")) {
      // The two-branch UNION ALL helper is kept ON PURPOSE: a
      // one-join inline(array(struct…)) spelling was tried this round
      // and measured +0.24 s at sf0.1 — ReuseExchange already dedups
      // the two branches' exchanges, both branch joins run in the same
      // parallel job, and the Generate breaks the flat codegen'd
      // projection feeding the helper's one-time checkpoint.
      (s, d) => RecursiveSql.run(s, d,
        """WITH RECURSIVE r AS (
          | SELECT 's' || CAST(s_suppkey AS STRING) AS node
          | FROM supplier WHERE s_nationkey = 1
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
          |SELECT node FROM r""".stripMargin)
    },

    // … MAINTAINED under an insert-only base changelog: orders and
    // lineitem arrive in three batches; each batch seeds a semi-naive
    // frontier from the accumulated closure (per-changed-relation
    // delta binding — the statement is branch-linear, each relation
    // occurs once per join scope within a UNION branch) and continues
    // the SAME checkpointed loop, so per-batch cost is proportional to
    // the new derivations. The final closure must equal DuckDB's
    // from-scratch native recursive CTE over the full tables — the
    // exact twin contract. Deletes stay fenced (re-derivation/DRed).
    sql("incremental_sql_recursive_paths_stream", recursivePathsSql("VARCHAR")) {
      (s, d) => RecursiveSql.runIncremental(s, d, recursivePathsSql("STRING"),
        batches = recursivePathsBatches, deltaLinear = true)
    },

    // … RESUMED ACROSS A SESSION RESTART ([[recursivePathsResumed]]):
    // batch 2 runs in a fresh session from the persisted closure. Same
    // oracle as the uninterrupted twin: the restart must be invisible.
    sql("incremental_sql_recursive_paths_resume", recursivePathsSql("VARCHAR")) {
      (s, d) => recursivePathsResumed(s, d)
    },

    // … and under a MIXED changelog (DRed-lite): batch 2 DELETES every
    // %10==0 order inserted so far before adding its own slice — the
    // over-delete pass marks derivations through the deleted edges
    // (per-relation delta binding, propagation bounded by the affected
    // component), survivors replace the accumulator, and one support
    // probe + the frontier loop re-derive every node still reachable.
    // Oracle: DuckDB's native recursion over the FINAL table state.
    sql("incremental_sql_recursive_paths_dred",
      recursivePathsSql("VARCHAR",
        "(SELECT * FROM orders WHERE o_orderkey % 10 <> 0) odel")) {
      (s, d) => RecursiveSql.runIncremental(s, d, recursivePathsSql("STRING"),
        batches = recursivePathsBatches,
        deletesAt = recursivePathsDredDeletes, deltaLinear = true)
    },

    // … RESUME × DRed — the two maintenance disciplines COMPOSED:
    // batches 0-1 build the closure in one session and persist it;
    // a FRESH session reopens the closure from the log and processes
    // batch 2's MIXED changelog — the over-delete mark pass, the
    // survivor reset, the support-probe re-derive, and the insert
    // frontier all run against the REOPENED accumulator plus the
    // respecified delta bindings (state filters are pure expressions,
    // so the resumed run reconstructs every pre/post-delete base state
    // without re-running prior batches). An operational maintained
    // recursion needs exactly this: a restarted ingester that can
    // still retract. Oracle: DuckDB's native recursion over the FINAL
    // table state — identical to the uninterrupted DRed twin's.
    sql("incremental_sql_recursive_paths_dred_resume",
      recursivePathsSql("VARCHAR",
        "(SELECT * FROM orders WHERE o_orderkey % 10 <> 0) odel")) {
      (s, d) => recursivePathsResumed(s, d, recursivePathsDredDeletes)
    },

    // WITH RECURSIVE alongside HELPER CTEs: `edges` (no r reference)
    // binds before the loop and the recursive term reads it; `reached`
    // reads r, so it binds after the fixpoint for the outer query.
    // DuckDB runs the same mixed WITH natively.
    sql("incremental_sql_recursive_cte_mix", recursiveCteMixSql("VARCHAR")) {
      (s, d) => RecursiveSql.run(s, d, recursiveCteMixSql("STRING"))
    },

    // … the CTE-mix MAINTAINED under the same insert-only changelog as
    // the recursive_paths twin: the pre-fixpoint `edges` helper view is
    // RE-CREATED per state binding (a temp view captures its plan at
    // creation — without the re-bind the batch-0 base would freeze),
    // delta bindings of orders/lineitem flow THROUGH it (the term reads
    // them only via edges — the transitive read set drives the
    // per-relation delta seeds), and the post-fixpoint `reached` helper
    // binds after the final closure for the outer query. Oracle:
    // DuckDB's native mixed WITH over the full tables.
    sql("incremental_sql_recursive_cte_mix_stream", recursiveCteMixSql("VARCHAR")) {
      (s, d) => RecursiveSql.runIncremental(s, d,
        recursiveCteMixSql("STRING"),
        batches = recursivePathsBatches, deltaLinear = true)
    },

    sql("cdc_roundtrip_lineitem",
      """SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'Insert' ELSE 'Delete' END AS action,
        | l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_quantity, l_extendedprice, l_returnflag, l_shipdate
        |FROM lineitem""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d)
        val lines = CdcParser.toCdcLines(li.filter(col("l_orderkey") % 2 === 0),
            add = true, "LINE", lineitemCdcCols)
          .unionAll(CdcParser.toCdcLines(li.filter(col("l_orderkey") % 2 =!= 0),
            add = false, "LINE", lineitemCdcCols))
        CdcParser.parseRelation(lines, "LINE", Seq(
            "l_orderkey" -> LongType, "l_linenumber" -> LongType,
            "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
            "l_returnflag" -> StringType, "l_shipdate" -> TimestampType))
          .select("action", "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_shipdate")
    },

    // CSV source round trip — the remaining text format next to the
    // reference's pipe-CDC: rows render through to_csv (longs,
    // strings, a double, and a TIMESTAMP, whose default format must
    // parse back losslessly) and return via from_csv with the original
    // schema; the oracle reads the same columns straight from parquet,
    // so any quoting/escape/type-format asymmetry between the writer
    // and parser fails the value hash. Both directions are codegen'd
    // row-local expressions — scan-shaped, no shuffle.
    sql("csv_roundtrip_orders",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
        val schema = org.apache.spark.sql.types.StructType(cols.map(c => o.schema(c)))
        o.select(to_csv(struct(cols.map(col): _*)).as("line"))
          .select(from_csv(col("line"), schema, Map.empty[String, String]).as("r"))
          .select(cols.map(c => col(s"r.$c")): _*)
    },

    // JSON CDC envelope round trip — the Debezium-style wire format
    // next to the pipe-CDC and CSV formats: creates/updates/deletes
    // render through toJsonEnvelope (update = before AND after image)
    // and parse back via parseJsonEnvelope into SIGNED row events (u →
    // retraction + assertion), the delta engine's changelog shape. The
    // oracle reconstructs the same event multiset in SQL, so any
    // op-demux, image-selection, sign, or timestamp-format asymmetry
    // fails the hash. timestampFormat is pinned to microseconds on
    // both directions (the JSON default truncates to millis).
    sql("cdc_json_roundtrip_orders",
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders)
        |SELECT 'c' AS op, o_orderkey * 1000 AS ts_ms, 1 AS sign, o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate
        | FROM base WHERE o_orderkey % 3 = 0
        |UNION ALL SELECT 'u', o_orderkey * 1000, -1, o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate
        | FROM base WHERE o_orderkey % 3 = 1
        |UNION ALL SELECT 'u', o_orderkey * 1000, 1, o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice + 1.5, o_orderdate
        | FROM base WHERE o_orderkey % 3 = 1
        |UNION ALL SELECT 'd', o_orderkey * 1000, -1, o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice, o_orderdate
        | FROM base WHERE o_orderkey % 3 = 2""".stripMargin) {
      (s, d) =>
        val o = Tables.orders(s, d)
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        val rowSchema = org.apache.spark.sql.types.StructType(cols.map(o.schema(_)))
        val row = struct(cols.map(col): _*)
        val nullRow = lit(null).cast(rowSchema)
        val tsMs = (col("o_orderkey") * 1000).as("ts_ms")
        val jsonOpts = Map("timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")
        val creates = o.filter(col("o_orderkey") % 3 === 0)
          .select(lit("c").as("op"), nullRow.as("before"), row.as("after"), tsMs)
        val updates = o.filter(col("o_orderkey") % 3 === 1)
          .select(lit("u").as("op"), row.as("before"),
            struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              (col("o_totalprice") + 1.5).as("o_totalprice"), col("o_orderdate")).as("after"),
            tsMs)
        val dels = o.filter(col("o_orderkey") % 3 === 2)
          .select(lit("d").as("op"), row.as("before"), nullRow.as("after"), tsMs)
        val lines = CdcParser.toJsonEnvelope(
          creates.unionByName(updates).unionByName(dels), jsonOpts)
        CdcParser.parseJsonEnvelope(lines, rowSchema, jsonOpts)
    },

    // TOP-K over the MAINTAINED view — the presentation clause the
    // reference never implemented (SURVEY §2: sorts/limits ABSENT,
    // "even Q10's ORDER BY revenue DESC LIMIT 20"). The engine
    // maintains the grouped aggregate incrementally; the top-20 is a
    // per-refresh TakeOrdered over the (bounded, one-row-per-group)
    // view — O(groups) work per refresh, never a re-join. The LIMIT
    // boundary is deterministic: ties order by the unique group key
    // c_custkey in both engines, so the SELECTED SET is hash-stable,
    // not just the values.
    sql("incremental_q10_topk",
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, revenue_e4, n_rows FROM (
         | SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
         |  COUNT(*) AS n_rows
         | FROM customer, orders, lineitem, nation
         | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey
         |  AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |  AND l_returnflag = 'R'
         |  AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
         | GROUP BY c_custkey, c_name, c_acctbal, n_name) v
         |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, dir) => q10View(s, dir)
        .orderBy(col("revenue_e4").desc, col("c_custkey"))
        .limit(20)
    },

    // Same query, same oracle, deltas on both sides (order deaths %50,
    // lineitem retractions linenumber 3) — but with the bloom
    // semi-join reduction ([[SqlCompiler.Compiled.bloomReduced]])
    // pre-filtering the lineitem changelog against the date-windowed orders key set, so
    // a reduction bug (over-dropping a probe event that WOULD have
    // joined alive at some replay point) fails the hash against the
    // unreduced truth.
    sql("incremental_q10_bloom", q10Oracle)(incrementalQ10Bloom),

    // The reference's FULL dataflow end to end (DataFlow.java:63-119):
    // the changelog rendered as its CDC text format (one line stream,
    // Add/Sub + 4-char relation codes), demuxed + parsed back by
    // CdcParser, local predicates applied to the PARSED frames (the
    // pushdown now reaches the text scan), events canon-encoded, and
    // the same Q10 tree + aggregate. A reference user's actual input
    // files drive the engine; the oracle is incremental_q10's.
    sql("incremental_q10_from_cdc", q10Oracle)(incrementalQ10FromCdc),

    // The JSON-envelope wire format driving the SAME tree (per-topic
    // streams, 'd' envelopes as deletes) — same oracle as
    // incremental_q10, so a format/demux/sign asymmetry fails the hash.
    sql("incremental_q10_from_json", q10Oracle)(incrementalQ10FromJson),

    // The file-STREAM deployment shape gated end to end: CDC text
    // files dropped into a watched dir → readStream.text → CdcParser
    // demux → streaming tree (state carried across TWO file
    // micro-batches) → foreachBatch upsert into the result table.
    // Same oracle as incremental_q10.
    sql("incremental_q10_filestream", q10Oracle)(incrementalQ10FileStream),

    // STATE OBSERVABILITY gated: each Q10-tree node's end-of-replay
    // keyed-state footprint ([[DeltaEngine.stateMetrics]]) on the
    // fixture changelog. Deterministic by construction — n_keys is
    // every key that received events (parent-delta-only keys hold
    // liveness state and COUNT), state_rows is Σ|net multiset count|:
    // nation buffers all 25 rows; customer all customers; orders only
    // window survivors (%50 deletes net away); lineitem only R-flag
    // survivors (linenumber-3 deletes net away) while its key set
    // spans ALL window orders (their parent deltas arrived even where
    // every child died). state_bytes stays on the API (an engine-side
    // UTF-8 footprint the oracle can't portably mirror).
    sql("incremental_state_metrics",
      s"""SELECT 'nation' AS node,
         |  CAST((SELECT COUNT(DISTINCT n_nationkey) FROM nation) AS BIGINT) AS n_keys,
         |  CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS state_rows
         |UNION ALL
         |SELECT 'customer',
         | (SELECT COUNT(DISTINCT k) FROM (
         |    SELECT n_nationkey AS k FROM nation
         |    UNION SELECT c_nationkey FROM customer) t),
         | (SELECT COUNT(*) FROM customer)
         |UNION ALL
         |SELECT 'orders',
         | (SELECT COUNT(DISTINCT k) FROM (
         |    SELECT c_custkey AS k FROM customer
         |    UNION SELECT o_custkey FROM orders
         |    WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi') t),
         | (SELECT COUNT(*) FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |   AND o_orderkey % 50 <> 0)
         |UNION ALL
         |SELECT 'lineitem',
         | (SELECT COUNT(DISTINCT k) FROM (
         |    SELECT o_orderkey AS k FROM orders
         |    WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |    UNION SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R') t),
         | (SELECT COUNT(*) FROM lineitem
         |  WHERE l_returnflag = 'R' AND l_linenumber <> 3)""".stripMargin) {
      (s, d) =>
        val c = q10(s, d)
        stateMetrics(c.stages, c.sourceChangelogs(s, d, q10Deletes))
          .select(col("node"), col("n_keys"), col("state_rows"))
    },

    // The bloom-reduced Q10 under its incremental_sql_ name; its
    // _stream twin below runs the same reduction through the replay.
    sql("incremental_sql_q10_bloom", q10Oracle)(incrementalQ10Bloom),

    // The BLOOM-REDUCED compiled tree streamed: the raw leaf changelog
    // is pre-filtered by a STATIC bloom over the parent keys that pass
    // the compiled predicates (the date-windowed orders) before entering
    // the stream — the standard deployment shape for a pre-built
    // reduction filter — and the reduction must be answer-invariant
    // through the replay (same oracle as incremental_sql_q10).
    sql("incremental_sql_q10_bloom_stream", q10Oracle) {
      (s, dir) =>
        val c = q10(s, dir)
        val leaf = c.path.last
        val filtered = c.sourceChangelogs(s, dir, q10Deletes)
        runSqlStreamed(s, c, dir, q10Deletes, "incremental_sql_q10_bloom_stream_leaf",
          transformLogs = raw =>
            raw.updated(leaf, c.bloomReduced(filtered.updated(leaf, raw(leaf)))(leaf)))
    },

    // The skew mitigation behind the hash gate — q10 with the
    // lineitem hop salted ([[q10Salted]]); same oracle as
    // incremental_q10. The salt widening is stage data, so the
    // streamed twin runs the identical stage list and the de-skew must
    // be answer-invariant through micro-batch replay too.
    sql("incremental_q10_salted", q10Oracle)(
      (s, dir) => q10Salted(s, dir).run(s, dir, q10Deletes)),
    sql("incremental_sql_q10_salted", q10Oracle)(
      (s, dir) => q10Salted(s, dir).run(s, dir, q10Deletes)),
    sql("incremental_sql_q10_salted_stream", q10Oracle) {
      (s, dir) => runSqlStreamed(s, q10Salted(s, dir), dir, q10Deletes,
        "incremental_sql_q10_salted_stream_leaf")
    },

    // The maintained view MAINTAINED INTO THE LAKEHOUSE TABLE — the
    // reference's text-file sink upgraded: per-batch signed deltas
    // fold into MERGE commits on the versioned snapshot log (insert /
    // update / retract-to-zero DELETE), final snapshot vs the same
    // survivors oracle. Every intermediate version stays
    // time-travelable.
    sql("incremental_q10_snapshot_sink", q10Oracle)(incrementalQ10SnapshotSink),

    // The same continuous tree with EVENT-TIME TTL enabled (watermark
    // + EventTimeTimeout on every stage; delay past the fixture span,
    // so bounded state leaves the answer untouched — the production
    // contract). Same survivors oracle.
    sql("incremental_q10_stream_ttl", q10Oracle)(incrementalQ10StreamTtl),

    // LEFT OUTER over the MAINTAINED view — the enrichment shape a
    // reference user actually consumes: every customer (dimension
    // lookup via broadcast nation join), null-padded where no Q10
    // group survives the changelog, n_rows coalesced to 0. The outer
    // join is presentation over the incrementally maintained groups
    // (like HAVING/ORDER BY), so retraction correctness stays the
    // engine's concern and the padding is a stateless join — a
    // customer whose last lineitem dies reverts to the padded row on
    // the next read of the view.
    sql("incremental_q10_outer",
      s"""WITH v AS (
         | SELECT c_custkey,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
         |  COUNT(*) AS n
         | FROM customer, orders, lineitem, nation
         | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey
         |  AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |  AND l_returnflag = 'R'
         |  AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
         | GROUP BY c_custkey)
         |SELECT c.c_custkey, n.n_name, v.revenue_e4,
         | CAST(coalesce(v.n, 0) AS BIGINT) AS n_rows
         |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
         |LEFT JOIN v ON v.c_custkey = c.c_custkey""".stripMargin) {
      (s, dir) =>
        val view = q10View(s, dir)
          .select(col("c_custkey"), col("revenue_e4"), col("n_rows").as("__n"))
        Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
          .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(view, Seq("c_custkey"), "left")
          .select(col("c_custkey"), col("n_name"), col("revenue_e4"),
            coalesce(col("__n"), lit(0L)).as("n_rows"))
    },

    // ASOF JOIN from SQL TEXT — the as-of machinery green via the API
    // since r8, now reachable from a query string: compileAsOf parses
    // the DuckDB spelling (inequality in ON; Snowflake MATCH_CONDITION
    // accepted) and lowers onto the union-window operator. Same oracle
    // as events_asof_join.
    sql("incremental_sql_asof", asofOracle)(
      incrementalSqlAsOf),

    // … with a TOLERANCE bound in the ON clause (kdb aj / pandas
    // merge_asof): `p.ts - c.ts <= INTERVAL 1 HOUR` compiles onto the
    // operator's staleness conditional. Same oracle as
    // events_asof_tolerance.
    sql("incremental_sql_asof_tolerance", asofToleranceOracle)(
      incrementalSqlAsOfTolerance),

    // … and the tolerance bound through the CONTINUOUS operator: the
    // compiled spec's toleranceMicros drives streamAsOfJoin's
    // staleness conditional, same oracle as the batch tolerance form.
    sql("incremental_sql_asof_tolerance_stream", asofToleranceOracle)(
      (s, d) => incrementalSqlAsOfStream(s, d,
        sqlText = """SELECT p.event_id, p.user_id, p.ts,
          | c.click_id AS asof_click_id, c.ts AS asof_click_ts
          |FROM p ASOF LEFT JOIN c
          |ON p.user_id = c.user_id AND p.ts >= c.ts
          | AND p.ts - c.ts <= INTERVAL 1 HOUR""".stripMargin,
        sinkName = "incremental_sql_asof_tolerance_stream")),

    // … and the same compiled spec lowered onto the CONTINUOUS
    // operator (streamAsOfJoin micro-batch replay), same oracle — the
    // SQL surface drives the stream, not a hand-wired twin.
    sql("incremental_sql_asof_stream", asofOracle)(
      (s, d) => incrementalSqlAsOfStream(s, d)),

    // … with the RIGHT KEY in the select list: under LEFT the null
    // extension must surface NULL for c.user_id (matched rows carry
    // the key) — the lowering gates the left-key substitution on the
    // match witness instead of substituting unconditionally. 143 of
    // the 1981 sf0.01 purchases take the NULL path.
    sql("incremental_sql_asof_rightkey", asofRightKeyOracle)(
      incrementalSqlAsOfRightKey),

    // … and the same right-key select through the CONTINUOUS
    // operator — the stream lowering's final projection carries the
    // identical match-witness gate. Same oracle.
    sql("incremental_sql_asof_rightkey_stream", asofRightKeyOracle)(
      (s, d) => incrementalSqlAsOfStream(s, d, sqlText = asofRightKeySql,
        sinkName = "incremental_sql_asof_rightkey_stream")),

    // MAINTAINED VIEW OVER A VERSIONED TABLE (the r10 stretch): orders
    // resolves through a version-pinned shallow branch of the snapshot
    // log via SqlCompiler.compileOver — schemas, FK derivation,
    // changelogs and deletes all flow through the override. Oracle:
    // the branch head reconstructed in SQL (v1 = update + delete +
    // shifted-insert batches applied to the parquet base).
    sql("incremental_sql_over_branch", overBranchOracle)(incrementalSqlOverBranch),

    // … and the branch-sourced maintained view through the CONTINUOUS
    // engine, same oracle.
    sql("incremental_sql_over_branch_stream", overBranchOracle)(incrementalSqlOverBranchStream),

    // … the same compiled FULL OUTER (fused leaf + anti plan, ancestor
    // deletes) through the TRANSFORMWITHSTATE runner — the compiler's
    // hardest maintained shape on the supported state API, same
    // oracle: three state implementations, one truth.
    sql("incremental_sql_q10_fullouter_tws", q10FullOuterAncestorOracle)(incrementalSqlQ10FullOuterTws),

    sql("incremental_q10_rev_quantile",
      s"""WITH v AS (
         | SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4
         | FROM customer, orders, lineitem, nation
         | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey
         |  AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |  AND l_returnflag = 'R'
         |  AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
         | GROUP BY c_custkey, c_name, c_acctbal, n_name),
         |h AS (SELECT n_name, revenue_e4 // $RevBinE4 AS bin, count(*) AS n FROM v GROUP BY 1, 2),
         |c AS (SELECT n_name, bin, n,
         |  sum(n) OVER (PARTITION BY n_name ORDER BY bin) AS cum,
         |  sum(n) OVER (PARTITION BY n_name) AS total FROM h)
         |SELECT n_name,
         | min(CASE WHEN cum * 2 >= total
         |   THEN (CAST(bin AS DOUBLE) + 0.5) * CAST($RevBinE4 AS DOUBLE) END) AS p50_rev_est,
         | CAST(max(total) AS BIGINT) AS n_cust
         |FROM c GROUP BY n_name""".stripMargin)(incrementalQ10RevQuantile),

    sql("incremental_q10_running",
      s"""WITH base AS (
         | SELECT c_custkey, o_orderkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT) AS rev_e4
         | FROM customer, orders, lineitem, nation
         | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
         |  AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |  AND l_returnflag = 'R'),
         |ev AS (
         | SELECT 0 AS seq, 1 AS sign, c_custkey, l_orderkey, l_linenumber, rev_e4 FROM base
         | UNION ALL
         | SELECT 1, -1, c_custkey, l_orderkey, l_linenumber, rev_e4 FROM base WHERE o_orderkey % 50 = 0
         | UNION ALL
         | SELECT 1, -1, c_custkey, l_orderkey, l_linenumber, rev_e4 FROM base
         | WHERE l_linenumber = 3 AND o_orderkey % 50 <> 0)
         |SELECT c_custkey, CAST(seq AS BIGINT) AS seq, l_orderkey, l_linenumber,
         | CAST(sign AS BIGINT) AS sign,
         | CAST(SUM(sign * rev_e4) OVER (PARTITION BY c_custkey
         |   ORDER BY seq, l_orderkey, l_linenumber, sign, rev_e4
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_revenue_e4
         |FROM ev""".stripMargin)(incrementalQ10Running),

    // Pearson CORRELATION maintained incrementally — the compiler
    // folds retractable CO-MOMENTS (n, Σx, Σy, Σx², Σy², Σxy) exactly
    // (DECIMAL(38,0); INTEGRAL arguments enforced) and evaluates
    //   r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx²−(Σx)²)·sqrt(n·Σy²−(Σy)²))
    // once per group in double. The oracle mirrors the formula
    // literally over HUGEINT moments (including the greatest(…, 0)
    // clamps before each sqrt), so the doubles are bit-identical.
    sql("incremental_sql_corr",
      """WITH t AS (
        | SELECT n_name, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
        |  o_custkey AS y
        | FROM region, nation, customer, orders
        | WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey
        |  AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |  AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0),
        |m AS (SELECT n_name,
        |  COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) END) AS sy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * x END) AS sxx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) * y END) AS syy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * y END) AS sxy,
        |  COUNT(*) AS n_rows
        | FROM t GROUP BY n_name)
        |SELECT n_name,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / NULLIF(sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
        |    * sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 0.0) AS corr_price_cust,
        | n_rows
        |FROM m""".stripMargin) {
      (s, dir) => SqlCompiler.run(s, dir,
        """SELECT n_name,
          | CORR(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS corr_price_cust,
          | COUNT(*) AS n_rows
          |FROM region, nation, customer, orders
          |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
          | AND o_custkey = c_custkey
          | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
          |GROUP BY n_name""".stripMargin,
        deletes = Map(
          "customer" -> (col("c_custkey") % 11 === 0),
          "orders" -> (col("o_orderkey") % 7 === 0)))
    },

    // CORR + COVAR_SAMP over the CONTINUOUS engine's streamed leaf —
    // the co-moment folds under micro-batch replay with retractions in
    // later batches; oracle mirrors both closed forms over HUGEINT
    // moments.
    sql("incremental_sql_corr_stream",
      """WITH t AS (
        | SELECT n_name, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x,
        |  o_custkey AS y
        | FROM region, nation, customer, orders
        | WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey
        |  AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |  AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0),
        |m AS (SELECT n_name,
        |  COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) END) AS sy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * x END) AS sxx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) * y END) AS syy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * y END) AS sxy,
        |  COUNT(*) AS n_rows
        | FROM t GROUP BY n_name)
        |SELECT n_name,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / NULLIF(sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
        |    * sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 0.0) AS corr_price_cust,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / CAST(NULLIF(n * (n - 1), 0) AS DOUBLE) AS covar_price_cust,
        | n_rows
        |FROM m""".stripMargin) {
      (s, dir) => runSqlStreamed(s, SqlCompiler.compile(s, dir,
          """SELECT n_name,
            | CORR(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS corr_price_cust,
            | COVAR_SAMP(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS covar_price_cust,
            | COUNT(*) AS n_rows
            |FROM region, nation, customer, orders
            |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
            | AND o_custkey = c_custkey
            | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
            |GROUP BY n_name""".stripMargin),
        dir, Map(
          "customer" -> (col("c_custkey") % 11 === 0),
          "orders" -> (col("o_orderkey") % 7 === 0)),
        "incremental_sql_corr_stream_leaf")
    },

    // MIN/MAX maintained via the same per-value netting — deleting
    // the current extreme must re-expose the runner-up.
    sql("incremental_sql_minmax",
      """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_totalprice <= 400000
        |GROUP BY n_name""".stripMargin) {
      (s, dir) => SqlCompiler.run(s, dir,
        """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
          | COUNT(*) AS n_rows
          |FROM region, nation, customer, orders
          |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
          | AND o_custkey = c_custkey
          | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
          |GROUP BY n_name""".stripMargin,
        deletes = Map(
          "customer" -> (col("c_custkey") % 11 === 0),
          "orders" -> (col("o_totalprice") > 400000)))
    },

    // The per-(group, value) NETTING aggregates (MIN/MAX/MEDIAN) over
    // the CONTINUOUS engine's streamed leaf — value nets must survive
    // micro-batch boundaries (a later batch's delete re-exposes the
    // runner-up extreme / shifts the median), same oracle family as
    // the batch entries.
    sql("incremental_sql_minmax_stream",
      """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        | quantile_disc(o_totalprice, 0.5) AS med, COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_totalprice <= 400000
        |GROUP BY n_name""".stripMargin) {
      (s, dir) => runSqlStreamed(s, SqlCompiler.compile(s, dir,
          """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
            | MEDIAN(o_totalprice) AS med, COUNT(*) AS n_rows
            |FROM region, nation, customer, orders
            |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
            | AND o_custkey = c_custkey
            | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
            |GROUP BY n_name""".stripMargin),
        dir, Map(
          "customer" -> (col("c_custkey") % 11 === 0),
          "orders" -> (col("o_totalprice") > 400000)),
        "incremental_sql_minmax_stream_leaf")
    },

    // VIEW MODE through the CONTINUOUS engine — same oracle as
    // incremental_sql_join_view, so stream/batch view divergence
    // fails the hash.
    sql("incremental_sql_view_stream", joinViewOracle)(
      incrementalSqlViewStream),

    // The dimension-keyed plan trunk-bucketed by the EXPLICIT
    // swapPairOrientation API (S = 8) behind the SAME oracle — both
    // construction paths to the bucketed product must be
    // answer-invariant. (The default incremental_shared_dim plan is
    // already trunk-bucketed via PairOrientation.Auto.)
    sql("incremental_shared_dim_salted", sharedDimOracle)(incrementalSharedRevenueSalted)) ++ maintainedViews

  private def starFullOuterSql =
    """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
      | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
      |FROM nation
      |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
      |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
      |GROUP BY n_name, c_mktsegment""".stripMargin

  private def starFullOuterOracle =
    """WITH n AS (SELECT * FROM nation WHERE n_nationkey % 7 <> 0),
      |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
      |SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
      |FROM n FULL JOIN c ON c_nationkey = n_nationkey
      |FULL JOIN s ON s_nationkey = n_nationkey
      |GROUP BY n_name, c_mktsegment""".stripMargin

  private def starFullOuterDeletes = Map(
    "nation" -> (col("n_nationkey") % 7 === 0),
    "customer" -> (col("c_custkey") % 13 === 0),
    "supplier" -> (col("s_suppkey") % 5 === 0))

  // PAIR-STAR fixtures: the boundary fact tables shrink via RELATION
  // OVERRIDES (urgent orders, quantity ≤ 2 lineitems — compileOver's
  // loader seam, mirroring the oracle's CTE pre-filters): expressing
  // the restriction as WHERE would NULL-reject the preservation
  // classes, and expressing it as changelog DELETES makes the replay
  // materialize the UNSHRUNK per-(customer, supplier) double product
  // before retracting 90% of it — quadratic in fact size (it OOMed a
  // sf0.01 stream replay). Deletes stay on all four non-dim relations
  // for the retraction dynamics the entry exists to gate.
  private def pairStarSql =
    """SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS ord_e2,
      | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS li_e2
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |FULL OUTER JOIN orders ON o_custkey = c_custkey
      |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
      |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin

  private def pairStarOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0),
      |     o AS (SELECT * FROM orders
      |           WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 <> 0),
      |     l AS (SELECT * FROM lineitem
      |           WHERE l_quantity <= 2 AND l_linenumber <> 3)
      |SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS ord_e2,
      | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS li_e2
      |FROM nation JOIN c ON c_nationkey = n_nationkey
      |JOIN s ON s_nationkey = n_nationkey
      |FULL JOIN o ON o_custkey = c_custkey
      |FULL JOIN l ON l_suppkey = s_suppkey
      |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin

  private def pairStarOverrides: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "orders" -> ((s, dir) => Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")),
    "lineitem" -> ((s, dir) => Tables.lineitem(s, dir)
      .filter(col("l_quantity") <= 2)))

  private def pairStarDeletes = Map(
    "customer" -> (col("c_custkey") % 13 === 0),
    "supplier" -> (col("s_suppkey") % 5 === 0),
    "orders" -> (col("o_orderkey") % 7 === 0),
    "lineitem" -> (col("l_linenumber") === 3))

  // The pair-star with an inner CHAIN PREFIX above the bridge:
  // region→nation→{customer, supplier}, boundaries off the two bridge
  // relations. The region delete drives the transitive orphan path.
  private def pairStarChainSql =
    """SELECT r_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS ord_e2,
      | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS li_e2
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |FULL OUTER JOIN orders ON o_custkey = c_custkey
      |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
      |GROUP BY r_name, o_orderpriority, l_returnflag""".stripMargin

  private def pairStarChainOracle =
    """WITH r AS (SELECT * FROM region WHERE r_regionkey % 2 <> 0),
      |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0),
      |     o AS (SELECT * FROM orders
      |           WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 <> 0),
      |     l AS (SELECT * FROM lineitem
      |           WHERE l_quantity <= 2 AND l_linenumber <> 3)
      |SELECT r_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS ord_e2,
      | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS li_e2
      |FROM r JOIN nation ON n_regionkey = r_regionkey
      |JOIN c ON c_nationkey = n_nationkey
      |JOIN s ON s_nationkey = n_nationkey
      |FULL JOIN o ON o_custkey = c_custkey
      |FULL JOIN l ON l_suppkey = s_suppkey
      |GROUP BY r_name, o_orderpriority, l_returnflag""".stripMargin

  private def pairStarChainDeletes = Map(
    "region" -> (col("r_regionkey") % 2 === 0),
    "customer" -> (col("c_custkey") % 13 === 0),
    "supplier" -> (col("s_suppkey") % 5 === 0),
    "orders" -> (col("o_orderkey") % 7 === 0),
    "lineitem" -> (col("l_linenumber") === 3))

  // WHERE-level gate on the bridging dimension: EXISTS drops the
  // orphan classes statically; NOT EXISTS keeps all six, gating
  // classes 1-4 dynamically through spliced gate hops.
  private def pairStarGate(neg: String) =
    s"""WHERE ${neg}EXISTS (SELECT 1 FROM region
       |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')""".stripMargin
  /** Splice the gate before the statement's FINAL GROUP BY only — a
    * blanket String.replace would corrupt both statements if the pair
    * statement ever grows a subquery containing its own GROUP BY. */
  private def spliceBeforeLastGroupBy(sqlText: String, gate: String): String = {
    val at = sqlText.lastIndexOf("GROUP BY")
    require(at >= 0, "pair-star statement lost its GROUP BY")
    sqlText.substring(0, at) + gate + "\n" + sqlText.substring(at)
  }
  private def pairStarGatedSql(neg: String) =
    spliceBeforeLastGroupBy(pairStarSql, pairStarGate(neg))
  private def pairStarGatedOracle(neg: String) =
    spliceBeforeLastGroupBy(pairStarOracle, pairStarGate(neg))

  // CHAIN × GATE: the un-prefixed pair-star gates the bridge dimension
  // on region — but region IS the chain's prefix root here, and a gate
  // subquery over a FROM relation is the loudly-fenced self-semi
  // shape (boundary-side gates are fenced too: three-valued
  // semantics; and non-root inner gates like customer trip the hop
  // key-alignment fence). So the chain composition gates the BRIDGE
  // NATION — now a CHILD of the folded region prefix, unlike the
  // un-prefixed twin where it was the tree root — on `events`
  // activity ("nations with a high-value click"), correlated on
  // n_nationkey: batch-2 deletes retract through the gate hops AND
  // the region prefix in one changelog. EXISTS is FALSE on the
  // core-NULL classes' structural NULLs (static drop); NOT EXISTS
  // keeps all six.
  private def pairStarChainGate(neg: String) =
    s"""WHERE ${neg}EXISTS (SELECT 1 FROM events
       |  WHERE user_id = n_nationkey AND event_type = 'click' AND value > 180)""".stripMargin
  private def pairStarChainGatedSql(neg: String) =
    spliceBeforeLastGroupBy(pairStarChainSql, pairStarChainGate(neg))
  private def pairStarChainGatedOracle(neg: String) =
    spliceBeforeLastGroupBy(pairStarChainOracle, pairStarChainGate(neg))

  // CHAIN × WHERE: the boundary predicate on the chain-prefixed pair
  // shape — same class selection as the un-prefixed filtered twin
  // ({1, 3, 6}: every lineitem-NULL class is NULL-rejected), now with
  // the prefix folded into the surviving classes' cores, so a REGION
  // delete must retract transitively through the filtered plans.
  private def pairStarChainFilteredSql =
    spliceBeforeLastGroupBy(pairStarChainSql, "WHERE l_returnflag = 'R'")
  private def pairStarChainFilteredOracle =
    spliceBeforeLastGroupBy(pairStarChainOracle, "WHERE l_returnflag = 'R'")

  private def pairStarFilteredOracle =
    """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
      |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0),
      |     o AS (SELECT * FROM orders
      |           WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 7 <> 0),
      |     l AS (SELECT * FROM lineitem
      |           WHERE l_quantity <= 2 AND l_linenumber <> 3)
      |SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS ord_e2,
      | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS li_e2
      |FROM nation JOIN c ON c_nationkey = n_nationkey
      |JOIN s ON s_nationkey = n_nationkey
      |FULL JOIN o ON o_custkey = c_custkey
      |FULL JOIN l ON l_suppkey = s_suppkey
      |WHERE l_returnflag = 'R'
      |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin

  private def pairStarFilteredSql =
    """SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
      | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS ord_e2,
      | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS li_e2
      |FROM nation
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN supplier ON s_nationkey = n_nationkey
      |FULL OUTER JOIN orders ON o_custkey = c_custkey
      |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
      |WHERE l_returnflag = 'R'
      |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin

  /** Every maintained view whose twins replay its batch statement
    * unchanged, declared once through [[maintained]]. */
  private def maintainedViews: Seq[GraftQuery] = Seq(

    // The flagship maintained view: Q10 over the synthetic changelog,
    // its continuous twin (runStreamTree micro-batches, node state
    // carried across batches in the state store) and its
    // transformWithState twin (per-node typed MapState child
    // multisets, ValueState liveness) — three runners, one oracle.
    maintained("incremental_q10", q10Oracle, q10Sql, q10Deletes, twins = Seq(Stream, Tws)),

    // The SAME query under the incremental_sql_ name — the reference's
    // "continuous sql query" pitch as an actual API, each entry
    // gated on its own name.
    maintained("incremental_sql_q10", q10Oracle, q10Sql, q10Deletes),

    // The SAME maintained tree grouped into (nation, order month)
    // buckets (see [[monthlyOracle]]); the stream twin catches a
    // retraction landing in the wrong month across micro-batch
    // boundaries.
    maintained("incremental_monthly_revenue", monthlyOracle, monthlySql, q10Deletes),

    // A region→nation→customer→orders chain with deletes on a
    // MID-CHAIN node (customer: death fans out through its orders) and
    // on orders.
    maintained("incremental_order_revenue",
      """SELECT n_name,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS totalprice_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS totalprice_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0)),
      twins = Nil),

    // A region→nation→supplier→lineitem tree: a root predicate (region
    // filter), a numeric leaf predicate, supplier deletes (parent-death
    // fan-out over that supplier's lineitems) and lineitem deletes.
    maintained("incremental_supplier_rev",
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM region, nation, supplier, lineitem
        |WHERE n_regionkey = r_regionkey AND s_nationkey = n_nationkey
        | AND l_suppkey = s_suppkey AND r_name IN ('ASIA', 'EUROPE')
        | AND l_quantity >= 25 AND l_linenumber <> 2 AND s_suppkey % 20 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name,
        | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM region, nation, supplier, lineitem
        |WHERE n_regionkey = r_regionkey AND s_nationkey = n_nationkey
        | AND l_suppkey = s_suppkey AND r_name IN ('ASIA', 'EUROPE')
        | AND l_quantity >= 25
        |GROUP BY n_name""".stripMargin,
      Map(
        "supplier" -> (col("s_suppkey") % 20 === 0),
        "lineitem" -> (col("l_linenumber") === 2)),
      twins = Nil),

    // Incremental semi- and anti-join (see [[existsOracle]]): EXISTS
    // and NOT EXISTS over the same changelog and delete schedule.
    maintained("incremental_exists_semi", existsOracle, existsSql(""), existsDeletes,
      twins = Nil),
    maintained("incremental_not_exists_anti",
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        | CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_e2
        |FROM customer
        |WHERE c_custkey % 30 <> 0
        | AND NOT EXISTS (SELECT 1 FROM orders
        |                 WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
        |                   AND o_orderkey % 40 <> 0)
        |GROUP BY c_nationkey""".stripMargin,
      existsSql("NOT "), existsDeletes, twins = Nil),

    // BRANCHING tree (multi-parent lineitem: orders-chain AND part) —
    // the AJU capability beyond a chain (see [[partRevenueSql]]).
    maintained("incremental_part_revenue", partRevenueOracle, partRevenueSql,
      partRevenueDeletes, twins = Nil),

    // SHARED DIMENSION (many-to-many, see [[sharedDimSql]]): the
    // maintained aggregate folds signed PAIR deltas — every (order,
    // supplier) pair of a nation — with deletes on both sides of the
    // product; the stream and transformWithState twins put the whole
    // stage vocabulary (liveness AND pair) behind the same oracle.
    maintained("incremental_shared_dim", sharedDimOracle, sharedDimSql, sharedDimDeletes,
      twins = Seq(Stream, Tws)),

    // LEFT OUTER JOIN from SQL text — inner tree + anti plan unioned
    // into one fold; NULL-extended orders (no R-lineitem) keep
    // COUNT(*) alive while SUM skips them. Oracle: the same LEFT JOIN
    // over the survivors.
    maintained("incremental_sql_q10_outer", q10OuterOracle,
      q10OuterSql, q10OuterDeletes),

    // FULL OUTER JOIN from SQL text — both preservation directions
    // maintained: the anti plan NULL-extends orders that lost every
    // lineitem, the orphan plan preserves lineitems whose order was
    // deleted (they fold under NULL customer/nation keys — SQL's
    // right-preserved row). Oracle: DuckDB FULL JOIN over
    // delete-filtered derived tables (deletes must live in the
    // subqueries, not WHERE, which would NULL-reject the orphans).
    maintained("incremental_sql_q10_fullouter",
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterSql, q10FullOuterDeletes),

    // FULL OUTER × EXISTS gate on an inner relation: the gate is FALSE
    // on every right-preserved row (structural NULL correlation), so
    // the orphan class is not built; children of gate-failing nations
    // were MATCHED rows at join time and are WHERE-dropped — the
    // ungated-prefix orphan plan must not resurrect them. Oracle is
    // the literal FULL JOIN + WHERE EXISTS over the post-delete state,
    // so DuckDB performs the same join-then-filter independently.
    maintained("incremental_sql_q10_fullouter_gated",
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterGatedSql(""), q10FullOuterDeletes),

    // … and the NOT EXISTS mirror: trivially TRUE on the structural
    // NULLs, so the orphan group (lineitems whose order died, under
    // the delete set) IS emitted while every ASIA-matched row drops.
    maintained("incremental_sql_q10_fullouter_gated_anti",
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterGatedSql("NOT "), q10FullOuterDeletes, twins = Seq(Stream, Tws)),

    // the IN spelling of the same gate (IN ≡ EXISTS on the matched
    // side; on structural NULLs both are not-TRUE, so the orphan class
    // drops identically — the oracle says so in the IN spelling).
    maintained("incremental_sql_q10_fullouter_gated_in",
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
        |GROUP BY c_custkey, n_name""".stripMargin,
      """SELECT c_custkey, n_name,
        | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterDeletes),

    // FULL OUTER + WHERE on the preserved side (r8's loud rejection,
    // now planned): the date conjunct NULL-rejects every orphan row
    // in SQL, so the compile drops the orphan plan and keeps the
    // NULL-extension side — gated against DuckDB running the LITERAL
    // FULL JOIN + WHERE, which performs the same NULL-rejection
    // independently.
    maintained("incremental_sql_q10_fullouter_filtered",
      s"""WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
         |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
         |SELECT c_custkey, n_name,
         | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
         | COUNT(*) AS n_rows
         |FROM nation JOIN customer ON c_nationkey = n_nationkey
         | JOIN o ON o_custkey = c_custkey
         | FULL JOIN l ON l_orderkey = o_orderkey
         |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterFilteredSql, q10FullOuterDeletes),

    // FULL OUTER + WHERE on the boundary CHILD — the mirror
    // NULL-rejection: extensions die, orphans survive the filter
    // (effectively the RIGHT-preserved reading), gated against the
    // literal FULL JOIN + WHERE which DuckDB NULL-rejects itself.
    maintained("incremental_sql_q10_fullouter_child_filtered",
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE l_linenumber <> 3
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterChildFilteredSql, q10FullOuterDeletes),

    // FULL OUTER + WHERE o_orderkey IS NULL — the find-the-orphans
    // idiom (r9's loud fence, now planned): the view is EXACTLY the
    // orphan plan's output, every left grouping key NULL. Gated
    // against DuckDB running the literal FULL JOIN + IS NULL, which
    // selects the right-preserved rows independently; ancestor
    // deletes make orphan creation flow through the tree prefix.
    maintained("incremental_sql_q10_fullouter_isnull",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 30 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_partkey % 3 <> 0)
        |SELECT c_custkey, n_name,
        | CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        | JOIN o ON o_custkey = c_custkey
        | FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE o_orderkey IS NULL
        |GROUP BY c_custkey, n_name""".stripMargin,
      q10FullOuterIsNullSql, q10FullOuterAncestorDeletes),

    // FULL OUTER with ANCESTOR deletes (r8's other fence): deleting a
    // customer must orphan its orders' lineitems — the tree-prefix
    // orphan key node sees the flip through the customer hop. Oracle:
    // all three delete sets as derived tables, orphans via FULL JOIN.
    maintained("incremental_sql_q10_fullouter_ancestor_del", q10FullOuterAncestorOracle,
      q10FullOuterSql, q10FullOuterAncestorDeletes),

    // TWO NESTED FULL OUTER boundaries × WHERE — the r10 verdict's
    // last compile fence, lifted. SQL's double FULL OUTER decomposes
    // into six row classes (see SqlCompiler's NESTED TWO-BOUNDARY
    // section); the WHERE on the leaf kills the three classes whose
    // lineitem side is NULL, so this maintains the main tree PLUS the
    // two genuinely new plans: orphan-orders ⋈ their lineitems
    // (a customer delete moves whole order subtrees into it) and
    // orphan-lineitems keyed off orders' RAW changelog (an orders
    // delete moves rows into it). Deletes on all three levels.
    maintained("incremental_sql_q10_fullouter_two_boundary",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_linenumber <> 3)
        |SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN o ON o_custkey = c_custkey
        |FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 50 === 0),
        "lineitem" -> (col("l_linenumber") === 3)),
      twins = Seq(Stream, Tws)),

    // … and WITHOUT a WHERE: all SIX classes maintained at once,
    // including orphan-orders-with-no-lineitems (the NOT EXISTS wiring
    // over the orphan hop's emissions — the one class the filtered
    // entry's WHERE kills). Same triple-level deletes.
    maintained("incremental_sql_q10_fullouter_two_boundary_all",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_linenumber <> 3)
        |SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN o ON o_custkey = c_custkey
        |FULL JOIN l ON l_orderkey = o_orderkey
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 50 === 0),
        "lineitem" -> (col("l_linenumber") === 3))),

    // … and the FIND-THE-ORPHANS reading across both boundaries:
    // `c_custkey IS NULL` selects exactly the classes whose customer
    // side is nulled (orphan-orders ⋈ lineitems + orphan-lineitems;
    // the main tree never runs — suppressMainLeaf), composed with the
    // null-rejecting lineitem conjunct that drops the no-C class.
    maintained("incremental_sql_q10_fullouter_two_boundary_isnull",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_linenumber <> 3)
        |SELECT o_orderpriority, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN o ON o_custkey = c_custkey
        |FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE c_custkey IS NULL AND l_returnflag = 'R'
        |GROUP BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_custkey IS NULL AND l_returnflag = 'R'
        |GROUP BY o_orderpriority""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 50 === 0),
        "lineitem" -> (col("l_linenumber") === 3))),

    // RIGHT OUTER JOIN from SQL text — canonicalized by the compiler
    // onto the LEFT OUTER machinery (children swapped, preserved side
    // unchanged); same oracle as the LEFT form because the two
    // spellings denote the same view.
    maintained("incremental_sql_q10_right", q10OuterOracle,
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
         | COUNT(*) AS n_rows
         |FROM lineitem
         |RIGHT JOIN (nation
         | JOIN customer ON c_nationkey = n_nationkey
         | JOIN orders ON o_custkey = c_custkey)
         | ON l_orderkey = o_orderkey AND l_returnflag = 'R'
         |WHERE o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin,
      q10OuterDeletes),

    // AVG maintained incrementally — compiled by SqlCompiler to the
    // retractable SUM/COUNT pair (exact integral folds, one double
    // division per group; FP arguments are rejected at compile time).
    // The oracle mirrors the same exact-sum-then-divide so the double
    // is bit-identical.
    maintained("incremental_sql_avg",
      """SELECT n_name,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
        |   / COUNT(*) AS avg_price_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name,
        | AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS avg_price_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // POPULATION variance/stddev — same retractable (n, Σx, Σx²)
    // moments as the _SAMP forms, denominator n² (defined from one
    // row, so single-row groups emit 0 instead of NULL).
    maintained("incremental_sql_stddev_pop",
      """WITH t AS (
        | SELECT n_name, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
        | FROM region, nation, customer, orders
        | WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey
        |  AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |  AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0),
        |m AS (SELECT n_name, COUNT(v) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        |             SUM(CAST(v AS HUGEINT) * v) AS ss, COUNT(*) AS n_rows
        |      FROM t GROUP BY n_name)
        |SELECT n_name,
        | (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |   / CAST(NULLIF(n * n, 0) AS DOUBLE) AS var_pop_e2,
        | sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |   / CAST(NULLIF(n * n, 0) AS DOUBLE)) AS std_pop_e2,
        | n_rows
        |FROM m""".stripMargin,
      """SELECT n_name,
        | VAR_POP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS var_pop_e2,
        | STDDEV_POP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS std_pop_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // VAR_SAMP / STDDEV_SAMP maintained incrementally — the compiler
    // folds the retractable moments (n, Σx, Σx²) exactly (Σ in
    // DECIMAL(38,0); INTEGRAL argument enforced at compile time) and
    // evaluates (n·Σx² − (Σx)²)/(n·(n−1)) once per group in double.
    // The oracle mirrors that formula literally over the same exact
    // integer moments (HUGEINT sums), so the doubles — and sqrt, IEEE
    // correctly rounded — are bit-identical across engines.
    maintained("incremental_sql_stddev",
      """WITH t AS (
        | SELECT n_name, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
        | FROM region, nation, customer, orders
        | WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey
        |  AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |  AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0),
        |m AS (SELECT n_name, COUNT(v) AS n, SUM(CAST(v AS HUGEINT)) AS s,
        |             SUM(CAST(v AS HUGEINT) * v) AS ss, COUNT(*) AS n_rows
        |      FROM t GROUP BY n_name)
        |SELECT n_name,
        | (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |   / CAST(NULLIF(n * (n - 1), 0) AS DOUBLE) AS var_price_e2,
        | sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |   / CAST(NULLIF(n * (n - 1), 0) AS DOUBLE)) AS std_price_e2,
        | n_rows
        |FROM m""".stripMargin,
      """SELECT n_name,
        | VAR_SAMP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS var_price_e2,
        | STDDEV_SAMP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS std_price_e2,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // CORR composed with ROLLUP — the co-moment folds run per grouping
    // set through the same delta-side Expand as every other aggregate
    // family, so subtotal and grand-total correlations maintain
    // incrementally too; DuckDB's native ROLLUP + its own moment
    // mirror per set is the oracle.
    maintained("incremental_sql_corr_rollup",
      """WITH t AS (
        | SELECT n_name, o_orderstatus,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS x, o_custkey AS y
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderkey % 6 <> 0),
        |m AS (SELECT n_name, o_orderstatus,
        |  COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) END) AS sy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * x END) AS sxx,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(y AS HUGEINT) * y END) AS syy,
        |  SUM(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN CAST(x AS HUGEINT) * y END) AS sxy,
        |  COUNT(*) AS n_rows
        | FROM t GROUP BY ROLLUP (n_name, o_orderstatus))
        |SELECT n_name, o_orderstatus,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / NULLIF(sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
        |    * sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 0.0) AS r,
        | n_rows
        |FROM m""".stripMargin,
      """SELECT n_name, o_orderstatus,
        | CORR(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS r,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // COUNT(DISTINCT) maintained incrementally — no extra engine
    // state: the leaf delta multiset nets per (group, value), so the
    // compiler derives it with a per-value rollup joined back on the
    // group keys.
    maintained("incremental_sql_count_distinct",
      """SELECT n_name, COUNT(DISTINCT o_orderpriority) AS n_prio,
        | CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sum_cust, COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, COUNT(DISTINCT o_orderpriority) AS n_prio,
        | SUM(DISTINCT o_custkey) AS sum_cust, COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // AVG(DISTINCT) — the remaining distinct-aggregate form: same
    // per-(group, value) netting rollup as SUM/COUNT DISTINCT, exact
    // integer Σ and n over the surviving value set, ONE correctly-
    // rounded IEEE division — so retraction-exact and bit-identical
    // cross-engine.
    maintained("incremental_sql_avg_distinct",
      """SELECT n_name, AVG(DISTINCT o_custkey) AS avg_cust,
        | COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, AVG(DISTINCT o_custkey) AS avg_cust,
        | COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // Aggregate FILTER clauses — everyday SQL the compiler turns into
    // sign-weighted CASE folds (rows failing the predicate contribute
    // NULL, which every retractable aggregate handles exactly; COUNT
    // FILTER becomes a 0/1 SUM). One entry carries a FILTER on every
    // supported kind; the oracle uses DuckDB's native FILTER (CASE for
    // the DISTINCT one) so the rewrite itself is what's gated.
    maintained("incremental_sql_filter",
      """SELECT n_name,
        | COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS big_rev_e2,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_orderkey % 2 = 0) AS DOUBLE)
        |   / COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS avg_even_e2,
        | MAX(o_orderkey) FILTER (WHERE o_orderkey % 2 = 1) AS max_odd,
        | COUNT(DISTINCT CASE WHEN o_totalprice > 100000 THEN o_orderpriority END) AS n_prio_big,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name,
        | COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_totalprice > 150000) AS big_rev_e2,
        | AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_orderkey % 2 = 0) AS avg_even_e2,
        | MAX(o_orderkey) FILTER (WHERE o_orderkey % 2 = 1) AS max_odd,
        | COUNT(DISTINCT o_orderpriority) FILTER (WHERE o_totalprice > 100000) AS n_prio_big,
        | COUNT(*) AS n_rows
        |FROM region, nation, customer, orders
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND o_custkey = c_custkey
        | AND r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 7 === 0))),

    // EXISTS from SQL text — the correlated subquery compiles to a
    // set-semantics key node over orders(o_custkey) gating customer's
    // changelog through an extra liveness hop (SqlCompiler gate
    // surgery); the subquery's local predicate is pushed to the orders
    // scan. The same declaration as incremental_exists_semi, with a
    // stream twin.
    maintained("incremental_sql_exists", existsOracle, existsSql(""), existsDeletes),

    // NOT EXISTS from SQL text, composed WITH an outer FK tree: the
    // anti gate splices in front of customer's tree stage (base
    // changelog routes by the correlation key c_custkey, the gate
    // re-keys survivors by c_nationkey into the nation join).
    maintained("incremental_sql_not_exists",
      """SELECT n_name, COUNT(*) AS n_cust,
        | CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS acctbal_e2
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        | AND c_custkey % 30 <> 0
        | AND NOT EXISTS (SELECT 1 FROM orders
        |                 WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
        |                   AND o_orderkey % 40 <> 0)
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, COUNT(*) AS n_cust,
        | SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS acctbal_e2
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        | AND NOT EXISTS (SELECT 1 FROM orders
        |                 WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 30 === 0),
        "orders" -> (col("o_orderkey") % 40 === 0))),

    // IN (subquery) from SQL text — the projected column is the
    // matching key, the equality implicit; compiles to the same semi
    // gate. Deletes shrink the matching set (a customer leaving
    // retracts every order it admitted) and the outer side.
    maintained("incremental_sql_in",
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey % 6 <> 0
        | AND o_custkey IN (SELECT c_custkey FROM customer
        |                   WHERE c_acctbal > 1000 AND c_custkey % 30 <> 0)
        |GROUP BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 1000)
        |GROUP BY o_orderpriority""".stripMargin,
      Map(
        "orders" -> (col("o_orderkey") % 6 === 0),
        "customer" -> (col("c_custkey") % 30 === 0))),

    // SELF-JOIN from SQL text — one relation under two FROM aliases,
    // compiled via SqlCompiler's alias expansion (each instance becomes
    // its own virtual relation o1/o2 with prefixed columns): urgent
    // orders paired with low-priority orders of the same customer, the
    // hierarchy/pair shape a real user writes first. Plans as customer
    // (a root dimension) shared by the two instances — the
    // trunk-bucketed pair glue — with instance-independent deletes
    // retracting across the product in both directions. DuckDB runs
    // the self-join natively as the oracle.
    maintained("incremental_sql_self_join",
      """SELECT c_mktsegment, COUNT(*) AS n_pairs,
        | CAST(SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS low_rev_e2
        |FROM customer, orders o1, orders o2
        |WHERE o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        | AND o1.o_orderkey % 7 <> 0 AND o2.o_orderkey % 5 <> 0
        |GROUP BY c_mktsegment""".stripMargin,
      """SELECT c_mktsegment, COUNT(*) AS n_pairs,
        | SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS low_rev_e2
        |FROM customer, orders o1, orders o2
        |WHERE o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        |GROUP BY c_mktsegment""".stripMargin,
      Map(
        "o1" -> (col("o1_o_orderkey") % 7 === 0),
        "o2" -> (col("o2_o_orderkey") % 5 === 0))),

    // TWO pair stages in ONE graph — the next shape after one shared
    // dimension: nation shared by customer AND supplier (outer glue,
    // trunk-bucketed — root dim), customer shared by two orders
    // instances via self-join expansion (inner glue, customer-keyed —
    // c_custkey cardinality grows with the data, so PairOrientation
    // .Auto correctly keeps the zero-extra-shuffle routing there).
    // Deletes hit a branch of EACH glue, so retractions cross both
    // products. Five relations, six stages, DuckDB runs the quad join
    // natively as the oracle.
    maintained("incremental_sql_two_pairs",
      """SELECT n_name, COUNT(*) AS n_quads,
        | CAST(SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS low_rev_e2
        |FROM nation, customer, supplier, orders o1, orders o2
        |WHERE c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        | AND o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        | AND s_acctbal >= 0
        | AND o1.o_orderkey % 7 <> 0 AND s_suppkey % 5 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, COUNT(*) AS n_quads,
        | SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS low_rev_e2
        |FROM nation, customer, supplier, orders o1, orders o2
        |WHERE c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        | AND o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        | AND s_acctbal >= 0
        |GROUP BY n_name""".stripMargin,
      Map(
        "o1" -> (col("o1_o_orderkey") % 7 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0))),

    // The reference's FULL flagship shape — grouped aggregate + HAVING
    // + ORDER BY + LIMIT — compiled from one SQL text: the wrappers
    // are presentation over the maintained view (deterministic via the
    // c_custkey tie-break), the fold underneath is the same q10 tree.
    maintained("incremental_sql_q10_full",
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_e4,
         | COUNT(*) AS n_rows
         |FROM customer, orders, lineitem, nation
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         | AND c_nationkey = n_nationkey
         | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         | AND l_returnflag = 'R'
         | AND l_linenumber <> 3 AND o_orderkey % 50 <> 0
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |HAVING COUNT(*) >= 2
         |ORDER BY revenue_e4 DESC, c_custkey
         |LIMIT 20""".stripMargin,
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
         | COUNT(*) AS n_rows
         |FROM nation, customer, orders, lineitem
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         | AND c_nationkey = n_nationkey
         | AND o_orderdate >= TIMESTAMP '$dateLo' AND o_orderdate < TIMESTAMP '$dateHi'
         | AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |HAVING n_rows >= 2
         |ORDER BY revenue_e4 DESC, c_custkey
         |LIMIT 20""".stripMargin,
      q10Deletes),

    // INCREMENTAL ROLLUP — every expanded grouping set maintained
    // independently (exact for every aggregate kind) and unioned with
    // null-padded inactive keys, against DuckDB's native ROLLUP.
    // Perf note (r10, the r9 verdict's one >40% bench move): the
    // r8→r9 1.55→2.29 s median was machine contention (the r9 bench
    // JVM also ran 3×32 scale-check passes), not a plan change —
    // profiled warm steady state at sf0.1 is ~1.4 s on unchanged
    // machinery.
    maintained("incremental_sql_rollup",
      """SELECT n_name, o_orderpriority,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_e2,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 6 <> 0 AND c_custkey % 9 <> 0
        |GROUP BY ROLLUP (n_name, o_orderpriority)""".stripMargin,
      """SELECT n_name, o_orderpriority,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)""".stripMargin,
      Map(
        "orders" -> (col("o_orderkey") % 6 === 0),
        "customer" -> (col("c_custkey") % 9 === 0))),

    // ROLLUP with GROUPING() disambiguation — the per-set constant
    // that separates subtotal NULLs from null-valued keys, against
    // DuckDB's native GROUPING().
    maintained("incremental_sql_rollup_grouping",
      """SELECT n_name, o_orderstatus,
        | CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
        | CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 6 <> 0
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin,
      """SELECT n_name, o_orderstatus,
        | GROUPING(n_name) AS g_nation, GROUPING(o_orderstatus) AS g_status,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // INCREMENTAL CUBE with COUNT(DISTINCT) — the per-value rollup
    // runs inside EVERY grouping set including the grand total (the
    // non-derivable aggregate case that re-aggregation shortcuts get
    // wrong), against DuckDB's native CUBE.
    maintained("incremental_sql_cube",
      """SELECT n_name, o_orderstatus,
        | COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 6 <> 0
        |GROUP BY CUBE (n_name, o_orderstatus)""".stripMargin,
      """SELECT n_name, o_orderstatus,
        | COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY CUBE (n_name, o_orderstatus)""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // DISCRETE MEDIAN under retraction — derives from the same
    // per-(group, value) netting rollup as MIN/MAX (deleting the
    // current median re-exposes the next value exactly); the oracle is
    // DuckDB's quantile_disc(x, 0.5), the identical lower-median
    // element selection, bit-exact even on the DOUBLE argument since
    // both engines SELECT an existing value rather than folding.
    maintained("incremental_sql_median",
      """SELECT n_name, quantile_disc(o_totalprice, 0.5) AS med_price,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'
        | AND c_custkey % 11 <> 0 AND o_orderkey % 6 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, MEDIAN(o_totalprice) AS med_price,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 11 === 0),
        "orders" -> (col("o_orderkey") % 6 === 0))),

    // GENERAL DISCRETE QUANTILES under retraction — MEDIAN's element
    // selection at arbitrary q: the inverted-CDF cut (smallest value
    // whose cumulative net count reaches ceil(q·n)) evaluated in exact
    // integer cross-products of the rational q, so Q1 and Q3 ride the
    // SAME per-(group, value) rollup and cumulative frame as each
    // other (one sort, two conditional MINs). Oracle = DuckDB's
    // native quantile_disc at both q's.
    maintained("incremental_sql_quantile",
      """SELECT n_name, quantile_disc(o_totalprice, 0.25) AS q1_price,
        | quantile_disc(o_totalprice, 0.75) AS q3_price,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F' AND o_orderkey % 6 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, quantile_disc(o_totalprice, 0.25) AS q1_price,
        | quantile_disc(o_totalprice, 0.75) AS q3_price,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // MODE under retraction with a DETERMINISTIC tie rule (largest net
    // count, then smallest value): rank-1 selection over the netting
    // rollup's frequency table. DuckDB's mode() leaves ties
    // unspecified, so the oracle spells the identical window instead —
    // the tie rule is part of the operator's contract, not an
    // implementation accident.
    maintained("incremental_sql_mode",
      """WITH base AS (
        | SELECT n_name, o_orderpriority
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderkey % 6 <> 0),
        |pv AS (SELECT n_name, o_orderpriority AS v, COUNT(*) AS n
        |       FROM base GROUP BY n_name, v),
        |md AS (SELECT n_name, v FROM (
        |        SELECT n_name, v,
        |         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY n DESC, v) AS rk
        |        FROM pv) WHERE rk = 1),
        |cnt AS (SELECT n_name, COUNT(*) AS n_rows FROM base GROUP BY n_name)
        |SELECT cnt.n_name, md.v AS mode_prio, n_rows
        |FROM cnt JOIN md USING (n_name)""".stripMargin,
      """SELECT n_name, mode(o_orderpriority) AS mode_prio,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // MAX_BY / MIN_BY under retraction — "which order was the
    // extreme": state is the netting rollup over the (price, orderkey)
    // PAIR, and the answer is a struct extreme, so ties on the price
    // break deterministically toward the extreme key. The oracle
    // spells the same rule as join-back-on-extreme + MAX/MIN over the
    // tied keys.
    maintained("incremental_sql_argmax",
      """WITH base AS (
        | SELECT n_name, o_orderkey, o_totalprice
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderkey % 6 <> 0),
        |mx AS (SELECT n_name, MAX(o_totalprice) AS mp, MIN(o_totalprice) AS mn
        |       FROM base GROUP BY n_name)
        |SELECT base.n_name,
        | MAX(CASE WHEN o_totalprice = mp THEN o_orderkey END) AS top_order,
        | MIN(CASE WHEN o_totalprice = mn THEN o_orderkey END) AS bottom_order,
        | COUNT(*) AS n_rows
        |FROM base JOIN mx USING (n_name)
        |GROUP BY base.n_name""".stripMargin,
      """SELECT n_name, max_by(o_orderkey, o_totalprice) AS top_order,
        | min_by(o_orderkey, o_totalprice) AS bottom_order,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // SCALAR-SUBQUERY GATE — the above-global-average idiom as a
    // maintained view: the scalar is NONLINEAR (one input row moves
    // the average and can flip every other row's predicate), so the
    // compiler resolves it per refresh over the SURVIVOR inputs and
    // splices the literal into the orders scan filter
    // (Compiled.withScalarGatesResolved); runStream fences an
    // unresolved gate loudly, so the streamed twin resolves it over
    // the survivor inputs before its replay. Exact-money determinism: AVG over e2 BIGINTs is an
    // exact integer sum + ONE IEEE division in both engines, and the
    // row-side comparand is an exact BIGINT below 2^53.
    maintained("incremental_sql_scalar_gate",
      """WITH srv AS (SELECT * FROM orders WHERE o_orderkey % 6 <> 0),
        |a AS (SELECT AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS ap FROM srv)
        |SELECT n_name, COUNT(*) AS n_big,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS big_rev_e2
        |FROM nation, customer, srv, a
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND CAST(round(o_totalprice * 100, 0) AS BIGINT) > ap
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, COUNT(*) AS n_big,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS big_rev_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND CAST(round(o_totalprice * 100, 0) AS BIGINT) >
        |     (SELECT AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) FROM orders)
        |GROUP BY n_name""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // ANALYTIC PRESENTATION over a maintained view — window functions
    // in the SELECT list compile as a post-view decoration
    // (Compiled.windowItems): the incrementally maintained aggregate
    // is the window's input frame, so each refresh ranks the
    // group-cardinality view, never the input. RANK within nation plus
    // a nation-total window aggregate, both referencing the maintained
    // alias; deterministic ties (price DESC, then priority). The
    // oracle spells the same windows over a subquery (standard SQL has
    // no lateral alias in OVER; the engine's dialect defines windows
    // over the view's output columns).
    maintained("incremental_sql_window_rank",
      """WITH v AS (
        | SELECT n_name, o_orderpriority,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_e2
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderkey % 6 <> 0
        | GROUP BY n_name, o_orderpriority)
        |SELECT n_name, o_orderpriority, price_e2,
        | RANK() OVER (PARTITION BY n_name
        |   ORDER BY price_e2 DESC, o_orderpriority) AS prio_rank,
        | CAST(SUM(price_e2) OVER (PARTITION BY n_name) AS BIGINT) AS nation_total_e2
        |FROM v""".stripMargin,
      """SELECT n_name, o_orderpriority,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | RANK() OVER (PARTITION BY n_name
        |   ORDER BY price_e2 DESC, o_orderpriority) AS prio_rank,
        | SUM(price_e2) OVER (PARTITION BY n_name) AS nation_total_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // HAVING × WINDOW in SQL evaluation order over the maintained
    // view: the HAVING prefix filters groups FIRST, then the rank
    // decorates the survivors (a rank counting filtered-out groups
    // would be off by the number of dropped rows above the cut — the
    // bug the ordering machinery exists to prevent). Partitioned rank
    // (per priority), deterministic ties.
    maintained("incremental_sql_having_window",
      """WITH v AS (
        | SELECT o_orderpriority, n_name, COUNT(*) AS n_orders
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderkey % 5 <> 0
        | GROUP BY o_orderpriority, n_name
        | HAVING COUNT(*) > 100)
        |SELECT o_orderpriority, n_name, n_orders,
        | RANK() OVER (PARTITION BY o_orderpriority
        |   ORDER BY n_orders DESC, n_name) AS nation_rank
        |FROM v""".stripMargin,
      """SELECT o_orderpriority, n_name, COUNT(*) AS n_orders,
        | RANK() OVER (PARTITION BY o_orderpriority
        |   ORDER BY n_orders DESC, n_name) AS nation_rank
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY o_orderpriority, n_name HAVING n_orders > 100""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 5 === 0))),

    // GROUP BY expressions compiled from text: a COMPUTED grouping key
    // (calendar year) evaluates over the typed leaf deltas — grouping
    // is no longer limited to stored columns. The oracle wraps the SUM
    // in CAST(... AS BIGINT) (DuckDB SUM(BIGINT) returns HUGEINT);
    // Spark's sum(BIGINT) is already BIGINT, so the compiled text keeps
    // the bare SUM.
    maintained("incremental_sql_group_expr",
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_e2,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 4 <> 0
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""".stripMargin,
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 4 === 0))),

    // VIEW MODE (bag): a SELECT with no aggregate maintains the JOIN
    // ITSELF — the leaf deltas net per selected tuple and the view
    // restores SQL bag multiplicity by net-count explode. The selected
    // pair (n_name, o_orderpriority) is deliberately low-cardinality so
    // most net counts are way above 1: the multiplicity machinery, not
    // just survivorship, is what the row-count+hash compare checks.
    maintained("incremental_sql_join_view", joinViewOracle,
      """SELECT n_name, o_orderpriority
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'""".stripMargin,
      Map(
        "orders" -> (col("o_orderkey") % 10 === 0),
        "customer" -> (col("c_custkey") % 13 === 0))),

    // SELECT * — the first query a real user types: the star expands
    // to the FROM relations' columns (schema order, FROM order; the
    // FK graph's bare-name uniqueness makes it unambiguous) and the
    // FULL-WIDTH join view is maintained. Every column type rides the
    // canonical row's string codec (BIGINT, VARCHAR and the DOUBLE
    // c_acctbal — Java's toString/parse roundtrip is exact).
    maintained("incremental_sql_select_star",
      """SELECT * FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE c_custkey % 13 <> 0""".stripMargin,
      "SELECT * FROM nation JOIN customer ON c_nationkey = n_nationkey",
      Map("customer" -> (col("c_custkey") % 13 === 0))),

    // QUALIFIED star (n.*) resolving through a table alias, mixed with
    // an explicit column — DuckDB runs the identical spelling.
    maintained("incremental_sql_select_star_qualified",
      """SELECT c_mktsegment, n.*
        |FROM nation n JOIN customer c ON c_nationkey = n_nationkey
        |WHERE c_custkey % 13 <> 0""".stripMargin,
      """SELECT c_mktsegment, n.*
        |FROM nation n JOIN customer c ON c_nationkey = n_nationkey""".stripMargin,
      Map("customer" -> (col("c_custkey") % 13 === 0))),

    // VIEW MODE (set): SELECT DISTINCT over the same tree — the
    // maintained set view (net > 0 = present), no multiplicity.
    maintained("incremental_sql_distinct_view",
      """SELECT DISTINCT n_name, o_orderpriority, o_orderstatus
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 10 <> 0 AND c_custkey % 13 <> 0""".stripMargin,
      """SELECT DISTINCT n_name, o_orderpriority, o_orderstatus
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey""".stripMargin,
      Map(
        "orders" -> (col("o_orderkey") % 10 === 0),
        "customer" -> (col("c_custkey") % 13 === 0))),

    // The SAME shared-dimension query under the incremental_sql_ name.
    maintained("incremental_sql_shared_dim", sharedDimOracle, sharedDimSql, sharedDimDeletes),

    // Shared dimension WITH a parent above it: region's liveness
    // threads through the trunk (region→nation→customer) before the
    // supplier product — five relations, one pair glue, compiled from
    // text.
    maintained("incremental_sql_shared_parent",
      """SELECT n_name,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2,
        | COUNT(*) AS n_pairs
        |FROM region, nation, customer, supplier
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND s_nationkey = n_nationkey
        | AND r_name <> 'ASIA' AND c_custkey % 6 <> 0 AND s_suppkey % 5 <> 0
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2,
        | COUNT(*) AS n_pairs
        |FROM region, nation, customer, supplier
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND s_nationkey = n_nationkey AND r_name <> 'ASIA'
        |GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 6 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0))),

    // The SAME branching query under the incremental_sql_ name, with
    // a stream twin.
    maintained("incremental_sql_part_revenue", partRevenueOracle, partRevenueSql,
      partRevenueDeletes),

    // INDEPENDENT (star) double FULL OUTER — two boundaries hanging
    // off the SAME inner parent factorize into the per-boundary
    // product: the pair-product main tree plus five chain/gate plans
    // (a-no-b, b-no-a, bare parent, and the two orphan directions).
    // Nation deletes orphan BOTH boundary sides at once — the class
    // the nested shape cannot produce. DuckDB runs the literal double
    // FULL JOIN natively as the oracle.
    maintained("incremental_sql_q10_fullouter_star", starFullOuterOracle, starFullOuterSql,
      starFullOuterDeletes, twins = Seq(Stream, Tws)),

    // PAIR-STAR double FULL OUTER — the two boundaries hang off
    // DIFFERENT relations of a dimension-bridged core (orders off
    // customer, lineitem off supplier, customer⟂supplier bridged by
    // nation: the `incremental_shared_dim` composition under FULL
    // OUTER, r12's remaining star fence). The main tree is the
    // four-way pair product; the five preservation plans re-plan the
    // pair with one boundary removed (absence-gated parents) or ride
    // the bare core's pair emissions (the orphan key nodes — so a
    // customer delete orphans its orders even though orders' own
    // changelog never fires, and a nation losing all suppliers
    // orphans its customers' orders by PAIR-EMPTINESS, SQL's exact
    // answer). Deletes on all four non-dim relations. The relation
    // overrides shrink both boundary facts, but the view's cost is
    // inherently the per-nation trunk×branch PRODUCT the query asks
    // for (~290M joined rows at sf0.1, ~90 s) — quadratic in SF like
    // any shared-dimension product, so it is correctness-gated at
    // sf0.01 and deliberately NOT a bench headliner. DuckDB runs the
    // literal nested double FULL JOIN natively.
    maintained("incremental_sql_q10_fullouter_star_pair", pairStarOracle, pairStarSql,
      pairStarDeletes, twins = Seq(Stream, Tws), overrides = pairStarOverrides),

    // WHERE × pair-star: the boundary predicate NULL-rejects every
    // class whose lineitem side is NULL, so only the pair product,
    // core⋈lineitem, and lineitem-orphan plans build ({1, 3, 6} of
    // the matrix — the same per-boundary-product class selection as
    // the same-parent star, now on the pair shape). The predicate
    // also lands as a lineitem scan filter.
    maintained("incremental_sql_q10_fullouter_star_pair_filtered", pairStarFilteredOracle,
      pairStarFilteredSql, pairStarDeletes, overrides = pairStarOverrides),

    // GATES × PAIR-STAR: a NOT EXISTS gate on the bridging dimension
    // keeps all six classes (trivially TRUE on the orphans' structural
    // NULLs) and gates the pair product and classes 2-4 DYNAMICALLY —
    // a region flip must retract/assert its nations' pair products
    // through the spliced gate hops, while orphan-ness stays join-time
    // (the orphan key nodes ride the UNGATED core).
    maintained("incremental_sql_q10_fullouter_star_pair_gated", pairStarGatedOracle("NOT "),
      pairStarGatedSql("NOT "), pairStarDeletes, twins = Seq(Stream, Tws),
      overrides = pairStarOverrides),

    // … and the EXISTS direction: never TRUE on structural NULLs, so
    // classes 5/6 are DROPPED statically (starDrop) and only the live
    // classes build — the other half of the static/dynamic split.
    maintained("incremental_sql_q10_fullouter_star_pair_gated_exists", pairStarGatedOracle(""),
      pairStarGatedSql(""), pairStarDeletes, overrides = pairStarOverrides),

    // PAIR-star under an inner CHAIN PREFIX (region→nation→{customer,
    // supplier}): the six-class factorization carries over with the
    // whole prefix folded into the core — a REGION delete retracts its
    // nations' pair products and transitively orphans their customers'
    // orders AND suppliers' lineitems (classes 5/6 ride the core's
    // merged pair emissions, which already fold the prefix — the same
    // move that closed ancestor deletes in r9). Spec-asserted against
    // stock SQL; this is the gated DuckDB entry.
    maintained("incremental_sql_q10_fullouter_star_pair_chain", pairStarChainOracle,
      pairStarChainSql, pairStarChainDeletes, overrides = pairStarOverrides),

    // CHAIN × GATE (NOT EXISTS): region feeds BOTH the folded prefix
    // and the spliced gate hop — a batch-2 region delete retracts its
    // nations' pair products through the prefix AND flips the gate for
    // any nation whose ASIA witness died, in one changelog. All six
    // classes survive (NOT EXISTS is TRUE on the orphans' structural
    // NULLs); the orphan key nodes ride the UNGATED prefix-folded core.
    maintained("incremental_sql_q10_fullouter_star_pair_chain_gated",
      pairStarChainGatedOracle("NOT "), pairStarChainGatedSql("NOT "), pairStarChainDeletes,
      overrides = pairStarOverrides),

    // … and the EXISTS direction on the chain: never TRUE on
    // structural NULLs, so the orphan classes drop statically and only
    // the live prefix-folded classes build — the static/dynamic split,
    // now composed under the chain prefix.
    maintained("incremental_sql_q10_fullouter_star_pair_chain_gated_exists",
      pairStarChainGatedOracle(""), pairStarChainGatedSql(""), pairStarChainDeletes,
      overrides = pairStarOverrides),

    // CHAIN × WHERE (boundary predicate): the lineitem-side conjunct
    // NULL-rejects every lineitem-NULL class — the {1, 3, 6} selection
    // of the r12 matrix — on the chain-prefixed shape, so a region
    // delete retracts transitively through the surviving filtered
    // plans and the lineitem-orphan direction still flips dynamically.
    maintained("incremental_sql_q10_fullouter_star_pair_chain_filtered",
      pairStarChainFilteredOracle, pairStarChainFilteredSql, pairStarChainDeletes,
      overrides = pairStarOverrides),

    // Star boundaries under an inner CHAIN (region→nation): the five
    // factorized plans build on the chain prefix — a REGION delete
    // must retract its nations' pair products and orphan their
    // customers AND suppliers transitively (the orphan key nodes ride
    // the prefix's merged emissions, not the parent's raw changelog).
    maintained("incremental_sql_q10_fullouter_star_chain",
      """WITH r AS (SELECT * FROM region WHERE r_regionkey % 2 <> 0),
        |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
        |SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
        |FROM r JOIN nation ON n_regionkey = r_regionkey
        |FULL JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN s ON s_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      Map(
        "region" -> (col("r_regionkey") % 2 === 0),
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0))),

    // Star × WHERE class selection: the parent-side conjunct kills
    // exactly the two orphan classes; the three gated-extension plans
    // and the pair-product main tree maintain the rest. DuckDB runs
    // the literal double FULL JOIN + WHERE as the oracle.
    maintained("incremental_sql_q10_fullouter_star_filtered",
      """WITH n AS (SELECT * FROM nation WHERE n_nationkey % 7 <> 0),
        |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
        |SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
        |FROM n FULL JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN s ON s_nationkey = n_nationkey
        |WHERE n_name <> 'KENYA'
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE n_name <> 'KENYA'
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      starFullOuterDeletes),

    // Star × parent-key IS NULL — the find-the-orphans reading across
    // BOTH boundaries at once: only the two orphan plans run (main
    // suppressed, extension classes dropped); nation deletes must
    // assert orphans on BOTH sides.
    maintained("incremental_sql_q10_fullouter_star_isnull",
      """WITH n AS (SELECT * FROM nation WHERE n_nationkey % 7 <> 0),
        |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
        |SELECT c_mktsegment, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
        |FROM n FULL JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN s ON s_nationkey = n_nationkey
        |WHERE n_nationkey IS NULL
        |GROUP BY c_mktsegment""".stripMargin,
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE n_nationkey IS NULL
        |GROUP BY c_mktsegment""".stripMargin,
      starFullOuterDeletes),

    // GATES × NESTED two-boundary: EXISTS on a prefix relation drops
    // the prefix-NULL classes 3/4/6 statically (structural NULL
    // correlation is never TRUE) while classes 1/2/5 gate dynamically
    // through the gated stage list — DuckDB runs the literal
    // join-then-filter as the oracle.
    maintained("incremental_sql_q10_fullouter_two_boundary_gated",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_linenumber <> 3)
        |SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN o ON o_custkey = c_custkey
        |FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 50 === 0),
        "lineitem" -> (col("l_linenumber") === 3))),

    // … NOT EXISTS keeps classes 3/4/6 — and they must key off the
    // JOIN-TIME prefix: an ASIA customer is gate-dead but join-alive,
    // so its orders must NOT resurrect as orphan-order classes. The
    // customer deletes make real orphans; the gate makes gate-dead
    // non-orphans; DuckDB distinguishes them independently.
    maintained("incremental_sql_q10_fullouter_two_boundary_gated_anti",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     o AS (SELECT * FROM orders WHERE o_orderkey % 50 <> 0),
        |     l AS (SELECT * FROM lineitem WHERE l_linenumber <> 3)
        |SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        |FROM nation JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN o ON o_custkey = c_custkey
        |FULL JOIN l ON l_orderkey = o_orderkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS rev_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 50 === 0),
        "lineitem" -> (col("l_linenumber") === 3))),

    // GATES × STAR: the gate correlates to the SHARED PARENT itself —
    // the absence hops chain onto the gate hop (classes 2-4 consume
    // the gate-filtered nation changelog), while the orphan classes
    // 5/6 decide statically: EXISTS drops them, NOT EXISTS keeps them
    // riding the UNGATED parent liveness (a gate-dead nation's
    // customers are join-matched, not orphans).
    maintained("incremental_sql_q10_fullouter_star_gated",
      """WITH n AS (SELECT * FROM nation WHERE n_nationkey % 7 <> 0),
        |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
        |SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
        |FROM n FULL JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN s ON s_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      Map(
        "nation" -> (col("n_nationkey") % 7 === 0),
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0))),

    maintained("incremental_sql_q10_fullouter_star_gated_anti",
      """WITH n AS (SELECT * FROM nation WHERE n_nationkey % 7 <> 0),
        |     c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 5 <> 0)
        |SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sbal_e2
        |FROM n FULL JOIN c ON c_nationkey = n_nationkey
        |FULL JOIN s ON s_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
        | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, c_mktsegment""".stripMargin,
      Map(
        "nation" -> (col("n_nationkey") % 7 === 0),
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0))),

    // NOT IN (subquery) — the null-free-provable case: both columns
    // are FK-graph key columns (NOT NULL by the engine's key
    // contract), so NOT IN lowers to the anti gate; a nullable column
    // on either side keeps the loud three-valued fence
    // (SqlCompilerSpec exercises the rejection). A customer delete
    // must ADMIT every order it was excluding.
    maintained("incremental_sql_not_in",
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey % 6 <> 0
        | AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                       WHERE c_acctbal > 1000 AND c_custkey % 30 <> 0)
        |GROUP BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                        WHERE c_acctbal > 1000)
        |GROUP BY o_orderpriority""".stripMargin,
      Map(
        "orders" -> (col("o_orderkey") % 6 === 0),
        "customer" -> (col("c_custkey") % 30 === 0))),

    // The self-join written in EXPLICIT `JOIN t alias ON …` syntax —
    // the spelling a real user writes first; same alias expansion,
    // same oracle family as the comma-form incremental_sql_self_join.
    maintained("incremental_sql_self_alias",
      """SELECT c_mktsegment, COUNT(*) AS n_pairs,
        | CAST(SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS low_rev_e2
        |FROM customer
        |JOIN orders o1 ON o1.o_custkey = c_custkey
        |JOIN orders o2 ON o2.o_custkey = c_custkey
        |WHERE o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        | AND o1.o_orderkey % 7 <> 0 AND o2.o_orderkey % 5 <> 0
        |GROUP BY c_mktsegment""".stripMargin,
      """SELECT c_mktsegment, COUNT(*) AS n_pairs,
        | SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS low_rev_e2
        |FROM customer
        |JOIN orders o1 ON o1.o_custkey = c_custkey
        |JOIN orders o2 ON o2.o_custkey = c_custkey
        |WHERE o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        |GROUP BY c_mktsegment""".stripMargin,
      Map(
        "o1" -> (col("o1_o_orderkey") % 7 === 0),
        "o2" -> (col("o2_o_orderkey") % 5 === 0))),

    // TOP-LEVEL UNION ALL from SQL text — two maintained trees, one
    // result: customer-side and supplier-side nation revenue, each arm
    // compiled and maintained independently (lineitem routes by
    // l_orderkey in one and l_suppkey in the other), bag-unioned as
    // presentation; its twin replays each arm as its own streaming
    // query. Oracle: the literal UNION ALL over the delete-filtered
    // fact.
    maintained("incremental_sql_union", unionAllOracle, unionSql, unionDeletes),

    // Maintained INTERSECT — the cross-branch netting UNION ALL never
    // needed: the right branch's distinct tuples gate the left's
    // through a set-semantics key node + liveness hop keyed by the
    // OUTPUT ROW itself; deletes on either side flip tuples in/out.
    // The twins run both branch trees AND the set stages in one
    // streaming query, flips crossing micro-batches, on the flatMap and
    // TWS drivers. Oracle: DuckDB's native INTERSECT over the survivor
    // CTEs.
    maintained("incremental_sql_intersect", intersectOracle,
      setOpLhs + "\nINTERSECT\n" + setOpRhs, setOpDeletes, twins = Seq(Stream, Tws)),

    // Maintained EXCEPT — the same wiring with the hop inverted
    // (antiParent): tuples survive while ABSENT from the right, so a
    // right-side delete must flip tuples INTO the result.
    maintained("incremental_sql_except", exceptOracle,
      setOpLhs + "\nEXCEPT\n" + setOpRhs, setOpDeletes),

    // Maintained bare UNION (SET semantics) — multiplicity collapse
    // across bag branches through one netting node: a nation with 3
    // qualifying customers and 2 qualifying suppliers is ONE row, and
    // stays present until the LAST qualifying row on either side is
    // deleted; the twins run the branch trees and the netting node in
    // ONE streaming query. Oracle: DuckDB's native UNION over the
    // survivor CTEs.
    maintained("incremental_sql_union_distinct", unionDistinctOracle,
      unionDistinctSql, setOpDeletes, twins = Seq(Stream, Tws)),

    // MIXED union ASSOCIATION under set semantics: a parenthesized
    // UNION ALL group beneath a set UNION flattens exactly under the
    // netting node (DISTINCT of any ⊎/DISTINCT tree = DISTINCT of its
    // leaves), so `(A UNION ALL B) UNION C` compiles. The converse (a
    // set group under UNION ALL) stays fenced: it does not collapse.
    maintained("incremental_sql_union_mixed", unionMixedOracle, unionMixedSql, setOpDeletes),

    // INTERSECT ALL — bag multiplicities via counts-based netting:
    // per nation, min(#qualifying customers, #qualifying suppliers)
    // copies survive; deletes move either count and the multiplicity
    // follows. The twin runs both branch trees in one streaming
    // query, side-tagged deltas, bag formula at presentation. Oracle:
    // DuckDB's native INTERSECT ALL over survivors.
    maintained("incremental_sql_intersect_all", intersectAllOracle,
      bagSetOpLhs + "\nINTERSECT ALL\n" + bagSetOpRhs, setOpDeletes),

    // EXCEPT ALL — the surplus max(nl − nr, 0) per tuple.
    maintained("incremental_sql_except_all", exceptAllOracle,
      bagSetOpLhs + "\nEXCEPT ALL\n" + bagSetOpRhs, setOpDeletes),

    // ---- WITH (CTE): maintained views composed under an outer query --
    // SqlCompiler.statement splits the WITH prefix over Spark's SQL
    // tokens (like the set-op splitter), compiles
    // every CTE body as its OWN incrementally maintained view, and
    // evaluates the outer query as stock Spark SQL over the refreshed
    // view outputs — so the input-proportional work stays inside the
    // incremental folds and the outer side gets the FULL SQL surface
    // (presentation, re-aggregation, view⋈view joins, windows over
    // dims). Oracles are the same WITH text in DuckDB with the delete
    // predicates folded in. Column-alias lists rename view output;
    // set-semantics UNION bodies maintain via the netting node;
    // recursion routes to RecursiveSql (SqlCompilerSpec).

    // presentation outer: threshold + ORDER BY/LIMIT over a maintained
    // per-(nation, customer) revenue view — the "top-N over a view"
    // idiom with the top-N OUTSIDE the maintained fold
    maintained("incremental_sql_cte_topn",
      """WITH rev AS (
        | SELECT n_name, c_custkey,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderstatus = 'F'
        |  AND c_custkey % 13 <> 0 AND o_orderkey % 10 <> 0
        | GROUP BY n_name, c_custkey)
        |SELECT n_name, c_custkey, rev_e2 FROM rev
        |WHERE rev_e2 > 20000000
        |ORDER BY rev_e2 DESC, c_custkey LIMIT 10""".stripMargin,
      """WITH rev AS (
        | SELECT n_name, c_custkey,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderstatus = 'F'
        | GROUP BY n_name, c_custkey)
        |SELECT n_name, c_custkey, rev_e2 FROM rev
        |WHERE rev_e2 > 20000000
        |ORDER BY rev_e2 DESC, c_custkey LIMIT 10""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "orders" -> (col("o_orderkey") % 10 === 0))),

    // re-aggregation outer: a histogram OVER the maintained per-customer
    // order-count view — the second aggregate's input is the view's
    // output (group cardinality), so re-running it per refresh is
    // presentation-class work, not input-class
    maintained("incremental_sql_cte_reagg",
      """WITH per_cust AS (
        | SELECT c_custkey, COUNT(*) AS n_orders
        | FROM customer, orders
        | WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |  AND o_orderkey % 10 <> 0
        | GROUP BY c_custkey)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM per_cust GROUP BY n_orders""".stripMargin,
      """WITH per_cust AS (
        | SELECT c_custkey, COUNT(*) AS n_orders
        | FROM customer, orders
        | WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        | GROUP BY c_custkey)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM per_cust GROUP BY n_orders""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 10 === 0))),

    // view ⋈ view outer: two independently maintained per-nation views
    // (customer balances, supplier balances) joined in the outer — the
    // dashboard idiom; each side refreshes from its own changelogs
    maintained("incremental_sql_cte_join",
      """WITH cust AS (
        | SELECT n_nationkey AS nk, n_name,
        |  CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS cust_bal_e2,
        |  COUNT(*) AS n_cust
        | FROM nation, customer
        | WHERE c_nationkey = n_nationkey AND c_custkey % 13 <> 0
        | GROUP BY n_nationkey, n_name),
        |supp AS (
        | SELECT n_nationkey AS nk,
        |  CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS supp_bal_e2,
        |  COUNT(*) AS n_supp
        | FROM nation, supplier
        | WHERE s_nationkey = n_nationkey AND s_suppkey % 7 <> 0
        | GROUP BY n_nationkey)
        |SELECT c.n_name, c.n_cust, s.n_supp,
        | c.cust_bal_e2 + s.supp_bal_e2 AS total_bal_e2
        |FROM cust c JOIN supp s ON c.nk = s.nk""".stripMargin,
      """WITH cust AS (
        | SELECT n_nationkey AS nk, n_name,
        |  SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS cust_bal_e2,
        |  COUNT(*) AS n_cust
        | FROM nation, customer
        | WHERE c_nationkey = n_nationkey
        | GROUP BY n_nationkey, n_name),
        |supp AS (
        | SELECT n_nationkey AS nk,
        |  SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS supp_bal_e2,
        |  COUNT(*) AS n_supp
        | FROM nation, supplier
        | WHERE s_nationkey = n_nationkey
        | GROUP BY n_nationkey)
        |SELECT c.n_name, c.n_cust, s.n_supp,
        | c.cust_bal_e2 + s.supp_bal_e2 AS total_bal_e2
        |FROM cust c JOIN supp s ON c.nk = s.nk""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 7 === 0))),

    // dimension-decorated outer: the maintained per-nation revenue view
    // joined to the nation/region dims with a window RANK — base
    // relations in the outer see the same deletes-applied state as the
    // views' changelogs
    maintained("incremental_sql_cte_dim",
      """WITH rev AS (
        | SELECT c_nationkey AS nk,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        | FROM customer, orders
        | WHERE o_custkey = c_custkey AND o_orderkey % 6 <> 0
        | GROUP BY c_nationkey)
        |SELECT r_name, n_name, rev_e2,
        | CAST(RANK() OVER (PARTITION BY r_name ORDER BY rev_e2 DESC, n_name) AS BIGINT) AS rnk
        |FROM rev JOIN nation ON n_nationkey = nk
        |JOIN region ON r_regionkey = n_regionkey""".stripMargin,
      """WITH rev AS (
        | SELECT c_nationkey AS nk,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        | FROM customer, orders
        | WHERE o_custkey = c_custkey
        | GROUP BY c_nationkey)
        |SELECT r_name, n_name, rev_e2,
        | CAST(RANK() OVER (PARTITION BY r_name ORDER BY rev_e2 DESC, n_name) AS BIGINT) AS rnk
        |FROM rev JOIN nation ON n_nationkey = nk
        |JOIN region ON r_regionkey = n_regionkey""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 6 === 0))),

    // CTE COLUMN-ALIAS LIST — `WITH bal(a, b, c) AS (...)`: the alias
    // list renames the maintained view's output POSITIONALLY (ANSI),
    // and the outer query reads the aliased names. The inner SELECT's
    // own names differ on purpose: what's gated is the rename.
    maintained("incremental_sql_cte_alias",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |bal(nation_name, total_bal_e2, n_cust) AS (
        | SELECT n_name, CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT),
        |  COUNT(*)
        | FROM nation JOIN c ON c_nationkey = n_nationkey
        | WHERE c_acctbal > 0
        | GROUP BY n_name)
        |SELECT nation_name, total_bal_e2, n_cust FROM bal
        |WHERE n_cust > 5""".stripMargin,
      """WITH bal(nation_name, total_bal_e2, n_cust) AS (
        | SELECT n_name AS x1,
        |  SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS x2,
        |  COUNT(*) AS x3
        | FROM nation JOIN customer ON c_nationkey = n_nationkey
        | WHERE c_acctbal > 0
        | GROUP BY n_name)
        |SELECT nation_name, total_bal_e2, n_cust FROM bal
        |WHERE n_cust > 5""".stripMargin,
      Map("customer" -> (col("c_custkey") % 13 === 0))),

    // SET-SEMANTICS UNION CTE BODY — the UNION (not ALL) body
    // maintains through the CompiledUnionDistinct netting node (a
    // nation leaves the view only when NO branch still produces it),
    // and the outer query re-aggregates over the set. Deletes flip
    // tuples in both branches.
    maintained("incremental_sql_cte_union_distinct",
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 13 <> 0),
        |     s AS (SELECT * FROM supplier WHERE s_suppkey % 7 <> 0),
        |nat AS (
        | SELECT n_name FROM nation JOIN c ON c_nationkey = n_nationkey
        | WHERE c_acctbal > 8000
        | UNION
        | SELECT n_name FROM nation JOIN s ON s_nationkey = n_nationkey
        | WHERE s_acctbal > 5000)
        |SELECT COUNT(*) AS n_nations FROM nat""".stripMargin,
      """WITH nat AS (
        | SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        | WHERE c_acctbal > 8000
        | UNION
        | SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        | WHERE s_acctbal > 5000)
        |SELECT COUNT(*) AS n_nations FROM nat""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 7 === 0)),
      twins = Seq(Stream, Tws)),

    // DERIVED TABLE spelling of the same composition: an aliased
    // FROM (SELECT ...) t lifts to an anonymous CTE named by its
    // alias (SqlCompiler.liftDerivedTables) — the subquery is the
    // maintained view, the outer re-aggregates it against a dim.
    // Subquery PREDICATES (IN/EXISTS/scalar) are untouched by the
    // lift and stay on the gate compilers.
    maintained("incremental_sql_from_subquery",
      """SELECT n_name, COUNT(*) AS n_customers,
        | CAST(SUM(t.n_orders) AS BIGINT) AS sum_orders
        |FROM (SELECT c_custkey, c_nationkey, COUNT(*) AS n_orders
        |      FROM customer, orders
        |      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |       AND o_orderkey % 8 <> 0
        |      GROUP BY c_custkey, c_nationkey) t
        |JOIN nation ON n_nationkey = t.c_nationkey
        |GROUP BY n_name""".stripMargin,
      """SELECT n_name, COUNT(*) AS n_customers,
        | SUM(t.n_orders) AS sum_orders
        |FROM (SELECT c_custkey, c_nationkey, COUNT(*) AS n_orders
        |      FROM customer, orders
        |      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |      GROUP BY c_custkey, c_nationkey) t
        |JOIN nation ON n_nationkey = t.c_nationkey
        |GROUP BY n_name""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 8 === 0))),

    // CHAINED CTEs — the staged-SQL idiom: stage 1 (rev) reads base
    // relations, so it is the MAINTAINED view; stage 2 (ranked) reads
    // stage 1, so it classifies as a PRESENTATION CTE and evaluates as
    // stock SQL over the refreshed view (group-cardinality input) —
    // only the stage touching base data is input-proportional.
    maintained("incremental_sql_cte_chain",
      """WITH rev AS (
        | SELECT n_name, c_custkey,
        |  CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderstatus = 'F' AND o_orderkey % 9 <> 0
        | GROUP BY n_name, c_custkey),
        |ranked AS (
        | SELECT n_name, c_custkey, rev_e2,
        |  CAST(RANK() OVER (PARTITION BY n_name
        |    ORDER BY rev_e2 DESC, c_custkey) AS BIGINT) AS rk
        | FROM rev)
        |SELECT n_name, c_custkey, rev_e2, rk
        |FROM ranked WHERE rk <= 3""".stripMargin,
      """WITH rev AS (
        | SELECT n_name, c_custkey,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        | FROM nation, customer, orders
        | WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND o_orderstatus = 'F'
        | GROUP BY n_name, c_custkey),
        |ranked AS (
        | SELECT n_name, c_custkey, rev_e2,
        |  CAST(RANK() OVER (PARTITION BY n_name
        |    ORDER BY rev_e2 DESC, c_custkey) AS BIGINT) AS rk
        | FROM rev)
        |SELECT n_name, c_custkey, rev_e2, rk
        |FROM ranked WHERE rk <= 3""".stripMargin,
      Map("orders" -> (col("o_orderkey") % 9 === 0)), twins = Seq(Stream, Tws)),

    // UNION ALL as a CTE body: each arm is its own maintained tree
    // (customer balances / supplier balances per nation), unioned at
    // refresh under the CTE's name; the outer re-aggregates the two
    // sides into one per-nation report — per-branch deletes flow to
    // whichever arm owns the relation.
    maintained("incremental_sql_cte_union",
      """WITH bal AS (
        | SELECT n_name,
        |  CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_e2,
        |  COUNT(*) AS n
        | FROM nation, customer
        | WHERE c_nationkey = n_nationkey AND c_custkey % 13 <> 0
        | GROUP BY n_name
        | UNION ALL
        | SELECT n_name,
        |  CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_e2,
        |  COUNT(*) AS n
        | FROM nation, supplier
        | WHERE s_nationkey = n_nationkey AND s_suppkey % 7 <> 0
        | GROUP BY n_name)
        |SELECT n_name, CAST(SUM(bal_e2) AS BIGINT) AS total_bal_e2,
        | CAST(SUM(n) AS BIGINT) AS n_parties
        |FROM bal GROUP BY n_name""".stripMargin,
      """WITH bal AS (
        | SELECT n_name,
        |  SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS bal_e2,
        |  COUNT(*) AS n
        | FROM nation, customer
        | WHERE c_nationkey = n_nationkey
        | GROUP BY n_name
        | UNION ALL
        | SELECT n_name,
        |  SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS bal_e2,
        |  COUNT(*) AS n
        | FROM nation, supplier
        | WHERE s_nationkey = n_nationkey
        | GROUP BY n_name)
        |SELECT n_name, SUM(bal_e2) AS total_bal_e2, SUM(n) AS n_parties
        |FROM bal GROUP BY n_name""".stripMargin,
      Map(
        "customer" -> (col("c_custkey") % 13 === 0),
        "supplier" -> (col("s_suppkey") % 7 === 0))),

    // UNALIASED aggregates in HAVING — the common SQL spelling: each
    // distinct aggregate fragment joins the incremental fold under a
    // hidden alias (a second maintained fold when it also appears in
    // SELECT), the condition rewrites to the alias, and the hidden
    // columns drop after the filter. One aggregate here (the SUM) is
    // in no SELECT item at all — the case the old fence rejected.
    maintained("incremental_sql_having_agg",
      """SELECT c_nationkey, COUNT(*) AS n_cust
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey AND c_custkey % 12 <> 0
        |GROUP BY c_nationkey
        |HAVING COUNT(*) > 20
        | AND SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) > 0""".stripMargin,
      """SELECT c_nationkey, COUNT(*) AS n_cust
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        |GROUP BY c_nationkey
        |HAVING COUNT(*) > 20
        | AND SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) > 0""".stripMargin,
      Map("customer" -> (col("c_custkey") % 12 === 0)))).flatten
}
