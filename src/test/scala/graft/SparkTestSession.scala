package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark re-uses the
  * active session across suites; tearing it down per-suite thrashes). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // local[24]: every suite shares this ONE context, and with the
    // suites (and the heavy suites' tests) running in parallel,
    // 4 executor threads were the whole run's throughput ceiling —
    // the 20-minute wall was scheduler starvation, not test work
    // (16 → 24 as the registry grew past 480 entries: the two sweeps
    // alone fan 12 concurrent builders each over this one context)
    val s = SparkSession.builder()
      .master("local[24]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // suite-wide state-store posture (round 17, same rationale as
      // IncrementalQueries.replaySession): every streaming test's
      // checkpoints are throwaway temp dirs, so the HDFS-backed
      // store's 60 s background maintenance and 100-version retention
      // are pure snapshot/cleanup churn across the hundreds of
      // short-lived queries a suite run spins up
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "2m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Build-once frame cache for the WHOLE-REGISTRY sweeps
    * (RelationalSpec's plan audit, WindowShapeSpec): both execute
    * every entry's builder on the tiny fixture, and for eager builders
    * (snapshot-log commits, fixpoint loops, changelog replays) that
    * work is the suite's long pole — shared frames run each builder
    * ONCE per JVM without weakening either audit, which still assert
    * on exactly the plan the entry builds. Each build runs in its own
    * child session (temp-view isolation, as before); a failed build
    * caches nothing, so the other sweep retries and reports it. */
  private val sweepFrames = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.DataFrame]()
  def sweepFrame(name: String, dir: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sweepFrames.computeIfAbsent((name, dir), _ => fn(spark.newSession(), dir))

  /** A maintained view's compiled stages and its scan-filtered
    * changelogs over `dir` under `deletes` — the engine fixtures the
    * streaming and engine specs replay directly. */
  def compiledTree(session: SparkSession, dir: String, sqlText: String,
      deletes: Map[String, org.apache.spark.sql.Column])
      : (Seq[graft.streaming.DeltaEngine.Stage],
         Map[String, org.apache.spark.sql.Dataset[graft.streaming.DeltaEngine.Evt]]) = {
    val c = graft.streaming.SqlCompiler.compile(session, dir, sqlText)
    (c.stages, c.sourceChangelogs(session, dir, deletes))
  }

  /** [[compiledTree]] of the Q10 view under its registry deletes. */
  def q10Tree(session: SparkSession, dir: String = sfTiny) = {
    import graft.streaming.IncrementalQueries.{q10Sql, q10Deletes}
    compiledTree(session, dir, q10Sql, q10Deletes)
  }
}
