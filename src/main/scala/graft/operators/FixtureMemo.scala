package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.TempDirs.tempDir

/** Memoized MATERIALIZATION of expensive per-fixture pipeline results —
  * the maintained/persisted state replays whose multi-batch changelogs
  * would otherwise re-execute on every call: once per (fixture, key)
  * per JVM the `build` thunk runs and its rows land in a temp parquet
  * dir; every later consumer (the entry re-executed by a registry
  * sweep, a sibling entry composing on the same state, the Verify
  * board) re-READS the materialized rows in its own session.
  *
  * Same lifecycle discipline as `SimilaritySearch.ivfDirs`: keys name
  * FINISHED replays (immutable once built — never evolving shared
  * state, so no order-dependence between entries can creep in), and
  * the dirs are removed on JVM exit.
  *
  * This is a TEST/HARNESS cache, not an engine feature: at corpus
  * scale the persisted pipelines' own snapshot logs are the durable
  * state; this only keeps a 471-entry sweep from replaying the same
  * fixture changelog dozens of times in one JVM. */
private[graft] object FixtureMemo {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** BENCH GUARD: this memo is only non-gaming while no memoized
    * entry is a bench headliner — a headliner reading memoized rows
    * would time a cache hit instead of the computation. Call sites
    * declare EVERY registry entry they serve ([[apply]]'s `entries`);
    * the guard fails LOUDLY the day any of them joins
    * `SparkEntry.benchNames`, in every context (Bench, Verify, tests)
    * rather than silently flattering the bench record. */
  private[graft] def assertNotBenchHeadliner(entry: String): Unit =
    require(!graft.SparkEntry.benchNames.contains(entry),
      s"registry entry '$entry' is a bench headliner and must not route " +
        "through FixtureMemo: a memoized result would turn its bench " +
        "timing into a cache read (result caching, not optimization). " +
        "Drop the entry from benchNames or remove the memo from its path.")

  /** Build-once, read-many. `build` runs in the FIRST caller's session
    * (computeIfAbsent serializes racing builders per key; a failed
    * build leaves the key absent, so the next caller retries instead
    * of caching the failure); readers load the parquet in their own
    * session. An empty result repartitions to one task so the write
    * still carries a schema footer to reopen. `entries` are all the
    * registry entries this memo serves — see the bench guard above;
    * each is checked before `build` can run. */
  def apply(key: String, entries: Seq[String], s: SparkSession)(build: => DataFrame): DataFrame = {
    require(entries.nonEmpty, s"FixtureMemo '$key' must declare the registry entries it serves")
    entries.foreach(assertNotBenchHeadliner)
    val dir = dirs.computeIfAbsent(key, _ => {
      val out = tempDir("graft_memo_").toString
      val df = build
      (if (df.isEmpty) df.repartition(1) else df)
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(dir)
  }
}
