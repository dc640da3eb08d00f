package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs the HEADLINE query set
  * (SparkEntry.benchNames — a fixed 10-query subset representative of
  * scan, join-tree, agg, window, dedup, ANN, text and the incremental
  * engine; "total" sums exactly these, round-over-round comparable) on
  * SPARK_GRAFT_SF_DIR and prints exactly one JSON line for the driver.
  * Each query is forced via `queryExecution.toRdd.count()` — that runs
  * the optimized physical plan AS WRITTEN (every projected expression
  * evaluates), unlike `df.count()` which rewrites to Aggregate(count(1))
  * and lets column pruning delete pure projections (a pure-`select`
  * query would then time only a parquet footer count). A warm-up first
  * so JIT/session init doesn't pollute q1. Full-inventory timings:
  * `runMain graft.MiniBench` with no names.
  *
  * Every query runs SPARK_GRAFT_BENCH_RUNS times (default 5) and the
  * recorded value is the MEDIAN (per-query min and n ride along under
  * "runs"): two consecutive rounds recorded 19 s / 26.8 s for a query
  * whose true warm cost is ~2.5 s because a single contended run on a
  * loaded driver machine polluted the round record — a median cannot
  * be polluted by a minority of bad runs. Queries whose first-pass
  * median still exceeds 2x their own min rerun automatically and
  * report both medians (see the retry note below). */
object Bench {
  /** Runs the full physical plan, immune to count-pruning. */
  private def force(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.count(): Unit
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: session init, JIT, codegen compilation and parquet
    // footer caches — EVERY headline pipeline once on the TINY fixture,
    // so each measured run times the query's work, not its codegen/JIT
    // compile, while the measured data's page cache stays cold. A
    // failed warm-up is REPORTED (stderr, not the JSON line): silently
    // swallowing it would let the first measured query absorb compile
    // cost — exactly the pollution this exists to prevent.
    val tinyDir = sys.env.getOrElse("SPARK_GRAFT_TINY_DIR", "/root/testdata/sf0.001")
    ("scan_project" +: SparkEntry.benchNames).foreach { name =>
      try force(SparkEntry.queries(name)(spark, tinyDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up of $name on $tinyDir failed: ${e.getMessage}")
      }
    }

    // failures report as -1 (never as a plausible-looking timing) and
    // are excluded from the total
    //
    // INTERLEAVED rounds: run the full headline list n times
    // round-robin (q1 q2 … qk, q1 q2 … qk, …) instead of n consecutive
    // runs per query. A transient machine-load window then pollutes at
    // most ONE sample of each query rather than owning all n samples
    // of whichever query it landed on — r6 recorded a 9.29 s median
    // for a 1.73 s query exactly that way.
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt.max(1)
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { force(SparkEntry.queries(name)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // QUIESCE between rounds: streaming entries leave state-store
    // maintenance threads and executor-task cleanup briefly running
    // after query.stop(); a gc + short settle keeps that residue from
    // billing the next round's first queries (three rounds running —
    // r9, r10, r11 — the medians carried a near-uniform fixed
    // inflation on sub-second entries that per-run minimums did not).
    def quiesce(): Unit = { System.gc(); Thread.sleep(300) }
    def interleaved(names: Seq[String], rounds: Int): Map[String, Seq[Double]] = {
      val rows = (1 to rounds).map { _ => quiesce(); names.map(timeOne) }
      names.zipWithIndex.map { case (nm, i) => nm -> rows.map(_(i)) }.toMap
    }
    // median of the successful runs; any failure marks the query -1
    def medianOf(secs: Seq[Double]): Double = {
      val ok = secs.filter(_ >= 0).sorted
      if (ok.size < secs.size || ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
    }
    val firstPass = interleaved(SparkEntry.benchNames, n)
    // AUTOMATIC RETRY: a median more than 2x its own min means a load
    // window polluted a MAJORITY of that query's samples (the r7
    // record shipped four such medians that an unloaded re-run
    // exonerated). Those queries rerun n more interleaved rounds and
    // the record keeps the median over ALL samples — both passes'
    // medians are reported, so a persistent 2x gap (a real bimodal
    // cost) stays visible instead of needing a judge re-run.
    val suspects = SparkEntry.benchNames.filter { nm =>
      val med = medianOf(firstPass(nm)); val mn = firstPass(nm).filter(_ >= 0).minOption.getOrElse(-1.0)
      med > 0 && mn > 0 && med / mn > 2.0
    }
    val retryPass: Map[String, Seq[Double]] =
      if (suspects.isEmpty) Map.empty else interleaved(suspects, n)
    val results = SparkEntry.benchNames.map { name =>
      val first = firstPass(name)
      val all = first ++ retryPass.getOrElse(name, Nil)
      val ok = all.filter(_ >= 0).sorted
      (name, medianOf(all), if (ok.isEmpty) -1.0 else ok.head,
        medianOf(first), all.size)
    }
    // the driver's summary line carries BOTH median and min per query
    // (min is the noise-robust floor — a contended machine inflates
    // medians but cannot deflate minimums), in a compact array form so
    // the line stays well under the driver's ~2 KB tail capture even
    // as headliners grow; 3-decimal rounding (1 ms) is far below
    // run-to-run noise. The full-precision record keeps every sample.
    def r3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, med, min, _, _) =>
      "\"" + k + "\":[" + r3(med) + "," + r3(min) + "]" }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, med, min, med1, total) =>
      val retried = if (total > n) ",\"firstMedian\":" + med1 else ""
      "\"" + k + "\":{\"median\":" + med + ",\"min\":" + min + ",\"n\":" + total + retried + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // SOLO FLOORS (the r14 adjudication, automated): the interleaved
    // record's per-query minimums are CO-RESIDENCY minimums — any
    // heavy JVM-co-resident neighbor inflates them (proven by the
    // committed 3-configuration MiniBench matrix in
    // bench/ADJUDICATION_r14.md). Re-measuring the heaviest queries
    // SOLO — consecutive runs with a quiesce, nothing else in
    // flight — commits a true floor beside the interleaved record, so
    // the next floor drift is self-adjudicating instead of a
    // per-round investigation. Capped to the heaviest K so the
    // compact stdout line stays under the driver's ~2 KB tail capture
    // (the full per-run detail rides in the committed record).
    val soloRuns = sys.env.getOrElse("SPARK_GRAFT_SOLO_RUNS", "3").toInt.max(1)
    val soloK = sys.env.getOrElse("SPARK_GRAFT_SOLO_QUERIES", "6").toInt.max(0)
    val heaviest = results.filter(_._2 > 0).sortBy(-_._2).take(soloK).map(_._1)
    // PINNED solo entries beyond the heaviest-K: a floor that moved
    // without a diff touching it gets a committed solo floor from then
    // on, so the next drift self-adjudicates (r15: q8's min moved +10%
    // with nothing touching it, and it was outside the heaviest set).
    val pinned = Seq("q8_like_market_share")
      .filter(nm => results.exists(r => r._1 == nm && r._2 > 0) &&
        !heaviest.contains(nm))
    val soloSamples: Seq[(String, Seq[Double])] = (heaviest ++ pinned).map { nm =>
      quiesce()
      // one DISCARDED warm-up before the timed runs: the first solo
      // execution re-pays plan/memo warm-up that the interleaved
      // record amortizes, which left memo-heavy solo floors ABOVE
      // their interleaved minimums (cold-skew, r15 What's-wrong #3) —
      // the floor should read the warm steady state
      timeOne(nm)
      nm -> (1 to soloRuns).map(_ => timeOne(nm))
    }
    val soloFloors: Seq[(String, Double)] = soloSamples.map { case (nm, ts) =>
      nm -> ts.filter(_ >= 0).minOption.getOrElse(-1.0)
    }
    val soloJson = soloFloors.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val soloFullJson = soloSamples.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(r3).mkString(",") + "]" }
      .mkString("{", ",", "}")

    // SCALE-PROPORTIONALITY CHECK: the same headliners at a ~10x
    // smaller SF in the same JVM, and the per-query time ratio. An
    // absolute number can hide a driver-side loop or an all-pairs
    // shape that "works" at one SF; a time ratio far above the data
    // ratio cannot. Fixed per-query overhead (session, planning,
    // codegen cache hits) deflates small-SF times, so healthy ratios
    // sit BELOW the data ratio — the signal is ratios far above it.
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SMALL_DIR", "/root/testdata/sf0.01")
    val scaleJson =
      if (smallDir == sfDir || !new java.io.File(smallDir).isDirectory) ""
      else {
        val m = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt.max(1)
        val savedSf = sfDir
        def timeSmall(name: String): Double = {
          val t0 = System.nanoTime()
          try { force(SparkEntry.queries(name)(spark, smallDir))
                (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        }
        val rows = (1 to m).map(_ => SparkEntry.benchNames.map(timeSmall))
        val small = SparkEntry.benchNames.zipWithIndex.map { case (nm, i) =>
          nm -> medianOf(rows.map(_(i)))
        }.toMap
        val entries = results.map { case (k, large, _, _, _) =>
          val s = small(k)
          val ratio = if (s > 0 && large > 0) large / s else -1.0
          "\"" + k + "\":{\"small\":" + s + ",\"large\":" + large +
            ",\"ratio\":" + f"$ratio%.2f" + "}"
        }.mkString("{", ",", "}")
        s""","scaleCheck":{"smallSf":"$smallDir","largeSf":"$savedSf","runs":$m,"queries":$entries}"""
      }
    // RECORD LAYOUT (the r9 lesson): the driver captures only the LAST
    // ~2 KB of stdout, and the full record (runs detail + scaleCheck)
    // outgrew that in r9 — the official artifact lost 8 of 32 medians.
    // So the FULL record goes to a committed file (auditable in-repo,
    // path overridable via SPARK_GRAFT_BENCH_OUT) and the stdout line
    // the driver keeps is the COMPACT one — metric/total/queries/sf
    // only, ~1.2 KB for 32 headliners — printed LAST so the tail
    // capture always contains it whole.
    val fullRecord =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"soloFloors":{"runsPerQuery":$soloRuns,"samples":$soloFullJson},"sf":"$sfDir"$scaleJson}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/latest_full.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (fullRecord + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record (runs + scaleCheck) written to $outPath")
    } catch { case e: Throwable =>
      // never lose the detail silently: fall back to stderr, which the
      // driver does not tail-truncate into the official record
      System.err.println(s"[bench] could not write $outPath (${e.getMessage}); full record follows")
      System.err.println(fullRecord)
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","format":"name:[median_sec,min_sec]","queries":$qs,"soloFloors":$soloJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
