package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.streaming.RecursiveSql

class RecursiveSqlSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val d = SparkTestSession.sfTiny

  test("UNION ALL recursion: bounded counter, column alias list") {
    val got = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r(x) AS (
        | SELECT 1
        | UNION ALL
        | SELECT x + 1 FROM r WHERE x < 5
        |)
        |SELECT x FROM r""".stripMargin)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3, 4, 5))
  }

  test("UNION recursion terminates on CYCLIC data (working-table semantics)") {
    // 1 → 2 → 3 → 1 ... : UNION dedups against the accumulator, so the
    // cycle closes after one lap instead of iterating forever
    val got = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r AS (
        | SELECT 1 AS n
        | UNION
        | SELECT (n % 3) + 1 AS n FROM r
        |)
        |SELECT n FROM r""".stripMargin)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3))
  }

  test("outer query composes over the fixpoint; fixture tables are bound") {
    // suppliers reachable in the trivial 0-hop recursion = the seeds
    val n = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r AS (
        | SELECT s_suppkey AS k FROM supplier
        | UNION
        | SELECT k FROM r WHERE 1 = 0
        |)
        |SELECT COUNT(*) AS n FROM r""".stripMargin).head().getLong(0)
    val want = Tables.supplier(spark, d).count()
    assert(n == want && n > 0)
  }

  test("helper CTEs: pre-fixpoint feeds the loop, post-fixpoint reads the result") {
    // `edges` (no r reference) binds BEFORE the loop and the recursive
    // term reads it; `tops` reads r so it binds AFTER the fixpoint and
    // only the outer query may use it
    val got = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r(x) AS (
        | SELECT 1
        | UNION
        | SELECT e.dst FROM edges e JOIN r ON r.x = e.src
        |), edges(src, dst) AS (
        | SELECT 1, 2 UNION ALL SELECT 2, 3 UNION ALL SELECT 3, 1
        | UNION ALL SELECT 7, 8
        |), tops AS (
        | SELECT MAX(x) AS mx FROM r
        |)
        |SELECT r.x, tops.mx FROM r CROSS JOIN tops""".stripMargin)
      .collect().map(row => (row.getInt(0), row.getInt(1))).sorted.toSeq
    assert(got == Seq((1, 3), (2, 3), (3, 3))) // 7→8 unreachable from 1
  }

  test("comments are masked: CTE-name mentions and parens in comments cannot bind") {
    val got = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r(x) AS (
        | -- r seeds at 1 (see note(
        | SELECT 1
        | UNION ALL
        | /* r reads r via the working table ( */
        | SELECT x + 1 FROM r WHERE x < 3
        |)
        |SELECT x FROM r -- outer over r""".stripMargin)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3))
  }

  test("Spark-legal spellings: escaped quotes, double quotes, backticks and nested comments") {
    // the anchor reads customer only inside the IN subquery, after an
    // escaped-quote literal; a nested comment mentions r twice
    val sql =
      """WITH RECURSIVE r(k) AS (
        | SELECT n_nationkey FROM nation
        | WHERE n_name <> 'x\'' AND n_nationkey < 3 /* r /* ( */ r */
        |   AND n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_name <> "r)")
        | UNION
        | SELECT k + 1 FROM `r` WHERE k < 5 AND 'r\')' <> ''
        |)
        |SELECT k FROM r""".stripMargin
    val (ctes, outer) = RecursiveSql.parseAll(sql)
    assert(ctes.map(c => (c.name, c.aliases)) == Seq(("r", Seq("k"))))
    assert(ctes.head.body.endsWith("""WHERE k < 5 AND 'r\')' <> ''"""))
    assert(outer == "SELECT k FROM r")
    val seeds = Tables.customer(spark, d).filter(col("c_nationkey") < 3)
      .select(col("c_nationkey").cast("long")).distinct().collect().map(_.getLong(0))
    assert(seeds.nonEmpty)
    val got = RecursiveSql.run(spark, d, sql).select(col("k").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (seeds.min to 5L))
  }

  test("checkpoint accounting: deep chain writes O(|result|), not O(depth·|result|)") {
    val depth = 40
    // stats are PER RUN (returned, not a JVM global) — parallel suites
    // run other fixpoints concurrently in this JVM, and a shared
    // "last run" diagnostic would hand this test another run's numbers
    val (df, st) = RecursiveSql.runWithStats(spark, d,
      s"""WITH RECURSIVE r(x) AS (
         | SELECT 1
         | UNION
         | SELECT x + 1 FROM r WHERE x < $depth
         |)
         |SELECT x FROM r""".stripMargin)
    assert(df.count() == depth)
    // each round checkpoints only its delta (1 row here): linear in
    // |result|; compactions re-write the accumulator only every
    // compactEvery rounds. The OLD shape (re-checkpoint acc each
    // round) would have written depth·(depth+1)/2 = 820 rows.
    assert(st.rounds == depth - 1)
    assert(st.deltaRows == depth)
    assert(st.compactions >= 1) // depth 40 > compactEvery
    assert(st.deltaRows + st.compactedRows < 4L * depth,
      s"checkpointed ${st.deltaRows} + ${st.compactedRows} rows — not linear")
  }

  test("DRed mark loop is delta-linear: deep delete cascade writes O(|marks|)") {
    // a 60-link chain over customer keys (1 → 2 → … → 60); deleting
    // customer 5 severs the chain, cascading marks over the 55
    // downstream nodes ONE PER ROUND — the worst case for the mark
    // accumulator. Delta-only checkpoints write O(|marks|) total; the
    // old shape (re-checkpoint the whole mark set each round) would
    // write Σ1..55 ≈ 1540 rows for the marks alone.
    val chainSql =
      """WITH RECURSIVE r AS (
        | SELECT CAST(1 AS BIGINT) AS x
        | UNION
        | SELECT c.c_custkey + 1 AS x FROM customer c
        | JOIN r ON r.x = c.c_custkey WHERE c.c_custkey < 60
        |)
        |SELECT x FROM r""".stripMargin
    val (df, st) = RecursiveSql.runIncrementalWithStats(spark, d, chainSql,
      batches = Seq(Map.empty, Map.empty),
      deletesAt = Map(1 -> Map("customer" -> (col("c_custkey") === 5))),
      deltaLinear = true)
    val got = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 5L)) // nothing past the severed link survives
    // totals cover batch-0 build (60 delta rows) + the 55-mark cascade
    // + periodic compactions + the survivor reset — all linear in the
    // closure; the quadratic shape would exceed this bound 5× over
    assert(st.deltaRows + st.compactedRows < 600,
      s"checkpointed ${st.deltaRows} + ${st.compactedRows} rows — " +
        "the delete cascade is not delta-linear")
  }

  private val reachSql =
    """WITH RECURSIVE r AS (
      | SELECT 's' || CAST(s_suppkey AS STRING) AS node
      | FROM supplier WHERE s_nationkey = 3
      | UNION
      | SELECT e.dst AS node FROM (
      |  SELECT 'c' || CAST(o_custkey AS STRING) AS src,
      |         's' || CAST(l_suppkey AS STRING) AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 's' || CAST(l_suppkey AS STRING) AS src,
      |         'c' || CAST(o_custkey AS STRING) AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      | ) e JOIN r ON r.node = e.src
      |)
      |SELECT node FROM r""".stripMargin

  test("insert-only maintenance equals the from-scratch fixpoint (both seed modes)") {
    val want = RecursiveSql.run(spark, d, reachSql)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(want.nonEmpty)
    val batches = Seq(
      Map("orders" -> (col("o_orderkey") % 3 === 0),
        "lineitem" -> (col("l_orderkey") % 3 === 0)),
      Map("orders" -> (col("o_orderkey") % 3 === 1),
        "lineitem" -> (col("l_orderkey") % 3 === 1)),
      Map("orders" -> (col("o_orderkey") % 3 === 2),
        "lineitem" -> (col("l_orderkey") % 3 === 2)))
    // changelog-proportional seeds (the statement is branch-linear)
    val gotLinear = RecursiveSql.runIncremental(spark, d, reachSql, batches,
        deltaLinear = true)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(gotLinear == want)
    // the always-sound full-width seed
    val gotFull = RecursiveSql.runIncremental(spark, d, reachSql, batches)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(gotFull == want)
  }

  test("DRed deletes: mixed changelog equals the from-scratch fixpoint over final state") {
    val batches = Seq(
      Map("orders" -> (col("o_orderkey") % 3 === 0),
        "lineitem" -> (col("l_orderkey") % 3 === 0)),
      Map("orders" -> (col("o_orderkey") % 3 === 1),
        "lineitem" -> (col("l_orderkey") % 3 === 1)),
      Map("orders" -> (col("o_orderkey") % 3 === 2),
        "lineitem" -> (col("l_orderkey") % 3 === 2)))
    // batch 2 deletes every %10==0 order inserted so far — the DRed
    // over-delete must retract their reachability contributions and
    // the re-derive pass must restore rows still supported elsewhere
    val got = RecursiveSql.runIncremental(spark, d, reachSql, batches,
        deletesAt = Map(2 -> Map("orders" -> (col("o_orderkey") % 10 === 0))),
        deltaLinear = true)
      .collect().map(_.getString(0)).sorted.toSeq
    // reference: the single-batch fixpoint over the FINAL table state
    val want = RecursiveSql.runIncremental(spark, d, reachSql,
        batches = Seq(Map("orders" -> (col("o_orderkey") % 10 =!= 0))))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("DRed deletes on the ANCHOR relation: seeds retract, full seed loss empties") {
    // supplier feeds ONLY the anchor in reachSql — this drives the
    // anchor-delta over-delete branch the orders/lineitem case never
    // touches. Partial seed deletion (ALL-supplier anchor, a third of
    // the seeds removed) must equal the from-scratch fixpoint over the
    // final state…
    val allSeedsSql = reachSql.replace("WHERE s_nationkey = 3", "")
    val batches = Seq(
      Map("supplier" -> (col("s_suppkey") % 2 === 0)),
      Map("supplier" -> (col("s_suppkey") % 2 === 1)))
    val got = RecursiveSql.runIncremental(spark, d, allSeedsSql, batches,
        deletesAt = Map(1 -> Map("supplier" -> (col("s_suppkey") % 3 === 0))),
        deltaLinear = true)
      .collect().map(_.getString(0)).sorted.toSeq
    val want = RecursiveSql.runIncremental(spark, d, allSeedsSql,
        Seq(Map("supplier" -> (col("s_suppkey") % 3 =!= 0))))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(want.nonEmpty && got == want)
    // …and deleting EVERY nation-3 seed must empty the closure — a
    // broken over-delete that marks nothing would leave the whole
    // reachable set behind and fail here loudly
    val gone = RecursiveSql.runIncremental(spark, d, reachSql, batches,
        deletesAt = Map(1 -> Map("supplier" -> (col("s_nationkey") === 3))),
        deltaLinear = true)
      .collect()
    assert(gone.isEmpty)
  }

  test("resume: imported closure + startBatch equals the uninterrupted run, deletes included") {
    val batches = Seq(
      Map("orders" -> (col("o_orderkey") % 3 === 0),
        "lineitem" -> (col("l_orderkey") % 3 === 0)),
      Map("orders" -> (col("o_orderkey") % 3 === 1),
        "lineitem" -> (col("l_orderkey") % 3 === 1)),
      Map("orders" -> (col("o_orderkey") % 3 === 2),
        "lineitem" -> (col("l_orderkey") % 3 === 2)))
    val dels = Map(2 -> Map("orders" -> (col("o_orderkey") % 10 === 0)))
    val wantDf = RecursiveSql.runIncremental(spark, d, reachSql, batches,
      deletesAt = dels, deltaLinear = true)
    val want = wantDf.collect().map(_.getString(0)).sorted.toSeq
    // stop after batches 0-1, then resume with the exported closure —
    // batch 2's inserts AND its DRed deletes run on the resumed state
    val partial = RecursiveSql.runIncremental(spark, d, reachSql,
      batches.take(2), deltaLinear = true)
    val got = RecursiveSql.runIncremental(spark, d, reachSql, batches,
        deletesAt = dels, deltaLinear = true,
        initialClosure = Some(partial), startBatch = 2)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(want.nonEmpty && got == want)
    // reset-style import accounting: resuming at the very END (no
    // batches left to process) does ZERO delta work — the imported
    // closure lands as a compaction leg, never in deltaRows, so the
    // "checkpoint I/O linear in delta" diagnostic stays honest on
    // resumed runs instead of being swamped by |closure|
    val (atEnd, stEnd) = RecursiveSql.runIncrementalWithStats(spark, d,
      reachSql, batches, deletesAt = dels, deltaLinear = true,
      initialClosure = Some(wantDf), startBatch = 3)
    assert(atEnd.collect().map(_.getString(0)).sorted.toSeq == want)
    assert(stEnd.deltaRows == 0,
      s"imported closure credited to deltaRows: ${stEnd.deltaRows}")
    assert(stEnd.compactedRows == want.size.toLong)
    // fences: both resume params or neither
    def err(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(err(RecursiveSql.runIncremental(spark, d, reachSql, batches,
      initialClosure = Some(partial))).contains("BOTH"))
    assert(err(RecursiveSql.runIncremental(spark, d, reachSql, batches,
      startBatch = 2)).contains("BOTH"))
    assert(err(RecursiveSql.runIncremental(spark, d, reachSql, batches,
      initialClosure = Some(partial), startBatch = 9))
      .contains("outside the batch list"))
  }

  test("incremental fences: deletes need deltaLinear, bag recursion") {
    val batches = Seq(Map("orders" -> (col("o_orderkey") % 2 === 0)),
      Map("orders" -> (col("o_orderkey") % 2 === 1)))
    def err(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(err(RecursiveSql.runIncremental(spark, d, reachSql, batches,
      deletesAt = Map(1 -> Map("orders" -> (col("o_orderkey") % 7 === 0)))))
      .contains("deltaLinear"))
    assert(err(RecursiveSql.runIncremental(spark, d, reachSql, batches,
      deletesAt = Map(5 -> Map("orders" -> (col("o_orderkey") % 7 === 0))),
      deltaLinear = true))
      .contains("batches run 0..1"))
    assert(err(RecursiveSql.runIncremental(spark, d,
      """WITH RECURSIVE r(x) AS (
        | SELECT 1 UNION ALL SELECT x + 1 FROM r WHERE x < 3
        |) SELECT x FROM r""".stripMargin, batches))
      .contains("set-semantics"))
  }

  // the CTE-mix shape: edge set lifted into a PRE-fixpoint helper (the
  // term reads orders/lineitem only THROUGH it), plus a POST-fixpoint
  // helper over r for the outer query — the maintenance must re-create
  // the helper views per state binding or the batch-0 base would freeze
  private val helperReachSql =
    """WITH RECURSIVE r AS (
      | SELECT 's' || CAST(s_suppkey AS STRING) AS node
      | FROM supplier WHERE s_nationkey = 3
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
      |), reached AS (
      | SELECT substr(node, 1, 1) AS kind, COUNT(*) AS n FROM r GROUP BY 1
      |)
      |SELECT kind, n FROM reached""".stripMargin

  test("helper CTEs maintain under a changelog: delta bindings flow THROUGH the helper") {
    val want = RecursiveSql.run(spark, d, helperReachSql)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(want.nonEmpty)
    val batches = Seq(
      Map("orders" -> (col("o_orderkey") % 3 === 0),
        "lineitem" -> (col("l_orderkey") % 3 === 0)),
      Map("orders" -> (col("o_orderkey") % 3 === 1),
        "lineitem" -> (col("l_orderkey") % 3 === 1)),
      Map("orders" -> (col("o_orderkey") % 3 === 2),
        "lineitem" -> (col("l_orderkey") % 3 === 2)))
    // the term reads orders/lineitem only through `edges`: a direct-ref
    // test would see no changed relation and silently skip every seed —
    // the transitive read set is what makes these equal
    val gotLinear = RecursiveSql.runIncremental(spark, d, helperReachSql,
        batches, deltaLinear = true)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(gotLinear == want)
    val gotFull = RecursiveSql.runIncremental(spark, d, helperReachSql, batches)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(gotFull == want)
    // …and DRed deletes also flow through the helper: orders rows
    // removed at batch 2 must retract their edges' derivations
    val got = RecursiveSql.runIncremental(spark, d, helperReachSql, batches,
        deletesAt = Map(2 -> Map("orders" -> (col("o_orderkey") % 10 === 0))),
        deltaLinear = true)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val wantDel = RecursiveSql.runIncremental(spark, d, helperReachSql,
        batches = Seq(Map("orders" -> (col("o_orderkey") % 10 =!= 0))))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(wantDel.nonEmpty && got == wantDel)
  }

  test("fences: non-linear recursion, anchor self-reference, runaway depth") {
    def err(sql: String, maxIters: Int = 100): String =
      intercept[IllegalArgumentException](
        RecursiveSql.run(spark, d, sql, maxIters)).getMessage
    assert(err(
      """WITH RECURSIVE r AS (
        | SELECT 1 AS n
        | UNION ALL
        | SELECT a.n + b.n FROM r a JOIN r b ON a.n = b.n
        |) SELECT n FROM r""".stripMargin).contains("non-linear"))
    assert(err(
      """WITH RECURSIVE r AS (
        | SELECT n FROM r
        | UNION ALL
        | SELECT 1 AS n
        |) SELECT n FROM r""".stripMargin).contains("anchor"))
    // recursion THROUGH a helper (the loop reading an r-reading CTE)
    assert(err(
      """WITH RECURSIVE r(n) AS (
        | SELECT 1
        | UNION
        | SELECT h.n + 1 FROM h WHERE h.n < 3
        |), h AS (SELECT n FROM r) SELECT n FROM r""".stripMargin)
      .contains("through a helper"))
    // two self-referencing CTEs: one recursion per statement
    assert(err(
      """WITH RECURSIVE r(n) AS (
        | SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 2
        |), q(m) AS (
        | SELECT 1 UNION SELECT m + 1 FROM q WHERE m < 2
        |) SELECT n FROM r""".stripMargin)
      .contains("one recursion per statement"))
    // unbounded UNION ALL: a truncated result would NOT be the fixpoint
    assert(err(
      """WITH RECURSIVE r AS (
        | SELECT 1 AS n
        | UNION ALL
        | SELECT n + 1 FROM r
        |) SELECT n FROM r""".stripMargin, maxIters = 5).contains("fixpoint"))
    // a body that never references itself is not a recursion
    assert(err("WITH RECURSIVE r AS (SELECT 1 AS n) SELECT n FROM r")
      .contains("plain WITH"))
    // …and a two-branch body whose second branch ignores r is caught
    // by the same classification, at the UNION-shape fence
    assert(err(
      """WITH RECURSIVE r AS (
        | SELECT 1 AS n UNION ALL SELECT 2 AS n
        |) SELECT n FROM r""".stripMargin).contains("plain WITH"))
  }

  // ---- what one call leaves behind --------------------------------
  // Suites share one SparkContext and run in parallel, so these tests
  // look only at their own call's frames, views and RDDs — never at
  // global storage totals.

  private val edgeSql =
    """WITH RECURSIVE r(x) AS (
      | SELECT 1
      | UNION
      | SELECT e.dst FROM edges e JOIN r ON r.x = e.src
      |), edges(src, dst) AS (
      | SELECT 1, 2 UNION ALL SELECT 2, 3 UNION ALL SELECT 3, 1
      | UNION ALL SELECT 7, 8
      |)
      |""".stripMargin

  private def temporaryViews(df: DataFrame): Seq[String] =
    df.sparkSession.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq

  /** Whether RDD `id` is still persisted (its blocks not yet freed). */
  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def ints(df: DataFrame): Seq[Int] = df.collect().map(_.getInt(0)).sorted.toSeq

  test("a call leaves no temporary view in its session") {
    val (df, _) = RecursiveSql.runWithStats(spark, d,
      edgeSql + "SELECT x FROM r")
    assert(temporaryViews(df).isEmpty)
    assert(ints(df) == Seq(1, 2, 3))
    val (inc, _) = RecursiveSql.runIncrementalWithStats(spark, d, reachSql,
      Seq(Map("orders" -> (col("o_orderkey") % 2 === 0)),
        Map("orders" -> (col("o_orderkey") % 2 === 1))), deltaLinear = true)
    assert(temporaryViews(inc).isEmpty)
    assert(inc.collect().nonEmpty)
  }

  test("only the tables the statement reads are loaded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rec_supplier")
    java.nio.file.Files.copy(java.nio.file.Paths.get(d, "supplier.parquet"),
      dir.resolve("supplier.parquet"))
    val sql =
      """WITH RECURSIVE r AS (
        | SELECT s_suppkey AS k FROM supplier WHERE s_suppkey <= 3
        | UNION
        | SELECT s.s_suppkey AS k FROM supplier s JOIN r ON s.s_suppkey = r.k + 1
        |)
        |SELECT k FROM r""".stripMargin
    val want = Tables.supplier(spark, d).select("s_suppkey").collect()
      .map(_.getLong(0)).sorted.toSeq
    def keys(df: DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(RecursiveSql.run(spark, dir.toString, sql)) == want)
    assert(keys(RecursiveSql.runIncremental(spark, dir.toString, sql,
      Seq(Map("supplier" -> (col("s_suppkey") % 2 === 0)),
        Map("supplier" -> (col("s_suppkey") % 2 === 1))))) == want)
  }

  test("a materialized helper the result does not read is freed on return") {
    val (df, _, ledger) = RecursiveSql.runWithLedger(spark, d,
      edgeSql + "SELECT x FROM r", maxIters = 100)
    val edges = ledger.helpers("edges").id
    assert(!persisted(edges), s"helper checkpoint rdd $edges still holds blocks")
    // the accumulator legs the result reads stay, and it still runs
    val legs = GraftBridge.rddsRead(df).map(_.id)
    assert(legs.nonEmpty && legs.forall(persisted), legs)
    assert(ints(df) == Seq(1, 2, 3))
  }

  // guards against freeing too much: each result runs twice after the
  // call returns and must give the right rows both times
  test("guard: an outer query reading a materialized helper keeps it") {
    val (df, _, ledger) = RecursiveSql.runWithLedger(spark, d,
      edgeSql + "SELECT r.x, e.dst FROM r JOIN edges e ON e.src = r.x",
      maxIters = 100)
    assert(persisted(ledger.helpers("edges").id))
    val want = Seq((1, 2), (2, 3), (3, 1))
    (1 to 2).foreach { _ =>
      assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq == want)
    }
  }

  test("guard: an empty recursion whose anchor reads a materialized helper") {
    val df = RecursiveSql.run(spark, d,
      """WITH RECURSIVE r(x) AS (
        | SELECT src FROM edges WHERE src > 100
        | UNION
        | SELECT e.dst FROM edges e JOIN r ON r.x = e.src
        |), edges(src, dst) AS (
        | SELECT 1, 2 UNION ALL SELECT 2, 3
        |)
        |SELECT x FROM r""".stripMargin)
    (1 to 2).foreach(_ => assert(df.collect().isEmpty))
  }

  test("guard: a resumed run whose initial closure is an earlier call's result") {
    val batches = Seq(
      Map("orders" -> (col("o_orderkey") % 3 === 0),
        "lineitem" -> (col("l_orderkey") % 3 === 0)),
      Map("orders" -> (col("o_orderkey") % 3 === 1),
        "lineitem" -> (col("l_orderkey") % 3 === 1)),
      Map("orders" -> (col("o_orderkey") % 3 === 2),
        "lineitem" -> (col("l_orderkey") % 3 === 2)))
    def nodes(df: DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    // the closure itself is the result, so the resumed call's
    // initialClosure reads the earlier call's accumulator legs
    val sql = helperReachSql.replace("SELECT kind, n FROM reached", "SELECT node FROM r")
    val want = nodes(RecursiveSql.runIncremental(spark, d, sql, batches,
      deltaLinear = true))
    val partial = RecursiveSql.runIncremental(spark, d, sql, batches.take(2),
      deltaLinear = true)
    val resumed = RecursiveSql.runIncremental(spark, d, sql, batches,
      deltaLinear = true, initialClosure = Some(partial), startBatch = 2)
    assert(want.nonEmpty)
    (1 to 2).foreach { _ =>
      assert(nodes(resumed) == want)
      assert(nodes(partial).toSet.subsetOf(want.toSet))
    }
  }

  test("the result plans under the caller's AQE setting, on or off") {
    val key = "spark.sql.adaptive.enabled"
    val outer = "SELECT x, COUNT(*) AS n FROM r GROUP BY x"
    Seq("true", "false").foreach { aqe =>
      val caller = spark.newSession()
      caller.conf.set(key, aqe)
      val results = Seq(
        RecursiveSql.run(caller, d, edgeSql + outer),
        RecursiveSql.runIncremental(caller, d,
          """WITH RECURSIVE r(x) AS (
            | SELECT CAST(1 AS BIGINT)
            | UNION
            | SELECT c.c_custkey + 1 FROM customer c
            | JOIN r ON r.x = c.c_custkey WHERE c.c_custkey < 3
            |)
            |""".stripMargin + outer,
          Seq(Map.empty[String, Column])))
      results.foreach { df =>
        assert(df.sparkSession.conf.get(key) == aqe)
        assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec] ==
          (aqe == "true"), df.queryExecution.executedPlan)
        assert(df.collect().map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L))
      }
    }
  }
}
