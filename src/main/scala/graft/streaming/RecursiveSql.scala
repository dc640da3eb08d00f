package graft.streaming

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import graft.{SqlText, Tables}

/** Bounded `WITH RECURSIVE` — SQL:1999 linear recursion compiled onto
  * the engine's checkpointed fixpoint loop (the same distributed shape
  * as [[graft.operators.GraphOps.kcore]]'s peel / BFS frontier loops):
  *
  * {{{
  * WITH RECURSIVE r[(cols)] AS (
  *   <anchor query>            -- must not reference r
  *   UNION [ALL]
  *   <recursive query>         -- must reference r exactly ONCE
  * ) [, helper[(cols)] AS ( <non-recursive query> )]*
  * <outer query over r and the helpers>
  * }}}
  *
  * Standard working-table semantics (Postgres/DuckDB): each iteration
  * the recursive term sees ONLY the rows produced by the previous
  * iteration (the frontier), `UNION` deduplicates against everything
  * accumulated so far (so cyclic data terminates — the BFS shape),
  * `UNION ALL` appends blindly (terminates only when the frontier
  * empties — DAG data). Iterations run as ordinary Spark jobs: one
  * equi-join per round against the frontier, lineage truncated per
  * round via eager localCheckpoint so the plan never grows with depth.
  *
  * The ACCUMULATOR is a lazy union of the per-round checkpointed
  * deltas — each round checkpoints O(|delta|), never O(|acc|), so a
  * depth-D recursion pays checkpoint I/O linear in |result| (the old
  * shape re-checkpointed the whole accumulator every round:
  * O(D·|result|), quadratic on constant-rate growth). When the union
  * grows past [[compactEvery]] legs the accumulator compacts into one
  * checkpoint so per-round plan width stays bounded. [[runWithStats]]
  * returns the run's checkpoint accounting for exactly this claim —
  * per run, not a JVM global, so concurrent fixpoints can't clobber
  * each other's diagnostics.
  *
  * HELPER CTEs — additional non-recursive CTEs in the WITH — compile
  * as named subqueries: one not referencing the recursive CTE binds as
  * a temp view BEFORE the loop (the anchor and recursive term may read
  * it); one referencing the recursive CTE binds AFTER the fixpoint
  * (only the outer query may read it — the loop reading it would be
  * recursion through a helper, fenced as non-linear). References flow
  * backward, as in a WITH query [[SqlCompiler.statement]] compiles.
  *
  * All text-level scanning (the CTE-list walk, balanced-paren body
  * extraction, reference counting) walks Spark's own tokens
  * ([[graft.SqlText]]), so a comment or string literal mentioning the
  * CTE name neither counts as a reference nor desyncs the paren scan.
  *
  * Loud fences, never wrong answers:
  *  - NON-LINEAR recursion (the recursive term referencing r twice —
  *    e.g. a self-join of the working table — or reading a helper
  *    that itself reads r) fails at compile;
  *  - a recursion still producing new rows after `maxIters` fails
  *    loudly — a truncated result is NOT the statement's fixpoint;
  *  - more than one self-referencing CTE fails (one recursion per
  *    statement).
  *
  * At 100 TB the loop is diameter-bounded BFS: every round is a
  * key-partitioned join frontier ⋈ edges plus a distinct — both
  * shuffle-partitioned, no driver-side data, frontier monotonically
  * shrinking on saturating graphs.
  *
  * Reference: beyond-reference SQL surface (the reference has no SQL
  * front end); semantics follow the SQL standard / DuckDB, which the
  * oracle runs natively.
  */
object RecursiveSql {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Checkpoint accounting for ONE run — `deltaRows` is what the
    * per-round delta checkpoints wrote (linear in |result| by
    * construction), `compactedRows` what the periodic accumulator
    * compactions re-wrote (at most every [[compactEvery]] rounds).
    * Returned PER RUN by [[runWithStats]]/[[runIncrementalWithStats]]
    * — deliberately NOT a JVM global: parallel suites run many
    * fixpoints concurrently in one JVM, and a shared "last run"
    * diagnostic races (a spec would read another run's stats).
    * Diagnostic surface for specs and MiniBench, not a driver
    * contract. */
  final case class Stats(rounds: Int, deltaRows: Long,
                         compactions: Int, compactedRows: Long)

  /** Accumulator legs before a compaction folds them into one
    * checkpoint: bounds per-round plan width (≤ this many union legs)
    * while keeping compaction I/O amortized (|acc| written once per
    * `compactEvery` rounds, not once per round). */
  private val compactEvery = 16

  /** Every RDD one call checkpoints — its materialized helpers, the
    * accumulator's deltas, resets and compactions, the DRed mark sets —
    * so the call can free, on return, whatever its result does not
    * read ([[release]]).
    *
    * LINEAGE CAVEAT: these are LOCAL checkpoints. Eager
    * `localCheckpoint` cuts the lineage, so a block is never
    * recomputed: a lost block (executor loss) or an unpersisted one
    * fails the job that reads it ("Checkpoint block not found"). What
    * stays is therefore decided by walking the result's analyzed plan
    * ([[GraftBridge.rddsRead]]), never by names or text. */
  private[graft] final class Ledger {
    private val rdds = mutable.ArrayBuffer[RDD[_]]()
    /** The current materialized copy of each term-read helper CTE. */
    val helpers = mutable.Map[String, RDD[_]]()

    def checkpoint(df: DataFrame): (DataFrame, Long) = {
      val (c, n) = GraftBridge.localCheckpointCounted(df)
      rdds ++= GraftBridge.rddsRead(c)
      (c, n)
    }

    /** Materialize helper `name`, freeing the copy it replaces: a
      * maintained run re-materializes term-read helpers per batch, and
      * every frame built over the old copy has run by then. */
    def helper(name: String, df: DataFrame): DataFrame = {
      val c = checkpoint(df)._1
      helpers.put(name, GraftBridge.rddsRead(c).head).foreach { old =>
        rdds -= old
        old.unpersist(blocking = true)
      }
      c
    }

    /** Drop the child session's temp views and free every listed RDD
      * that `result` (already analyzed) does not read — all of them
      * when the call failed. Spark 4.1.2 keeps a child session
      * reachable once it has run an action, so its views would
      * otherwise pin every checkpoint for the SparkContext's life. */
    def release(s: SparkSession, views: Seq[String],
                result: Option[DataFrame]): Unit = {
      val read = result.fold(Set.empty[Int])(GraftBridge.rddsRead(_).map(_.id).toSet)
      views.foreach(s.catalog.dropTempView)
      rdds.filterNot(r => read(r.id)).foreach(_.unpersist(blocking = true))
      rdds.clear()
    }
  }

  private val aqeKey = "spark.sql.adaptive.enabled"

  /** Run one call in a CHILD session of `spark`, so caller bindings
    * stay untouched. `eager` runs the call's own jobs — helper
    * materialization, the fixpoint rounds, compactions, the DRed loops
    * — with AQE off: every frame those jobs join carries exact
    * checkpoint stats, so static planning already broadcasts the small
    * side and AQE's per-stage re-planning only adds jobs. The thunk it
    * returns builds the outer query under the caller's AQE setting, so
    * the returned frame plans as the caller configured. Then `views`
    * are dropped and the ledger freed ([[Ledger.release]]), also when
    * the call fails. */
  private def inChildSession(spark: SparkSession, ledger: Ledger, views: Seq[String])
                            (eager: SparkSession => (() => DataFrame)): DataFrame = {
    val s = spark.newSession()
    val callerAqe = spark.conf.get(aqeKey)
    s.conf.set(aqeKey, "false")
    var out: Option[DataFrame] = None
    try {
      val outer = eager(s)
      s.conf.set(aqeKey, callerAqe)
      out = Some(outer())
      out.get
    } finally ledger.release(s, views, out)
  }

  /** Base relations the statement names, by [[countRefs]]; a call
    * binds only these. Over-counting (a column or CTE sharing a table's
    * name) only binds one table more. */
  private def tablesRead(sqlText: String): Seq[String] =
    Tables.names.filter(t => countRefs(sqlText, t) > 0)

  private[graft] final case class Cte(name: String, aliases: Seq[String], body: String)

  /** Split the statement into its CTE definitions (in order) and the
    * outer query text, through the WITH-clause walker
    * [[SqlCompiler.withClause]]; the clause must be RECURSIVE. Bodies
    * keep their comments for Spark's parser, which handles them
    * natively. */
  private[graft] def parseAll(sqlText: String): (Seq[Cte], String) =
    SqlCompiler.withClause(sqlText) match {
      case Some((true, ctes, outer)) =>
        (ctes.map { case (name, aliases, body) => Cte(name, aliases, body) }, outer)
      case _ =>
        fail("expected WITH RECURSIVE <name>[(cols)] AS ( ... ) [, <helper> AS ( ... )]* <outer query>")
    }

  /** Split `sqlText` into (cteName, colAliases, anchorText,
    * recursiveText, unionAll, outerText) for the single-CTE form —
    * retained for callers/specs that address the recursion directly;
    * [[run]] goes through [[parseAll]] and supports helpers. */
  private[graft] def parse(sqlText: String)
      : (String, Seq[String], String, String, Boolean, String) = {
    val (ctes, outer) = parseAll(sqlText)
    val rec = soleRecursive(ctes)
    if (ctes.size != 1)
      fail("parse() addresses the single-CTE form; use parseAll for helpers")
    val (anchor, recText, unionAll) = splitRecursiveBody(rec)
    (rec.name, rec.aliases, anchor, recText, unionAll, outer)
  }

  /** Exactly ONE CTE may reference itself — that one is the
    * recursion; every other is a helper. A reference CYCLE with no
    * direct self-reference (r reads h, h reads r) is recursion
    * through a helper — fenced by name, never misread as "no
    * recursion". */
  private def soleRecursive(ctes: Seq[Cte]): Cte = {
    val bodies = ctes.map(c => c.name -> c.body).toMap
    val names = ctes.map(_.name)
    val selfRef = ctes.filter(c => countRefs(c.body, c.name) > 0)
    if (selfRef.isEmpty) {
      // cycle detection over the CTE reference graph
      def reaches(from: String, to: String,
                  seen: Set[String] = Set.empty): Boolean =
        !seen(from) && names.filter(n => countRefs(bodies(from), n) > 0)
          .exists(n => n == to || reaches(n, to, seen + from))
      names.find(n => reaches(n, n)).foreach(n =>
        fail(s"CTE '$n' references itself only THROUGH other CTEs — " +
          "recursion through a helper is non-linear and has no bounded " +
          "fixpoint plan; fold the cycle into one recursive CTE"))
      fail("no CTE references itself — use a plain WITH (no recursion here)")
    }
    if (selfRef.size > 1)
      fail(s"CTEs ${selfRef.map(_.name).mkString(", ")} each reference " +
        "themselves — one recursion per statement")
    selfRef.head
  }

  private def splitRecursiveBody(rec: Cte): (String, String, Boolean) = {
    val (parts, ops) = SqlCompiler.splitSetOps(rec.body)
    if (parts.size != 2 || !ops.head.startsWith("UNION"))
      fail(s"the recursive CTE body must be <anchor> UNION [ALL] <recursive " +
        s"term> — found ${parts.size} branch(es)${ops.headOption.fold("")(" joined by " + _)}")
    val refs = countRefs(parts(1), rec.name)
    if (countRefs(parts(0), rec.name) != 0)
      fail(s"the anchor term may not reference '${rec.name}' (it seeds the recursion)")
    if (refs == 0)
      fail(s"the recursive term does not reference '${rec.name}' — use a plain WITH")
    if (refs > 1)
      fail(s"non-linear recursion: the recursive term references '${rec.name}' $refs " +
        "times; SQL's working-table semantics admit exactly one reference " +
        "(a self-join of the working table has no bounded fixpoint plan)")
    (parts(0), parts(1), ops.head == "UNION ALL")
  }

  /** Occurrences of `name` as a standalone TABLE identifier among
    * Spark's tokens of `text` (backticks stripped, case ignored), so a
    * comment or string literal never counts: a `name.` qualifier is a
    * COLUMN reference to the same table factor (not a second
    * reference), and `x.name` is a different qualified name entirely —
    * both are skipped.
    *
    * KNOWN LIMIT (lexical, not a parse): an UNQUALIFIED column that
    * happens to share the CTE's name (`SELECT r FROM t` inside a
    * helper, with the recursion named `r`) counts as a reference —
    * the helper is then classified post-fixpoint (harmless: it binds
    * later than needed) or, if the loop reads it, trips the
    * recursion-through-helper fence LOUDLY. Conservative by
    * construction: a shadowing name can only over-count, never
    * under-count, so no misclassification silently reads stale state.
    * Qualify the column (`t.r`) or rename the CTE to avoid it. */
  private def countRefs(text: String, name: String): Int = {
    val toks = SqlText.tokens(text)
    def dotAt(i: Int) = toks.lift(i).exists(_.kind == SqlBaseLexer.DOT)
    toks.indices.count(i =>
      toks(i).word.exists(_.equalsIgnoreCase(name)) && !dotAt(i - 1) && !dotAt(i + 1))
  }

  /** The lazy-union accumulator + per-round frontier bookkeeping:
    * every delta checkpoints ONCE (O(|delta|)); the accumulator is the
    * union of those checkpoints, compacted into a single checkpoint
    * only when the union grows past [[compactEvery]] legs.
    *
    * STATISTICS FEEDBACK (replaces round 16's count-gated broadcast
    * hints): the working frames are RDD-backed checkpoints whose
    * statistics the planner would otherwise read as unknown
    * (`Long.MaxValue` size — it started every round at sort-merge and
    * leaned on AQE runtime conversion). Each delta now checkpoints
    * through [[GraftBridge.localCheckpointCounted]], which fuses the
    * materialization job with the emptiness-probe count (ONE job per
    * round instead of checkpoint + count) and stamps the frame's
    * `LogicalRDD` with its EXACT measured row count and byte size.
    * Joins against the frontier and the accumulator then plan their
    * strategy from real sizes: a frame under
    * `spark.sql.autoBroadcastJoinThreshold` broadcasts at planning
    * time with no hint (and none of round 16's HintErrorLogger spam on
    * non-join references), and — unlike the row-count gate — a WIDE
    * row (path-string closures) past the byte threshold never builds
    * a runaway broadcast regardless of its row count. A corpus-scale
    * closure exceeds the byte threshold and plans exactly as before;
    * the knob is Spark's own broadcast threshold, the deployment's to
    * size. */
  private final class Fixpoint(unionAll: Boolean, ledger: Ledger) {
    private val deltas = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var rounds = 0
    var deltaRows = 0L
    var compactions = 0
    var compactedRows = 0L

    def acc: DataFrame = deltas.reduce(_ unionAll _)

    /** Whether any accumulator leg exists yet (an existing leg may
      * still be an EMPTY frame after a reset — that is a valid empty
      * working table, not "no accumulator"). */
    def hasAcc: Boolean = deltas.nonEmpty

    /** Replace the accumulator wholesale — the DRed over-delete step
      * (survivors become the single checkpointed leg) and the RESUME
      * import (a previously-computed closure seeds the accumulator).
      * Accounted as a compaction, never as delta I/O: `deltaRows`
      * stays the per-round delta diagnostic ("checkpoint I/O linear
      * in delta"), which an |closure|-sized import would swamp. */
    def reset(df: DataFrame): Unit = {
      val (c, n) = ledger.checkpoint(df)
      compactedRows += n
      deltas.clear()
      deltas += c
      compactions += 1
    }

    /** Checkpoint `df`; returns it as the next frontier, or None when
      * it is empty (fixpoint reached / nothing new this seed). The
      * materializing job IS the emptiness probe — one job, not
      * checkpoint + count — and the frame carries its exact stats. */
    def push(df: DataFrame): Option[DataFrame] = {
      val (d, n) = ledger.checkpoint(df)
      if (n == 0) None
      else {
        deltas += d
        deltaRows += n
        if (deltas.size > compactEvery) {
          val (c, cn) = ledger.checkpoint(acc)
          compactedRows += cn
          deltas.clear()
          deltas += c
          compactions += 1
        }
        Some(d)
      }
    }

    /** New rows of `step` relative to the accumulator under the
      * statement's union semantics. The `distinct()` BEFORE the except
      * is deliberate, not redundant: `except` is EXCEPT DISTINCT, but
      * Spark plans it as Distinct(LeftAnti(left, acc)) — the raw step
      * (the widest frame of the loop, every matched edge) would shuffle
      * straight into the anti join un-reduced. A leading distinct is a
      * hash aggregate whose MAP-SIDE partials collapse the step to
      * ~|new frontier| rows before any exchange, so the anti join and
      * the final distinct touch thousands of rows, not millions
      * (removing it measured +0.4 s on the BFS headliner at sf0.1). */
    def dedupNew(step: DataFrame): DataFrame =
      if (unionAll) step
      else if (deltas.isEmpty) step.distinct()
      else step.distinct().except(acc)

    /** Iterate the recursive term from `frontier0` to fixpoint:
      * one frontier ⋈ edges job per round, delta-checkpointed. */
    def loop(s: SparkSession, name: String, recText: String,
             shape: DataFrame => DataFrame, frontier0: DataFrame,
             maxIters: Int): Unit = {
      var frontier = frontier0
      var live = true
      // the fence counts THIS loop's iterations — `rounds` accumulates
      // across every batch of a maintained run for stats, and a
      // long-lived changelog converging in one round per batch must
      // never trip a fence meant for non-terminating recursion
      var iters = 0
      while (live) {
        if (iters >= maxIters)
          fail(s"recursion still producing rows after $maxIters iterations — " +
            "a truncated result is not the statement's fixpoint; raise maxIters " +
            "or bound the recursion in the query")
        // the frontier view carries its exact stats (see the Fixpoint
        // scaladoc): the recursive term's join sees r's REAL size
        // instead of an RDD-backed unknown
        frontier.createOrReplaceTempView(name)
        val step = shape(s.sql(recText))
        push(dedupNew(step)) match {
          case Some(d) => frontier = d; rounds += 1; iters += 1
          case None => live = false
        }
      }
    }

    def stats: Stats = Stats(rounds, deltaRows, compactions, compactedRows)

    /** Fold another fixpoint's accounting into this one — the DRed
      * mark loop runs on its own [[Fixpoint]] (its accumulator is the
      * mark set, not the closure) but its checkpoint I/O belongs in
      * the run's totals. */
    def absorb(other: Fixpoint): Unit = {
      rounds += other.rounds
      deltaRows += other.deltaRows
      compactions += other.compactions
      compactedRows += other.compactedRows
    }
  }

  /** Build the rename (column alias list) + positional-alignment shape
    * for a recursion: UNION aligns branches POSITIONALLY per SQL, so
    * the recursive term's output takes the anchor's column names
    * whatever it calls them. */
  private def shaperFor(rec: Cte, anchorCols: => Seq[String])
      : (DataFrame => DataFrame, DataFrame => DataFrame) = {
    def renamed(df: DataFrame): DataFrame =
      if (rec.aliases.isEmpty) df
      else if (rec.aliases.size != df.columns.length)
        fail(s"column alias list (${rec.aliases.size}) does not match the anchor's " +
          s"output arity (${df.columns.length})")
      else df.toDF(rec.aliases: _*)
    def aligned(df: DataFrame): DataFrame = {
      val cols = anchorCols
      if (df.columns.length != cols.length)
        fail(s"the recursive term yields ${df.columns.length} column(s), " +
          s"the anchor ${cols.length} — UNION branches must agree")
      df.toDF(cols: _*)
    }
    (renamed, aligned)
  }

  /** Bind helper CTE `h` as a temp view. `materialize` checkpoints it
    * first — pre-fixpoint helpers read by the RECURSIVE TERM are
    * loop-invariant (base relations don't change within a run), so
    * without it every round would recompute the helper's whole plan
    * (the classic case: an `edges` helper joining two fact tables —
    * recomputed twice per BFS round vs read once from checkpointed
    * rows). Helpers read only by the anchor or outer query evaluate
    * once either way and stay lazy. */
  private def bindHelper(s: SparkSession, ledger: Ledger, h: Cte,
                         materialize: Boolean): Unit = {
    val df = s.sql(h.body)
    val out =
      if (h.aliases.isEmpty) df
      else if (h.aliases.size != df.columns.length)
        fail(s"column alias list (${h.aliases.size}) of helper CTE '${h.name}' " +
          s"does not match its output arity (${df.columns.length})")
      else df.toDF(h.aliases: _*)
    // materialized helpers carry exact stats too (same single job as a
    // plain eager localCheckpoint): the loop's frontier ⋈ edges join
    // then sees the REAL edge-set size on its probe side every round
    (if (materialize) ledger.helper(h.name, out) else out)
      .createOrReplaceTempView(h.name)
  }

  /** Run the statement against the parquet fixture at `dir`. Only the
    * base tables of [[Tables.names]] the statement names are loaded,
    * each bound as a temp view in a CHILD session (so caller bindings
    * are untouched); pre-fixpoint helpers bind next, the anchor seeds
    * the accumulator, the loop iterates the recursive term over the
    * frontier until it adds nothing (or fails at `maxIters`),
    * post-fixpoint helpers bind last, and the outer query runs over
    * all of them.
    *
    * The returned DataFrame owns the checkpointed accumulator legs
    * (and any materialized helper) its plan reads; everything else
    * the call checkpointed is freed, and its temp views dropped,
    * before it returns. The call's own jobs plan without AQE; the
    * returned DataFrame plans under the caller's setting. */
  def run(spark: SparkSession, dir: String, sqlText: String,
          maxIters: Int = 100): DataFrame =
    runWithStats(spark, dir, sqlText, maxIters)._1

  /** Classify helper CTEs around the fixpoint — (pre, post) in
    * definition order; enforce backward reference flow among CTEs (as
    * SqlCompiler.statement does) and fence recursion THROUGH a
    * helper — the loop reading a helper that (transitively) reads r is
    * non-linear. */
  private def classifyHelpers(ctes: Seq[Cte], rec: Cte, anchorText: String,
                              recText: String): (Seq[Cte], Seq[Cte]) = {
    val helpers = ctes.filterNot(_.name == rec.name)
    val names = ctes.map(_.name)
    helpers.foreach { h =>
      val before = names.takeWhile(_ != h.name).toSet + rec.name
      names.filterNot(before).filterNot(_ == h.name).foreach { later =>
        if (countRefs(h.body, later) > 0)
          fail(s"CTE '${h.name}' reads CTE '$later' defined after it — " +
            "reorder the WITH clause (references flow backward)")
      }
    }
    // TRANSITIVE classification: a helper reading r — or reading any
    // helper that (transitively) reads r — can only bind after the
    // fixpoint; a direct-only test would bind its reader too early and
    // die with an opaque missing-view error
    val afterNames = scala.collection.mutable.Set[String]()
    var grew = true
    while (grew) {
      grew = false
      helpers.foreach { h =>
        if (!afterNames(h.name)) {
          if (countRefs(h.body, rec.name) > 0 ||
              afterNames.exists(a => countRefs(h.body, a) > 0)) {
            afterNames += h.name
            grew = true
          }
        }
      }
    }
    val (helpersAfter, helpersBefore) = helpers.partition(h => afterNames(h.name))
    helpersAfter.foreach { h =>
      Seq("anchor" -> anchorText, "recursive term" -> recText).foreach {
        case (what, text) =>
          if (countRefs(text, h.name) > 0)
            fail(s"the $what reads helper CTE '${h.name}', which reads " +
              s"'${rec.name}' — recursion through a helper is non-linear " +
              "and has no bounded fixpoint plan")
      }
    }
    (helpersBefore, helpersAfter)
  }

  /** [[run]] plus the run's own checkpoint accounting — per-run, so
    * concurrent fixpoints in one JVM cannot clobber each other's
    * diagnostics. */
  def runWithStats(spark: SparkSession, dir: String, sqlText: String,
                   maxIters: Int = 100): (DataFrame, Stats) = {
    val (df, stats, _) = runWithLedger(spark, dir, sqlText, maxIters)
    (df, stats)
  }

  /** [[runWithStats]] plus the call's [[Ledger]], for specs. */
  private[graft] def runWithLedger(spark: SparkSession, dir: String, sqlText: String,
                                   maxIters: Int): (DataFrame, Stats, Ledger) = {
    val (ctes, outerText) = parseAll(sqlText)
    val rec = soleRecursive(ctes)
    val (anchorText, recText, unionAll) = splitRecursiveBody(rec)
    val (helpersBefore, helpersAfter) =
      classifyHelpers(ctes, rec, anchorText, recText)
    val tables = tablesRead(sqlText)
    val ledger = new Ledger
    val fp = new Fixpoint(unionAll, ledger)
    val df = inChildSession(spark, ledger, tables ++ ctes.map(_.name)) { s =>
      tables.foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      helpersBefore.foreach(h =>
        bindHelper(s, ledger, h, materialize = countRefs(recText, h.name) > 0))

      var anchorCols: Seq[String] = Nil
      val (renamed, aligned) = shaperFor(rec, anchorCols)
      val shape: DataFrame => DataFrame = df => aligned(renamed(df))

      val anchor = renamed(s.sql(anchorText))
      anchorCols = anchor.columns.toSeq
      fp.push(if (unionAll) anchor else anchor.distinct()).foreach { frontier =>
        fp.loop(s, rec.name, recText, shape, frontier, maxIters)
      }
      () => {
        val result =
          if (fp.deltaRows == 0) anchor.limit(0) // empty anchor → empty recursion
          else fp.acc
        result.createOrReplaceTempView(rec.name)
        helpersAfter.foreach(bindHelper(s, ledger, _, materialize = false))
        s.sql(outerText)
      }
    }
    (df, fp.stats, ledger)
  }

  /** MAINTAINED recursion under a base-table CHANGELOG — semi-naive
    * evaluation for inserts plus DRed-style delete/re-derive (the
    * textbook incremental Datalog pair): batch 0 runs the ordinary
    * fixpoint; each later batch first applies its DELETES, then seeds
    * a frontier from the accumulated closure for its INSERTS and
    * continues the same checkpointed loop — per-batch work
    * proportional to the affected derivations, never a from-scratch
    * re-run.
    *
    * `batches(k)` filters each named base relation to the rows ARRIVING
    * in batch k (cumulative state = OR of the filters so far);
    * relations absent from every batch map are fully present from the
    * start. `deletesAt(k)` filters each named relation to the
    * previously-present rows REMOVED at batch k (applied before batch
    * k's inserts). The final result equals the from-scratch fixpoint
    * over the final table states — the same oracle as the batch entry.
    *
    * INSERT seeding, per batch: with `deltaLinear = false` (default,
    * always sound) the seed is one FULL-width delta round — T(acc)
    * over the new cumulative base minus acc, i.e. every one-step
    * consequence of the closure under the new edges (complete for
    * arbitrary linear terms: the first new tuple of any derivation
    * chain is such a consequence). With `deltaLinear = true` the seed
    * evaluates the term once PER CHANGED RELATION with that relation
    * bound to its DELTA only (others at full new state) —
    * changelog-proportional, exact when each base relation occurs at
    * most once per join scope in the recursive term (occurrences in
    * different UNION ALL branches are fine — union is linear; a base
    * self-JOIN is not, old×new derivations would be missed, so only
    * assert it for branch-linear statements).
    *
    * DELETE maintenance (DRed-lite) REQUIRES `deltaLinear` — the
    * over-delete seed identifies derivations that USED a deleted base
    * row by the same per-relation delta binding:
    *  1. OVER-DELETE: seed = term/anchor evaluated with each deleted
    *     relation bound to its deleted rows (r → acc, other relations
    *     at the pre-delete state), then propagate — rows derivable
    *     from already-marked rows over the post-delete base join the
    *     mark set until it stops growing. Bounded by the affected
    *     component.
    *  2. RE-DERIVE: survivors replace the accumulator; one support
    *     probe T(r → survivors) over the post-delete base (plus the
    *     anchor) re-seeds every over-deleted row that still has a
    *     derivation, and the ordinary frontier loop re-derives the
    *     rest. The probe is one fixpoint-round's width — strictly
    *     cheaper than the from-scratch diameter×rounds; a production
    *     refinement would maintain per-row support counts to make it
    *     component-local too.
    *
    * The seeds bind r to the ACCUMULATED closure (a superset of any
    * frontier), sound exactly because linear BFS-style terms are
    * MONOTONE (joins/filters/projections over r and base tables);
    * that is the assumed contract here, as in semi-naive Datalog.
    *
    * Bag recursion (`UNION ALL`) is fenced: without derivation
    * counting, appending new derivations of already-present rows
    * cannot be reconciled with the from-scratch multiset.
    *
    * HELPER CTEs participate in the maintenance: a temp view captures
    * its plan at creation, so PRE-fixpoint helper views are RE-CREATED
    * after every state rebinding — a delta binding of `orders` is then
    * visible through an `edges` helper instead of freezing the batch-0
    * state. Delta-linearity and seed-skipping decisions see THROUGH
    * helpers (a term reading `edges` over orders⋈lineitem reads orders
    * and lineitem); the branch-linearity requirement for `deltaLinear`
    * extends through helper EXPANSION — each base relation must occur
    * at most once per join scope after inlining the helpers it flows
    * through (a term joining a helper with itself would make both
    * sides delta under one binding and miss old×new derivations).
    * POST-fixpoint helpers bind after the loop, for the outer query,
    * exactly as in [[run]]. Term-read helpers are materialized once
    * per batch (loop-invariant within a batch), not once per round. */
  def runIncremental(spark: SparkSession, dir: String, sqlText: String,
                     batches: Seq[Map[String, Column]],
                     deletesAt: Map[Int, Map[String, Column]] = Map.empty,
                     deltaLinear: Boolean = false,
                     maxIters: Int = 100,
                     initialClosure: Option[DataFrame] = None,
                     startBatch: Int = 0): DataFrame =
    runIncrementalWithStats(spark, dir, sqlText, batches, deletesAt,
      deltaLinear, maxIters, initialClosure, startBatch)._1

  /** [[runIncremental]] plus the run's checkpoint accounting. The
    * DRed mark loops' checkpoint I/O is folded into the same totals,
    * so a spec can assert the DELETE path is delta-linear too.
    *
    * RESUME: `initialClosure` (with `startBatch` ≥ 1) seeds the
    * accumulator with a PREVIOUSLY-COMPUTED closure — the fixpoint
    * over batches `0..startBatch-1`'s final state — instead of running
    * batch 0 from scratch, and processing continues at `startBatch`.
    * This is the restart hook for a maintained recursion whose closure
    * persists in a snapshot table between JVMs: the caller exports the
    * closure (for a `SELECT * FROM r` outer query, the result IS the
    * closure), reopens it from the log in a fresh session, and passes
    * it here with the SAME batches/deletesAt lists (state filters are
    * pure expressions — respecifying them reconstructs every base
    * state without re-running prior batches).
    *
    * Loads only the base tables the statement, the batch maps and the
    * delete maps name, and frees what the call created as [[run]]
    * does; a term-read helper materialized again for a new batch frees
    * the copy it replaces. */
  def runIncrementalWithStats(spark: SparkSession, dir: String, sqlText: String,
                     batches: Seq[Map[String, Column]],
                     deletesAt: Map[Int, Map[String, Column]] = Map.empty,
                     deltaLinear: Boolean = false,
                     maxIters: Int = 100,
                     initialClosure: Option[DataFrame] = None,
                     startBatch: Int = 0): (DataFrame, Stats) = {
    if (batches.isEmpty) fail("runIncremental needs at least one batch")
    deletesAt.keys.foreach(k => if (k < 0 || k >= batches.size)
      fail(s"deletesAt names batch $k — batches run 0..${batches.size - 1}"))
    if (initialClosure.isDefined != (startBatch > 0))
      fail("resume takes BOTH an initialClosure and a startBatch >= 1 " +
        "(the closure is the fixpoint over batches 0..startBatch-1)")
    if (startBatch < 0 || startBatch > batches.size)
      fail(s"startBatch $startBatch is outside the batch list " +
        s"(0..${batches.size})")
    if (deletesAt.values.exists(_.nonEmpty) && !deltaLinear)
      fail("DRed deletion maintenance requires deltaLinear: identifying the " +
        "derivations that used a deleted base row needs per-relation delta " +
        "binding (sound only for branch-linear terms) — assert deltaLinear, " +
        "or re-run the from-scratch fixpoint")
    val (ctes, outerText) = parseAll(sqlText)
    val rec = soleRecursive(ctes)
    val (anchorText, recText, unionAll) = splitRecursiveBody(rec)
    val (helpersBefore, helpersAfter) =
      classifyHelpers(ctes, rec, anchorText, recText)
    if (unionAll)
      fail("maintained recursion requires set-semantics UNION — bag (UNION " +
        "ALL) recursion under inserts would need derivation counting")
    val changing = batches.flatMap(_.keys).distinct
    val delRels = deletesAt.values.flatMap(_.keys).toSeq.distinct
    (changing ++ delRels).distinct.foreach(t => if (!Tables.names.contains(t))
      fail(s"batch filter names unknown base relation '$t'"))

    val tables = Tables.names.filter(
      (tablesRead(sqlText) ++ changing ++ delRels).contains)
    val ledger = new Ledger
    val fp = new Fixpoint(unionAll = false, ledger)
    val df = inChildSession(spark, ledger, tables ++ ctes.map(_.name)) { s =>
      val base: Map[String, DataFrame] =
        tables.map(t => t -> Tables.load(s, dir, t)).toMap
      // Base relations each PRE-FIXPOINT helper transitively reads
      // (helpers may read earlier helpers — definition-order fold). A
      // temp view captures its plan at creation, so helper views must be
      // RE-CREATED after every state rebinding — that is what keeps a
      // delta binding of `orders` visible through an `edges` helper
      // instead of freezing the batch-0 state.
      val helperRels: Map[String, Set[String]] =
        helpersBefore.foldLeft(Map.empty[String, Set[String]]) { (acc, h) =>
          val direct = Tables.names.filter(t => countRefs(h.body, t) > 0).toSet
          val viaEarlier = acc.collect {
            case (hn, rels) if countRefs(h.body, hn) > 0 => rels
          }.flatten.toSet
          acc + (h.name -> (direct ++ viaEarlier))
        }
      /** Base relations the text reads, directly or through a
        * pre-fixpoint helper — the delta-binding and seed-skipping
        * decisions must see THROUGH helpers. */
      def textReads(text: String): Set[String] =
        Tables.names.filter(t => countRefs(text, t) > 0).toSet ++
          helperRels.collect {
            case (hn, rels) if countRefs(text, hn) > 0 => rels
          }.flatten
      // bind each relation to a specific state for the next SQL evals,
      // then re-create the pre-fixpoint helper views over that state
      // (definition order — later helpers may read earlier ones).
      // `materialize` checkpoints term-read helpers once per call: the
      // state is loop-invariant WITHIN a batch's fixpoint loop, so the
      // loop reads checkpointed rows instead of recomputing the helper's
      // join every round (same reasoning as [[bindHelper]] in [[run]]).
      def bind(state: Map[String, DataFrame],
               materialize: Boolean = false): Unit = {
        state.foreach { case (t, df) => df.createOrReplaceTempView(t) }
        helpersBefore.foreach(h => bindHelper(s, ledger, h,
          materialize = materialize && countRefs(recText, h.name) > 0))
      }
      def delFilter(t: String, throughK: Int): Option[Column] =
        (0 to throughK).flatMap(j => deletesAt.get(j).flatMap(_.get(t)))
          .reduceOption(_ || _)
      /** Rows of `t` present with inserts through `insK` and deletes
        * through `delK` applied. */
      def stateOf(t: String, insK: Int, delK: Int): DataFrame = {
        val afterIns =
          if (!batches.exists(_.contains(t))) base(t)
          else batches.take(insK + 1).flatMap(_.get(t)).reduceOption(_ || _) match {
            case Some(f) => base(t).filter(f)
            case None => base(t).limit(0)
          }
        delFilter(t, delK).map(f => afterIns.filter(!f)).getOrElse(afterIns)
      }
      def stateMap(insK: Int, delK: Int): Map[String, DataFrame] =
        tables.map(t => t -> stateOf(t, insK, delK)).toMap

      var anchorCols: Seq[String] = Nil
      val (renamed, aligned) = shaperFor(rec, anchorCols)
      val shape: DataFrame => DataFrame = df => aligned(renamed(df))
      // base relations the term/anchor read THROUGH helpers too — a term
      // reading `edges` (a helper over orders join lineitem) reads orders
      val recReads = textReads(recText)
      val anchorReads = textReads(anchorText)

      // batch 0: the ordinary fixpoint over the initial base state
      // (deletes at batch 0 simply never appear in the state) — or, on
      // RESUME, the imported closure becomes the single accumulator leg
      // (anchor runs for its SCHEMA only; .columns analyzes, no job)
      initialClosure match {
        case Some(c0raw) =>
          bind(stateMap(startBatch - 1, startBatch - 1))
          anchorCols = renamed(s.sql(anchorText)).columns.toSeq
          // re-home the imported closure into THIS child session: the
          // loop binds frontier temp views via the frame's OWN session,
          // and a caller-session frame would bind into the wrong catalog
          val c0 = s.createDataFrame(c0raw.rdd, c0raw.schema)
          // reset-style import: the closure is NOT a delta — crediting
          // it to deltaRows would swamp the "checkpoint I/O linear in
          // delta" diagnostic on every resumed run
          fp.reset(shape(c0))
        case None =>
          bind(stateMap(0, 0), materialize = true)
          val a = renamed(s.sql(anchorText)).distinct()
          anchorCols = a.columns.toSeq
          fp.push(a).foreach(f => fp.loop(s, rec.name, recText, shape, f, maxIters))
      }

      /** Evaluate the recursive term with r bound to the closure and the
        * base relations bound per `state`. */
      def evalTerm(state: Map[String, DataFrame], r: DataFrame): DataFrame = {
        bind(state)
        // every call site binds the ACCUMULATOR as r — its checkpointed
        // legs carry exact stats, so the term's joins plan from real sizes
        r.createOrReplaceTempView(rec.name)
        shape(s.sql(recText))
      }
      // the empty closure is re-analyzed against the CURRENT bindings:
      // a frame kept from batch 0 could read a helper copy that a later
      // batch's re-materialization has freed
      def closure: DataFrame =
        if (fp.hasAcc) fp.acc else renamed(s.sql(anchorText)).limit(0)

      (math.max(1, startBatch) until batches.size).foreach { k =>
        // ---- phase A: deletes (applied before this batch's inserts) --
        val delSpec = deletesAt.getOrElse(k, Map.empty)
        if (delSpec.nonEmpty && fp.hasAcc) {
          val preDel = stateMap(k - 1, k - 1)
          val postDel = stateMap(k - 1, k)
          // deleted rows per relation: present before, matched now
          def deletedRows(t: String): DataFrame =
            stateOf(t, k - 1, k - 1).filter(delSpec(t))
          // over-delete seed: derivations that USED a deleted row — the
          // per-relation delta binding, deleted rows as the delta,
          // everything else at the PRE-delete state, r at the closure
          val seedParts =
            delSpec.keys.toSeq.filter(recReads).map { t =>
              evalTerm(preDel + (t -> deletedRows(t)), closure)
            } ++
            delSpec.keys.toSeq.filter(anchorReads).map { t =>
              bind(preDel + (t -> deletedRows(t)))
              renamed(s.sql(anchorText))
            }
          if (seedParts.nonEmpty) {
            // propagate marks over the POST-delete base: rows derivable
            // from marked rows through surviving edges join the set
            // (every step intersects the old closure — marks can only
            // name rows that exist). The mark set runs on its OWN
            // Fixpoint: each round checkpoints only its delta
            // (O(|new marks|)), the accumulator stays a lazy union
            // compacted every compactEvery legs — same delta-only
            // discipline as the main fixpoint; a deep delete cascade
            // pays O(|marks|) checkpoint I/O, not O(rounds·|marks|).
            val marks = new Fixpoint(unionAll = false, ledger)
            var frontierOpt =
              marks.push(seedParts.reduce(_ unionAll _).distinct())
            // the seeds' delta-bound plans are captured above (s.sql
            // resolves at call time), so the loop can bind the
            // post-delete state ONCE, materialized — term-read helpers
            // checkpoint here instead of recomputing per round
            bind(postDel, materialize = frontierOpt.isDefined)
            var rounds = 0
            while (frontierOpt.isDefined) {
              if (rounds >= maxIters)
                fail(s"over-delete propagation still growing after $maxIters " +
                  "rounds — raise maxIters")
              frontierOpt.get.createOrReplaceTempView(rec.name)
              // distinct() BEFORE the intersect for the same map-side
              // combine reason as dedupNew: intersect dedups too, but
              // only after shuffling the raw step into its join
              val step = shape(s.sql(recText)).distinct()
              frontierOpt = marks.push(marks.dedupNew(step.intersect(fp.acc)))
              // count productive mark rounds on the marks Fixpoint itself
              // (push() alone never bumps rounds — only loop() does), so
              // absorb() folds the DRed rounds into the run's Stats as
              // the scaladoc promises
              if (frontierOpt.isDefined) marks.rounds += 1
              rounds += 1
            }
            // an empty seed marks nothing: the closure is untouched, so
            // skip the reset (it would re-checkpoint the whole
            // accumulator) and the re-derive (it would add nothing)
            if (marks.hasAcc) {
              // survivors replace the accumulator; then RE-DERIVE: one
              // support probe over the survivors + the anchor re-seeds
              // every marked row that still has a derivation, and the
              // ordinary loop does the rest
              val survivors = fp.acc.except(marks.acc)
              fp.absorb(marks)
              fp.reset(survivors)
              bind(postDel)
              val reSeed = fp.dedupNew(
                evalTerm(postDel, fp.acc).unionAll {
                  bind(postDel)
                  renamed(s.sql(anchorText))
                })
              // materialize term-read helpers only when the loop will
              // actually run — an empty re-seed (nothing to re-derive)
              // must not pay a helper checkpoint job
              fp.push(reSeed).foreach { f =>
                bind(postDel, materialize = true)
                fp.loop(s, rec.name, recText, shape, f, maxIters)
              }
            }
          }
        }
        // ---- phase B: inserts ---------------------------------------
        val cum = stateMap(k, k)
        val changed = changing.filter(t => batches(k).contains(t))
        // passes for relations the term never reads would re-derive
        // exactly acc (their delta binding is invisible to the plan) —
        // skip the jobs, the except() would discard the rows anyway
        val readByTerm = changed.filter(recReads)
        def insertedRows(t: String): DataFrame = {
          val ins = base(t).filter(batches(k)(t))
          delFilter(t, k).map(f => ins.filter(!f)).getOrElse(ins)
        }
        val recursiveParts: Seq[DataFrame] =
          if (deltaLinear)
            // one pass per changed relation, that relation at its DELTA:
            // every derivation using ≥1 new tuple of it appears here
            // (other relations at FULL new state)
            readByTerm.map(t => evalTerm(cum + (t -> insertedRows(t)), closure))
          else if (readByTerm.nonEmpty)
            Seq(evalTerm(cum, closure)) // full-width delta round — always sound
          else Nil
        // anchor deltas: only when the anchor actually reads a changed
        // relation (otherwise it re-derives the same seeds, which the
        // except() would discard anyway — skip the job)
        val anchorParts: Seq[DataFrame] =
          if (changed.exists(anchorReads)) {
            bind(cum)
            Seq(renamed(s.sql(anchorText)))
          } else Nil
        val parts = recursiveParts ++ anchorParts
        if (parts.nonEmpty) {
          val seed = fp.dedupNew(parts.reduce(_ unionAll _))
          // the continuing loop evaluates over the full new state;
          // term-read helpers materialize only when the seed is
          // non-empty — a quiet batch pays no helper checkpoint job
          fp.push(seed).foreach { f =>
            bind(cum, materialize = true)
            fp.loop(s, rec.name, recText, shape, f, maxIters)
          }
        }
      }
      () => {
        bind(stateMap(batches.size - 1, batches.size - 1))
        val result =
          if (!fp.hasAcc) renamed(s.sql(anchorText)).limit(0)
          else fp.acc
        result.createOrReplaceTempView(rec.name)
        // post-fixpoint helpers (they read r) bind last, for the outer query
        helpersAfter.foreach(bindHelper(s, ledger, _, materialize = false))
        s.sql(outerText)
      }
    }
    (df, fp.stats)
  }
}
