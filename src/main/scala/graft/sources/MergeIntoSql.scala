package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.logical._
import graft.SqlText
import graft.streaming.SqlCompiler.fragment

/** SQL-text `MERGE INTO` compiled onto the snapshot log's commit
  * protocol. Spark's parser already produces [[MergeIntoTable]]; this
  * lowers it to a keyed U/D/I change set and lands it through
  * [[SnapshotLog.commitMergeChecked]] — so SQL MERGE gets the same
  * copy-on-write bucket rewrite, CHECK-constraint enforcement and
  * atomic CAS publish as the programmatic API, with NO new write path.
  *
  * Supported clauses (first-match-wins within each group, per SQL):
  *   WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ... | DELETE
  *   WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (exprs) | INSERT *
  *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
  *
  * ON accepts a CONJUNCTION of alias-qualified predicates as long as
  * one of them is an EQUALITY on the table's bucket key; the rest —
  * equalities or arbitrary predicates (`AND s.ts > t.ts`, the CDC
  * freshness guard) — are residual match guards (a key-matched row
  * failing them, or evaluating UNKNOWN, is NOT MATCHED per SQL — and
  * an INSERT that would then collide with the existing key is fenced
  * by name). USING accepts a named relation (bound by the
  * caller-passed DataFrame) or a `(subquery)` source, which runs as
  * ordinary Spark SQL and IS the change set.
  *
  * Execution shape, sized for 100 TB:
  *  - MATCHED / NOT MATCHED resolution never scans the target: the
  *    matched side is a [[SnapshotLog.preImages]] read — bucket-pruned
  *    to the source's touched buckets — LEFT-joined under the source
  *    (cost ∝ change set, the lakehouse point-merge contract).
  *  - NOT MATCHED BY SOURCE inherently quantifies over the WHOLE
  *    target (every engine pays this — Delta does the same); the full
  *    scan happens only when such a clause is present.
  *  - Conditions and assignment values evaluate as codegen'd Column
  *    expressions over two STRUCT columns named by the statement's own
  *    aliases, so `t.price + s.delta` resolves by Spark's ordinary
  *    field access — no interpreter, no UDF.
  *  - The SQL:2003 cardinality rule (one target row may match at most
  *    one source row) is enforced with one aggregate over the source.
  *
  * Reference: beyond-reference surface — the reference's sink is
  * append-only (SURVEY §2 K1); MERGE INTO is public SQL:2003
  * vocabulary and the standard CDC-compaction step.
  */
object MergeIntoSql {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def nameAlias(p: LogicalPlan, what: String): (String, String) = p match {
    case SubqueryAlias(id, u: UnresolvedRelation) => (u.multipartIdentifier.last, id.name)
    case u: UnresolvedRelation =>
      (u.multipartIdentifier.last, u.multipartIdentifier.last)
    case other => fail(s"MERGE $what must be a named relation, got ${other.nodeName}")
  }

  /** Extract the text of a `USING (...)` source subquery — the
    * balanced-paren group after the top-level USING keyword, found
    * over Spark's tokens (Catalyst's parsed plan does not carry the
    * body text in a runnable form, but the statement text does), so a
    * comment or literal containing `USING (` cannot bind the match. */
  private def usingSubqueryText(sqlText: String): Option[String] = {
    val toks = SqlText.tokens(sqlText)
    val using = toks.indexWhere(t => t.depth == 0 && t.kind == SqlBaseLexer.USING)
    val open = using + 1
    if (using < 0 || !toks.lift(open).exists(_.kind == SqlBaseLexer.LEFT_PAREN)) None
    else SqlText.closeParen(toks, open)
      .map(close => sqlText.substring(toks(open).end, toks(close).start))
  }

  /** Resolve the statement's USING relation to (alias, DataFrame):
    * a NAMED relation binds the caller-provided `source`; a
    * parenthesized SUBQUERY runs as ordinary Spark SQL (bind any
    * relations it references as temp views first) and IS the source —
    * passing a DataFrame alongside a subquery is ambiguous and fails. */
  private def sourceBinding(p: LogicalPlan, sqlText: String, spark: SparkSession,
                            provided: Option[DataFrame]): (String, DataFrame) = p match {
    case SubqueryAlias(id, _: UnresolvedRelation) =>
      (id.name, provided.getOrElse(fail(
        "MERGE USING a named relation: pass the source DataFrame argument")))
    case u: UnresolvedRelation =>
      (u.multipartIdentifier.last, provided.getOrElse(fail(
        "MERGE USING a named relation: pass the source DataFrame argument")))
    case SubqueryAlias(id, _) =>
      if (provided.nonEmpty)
        fail("MERGE USING (subquery): the subquery IS the source — don't " +
          "also pass a source DataFrame")
      val body = usingSubqueryText(sqlText).getOrElse(fail(
        "cannot locate the USING (...) subquery text"))
      (id.name, spark.sql(body))
    case other => fail(s"MERGE source must be a named relation or an aliased " +
      s"(subquery), got ${other.nodeName}")
  }

  /** Every column reference in a clause expression must be a
    * two-part alias-qualified name — unqualified columns would
    * resolve against the join frame's internals, not the statement's
    * scoping. Per SQL:2003 scoping, NOT MATCHED clauses may reference
    * only the source (there is no target row — a target ref would
    * silently read NULL) and NOT MATCHED BY SOURCE clauses only the
    * target (there is no source row). */
  private def validateRefs(e: Expression, tAlias: String, sAlias: String,
                           allowTarget: Boolean, allowSource: Boolean): Unit =
    e.foreach {
      case a: UnresolvedAttribute =>
        if (a.nameParts.size != 2)
          fail(s"qualify '${a.nameParts.mkString(".")}' with the target or " +
            s"source alias ($tAlias / $sAlias) — unqualified references are " +
            "not compiled")
        val q = a.nameParts.head.toLowerCase
        val ok = (allowTarget && q == tAlias.toLowerCase) ||
          (allowSource && q == sAlias.toLowerCase)
        if (!ok)
          fail(s"'${a.nameParts.mkString(".")}': qualifier '$q' is not in scope" +
            (if (!allowSource && q == sAlias.toLowerCase)
              " — NOT MATCHED BY SOURCE clauses have no source row"
            else if (!allowTarget && q == tAlias.toLowerCase)
              " — NOT MATCHED clauses have no target row (SQL scopes them to the source)"
            else ""))
      case _ => ()
    }

  private def assignmentTarget(a: Assignment, tAlias: String): String =
    a.key match {
      case u: UnresolvedAttribute if u.nameParts.size == 1 => u.nameParts.head
      case u: UnresolvedAttribute if u.nameParts.size == 2 &&
        u.nameParts.head.toLowerCase == tAlias.toLowerCase => u.nameParts.last
      case other => fail(s"assignment target must be a target column, got $other")
    }

  /** One resolved WHEN clause: its guard (matched flag × AND
    * condition), opcode, and per-output-column value. */
  private case class Clause(guard: Column, op: String, values: Map[String, Column])

  /** Lower `sqlText` to a U/D/I change set over `key` + `payloadCols`.
    * `target` supplies the schema and the NOT-MATCHED-BY-SOURCE scan;
    * `lookup` resolves a key DataFrame to the (bucket-pruned)
    * pre-images used for MATCHED resolution; `source` binds the
    * statement's USING relation. */
  def changeSet(spark: SparkSession, sqlText: String, key: String,
                payloadCols: Seq[String], target: DataFrame,
                lookup: DataFrame => DataFrame, source: DataFrame): DataFrame =
    changeSet(spark, sqlText, key, payloadCols, target, lookup, Option(source))

  /** As [[changeSet]]; `providedSource = None` requires the statement's
    * USING clause to be a subquery (which then IS the source). */
  def changeSet(spark: SparkSession, sqlText: String, key: String,
                payloadCols: Seq[String], target: DataFrame,
                lookup: DataFrame => DataFrame,
                providedSource: Option[DataFrame]): DataFrame = {
    val (tAlias, sAlias, keySource, residualPairs, residualExprs,
         matched, notMatched, nmbs, source) =
      spark.sessionState.sqlParser.parsePlan(sqlText) match {
        case MergeIntoTable(t, s, cond, ma, nma, nmbsa, _) =>
          val (_, ta) = nameAlias(t, "target")
          val (sa, srcDf) = sourceBinding(s, sqlText, spark, providedSource)
          if (ta.toLowerCase == sa.toLowerCase)
            fail(s"target and source aliases collide ('$ta') — alias one of them")
          // ON: a CONJUNCTION of predicates, one of which must be an
          // alias-qualified equality on the table's bucket key (the
          // snapshot log merges by it); every other conjunct —
          // equality or not (the CDC freshness guard `s.ts > t.ts` is
          // the canonical range residual) — becomes a RESIDUAL match
          // guard. A key-matched row whose residuals fail OR evaluate
          // UNKNOWN is NOT MATCHED per SQL's three-valued ON (and
          // fenced if an INSERT would then collide with the existing
          // key).
          def conjs(e: Expression): Seq[Expression] = e match {
            case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
              conjs(l) ++ conjs(r)
            case other => Seq(other)
          }
          val (eqConjs, predConjs) = conjs(cond).partition {
            case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
              l.nameParts.size == 2 && r.nameParts.size == 2
            case _ => false
          }
          val pairs = eqConjs.map {
            case e @ EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
              val sides = Map(l.nameParts.head.toLowerCase -> l.nameParts.last,
                r.nameParts.head.toLowerCase -> r.nameParts.last)
              val tc = sides.getOrElse(ta.toLowerCase,
                fail(s"ON must equate a $ta column with a $sa column, got " +
                  s"'${fragment(e)}'"))
              val sc = sides.getOrElse(sa.toLowerCase,
                fail(s"ON must equate a $ta column with a $sa column, got " +
                  s"'${fragment(e)}'"))
              (tc, sc)
            case other => fail(s"unreachable: $other")
          }.distinct
          predConjs.foreach(validateRefs(_, ta, sa,
            allowTarget = true, allowSource = true))
          val (keyPairs, residuals) = pairs.partition(_._1.toLowerCase == key.toLowerCase)
          if (keyPairs.size != 1)
            fail(s"ON must equate the table's bucket key '$key' exactly once " +
              s"(the snapshot log merges by it), got ${keyPairs.size} key equalities")
          (ta, sa, keyPairs.head._2, residuals, predConjs, ma, nma, nmbsa, srcDf)
        case other => fail(s"expected a MERGE INTO statement, got ${other.nodeName}")
      }

    val outCols = key +: payloadCols
    val dtypes = outCols.map(c => c -> target.schema(c).dataType).toMap
    def typedNull(c: String) = lit(null).cast(dtypes(c))

    // a NULL source key has no bucket: one such row would die deep in
    // the commit path with an opaque NPE, two would be misreported as
    // a cardinality violation — fail it by name first
    if (source.filter(col(keySource).isNull).limit(1).collect().nonEmpty)
      fail(s"MERGE source key '$keySource' is NULL on at least one row — " +
        "a NULL key matches nothing and has no bucket; filter or repair " +
        "those rows upstream")

    // SQL:2003 cardinality rule. Without ON residuals a duplicate
    // source KEY is already a violation (both rows would act on the
    // same target row / insert the same key) — one aggregate over the
    // change-set-sized source catches it before any join. WITH
    // residuals, duplicate keys are SQL-legal when the residuals
    // disambiguate (the stated use case for composite ON) — the check
    // moves to the RESOLVED change set below: any key receiving more
    // than one action is the violation.
    val hasResiduals = residualPairs.nonEmpty || residualExprs.nonEmpty
    if (!hasResiduals) {
      val dup = source.groupBy(col(keySource)).count()
        .filter(col("count") > 1).limit(1).collect() // bounded: ≤ 1 row
      if (dup.nonEmpty)
        fail(s"MERGE cardinality violation: source key ${dup.head.get(0)} " +
          s"occurs ${dup.head.getLong(1)} times")
    }

    def guard(base: Column, cond: Option[Expression],
              allowTarget: Boolean, allowSource: Boolean) = {
      cond.foreach(validateRefs(_, tAlias, sAlias, allowTarget, allowSource))
      cond.map(c => base && expr(fragment(c))).getOrElse(base)
    }
    def asgMap(asg: Seq[Assignment], allowTarget: Boolean,
               allowSource: Boolean): Map[String, Column] =
      asg.map { a =>
        val c = assignmentTarget(a, tAlias)
        if (!outCols.contains(c)) fail(s"assignment to unknown column '$c'")
        validateRefs(a.value, tAlias, sAlias, allowTarget, allowSource)
        c -> expr(fragment(a.value))
      }.toMap
    def tCol(c: String) = col(s"$tAlias.$c")
    lazy val starValues = outCols.map { c =>
      if (!source.columns.contains(c))
        fail(s"INSERT * / UPDATE SET *: source has no column '$c'")
      c -> col(s"$sAlias.$c")
    }.toMap

    def updateValues(asg: Map[String, Column]): Map[String, Column] = {
      if (asg.contains(key))
        fail(s"UPDATE SET may not assign the bucket key '$key' " +
          "(a key change is a DELETE + INSERT)")
      outCols.map(c => c -> asg.getOrElse(c, tCol(c))).toMap
    }
    def insertValues(asg: Map[String, Column]): Map[String, Column] = {
      if (!asg.contains(key))
        fail(s"INSERT must assign the key column '$key'")
      outCols.map(c => c -> asg.getOrElse(c, typedNull(c))).toMap
    }

    // the ON residuals as raw (three-valued) predicates — reused by
    // the NOT-MATCHED-BY-SOURCE anti condition, where a NULL already
    // routes to "no match" (kept by the anti) without any coalesce
    val residualRaw: Seq[Column] =
      residualPairs.map { case (tc, sc) =>
        col(s"$tAlias.$tc") === col(s"$sAlias.$sc") } ++
      residualExprs.map(e => expr(fragment(e)))
    // a key-matched row must also satisfy the ON residuals to be
    // MATCHED; per SQL an UNKNOWN ON means the pair is NOT matched, so
    // a NULL residual (nullable target/source column) routes to NOT
    // MATCHED exactly like FALSE — coalesce makes ¬matched TRUE there,
    // letting NOT MATCHED INSERT fire (and reach the key-collision
    // fence) instead of silently dropping the row
    val matchedFlag = residualRaw
      .map(c => coalesce(c, lit(false)))
      .foldLeft(col(s"__graft_tkey").isNotNull)(_ && _)
    val sourceClauses: Seq[Clause] =
      matched.map {
        case UpdateAction(c, asg, _) =>
          Clause(guard(matchedFlag, c, allowTarget = true, allowSource = true), "U",
            updateValues(asgMap(asg, allowTarget = true, allowSource = true)))
        case UpdateStarAction(c) =>
          Clause(guard(matchedFlag, c, allowTarget = true, allowSource = true), "U",
            updateValues(starValues - key))
        case DeleteAction(c) =>
          Clause(guard(matchedFlag, c, allowTarget = true, allowSource = true), "D",
            outCols.map(c0 => c0 -> tCol(c0)).toMap)
        case other => fail(s"unsupported WHEN MATCHED action ${other.getClass.getSimpleName}")
      } ++ notMatched.map {
        case InsertAction(c, asg) =>
          Clause(guard(!matchedFlag, c, allowTarget = false, allowSource = true), "I",
            insertValues(asgMap(asg, allowTarget = false, allowSource = true)))
        case InsertStarAction(c) =>
          Clause(guard(!matchedFlag, c, allowTarget = false, allowSource = true), "I",
            insertValues(starValues))
        case other => fail(s"unsupported WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
      }

    def resolve(frame: DataFrame, clauses: Seq[Clause],
                carry: Seq[String] = Nil): DataFrame = {
      val opCol = clauses.tail
        .foldLeft(when(clauses.head.guard, clauses.head.op)) {
          (acc, cl) => acc.when(cl.guard, cl.op)
        }.otherwise(lit(null))
      val valueCols = outCols.map { c =>
        clauses.tail.foldLeft(when(clauses.head.guard, clauses.head.values(c))) {
          (acc, cl) => acc.when(cl.guard, cl.values(c))
        }.otherwise(typedNull(c)).cast(dtypes(c)).as(c)
      }
      frame.select((opCol.as("op") +: valueCols) ++ carry.map(col): _*)
        .filter(col("op").isNotNull)
        .select((key +: "op" +: (payloadCols ++ carry)).map(col): _*)
    }

    // MATCHED / NOT MATCHED: source LEFT JOIN the bucket-pruned
    // pre-images of its own keys — the target is never scanned here.
    val srcPart =
      if (sourceClauses.isEmpty) None
      else {
        val pre = lookup(source.select(col(keySource).as(key)))
        val joined = source.as("__graft_s")
          .join(pre.as("__graft_t"),
            col(s"__graft_s.$keySource") === col(s"__graft_t.$key"), "left_outer")
          .select(
            col(s"__graft_t.$key").as("__graft_tkey"),
            struct(outCols.map(c => col(s"__graft_t.$c").as(c)): _*).as(tAlias),
            struct(source.columns.map(c => col(s"__graft_s.$c").as(c)): _*).as(sAlias))
        // with ON residuals, a key-present-but-residual-failed row is
        // NOT MATCHED per SQL — but an INSERT firing for it would
        // collide with the key the table already holds (the keyed-table
        // invariant every read path relies on). Fence it by name.
        // with residuals the change set is otherwise executed up to
        // three times (collision fence, cardinality probe, the commit
        // itself) — persist the RETURNED frame so the later consumers
        // share one pass (commitMergeSql unpersists after the commit;
        // direct changeSet callers may unpersist() when done). Only
        // when it IS the returned frame: with an NMBS part the caller
        // gets a union and unpersist() could not reach this child.
        val persistHere = hasResiduals && nmbs.isEmpty
        val resolved =
          if (hasResiduals && notMatched.nonEmpty) {
            val r = resolve(joined.withColumn("__graft_keypresent",
                col("__graft_tkey").isNotNull),
              sourceClauses, Seq("__graft_keypresent"))
            val bad = r.filter(col("op") === "I" && col("__graft_keypresent"))
              .select(col(key)).limit(1).collect() // bounded: ≤ 1 row
            if (bad.nonEmpty)
              fail(s"MERGE INSERT collides with existing key ${bad.head.get(0)}: " +
                "the ON residuals did not match that target row, so " +
                "SQL routes the source row to NOT MATCHED — but inserting would " +
                "duplicate a key the table already holds; refine the ON " +
                "condition or guard the INSERT clause")
            val out = r.drop("__graft_keypresent")
            if (persistHere) out.persist() else out
          } else if (persistHere) resolve(joined, sourceClauses).persist()
          else resolve(joined, sourceClauses)
        // the residual-aware cardinality rule: duplicate source keys
        // were admitted above because residuals may disambiguate — any
        // key that still receives MORE THAN ONE action violates
        // SQL:2003 (two U's hit one target row twice; two I's would
        // double-insert the key). One aggregate over the resolved
        // change set, which is already change-set-sized.
        if (hasResiduals) {
          val dup =
            try resolved.groupBy(col(key)).count()
              .filter(col("count") > 1).limit(1).collect() // bounded: ≤ 1 row
            catch { case e: Throwable =>
              // the probe itself failing must not leak the cache
              if (persistHere) resolved.unpersist()
              throw e
            }
          if (dup.nonEmpty) {
            // failing the cardinality rule aborts the MERGE before the
            // caller's finally-unpersist exists — release the cache here
            if (persistHere) resolved.unpersist()
            fail(s"MERGE cardinality violation: key ${dup.head.get(0)} " +
              s"receives ${dup.head.getLong(1)} actions — with ON residuals, " +
              "source rows sharing a key are legal only while at most one " +
              "of them fires a clause")
          }
        }
        Some(resolved)
      }

    // NOT MATCHED BY SOURCE quantifies over the whole target — the one
    // clause family that inherently costs a target scan (anti-joined
    // against the source's keys, so the join itself stays key-local).
    // 100 TB refinement: when EVERY clause carries a condition, a
    // target row matching none of them takes no action — so the scan
    // pre-filters on their disjunction (clause conditions are
    // target-only by SQL scoping, already validated), and Catalyst
    // pushes the predicate to the files. An unconditional clause
    // keeps the full scan (it acts on every unmatched row).
    val nmbsPart =
      if (nmbs.isEmpty) None
      else {
        val clauses = nmbs.map {
          case UpdateAction(c, asg, _) =>
            Clause(guard(lit(true), c, allowTarget = true, allowSource = false), "U",
              updateValues(asgMap(asg, allowTarget = true, allowSource = false)))
          case DeleteAction(c) =>
            Clause(guard(lit(true), c, allowTarget = true, allowSource = false), "D",
              outCols.map(c0 => c0 -> tCol(c0)).toMap)
          case other =>
            fail(s"unsupported WHEN NOT MATCHED BY SOURCE action ${other.getClass.getSimpleName}")
        }
        // ON residuals ride on the anti condition: a target row whose
        // key appears in the source but whose residuals fail — or
        // evaluate UNKNOWN (join-condition NULL is already "no match",
        // SQL's exact three-valued answer) — IS "not matched by
        // source"; a key-only anti would wrongly keep it. The source
        // side is column-pruned to the key plus the residuals' own
        // source references before the shuffle.
        val sCols = (keySource +: (residualPairs.map(_._2) ++
          residualExprs.flatMap(_.collect {
            case a: UnresolvedAttribute if a.nameParts.size == 2 &&
              a.nameParts.head.toLowerCase == sAlias.toLowerCase => a.nameParts.last
          }))).distinct.map(c =>
            source.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
        val antiCond = residualRaw.foldLeft(
          col(s"$tAlias.$key") === col(s"$sAlias.$keySource"))(_ && _)
        val nmbsConds: Seq[Option[Expression]] = nmbs.map {
          case UpdateAction(c, _, _) => c
          case DeleteAction(c) => c
          case other =>
            fail(s"unsupported WHEN NOT MATCHED BY SOURCE action ${other.getClass.getSimpleName}")
        }
        val scanSide =
          if (nmbsConds.forall(_.isDefined))
            target.as(tAlias).filter(
              nmbsConds.flatten.map(c => expr(fragment(c))).reduce(_ || _))
          else target.as(tAlias)
        val anti = scanSide
          .join(source.select(sCols.map(col): _*).as(sAlias), antiCond, "left_anti")
          .select(struct(outCols.map(c => col(c).as(c)): _*).as(tAlias))
        Some(resolve(anti, clauses))
      }

    (srcPart, nmbsPart) match {
      case (Some(a), Some(b)) => a.unionAll(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => fail("MERGE statement has no WHEN clause")
    }
  }

  /** Run a MERGE statement against the snapshot table at `root`,
    * landing the lowered change set as version `v` through the
    * CHECK-constraint-enforcing commit. */
  def commitMergeSql(spark: SparkSession, root: String, v: Int, key: String,
                     payloadCols: Seq[String], sqlText: String,
                     source: DataFrame): Unit =
    commitMergeSql(spark, root, v, key, payloadCols, sqlText, Option(source))

  /** As above with no source DataFrame — the statement's USING clause
    * must then be a `(subquery)`, which runs as ordinary Spark SQL
    * against caller-bound views and IS the change-set source. */
  def commitMergeSql(spark: SparkSession, root: String, v: Int, key: String,
                     payloadCols: Seq[String], sqlText: String): Unit =
    commitMergeSql(spark, root, v, key, payloadCols, sqlText, None)

  private def commitMergeSql(spark: SparkSession, root: String, v: Int, key: String,
                             payloadCols: Seq[String], sqlText: String,
                             source: Option[DataFrame]): Unit = {
    val target = SnapshotLog.readVersion(spark, root, v - 1)
    val cs = changeSet(spark, sqlText, key, payloadCols, target,
      keys => SnapshotLog.preImages(spark, root, v - 1, key, keys), source)
    // release the residual-path persist once the commit lands (a
    // no-op when changeSet didn't persist)
    try SnapshotLog.commitMergeChecked(spark, root, v, key, payloadCols, cs)
    finally { cs.unpersist(); () }
  }
}
