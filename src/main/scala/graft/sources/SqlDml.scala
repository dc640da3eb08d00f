package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.logical._
import graft.SqlText
import graft.streaming.SqlCompiler.fragment

/** The remaining SQL DML statements — UPDATE, DELETE, INSERT INTO —
  * compiled from text onto the snapshot log, completing the surface
  * [[MergeIntoSql]] opened. Each statement lowers to the cheapest
  * commit the log offers:
  *
  *  - `UPDATE t SET c = e, ... [WHERE p]` → one predicate-pushed scan
  *    selects the hit rows, the assignments evaluate as codegen'd
  *    Columns over them, and the resulting U change set lands through
  *    [[SnapshotLog.commitMergeChecked]] (copy-on-write of the touched
  *    buckets only, CHECK constraints enforced).
  *  - `DELETE FROM t WHERE p` → the hit KEYS feed
  *    [[SnapshotLog.commitDeleteVector]]: a merge-on-read tombstone
  *    commit costing O(|deleted keys|) — no bucket is rewritten, the
  *    100 TB-friendly delete (the scan that finds the keys is still
  *    predicate-pushed and column-pruned to the key).
  *  - `INSERT INTO t [(cols)] <query>` → the query body runs as
  *    ordinary Spark SQL against caller-bound views; rows land as an
  *    I change set. On a keyed table a FULL-column-list INSERT of an
  *    existing key is an upsert ([[graft.operators.MergeOps.mergeUpsert]]:
  *    matched I resolves as update) — documented, matching the log's
  *    MERGE semantics rather than heap-table duplicate rows. A
  *    PARTIAL column list that touches an existing key fails loudly:
  *    the upsert would NULL the unlisted columns of the existing row.
  *
  * A statement whose predicate matches no row is a committed no-op:
  * it returns false and mints NO version (an empty change set has
  * nothing to rewrite; readers keep the prior version).
  */
object SqlDml {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Epoch millis of a timestamp row value — Spark surfaces
    * TimestampType as java.sql.Timestamp by default and as
    * java.time.Instant under spark.sql.datetime.java8API.enabled;
    * both are valid session configs, so both must fold instead of
    * dying in a raw ClassCastException. */
  private def timestampMillis(v: Any, what: => String): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case i: java.time.Instant => i.toEpochMilli
    case other => fail(s"$what evaluated to unexpected type " +
      s"${other.getClass.getName} — expected a timestamp")
  }

  private def tableAlias(p: LogicalPlan): String = p match {
    case SubqueryAlias(id, _: UnresolvedRelation) => id.name
    case u: UnresolvedRelation => u.multipartIdentifier.last
    case f: Filter => tableAlias(f.child) // DELETE parses WHERE into the child
    case other => fail(s"statement target must be a named relation, got ${other.nodeName}")
  }

  /** UPDATE: returns true when a version was committed, false for the
    * zero-row no-op. */
  def updateSql(spark: SparkSession, root: String, v: Int, key: String,
                payloadCols: Seq[String], sqlText: String): Boolean =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case UpdateTable(tbl, assignments, cond) =>
        val alias = tableAlias(tbl)
        val cur = SnapshotLog.readVersion(spark, root, v - 1).as(alias)
        val asg: Map[String, Column] = assignments.map { a =>
          val c = a.key match {
            case u: UnresolvedAttribute if u.nameParts.size == 1 => u.nameParts.head
            case u: UnresolvedAttribute if u.nameParts.size == 2 &&
              u.nameParts.head.toLowerCase == alias.toLowerCase => u.nameParts.last
            case other => fail(s"assignment target must be a column of $alias, got $other")
          }
          if (!payloadCols.contains(c))
            fail(if (c == key) s"UPDATE may not assign the bucket key '$key' " +
              "(a key change is a DELETE + INSERT)"
            else s"assignment to unknown column '$c'")
          c -> expr(fragment(a.value))
        }.toMap
        val hit = cond.map(c => cur.filter(expr(fragment(c)))).getOrElse(cur)
        // persist: the commit path re-reads the change set several
        // times (constraint scan, touched-bucket collect, digest,
        // write) — one predicate-pushed scan, not five
        val changes = hit.select(col(key) +: lit("U").as("op") +:
          payloadCols.map(c => asg.getOrElse(c, col(c))
            .cast(cur.schema(c).dataType).as(c)): _*).persist()
        try {
          if (changes.isEmpty) false
          else { SnapshotLog.commitMergeChecked(spark, root, v, key, payloadCols, changes); true }
        } finally { changes.unpersist(); () }
      case other => fail(s"expected an UPDATE statement, got ${other.nodeName}")
    }

  // the T-SQL join-update shape (Spark's parser does not accept an
  // UPDATE with a FROM clause, so the clause structure is split here —
  // on COMMENT-MASKED text — and every expression inside it still
  // parses/validates through Spark)
  private val updateFromPattern = java.util.regex.Pattern.compile(
    "(?is)^\\s*UPDATE\\s+([\\w.`]+)(?:\\s+(?:AS\\s+)?(\\w+))?\\s+SET\\s+(.*?)" +
      "\\s+FROM\\s+([\\w.`]+)(?:\\s+(?:AS\\s+)?(\\w+))?\\s+WHERE\\s+(.*)$")

  /** `UPDATE t [alias] SET col = expr, ... FROM s [alias] WHERE cond` —
    * the JOIN-UPDATE every CDC pipeline writes: assignments may
    * reference the joined source relation (`s.delta`), and the target
    * rows to update are those with a WHERE-matching source row.
    *
    * Execution shape, sized for 100 TB: the WHERE must equate the
    * table's bucket key with a source column (`t.<key> = s.<col>`, as
    * a top-level conjunct); the hit scan is then the BUCKET-PRUNED
    * [[SnapshotLog.preImages]] of the source's keys INNER-joined to
    * the source under the full WHERE — cost ∝ source size, never a
    * target scan, and the commit rewrites only the touched buckets.
    * Two source rows updating one target row is nondeterministic in
    * engines that allow it; here it fails loudly (same cardinality
    * rule as MERGE). Returns false for the zero-row no-op.
    *
    * `source` binds the statement's FROM relation (same contract as
    * [[MergeIntoSql.commitMergeSql]]'s named-relation source). */
  def updateFromSql(spark: SparkSession, root: String, v: Int, key: String,
                    payloadCols: Seq[String], sqlText: String,
                    source: DataFrame): Boolean = {
    val m = updateFromPattern.matcher(SqlText.maskComments(sqlText))
    if (!m.matches())
      fail("expected UPDATE <t> [alias] SET <assignments> FROM <s> [alias] " +
        "WHERE <cond> — for a sourceless update use updateSql")
    def grp(i: Int, fallback: Int): String =
      Option(m.group(i)).getOrElse(m.group(fallback).split("\\.").last)
    val (tAlias, sAlias) = (grp(2, 1), grp(5, 4))
    if (tAlias.toLowerCase == sAlias.toLowerCase)
      fail(s"target and source aliases collide ('$tAlias') — alias one of them")
    val (setText, whereText) = (m.group(3), m.group(6))

    // assignments: split on top-level commas, LHS is a (possibly
    // alias-qualified) column name, RHS is any Spark expression over
    // the two aliases
    val asg: Map[String, String] = SqlText.splitAt(setText, SqlBaseLexer.COMMA).map { a =>
      val am = java.util.regex.Pattern
        .compile("(?s)^\\s*(?:(\\w+)\\s*\\.\\s*)?(\\w+)\\s*=(?!=)(.*)$").matcher(a)
      if (!am.matches()) fail(s"cannot parse assignment '$a'")
      val q = Option(am.group(1))
      if (q.exists(_.toLowerCase != tAlias.toLowerCase))
        fail(s"assignment target must be a column of $tAlias, got '${a.trim}'")
      val c = am.group(2)
      if (!payloadCols.contains(c))
        fail(if (c == key) s"UPDATE may not assign the bucket key '$key' " +
          "(a key change is a DELETE + INSERT)"
        else s"assignment to unknown column '$c'")
      c -> am.group(3)
    }.toMap

    // the WHERE must carry the bucket-key equality as a top-level
    // conjunct — that is what makes the hit scan bucket-prunable
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd}
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val whereExpr = spark.sessionState.sqlParser.parseExpression(whereText)
    val sKeyCol = conjuncts(whereExpr).collectFirst {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          l: UnresolvedAttribute, r: UnresolvedAttribute)
        if l.nameParts.size == 2 && r.nameParts.size == 2 &&
          (Map(l.nameParts.head.toLowerCase -> l.nameParts.last,
               r.nameParts.head.toLowerCase -> r.nameParts.last) match {
            case sides => sides.get(tAlias.toLowerCase).exists(_.toLowerCase == key.toLowerCase) &&
              sides.contains(sAlias.toLowerCase)
          }) =>
        Map(l.nameParts.head.toLowerCase -> l.nameParts.last,
            r.nameParts.head.toLowerCase -> r.nameParts.last)(sAlias.toLowerCase)
    }.getOrElse(fail(s"UPDATE ... FROM requires a top-level WHERE conjunct " +
      s"$tAlias.$key = $sAlias.<col> — the key equality is what keeps the " +
      "hit scan bucket-pruned instead of a full target scan"))

    // bucket-pruned pre-images of the source's keys, inner-joined to
    // the source under the FULL where — cost ∝ source, never the table
    val pre = SnapshotLog.preImages(spark, root, v - 1, key,
      source.select(col(sKeyCol).as(key)))
    val hit = pre.as(tAlias).join(source.as(sAlias), expr(whereText), "inner")
    val dtypes = payloadCols.map(c => c -> pre.schema(c).dataType).toMap
    val changes = hit.select(col(s"$tAlias.$key").as(key) +:
      lit("U").as("op") +:
      payloadCols.map(c => asg.get(c).map(expr).getOrElse(col(s"$tAlias.$c"))
        .cast(dtypes(c)).as(c)): _*).persist()
    try {
      val dup = changes.groupBy(col(key)).count()
        .filter(col("count") > 1).limit(1).collect() // bounded: ≤ 1 row
      if (dup.nonEmpty)
        fail(s"UPDATE ... FROM cardinality violation: target key " +
          s"${dup.head.get(0)} has ${dup.head.getLong(1)} matching source rows " +
          "— an engine that allowed this would pick one arbitrarily")
      if (changes.isEmpty) false
      else { SnapshotLog.commitMergeChecked(spark, root, v, key, payloadCols, changes); true }
    } finally { changes.unpersist(); () }
  }

  /** DELETE: lowers to a deletion-vector commit — O(|deleted keys|),
    * no bucket rewrite. Returns false for the zero-row no-op. */
  def deleteSql(spark: SparkSession, root: String, v: Int, key: String,
                sqlText: String): Boolean =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case DeleteFromTable(tbl, cond) =>
        val alias = tableAlias(tbl)
        val cur = SnapshotLog.readVersion(spark, root, v - 1).as(alias)
        // an omitted WHERE parses as a TRUE literal (delete everything)
        val hit = cond match {
          case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.value == true => cur
          case c => cur.filter(expr(fragment(c)))
        }
        // column-pruned scan (key + predicate cols only), persisted so
        // the emptiness probe and the tombstone write share one pass
        val keys = hit.select(col(key)).persist()
        try {
          if (keys.isEmpty) false
          else { SnapshotLog.commitDeleteVector(spark, root, v, key, keys); true }
        } finally { keys.unpersist(); () }
      case other => fail(s"expected a DELETE statement, got ${other.nodeName}")
    }

  /** INSERT INTO [(cols)] <query>: the query body executes as plain
    * Spark SQL (bind its relations as temp views first); output maps
    * POSITIONALLY to the specified column list (or to key+payload when
    * none is given), unlisted columns backfill typed NULL. Returns
    * false when the query yields no rows. */
  def insertSql(spark: SparkSession, root: String, v: Int, key: String,
                payloadCols: Seq[String], sqlText: String): Boolean =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case ins: InsertIntoStatement =>
        if (ins.overwrite) fail("INSERT OVERWRITE is not compiled — " +
          "a keyed snapshot table replaces rows by MERGE, not by partition overwrite")
        // the optional group is a COLUMN LIST only — a '(' opening a
        // parenthesized query body (SELECT/WITH/VALUES) must not match
        val m = java.util.regex.Pattern
          .compile("(?is)^\\s*INSERT\\s+INTO\\s+[\\w.`]+\\s*" +
            "(\\((?!\\s*(?:SELECT|WITH|VALUES)\\b)[^)]*\\))?\\s*")
          .matcher(sqlText)
        if (!m.find()) fail("cannot locate the query body of the INSERT statement")
        val body = sqlText.substring(m.end())
        val rows = spark.sql(body)
        val outCols = key +: payloadCols
        val listed = if (ins.userSpecifiedCols.nonEmpty) ins.userSpecifiedCols else outCols
        listed.foreach(c => if (!outCols.contains(c)) fail(s"unknown INSERT column '$c'"))
        if (!listed.contains(key)) fail(s"INSERT must assign the key column '$key'")
        if (rows.columns.length != listed.size)
          fail(s"INSERT column list has ${listed.size} columns, query yields " +
            s"${rows.columns.length}")
        val byPos = rows.toDF(listed: _*)
        val target = SnapshotLog.readVersion(spark, root, v - 1)
        // the KEY is cast to the target type too: an INSERT body
        // yielding e.g. INT against a BIGINT table would otherwise
        // drift the stored key type across version directories via
        // union coercion (changing bucket digests and read schemas)
        val changes = byPos.select(
          col(key).cast(target.schema(key).dataType).as(key) +:
          lit("I").as("op") +:
          payloadCols.map(c =>
            (if (listed.contains(c)) col(c) else lit(null))
              .cast(target.schema(c).dataType).as(c)): _*).persist()
        try {
          // a NULL key has no bucket: it would die deep in the commit
          // path with an opaque NPE (or masquerade as a cardinality
          // violation when two rows carry it) — fail it by name here
          if (changes.filter(col(key).isNull).limit(1).collect().nonEmpty)
            fail(s"INSERT key '$key' is NULL on at least one query row — " +
              "a NULL key has no bucket; filter or repair those rows upstream")
          // a duplicate key WITHIN one INSERT would land two rows for
          // the same key and corrupt the keyed-table invariant every
          // read path relies on — same rule MERGE enforces
          val dup = changes.groupBy(col(key)).count()
            .filter(col("count") > 1).limit(1).collect() // bounded: ≤ 1 row
          if (dup.nonEmpty)
            fail(s"INSERT cardinality violation: key ${dup.head.get(0)} " +
              s"occurs ${dup.head.getLong(1)} times in the query output")
          // a PARTIAL column list may not touch an EXISTING key: the
          // upsert would overwrite the unlisted columns of the
          // existing row to NULL — silent data loss vs standard SQL.
          // The probe is a bucket-pruned pre-image read, limit 1.
          if (listed.toSet != outCols.toSet) {
            val existing = SnapshotLog.preImages(spark, root, v - 1, key,
              changes.select(col(key))).select(col(key)).limit(1).collect()
            if (existing.nonEmpty)
              fail(s"INSERT with a partial column list may not touch existing " +
                s"key ${existing.head.get(0)} — the unlisted columns of that row " +
                "would be overwritten to NULL; list every column (full-list " +
                "INSERT upserts), or use UPDATE / MERGE")
          }
          if (changes.isEmpty) false
          else { SnapshotLog.commitMergeChecked(spark, root, v, key, payloadCols, changes); true }
        } finally { changes.unpersist(); () }
      case other => fail(s"expected an INSERT INTO statement, got ${other.nodeName}")
    }

  // lookbehind rejects qualified names (db.tgt): the replacement would
  // otherwise splice a view name into the MIDDLE of the identifier.
  // The operand alternatives: quoted literal, a PARENTHESIZED
  // expression (one nesting level — deeper goes unmatched and trips
  // the arity guard loudly), or a bare token.
  private val ttPattern = java.util.regex.Pattern.compile(
    "(?is)(?<![\\w.])(\\w+)\\s+(?:FOR\\s+)?(VERSION|SYSTEM_VERSION|TIMESTAMP|SYSTEM_TIME)\\s+AS\\s+OF\\s+" +
      "('[^']*'|\\((?:[^()']|'[^']*'|\\([^()]*\\))*\\)|[\\w.:\\-]+)")

  /** Highest committed version at `root` — resolves the RELATIVE
    * `VERSION AS OF '-k'` operand (k versions before the latest). */
  private def latestVersion(root: String): Int = {
    val vs = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName)
      .collect { case n if n.startsWith("_manifest_v") && n.endsWith(".json") =>
        n.stripPrefix("_manifest_v").stripSuffix(".json").toInt }
    if (vs.isEmpty) fail(s"no committed versions under $root")
    vs.max
  }

  /** Per-call uniqueness for the rebound view names: two concurrent
    * timeTravelSql calls on one session must never read each other's
    * bindings (a fixed name raced createOrReplaceTempView vs sql and
    * returned WRONG DATA, not an error). */
  private val ttCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Time-travel SQL over snapshot tables: every `name VERSION AS OF
    * n` / `name TIMESTAMP AS OF ts` table factor whose `name` is bound
    * in `tables` resolves to [[SnapshotLog.readVersion]] /
    * [[SnapshotLog.readAsOf]] of that root, and the remaining query
    * runs as ordinary Spark SQL — so cross-version queries (the
    * time-travel DIFF join, per-version aggregates) are one statement.
    * The statement is parsed first (syntax + time-travel arity are
    * validated against Spark's own [[RelationTimeTravel]] nodes); the
    * factors are then rebound as UNIQUE-per-call `__graft_tt_*` temp
    * views in the CALLER's session — so a statement can freely mix
    * time-travel factors with the caller's own temp views (dimension
    * tables, other snapshots), and concurrent calls on one session
    * cannot read each other's bindings. The views are dropped again
    * once the statement is analyzed (analysis is eager and resolves
    * them into the returned plan). Comment text is masked before
    * matching, so an `AS OF` phrase inside `--` or a block comment
    * neither binds nor trips the arity guard. */
  def timeTravelSql(spark: SparkSession, sqlText: String,
                    tables: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
    val s = spark
    val masked = SqlText.maskComments(sqlText)
    // matches inside string literals don't name relations
    val literals = SqlText.tokens(sqlText).filter(t =>
      t.kind == SqlBaseLexer.STRING_LITERAL || t.kind == SqlBaseLexer.DOUBLEQUOTED_STRING)
    def inLiteral(at: Int): Boolean = literals.exists(t => t.start <= at && at < t.end)
    // Spark's own grammar accepts EXPRESSIONS but not SUBQUERIES as
    // AS OF operands — substitute a placeholder version for the
    // validation parse only (the real subquery folds at bind time
    // below, and the arity guard still counts the factor)
    val validationText = {
      val mm = ttPattern.matcher(masked)
      val sb = new StringBuilder
      var l = 0
      while (mm.find()) {
        val kindU = mm.group(2).toUpperCase
        val v = mm.group(3)
        if ((kindU == "VERSION" || kindU == "SYSTEM_VERSION") &&
            v.startsWith("(") &&
            v.substring(1).trim.toUpperCase.startsWith("SELECT") &&
            !inLiteral(mm.start())) {
          sb.append(sqlText.substring(l, mm.start(3))).append("0")
          l = mm.end(3)
        }
      }
      sb.append(sqlText.substring(l)).toString
    }
    val parsed = spark.sessionState.sqlParser.parsePlan(validationText)
    val ttCount = parsed.collect { case tt: RelationTimeTravel => tt }.size
    val token = ttCounter.incrementAndGet()
    val created = scala.collection.mutable.ArrayBuffer[String]()
    val m = ttPattern.matcher(masked)
    val out = new StringBuilder
    var last = 0
    var n = 0
    while (m.find()) {
      if (inLiteral(m.start())) {
        out.append(sqlText.substring(last, m.end())); last = m.end()
      } else {
      val (name, kind, value) = (m.group(1), m.group(2).toUpperCase, m.group(3))
      val root = tables.getOrElse(name,
        fail(s"time-travel relation '$name' is not bound — tables binds " +
          tables.keys.mkString("{", ", ", "}")))
      val bare = value.stripPrefix("'").stripSuffix("'")
      val df =
        if (kind == "VERSION" || kind == "SYSTEM_VERSION") {
          val vNum =
            if (bare.matches("\\d+")) bare.toInt
            else if (bare.matches("-\\d+")) {
              // RELATIVE version: '-k' = k versions before the LATEST
              // committed one ('-1' is the previous version) — resolved
              // at bind time from the manifest listing, so the
              // statement stays valid as the table advances
              val latest = latestVersion(root)
              val v = latest + bare.toInt
              if (v < 0)
                fail(s"VERSION AS OF $value: resolves to $v but versions " +
                  s"at $root reach only back to 0 (latest is $latest)")
              v
            } else if (bare.startsWith("(")) {
              // SCALAR SUBQUERY over this table's DESCRIBE HISTORY,
              // folded at BIND time ("the version before the last
              // compaction"): inside the operand, `__history` names
              // the traveled table's history — (version, n_dirs,
              // n_rewritten, n_tombstone_dirs), manifest-only, no data
              // scan. The view binds under a per-call name (two
              // concurrent calls must never read each other's
              // bindings) and the subquery evaluates standalone, so a
              // CORRELATED form (referencing the outer statement's
              // columns) cannot analyze — the loud fence, not a drift
              // hazard. Folding at bind time is the whole contract:
              // the version is pinned before the statement runs.
              val inner = bare.substring(1, bare.length - 1).trim
              if (!inner.toUpperCase.startsWith("SELECT"))
                fail(s"VERSION AS OF expression $value: expected an integer " +
                  "version, a relative '-k', or a scalar (SELECT ... FROM " +
                  "__history) subquery")
              // the operand evaluates in a BARE child session whose
              // only binding is __history — "the subquery may read
              // only __history" is enforced by the catalog, not just
              // documented: a reference to any caller temp view/table
              // (or a correlated outer column) fails to analyze here.
              // Per-call session → concurrent calls can't cross-read.
              val sub = s.newSession()
              locally {
                import sub.implicits._
                SnapshotLog.history(root)
                  .toDF("version", "n_dirs", "n_rewritten", "n_tombstone_dirs")
                  .createOrReplaceTempView("__history")
              }
              val vRaw =
                try sub.sql(s"SELECT CAST(($inner) AS INT)").head().get(0)
                catch {
                  case e: org.apache.spark.sql.AnalysisException =>
                    fail(s"VERSION AS OF (subquery): cannot analyze $value " +
                      "— the subquery may read only __history (correlated " +
                      s"forms stay fenced): ${e.getMessage.split("\n").head}")
                }
              if (vRaw == null)
                fail(s"VERSION AS OF (subquery): $value evaluates to NULL " +
                  "(no history row matched)")
              val v = vRaw.asInstanceOf[Int]
              val latest = latestVersion(root)
              if (v < 0 || v > latest)
                fail(s"VERSION AS OF (subquery): $value resolves to $v but " +
                  s"versions at $root run 0..$latest")
              v
            } else fail(s"VERSION AS OF expects an integer version (or a " +
              s"relative '-k', or a scalar (SELECT ...) over __history), got $value")
          SnapshotLog.readVersion(s, root, vNum)
        } else {
          val tsMs =
            if (bare.matches("\\d+")) bare.toLong
            else if (bare.startsWith("(")) {
              // PARENTHESIZED timestamp EXPRESSION, folded at bind
              // time: parsed for validation (no subqueries — their
              // result could change between bind and run; no column
              // references — there is no row scope here), then
              // evaluated once via a one-row projection
              val inner = bare.substring(1, bare.length - 1)
              val parsed =
                try s.sessionState.sqlParser.parseExpression(inner)
                catch {
                  case e: org.apache.spark.sql.catalyst.parser.ParseException =>
                    fail(s"TIMESTAMP AS OF: cannot parse expression $value " +
                      s"(${e.getMessage.split("\n").head})")
                }
              if (parsed.exists(_.isInstanceOf[
                  org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
                fail("TIMESTAMP AS OF (subquery) is not compiled — a " +
                  "subquery's value can drift between bind and run; fold " +
                  "the timestamp to a literal first")
              if (parsed.exists(_.isInstanceOf[UnresolvedAttribute]))
                fail(s"TIMESTAMP AS OF expression $value references a " +
                  "column — the operand must fold to a constant at bind time")
              val ts =
                try s.range(1).select(expr(inner).cast("timestamp")).head().get(0)
                catch {
                  case e @ (_: org.apache.spark.SparkException |
                            _: java.time.DateTimeException |
                            _: org.apache.spark.sql.AnalysisException) =>
                    fail(s"TIMESTAMP AS OF: cannot evaluate $value as a " +
                      s"timestamp (${e.getMessage.split("\n").head})")
                }
              if (ts == null)
                fail(s"TIMESTAMP AS OF: expression $value evaluates to NULL")
              timestampMillis(ts, s"TIMESTAMP AS OF expression $value")
            }
            else {
              // ANSI sessions throw on a bad literal, non-ANSI yield
              // NULL — both become the same diagnosable error
              val ts = try s.range(1).select(to_timestamp(lit(bare))).head().get(0)
              catch {
                case e @ (_: org.apache.spark.SparkException |
                          _: java.time.DateTimeException) =>
                  fail(s"TIMESTAMP AS OF: cannot parse $value as a timestamp " +
                    s"(${e.getMessage.split("\n").head})")
              }
              if (ts == null)
                fail(s"TIMESTAMP AS OF: cannot parse $value as a timestamp")
              timestampMillis(ts, s"TIMESTAMP AS OF literal $value")
            }
          SnapshotLog.readAsOf(s, root, tsMs)
        }
      val view = s"__graft_tt_${token}_$n"
      df.createOrReplaceTempView(view)
      created += view
      out.append(sqlText.substring(last, m.start())).append(view)
      last = m.end()
      n += 1
      }
    }
    out.append(sqlText.substring(last))
    try {
      if (n != ttCount)
        fail(s"matched $n time-travel factors in text but the parser sees " +
          s"$ttCount — unsupported AS OF operand shape (use an integer " +
          "version or a literal timestamp)")
      if (n == 0) fail("no VERSION/TIMESTAMP AS OF factor found — use plain " +
        "Spark SQL for current-version queries")
      s.sql(out.toString) // Dataset analysis is eager: views resolve here
    } finally { created.foreach(v => s.catalog.dropTempView(v)); () }
  }
}
