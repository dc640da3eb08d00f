package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, BaseGroupingSets, BinaryComparison, CaseWhen, Cast, Coalesce, EqualNullSafe, EqualTo, Expression, If, In, IsNotNull, IsNull, Like, Literal, NamedExpression, Not, NullsFirst, Or, WindowExpression}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import graft.{SqlText, Tables}
import graft.streaming.DeltaEngine.{Evt, NodeSpec, FS, KV}

/** SQL-text front end for the incremental engine — the capability the
  * reference advertises ("flink handling continuous sql query",
  * reference README.md:1) but wires by hand in DataFlow.java. Here the
  * text IS the interface: the query is parsed with Spark's own
  * Catalyst parser (`sessionState.sqlParser.parsePlan`), its conjuncts
  * are classified into FK join conditions (validated against the
  * FK graph [[TreeCompiler]] derives from the parquet schemas) and
  * per-relation local predicates, and the result is compiled onto
  * [[DeltaEngine.Stage]]s via [[TreeCompiler.stagesFor]] — chains,
  * branching in-trees (a fact referencing several dimensions, e.g.
  * lineitem ⋈ orders ⋈ part), AND shared dimensions (a dimension
  * referenced by several branches, e.g. nation by customer and
  * supplier — the many-to-many case, glued with incremental pair
  * stages): every connected acyclic FK join graph compiles.
  *
  * Supported shape — exactly the reference's query class, i.e. an
  * acyclic FK join tree under a grouped aggregate:
  *
  * {{{
  * SELECT <group cols...>, SUM(<expr>) AS a [, COUNT(*) AS n ...]
  * FROM r1, r2, ... | r1 JOIN r2 ON ... [JOIN ...]
  * WHERE <fk equi-join conjuncts AND single-relation predicates>
  * GROUP BY <group cols>
  * }}}
  *
  * A SELECT [DISTINCT] with NO aggregate compiles too, as an
  * incrementally maintained JOIN VIEW: the selected tuple becomes the
  * net-counted key over the leaf deltas — bag multiplicity restored by
  * net-count explode (or set semantics under DISTINCT).
  *
  * HAVING / ORDER BY / LIMIT compile as presentation over the
  * maintained view; `agg(x) FILTER (WHERE p)` compiles as a CASE
  * rewrite of the argument (exact under retraction — see `aggOf`);
  * top-level `[NOT] EXISTS (SELECT ... WHERE sub = outer AND ...)`
  * and `col IN (SELECT col FROM ...)` WHERE conjuncts compile as
  * incremental SEMI/ANTI GATES — a set-semantics key node over the
  * subquery relation feeding an extra liveness hop (inverted for NOT
  * EXISTS) in front of the correlated relation, one co-partitioned
  * shuffle per gate, never a per-row subquery re-execution;
  * anything else (non-FK join conditions, cyclic join graphs,
  * unaliased aggregates, non-retractable folds, NOT IN's
  * NULL-divergent semantics) fails loudly at
  * compile time — never a silent wrong plan.
  *
  * Scale design: local predicates are NOT interpreted per event — each
  * one is re-emitted as a `Column` filter on its relation's changelog
  * source (via the expression's original SQL fragment, recovered from
  * Catalyst `Origin`), so it reaches the parquet scan as a pushed
  * filter; raw event streams get the same predicate as a codegen'd
  * row filter ([[Compiled.eventFilter]]). The changelog source is the
  * only place a local predicate applies — the engine takes its
  * changelogs as filtered. Only the columns the query references
  * travel in the canonical rows.
  */
object SqlCompiler {

  /** One aggregate output: `kind` is "sum", "count", or "avg"; `frag`
    * is the original SQL text of the argument ("" for count). `q` is
    * the quantile as an exact rational (numerator, denominator) — set
    * only for kind "quantile" (median compiles to (1, 2)). */
  final case class AggSpec(kind: String, frag: String, alias: String,
                           frag2: String = "", q: (Long, Long) = (1L, 2L))

  /** One GROUP BY output: `frag` is the (dequalified) SQL text of the
    * grouping expression — a bare column name for plain-column groups,
    * a scalar expression (e.g. `year(o_orderdate)`) otherwise — and
    * `alias` the output column name it carries (the SELECT alias when
    * the query selects it, a synthetic internal name when it doesn't). */
  final case class GroupSpec(frag: String, alias: String)

  /** One scalar-subquery WHERE gate `<outerFrag> <op> (SELECT
    * <subAggFrag> FROM <subRel> WHERE <subWheres...>)` (operands
    * swapped when `subOnLeft`): resolved per refresh by evaluating
    * the aggregate over the subquery relation's SURVIVORS and
    * splicing the literal into `outerRel`'s scan filter. */
  final case class ScalarGateSpec(outerRel: String, outerFrag: String,
                                  op: String, subOnLeft: Boolean,
                                  subRel: String, subAggFrag: String,
                                  subWheres: Seq[String])

  /** One LEFT-JOIN boundary's ANTI plan: the join tree truncated just
    * above the optional relation, with the optional side compiled as a
    * set-semantics key node + an `antiParent` liveness hop on its
    * parent — the NOT EXISTS wiring reused for outer-join
    * NULL-extension. Its leaf deltas are the NULL-extended rows (the
    * optional subtree's columns are simply absent from the canon, so
    * the shared fold reads them as NULL); when a first matching child
    * appears, the key node's 0→1 flip retracts the buffered parent
    * rows — the outer row's NULL-extension retracts exactly as the
    * inner plan asserts the joined row. `rekey`: each listed
    * relation's own changelog re-keys (engine-side, from the canon)
    * to the correlation column its stage shuffles on; empty when
    * every stage consumes its changelog under the main tree's keying
    * (pair-star both-absent plans re-key both boundary parents). */
  final case class OuterPlan(
      stages: Seq[DeltaEngine.Stage],
      path: Seq[String],
      rekey: Seq[(String, String)])

  /** Top-level `UNION ALL` of independently compilable queries: each
    * branch is its own maintained tree/aggregate (they may join
    * entirely different relation trees); the union is presentation —
    * maintained bag-union of the branch views. Branch texts are
    * recovered from Spark's tokens, split at top-level
    * `UNION ALL` tokens (the compiler's text-is-the-interface
    * convention: Origin offsets on a Union node do not delimit its
    * branches), then each compiles through the ordinary [[compile]].
    * Output schemas must agree by NAME AND ORDER — SQL's positional
    * union is not papered over silently. `UNION` (set semantics) is
    * the cross-branch netting composition — [[compileUnionDistinct]]. */
  def compileUnionAll(spark: SparkSession, dir: String, sqlText: String): Seq[Compiled] = {
    val parts = splitTopLevelUnionAll(sqlText)
    if (parts.size < 2)
      fail("compileUnionAll expects a top-level UNION ALL of two or more queries")
    val cs = parts.map(p => compile(spark, dir, p))
    val cols = cs.head.outputCols
    cs.zipWithIndex.drop(1).foreach { case (c, i) =>
      if (c.outputCols != cols)
        fail(s"UNION ALL branch ${i + 1} output ${c.outputCols.mkString("(", ",", ")")} " +
          s"does not match branch 1's ${cols.mkString("(", ",", ")")} — align the " +
          "SELECT lists (names and order) explicitly")
    }
    cs
  }

  /** Top-level `INTERSECT` / `EXCEPT` (SET semantics) of two
    * independently compilable NON-AGGREGATE view branches, maintained
    * incrementally — the cross-branch netting the UNION ALL path
    * deliberately does not do, built from the engine's OWN vocabulary:
    *
    *  1. each branch's maintained-view leaf deltas project to their
    *     OUTPUT ROW canon (alias→value pairs, typed values rendered
    *     once — branch output types are required equal, so identical
    *     SQL tuples produce identical strings) keyed by the row's md5;
    *  2. the RIGHT branch dedups through a set-semantics root node
    *     (its 0↔1 flips are "this tuple exists on the right");
    *  3. the LEFT branch folds through a liveness hop gated on those
    *     flips — plain liveness for INTERSECT (kept while present on
    *     the right), `antiParent` for EXCEPT (kept while absent);
    *  4. presentation = rows whose net > 0, one row per tuple (set
    *     semantics), in the left branch's column order.
    *
    * Deletes on either branch's relations flow through its tree and
    * flip tuples in/out of the result incrementally; the same wiring
    * runs continuously ([[CompiledSetOp.runStream]], flatMap or TWS
    * drivers). `INTERSECT ALL` / `EXCEPT ALL` (bag multiplicities)
    * stay loudly uncompiled. */
  def compileSetOp(spark: SparkSession, dir: String, sqlText: String): CompiledSetOp = {
    val (lq, rq, except, all) = splitTopLevelSetOp(sqlText)
    if (all)
      fail("INTERSECT ALL / EXCEPT ALL (bag multiplicities) compile through " +
        "compileBagSetOp, not the set-semantics path")
    val l = compile(spark, dir, lq)
    val r = compile(spark, dir, rq)
    checkSetBranches(Seq(l, r), "INTERSECT/EXCEPT")
    CompiledSetOp(l, r, except)
  }

  /** Top-level `INTERSECT ALL` / `EXCEPT ALL` (BAG multiplicities) of
    * two non-aggregate view branches, maintained incrementally by
    * COUNTS-BASED NETTING: both branches' canonical output-row deltas
    * net per (side, tuple), and the result multiplicity is the
    * standard bag formula — min(nl, nr) for INTERSECT ALL,
    * max(nl − nr, 0) for EXCEPT ALL — evaluated at presentation and
    * exploded back to rows. Deletes on either side move the counts and
    * the multiplicities follow exactly. */
  def compileBagSetOp(spark: SparkSession, dir: String,
                      sqlText: String): CompiledBagSetOp = {
    val (lq, rq, except, all) = splitTopLevelSetOp(sqlText)
    if (!all)
      fail("compileBagSetOp expects INTERSECT ALL or EXCEPT ALL — the set " +
        "forms compile through compileSetOp")
    val l = compile(spark, dir, lq)
    val r = compile(spark, dir, rq)
    checkSetBranches(Seq(l, r), "INTERSECT ALL/EXCEPT ALL")
    CompiledBagSetOp(l, r, except)
  }

  /** Top-level bare `UNION` (SET semantics) of independently
    * compilable NON-AGGREGATE view branches, maintained incrementally:
    * every branch's leaf deltas project to the shared OUTPUT-ROW canon
    * (as the INTERSECT/EXCEPT compiler) and the UNION of those signed
    * delta streams folds through ONE set-semantics node — a tuple is
    * present while its net count across ALL branches is positive, so a
    * delete on one branch removes the tuple only when no other branch
    * still produces it. `UNION DISTINCT` spells the same thing. */
  def compileUnionDistinct(spark: SparkSession, dir: String,
                           sqlText: String): CompiledUnionDistinct = {
    val parts = splitTopLevelUnionDistinct(sqlText).flatMap(flattenUnionGroup)
    if (parts.size < 2)
      fail("compileUnionDistinct expects a top-level UNION of two or more queries")
    val cs = parts.map(p => compile(spark, dir, p))
    checkSetBranches(cs, "UNION")
    CompiledUnionDistinct(cs)
  }

  /** Flatten a PARENTHESIZED union group under a set-semantics UNION:
    * `(A UNION ALL B) UNION C` — and any deeper nesting of either
    * union kind — collapses exactly under the outer netting node,
    * because DISTINCT of any tree of ⊎/DISTINCT equals DISTINCT of
    * all its leaves. (The converse, a set-semantics group under
    * UNION ALL, does NOT collapse — compileUnionAll keeps its fence.) */
  private def flattenUnionGroup(p: String): Seq[String] =
    stripOuterParens(p) match {
      case Some(inner) =>
        val (ps, _) = splitTopLevelUnion(inner)
        if (ps.size <= 1) Seq(inner) else ps.flatMap(flattenUnionGroup)
      case None => Seq(p)
    }

  /** The text inside its single outer paren pair, when the text is
    * exactly `( ... )` with that pair matching; None otherwise. */
  private def stripOuterParens(p: String): Option[String] = {
    val toks = SqlText.tokens(p)
    if (toks.isEmpty || toks.head.kind != SqlBaseLexer.LEFT_PAREN) None
    else SqlText.closeParen(toks, 0).filter(_ == toks.length - 1)
      .map(close => p.substring(toks.head.end, toks(close).start))
  }

  /** The cross-branch alignment every set-semantics composition
    * needs: non-aggregate view branches whose outputs agree by name,
    * order AND type, each a plain source column (computed outputs
    * have no cross-branch canonical rendering). */
  private def checkSetBranches(cs: Seq[Compiled], op: String): Unit = {
    cs.foreach { c =>
      if (c.viewMode.isEmpty)
        fail(s"$op compiles over non-aggregate view branches " +
          "(SELECT [DISTINCT] of columns) — aggregate branches are not " +
          "maintained as row sets")
    }
    val head = cs.head
    cs.zipWithIndex.drop(1).foreach { case (c, i) =>
      if (c.outputCols != head.outputCols)
        fail(s"$op branch ${i + 1} outputs ${c.outputCols.mkString("(", ",", ")")} " +
          s"do not match ${head.outputCols.mkString("(", ",", ")")} — align the SELECT " +
          "lists (names and order) explicitly")
    }
    cs.foreach(c => c.outputSel.foreach { case (src, name) =>
      if (!c.colType.contains(src))
        fail(s"$op output '$name' must be a plain source column " +
          "(computed outputs have no cross-branch canonical rendering)")
      if (name.isEmpty || !name.head.isLower)
        fail(s"$op output '$name' must start with a lowercase letter " +
          "(the canonical row reserves the '__' prefix)")
    })
    cs.drop(1).foreach { c =>
      head.outputSel.zip(c.outputSel).foreach { case ((ls, ln), (rs, _)) =>
        if (head.colType(ls) != c.colType(rs))
          fail(s"column '$ln': branch types differ " +
            s"(${head.colType(ls).sql} vs ${c.colType(rs).sql}) — identical SQL tuples " +
            "would not render to identical canonical rows")
      }
    }
  }

  /** Find the single top-level INTERSECT/EXCEPT [ALL]; returns
    * (left, right, except, all) — [[compileSetOp]] takes the set
    * forms, [[compileBagSetOp]] the ALL forms. */
  private[graft] def splitTopLevelSetOp(sqlText: String): (String, String, Boolean, Boolean) = {
    val toks = SqlText.tokens(sqlText)
    val ops = toks.indices.filter { i =>
      toks(i).depth == 0 &&
        (toks(i).kind == SqlBaseLexer.INTERSECT || toks(i).kind == SqlBaseLexer.EXCEPT)
    }
    if (ops.size > 1)
      fail("more than one top-level INTERSECT/EXCEPT is not compiled — " +
        "parenthesize to fix the association explicitly")
    ops.headOption match {
      case Some(i) =>
        val all = toks.lift(i + 1).exists(_.kind == SqlBaseLexer.ALL)
        val end = toks(if (all) i + 1 else i).end
        val (lq, rq) = (sqlText.substring(0, toks(i).start).trim, sqlText.substring(end).trim)
        if (lq.isEmpty || rq.isEmpty) fail("INTERSECT/EXCEPT needs a query on each side")
        (lq, rq, toks(i).kind == SqlBaseLexer.EXCEPT, all)
      case None => fail("compileSetOp expects a top-level INTERSECT or EXCEPT")
    }
  }

  /** Branch leaf deltas → Evts keyed by (md5 of) the OUTPUT ROW:
    * the canonical string of sorted alias→value pairs (typed values
    * rendered to strings through the branch's column type, so equal
    * SQL tuples render identically; NULLs drop their pair — all
    * branches consistently). The hash rides IN the row under the
    * reserved `__k` name so the engine's column-keyed stages can
    * route on it. Shared by the INTERSECT/EXCEPT and set-UNION
    * compositions. */
  private def projectOutputRow(c: Compiled, leaf: Dataset): Dataset = {
    import org.apache.spark.sql.functions._
    val spark = leaf.sparkSession
    import spark.implicits._
    val pairs = c.outputSel.sortBy(_._2).map { case (src, name) =>
      concat(lit(name + KV),
        graft.functions.CanonGet.canon_get(col("row"), src)
          .cast(c.colType(src)).cast("string"))
    }
    val canonOut = concat_ws(FS.toString, pairs: _*)
    val keyed = md5(canonOut)
    leaf.toDF().select(col("seq"), lit(false).as("fromParent"), col("tag"),
      col("mult"), keyed.as("key"),
      concat(lit("__k" + KV), keyed, lit(FS.toString), canonOut).as("row"))
      .as[Evt]
  }

  /** Net > 0 tuples, one row each (set semantics), `c`'s column
    * order, re-typed through `c`'s column types. */
  private def presentOutputRows(c: Compiled, leaf: Dataset): DataFrame = {
    import org.apache.spark.sql.functions._
    val typedCols = c.outputSel.map { case (src, name) =>
      graft.functions.CanonGet.canon_get(col("row"), name)
        .cast(c.colType(src)).as(name)
    }
    leaf.toDF()
      .select((col("tag") * col("mult")).cast("long").as("__sign") +: typedCols: _*)
      .groupBy(c.outputSel.map(t => col(t._2)): _*)
      .agg(sum(col("__sign")).as("__net"))
      .filter(col("__net") > 0)
      .select(c.outputSel.map(t => col(t._2)): _*)
  }

  /** The compiled set operation — see [[compileSetOp]]. */
  final case class CompiledSetOp(left: Compiled, right: Compiled, except: Boolean) {

    private def projectOutput(c: Compiled, leaf: Dataset): Dataset =
      projectOutputRow(c, leaf)

    private def setStages: Seq[DeltaEngine.Stage] = Seq(
      DeltaEngine.Stage("__setop_rkeys",
        NodeSpec("__setop_r", "__k", "__k", isRoot = true, setSemantics = true),
        // the hop reads liveness only — ship keys, not tuples
        keyOnlyRows = true),
      DeltaEngine.Stage("__setop_hop",
        NodeSpec("__setop_l", "__k", "__k", antiParent = except),
        parentStage = Some("__setop_rkeys")))

    /** Net > 0 tuples, one row each (set semantics), left's column
      * order, re-typed through the left branch's column types. */
    def present(leaf: Dataset): DataFrame = presentOutputRows(left, leaf)

    def run(spark: SparkSession, dir: String,
            deletes: Map[String, Column] = Map.empty): DataFrame = {
      val l = projectOutput(left, left.leafDeltas(spark, dir, deletes))
      val r = projectOutput(right, right.leafDeltas(spark, dir, deletes))
      present(DeltaEngine.runTree(setStages,
        Map("__setop_l" -> l, "__setop_r" -> r)))
    }

    /** The continuous form: branch streams chain straight into the set
      * stages — one streaming query, state per node, flatMap or TWS
      * drivers. Consume with foreachBatch + [[present]]. */
    def runStream(leftLogs: Map[String, Dataset], rightLogs: Map[String, Dataset],
                  tws: Boolean = false): Dataset = {
      val l = projectOutput(left, left.runStream(leftLogs, tws = tws))
      val r = projectOutput(right, right.runStream(rightLogs, tws = tws))
      val logs = Map("__setop_l" -> l, "__setop_r" -> r)
      if (tws) DeltaEngine.runStreamTreeTws(setStages, logs)
      else DeltaEngine.runStreamTree(setStages, logs)
    }
  }

  /** AS-OF JOIN from SQL text — the dialect is DuckDB's spelling
    * (the inequality rides in ON):
    *
    * {{{
    * SELECT l.a, l.ts, r.v AS out [, ...]
    * FROM lrel [AS] l ASOF [LEFT] JOIN rrel [AS] r
    * ON l.k = r.k [AND ...] AND l.ts >= r.ts
    * }}}
    *
    * Snowflake's `MATCH_CONDITION (l.ts >= r.ts)` between the right
    * relation and ON is accepted as the same thing (ON then carries
    * only equalities). Exactly one inequality (`>=`, or `<=` written
    * right-to-left) is required — strict bounds would change the
    * operator's semantics and fail loudly. Inputs are named
    * DataFrames (the caller's prepared branches — CTE bodies stay
    * ordinary DataFrame code); select items must be qualified
    * columns. Lowering is [[graft.operators.AsOfJoin.asOfLeft]]'s
    * union-window plan: one shuffle on the key, one sort, never the
    * O(|L|·|R|) per-key range explode. */
  def compileAsOf(spark: SparkSession, sqlText: String): CompiledAsOf = {
    val m = java.util.regex.Pattern.compile(
      """(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)(?:\s+AS)?(?:\s+(\w+))?\s+ASOF\s+(LEFT\s+)?JOIN\s+(\w+)(?:\s+AS)?(?:\s+(\w+))?(?:\s+MATCH_CONDITION\s*\(([^)]*)\))?\s+ON\s+(.+)$""")
      .matcher(sqlText.trim)
    if (!m.matches())
      fail("compileAsOf expects SELECT <qualified cols> FROM <rel> [AS a] " +
        "ASOF [LEFT] JOIN <rel> [AS b] [MATCH_CONDITION (a.ts >= b.ts)] ON <equalities [AND inequality]>")
    val (selList, leftRel, rightRel) = (m.group(1), m.group(2), m.group(5))
    val leftAlias = Option(m.group(3)).getOrElse(leftRel)
    val rightAlias = Option(m.group(6)).getOrElse(rightRel)
    val leftOuter = m.group(4) != null
    val matchCond = Option(m.group(7))
    val onFrag = m.group(8)

    def attr2(e: Expression, what: String): (String, String) = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 2 =>
        (a.nameParts.head, a.nameParts(1))
      case other => fail(s"compileAsOf: $what must be a qualified column, got ${other.sql}")
    }
    def side(q: String): Boolean = q match { // true = right
      case `leftAlias` => false
      case `rightAlias` => true
      case other => fail(s"compileAsOf: unknown qualifier '$other' " +
        s"(aliases are '$leftAlias' and '$rightAlias')")
    }
    var keyPairs = Seq.empty[(String, String)]
    var tsPair: Option[(String, String)] = None // (left ts, right ts)
    var tolPair: Option[((String, String), Long)] = None // ((l ts, r ts), micros)
    def addIneq(l: Expression, r: Expression): Unit = {
      val (lq, lc) = attr2(l, "the as-of bound's left side")
      val (rq, rc) = attr2(r, "the as-of bound's right side")
      if (side(lq) || !side(rq))
        fail("compileAsOf: the as-of inequality must bound left.ts against right.ts")
      if (tsPair.isDefined) fail("compileAsOf: more than one inequality in ON")
      tsPair = Some((lc, rc))
    }
    def classify(e: Expression): Unit = e match {
      case EqualTo(a, b) =>
        val (aq, ac) = attr2(a, "an ON equality side")
        val (bq, bc) = attr2(b, "an ON equality side")
        (side(aq), side(bq)) match {
          case (false, true) => keyPairs :+= (ac, bc)
          case (true, false) => keyPairs :+= (bc, ac)
          case _ => fail("compileAsOf: ON equality must relate the two sides")
        }
      case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(a, b) => addIneq(a, b)
      // TOLERANCE (kdb aj / pandas merge_asof): a staleness bound
      // `left.ts - right.ts <= INTERVAL ...` — the match older than the
      // bound reverts to the NULL extension
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(lhs, rhs: Literal)
          if lhs.nodeName == "Subtract" =>
        val attrs = lhs.collect { case a: UnresolvedAttribute => a }
        if (attrs.size != 2)
          fail(s"compileAsOf: tolerance bound must be 'l.ts - r.ts <= INTERVAL ...', " +
            s"got ${lhs.sql} <= ${rhs.sql}")
        val (aq, ac) = attr2(attrs(0), "the tolerance bound's minuend")
        val (bq, bc) = attr2(attrs(1), "the tolerance bound's subtrahend")
        if (side(aq) || !side(bq))
          fail("compileAsOf: the tolerance bound must be left.ts - right.ts")
        if (tolPair.isDefined) fail("compileAsOf: more than one tolerance bound")
        val micros = rhs match {
          case Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) => v
          case Literal(ci: org.apache.spark.unsafe.types.CalendarInterval, _)
              if ci.months == 0 =>
            ci.days * 86400000000L + ci.microseconds
          case other => fail("compileAsOf: tolerance bound must be a day-time " +
            s"interval literal, got ${other.sql}")
        }
        tolPair = Some(((ac, bc), micros))
      case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(a, b) => addIneq(b, a)
      case other => fail("compileAsOf: ON accepts key equalities, one " +
        s"'left.ts >= right.ts' bound and an optional tolerance; got ${other.sql}")
    }
    splitConjuncts(spark.sessionState.sqlParser.parseExpression(onFrag)).foreach(classify)
    matchCond.foreach { frag =>
      if (tsPair.isDefined)
        fail("compileAsOf: the as-of bound appears in BOTH MATCH_CONDITION and ON")
      spark.sessionState.sqlParser.parseExpression(frag) match {
        case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(a, b) => addIneq(a, b)
        case org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(a, b) => addIneq(b, a)
        case other => fail(s"compileAsOf: MATCH_CONDITION must be the as-of " +
          s"inequality, got ${other.sql}")
      }
    }
    val (lTs, rTs) = tsPair.getOrElse(
      fail("compileAsOf: no as-of inequality (left.ts >= right.ts) found"))
    if (keyPairs.isEmpty) fail("compileAsOf: at least one key equality is required")
    tolPair.foreach { case ((ac, bc), _) =>
      if ((ac, bc) != ((lTs, rTs)))
        fail(s"compileAsOf: tolerance bounds ($ac, $bc) but the as-of " +
          s"inequality is on ($lTs, $rTs) — they must match")
    }

    // SELECT list: top-level comma split, each a qualified column with
    // an optional alias
    val items = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      var depth = 0; var start = 0
      selList.zipWithIndex.foreach { case (c, i) =>
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (c == ',' && depth == 0) { parts += selList.substring(start, i); start = i + 1 }
      }
      parts += selList.substring(start)
      parts.map(_.trim).filter(_.nonEmpty).toSeq.map { frag =>
        spark.sessionState.sqlParser.parseExpression(frag) match {
          case a: UnresolvedAttribute if a.nameParts.size == 2 =>
            (side(a.nameParts.head), a.nameParts(1), a.nameParts(1))
          case Alias(a: UnresolvedAttribute, name) if a.nameParts.size == 2 =>
            (side(a.nameParts.head), a.nameParts(1), name)
          case other => fail("compileAsOf: select items must be qualified " +
            s"columns (optionally aliased), got ${other.sql}")
        }
      }
    }
    CompiledAsOf(leftRel, rightRel, keyPairs, lTs, rTs, leftOuter, items,
      tolPair.map(_._2))
  }

  /** The compiled ASOF JOIN — see [[compileAsOf]]. */
  final case class CompiledAsOf(
      leftRel: String, rightRel: String,
      keyPairs: Seq[(String, String)], // (left col, right col)
      leftTs: String, rightTs: String,
      leftOuter: Boolean,
      items: Seq[(Boolean, String, String)], // (fromRight, src col, out name)
      toleranceMicros: Option[Long] = None) {
    import org.apache.spark.sql.functions._

    /** Lower onto the union-window as-of operator: right key/ts
      * columns rename to the left's names (the operator keys both
      * sides by one name), right values surface under its `asof_`
      * prefix, INNER drops the null extensions. */
    def run(relations: Map[String, DataFrame]): DataFrame = {
      def rel(n: String) = relations.getOrElse(n,
        fail(s"compileAsOf.run: no relation named '$n' provided"))
      val l = rel(leftRel)
      val renames = (keyPairs :+ (leftTs -> rightTs)).filter { case (lc, rc) => lc != rc }
      val r = renames.foldLeft(rel(rightRel)) { case (df, (lc, rc)) =>
        df.withColumnRenamed(rc, lc) }
      val joined = graft.operators.AsOfJoin.asOfLeft(l, r,
        keyCols = keyPairs.map(_._1), ts = leftTs,
        tolerance = toleranceMicros.map(m => (lt: Column, rt: Column) =>
          unix_micros(lt) - unix_micros(rt) <= m))
      // a matched right row always carries a non-null ts (null-ts
      // rights are dropped before the join), so the match's ts is the
      // existence witness for INNER
      val filtered = if (leftOuter) joined
        else joined.filter(col(s"asof_$leftTs").isNotNull)
      filtered.select(items.map {
        case (false, src, out) => col(src).as(out)
        case (true, src, out) =>
          val lName = keyPairs.collectFirst { case (lc, rc) if rc == src => lc }
          lName match {
            // right key == left key by the join, but ONLY on matched
            // rows — under LEFT OUTER the null extension must surface
            // NULL for right columns (DuckDB/Snowflake semantics), so
            // gate the substitution on the match witness
            case Some(lc) if leftOuter =>
              when(col(s"asof_$leftTs").isNotNull, col(lc)).as(out)
            case Some(lc) => col(lc).as(out)
            case None if src == rightTs => col(s"asof_$leftTs").as(out)
            case None => col(s"asof_$src").as(out)
          }
      }: _*)
    }
  }

  /** The compiled bag set operation — see [[compileBagSetOp]]. The
    * side marker rides in `fromParent` (the engine never reads that
    * field past the leaf; here the "tree" is the two branch trees
    * themselves, so the deltas land side-tagged in one changelog). */
  final case class CompiledBagSetOp(left: Compiled, right: Compiled, except: Boolean) {
    import org.apache.spark.sql.functions._

    private def sideDeltas(c: Compiled, leaf: Dataset, right: Boolean): Dataset = {
      val spark = leaf.sparkSession
      import spark.implicits._
      projectOutputRow(c, leaf).toDF()
        .withColumn("fromParent", lit(right)).as[Evt]
    }

    /** Bag-formula multiplicities from the netted per-side counts —
      * ONE conditional aggregation per tuple (no per-side self-join:
      * both sides net in the same hash aggregate, keyed by the tuple
      * hash), exploded back to rows in the left branch's column order.
      * A tuple with no left rows nets __nl = 0, so both formulas give
      * m = 0 and its (NULL) row canon is never decoded. */
    def present(leaf: Dataset): DataFrame = {
      val signed = (col("tag") * col("mult")).cast("long")
      val nets = leaf.toDF()
        .groupBy(col("key"))
        .agg(
          sum(when(!col("fromParent"), signed).otherwise(lit(0L))).as("__nl"),
          sum(when(col("fromParent"), signed).otherwise(lit(0L))).as("__nr"),
          max(when(!col("fromParent"), col("row"))).as("__row"))
      val counted =
        if (except) nets.withColumn("__m", greatest(col("__nl") - col("__nr"), lit(0L)))
        else nets.withColumn("__m", least(col("__nl"), col("__nr")))
      val typed = left.outputSel.map { case (src, name) =>
        graft.functions.CanonGet.canon_get(col("__row"), name)
          .cast(left.colType(src)).as(name)
      }
      counted.filter(col("__m") > 0)
        .select(col("__m") +: typed: _*)
        .withColumn("__i", explode(sequence(lit(1L), col("__m"))))
        .select(left.outputSel.map(t => col(t._2)): _*)
    }

    def run(spark: SparkSession, dir: String,
            deletes: Map[String, Column] = Map.empty): DataFrame = {
      val l = sideDeltas(left, left.leafDeltas(spark, dir, deletes), right = false)
      val r = sideDeltas(right, right.leafDeltas(spark, dir, deletes), right = true)
      present(l union r)
    }

    /** The continuous form: both branch trees in one streaming query,
      * side-tagged into a single changelog sink. Consume with
      * foreachBatch + [[present]]. */
    def runStream(leftLogs: Map[String, Dataset], rightLogs: Map[String, Dataset],
                  tws: Boolean = false): Dataset =
      sideDeltas(left, left.runStream(leftLogs, tws = tws), right = false)
        .union(sideDeltas(right, right.runStream(rightLogs, tws = tws), right = true))
  }

  /** The compiled set-semantics UNION — see [[compileUnionDistinct]].
    * One set-semantics engine node over the UNION of every branch's
    * canonical output-row deltas: the node's 0↔positive flips ARE the
    * result's inserts/deletes, so multiplicity across branches (and
    * within a bag branch) collapses exactly, under retraction. */
  final case class CompiledUnionDistinct(branches: Seq[Compiled]) {

    private def unionStages: Seq[DeltaEngine.Stage] = Seq(
      DeltaEngine.Stage("__setop_ukeys",
        NodeSpec("__setop_u", "__k", "__k", isRoot = true, setSemantics = true)))

    /** Net > 0 tuples, one row each, in the first branch's column
      * order/types (all branches are alignment-checked equal). */
    def present(leaf: Dataset): DataFrame = presentOutputRows(branches.head, leaf)

    def run(spark: SparkSession, dir: String,
            deletes: Map[String, Column] = Map.empty): DataFrame = {
      val deltas = branches
        .map(c => projectOutputRow(c, c.leafDeltas(spark, dir, deletes)))
        .reduce(_ union _)
      present(DeltaEngine.runTree(unionStages,
        Map("__setop_u" -> deltas)))
    }

    /** The continuous form: every branch tree AND the netting node in
      * one streaming query (branch streams union into the shared
      * node's changelog). Consume with foreachBatch + [[present]]. */
    def runStream(branchLogs: Seq[Map[String, Dataset]],
                  tws: Boolean = false): Dataset = {
      require(branchLogs.size == branches.size,
        s"expected ${branches.size} branch changelog maps, got ${branchLogs.size}")
      val deltas = branches.zip(branchLogs)
        .map { case (c, logs) => projectOutputRow(c, c.runStream(logs, tws = tws)) }
        .reduce(_ union _)
      val logs = Map("__setop_u" -> deltas)
      if (tws) DeltaEngine.runStreamTreeTws(unionStages, logs)
      else DeltaEngine.runStreamTree(unionStages, logs)
    }
  }

  /** Split on top-level `UNION [ALL|DISTINCT]` at paren depth 0, over
    * Spark's tokens (a UNION inside a literal, a quoted name or a
    * comment is not syntax). Returns the branch texts plus, per
    * separator, whether it was a bag union (`ALL`) — the
    * [[splitTopLevelUnionAll]] / [[splitTopLevelUnionDistinct]]
    * wrappers enforce a single kind per level (mixing associates
    * left in standard SQL; parenthesize to compile it). */
  private[graft] def splitTopLevelUnion(sqlText: String): (Seq[String], Seq[Boolean]) = {
    val toks = SqlText.tokens(sqlText)
    val unions = toks.indices.filter(i => toks(i).depth == 0 && toks(i).kind == SqlBaseLexer.UNION)
    val seps = unions.map { i =>
      toks.lift(i + 1).map(_.kind) match {
        case Some(SqlBaseLexer.ALL) => (toks(i).start, toks(i + 1).end, true)
        case Some(SqlBaseLexer.DISTINCT) => (toks(i).start, toks(i + 1).end, false)
        case _ => (toks(i).start, toks(i).end, false)
      }
    }
    val bounds = 0 +: seps.flatMap { case (s, e, _) => Seq(s, e) } :+ sqlText.length
    val parts = bounds.grouped(2).map { case Seq(s, e) => sqlText.substring(s, e).trim }
    (parts.filter(_.nonEmpty).toSeq, seps.map(_._3))
  }

  /** The bag-union split — every top-level separator must be
    * `UNION ALL`; a set-semantics `UNION` routes to
    * [[compileUnionDistinct]] instead. */
  private[graft] def splitTopLevelUnionAll(sqlText: String): Seq[String] = {
    val (parts, kinds) = splitTopLevelUnion(sqlText)
    if (kinds.exists(k => !k))
      fail("top-level UNION (set semantics) — compile it with " +
        "compileUnionDistinct; mixing UNION and UNION ALL at one level " +
        "is not compiled (parenthesize to fix the association)")
    parts
  }

  /** The set-union split — every top-level separator must be a bare
    * `UNION` (or `UNION DISTINCT`). */
  private[graft] def splitTopLevelUnionDistinct(sqlText: String): Seq[String] = {
    val (parts, kinds) = splitTopLevelUnion(sqlText)
    if (kinds.exists(identity))
      fail("compileUnionDistinct expects set-semantics UNION between every " +
        "branch — mixing UNION ALL at one level is not compiled " +
        "(parenthesize to fix the association)")
    parts
  }

  /** Conservative syntactic proof that a WHERE conjunct evaluates to
    * NULL (hence filters the row out) whenever ALL its column
    * references are NULL — the property that lets the FULL OUTER
    * compile drop a preservation plan instead of evaluating the
    * predicate on extended rows. Comparisons, IN and LIKE over
    * null-preserving scalar expressions qualify; IS [NOT] NULL, `<=>`
    * and null-defaulting constructs (COALESCE/CASE/IF and their
    * function spellings) do not. Unknown shapes answer false — the
    * caller fails loudly, never compiles wrong. */
  private def nullRejecting(e: Expression): Boolean = {
    def strictScalars(c: Expression): Boolean = !c.exists {
      case f: UnresolvedFunction => Set("coalesce", "ifnull", "nvl", "nvl2",
        "isnull", "isnotnull", "if", "nullif")(f.nameParts.last.toLowerCase)
      case _: CaseWhen | _: If | _: Coalesce | _: IsNull | _: IsNotNull => true
      case _ => false
    }
    def hasColumn(c: Expression): Boolean = c.exists {
      case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => true
      case _ => false
    }
    // Strict null-PRESERVATION: e evaluates to exactly NULL whenever
    // all its column references are NULL. Stronger than rejection and
    // the only sound premise for NOT: NOT(c) avoids TRUE on null
    // input iff c avoids FALSE there, and a c that can DECIDE without
    // its columns breaks that — NOT(x > 5 AND FALSE) is TRUE on NULL
    // x because the inner And collapses to FALSE via its column-free
    // branch. So every And/Or branch must preserve individually
    // (NULL AND NULL = NULL, NULL OR NULL = NULL), and a column-free
    // comparison (a constant) never qualifies.
    def nullPreserving(c: Expression): Boolean = c match {
      case And(l, r) => nullPreserving(l) && nullPreserving(r)
      case Or(l, r) => nullPreserving(l) && nullPreserving(r)
      case Not(inner) => nullPreserving(inner) // NOT(NULL) = NULL
      case _: EqualNullSafe => false
      case b: BinaryComparison => strictScalars(b) && hasColumn(b)
      case i: In => strictScalars(i) && hasColumn(i)
      case l: Like => strictScalars(l) && hasColumn(l)
      case f: UnresolvedFunction
          if Set("like", "rlike", "contains", "startswith", "endswith")(
            f.nameParts.last.toLowerCase) => strictScalars(f) && hasColumn(f)
      case _ => false
    }
    e match {
      case And(l, r) => nullRejecting(l) || nullRejecting(r)
      case Or(l, r) => nullRejecting(l) && nullRejecting(r)
      case _: EqualNullSafe => false
      case c: BinaryComparison => strictScalars(c)
      case i: In => strictScalars(i)
      case l: Like => strictScalars(l)
      case Not(c) => nullPreserving(c)
      case f: UnresolvedFunction
          if Set("like", "rlike", "contains", "startswith", "endswith")(
            f.nameParts.last.toLowerCase) => strictScalars(f)
      case _ => false
    }
  }

  final case class Compiled(
      path: Seq[String],
      stages: Seq[DeltaEngine.Stage],
      wheres: Map[String, String],
      needed: Map[String, Seq[String]],
      groups: Seq[GroupSpec],
      aggs: Seq[AggSpec],
      outputSel: Seq[(String, String)],
      colType: Map[String, DataType],
      neededRaw: Map[String, Seq[String]],
      present: Seq[DataFrame => DataFrame] = Nil,
      loadRel: (SparkSession, String, String) => DataFrame = Tables.load,
      /** None = grouped aggregate; Some("bag") = maintained join view
        * with SQL bag multiplicity; Some("distinct") = SELECT DISTINCT
        * set view. */
      viewMode: Option[String] = None,
      /** GROUP BY ROLLUP/CUBE/GROUPING SETS: the expanded grouping
        * sets as group-alias lists; None for a plain GROUP BY. */
      rollupSets: Option[Seq[Seq[String]]] = None,
      /** GROUPING(col) SELECT items as (output alias, group frag) —
        * per-set constants emitted by [[aggregate]]. */
      groupingFlags: Seq[(String, String)] = Nil,
      /** One ANTI plan per LEFT-JOIN boundary (empty for inner-only
        * queries): [[run]]/[[runStream]] union their leaf deltas with
        * the main tree's before the shared fold. */
      outerPlans: Seq[OuterPlan] = Nil,
      /** FULL OUTER boundaries as (child, parent) whose orphan plan
        * fell back to the 2-stage parent-changelog shape (non-chain
        * tree topologies): [[run]] rejects deletes on any OTHER
        * relation for those — an ancestor delete would drop parent
        * rows from the preserved side invisibly to that plan's raw
        * parent-changelog key node. Chain-shaped boundaries compile
        * the TREE-PREFIX orphan plan instead (parent survival tracked
        * under its whole ancestor tree) and take deletes anywhere, so
        * they do not appear here. */
      fullOuterBoundaries: Seq[(String, String)] = Nil,
      /** FULL OUTER × `WHERE <boundary key> IS NULL`: the view is
        * exactly ONE preservation plan's output (orphans, or
        * NULL-extensions) — the main inner tree contributes nothing
        * and is neither built nor run. */
      suppressMainLeaf: Boolean = false,
      /** Window-function SELECT items as (original OVER-clause SQL,
        * output alias), applied as PRESENTATION over the maintained
        * view (after the output selection, before ORDER BY/LIMIT):
        * the view is the window's input frame, so partition/order
        * expressions reference output column names. Maintains
        * analytic decorations (rank-within-group, running shares)
        * on top of any incrementally maintained aggregate — each
        * refresh recomputes the windows over the view, which is
        * group-cardinality-sized, not input-sized. */
      windowItems: Seq[(String, String)] = Nil,
      /** Number of leading [[present]] functions that are HAVING
        * filters (0 or 1): SQL evaluates HAVING before SELECT
        * windows, so [[aggregate]] applies that prefix BEFORE the
        * window items and the rest (ORDER BY / LIMIT) after. */
      havingCount: Int = 0,
      /** Scalar-subquery WHERE gates, resolved per batch refresh (see
        * [[ScalarGateSpec]]); nonlinear, so [[runStream]] fences. */
      scalarGates: Seq[ScalarGateSpec] = Nil) {

    /** Output column names of the grouping keys (spec/test surface). */
    def groupCols: Seq[String] = groups.map(_.alias)

    /** Output column names in SELECT order. */
    def outputCols: Seq[String] = outputSel.map(_._2)

    /** Each relation's changelog routing key = the childKeyCol of its
      * FIRST stage (later stages of a multi-parent relation re-key
      * engine-side). */
    def keyCol(rel: String): String =
      stages.find(st => st.spec.relation == rel && st.ownStage.isEmpty).get.spec.childKeyCol

    /** The parquet-backed changelog set this query runs over:
      * insert-everything plus the given per-relation delete conditions.
      * `filtered = true` (the normal path) applies each relation's
      * local predicate at the scan; `filtered = false` yields the raw
      * changelogs (for exercising [[eventFilter]]). */
    def sourceChangelogs(spark: SparkSession, dir: String,
                         deletes: Map[String, Column] = Map.empty,
                         filtered: Boolean = true): Map[String, Dataset] = {
      requireMaintainableDeletes(deletes)
      path.map { rel =>
        // raw changelogs must CARRY the predicate columns (the filter
        // reads them from the canonical row); scan-filtered ones never
        // read them again, so they stay out of the shuffle
        rel -> DeltaEngine.changelog(
          loadRel(spark, dir, rel), keyCol(rel),
          if (filtered) needed(rel) else neededRaw(rel),
          deletes.get(rel), if (filtered) wheres.get(rel).map(expr) else None)
      }.toMap
    }

    /** FULL OUTER scope guard, at the changelog CHOKE POINT so both
      * the batch path (run) and the streaming harnesses that call
      * [[sourceChangelogs]] directly enforce it. It now bites ONLY
      * for boundaries whose orphan plan fell back to the 2-stage
      * parent-changelog shape (see [[fullOuterBoundaries]]): there an
      * ancestor delete drops parent rows from the preserved side
      * invisibly to the raw parent-changelog key node. Chain-shaped
      * boundaries run the tree-prefix orphan plan and take deletes on
      * any relation. */
    def requireMaintainableDeletes(deletes: Map[String, Column]): Unit =
      if (fullOuterBoundaries.nonEmpty && deletes.nonEmpty) {
        val allowed = fullOuterBoundaries.flatMap { case (c, p) => Seq(c, p) }.toSet
        (deletes.keySet -- allowed).foreach(rel =>
          fail(s"FULL OUTER query: deletes on '$rel' are not maintainable by " +
            s"this plan shape — only the boundary pair ${allowed.mkString("{", ", ", "}")} " +
            "may take deletes (the non-chain tree topology forced the 2-stage " +
            "orphan plan, whose parent-changelog key node cannot see an " +
            "ancestor delete orphaning parent rows)"))
      }

    /** This query's local predicate for `rel`, rewritten to apply to a
      * RAW [[Evt]] stream: every column reference in the parsed SQL
      * fragment becomes a typed `canon_get` lookup on the canonical
      * row string, so the filter stays a codegen'd Column expression
      * (one byte scan per referenced column, no per-event map build).
      * Callers feeding unfiltered event streams apply it before the
      * engine, which takes its changelogs as filtered. */
    def eventFilter(spark: SparkSession, rel: String): Option[Column] =
      wheres.get(rel).map { frag =>
        val typed = spark.sessionState.sqlParser.parseExpression(frag).transformUp {
          case a: UnresolvedAttribute =>
            val name = a.nameParts.last
            Cast(graft.functions.CanonGet(UnresolvedAttribute(Seq("row")), name), colType(name))
        }
        org.apache.spark.sql.GraftBridge.toColumn(typed)
      }

    /** Fold the engine's leaf deltas into the query's aggregate —
      * shared by [[run]] and any `foreachBatch` consumer of
      * [[runStream]] output. */
    def aggregate(leaf: DataFrame): DataFrame = {
      val spark = leaf.sparkSession
      val dataCols = (groups.flatMap(g => exprColumns(spark, g.frag)) ++
        aggs.flatMap(a =>
          (if (a.frag.isEmpty) Nil else exprColumns(spark, a.frag)) ++
            (if (a.frag2.isEmpty) Nil else exprColumns(spark, a.frag2)))).distinct
      // canon_get: one codegen'd byte scan per column instead of the
      // per-row str_to_map map build (see graft.functions.CanonGet) —
      // this select runs once per leaf delta of every compiled entry
      val typed = leaf.select(
        (col("tag") * col("mult")).cast(LongType).as("__sign") +:
          dataCols.map(n =>
            graft.functions.CanonGet.canon_get(col("row"), n)
              .cast(colType(n)).as(n)): _*)
      val (valueAggs, plainAggs) =
        aggs.partition(a =>
          Set("count_distinct", "sum_distinct", "avg_distinct", "min", "max",
            "median", "quantile", "mode", "max_by", "min_by")(a.kind))
      // GROUPING SETS run as Spark's own Expand strategy, not a union
      // of per-set folds: each delta row explodes ONCE per grouping
      // set, carrying that set's materialized keys (typed NULLs for
      // the aggregated-away ones) plus a set id — so the leaf lineage
      // executes once and every aggregate family below still costs ONE
      // shuffle, with the per-set key columns riding in the rows. A
      // union of per-set aggregates would re-execute the whole
      // incremental fold per set (only its inner exchanges dedupe).
      // The plain GROUP BY path is the one-set special case (__gid 0).
      // FULLY-NETTED corner: if deletes retract every input row, the
      // maintained view emits zero rows for every grouping set —
      // matching Spark's batch ROLLUP/CUBE (a grouped aggregate over
      // an empty Expand). DuckDB instead emits a grand-total zero row
      // over empty input; the engines themselves disagree there, and
      // this engine follows Spark.
      val keyed: DataFrame = rollupSets match {
        case None =>
          typed.select(col("*") +: lit(0).as("__gid") +:
            groups.zipWithIndex.map { case (g, i) => expr(g.frag).as(s"__k_$i") }: _*)
        case Some(sets) =>
          // per-key types resolved once, only on the grouping-sets path
          val keyType: Seq[DataType] =
            groups.map(g => typed.select(expr(g.frag)).schema.head.dataType)
          val setStructs = sets.zipWithIndex.map { case (set, si) =>
            struct(lit(si).as("g") +: groups.zipWithIndex.map { case (g, i) =>
              (if (set.contains(g.alias)) expr(g.frag)
               else lit(null).cast(keyType(i))).as(s"k$i")
            }: _*)
          }
          typed.withColumn("__ks", explode(array(setStructs: _*)))
            .select(col("*") +: col("__ks.g").as("__gid") +:
              groups.indices.map(i => col(s"__ks.k$i").as(s"__k_$i")): _*)
            .drop("__ks")
      }
      val keyNames: Seq[String] = "__gid" +: groups.indices.map(i => s"__k_$i")
      def groupKeys: Seq[Column] = keyNames.map(col)
      val aggExprs = plainAggs.map { a =>
        a.kind match {
          case "count" => sum(col("__sign")).cast(LongType).as(a.alias)
          case "avg" =>
            // the retractable SUM/COUNT pair, divided once per group:
            // both components fold exactly (integral/DECIMAL argument
            // enforced at compile time), so the single double division
            // is bit-reproducible. NULL arguments stay out of both the
            // numerator (sum skips them) and the denominator. The
            // denominator is nullif-guarded: a group can survive the
            // __net > 0 gate while its non-NULL-argument rows net to
            // exactly zero (NULL-argument rows keeping it alive), and
            // SQL's answer there is AVG = NULL — without the guard,
            // ANSI mode (default in Spark 4) throws DIVIDE_BY_ZERO.
            (sum(col("__sign") * expr(a.frag)).cast("double") /
              nullif(sum(when(expr(a.frag).isNotNull, col("__sign"))
                .otherwise(lit(0))), lit(0)))
              .as(a.alias)
          case "var_samp" | "stddev_samp" | "var_pop" | "stddev_pop" =>
            // retractable MOMENTS (n, Σx, Σx²), each an exact signed
            // fold — Σx and Σx² run in DECIMAL(38,0) so a planet-scale
            // group cannot overflow the long fold (integral argument
            // enforced at compile time; overflow past 38 digits fails
            // LOUD under ANSI instead of drifting). The variance is
            // then ONE deterministic double evaluation over exact
            // integer moments,
            //   var_samp = (n·Σx² − (Σx)²) / (n·(n−1)),
            // mirrored literally by the oracle SQL, so the double (and
            // its sqrt — IEEE correctly rounded) is bit-reproducible.
            // n counts only non-NULL arguments; n<2 ⇒ NULL via the
            // nullif-guarded denominator (SQL VAR_SAMP semantics).
            val arg = expr(a.frag)
            val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
            val n = sum(when(arg.isNotNull, col("__sign")).otherwise(lit(0L)))
            val sx = sum(col("__sign").cast(d38) * arg.cast(d38))
            val sxx = sum(col("__sign").cast(d38) * arg.cast(d38) * arg.cast(d38))
            // _POP divides by n² (defined from n=1); _SAMP by n(n−1)
            val den = nullif(
              if (a.kind.endsWith("_pop")) n * n else n * (n - lit(1L)),
              lit(0L)).cast("double")
            val v = (n.cast("double") * sxx.cast("double") -
              sx.cast("double") * sx.cast("double")) / den
            (if (a.kind.startsWith("var")) v else sqrt(v)).as(a.alias)
          case "corr" =>
            // Pearson r over exact signed CO-MOMENTS, evaluated once
            // per group in double:
            //   r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx²−(Σx)²)·sqrt(n·Σy²−(Σy)²))
            // Pairwise-complete rows only (both args non-NULL). The
            // variance terms are exact-integer-nonnegative in theory;
            // after the double rounding of the two big products the
            // difference can round to a tiny negative, so each is
            // clamped with greatest(…, 0) BEFORE sqrt — mirrored
            // literally by the oracle, keeping the double (and NULL on
            // zero variance via the nullif-guard) bit-reproducible.
            val x = expr(a.frag)
            val y = expr(a.frag2)
            val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
            val both = x.isNotNull && y.isNotNull
            val n = sum(when(both, col("__sign")).otherwise(lit(0L)))
            val sx = sum(when(both, col("__sign").cast(d38) * x.cast(d38)))
            val sy = sum(when(both, col("__sign").cast(d38) * y.cast(d38)))
            val sxx = sum(when(both, col("__sign").cast(d38) * x.cast(d38) * x.cast(d38)))
            val syy = sum(when(both, col("__sign").cast(d38) * y.cast(d38) * y.cast(d38)))
            val sxy = sum(when(both, col("__sign").cast(d38) * x.cast(d38) * y.cast(d38)))
            val covn = n.cast("double") * sxy.cast("double") -
              sx.cast("double") * sy.cast("double")
            val vx = greatest(n.cast("double") * sxx.cast("double") -
              sx.cast("double") * sx.cast("double"), lit(0.0))
            val vy = greatest(n.cast("double") * syy.cast("double") -
              sy.cast("double") * sy.cast("double"), lit(0.0))
            (covn / nullif(sqrt(vx) * sqrt(vy), lit(0.0))).as(a.alias)
          case "covar_samp" =>
            // covar_samp = (n·Σxy − Σx·Σy) / (n·(n−1)) over the same
            // exact pairwise co-moments as CORR
            val x = expr(a.frag)
            val y = expr(a.frag2)
            val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
            val both = x.isNotNull && y.isNotNull
            val n = sum(when(both, col("__sign")).otherwise(lit(0L)))
            val sx = sum(when(both, col("__sign").cast(d38) * x.cast(d38)))
            val sy = sum(when(both, col("__sign").cast(d38) * y.cast(d38)))
            val sxy = sum(when(both, col("__sign").cast(d38) * x.cast(d38) * y.cast(d38)))
            val den = nullif(n * (n - lit(1L)), lit(0L)).cast("double")
            ((n.cast("double") * sxy.cast("double") -
              sx.cast("double") * sy.cast("double")) / den).as(a.alias)
          case _ =>
            // retractable SUM with SQL NULL semantics: the signed fold
            // alone returns 0 (not NULL) for a group whose non-NULL
            // contributions net away while NULL-argument rows (e.g.
            // LEFT JOIN NULL-extensions) keep it alive — so the sum is
            // guarded by the signed count of non-NULL arguments, like
            // AVG's denominator
            when(sum(when(expr(a.frag).isNotNull, col("__sign"))
                .otherwise(lit(0L))) === 0L, lit(null))
              .otherwise(sum(col("__sign") * expr(a.frag)))
              .as(a.alias)
        }
      } :+ sum(col("__sign")).as("__net")
      val main = keyed.groupBy(groupKeys: _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
        .filter(col("__net") > 0)
      // COUNT(DISTINCT x) / MIN(x) / MAX(x) / MEDIAN(x) need NO extra
      // engine state: the leaf delta multiset already nets per (group,
      // value) — a value is present iff its signed count is positive,
      // and counting/min-ing/max-ing the present values is exact
      // under retraction (deleting the current extreme re-exposes the
      // runner-up because the runner-up's net is still positive).
      // All such aggs over the SAME argument share one per-value
      // rollup and one join; the repeated scans of the leaf lineage
      // inside the one final plan dedupe via Spark's exchange reuse.
      // Nulls don't participate (SQL semantics); a group whose values
      // all netted away counts 0 / is NULL for MIN/MAX. The join back
      // is NULL-SAFE on the group keys (a NULL-keyed group must match
      // its own rollup row, as groupBy semantics treat NULL as a key;
      // __gid is part of the key, so each grouping set rolls up within
      // itself — incl. the grand total, whose join is one row each side).
      val result = valueAggs.groupBy(_.frag).toSeq.sortBy(_._1).foldLeft(main) { case (df, (frag, as)) =>
        val perValue = keyed
          .groupBy((groupKeys :+ expr(frag).as("__dv")): _*)
          .agg(sum(col("__sign")).as("__dn"))
          .filter(col("__dn") > 0 && col("__dv").isNotNull)
        import org.apache.spark.sql.expressions.Window
        val quantileAs = as.filter(a => a.kind == "median" || a.kind == "quantile")
        val modeAs = as.filter(_.kind == "mode")
        val simpleAs = as.filterNot(a =>
          a.kind == "median" || a.kind == "quantile" || a.kind == "mode")
        val rolledFrames: Seq[org.apache.spark.sql.DataFrame] =
          (if (simpleAs.isEmpty) Nil else {
            val rollExprs = simpleAs.map { a =>
              a.kind match {
                case "count_distinct" => count(lit(1)).cast(LongType).as(a.alias)
                case "sum_distinct" => sum(col("__dv")).as(a.alias)
                // AVG(DISTINCT) over the same netted values: exact
                // integer Σ and n, ONE correctly-rounded division
                case "avg_distinct" =>
                  (sum(col("__dv")).cast("double") /
                    count(lit(1)).cast("double")).as(a.alias)
                // MAX_BY/MIN_BY: __dv is the (o, v) pair struct; the
                // struct extreme is field-lexicographic, so the answer
                // is the extreme `o` with ties broken toward the
                // extreme `v` — deterministic, and the `v` field of
                // that extreme pair is the output
                case "max_by" => max(col("__dv")).getField("v").as(a.alias)
                case "min_by" => min(col("__dv")).getField("v").as(a.alias)
                case "min" => min(col("__dv")).as(a.alias)
                case _ => max(col("__dv")).as(a.alias)
              }
            }
            Seq(perValue.groupBy(groupKeys: _*)
              .agg(rollExprs.head, rollExprs.tail: _*))
          }) ++
          (if (quantileAs.isEmpty) Nil else {
            // DISCRETE quantiles over the netted values: the inverted
            // CDF — the smallest __dv whose cumulative net count
            // satisfies cum·q_den ≥ n·q_num, evaluated in exact
            // integer cross-products (MEDIAN is q = 1/2; verified
            // against DuckDB quantile_disc across n×q grids — DuckDB
            // picks index ceil(q·n)−1, NOT the floor(q·(n−1))
            // convention). One sort per group over the DISTINCT
            // values — the exact-quantile price; all requested q's
            // share it (each is a conditional MIN over the same
            // cumulative frame). At scale prefer the mergeable
            // histogram sketch (events_histogram_quantile) when
            // approximation is acceptable.
            val part = Window.partitionBy(groupKeys: _*)
            val wCum = part.orderBy(col("__dv"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            def qMin(a: AggSpec) =
              min(when(col("__cum") * a.q._2 >= col("__tot") * a.q._1,
                col("__dv"))).as(a.alias)
            Seq(perValue
              .withColumn("__cum", sum(col("__dn")).over(wCum))
              .withColumn("__tot", sum(col("__dn")).over(part))
              .groupBy(groupKeys: _*)
              .agg(qMin(quantileAs.head), quantileAs.tail.map(qMin): _*))
          }) ++
          (if (modeAs.isEmpty) Nil else {
            // MODE: rank-1 selection over the netting rollup's
            // frequency table — largest net count first, smallest
            // value on ties (deterministic cross-engine; the oracle
            // spells the same window instead of DuckDB's tie-agnostic
            // mode()).
            val wMode = Window.partitionBy(groupKeys: _*)
              .orderBy(col("__dn").desc, col("__dv").asc)
            Seq(perValue
              .withColumn("__rk", row_number().over(wMode))
              .filter(col("__rk") === 1).drop("__rk")
              .groupBy(groupKeys: _*)
              .agg(min(col("__dv")).as(modeAs.head.alias),
                modeAs.tail.map(a => min(col("__dv")).as(a.alias)): _*))
          })
        rolledFrames.foldLeft(df) { (acc, rolledRaw) =>
          val rolled = rolledRaw
            .withColumnsRenamed(keyNames.map(c => c -> s"__g_$c").toMap)
          val cond = keyNames.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _)
          val joined = acc.join(rolled, cond, "left")
            .drop(keyNames.map(c => s"__g_$c"): _*)
          as.filter(a => a.kind == "count_distinct" &&
              rolledRaw.columns.contains(a.alias)).foldLeft(joined)((j, a) =>
            j.withColumn(a.alias, coalesce(col(a.alias), lit(0L))))
        }
      }
      // restore the group output aliases, emit GROUPING(col) flags
      // from the set id, and drop it
      val restored = groups.zipWithIndex.foldLeft(result) { case (df, (g, i)) =>
        df.withColumnRenamed(s"__k_$i", g.alias)
      }
      groupingFlags.foldLeft(restored) { case (df, (alias, frag)) =>
        val gAlias = groups.find(_.frag == frag).get.alias
        val flagBySet: Seq[Long] = rollupSets.get.map(set =>
          if (set.contains(gAlias)) 0L else 1L)
        df.withColumn(alias,
          element_at(array(flagBySet.map(lit): _*), col("__gid").cast("int") + 1))
      }
        .drop("__gid")
        // view mode "bag": the net count IS the row's SQL bag
        // multiplicity — restore it by exploding a unit sequence
        // (duplicate source rows net to k, the view shows k rows).
        // "distinct" (and the aggregate path) keep one row per group.
        .transform(df => viewMode match {
          case Some("bag") =>
            df.withColumn("__dup", explode(sequence(lit(1L), col("__net")))).drop("__dup")
          case _ => df
        })
        // each output item selects FROM its source column (the group
        // key's canonical alias or the aggregate alias) — a SELECT
        // rename (n_name AS nation) maps here instead of renaming the
        // key itself, so other references to the original name keep
        // resolving. Window items compute AFTER that rename (their
        // references are output names) and slot back into SELECT
        // order — with the HAVING prefix of the presentation chain
        // applied FIRST (SQL evaluates HAVING before SELECT windows:
        // ranks must not count filtered-out groups) and ORDER BY /
        // LIMIT after.
        .transform { df =>
          if (windowItems.isEmpty)
            df.select(outputSel.map { case (src, name) => col(src).as(name) }: _*)
              .transform(d => present.foldLeft(d)((x, f) => f(x)))
          else {
            val winNames = windowItems.map(_._2).toSet
            val named = df.select(outputSel.collect {
              case (src, name) if !winNames(name) => col(src).as(name) }: _*)
            val havinged = present.take(havingCount).foldLeft(named)((d, f) => f(d))
            windowItems.foldLeft(havinged) { case (d, (frag, name)) =>
              d.withColumn(name, expr(frag)) }
              .select(outputSel.map { case (_, name) => col(name) }: _*)
              .transform(d => present.drop(havingCount).foldLeft(d)((x, f) => f(x)))
          }
        }
    }

    /** Run incrementally over insert-everything changelogs plus the
      * given per-relation delete conditions; returns the maintained
      * aggregate (groups with net rows > 0, like any GROUP BY). */
    def run(spark: SparkSession, dir: String,
            deletes: Map[String, Column] = Map.empty): DataFrame =
      if (scalarGates.nonEmpty)
        withScalarGatesResolved(spark, dir, deletes).run(spark, dir, deletes)
      else aggregate(leafDeltas(spark, dir, deletes).toDF())

    /** Resolve every [[ScalarGateSpec]] against the CURRENT survivor
      * inputs (base parquet minus the delete conditions, the same
      * logical state the maintained tree sees) and fold the resulting
      * literal comparisons into the owning relations' scan filters —
      * the returned Compiled is gate-free and refresh-correct for
      * exactly this delete set. Literals splice as round-tripping
      * text (Double.toString is shortest-round-trip; a NULL scalar
      * splices as NULL, whose three-valued comparison drops every row
      * — SQL's empty-subquery answer). */
    def withScalarGatesResolved(spark: SparkSession, dir: String,
        deletes: Map[String, Column]): Compiled = {
      val merged = scalarGates.foldLeft(wheres) { (ws, g) =>
        val base0 = loadRel(spark, dir, g.subRel)
        val base = deletes.get(g.subRel).map(c => base0.filter(!c)).getOrElse(base0)
        val sub = g.subWheres.foldLeft(base)((df, w) => df.filter(expr(w)))
        val row = sub.agg(expr(g.subAggFrag)).head()
        val lit = row.get(0) match {
          case null => "NULL"
          case d: java.lang.Double => s"CAST(${java.lang.Double.toString(d)} AS DOUBLE)"
          case f: java.lang.Float => s"CAST(${java.lang.Float.toString(f)} AS FLOAT)"
          case l: java.lang.Long => s"CAST(${l.toString} AS BIGINT)"
          case i: java.lang.Integer => i.toString
          case dec: java.math.BigDecimal =>
            s"CAST('${dec.toPlainString}' AS DECIMAL(${dec.precision},${dec.scale}))"
          case other => throw new IllegalArgumentException(
            s"unsupported scalar gate result type ${other.getClass.getName}")
        }
        val pred = if (g.subOnLeft) s"(($lit) ${g.op} (${g.outerFrag}))"
                   else s"((${g.outerFrag}) ${g.op} ($lit))"
        ws + (g.outerRel ->
          ws.get(g.outerRel).map(w => s"($w) AND $pred").getOrElse(pred))
      }
      copy(wheres = merged, scalarGates = Nil)
    }

    /** The maintained view's signed LEAF DELTAS (everything [[run]]
      * does except the final aggregate/presentation fold) — the
      * composition surface: set-operation compilation feeds branch
      * deltas into further engine stages. */
    def leafDeltas(spark: SparkSession, dir: String,
                   deletes: Map[String, Column] = Map.empty): Dataset = {
      val logs = sourceChangelogs(spark, dir, deletes) // enforces the FULL OUTER delete scope
      // BATCH leaf assembly: with outer plans present, run everything
      // through the SHARED-PREFIX runner — the anti/orphan plans reuse
      // the main tree's prefix stages by object identity, so a FULL
      // OUTER entry prices one tree + two deltas, not three trees
      // (stream keeps independent chains: state stores are
      // per-operator — see withOuterLeaves/runStream).
      //
      // A changelog consumed by MANY plans is MATERIALIZED once first:
      // stage-output sharing dedups identical (stage, inputs) subtrees,
      // but a plan re-keying or re-staging the same relation consumes
      // the changelog under a DIFFERENT exchange, and exchange reuse
      // cannot dedup the scans below different keys — the star FULL
      // OUTER entry's single job held 64 parquet scans (the same three
      // relations re-decoded and re-canon-encoded per consuming plan
      // branch). The threshold is ≥ 3 consumers: at two, the lazy
      // re-scan is parallel work the page cache mostly absorbs and the
      // serial checkpoint job costs MORE (measured +0.8 s on the
      // two-plan ancestor_del at sf0.1, vs −0.6 s on the six-plan
      // star); from three consumers on, materialization wins.
      val leaf =
        if (outerPlans.isEmpty) DeltaEngine.runTree(stages, logs)
        else {
          val consumers: Map[String, Int] = path.map { rel =>
            rel -> ((if (suppressMainLeaf) 0 else 1) +
              outerPlans.count(_.path.contains(rel)))
          }.toMap
          val shared = logs.map { case (rel, ds) =>
            rel -> (if (consumers.getOrElse(rel, 1) >= 3) ds.localCheckpoint() else ds)
          }
          DeltaEngine.runTreeShared(
            (if (suppressMainLeaf) Nil else Seq((stages, shared))) ++
              outerPlans.map { p =>
                val planLogs = p.path.map { rel =>
                  rel -> (p.rekey.collectFirst { case (rr, rc) if rr == rel => rc } match {
                    case Some(rc) => rekeyByCanon(shared(rel), rc)
                    case None => shared(rel)
                  })
                }.toMap
                (p.stages, planLogs)
              })
        }
      leaf
    }

    /** Bloom SEMI-JOIN REDUCTION: `logs` with the changelog of the leaf
      * relation (`path.last`) pre-filtered by a bloom over its parent's
      * child-facing key, so child events whose routing key cannot exist
      * in the parent changelog drop BEFORE the engine shuffles them.
      * This is the J3 fan-out reducer at 100 TB: most R-flag lineitems
      * belong to orders outside the date window, and without the bloom
      * every one of them crosses the exchange into order-node state
      * just to die unjoined. The bloom is only as tight as the parent
      * changelog it is given: pass the scan-filtered one (a raw leaf
      * changelog may ride beside it).
      *
      * The parent is the `parentStage` of the first stage that reads
      * the leaf changelog, and must be a raw liveness stage: it reads
      * its own relation's changelog, whose rows carry its `nextKeyCol`.
      * EXACT under replay semantics: the bloom covers the parent's FULL
      * key multiset — inserts AND deletes — so a child event is dropped
      * only if its parent key never appears at ANY point of the replay,
      * i.e. it could never be joined alive in any micro-batch; bloom
      * false positives merely survive to the engine and produce
      * nothing. Both sides hash the STRING key form
      * ([[graft.operators.BloomJoin.bloomBytesRaw]]) — child `Evt.key`
      * and parent canon values are both built by `cast(string)` of the
      * same column type, so equal keys hash equal.
      *
      * Throws IllegalArgumentException wherever an event that never
      * joins can still reach the answer: the reading stage has no
      * parent, inverts liveness (`antiParent`) or emits orphans
      * (`fullOuterLeaf`), or [[outerPlans]] re-read the changelogs. */
    def bloomReduced(logs: Map[String, Dataset]): Map[String, Dataset] = {
      val leafRel = path.last
      def refuse(why: String): Nothing =
        fail(s"bloom reduction of '$leafRel' is not exact: $why")
      val reader = stages.find(st => st.spec.relation == leafRel && st.ownStage.isEmpty).get
      val parent = reader.parentStage.flatMap(p => stages.find(_.name == p))
        .getOrElse(refuse(s"stage '${reader.name}' has no parent stage"))
      if (reader.spec.antiParent)
        refuse(s"stage '${reader.name}' is antiParent, alive while its parent is absent")
      if (reader.spec.fullOuterLeaf)
        refuse(s"stage '${reader.name}' is fullOuterLeaf, which emits parentless orphans")
      if (outerPlans.nonEmpty)
        refuse("outer-join plans re-read the changelogs and preserve unjoined rows")
      val parentRel = parent.spec.relation
      val keyCol = parent.spec.nextKeyCol
      if (parent.ownStage.nonEmpty || parent.pairStage.nonEmpty ||
          !needed.get(parentRel).exists(_.contains(keyCol)))
        refuse(s"parent stage '${parent.name}' is not a raw liveness stage over " +
          s"the $parentRel changelog's $keyCol")
      val parentKeys = logs(parentRel).toDF()
        .select(graft.functions.CanonGet.canon_get(col("row"), keyCol).as("k"))
      val child = logs(leafRel)
      logs.updated(leafRel,
        graft.operators.BloomJoin.bloomBytesRaw(parentKeys, col("k"), BloomItems, BloomFpp) match {
          case None => child.filter(lit(false))
          case Some(bits) =>
            child.filter(graft.operators.BloomJoin.mightContainRaw(bits, col("key")))
        })
    }

    /** Union the main tree's leaf deltas with every LEFT-JOIN anti
      * plan's (batch and stream share the shape; the caller picks the
      * tree runner). Each anti plan reuses the SAME changelogs, with
      * the boundary parent's own events re-keyed (from the canon) to
      * the correlation column its anti hop shuffles on. `mainLeaf` is
      * by-name: under [[suppressMainLeaf]] (boundary-key IS NULL
      * views) the inner tree's plan is never even constructed. */
    private def withOuterLeaves(logs: Map[String, Dataset], mainLeaf: => Dataset,
        runner: (Seq[DeltaEngine.Stage], Map[String, Dataset]) => Dataset): Dataset = {
      val planLeaves = outerPlans.map { p =>
        val planLogs = p.path.map { rel =>
          rel -> (p.rekey.collectFirst { case (rr, rc) if rr == rel => rc } match {
            case Some(rc) => rekeyByCanon(logs(rel), rc)
            case None => logs(rel)
          })
        }.toMap
        runner(p.stages, planLogs)
      }
      val leaves = (if (suppressMainLeaf) Nil else Seq(mainLeaf)) ++ planLeaves
      require(leaves.nonEmpty,
        "no surviving plan to run — the compile should have failed loudly")
      leaves.reduce(_ union _)
    }

    /** The continuous form — the reference's actual deployment shape:
      * raw streaming changelogs in, signed leaf deltas out (consume
      * with `foreachBatch` + [[aggregate]] upsert). Local predicates
      * are applied per stream via [[eventFilter]]. */
    def runStream(changelogs: Map[String, Dataset],
                  stateTtl: Option[java.time.Duration] = None,
                  eventTtl: Option[DeltaEngine.EventTimeTtl] = None,
                  tws: Boolean = false): Dataset = {
      require(scalarGates.isEmpty,
        "scalar-subquery gates are NONLINEAR (one input row can flip every " +
          "row's predicate) and refresh per batch run — the continuous path " +
          "does not compile them; run the view as periodic batch refreshes")
      require(!(tws && eventTtl.isDefined),
        "the TWS driver's TTL is processing-time timers — use stateTtl")
      val spark = changelogs(path.head).sparkSession
      val filtered = changelogs.map { case (rel, ds) =>
        rel -> eventFilter(spark, rel).map(ds.filter).getOrElse(ds)
      }
      def runner(sts: Seq[DeltaEngine.Stage], lgs: Map[String, Dataset]): Dataset =
        if (tws) DeltaEngine.runStreamTreeTws(sts, lgs, stateTtl)
        else DeltaEngine.runStreamTree(sts, lgs, stateTtl, eventTtl = eventTtl)
      withOuterLeaves(filtered, runner(stages, filtered), runner)
    }

    /** Column names a SQL fragment references (via the parser — no
      * regex guessing). */
    private def exprColumns(spark: SparkSession, frag: String): Seq[String] =
      spark.sessionState.sqlParser.parseExpression(frag).collect {
        case a: UnresolvedAttribute => a.nameParts.last
      }.distinct
  }

  private type Dataset = org.apache.spark.sql.Dataset[Evt]

  /** [[Compiled.bloomReduced]]'s bloom size: every reduced entry's
    * parent changelog holds far fewer keys than this at fpp 0.01. */
  private val BloomItems = 200000L
  private val BloomFpp = 0.01

  /** Re-key a changelog by a column read from its canonical row — a
    * codegen'd narrow projection (the shuffle to the new key happens in
    * the consuming stage, as with any changelog). */
  private def rekeyByCanon(ds: Dataset, colName: String): Dataset = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.toDF()
      .withColumn("key",
        graft.functions.CanonGet.canon_get(col("row"), colName))
      .as[Evt]
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** Original SQL text of a parsed expression, recovered from Catalyst
    * Origins (inclusive stopIndex). The span is the min/max over the
    * WHOLE subtree, not the root's own origin: for `x BETWEEN a AND b`
    * / `x IN (...)` the parser anchors the root origin at the keyword,
    * excluding the left operand — the operand's own origin restores
    * it. */
  private[graft] def fragment(e: Expression): String = {
    val text = e.origin.sqlText.getOrElse(
      fail(s"cannot recover the SQL fragment of $e"))
    val starts = e.collect { case x if x.origin.startIndex.isDefined => x.origin.startIndex.get }
    val stops = e.collect { case x if x.origin.stopIndex.isDefined => x.origin.stopIndex.get }
    if (starts.isEmpty || stops.isEmpty) fail(s"cannot recover the SQL fragment of $e")
    text.substring(starts.min, stops.max + 1)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  /** Strip table-alias qualifiers from a SQL fragment (`r.r_name` →
    * `r_name`), splicing by Catalyst Origin offsets: fragments are
    * re-applied to bare-columned DataFrames (scan filters, the typed
    * aggregate frame), where a qualified reference cannot resolve.
    * Sound because column names are unique across the query's
    * relations (enforced by the `owner` map). */
  private def dequalify(spark: SparkSession, frag: String): String = {
    val parsed = spark.sessionState.sqlParser.parseExpression(frag)
    val attrs = parsed.collect {
      case a: UnresolvedAttribute if a.nameParts.size > 1 => a
    }.filter(_.origin.startIndex.isDefined).sortBy(-_.origin.startIndex.get)
    attrs.foldLeft(frag) { (text, a) =>
      text.substring(0, a.origin.startIndex.get) + a.nameParts.last +
        text.substring(a.origin.stopIndex.get + 1)
    }
  }

  /** Is `f` an AGGREGATE function call? Detection goes through the
    * session's FunctionRegistry — a fixed name list would let count_if
    * / percentile / bool_and / UDAFs slip through to an obscure
    * runtime AnalysisException instead of a loud compile error. */
  private def isAggregateCall(spark: SparkSession, f: UnresolvedFunction): Boolean = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
    import scala.util.control.NonFatal
    val ident = FunctionIdentifier(f.nameParts.last,
      if (f.nameParts.size > 1) Some(f.nameParts.init.mkString(".")) else None)
    // group metadata covers every builtin (incl. count(*), whose
    // star argument the constructor path below can't build)
    val byInfo =
      try spark.sessionState.catalog.lookupFunctionInfo(ident).getGroup == "agg_funcs"
      catch { case NonFatal(_) => false }
    // constructing the expression covers registered UDAFs, whose
    // ExpressionInfo carries no group
    byInfo || {
      try spark.sessionState.catalog.lookupFunction(ident, f.arguments) match {
        case _: AggregateExpression => true
        case _: AggregateFunction => true
        case _ => false
      } catch { case NonFatal(_) => false }
    }
  }

  /** Peel HAVING / ORDER BY / LIMIT off the top of the parse tree —
    * they are PRESENTATION over the maintained aggregate view, not
    * part of the incremental fold, so each compiles to a
    * post-transform applied to the aggregate's output (in SQL order:
    * HAVING, then ORDER BY, then LIMIT). Conditions and sort keys
    * must reference SELECT aliases or group columns; aggregate calls
    * inside them fail loudly (alias the aggregate in SELECT instead —
    * the compiler cannot re-derive an un-aliased fold). */
  private def unwrapPresentation(spark: SparkSession, p: LogicalPlan)
      : (LogicalPlan, Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame],
         Seq[Expression]) = {
    def noAggCalls(e: Expression, what: String): Unit =
      e.foreach {
        case f: UnresolvedFunction if isAggregateCall(spark, f) =>
          fail(s"$what cannot contain aggregate calls: '${fragment(e)}' — " +
            "alias the aggregate in SELECT and use the alias")
        case _ =>
      }
    p match {
      case gl: GlobalLimit =>
        val n = gl.limitExpr match {
          case Literal(v: Int, _) => v
          case other => fail(s"LIMIT must be an integer literal, got '${fragment(other)}'")
        }
        val inner = gl.child match { case ll: LocalLimit => ll.child; case c => c }
        val (core, fs, es) = unwrapPresentation(spark, inner)
        (core, fs :+ ((df: DataFrame) => df.limit(n)), es)
      case srt: Sort =>
        // keys resolve lazily against the output frame so ORDER BY
        // ordinals (the parser's UnresolvedOrdinal) map to the n-th
        // output column, matching SQL semantics
        val keyOf: Seq[DataFrame => Column] = srt.order.map { so =>
          val base: DataFrame => Column = so.child match {
            case uo: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal =>
              (df: DataFrame) => {
                if (uo.ordinal < 1 || uo.ordinal > df.columns.length)
                  fail(s"ORDER BY ordinal ${uo.ordinal} out of range " +
                    s"(query has ${df.columns.length} output columns)")
                col(df.columns(uo.ordinal - 1))
              }
            case e =>
              noAggCalls(e, "ORDER BY")
              // dequalify: group columns are BARE on the output frame,
              // so `ORDER BY n.n_name` must not survive to runtime
              val frag = dequalify(spark, fragment(e))
              (_: DataFrame) => expr(frag)
          }
          val flags = (so.direction == Ascending, so.nullOrdering == NullsFirst)
          (df: DataFrame) => flags match {
            case (true, true) => base(df).asc_nulls_first
            case (true, false) => base(df).asc_nulls_last
            case (false, true) => base(df).desc_nulls_first
            case (false, false) => base(df).desc_nulls_last
          }
        }
        val (core, fs, es) = unwrapPresentation(spark, srt.child)
        (core, fs :+ ((df: DataFrame) => df.orderBy(keyOf.map(_(df)): _*)),
          es ++ srt.order.map(_.child).filterNot(
            _.isInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal]))
      case h: UnresolvedHaving =>
        val aggCalls = h.havingCondition.collect {
          case f: UnresolvedFunction if isAggregateCall(spark, f) => f
        }
        if (aggCalls.isEmpty) {
          val frag = dequalify(spark, fragment(h.havingCondition))
          val (core, fs, es) = unwrapPresentation(spark, h.child)
          (core, fs :+ ((df: DataFrame) => df.filter(expr(frag))), es :+ h.havingCondition)
        } else h.child match {
          // UNALIASED aggregates in HAVING (`HAVING COUNT(*) > 6`):
          // each distinct aggregate fragment joins the fold under a
          // HIDDEN alias, the condition text rewrites to reference it,
          // and the presentation filter drops the hidden columns after
          // filtering — so the common SQL spelling maintains exactly
          // like its aliased form. (A fragment already aliased in
          // SELECT still works: the hidden column is simply a second
          // maintained copy of the same fold.)
          case agg: Aggregate =>
            val uniq = aggCalls.map(fragment).distinct
            val names = uniq.indices.map(i => s"__having_$i")
            var condFrag = fragment(h.havingCondition)
            uniq.zip(names).sortBy(-_._1.length).foreach { case (fr, nm) =>
              condFrag = condFrag.replace(fr, nm)
            }
            val hidden = uniq.zip(names).map { case (fr, nm) =>
              Alias(spark.sessionState.sqlParser.parseExpression(fr), nm)()
            }
            val agg2 = agg.copy(
              aggregateExpressions = agg.aggregateExpressions ++ hidden)
            val frag = dequalify(spark, condFrag)
            val (core, fs, es) = unwrapPresentation(spark, agg2)
            (core,
              fs :+ ((df: DataFrame) => df.filter(expr(frag)).drop(names: _*)),
              // the ORIGINAL condition rides along for qualifier-scope
              // validation (its aggregate args carry the qualifiers)
              es :+ h.havingCondition)
          case _ =>
            fail(s"HAVING with aggregate calls requires a GROUP BY query: " +
              s"'${fragment(h.havingCondition)}'")
        }
      case other => (other, Nil, Nil)
    }
  }

  /** `explicitFk` supplies the FK graph for schemas the TPC-H naming
    * convention can't describe (the caller's catalog); omitted, the
    * graph derives from the parquet schemas via [[TreeCompiler.fkEdges]].
    *
    * SELF-JOINS (one relation under several FROM aliases) compile via
    * [[expandSelfJoins]]: each aliased instance is rewritten into its
    * own VIRTUAL relation — the engine is alias-agnostic, so a
    * hierarchy or pair-of-instances query is just another FK tree once
    * every instance has a distinct changelog identity. */
  /** `tolerateFloatFolds = true` opts OUT of the exact-fold contract:
    * DOUBLE/FLOAT SUM/AVG/SUM(DISTINCT) arguments compile, with the
    * documented caveat that double addition is not associative — a
    * retraction leaves order-dependent residue, so the maintained
    * value can drift from the batch answer by accumulated ulps (the
    * magnitude grows with churn, not data size). Exact mode stays the
    * default; prefer scaling to DECIMAL/BIGINT whenever the argument
    * has bounded decimals. */
  def compile(spark: SparkSession, dir: String, sqlText: String,
              explicitFk: Option[Seq[TreeCompiler.FkEdge]] = None,
              tolerateFloatFolds: Boolean = false): Compiled = {
    // COMPILE MEMO: a [[Compiled]] is an immutable description (specs,
    // frags, closures — no data), fully determined by (session, dir,
    // sql, fk, tolerance); the fixtures under `dir` are immutable, so
    // re-compiling the same text is pure overhead. Re-RUNNING a
    // maintained view (the bench loop, repeated refreshes) now pays
    // parse + schema probing ONCE per session — timed re-runs measure
    // execution, not recompilation. Keyed by session identity so
    // cached presentation closures never outlive their session.
    val k = (dir, sqlText, explicitFk.fold("")(_.mkString("|")), tolerateFloatFolds)
    sessionCompileCache(spark).computeIfAbsent(k, _ =>
      expandSelfJoins(spark, dir, sqlText, explicitFk) match {
        case Some((newText, mappedFk, loader)) =>
          compileWith(spark, dir, newText, Some(mappedFk), loader, tolerateFloatFolds)
        case None =>
          compileWith(spark, dir, sqlText, explicitFk, Tables.load, tolerateFloatFolds)
      })
  }

  private type CompileKey = (String, String, String, Boolean)

  /** Compile memo, WEAK-keyed by session (a closed or discarded
    * session's cached plans — and their presentation closures —
    * become collectible with it instead of living for the JVM) and
    * BOUNDED per session (access-order LRU, [[compileCacheMax]]
    * entries) so a long-lived session compiling many distinct
    * statements cannot grow without limit. The standard WeakHashMap
    * caveat applies: a [[Compiled]] capturing its own session keeps
    * that session's entry reachable — the per-session bound caps what
    * such retention can cost. */
  private val compileCacheMax = 64
  private val compileCache: java.util.Map[
      SparkSession, java.util.Map[CompileKey, Compiled]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Map[CompileKey, Compiled]]())

  private def sessionCompileCache(spark: SparkSession): java.util.Map[CompileKey, Compiled] =
    compileCache.computeIfAbsent(spark, _ =>
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[CompileKey, Compiled](16, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[CompileKey, Compiled]): Boolean =
            size() > compileCacheMax
        }))

  /** [[compile]] with RELATION OVERRIDES: the named relations resolve
    * through the given loaders instead of the parquet fixture — the
    * seam that lets a maintained view be defined OVER a versioned
    * table ([[graft.sources.SnapshotLog]] version-pinned branch or
    * as-of reads) or any other table-valued source. Schema probing,
    * FK derivation, changelog construction and scan filters all flow
    * through the override. Not combined with self-join expansion. */
  def compileOver(spark: SparkSession, dir: String, sqlText: String,
                  overrides: Map[String, (SparkSession, String) => DataFrame],
                  explicitFk: Option[Seq[TreeCompiler.FkEdge]] = None): Compiled = {
    val loader: (SparkSession, String, String) => DataFrame =
      (ss, d, name) => overrides.get(name) match {
        case Some(f) => f(ss, d)
        case None => Tables.load(ss, d, name)
      }
    compileWith(spark, dir, sqlText, explicitFk, loader)
  }

  private def compileWith(spark: SparkSession, dir: String, sqlText: String,
              explicitFk: Option[Seq[TreeCompiler.FkEdge]],
              loadRel: (SparkSession, String, String) => DataFrame,
              tolerateFloatFolds: Boolean = false): Compiled = {
    val plan: LogicalPlan = spark.sessionState.sqlParser.parsePlan(sqlText)
    // a WITH query reaching this path would die in the FROM walk with
    // an unhelpful shape error — redirect to the CTE front end
    if (plan.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith]))
      fail("WITH (CTE) queries compile via SqlCompiler.compileCte / runCte — " +
        "each CTE body becomes its own maintained view and the outer query " +
        "evaluates over the views' output")
    // likewise FROM (SELECT ...) t — the derived-table spelling of the
    // same composition (subquery predicates live in EXPRESSIONS, which
    // plan.exists does not traverse, so gates stay on this path; an
    // aliased base relation or a parenthesized JOIN subtree under an
    // alias carries no SELECT node and stays compiled here)
    if (plan.exists {
        case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          a.child match {
            case _: Project | _: Aggregate | _: Distinct | _: Sort | _: GlobalLimit => true
            case _ => false
          }
        case _ => false })
      fail("FROM (SELECT ...) derived tables compile via " +
        "SqlCompiler.compileCte / runCte — the subquery becomes its own " +
        "maintained view named by its alias")
    val (corePlan0, present, presExprs) = unwrapPresentation(spark, plan)

    // SELECT * / t.* EXPANSION (view mode): a star expands to the FROM
    // relations' columns — schema order within a relation, FROM order
    // across relations; a qualified star resolves through the alias
    // (or the base name when unaliased). Bare column names are unique
    // across the FK graph (enforced below), so the expansion is
    // unambiguous. Aggregate queries keep their existing shape checks
    // (COUNT(*) parses as a function argument, not a select-item star,
    // and is untouched here).
    def starSources(p: LogicalPlan): Seq[(String, String)] = p match {
      case Join(l, r, _, _, _) => starSources(l) ++ starSources(r)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        starSources(a.child) match {
          case Seq((_, rel)) => Seq((a.alias.toLowerCase, rel))
          case multi => multi // alias over a join subtree: base names stand
        }
      case Filter(_, c) => starSources(c)
      case u: UnresolvedRelation =>
        Seq((u.multipartIdentifier.last.toLowerCase, u.multipartIdentifier.last))
      case _ => Seq.empty // unsupported FROM shapes fail in the join walk below
    }
    def expandStars(items: Seq[NamedExpression], child: LogicalPlan): Seq[NamedExpression] = {
      val srcs = starSources(child)
      def colsOf(rel: String): Seq[NamedExpression] =
        loadRel(spark, dir, rel).schema.fieldNames.toSeq
          .map(n => UnresolvedAttribute(Seq(n)))
      items.flatMap {
        case st: UnresolvedStar => st.target match {
          case None =>
            if (srcs.isEmpty) fail("SELECT *: no base relations found in FROM")
            srcs.map(_._2).distinct.flatMap(colsOf)
          case Some(Seq(q)) =>
            val rel = srcs.collectFirst { case (al, r) if al == q.toLowerCase => r }
              .getOrElse(fail(s"SELECT $q.*: '$q' names no relation or alias in FROM"))
            colsOf(rel)
          case Some(parts) =>
            fail(s"SELECT ${parts.mkString(".")}.*: only a single-part " +
              "qualifier is supported")
        }
        case e => Seq(e)
      }
    }
    val corePlan = corePlan0 match {
      case Project(items, child) if items.exists(_.isInstanceOf[UnresolvedStar]) =>
        Project(expandStars(items, child), child)
      case Distinct(Project(items, child)) if items.exists(_.isInstanceOf[UnresolvedStar]) =>
        Distinct(Project(expandStars(items, child), child))
      case other => other
    }

    // VIEW MODE: a SELECT with no aggregate maintains the JOIN ITSELF —
    // an incrementally maintained materialized view of the FK tree.
    // Every select item becomes a grouping key over the leaf deltas;
    // "bag" restores SQL bag semantics by net-count multiplicity,
    // "distinct" (SELECT DISTINCT) is the set view.
    def viewGroups(items: Seq[Expression]): Seq[Expression] = items.map {
      case _: UnresolvedStar => fail("SELECT * is not supported — list the " +
        "columns explicitly (the maintained view's canonical rows carry only " +
        "referenced columns)")
      case Alias(child, _) => child
      case UnresolvedAlias(child, _) => child
      case e => e
    }
    val (rawGroupExprs, selectExprs, belowAgg, viewMode) = corePlan match {
      case Aggregate(g, a, child, _) => (g, a, child, None)
      case Distinct(Project(p, child)) => (viewGroups(p), p, child, Some("distinct"))
      case Project(p, child) => (viewGroups(p), p, child, Some("bag"))
      case other => fail(s"expected a grouped aggregate or projection query, got " +
        s"${other.nodeName} (the incremental engine maintains GROUP BY aggregates " +
        "and SELECT [DISTINCT] join views, with HAVING/ORDER BY/LIMIT as " +
        "presentation over the maintained view)")
    }
    // GROUP BY ROLLUP / CUBE / GROUPING SETS: compile against the FLAT
    // column list; each expanded grouping set is maintained
    // independently (exact for EVERY aggregate kind, incl. the
    // non-derivable COUNT(DISTINCT)/MIN/MAX/MEDIAN) and the results
    // union with null-padded inactive keys — same output contract as
    // Spark's Expand-based batch rollup. SELECT GROUPING(col) compiles
    // as the standard subtotal-vs-null-key disambiguation (a per-set
    // constant).
    // (BaseGroupingSets.groupByExprs/selectedGroupByExprs assert on
    // unresolved children, so the expansion is computed from the raw
    // user-given `groupingSets` item lists instead)
    def fragOf(e: Expression): String = e match {
      case a: UnresolvedAttribute => a.nameParts.last
      case other => dequalify(spark, fragment(other))
    }
    val (groupExprs, setExprs) = rawGroupExprs match {
      case Seq(bgs: BaseGroupingSets) =>
        val items: Seq[Seq[Expression]] = bgs.groupingSets
        val expanded: Seq[Seq[Expression]] = bgs match {
          case _: org.apache.spark.sql.catalyst.expressions.Rollup =>
            items.inits.toSeq.map(_.flatten) // all prefixes, incl. the grand total
          case _: org.apache.spark.sql.catalyst.expressions.Cube =>
            items.indices.foldLeft(Seq(Seq.empty[Seq[Expression]]))((acc, i) =>
              acc ++ acc.map(_ :+ items(i))).map(_.flatten) // all subsets
          case _ => items // GROUPING SETS ( ... ): the user-given sets
        }
        val seen = scala.collection.mutable.Set[String]()
        val flat = items.flatten.filter(e => seen.add(fragOf(e)))
        (flat, Some(expanded))
      case gs =>
        gs.foreach {
          case _: BaseGroupingSets =>
            fail("ROLLUP/CUBE/GROUPING SETS must be the only GROUP BY item")
          case _ =>
        }
        (gs, None)
    }

    // WHERE conjuncts + the join forest under them
    val (filterConjuncts, joinPlan) = belowAgg match {
      case Filter(cond, child) => (splitConjuncts(cond), child)
      case child => (Seq.empty[Expression], child)
    }

    // relations + ON-clause conjuncts. Table aliases (SubqueryAlias)
    // unwrap to their base relation: columns resolve by bare name
    // (unique across the FK graph — enforced below), so the alias is
    // presentation; this also routes aliased SELF-joins to the
    // dedicated error instead of a generic FROM-shape rejection.
    // alias → relations it covers, so qualified column references
    // (s.c_custkey) can be VALIDATED, not just stripped — a wrong alias
    // must fail like Spark analysis would. A single-relation alias
    // covers just its relation (and HIDES the base name, per SQL
    // scoping); an alias over a parenthesized join subtree covers every
    // relation underneath it.
    val outerOn = scala.collection.mutable.ArrayBuffer[(String, Seq[Expression])]()
    val fullOuterRels = scala.collection.mutable.Set[String]()
    def walkJoins(p: LogicalPlan): (Seq[String], Seq[Expression], Map[String, Seq[String]]) = p match {
      case Join(l, r, Inner, cond, _) =>
        val (lr, lc, la) = walkJoins(l); val (rr, rc, ra) = walkJoins(r)
        (lr ++ rr, lc ++ rc ++ cond.toSeq.flatMap(splitConjuncts), la ++ ra)
      // LEFT JOIN: the optional side compiles as the inner tree PLUS a
      // per-boundary ANTI plan (NOT EXISTS wiring) whose leaf deltas
      // are the NULL-extended rows — planned below once the owner map
      // and stage graph exist. The ON conjuncts join the common pool
      // (the FK equality becomes a tree edge; optional-side predicates
      // become that relation's scan filter, which IS outer-join ON
      // semantics: they select which children exist, never which left
      // rows survive).
      case Join(l, r, LeftOuter, cond, _) =>
        val (lr, lc, la) = walkJoins(l)
        val (rr, rc, ra) = walkJoins(r)
        if (rr.size != 1 || rc.nonEmpty)
          fail("LEFT JOIN right side must be a single base relation " +
            "(chain further LEFT JOINs instead of parenthesizing them)")
        val conj = cond.toSeq.flatMap(splitConjuncts)
        if (conj.isEmpty)
          fail(s"LEFT JOIN ${rr.head} needs an ON clause with the FK equality")
        outerOn += ((rr.head, conj))
        (lr ++ rr, lc ++ conj, la ++ ra)
      // RIGHT JOIN canonicalizes to LEFT with the children swapped
      // (the preserved side is the right subtree) — the LEFT OUTER
      // machinery then applies unchanged, including its
      // single-base-relation constraint on the now-optional side.
      case Join(l, r, RightOuter, cond, hint) =>
        walkJoins(Join(r, l, LeftOuter, cond, hint))
      // FULL OUTER = the LEFT OUTER machinery (parents with no child
      // NULL-extend) PLUS an ORPHAN plan (children with no surviving
      // parent preserve with every left-side column NULL). Compiled
      // under a deliberately narrow, loudly-enforced scope — pure-FK
      // ON, no WHERE anywhere, deletes only on the boundary pair (see
      // the validation below and Compiled.run) — because outside it,
      // SQL's outer-join/WHERE interaction silently turns the query
      // effectively inner and the maintained view would diverge.
      case Join(l, r, FullOuter, cond, _) =>
        val (lr, lc, la) = walkJoins(l)
        val (rr, rc, ra) = walkJoins(r)
        if (rr.size != 1 || rc.nonEmpty)
          fail("FULL OUTER JOIN right side must be a single base relation")
        val conj = cond.toSeq.flatMap(splitConjuncts)
        if (conj.isEmpty)
          fail(s"FULL OUTER JOIN ${rr.head} needs an ON clause with the FK equality")
        outerOn += ((rr.head, conj))
        fullOuterRels += rr.head
        (lr ++ rr, lc ++ conj, la ++ ra)
      case Join(_, _, other, _, _) if other != Inner =>
        fail(s"$other join is not compiled — INNER, LEFT, RIGHT and FULL OUTER " +
          "joins only")
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        val (rs, cs, as) = walkJoins(a.child)
        (rs, cs, as + (a.alias.toLowerCase -> rs))
      case u: UnresolvedRelation => (Seq(u.multipartIdentifier.last), Nil, Map.empty)
      case other => fail(s"unsupported FROM shape: ${other.nodeName} " +
        "(only inner FK joins of base relations are incrementally maintainable here)")
    }
    val (relations, onConjuncts, aliasOf) = walkJoins(joinPlan)
    // relations whose base name an alias hides (nation nn → 'nation' is
    // no longer a valid qualifier, matching Spark's scoping)
    val hiddenRels: Set[String] = aliasOf.collect {
      case (al, Seq(rel)) if al != rel.toLowerCase => rel
    }.toSet
    // an alias that shadows a DIFFERENT relation's base name would make
    // qualifier resolution ambiguous (Spark errors there too)
    aliasOf.foreach { case (al, covered) =>
      relations.find(r => r.toLowerCase == al && !covered.contains(r)).foreach(r =>
        fail(s"alias '$al' shadows relation '$r' — rename the alias"))
    }
    if (relations.distinct.size != relations.size)
      fail(s"self-joins are not supported in SQL text: $relations — canonical " +
        "rows key columns by NAME, so one relation joined to itself would " +
        "collide. Recipe: register the relation twice under aliased column " +
        "prefixes and run TreeCompiler.stagesFor directly (see DeltaEngineSpec " +
        "\"SELF-JOIN recipe\")")

    val schemas: Map[String, StructType] =
      relations.map(n => n -> loadRel(spark, dir, n).schema).toMap
    val owner: Map[String, String] = {
      val pairs = for ((rel, sch) <- schemas.toSeq; f <- sch.fields) yield f.name -> rel
      pairs.groupBy(_._1).map { case (c, rs) =>
        if (rs.size > 1) fail(s"column $c exists in ${rs.map(_._2).mkString(",")}")
        c -> rs.head._2
      }
    }
    def ownerOf(a: UnresolvedAttribute): String = {
      val rel = owner.getOrElse(a.nameParts.last,
        fail(s"column ${a.nameParts.mkString(".")} not found in ${relations.mkString(",")}"))
      // a qualifier, when present, must name the column's owning
      // relation or an alias OF that relation — a stale alias
      // (s.c_custkey) silently attributed by bare name would accept
      // queries Spark itself rejects at analysis
      if (a.nameParts.size > 1) {
        val q = a.nameParts(a.nameParts.size - 2).toLowerCase
        val ok = (q == rel.toLowerCase && !hiddenRels(rel)) ||
          aliasOf.get(q).exists(_.contains(rel))
        if (!ok) fail(s"qualifier '${a.nameParts.init.mkString(".")}' of " +
          s"${a.nameParts.mkString(".")} does not match the column's relation " +
          s"'$rel'${aliasOf.filter(_._2.contains(rel)).keys.headOption.map(al => s" (aliased '$al')").getOrElse("")}")
      }
      rel
    }
    // qualifiers in HAVING / ORDER BY validate against the same scope
    // (bare references there may be SELECT aliases, so only qualified
    // ones are checked)
    presExprs.foreach(_.foreach {
      case a: UnresolvedAttribute if a.nameParts.size > 1 => ownerOf(a): Unit
      case _ =>
    })

    // [NOT] EXISTS / IN-subquery conjuncts peel off here and compile as
    // incremental semi/anti GATES (processed below, once the owner map
    // exists); any OTHER subquery position fails loudly — never a
    // silent plan that re-executes a subquery per row.
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, Not, ScalarSubquery, SubqueryExpression}
    val rawGates = scala.collection.mutable.ArrayBuffer[
      (LogicalPlan, Option[UnresolvedAttribute], Boolean)]()
    // SCALAR-SUBQUERY gates: `<expr> <cmp> (SELECT <agg> FROM rel
    // [WHERE ...])` — collected as (outer expr, op symbol, sub plan,
    // subquery-on-left); parsed after ownerOf exists, resolved at RUN
    // time (the scalar is NONLINEAR in the inputs, so the view
    // refreshes it per run — see Compiled.scalarGates).
    val rawScalarGates = scala.collection.mutable.ArrayBuffer[
      (Expression, String, LogicalPlan, Boolean)]()
    val plainFilterConjuncts = filterConjuncts.filter {
      case e: Exists => rawGates += ((e.plan, None, false)); false
      case Not(e: Exists) => rawGates += ((e.plan, None, true)); false
      case b: BinaryComparison if b.right.isInstanceOf[ScalarSubquery] =>
        rawScalarGates += ((b.left, b.symbol,
          b.right.asInstanceOf[ScalarSubquery].plan, false)); false
      case b: BinaryComparison if b.left.isInstanceOf[ScalarSubquery] =>
        rawScalarGates += ((b.right, b.symbol,
          b.left.asInstanceOf[ScalarSubquery].plan, true)); false
      case in: InSubquery =>
        val outerA = in.values match {
          case Seq(a: UnresolvedAttribute) => a
          case other => fail(s"IN-subquery left side must be a plain column, got " +
            s"'${other.map(fragment).mkString(", ")}'")
        }
        rawGates += ((in.query.plan, Some(outerA), false)); false
      // NOT IN (subquery): three-valued — one NULL on EITHER side makes
      // the predicate UNKNOWN (row dropped) where an anti join keeps
      // two-valued semantics. It lowers to the anti gate ONLY in the
      // null-free-provable case, validated at the gate compile below:
      // both the subquery's selected column and the outer column must
      // be FK-graph key columns (non-null by the engine-wide key
      // contract); anything else stays loudly fenced there.
      case Not(in: InSubquery) =>
        val outerA = in.values match {
          case Seq(a: UnresolvedAttribute) => a
          case other => fail(s"NOT IN-subquery left side must be a plain column, " +
            s"got '${other.map(fragment).mkString(", ")}'")
        }
        rawGates += ((in.query.plan, Some(outerA), true)); false
      case _ => true
    }

    // LEFT JOIN scope rules. ON conjuncts: exactly one cross-scope FK
    // equality (validated as a tree edge below, with the optional side
    // as FK child) plus optional-side-only predicates. WHERE may not
    // constrain an optional relation — SQL semantics there reject the
    // NULL-extended rows (an effectively-inner query), which this
    // engine will not silently compile under a LEFT JOIN spelling.
    val outerRels: Set[String] = outerOn.map(_._1).toSet
    outerOn.foreach { case (r, conj) =>
      conj.foreach {
        case eq @ EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
            if ownerOf(a) != ownerOf(b) =>
          if (ownerOf(a) != r && ownerOf(b) != r)
            fail(s"LEFT JOIN $r ON '${fragment(eq)}' does not join '$r' itself")
        case c =>
          val owners = c.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
          if (owners != Seq(r))
            fail(s"LEFT JOIN ON predicate '${fragment(c)}' must reference only " +
              s"the optional side '$r' — a left-side predicate belongs in WHERE")
      }
    }
    if (outerRels.nonEmpty) plainFilterConjuncts.foreach { c =>
      c.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
        // a FULL OUTER child's WHERE is legal — handled below by
        // dropping the NULL-extension plan, which IS SQL's answer
        .filter(r => outerRels(r) && !fullOuterRels(r)).foreach(r =>
          fail(s"WHERE predicate '${fragment(c)}' references LEFT-JOINed " +
            s"relation '$r' — it would reject the NULL-extended rows; move it " +
            "into the ON clause, or use an inner JOIN if that is the intent"))
    }
    // FULL OUTER × WHERE. SQL evaluates WHERE AFTER the join, so a
    // null-rejecting conjunct kills one preservation direction
    // outright: a predicate on any LEFT-side relation is NULL on
    // every orphan (right-preserved) row, a predicate on the boundary
    // child is NULL on every NULL-extension row. The compile
    // therefore DROPS the corresponding plan — which is exactly SQL's
    // result, not an approximation — and the predicates then apply as
    // ordinary scan filters to the surviving plans.
    //
    // IS [NOT] NULL on a BOUNDARY JOIN KEY compiles too — it is the
    // find-the-orphans idiom, and each reading selects a plan the
    // machinery already maintains (under the engine-wide non-null
    // FK-key assumption, stated at the gate compile below, a boundary
    // key is NULL exactly when its side was extended by the join):
    //   parentKey IS NULL     → ONLY the orphan rows: keep the orphan
    //                           plan, drop the anti plan, and the
    //                           main (inner) tree contributes nothing;
    //   childKey IS NULL      → ONLY the NULL-extension rows: keep
    //                           the anti plan, drop the orphan plan,
    //                           main tree contributes nothing;
    //   parentKey IS NOT NULL → rejects orphans: drop the orphan plan
    //                           (scan-filter guards base NULLs);
    //   childKey IS NOT NULL  → rejects extensions: drop the anti
    //                           plan (likewise).
    // IS NULL on any NON-key column stays loudly uncompiled: a base
    // row can carry a genuine NULL there, which passes SQL's WHERE on
    // inner rows too — not representable by plan selection.
    //
    // Remaining loud fences: conjuncts that are neither provably
    // null-rejecting nor a boundary-key null test (COALESCE / CASE
    // can PASS on the extended rows — dropping a plan would then be
    // wrong), multiple FULL boundaries under one WHERE (each conjunct
    // would interact with every boundary's extension rows), and
    // combinations that select NO plan at all (a provably empty view
    // is almost surely a query bug — fail, don't return empty).
    val fullOuterDropOrphan = scala.collection.mutable.Set[String]()
    val fullOuterDropAnti = scala.collection.mutable.Set[String]()
    var fullOuterOrphanOnly = false
    var fullOuterAntiOnly = false
    // two-boundary classes 3 and 4 (orphan-B rows with / without C
    // children) — see the NESTED TWO-BOUNDARY section below
    var dropOrphanBWithC = false
    var dropOrphanBNoC = false
    var twoBoundaryMainSuppressed = false
    // star two-boundary classes dropped by WHERE class selection
    // (2 a-no-b, 3 b-no-a, 4 both-absent, 5 a-orphans, 6 b-orphans)
    val starDrop = scala.collection.mutable.Set[Int]()
    val fullOuterIsNullConjuncts = scala.collection.mutable.ArrayBuffer[Expression]()
    if (fullOuterRels.size > 2)
      fail("more than two FULL OUTER boundaries are not compiled — the " +
        "preservation-plan matrix grows a plan per boundary-state combination")
    // NESTED TWO-BOUNDARY pair (b, c): c's boundary parent is b itself.
    // SQL's double FULL OUTER decomposes into SIX disjoint row classes —
    //   1 inner⋈inner (main tree)      4 orphan-B with NO C child
    //   2 anti-B (P rows w/o B; C nul) 5 anti-C (tree-alive B w/o C)
    //   3 orphan-B ⋈ its C children    6 orphan-C (C w/o ANY B parent)
    // — because a FULL boundary at b keeps EVERY b row in the joined
    // left side: an orphaned b still parents its c children (class 3)
    // and c-orphanhood is against ALL b rows, not tree-alive ones
    // (class 6 keys off b's RAW changelog). Classes 2 and 5 are the
    // ordinary anti plans; 3, 4, 6 are built in the orphan section.
    // STAR pair (a, b): two FULL boundaries whose parents are both
    // INNER relations — their preservation plans factorize (one
    // boundary's extension rows carry NULL join keys for the other,
    // so extensions cannot interact) into the per-boundary product:
    //   1 inner⋈a⋈b (the pair-product main tree)
    //   2 inner⋈a, no b        4 inner, no a, no b
    //   3 inner⋈b, no a        5/6 a-orphans / b-orphans
    // Built in the STAR section of the plan construction below.
    val (twoBoundary, starBoundary): (Option[(String, String)], Option[(String, String)]) =
      if (fullOuterRels.size != 2) (None, None)
      else {
        def boundaryParentOf(r: String): Option[String] =
          outerOn.filter(_._1 == r).flatMap(_._2).collectFirst {
            case EqualTo(a: UnresolvedAttribute, b0: UnresolvedAttribute)
                if ownerOf(a) != ownerOf(b0) =>
              if (ownerOf(a) == r) ownerOf(b0) else ownerOf(a)
          }
        val nested = fullOuterRels.toSeq
          .flatMap(r => boundaryParentOf(r).filter(fullOuterRels).map(b0 => (b0, r)))
        nested match {
          case Seq(pair) => (Some(pair), None)
          case Seq() =>
            val Seq(a, b) = fullOuterRels.toSeq.sorted
            (None, Some((a, b)))
          case _ => fail("the two FULL OUTER boundaries reference each other's " +
            "keys in both ONs — not a tree shape")
        }
      }
    if (fullOuterRels.nonEmpty) {
      if (plainFilterConjuncts.nonEmpty && twoBoundary.isDefined) {
        // the two-boundary WHERE matrix over the six classes: each
        // class has a NULL-side relation set (which relations the
        // extension nulls out), and every conjunct INTERSECTS the kept
        // set — a null-rejecting predicate keeps the classes where its
        // relations are non-NULL; a boundary-key IS NULL keeps exactly
        // the classes where that key's owner IS nulled (the
        // find-the-orphans idiom, consumed as plan selection, never a
        // scan filter); IS NOT NULL keeps the complement AND stays a
        // scan filter (a base-data NULL key never joins).
        val (bRel, cRel) = twoBoundary.get
        val allClasses = Set(1, 2, 3, 4, 5, 6)
        def nullClassesOf(rel: String): Set[Int] =
          if (rel == bRel) Set(2, 6)
          else if (rel == cRel) Set(2, 4, 5)
          else Set(3, 4, 6) // prefix side
        // boundary join-key columns, read from the two FULL ONs
        val boundaryKeyOwners: Map[(String, String), String] =
          outerOn.filter(e => fullOuterRels(e._1)).flatMap(_._2).flatMap {
            case EqualTo(a: UnresolvedAttribute, b0: UnresolvedAttribute)
                if ownerOf(a) != ownerOf(b0) =>
              Seq((ownerOf(a), a.nameParts.last) -> ownerOf(a),
                (ownerOf(b0), b0.nameParts.last) -> ownerOf(b0))
            case _ => Nil
          }.toMap
        def keyOwnerOf(a: UnresolvedAttribute): Option[String] =
          boundaryKeyOwners.get((ownerOf(a), a.nameParts.last))
        // PRECONDITION (same as the single-boundary path below): class
        // selection reads `key IS NULL` as "this side was null-EXTENDED
        // by the outer join", which is only equivalent to SQL when the
        // boundary join keys are never NULL in base data. A preserved
        // row carrying a genuinely NULL key satisfies IS NULL in SQL
        // but belongs to a deselected class here. The keys are FK/PK
        // columns of the schema-derived FK graph (validated below),
        // which this engine requires NOT NULL — rows violating that
        // never join and are out of contract for maintained views.
        var kept: Set[Int] = allClasses
        plainFilterConjuncts.foreach {
          case conj @ IsNull(a: UnresolvedAttribute) if keyOwnerOf(a).isDefined =>
            fullOuterIsNullConjuncts += conj
            kept = kept.intersect(nullClassesOf(keyOwnerOf(a).get))
          case IsNotNull(a: UnresolvedAttribute) if keyOwnerOf(a).isDefined =>
            kept = kept.diff(nullClassesOf(keyOwnerOf(a).get))
          case conj =>
            if (!nullRejecting(conj))
              fail(s"two-boundary FULL OUTER WHERE predicate '${fragment(conj)}' " +
                "is not provably NULL-rejecting (and not a boundary-key " +
                "IS [NOT] NULL test) — it could hold on NULL-extended rows, " +
                "which this compile cannot maintain")
            conj.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
              .foreach(o => kept = kept.diff(nullClassesOf(o)))
        }
        if (kept.isEmpty)
          fail("two-boundary FULL OUTER WHERE conjuncts select no class — " +
            "the view is provably empty (contradictory boundary-key tests)")
        if (!kept(1)) twoBoundaryMainSuppressed = true
        if (!kept(2)) fullOuterDropAnti += bRel
        if (!kept(3)) dropOrphanBWithC = true
        if (!kept(4)) dropOrphanBNoC = true
        if (!kept(5)) fullOuterDropAnti += cRel
        if (!kept(6)) fullOuterDropOrphan += cRel
      }
      if (plainFilterConjuncts.nonEmpty && starBoundary.isDefined) {
        // the STAR WHERE matrix: six classes again, but the NULL-side
        // sets are the per-boundary PRODUCT (extensions cannot
        // interact) — a is null in {3,4,6}, b in {2,4,5}, the shared
        // parent side exactly in the two orphan classes {5,6}. The
        // same selection rules as the nested matrix apply, including
        // the non-null-key precondition documented there.
        val (aRel, bRel) = starBoundary.get
        val allClasses = Set(1, 2, 3, 4, 5, 6)
        def nullClassesOf(rel: String): Set[Int] =
          if (rel == aRel) Set(3, 4, 6)
          else if (rel == bRel) Set(2, 4, 5)
          else Set(5, 6) // the shared inner parent side
        val boundaryKeyOwners: Map[(String, String), String] =
          outerOn.filter(e => fullOuterRels(e._1)).flatMap(_._2).flatMap {
            case EqualTo(a: UnresolvedAttribute, b0: UnresolvedAttribute)
                if ownerOf(a) != ownerOf(b0) =>
              Seq((ownerOf(a), a.nameParts.last) -> ownerOf(a),
                (ownerOf(b0), b0.nameParts.last) -> ownerOf(b0))
            case _ => Nil
          }.toMap
        def keyOwnerOf(a: UnresolvedAttribute): Option[String] =
          boundaryKeyOwners.get((ownerOf(a), a.nameParts.last))
        var kept: Set[Int] = allClasses
        plainFilterConjuncts.foreach {
          case conj @ IsNull(a: UnresolvedAttribute) if keyOwnerOf(a).isDefined =>
            fullOuterIsNullConjuncts += conj
            kept = kept.intersect(nullClassesOf(keyOwnerOf(a).get))
          case IsNotNull(a: UnresolvedAttribute) if keyOwnerOf(a).isDefined =>
            kept = kept.diff(nullClassesOf(keyOwnerOf(a).get))
          case conj =>
            if (!nullRejecting(conj))
              fail(s"star FULL OUTER WHERE predicate '${fragment(conj)}' " +
                "is not provably NULL-rejecting (and not a boundary-key " +
                "IS [NOT] NULL test) — it could hold on NULL-extended rows, " +
                "which this compile cannot maintain")
            conj.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
              .foreach(o => kept = kept.diff(nullClassesOf(o)))
        }
        if (kept.isEmpty)
          fail("star FULL OUTER WHERE conjuncts select no class — the view " +
            "is provably empty (contradictory boundary-key tests)")
        if (!kept(1)) twoBoundaryMainSuppressed = true
        starDrop ++= allClasses.diff(kept + 1)
      }
      if (plainFilterConjuncts.nonEmpty && twoBoundary.isEmpty &&
          starBoundary.isEmpty) {
        val r = fullOuterRels.head
        // the boundary's two key columns, read from the bare FK
        // equality in this boundary's ON (validated just below):
        // owner relation -> key column name
        val boundaryKeys: Map[String, String] =
          outerOn.filter(_._1 == r).flatMap(_._2).collectFirst {
            case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
                if ownerOf(a) != ownerOf(b) =>
              Map(ownerOf(a) -> a.nameParts.last, ownerOf(b) -> b.nameParts.last)
          }.getOrElse(Map.empty)
        def boundaryKeyOwner(a: UnresolvedAttribute): Option[String] = {
          val owner = ownerOf(a)
          boundaryKeys.get(owner).filter(_ == a.nameParts.last).map(_ => owner)
        }
        plainFilterConjuncts.foreach {
          case c @ IsNull(a: UnresolvedAttribute) if boundaryKeyOwner(a).isDefined =>
            fullOuterIsNullConjuncts += c // plan selection, never a scan filter
            if (boundaryKeyOwner(a).contains(r)) { // child key NULL → extensions only
              fullOuterAntiOnly = true; fullOuterDropOrphan += r
            } else { // parent key NULL → orphans only
              fullOuterOrphanOnly = true; fullOuterDropAnti += r
            }
          case IsNotNull(a: UnresolvedAttribute) if boundaryKeyOwner(a).isDefined =>
            // rejects exactly one preservation direction; the conjunct
            // ALSO stays a scan filter (a base-data NULL key never
            // joins, so SQL extends then rejects such rows — the scan
            // filter removes them at the source)
            if (boundaryKeyOwner(a).contains(r)) fullOuterDropAnti += r
            else fullOuterDropOrphan += r
          case c =>
            if (!nullRejecting(c))
              fail(s"FULL OUTER WHERE predicate '${fragment(c)}' is not provably " +
                "NULL-rejecting (COALESCE / CASE / IF forms, and IS [NOT] NULL " +
                "on a non-key column, can hold on the join's NULL-extended " +
                "rows, which this compile cannot maintain) — rewrite as a " +
                "plain comparison/IN/LIKE conjunct, test a boundary join key, " +
                "or model it as changelog deletes")
        }
        val owners = plainFilterConjuncts
          .filterNot(fullOuterIsNullConjuncts.contains)
          .flatMap(c => c.collect { case a: UnresolvedAttribute => ownerOf(a) }).distinct
        if (owners.exists(_ != r)) fullOuterDropOrphan += r
        if (owners.contains(r)) fullOuterDropAnti += r
        if ((fullOuterOrphanOnly && fullOuterDropOrphan(r)) ||
            (fullOuterAntiOnly && fullOuterDropAnti(r)) ||
            (fullOuterOrphanOnly && fullOuterAntiOnly))
          fail("FULL OUTER WHERE conjuncts select no surviving plan — the view " +
            "is provably empty (an IS NULL boundary-key test combined with a " +
            "conjunct that rejects that same preserved side)")
      }
      fullOuterRels.foreach { r =>
        val conj = outerOn.filter(_._1 == r).flatMap(_._2)
        conj.foreach {
          case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
              if ownerOf(a) != ownerOf(b) => // the FK edge, validated later
          case c => fail(s"FULL OUTER JOIN $r ON predicate '${fragment(c)}' is " +
            "not compiled: a failing ON predicate PRESERVES the row on both " +
            "sides (unlike LEFT JOIN's child-existence reading) — only the " +
            "bare FK equality is supported")
        }
      }
    }

    // classify conjuncts: FK equi-joins vs single-relation predicates
    // boundary-key IS NULL conjuncts were consumed above as plan
    // selection — they must never reach the scan filters (they would
    // empty the very changelogs the surviving plan maintains)
    val conjuncts =
      plainFilterConjuncts.filterNot(fullOuterIsNullConjuncts.contains) ++ onConjuncts
    conjuncts.foreach(c => c.foreach {
      case _: SubqueryExpression => fail(s"subquery inside '${fragment(c)}' — " +
        "subqueries compile only as TOP-LEVEL WHERE conjuncts of the form " +
        "[NOT] EXISTS(...) or <col> IN (SELECT ...)")
      case _ =>
    })
    val (joinConds, localPreds) = conjuncts.partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) => ownerOf(a) != ownerOf(b)
      case c =>
        val owners = c.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
        if (owners.size > 1) fail(s"non-equi condition spans ${owners.mkString(",")}: " +
          s"'${fragment(c)}' — only FK equi-joins are incrementally maintainable")
        false
    }

    // validate join conditions against the schema-derived FK graph and
    // orient each as child→parent
    val rels = relations.map(n => TreeCompiler.RelationSchema(n, schemas(n).fieldNames.toSeq))
    val fkEdges = explicitFk.getOrElse(TreeCompiler.fkEdges(rels))
    val queryEdges = joinConds.map {
      case eq @ EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        val (an, bn) = (a.nameParts.last, b.nameParts.last)
        val (ar, br) = (ownerOf(a), ownerOf(b))
        fkEdges.find(e => e.child == ar && e.fkCol == an && e.parent == br && e.parentCol == bn)
          .orElse(fkEdges.find(e => e.child == br && e.fkCol == bn && e.parent == ar && e.parentCol == an))
          .getOrElse(fail(s"'${fragment(eq)}' is not an FK edge of the derived graph " +
            s"(edges: ${fkEdges.map(e => s"${e.child}.${e.fkCol}→${e.parent}.${e.parentCol}").mkString(", ")})"))
      case other => fail(s"unsupported join condition '${fragment(other)}'")
    }
    if (queryEdges.size != relations.size - 1)
      fail(s"need ${relations.size - 1} FK join conditions linking ${relations.size} " +
        s"relations, got ${queryEdges.size}")

    // the edges must form a connected acyclic FK join graph —
    // multi-parent facts decompose into per-FK liveness stages, shared
    // dimensions glue their branches with pair stages; stagesFor
    // validates and plans both
    // ---- [NOT] EXISTS / IN gates → set-semantics key node + liveness
    // hop. The subquery compiles to a root KEY node (set semantics over
    // the correlation column alone — the distinct matching-key set);
    // its 0→1/1→0 deltas gate the correlated relation's changelog
    // through an EXTRA liveness hop spliced in front of that relation's
    // first tree stage (inverted via NodeSpec.antiParent for NOT
    // EXISTS). Each gate costs one co-partitioned shuffle on the
    // correlation key; chained gates on one relation compose like the
    // multi-parent decomposition. NULL keys match NULL keys — the
    // engine-wide non-null FK-key assumption; NOT IN lowers onto the
    // anti gate only when both its columns are key columns under that
    // contract (validated below), and stays loudly fenced otherwise.
    def parseGatePlan(p: LogicalPlan): (Seq[Expression], Seq[Expression], String) = p match {
      case Project(items, child) =>
        val (_, cs, r) = parseGatePlan(child); (items, cs, r)
      case Filter(c, child) =>
        val (its, cs, r) = parseGatePlan(child); (its, splitConjuncts(c) ++ cs, r)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        parseGatePlan(a.child)
      case u: UnresolvedRelation => (Nil, Nil, u.multipartIdentifier.last)
      case other => fail(s"unsupported subquery FROM shape: ${other.nodeName} — " +
        "a gate subquery is a single base relation with an optional WHERE")
    }
    final case class Gate(subRel: String, subKey: String, outerRel: String,
                          outerCol: String, anti: Boolean, inGate: Boolean,
                          subWheres: Seq[Expression])
    val gates: Seq[Gate] = rawGates.toSeq.map { case (subPlan, inValue, anti) =>
      val (items, subConjs, subRel) = parseGatePlan(subPlan)
      if (relations.contains(subRel))
        fail(s"subquery over '$subRel', which is also in FROM — a self-semi/anti " +
          "join is not compiled yet (alias the subquery side once the self-join " +
          "expansion covers subqueries)")
      val subCols = loadRel(spark, dir, subRel).schema.fieldNames.toSet
      owner.keySet.intersect(subCols).toSeq.sorted.headOption.foreach(c =>
        fail(s"column '$c' exists in both the outer query and subquery relation " +
          s"'$subRel' — scope classification would be ambiguous"))
      // Some(true) = subquery column, Some(false) = outer column
      def side(a: UnresolvedAttribute): Option[Boolean] = {
        val n = a.nameParts.last
        if (subCols(n)) Some(true) else if (owner.contains(n)) Some(false) else None
      }
      subConjs.foreach(_.foreach {
        case a: UnresolvedAttribute if side(a).isEmpty =>
          fail(s"column ${a.nameParts.mkString(".")} not found in subquery " +
            s"relation '$subRel' or the outer query")
        case _ =>
      })
      val (corr, local) = subConjs.partition {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          side(a) != side(b)
        case _ => false
      }
      local.foreach(c =>
        c.collect { case a: UnresolvedAttribute => a }.find(a => side(a).contains(false))
          .foreach(a => fail(s"subquery predicate '${fragment(c)}' references outer " +
            s"column ${a.nameParts.last} — only the single correlation equality " +
            "may cross scopes")))
      val (subKey, outerAttr) = inValue match {
        case Some(outerA) =>
          // IN: the projected column is the matching key; the implicit
          // equality IS the correlation, so none may appear in WHERE
          if (corr.nonEmpty) fail(s"IN subquery over '$subRel' cannot also carry " +
            s"cross-scope equalities (${corr.map(fragment).mkString(", ")})")
          val k = items match {
            case Seq(UnresolvedAlias(a: UnresolvedAttribute, _)) => a.nameParts.last
            case Seq(Alias(a: UnresolvedAttribute, _)) => a.nameParts.last
            case Seq(a: UnresolvedAttribute) => a.nameParts.last
            case other => fail(s"IN subquery must select exactly one plain column " +
              s"of '$subRel', got '${other.map(fragment).mkString(", ")}'")
          }
          if (!subCols(k)) fail(s"IN subquery selects '$k', not a column of '$subRel'")
          if (anti) {
            // NOT IN's null-free-provable case: both sides must be
            // key-convention columns of the FK graph — the engine-wide
            // contract holds them NOT NULL, so NOT IN ≡ the anti gate.
            // A nullable (non-key) column on EITHER side keeps the
            // loud three-valued fence: an outer NULL makes NOT IN
            // UNKNOWN (row dropped) while the gate would KEEP the row;
            // a subquery-side NULL empties NOT IN entirely.
            def keyCol(c: String) = c.toLowerCase.endsWith("key")
            val oc = outerA.nameParts.last
            if (!keyCol(k) || !keyCol(oc))
              fail(s"NOT IN (subquery) compiles only when both columns are " +
                s"FK-graph key columns (NOT NULL by the engine's key contract); " +
                s"got '$oc' NOT IN (SELECT $k ...) — a NULL on either side makes " +
                "NOT IN three-valued where the anti join is two-valued. Rewrite " +
                "as NOT EXISTS with an explicit correlation equality to opt in.")
          }
          (k, outerA)
        case None => corr match {
          case Seq(EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)) =>
            if (side(a).contains(true)) (a.nameParts.last, b) else (b.nameParts.last, a)
          case other => fail(s"EXISTS subquery over '$subRel' needs exactly ONE " +
            s"correlation equality <$subRel column> = <outer column>, got ${other.size}")
        }
      }
      Gate(subRel, subKey, ownerOf(outerAttr), outerAttr.nameParts.last, anti,
        inValue.isDefined, local)
    }
    if (gates.map(_.subRel).distinct.size != gates.size)
      fail(s"multiple subquery gates over one relation " +
        s"(${gates.map(_.subRel)}) — each gate owns its relation's changelog identity")
    gates.find(g => outerRels(g.outerRel)).foreach(g =>
      fail(s"[NOT] EXISTS correlated to LEFT-JOINed relation '${g.outerRel}' — " +
        "a WHERE-level gate rejects its NULL-extended rows (three-valued " +
        "semantics); gate an inner relation instead"))

    // GATES × FULL OUTER: SQL evaluates WHERE-level gates on the
    // JOINED row (join-then-filter), which pins two things the naive
    // gate-as-liveness reading gets wrong. (1) On a right-preserved
    // (orphan) row every inner column is the structural NULL of an
    // absent relation, so the gate decides the orphan CLASS statically:
    // NOT EXISTS over an empty correlation is TRUE — orphans pass
    // untouched; EXISTS and IN are FALSE/UNKNOWN — the orphan class is
    // simply not built; NOT IN is UNKNOWN on a NULL left side even when
    // null-free-provable over base data (the orphan NULL is structural,
    // not data) — not built either. (2) Children of a gate-FAILING
    // parent matched at JOIN time and are WHERE-dropped as matched
    // rows — they must NOT resurrect as orphans, so the orphan plan
    // below keys off the UNGATED prefix (join-time liveness).
    if (gates.nonEmpty && fullOuterRels.nonEmpty) {
      val nonAnti = gates.exists(g => !g.anti || g.inGate)
      (twoBoundary, starBoundary) match {
        case (Some((bR, cR)), _) =>
          // nested classes 3/4/6 carry the prefix's structural NULLs —
          // the gate decides them statically; 1/2/5 have a live prefix
          // and gate dynamically through the gated stage list
          if (nonAnti) {
            dropOrphanBWithC = true; dropOrphanBNoC = true
            fullOuterDropOrphan += cR
            if (twoBoundaryMainSuppressed && fullOuterDropAnti(bR) &&
                fullOuterDropAnti(cR))
              fail("the view is provably EMPTY: the WHERE selects only " +
                "prefix-NULL classes, but an EXISTS/IN gate on an inner " +
                "relation is never TRUE on their structural NULLs")
          }
        case (_, Some(_)) =>
          // star classes 5/6 (boundary orphans, parent side NULL) decide
          // statically; 1-4 have a live parent and gate dynamically
          if (nonAnti) {
            starDrop ++= Set(5, 6)
            if (twoBoundaryMainSuppressed && starDrop(2) && starDrop(3) &&
                starDrop(4))
              fail("the view is provably EMPTY: the WHERE selects only the " +
                "orphan classes, but an EXISTS/IN gate on an inner relation " +
                "is never TRUE on their structural NULLs")
          }
        case _ =>
          if (nonAnti) {
            fullOuterRels.foreach(fullOuterDropOrphan += _)
            if (fullOuterOrphanOnly)
              fail("the view is provably EMPTY: IS NULL selects only the " +
                "right-preserved class, but an EXISTS/IN gate on an inner " +
                "relation is never TRUE on its structural NULLs")
          }
      }
    }
    if (rawScalarGates.nonEmpty && fullOuterRels.nonEmpty)
      fail("scalar-subquery gates alongside FULL OUTER boundaries are not " +
        "compiled — the gate applies as a scan filter (filter-then-join), " +
        "which would manufacture preserved rows SQL's join-then-filter drops")

    // SCALAR-SUBQUERY gates: an UNCORRELATED single-relation aggregate
    // subquery compared against one relation's expression. The scalar
    // is NONLINEAR (a single input row can move it and flip EVERY
    // row's predicate), so it cannot ride the incremental state — it
    // resolves at RUN time from the survivor scan and the comparison
    // becomes that relation's scan filter for the refresh
    // ([[Compiled.withScalarGatesResolved]]); the streaming path
    // fences it loudly.
    val scalarGates: Seq[ScalarGateSpec] = rawScalarGates.toSeq.map {
      case (outerExpr, op, subPlan, subOnLeft) =>
        val owners = outerExpr.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct
        val outerRel = owners match {
          case Seq(r) => r
          case other => fail(s"scalar-subquery comparison " +
            s"'${fragment(outerExpr)}' must test exactly one relation's " +
            s"columns, references ${other.mkString(", ")}")
        }
        if (outerRels(outerRel))
          fail(s"scalar-subquery gate on LEFT-JOINed relation '$outerRel' — " +
            "a WHERE-level gate rejects its NULL-extended rows")
        val (items, subConjs, subRel) = parseGatePlan(subPlan)
        val aggItem = items match {
          case Seq(Alias(child, _)) => child
          case Seq(UnresolvedAlias(child, _)) => child
          case Seq(e) => e
          case other => fail(s"scalar subquery over '$subRel' must SELECT " +
            s"exactly one item, got ${other.size}")
        }
        aggItem match {
          case f: UnresolvedFunction if isAggregateCall(spark, f) =>
          case other => fail(s"scalar subquery over '$subRel' must select an " +
            s"AGGREGATE (got '${fragment(other)}') — a non-aggregate scalar " +
            "subquery is not single-row by construction")
        }
        // no cross-scope references: every column in the subquery's
        // WHERE must belong to the subquery relation itself
        val subSchema = loadRel(spark, dir, subRel).schema.fieldNames.toSet
        subConjs.foreach(c =>
          c.collect { case a: UnresolvedAttribute => a }.foreach { a =>
            if (!subSchema(a.nameParts.last))
              fail(s"scalar subquery predicate '${fragment(c)}' references " +
                s"'${a.nameParts.mkString(".")}' — correlated scalar " +
                "subqueries are not compiled (the gate is a global scalar)")
          })
        ScalarGateSpec(outerRel, dequalify(spark, fragment(outerExpr)), op,
          subOnLeft, subRel, fragment(aggItem), subConjs.map(fragment))
    }

    val soloGated = relations.size == 1 && gates.nonEmpty
    val baseStages =
      if (soloGated)
        Seq(DeltaEngine.Stage("__solo", NodeSpec(relations.head,
          gates.head.outerCol, gates.head.outerCol, isRoot = true)))
      else TreeCompiler.stagesFor(queryEdges, relations)

    val gatedStages = gates.zipWithIndex.foldLeft(baseStages) { case (sts, (g, i)) =>
      val idx = sts.indexWhere(st => st.spec.relation == g.outerRel && st.ownStage.isEmpty)
      val entry = sts(idx)
      val keysName = s"__gate${i}_keys"
      val hopName = s"__gate${i}_hop"
      val keys = DeltaEngine.Stage(keysName,
        NodeSpec(g.subRel, g.subKey, g.subKey, isRoot = true, setSemantics = true))
      val hop = DeltaEngine.Stage(hopName,
        NodeSpec(g.outerRel, g.outerCol, entry.spec.childKeyCol, antiParent = g.anti),
        parentStage = Some(keysName))
      sts.patch(idx, Seq(keys, hop, entry.copy(ownStage = Some(hopName))), 1)
    }
    // a single-relation outer query plans only WITH gates (the gate hop
    // provides the liveness a join tree otherwise would): the surgery
    // ran against a synthetic passthrough root, dropped here so the
    // last gate hop IS the leaf — no identity exchange survives
    val stages =
      if (soloGated) gatedStages.filterNot(_.name == "__solo") else gatedStages
    // the JOIN-TIME (pre-gate) stage list: a FULL OUTER orphan plan
    // keys off this one, because SQL decides orphan-ness BEFORE
    // WHERE-level gates apply (see the GATES × FULL OUTER note above —
    // a gate-failing parent still matched its children at join time)
    val ungatedStages =
      if (gates.isEmpty) stages else baseStages
    // Source changelogs arrive keyed per the MAIN list's first raw
    // stage of each relation — which is the GATE HOP's correlation
    // column when the relation carries a gate. A preservation plan
    // whose own raw consumers expect a different key re-keys that
    // relation's changelog from the canon (OuterPlan.rekey): key-only
    // liveness nodes rebuild their canon from Evt.key, so a drifted
    // key would silently track the wrong entity.
    def rekeyFor(planStages: Seq[DeltaEngine.Stage]): Seq[(String, String)] = {
      def logKey(rel: String): Option[String] =
        stages.find(st => st.spec.relation == rel && st.ownStage.isEmpty)
          .map(_.spec.childKeyCol)
      val wants = planStages.filter(_.ownStage.isEmpty)
        .map(st => (st.spec.relation, st.spec.childKeyCol)).distinct
      wants.groupBy(_._1).foreach { case (rel, ws) =>
        if (ws.size > 1)
          fail(s"preservation plan consumes '$rel' raw under two keys " +
            s"${ws.map(_._2).mkString(", ")} — not wired")
      }
      // every drifted relation re-keys engine-side from the canon (the
      // pair-star both-absent plan drifts BOTH boundary parents)
      wants.filter { case (rel, want) => logKey(rel).exists(_ != want) }
    }
    // relation order with every parent before its children (the order
    // the stages consume their changelogs in)
    val path = stages.filter(_.ownStage.isEmpty).map(_.spec.relation)

    // LEFT JOIN boundaries → per-boundary ANTI plans: truncate the
    // stage list just above the optional relation (stage references
    // only point backward, so a prefix is always reference-closed) and
    // splice the NOT EXISTS wiring — a set-semantics key node over the
    // optional side's correlation column, whose 0↔1 flips gate the
    // parent through an antiParent hop. The hop emits parents with NO
    // matching child, parent columns only — the NULL-extension is the
    // optional subtree's columns simply being absent from the canon.
    // FULL OUTER leaf FUSION: when the boundary child is the LEAF
    // stage of a chain-shaped plan and the inner view runs (not an
    // IS-NULL orphan-only reading), the orphan direction folds into
    // the leaf node itself (NodeSpec.fullOuterLeaf: bare child rows
    // emitted while the parent is dead, swapped against merged rows
    // on every liveness flip) instead of compiling a separate 2-stage
    // orphan plan — one shuffle and ONE buffered-children state over
    // the tree's largest relation instead of two. Ancestor deletes
    // orphan transitively because the leaf's parent deltas ARE the
    // tree prefix's merged emissions. The separate plan remains for
    // orphan-only views and non-leaf/non-chain topologies.
    val fusedOrphanRels: Set[String] = fullOuterRels.toSet.filter { r =>
      // single-boundary only: with a nested second boundary, the fused
      // leaf would gate C-orphanhood on B's TREE liveness, but an
      // orphaned B still parents its C children (class 3). Gate-free
      // only: the fused leaf reads the GATED prefix's liveness, but
      // orphan-ness is decided at JOIN time, before gates (see the
      // GATES × FULL OUTER note) — the separate ungated-prefix orphan
      // plan carries that direction instead.
      fullOuterRels.size == 1 && gates.isEmpty &&
      !fullOuterDropOrphan(r) && !fullOuterOrphanOnly && !fullOuterAntiOnly &&
        stages.count(_.spec.relation == r) == 1 && {
          val k = stages.indexWhere(_.spec.relation == r)
          k == stages.length - 1 && stages(k).ownStage.isEmpty &&
            stages(k).pairStage.isEmpty &&
            queryEdges.find(_.child == r).exists { edge =>
              val kept = stages.take(k)
              kept.nonEmpty && kept.last.spec.relation == edge.parent &&
                kept.last.spec.nextKeyCol == edge.parentCol &&
                kept.forall(_.pairStage.isEmpty) &&
                stages(k).parentStage.contains(kept.last.name)
            }
        }
    }
    val restrictedFullOuter = scala.collection.mutable.ArrayBuffer[(String, String)]()

    // STAR TWO-BOUNDARY preservation plans: both FULL boundaries hang
    // off ONE inner relation (the root), so SQL's double FULL OUTER is
    // the per-boundary product — the main tree is the pair-product
    // (a × b per parent), and the five remaining classes are chains
    // with NOT-EXISTS gates plus the two per-boundary orphan plans:
    //   P_a∅  parent⋈a where b-absent     (class 2)
    //   P_∅b  parent⋈b where a-absent     (class 3)
    //   P_∅∅  bare parent, both absent    (class 4)
    //   P_5/6 a-orphans / b-orphans (no live parent; EXACT — the
    //         parent is the ROOT, so its changelog IS its liveness)
    // Scope (loud): both boundaries FK children of the shared root ON
    // THE SAME parent key column, no LEFT JOINs alongside; the inner
    // relations above the root may form a CHAIN — every factorized
    // plan builds on the chain prefix, and the orphan key nodes
    // consume the prefix's merged emissions, so ancestor deletes
    // orphan transitively (boundaries off DIFFERENT inner relations
    // route to the pair-star path below, chain prefixes included).
    // PAIR-STAR preservation plans: the two FULL boundaries hang off
    // DIFFERENT inner relations of a dimension-bridged core (orders
    // off customer, lineitem off supplier, customer and supplier
    // bridged by nation — the `incremental_shared_dim` composition).
    // The factorization is still exact: boundary a correlates on a
    // core attribute boundary b's NULL-extensions carry as NULL, so
    // extensions cannot interact, and SQL's nested double FULL OUTER
    // decomposes into the per-core-row product of the six classes:
    //   1 core⋈a⋈b (the pair-product main tree — `stages` itself)
    //   2 core⋈a where pb has no b-match (pb's entry gated NOT EXISTS b)
    //   3 core⋈b where pa has no a-match
    //   4 bare core rows, both parents gated
    //   5 a rows whose pa key is ABSENT FROM THE CORE — which covers
    //     both a dead parent AND pair-emptiness (a nation with
    //     customers but no surviving supplier produces NO core rows,
    //     so those customers' orders orphan — exactly SQL's answer);
    //     the key node rides the CORE's merged pair emissions
    //   6 b rows whose pb key is absent from the core
    // Classes 2-4 re-gate a core sub-plan (stagesFor replans the pair
    // with the un-needed boundary removed); 5/6 share ONE core plan by
    // object identity (runTreeShared refuses reuse when inputs differ,
    // so sharing is always sound). WHERE class selection (starDrop)
    // carries over verbatim: the NULL-side class sets coincide with
    // the same-parent star's. EXISTS/NOT-EXISTS/IN gates compose (see
    // the GATES x PAIR-STAR note inside); scalar gates stay fenced.
    def pairStarOuterPlans(aRel: String, bRel: String,
                           aEdge: TreeCompiler.FkEdge,
                           bEdge: TreeCompiler.FkEdge): Seq[OuterPlan] = {
      if (rawScalarGates.nonEmpty)
        fail("pair-star FULL OUTER (boundaries off two different inner " +
          "relations) with scalar-subquery gates is not wired")
      val coreOrder = relations.filterNot(fullOuterRels)
      val coreEdges = queryEdges.filterNot(e =>
        fullOuterRels(e.child) || fullOuterRels(e.parent))
      Seq(aEdge, bEdge).foreach(e =>
        if (!coreOrder.contains(e.parent))
          fail(s"FULL OUTER '${e.child}' must hang off an INNER relation, " +
            s"got '${e.parent}'"))
      if (coreOrder.size < 2)
        fail("pair-star FULL OUTER needs at least two inner relations — " +
          "a single shared parent is the same-parent star above")
      def planFor(extraEdges: Seq[TreeCompiler.FkEdge], rels: Seq[String]) =
        TreeCompiler.stagesFor(coreEdges ++ extraEdges, rels)
      // NOT-EXISTS-boundary surgery on a parent's entry stage (the
      // gate-surgery shape: set-semantics key node over the absent
      // boundary, anti hop on the parent, entry re-chained)
      def gateAbsent(sts: Seq[DeltaEngine.Stage], pRel: String, pKey: String,
                     keys: DeltaEngine.Stage, tag: String): Seq[DeltaEngine.Stage] = {
        // the relation's routing ENTRY — raw, or already chained onto a
        // WHERE-gate hop (never one of the synthetic hop/keys stages
        // themselves): with a gate on the boundary parent, the absence
        // hop consumes the gate-filtered changelog, exactly as the
        // same-parent star chains its hops onto pOwn
        val idx = sts.indexWhere(st =>
          st.spec.relation == pRel && !st.name.startsWith("__pstar") &&
            !st.name.startsWith("__psgate") &&
            (st.ownStage.isEmpty || st.ownStage.exists(_.startsWith("__psgate"))))
        if (idx < 0)
          fail(s"pair-star: no entry stage for boundary parent '$pRel'")
        val entry = sts(idx)
        val hop = DeltaEngine.Stage(s"__pstar_${tag}_hop",
          NodeSpec(pRel, pKey, entry.spec.childKeyCol, antiParent = true),
          parentStage = Some(keys.name), ownStage = entry.ownStage)
        sts.patch(idx, Seq(keys, hop, entry.copy(ownStage = Some(hop.name))), 1)
      }
      // GATES x PAIR-STAR (see the GATES x FULL OUTER note): classes
      // 2-4 have a LIVE core row, so WHERE-level EXISTS/NOT-EXISTS
      // gates apply dynamically — splice each gate into the replanned
      // core at its correlated relation's entry, the same surgery the
      // main pair tree gets from the generic fold. Classes 5/6
      // (boundary orphans) decide statically (an EXISTS/IN gate is
      // never TRUE on their structural NULLs -> starDrop; NOT EXISTS
      // is trivially TRUE -> pass untouched) and key off the UNGATED
      // core: orphan-ness is join-time, a gate-failing core row still
      // matched its boundary children.
      gates.foreach(g => if (!coreOrder.contains(g.outerRel))
        fail(s"gate over '${g.subRel}' correlates to '${g.outerRel}', " +
          "which is not in the pair-star core"))
      def gateFold(sts: Seq[DeltaEngine.Stage], tag: String): Seq[DeltaEngine.Stage] =
        gates.zipWithIndex.foldLeft(sts) { case (acc, (g, i)) =>
          // EXACTLY the generic fold's search: the first ownStage-free
          // stage of the relation — for a second gate on the SAME
          // relation that is the first gate's hop, so the gates chain
          // (hop1 consumes hop2's output), as the plain shapes compile
          val idx = acc.indexWhere(st =>
            st.spec.relation == g.outerRel && st.ownStage.isEmpty)
          if (idx < 0)
            fail(s"pair-star: no entry stage for gated relation '${g.outerRel}'")
          val entry = acc(idx)
          val keys = DeltaEngine.Stage(s"__psgate_${tag}_${i}_keys",
            NodeSpec(g.subRel, g.subKey, g.subKey, isRoot = true, setSemantics = true))
          val hop = DeltaEngine.Stage(s"__psgate_${tag}_${i}_hop",
            NodeSpec(g.outerRel, g.outerCol, entry.spec.childKeyCol,
              antiParent = g.anti),
            parentStage = Some(keys.name))
          acc.patch(idx, Seq(keys, hop, entry.copy(ownStage = Some(hop.name))), 1)
        }
      val keysNoA = DeltaEngine.Stage("__pstar_noa_keys",
        NodeSpec(aRel, aEdge.fkCol, aEdge.fkCol, isRoot = true, setSemantics = true),
        keyOnlyRows = true)
      val keysNoB = DeltaEngine.Stage("__pstar_nob_keys",
        NodeSpec(bRel, bEdge.fkCol, bEdge.fkCol, isRoot = true, setSemantics = true),
        keyOnlyRows = true)
      // classes 5/6 share the bare-core plan's PREFIX; each orphan
      // direction re-keys the core's leaf emissions (from the canon —
      // a leaf copy with nextKeyCol overridden, the subPlan re-key
      // idiom) onto its boundary parent's key, so the key node sees
      // "parent present in the core", and pair-emptiness orphans
      // transitively
      val core = planFor(Nil, coreOrder)
      def orphan(tag: String, edge: TreeCompiler.FkEdge): Seq[DeltaEngine.Stage] = {
        val leaf = core.last.copy(
          name = s"${core.last.name}__pstar_$tag",
          spec = core.last.spec.copy(nextKeyCol = edge.parentCol))
        val keysP = DeltaEngine.Stage(s"__pstar_p${tag}_keys",
          NodeSpec(edge.parent, edge.parentCol, edge.parentCol,
            isRoot = true, setSemantics = true),
          ownStage = Some(leaf.name), keyOnlyRows = true)
        val hop = DeltaEngine.Stage(s"__pstar_orph_${tag}_hop",
          NodeSpec(edge.child, edge.fkCol, edge.fkCol, antiParent = true),
          parentStage = Some(keysP.name))
        core.init ++ Seq(leaf, keysP, hop)
      }
      Seq(
        2 -> (() => gateAbsent(gateFold(planFor(Seq(aEdge), coreOrder :+ aRel), "c2"),
          bEdge.parent, bEdge.parentCol, keysNoB, "nob2")),
        3 -> (() => gateAbsent(gateFold(planFor(Seq(bEdge), coreOrder :+ bRel), "c3"),
          aEdge.parent, aEdge.parentCol, keysNoA, "noa3")),
        4 -> (() => gateAbsent(
          gateAbsent(gateFold(planFor(Nil, coreOrder), "c4"),
            aEdge.parent, aEdge.parentCol, keysNoA, "noa4"),
          bEdge.parent, bEdge.parentCol, keysNoB, "nob4")),
        5 -> (() => orphan("a", aEdge)),
        6 -> (() => orphan("b", bEdge)))
        .collect { case (cls, mk) if !starDrop(cls) => mk() }
        .map { planStages => OuterPlan(planStages,
          planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
          rekeyFor(planStages)) }
    }

    def starOuterPlans(aRel: String, bRel: String): Seq[OuterPlan] = {
      def edgeOf(r: String) = queryEdges.find(_.child == r).getOrElse(
        fail(s"FULL OUTER '$r' must be the FK child side of its ON equality"))
      val (aEdge, bEdge) = (edgeOf(aRel), edgeOf(bRel))
      if (outerOn.map(_._1).distinct.size != 2)
        fail("star FULL OUTER boundaries cannot be combined with LEFT JOIN " +
          "boundaries — the preservation classes would multiply")
      if (aEdge.parent != bEdge.parent)
        return pairStarOuterPlans(aRel, bRel, aEdge, bEdge)
      val pRel = aEdge.parent
      if (aEdge.parentCol != bEdge.parentCol)
        fail("star FULL OUTER boundaries must join the parent on the SAME " +
          s"parent key column, got '${aEdge.parentCol}' and '${bEdge.parentCol}'")
      val pKey = aEdge.parentCol
      // The INNER relations plus ONE boundary must plan as a pure
      // CHAIN ending parent-then-boundary: the chain's prefix (ending
      // at the shared parent, keyed to pKey) is what every factorized
      // plan builds on — gate hops splice in front of the parent's
      // stage, and the orphan key nodes consume the prefix's merged
      // emissions, so ancestor deletes orphan transitively.
      val innerRels = relations.filterNot(fullOuterRels)
      val innerEdges = queryEdges.filter(e =>
        !fullOuterRels(e.child) && !fullOuterRels(e.parent))
      val chainA = TreeCompiler.stagesFor(innerEdges :+ aEdge, innerRels :+ aRel)
      val chainB = TreeCompiler.stagesFor(innerEdges :+ bEdge, innerRels :+ bRel)
      def checkChain(ch: Seq[DeltaEngine.Stage], child: String): Unit = {
        if (ch.exists(st => st.pairStage.nonEmpty || st.ownStage.nonEmpty))
          fail("star FULL OUTER: the inner relations above the shared parent " +
            "must form a CHAIN (pair/shared-dimension prefixes are not wired)")
        if (ch.last.spec.relation != child ||
            ch(ch.size - 2).spec.relation != pRel)
          fail("star FULL OUTER: the shared parent must be the chain's " +
            "leaf-most inner relation")
      }
      checkChain(chainA, aRel)
      checkChain(chainB, bRel)
      val prefix = chainA.dropRight(1) // the inner chain, ending at pRel
      val pEntry = prefix.last
      if (pEntry.spec.nextKeyCol != pKey)
        fail(s"star FULL OUTER: the inner chain must emit keyed to '$pKey', " +
          s"got '${pEntry.spec.nextKeyCol}'")
      val aStage = chainA.last
      val bStage = chainB.last
      if (!bStage.parentStage.contains(pEntry.name))
        fail("star FULL OUTER: the two boundary chains disagree on the " +
          "shared parent stage")
      val pIdx = prefix.size - 1
      val pCk = pEntry.spec.childKeyCol
      // GATES × star (see the GATES × FULL OUTER note): classes 2-4
      // have a LIVE parent — every inner column is present, so gates
      // apply dynamically there; splice them into the chain prefix
      // exactly as the main tree's surgery does. Classes 5/6 (boundary
      // orphans) decided statically above and key off the UNGATED
      // prefix (orphan-ness precedes WHERE). Gates on pRel are fenced;
      // prefix.size == 1 therefore implies gates is empty here.
      val gatedPrefix = gates.zipWithIndex.foldLeft(prefix) { case (sts, (g, i)) =>
        val idx = sts.indexWhere(st =>
          st.spec.relation == g.outerRel && st.ownStage.isEmpty)
        if (idx < 0)
          fail(s"gate over '${g.subRel}' correlates to '${g.outerRel}', " +
            "which is not in the star FULL OUTER inner chain")
        val entry = sts(idx)
        val keys = DeltaEngine.Stage(s"__sgate${i}_keys",
          NodeSpec(g.subRel, g.subKey, g.subKey, isRoot = true, setSemantics = true))
        val hop = DeltaEngine.Stage(s"__sgate${i}_hop",
          NodeSpec(g.outerRel, g.outerCol, entry.spec.childKeyCol,
            antiParent = g.anti),
          parentStage = Some(keys.name))
        sts.patch(idx, Seq(keys, hop, entry.copy(ownStage = Some(hop.name))), 1)
      }
      val gIdx = gatedPrefix.size - 1
      // the gate hops route the parent's OWN changelog by pKey; the
      // shared changelogs are keyed by the MAIN (pair) tree's routing
      // key — re-key per plan when they differ. The prefix's own
      // stages must agree with the main keys (loud otherwise: a plan
      // cannot re-key two relations).
      prefix.filter(_.ownStage.isEmpty).foreach { st =>
        // compare against the main tree's LIVENESS stage for the
        // relation: a gate-hop stage (same relation, routed by the
        // gate's correlation column) is not a routing authority, and a
        // gated entry (ownStage → its gate hop) still is
        stages.find(m => m.spec.relation == st.spec.relation &&
            !m.name.startsWith("__gate") &&
            (m.ownStage.isEmpty || m.ownStage.exists(_.startsWith("__gate"))))
          .filter(_.spec.childKeyCol != st.spec.childKeyCol)
          .foreach(m => fail(s"star FULL OUTER: chain stage " +
            s"'${st.spec.relation}' routes by '${st.spec.childKeyCol}' but the " +
            s"main tree routes it by '${m.spec.childKeyCol}' — not re-keyable"))
      }
      // SHARED nodes, constructed ONCE and reused by object identity
      // across the plans below — the batch runner (runTreeShared)
      // caches stage outputs in an IdentityHashMap, so each shared key
      // node / prefix stage shuffles and folds ONCE for all consumers:
      //   prefix (the inner chain) → plans 2, 3, 4, 5, 6
      //   keysA (a's key set)      → plans 3 and 4
      //   keysB (b's key set)      → plans 2 and 4
      //   keysP (parent key set)   → plans 5 and 6
      // (the stream runner keeps independent chains — state stores are
      // per-operator — exactly as the nested two-boundary path does)
      val keysA = DeltaEngine.Stage("__star_noa_keys",
        NodeSpec(aRel, aEdge.fkCol, aEdge.fkCol,
          isRoot = true, setSemantics = true),
        keyOnlyRows = true)
      val keysB = DeltaEngine.Stage("__star_nob_keys",
        NodeSpec(bRel, bEdge.fkCol, bEdge.fkCol,
          isRoot = true, setSemantics = true),
        keyOnlyRows = true)
      // the parent's TREE liveness (its key set under all ancestors):
      // consumes the prefix's merged emissions, set-dedup'd to pKey —
      // except when the parent IS the root, where its raw changelog
      // already is its liveness (no prefix fold to ride)
      val keysP = DeltaEngine.Stage("__star_p_keys",
        NodeSpec(pRel, pKey, pKey, isRoot = true, setSemantics = true),
        ownStage = if (prefix.size == 1) None else Some(pEntry.name),
        keyOnlyRows = true)
      // a gate ON the shared parent relation chains the absence hops
      // onto its gate hop (ownStage): the hops then consume the
      // gate-filtered parent changelog instead of the raw one — classes
      // 2-4 have a live parent, so the gate applies dynamically there
      val pOwn = gatedPrefix(gIdx).ownStage
      val hopNoA = DeltaEngine.Stage("__star_noa_hop",
        NodeSpec(pRel, pKey, pCk, antiParent = true),
        parentStage = Some(keysA.name), ownStage = pOwn)
      val hopNoB = DeltaEngine.Stage("__star_nob_hop",
        NodeSpec(pRel, pKey, pCk, antiParent = true),
        parentStage = Some(keysB.name), ownStage = pOwn)
      // chain plan parent⋈child, gated by the OTHER boundary's absence
      // at the parent key (the gate-surgery shape: set-semantics key
      // node over the absent side, anti hop on the parent)
      def gatedChain(childStage: DeltaEngine.Stage,
                     keysAbsent: DeltaEngine.Stage,
                     hopAbsent: DeltaEngine.Stage): Seq[DeltaEngine.Stage] =
        gatedPrefix.patch(gIdx,
          Seq(keysAbsent, hopAbsent, pEntry.copy(ownStage = Some(hopAbsent.name))),
          1) :+ childStage
      // class 4: the parent (alive under its ancestors) gated by BOTH
      // absences — the second hop feeds the parent's chain entry
      val bothAbsent: Seq[DeltaEngine.Stage] = {
        val hopA4 =
          if (pCk == pKey) hopNoA // identical shape: share with plan 3
          else DeltaEngine.Stage("__star_noa4_hop",
            NodeSpec(pRel, pKey, pKey, antiParent = true),
            parentStage = Some(keysA.name), ownStage = pOwn)
        val hopB4 = DeltaEngine.Stage("__star_nob2_hop",
          NodeSpec(pRel, pKey, pCk, antiParent = true),
          parentStage = Some(keysB.name), ownStage = Some(hopA4.name))
        // root parent: the second hop IS the leaf (the soloGated
        // shape — no ancestor fold to thread the gated rows through);
        // a parent gate's keys/hop stages still precede the hops
        if (prefix.size == 1) gatedPrefix.dropRight(1) ++
          Seq(keysA, hopA4, keysB, hopB4)
        else gatedPrefix.patch(gIdx,
          Seq(keysA, hopA4, keysB, hopB4, pEntry.copy(ownStage = Some(hopB4.name))),
          1)
      }
      // classes 5/6: boundary rows with NO tree-alive parent — the key
      // node rides the prefix's emissions, so an ancestor delete
      // orphans transitively; keysP shared between the two directions
      def orphans(tag: String, edge: TreeCompiler.FkEdge): Seq[DeltaEngine.Stage] = {
        val hop = DeltaEngine.Stage(s"__star_orph_${tag}_hop",
          NodeSpec(edge.child, edge.fkCol, edge.fkCol, antiParent = true),
          parentStage = Some(keysP.name))
        if (prefix.size == 1) Seq(keysP, hop) else prefix ++ Seq(keysP, hop)
      }
      Seq(2 -> (() => gatedChain(aStage, keysB, hopNoB)),
          3 -> (() => gatedChain(bStage, keysA, hopNoA)),
          4 -> (() => bothAbsent),
          5 -> (() => orphans("a", aEdge)),
          6 -> (() => orphans("b", bEdge)))
        .collect { case (cls, mk) if !starDrop(cls) => mk() }
        .map { planStages => OuterPlan(planStages,
          planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
          rekeyFor(planStages)) }
    }

    val outerPlans: Seq[OuterPlan] =
      if (starBoundary.isDefined)
        starOuterPlans(starBoundary.get._1, starBoundary.get._2)
      else outerOn.map(_._1).distinct.toSeq.flatMap { r =>
      if (stages.count(_.spec.relation == r) != 1)
        fail(s"LEFT-JOINed relation '$r' cannot also carry subquery gates " +
          "or pair stages")
      val k = stages.indexWhere(_.spec.relation == r)
      val entryR = stages(k)
      if (entryR.ownStage.nonEmpty || entryR.pairStage.nonEmpty)
        fail(s"LEFT JOIN on shared-dimension/pair relation '$r' is not compiled")
      stages.drop(k + 1).map(_.spec.relation).filterNot(outerRels).distinct
        .foreach(inner =>
          fail(s"inner relation '$inner' hangs below LEFT-JOINed '$r' — LEFT " +
            "JOIN right sides must form the leaf side of the join tree"))
      val edge = queryEdges.find(_.child == r).getOrElse(
        fail(s"LEFT-JOINed relation '$r' must be the FK child side of its ON " +
          "equality (an optional parent dimension is not compiled)"))
      val kept = stages.take(k)
      val pIdx = kept.indexWhere(st =>
        st.spec.relation == edge.parent && st.ownStage.isEmpty)
      if (pIdx < 0)
        fail(s"LEFT JOIN parent '${edge.parent}' does not precede '$r' in the plan")
      val pEntry = kept(pIdx)
      val keysName = s"__outer_${r}_keys"
      val hopName = s"__outer_${r}_hop"
      val keys = DeltaEngine.Stage(keysName,
        NodeSpec(r, edge.fkCol, edge.fkCol, isRoot = true, setSemantics = true),
        keyOnlyRows = true) // anti hop reads liveness only — ship keys, not rows
      val hop = DeltaEngine.Stage(hopName,
        NodeSpec(edge.parent, edge.parentCol, pEntry.spec.childKeyCol,
          antiParent = true),
        parentStage = Some(keysName))
      val planStages =
        kept.patch(pIdx, Seq(keys, hop, pEntry.copy(ownStage = Some(hopName))), 1)
      // WHERE on the FULL OUTER child NULL-rejects every NULL-extended
      // row in SQL, so that preservation direction is simply not built
      // (the structural validations above still ran — the orphan plan
      // needs them)
      if (fullOuterDropAnti(r)) None
      else Some(OuterPlan(planStages,
        planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
        rekeyFor(planStages)))
    } ++
    // FULL OUTER boundaries additionally get the ORPHAN plan — the
    // mirror image of the anti plan above. Its leaf deltas are
    // children with NO surviving parent, carrying ONLY the child's
    // columns — every left-side grouping key folds as NULL, which is
    // exactly SQL's right-preserved row. "Surviving parent" must mean
    // surviving IN THE JOINED LEFT TREE (an ancestor delete drops the
    // parent row from the preserved side even though the parent's own
    // changelog never fires), so for chain-shaped plans the key node
    // consumes the TREE PREFIX's merged emissions — the parent's
    // liveness under all its ancestors, set-dedup'd to its key column
    // — and deletes are maintainable on ANY relation. Non-chain
    // topologies (pair stages, branch-interleaved prefixes) fall back
    // to the 2-stage raw-parent-changelog plan with the delete scope
    // restricted to the boundary pair (Compiled.run enforces).
    (twoBoundary match {
      case Some((bRel, cRel)) =>
        // NESTED TWO-BOUNDARY preservation plans (classes 3, 4, 6 of
        // the matrix above). Scope: the two boundaries are the chain's
        // LAST TWO HOPS over a chain-shaped prefix — loud otherwise.
        val bEdge = queryEdges.find(_.child == bRel).getOrElse(
          fail(s"FULL OUTER '$bRel' must be the FK child of its ON equality"))
        val cEdge = queryEdges.find(_.child == cRel).getOrElse(
          fail(s"FULL OUTER '$cRel' must be the FK child of its ON equality"))
        val kB = stages.indexWhere(_.spec.relation == bRel)
        val kC = stages.indexWhere(_.spec.relation == cRel)
        if (kC != stages.length - 1 || kB != kC - 1 ||
            stages.count(_.spec.relation == bRel) != 1 ||
            stages.count(_.spec.relation == cRel) != 1 ||
            stages(kB).ownStage.nonEmpty || stages(kB).pairStage.nonEmpty ||
            stages(kC).ownStage.nonEmpty || stages(kC).pairStage.nonEmpty)
          fail("two FULL OUTER boundaries compile only as the join chain's " +
            "last two hops (b then c at the leaf, no pair/gate stages on them)")
        val kept = stages.take(kB)
        val chainShaped = kept.nonEmpty &&
          kept.last.spec.relation == bEdge.parent &&
          kept.last.spec.nextKeyCol == bEdge.parentCol &&
          kept.forall(_.pairStage.isEmpty)
        if (!chainShaped)
          fail("two-boundary FULL OUTER needs a chain-shaped prefix above the " +
            "first boundary (its orphan plans key off the prefix's merged " +
            "emissions)")
        // classes 3/4 key off the JOIN-TIME prefix: orphan-ness is
        // decided before WHERE-level gates (GATES × FULL OUTER note),
        // so a gate-failing ancestor must not orphan b's subtree here
        val keptU =
          if (gates.isEmpty) kept
          else ungatedStages.take(ungatedStages.indexWhere(_.spec.relation == bRel))
        // shared orphan-B prefix: parent liveness from the TREE
        // PREFIX's merged emissions (ancestor deletes orphan
        // transitively), anti hop emitting orphan-b rows RE-KEYED to
        // the second boundary's parent key so the C subtree hangs below
        val keysB = DeltaEngine.Stage("__orphan2_b_keys",
          NodeSpec(bEdge.parent, bEdge.parentCol, bEdge.parentCol,
            isRoot = true, setSemantics = true),
          ownStage = Some(keptU.last.name), keyOnlyRows = true)
        val hopB = DeltaEngine.Stage("__orphan2_b_hop",
          NodeSpec(bRel, bEdge.fkCol, cEdge.parentCol, antiParent = true),
          parentStage = Some(keysB.name))
        // class 3: orphan-B joined with its C children — the main
        // tree's own C stage re-parented under the orphan hop
        val orphanBWithC =
          if (dropOrphanBWithC) None
          else {
            val cStage = stages(kC).copy(name = "__orphan2_c_stage",
              spec = stages(kC).spec.copy(fullOuterLeaf = false),
              parentStage = Some(hopB.name))
            val planStages = keptU ++ Seq(keysB, hopB, cStage)
            Some(OuterPlan(planStages,
              planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
              rekeyFor(planStages)))
          }
        // class 4: orphan-B with NO C child — the NOT EXISTS wiring
        // applied to the orphan hop's emissions
        val orphanBNoC =
          if (dropOrphanBNoC) None
          else {
            val keysC = DeltaEngine.Stage("__orphan2_c_keys",
              NodeSpec(cRel, cEdge.fkCol, cEdge.fkCol,
                isRoot = true, setSemantics = true),
              keyOnlyRows = true)
            val hop2 = DeltaEngine.Stage("__orphan2_bnoc_hop",
              NodeSpec(bRel, cEdge.parentCol, cEdge.parentCol, antiParent = true),
              parentStage = Some(keysC.name), ownStage = Some(hopB.name))
            val planStages = keptU ++ Seq(keysB, hopB, keysC, hop2)
            Some(OuterPlan(planStages,
              planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
              rekeyFor(planStages)))
          }
        // class 6: C rows with NO B parent AT ALL — keys off b's RAW
        // changelog, because a FULL boundary at b keeps every b row in
        // the joined left side regardless of b's own ancestors (this is
        // exact here, unlike the single-boundary fallback: no delete
        // scope restriction is needed)
        val orphanC =
          if (fullOuterDropOrphan(cRel)) None
          else {
            val keysB6 = DeltaEngine.Stage("__orphan2_cparent_keys",
              NodeSpec(bRel, cEdge.parentCol, cEdge.parentCol,
                isRoot = true, setSemantics = true),
              keyOnlyRows = true)
            val hopC = DeltaEngine.Stage("__orphan2_c_hop",
              NodeSpec(cRel, cEdge.fkCol, cEdge.fkCol, antiParent = true),
              parentStage = Some(keysB6.name))
            Some(OuterPlan(Seq(keysB6, hopC), Seq(bRel, cRel),
              Seq((bRel, cEdge.parentCol))))
          }
        Seq(orphanBWithC, orphanBNoC, orphanC).flatten
      case None =>
        fullOuterRels.toSeq.sorted.filterNot(fullOuterDropOrphan)
      .filterNot(fusedOrphanRels).map { r =>
      val edge = queryEdges.find(_.child == r).get // validated above
      // join-time prefix: gate hops must NOT filter the parent
      // liveness this plan keys off (orphan-ness precedes WHERE)
      val src = ungatedStages
      val k = src.indexWhere(_.spec.relation == r)
      val kept = src.take(k)
      val keysName = s"__orphan_${r}_keys"
      val hop = DeltaEngine.Stage(s"__orphan_${r}_hop",
        NodeSpec(r, edge.fkCol, edge.fkCol, antiParent = true),
        parentStage = Some(keysName))
      val chainShaped = kept.nonEmpty &&
        kept.last.spec.relation == edge.parent &&
        kept.last.spec.nextKeyCol == edge.parentCol &&
        kept.forall(_.pairStage.isEmpty)
      if (chainShaped) {
        val keys = DeltaEngine.Stage(keysName,
          NodeSpec(edge.parent, edge.parentCol, edge.parentCol,
            isRoot = true, setSemantics = true),
          ownStage = Some(kept.last.name),
          // the hop is antiParent: parent-row content never survives
          // into its emissions, so the wide merged-prefix rows narrow
          // to the key before this node's shuffle
          keyOnlyRows = true)
        val planStages = kept ++ Seq(keys, hop)
        OuterPlan(planStages,
          planStages.filter(_.ownStage.isEmpty).map(_.spec.relation),
          rekeyFor(planStages))
      } else {
        restrictedFullOuter += ((r, edge.parent))
        val keys = DeltaEngine.Stage(keysName,
          NodeSpec(edge.parent, edge.parentCol, edge.parentCol,
            isRoot = true, setSemantics = true),
          keyOnlyRows = true)
        OuterPlan(Seq(keys, hop), Seq(edge.parent, r),
          Seq((edge.parent, edge.parentCol)))
      }
    }
    })

    // local predicates become per-relation scan filters (original text)
    val wheres: Map[String, String] = localPreds.groupBy { c =>
      c.collect { case a: UnresolvedAttribute => ownerOf(a) }.distinct match {
        case Seq(r) => r
        case Seq() => fail(s"constant predicate '${fragment(c)}' is unsupported")
      }
    }.map { case (rel, cs) => rel -> cs.map(c => s"(${dequalify(spark, fragment(c))})").mkString(" AND ") } ++
      gates.filter(_.subWheres.nonEmpty).map(g => g.subRel ->
        g.subWheres.map(c => s"(${dequalify(spark, fragment(c))})").mkString(" AND ")).toMap

    // GROUP BY list → GroupSpecs: a plain column ref keeps its name; a
    // scalar expression (year(o_orderdate), substr(...), …) becomes a
    // COMPUTED grouping key — its output alias binds to the SELECT item
    // with the same dequalified fragment (or stays internal when the
    // query groups by it without selecting it)
    val groupBuf = scala.collection.mutable.ArrayBuffer[GroupSpec]()
    groupExprs.zipWithIndex.foreach {
      case (a: UnresolvedAttribute, _) =>
        ownerOf(a) // existence + qualifier validation
        groupBuf += GroupSpec(a.nameParts.last, a.nameParts.last)
      case (other, i) =>
        other.foreach {
          case f: UnresolvedFunction if isAggregateCall(spark, f) =>
            fail(s"GROUP BY cannot contain aggregate calls: '${fragment(other)}'")
          case a: UnresolvedAttribute => ownerOf(a): Unit
          case _ =>
        }
        groupBuf += GroupSpec(dequalify(spark, fragment(other)), s"__group_$i")
    }
    def aggOf(e: Expression, alias: String): AggSpec = e match {
      case f: UnresolvedFunction =>
        // agg(x) FILTER (WHERE p) compiles as a CASE rewrite of the
        // argument: rows failing p contribute NULL, which every
        // supported aggregate already handles exactly under the signed
        // fold (SUM/AVG skip NULLs in numerator AND denominator; the
        // DISTINCT/MIN/MAX per-value rollup nets NULLs away;
        // COUNT(*) FILTER becomes a 0/1-valued SUM). The predicate
        // rides inside the fragment, so its columns travel in the
        // canonical rows and the float-fold exactness check sees the
        // rewritten argument.
        val filterFrag: Option[String] = f.filter.map { p =>
          p.foreach {
            case g: UnresolvedFunction if isAggregateCall(spark, g) =>
              fail(s"FILTER predicate of '$alias' cannot contain aggregate calls")
            case a: UnresolvedAttribute => ownerOf(a): Unit
            case _ =>
          }
          dequalify(spark, fragment(p))
        }
        def filtered(argFrag: String): String =
          filterFrag.map(p => s"CASE WHEN ($p) THEN ($argFrag) END").getOrElse(argFrag)
        (f.nameParts.map(_.toLowerCase).mkString("."), f.arguments) match {
          case ("count", Seq(arg)) if f.isDistinct =>
            AggSpec("count_distinct", filtered(dequalify(spark, fragment(arg))), alias)
          case ("count", args) if args.exists(_.isInstanceOf[UnresolvedStar]) ||
              args.forall(_.foldable) =>
            filterFrag match {
              case Some(p) => AggSpec("sum",
                s"CASE WHEN ($p) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END", alias)
              case None => AggSpec("count", "", alias)
            }
          case ("avg", Seq(arg)) if f.isDistinct =>
            // AVG(DISTINCT x): same per-(group,value) netting rollup as
            // SUM/COUNT DISTINCT — exact integer moments, one division
            AggSpec("avg_distinct", filtered(dequalify(spark, fragment(arg))), alias)
          case ("sum", Seq(arg)) if f.isDistinct =>
            // SUM(DISTINCT x) derives from the same per-(group, value)
            // netting rollup as COUNT(DISTINCT): sum the values whose
            // net count is positive
            AggSpec("sum_distinct", filtered(dequalify(spark, fragment(arg))), alias)
          case ("sum", Seq(arg)) if !f.isDistinct =>
            AggSpec("sum", filtered(dequalify(spark, fragment(arg))), alias)
          case ("avg", Seq(arg)) if !f.isDistinct =>
            AggSpec("avg", filtered(dequalify(spark, fragment(arg))), alias)
          case (name @ ("var_samp" | "variance" | "stddev_samp" | "stddev"), Seq(arg))
              if !f.isDistinct =>
            // VARIANCE/STDDEV are Spark/DuckDB aliases of the _SAMP
            // forms; both maintain the retractable (n, Σx, Σx²) moments
            AggSpec(if (name.startsWith("var")) "var_samp" else "stddev_samp",
              filtered(dequalify(spark, fragment(arg))), alias)
          case (name @ ("var_pop" | "stddev_pop"), Seq(arg)) if !f.isDistinct =>
            // POPULATION forms share the (n, Σx, Σx²) moments; only the
            // denominator differs (n² — defined from a single row)
            AggSpec(name, filtered(dequalify(spark, fragment(arg))), alias)
          case (name @ ("min" | "max"), Seq(arg)) =>
            AggSpec(name, filtered(dequalify(spark, fragment(arg))), alias)
          case ("median", Seq(arg)) =>
            // DISCRETE (lower) median — the smallest value whose
            // cumulative net count reaches half the group: derives
            // exactly from the per-(group, value) netting rollup
            // (= DuckDB quantile_disc(x, 0.5)), and since it SELECTS an
            // existing value instead of folding, it is exact under
            // retraction and bit-reproducible even for float arguments.
            // The INTERPOLATED even-group median would be a float fold.
            AggSpec("median", filtered(dequalify(spark, fragment(arg))), alias)
          case (name @ ("quantile_disc" | "percentile_disc"), Seq(arg, qArg)) =>
            // DISCRETE quantile at an arbitrary literal q — the
            // inverted-CDF element at index ceil(q·n)−1 of the ordered
            // group (DuckDB's quantile_disc, empirically verified),
            // generalizing MEDIAN's element selection:
            // derives from the same per-(group, value) netting rollup,
            // exact under retraction, and the cut condition runs in
            // exact integer cross-products of the rational q.
            val qText = fragment(qArg).trim
            val qDec = try BigDecimal(qText) catch {
              case _: NumberFormatException =>
                fail(s"$name's second argument must be a numeric literal, got '$qText'")
            }
            if (qDec < 0 || qDec > 1) fail(s"$name quantile $qText out of [0, 1]")
            val den = BigDecimal(10).pow(math.max(qDec.scale, 0))
            AggSpec("quantile", filtered(dequalify(spark, fragment(arg))), alias,
              q = ((qDec * den).toLongExact, den.toLongExact))
          case ("mode", Seq(arg)) =>
            // MODE with a DETERMINISTIC tie rule (largest net count,
            // then smallest value) — the per-(group, value) netting
            // rollup already IS the frequency table, so mode is a
            // rank-1 selection over it; exact under retraction
            // (deleting occurrences of the current mode re-exposes the
            // runner-up, whose net count is still live).
            AggSpec("mode", filtered(dequalify(spark, fragment(arg))), alias)
          case (name @ ("max_by" | "arg_max" | "min_by" | "arg_min"), Seq(v, o)) =>
            // MAX_BY/MIN_BY (a.k.a. arg_max/arg_min): the value of `v`
            // on the row extremizing `o`. State is the netting rollup
            // over the PAIR (o, v) packed as a struct — present iff its
            // signed count is positive — and the answer is a struct
            // extreme (field-lexicographic, so ties on `o` break
            // deterministically toward the extreme `v`). Rows where
            // either argument is NULL don't participate (the CASE
            // collapses the pair to NULL, which the rollup drops).
            val vF = filtered(dequalify(spark, fragment(v)))
            val oF = filtered(dequalify(spark, fragment(o)))
            AggSpec(if (name == "max_by" || name == "arg_max") "max_by" else "min_by",
              s"CASE WHEN ($vF) IS NULL OR ($oF) IS NULL THEN NULL " +
                s"ELSE named_struct('o', $oF, 'v', $vF) END", alias)
          case ("covar_samp", Seq(x, y)) if !f.isDistinct =>
            // sample covariance from the same co-moment family as CORR
            AggSpec("covar_samp", filtered(dequalify(spark, fragment(x))), alias,
              frag2 = filtered(dequalify(spark, fragment(y))))
          case ("corr", Seq(x, y)) if !f.isDistinct =>
            // Pearson correlation from retractable CO-MOMENTS
            // (n, Σx, Σy, Σx², Σy², Σxy) — pairwise semantics: a row
            // contributes only when BOTH arguments are non-NULL (the
            // FILTER rewrite composes: it NULLs both args on
            // non-matching rows)
            AggSpec("corr", filtered(dequalify(spark, fragment(x))), alias,
              frag2 = filtered(dequalify(spark, fragment(y))))
          case (name, _) => fail(s"unsupported aggregate $name in '$alias' " +
            "(retractable aggregates here: SUM, COUNT(*), COUNT(DISTINCT x), " +
            "QUANTILE_DISC, MODE, MAX_BY/MIN_BY, " +
            "MIN, MAX, AVG, VAR_SAMP, STDDEV_SAMP, MEDIAN (discrete), CORR, COVAR_SAMP; a " +
            "non-aggregate SELECT expression must textually match a GROUP BY " +
            "expression)")
        }
      case other => fail(s"expected an aggregate function under alias '$alias', " +
        s"got '${fragment(other)}' (a non-aggregate SELECT expression must " +
        "textually match a GROUP BY expression)")
    }
    // GROUPING(col) SELECT items — per-grouping-set CONSTANTS (1 when
    // the key is aggregated away in that set, else 0), the standard
    // disambiguation of subtotal NULLs from null-valued keys. Only
    // meaningful under ROLLUP/CUBE/GROUPING SETS.
    val groupingFlagBuf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val windowBuf = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val (aggs, outputSel) = {
      val items: Seq[(Option[AggSpec], (String, String))] = selectExprs.map {
        case Alias(w: WindowExpression, name) =>
          // analytic PRESENTATION over the maintained view (see
          // Compiled.windowItems): re-serialized from the parse tree's
          // components (the WindowExpression node's own Origin span is
          // unreliable), applied after the output selection;
          // references validated below once the full output column set
          // is known. NULLS ordering renders explicitly so the
          // parsed intent survives re-parsing.
          val spec = w.windowSpec
          val parts = spec.partitionSpec.map(e => fragment(e))
          val ords = spec.orderSpec.map { so =>
            val dir = if (so.direction == Ascending) "ASC" else "DESC"
            val nulls = if (so.nullOrdering == NullsFirst) "NULLS FIRST" else "NULLS LAST"
            s"${fragment(so.child)} $dir $nulls"
          }
          val frame = spec.frameSpecification match {
            case f: org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame =>
              " " + f.sql
            case _ => ""
          }
          val specSql = "(" +
            (if (parts.nonEmpty) s"PARTITION BY ${parts.mkString(", ")}" else "") +
            (if (ords.nonEmpty)
              s"${if (parts.nonEmpty) " " else ""}ORDER BY ${ords.mkString(", ")}"
             else "") + frame + ")"
          // the function, too, re-serializes from name + argument
          // fragments (an UnresolvedFunction under OVER carries the
          // whole window's Origin span, not just its own)
          val fnSql = w.windowFunction match {
            case f: UnresolvedFunction =>
              val distinct = if (f.isDistinct) "DISTINCT " else ""
              s"${f.nameParts.mkString(".")}($distinct${f.arguments.map(fragment).mkString(", ")})"
            case other => fail(s"unsupported window function shape " +
              s"'${fragment(other)}' in '$name'")
          }
          windowBuf += ((s"$fnSql OVER $specSql", name))
          (None, (name, name))
        case a: UnresolvedAttribute =>
          val n = a.nameParts.last
          ownerOf(a)
          if (!groupBuf.exists(_.frag == n)) fail(s"non-aggregated column $n not in GROUP BY")
          (None, (n, n))
        case Alias(f: UnresolvedFunction, name)
            if f.nameParts.map(_.toLowerCase) == Seq("grouping") =>
          if (setExprs.isEmpty)
            fail(s"GROUPING() under alias '$name' requires GROUP BY " +
              "ROLLUP/CUBE/GROUPING SETS")
          val arg = f.arguments match {
            case Seq(a: UnresolvedAttribute) => ownerOf(a); a.nameParts.last
            case other => fail(s"GROUPING() takes one grouping column, got " +
              s"'${other.map(fragment).mkString(", ")}'")
          }
          if (!groupBuf.exists(_.frag == arg))
            fail(s"GROUPING($arg): $arg is not a GROUP BY item")
          groupingFlagBuf += ((name, arg))
          (None, (name, name))
        case Alias(child, name) =>
          // every column the item references must resolve, qualifiers
          // included — aggregate arguments and group expressions alike
          child.foreach {
            case a2: UnresolvedAttribute => ownerOf(a2): Unit
            case _ =>
          }
          // a SELECT expression whose dequalified fragment matches a
          // GROUP BY expression is that grouping key's output column —
          // this also covers renaming a plain group column
          // (n_name AS nation)
          val groupIdx = child match {
            case f: UnresolvedFunction if isAggregateCall(spark, f) => -1
            case c => scala.util.Try(dequalify(spark, fragment(c))).toOption
              .map(f => groupBuf.indexWhere(_.frag == f)).getOrElse(-1)
          }
          if (groupIdx >= 0) {
            val g = groupBuf(groupIdx)
            if (g.alias.startsWith("__group_")) {
              // first SELECT binding of a computed key names it
              groupBuf(groupIdx) = g.copy(alias = name)
              (None, (name, name))
            } else
              // a plain-column rename (n_name AS nation) or a second
              // binding of the same key: the key keeps its canonical
              // alias and the rename happens in the OUTPUT selection,
              // so other references to the original name keep resolving
              (None, (g.alias, name))
          } else (Some(aggOf(child, name)), (name, name))
        case UnresolvedAlias(child, _) =>
          fail(s"alias every aggregate ('${fragment(child)}' has no AS name; the " +
            "driver's oracle compare matches columns by name)")
        case other => fail(s"unsupported SELECT item '${fragment(other)}'")
      }
      (items.flatMap(_._1), items.map(_._2))
    }
    val groups = groupBuf.toSeq
    if (windowBuf.nonEmpty) {
      val winNames = windowBuf.map(_._2).toSet
      val visible = outputSel.map(_._2).filterNot(winNames).toSet
      windowBuf.foreach { case (frag, name) =>
        spark.sessionState.sqlParser.parseExpression(frag).foreach {
          case a: UnresolvedAttribute =>
            if (a.nameParts.size > 1 || !visible(a.nameParts.last))
              fail(s"window item '$name' references " +
                s"'${a.nameParts.mkString(".")}' — window expressions run over " +
                "the maintained view and may reference only its non-window " +
                s"output columns (${visible.toSeq.sorted.mkString(", ")})")
          case _ =>
        }
      }
    }
    // resolve each expanded grouping set to its group ALIASES (fragment
    // match against the finalized groupBuf, same binding rule as the
    // SELECT items)
    val rollupSets: Option[Seq[Seq[String]]] = setExprs.map(_.map(_.map { e =>
      val frag = e match {
        case a: UnresolvedAttribute => a.nameParts.last
        case other => dequalify(spark, fragment(other))
      }
      groups.find(_.frag == frag).map(_.alias).getOrElse(
        fail(s"grouping-set item '$frag' does not match a GROUP BY expression"))
    }))
    if (aggs.isEmpty && viewMode.isEmpty) fail("at least one aggregate is required " +
      "(SUM, COUNT(*), COUNT(DISTINCT x), MIN, MAX, AVG)")
    if (groups.isEmpty &&
        aggs.exists(a =>
          Set("count_distinct", "sum_distinct", "avg_distinct", "min", "max",
            "median", "quantile", "mode", "max_by", "min_by")(a.kind)))
      fail("COUNT(DISTINCT x)/SUM(DISTINCT x)/MIN/MAX/MEDIAN/QUANTILE_DISC/" +
        "MODE/MAX_BY/MIN_BY need at least one " +
        "GROUP BY column here (the per-value rollup joins back on the group keys)")

    // per-relation columns that must travel in canonical rows:
    // referenced by GROUP BY / SUM args, plus every key column any of
    // the relation's stages routes or re-keys by. Gate (subquery)
    // relations join the schema pool here — their key/predicate
    // columns need types like any other changelog's.
    val allSchemas: Map[String, StructType] = schemas ++
      gates.map(g => g.subRel -> loadRel(spark, dir, g.subRel).schema).toMap
    val colType: Map[String, DataType] =
      allSchemas.values.flatMap(s => s.fields.map(f => f.name -> f.dataType)).toMap

    // fail-loud on floating-point SUM/AVG arguments: the engine folds
    // signed deltas, and double addition is not associative — a
    // retraction leaves order-dependent residue, so the maintained
    // value can silently drift from the batch answer. Resolve the
    // argument's type against the relations' union schema (names are
    // unique — checked above) and demand an exact (integral/DECIMAL)
    // type — unless the caller opted into `tolerateFloatFolds`.
    if (!tolerateFloatFolds) {
      val unionSchema = StructType(colType.toSeq.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) })
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), unionSchema)
      aggs.filter(a => Set("sum", "avg", "sum_distinct", "avg_distinct",
          "var_samp", "stddev_samp", "var_pop", "stddev_pop",
          "corr", "covar_samp")(a.kind))
        .flatMap(a => (Seq(a.frag) ++ Some(a.frag2).filter(_.nonEmpty))
          .map(fr => (a, fr)))
        .foreach { case (a, fr) =>
        val t = probe.select(expr(fr)).schema.head.dataType
        if (t == org.apache.spark.sql.types.DoubleType ||
            t == org.apache.spark.sql.types.FloatType)
          fail(s"${a.kind.toUpperCase}($fr) folds FLOATING-POINT " +
            s"(${t.simpleString}) deltas: retractions leave order-dependent FP " +
            "residue and the maintained value drifts from the batch answer — " +
            "scale the argument to an exact type, e.g. " +
            "CAST(round(x * 100, 0) AS BIGINT), or opt in with " +
            "compile(..., tolerateFloatFolds = true) to accept the drift")
      }
    }
    // UNCONDITIONAL (no tolerateFloatFolds escape): the variance moment
    // folds cast to DECIMAL(38,0), so a fractional argument would not
    // merely drift — it would silently TRUNCATE before folding
    aggs.filter(a => Set("var_samp", "stddev_samp", "var_pop", "stddev_pop",
        "corr", "covar_samp")(a.kind))
      .flatMap(a => (Seq(a.frag) ++ Some(a.frag2).filter(_.nonEmpty))
        .map(fr => (a, fr)))
      .foreach { case (a, fr0) =>
      val unionSchema = StructType(colType.toSeq.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) })
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), unionSchema)
      import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
      val t = probe.select(expr(fr0)).schema.head.dataType
      if (!Set[DataType](LongType, IntegerType, ShortType, ByteType)(t))
        fail(s"${a.kind.toUpperCase}($fr0) maintains exact integer " +
          s"moments (n, Σx, Σx², …) and needs an INTEGRAL argument, got " +
          s"${t.simpleString} — scale it first, e.g. " +
          "CAST(round(x * 100, 0) AS BIGINT)")
    }

    val referenced: Seq[String] = (groups.map(_.frag) ++
      aggs.filter(_.frag.nonEmpty).map(_.frag)).flatMap(frag =>
      spark.sessionState.sqlParser.parseExpression(frag).collect {
        case a2: UnresolvedAttribute => a2.nameParts.last
      })
    val needed: Map[String, Seq[String]] = path.map { rel =>
      val own = allSchemas(rel).fieldNames.toSet
      val keyCols = stages.filter(_.spec.relation == rel)
        .flatMap(st => Seq(st.spec.childKeyCol, st.spec.nextKeyCol))
      rel -> ((referenced.filter(own) ++ keyCols.filter(own)).distinct)
    }.toMap
    // + predicate columns, for raw-stream callers (eventFilter reads
    // them out of the canonical row)
    val predCols: Map[String, Seq[String]] = localPreds
      .flatMap(c => c.collect { case a: UnresolvedAttribute => a.nameParts.last })
      .distinct.groupBy(owner) ++
      gates.filter(_.subWheres.nonEmpty).map(g => g.subRel ->
        g.subWheres.flatMap(_.collect {
          case a: UnresolvedAttribute => a.nameParts.last }).distinct).toMap
    val neededRaw: Map[String, Seq[String]] = needed.map { case (rel, cols) =>
      rel -> (cols ++ predCols.getOrElse(rel, Nil)).distinct
    }

    // apply the leaf fusion AFTER plan construction: the anti/orphan
    // plans reference the UNFUSED prefix stage objects (shared with
    // the main tree by identity, which is what runTreeShared dedups)
    val stagesOut =
      if (fusedOrphanRels.isEmpty) stages
      else stages.init :+ stages.last.copy(spec =
        stages.last.spec.copy(fullOuterLeaf = true))
    Compiled(path, stagesOut, wheres, needed, groups, aggs, outputSel, colType,
      neededRaw, present, loadRel, viewMode, rollupSets, groupingFlagBuf.toSeq,
      outerPlans,
      restrictedFullOuter.toSeq.sorted,
      suppressMainLeaf = fullOuterOrphanOnly || fullOuterAntiOnly || twoBoundaryMainSuppressed,
      windowItems = windowBuf.toSeq,
      havingCount = plan.collect { case _: UnresolvedHaving => () }.size,
      scalarGates = scalarGates)
  }

  /** Detect and rewrite SELF-JOINS: a relation appearing N>1 times in
    * FROM (each instance REQUIRED to carry a distinct alias) becomes N
    * virtual relations named by their aliases, every column renamed
    * `<alias>_<col>` — so canonical rows, the owner map, and the stage
    * graph keep their one-name-one-column invariant untouched. The
    * rewrite is textual (spliced by Catalyst Origin offsets, like
    * [[dequalify]]):
    *
    *  - `orders o1` in FROM becomes `o1 o1` (virtual relation, same
    *    alias — so downstream qualifier validation keeps working);
    *  - every `o1.c` reference becomes the bare `o1_c`;
    *  - BARE references to a duplicated relation's columns fail loudly
    *    (ambiguous — exactly as Spark's analyzer would);
    *  - FK edges are instance-mapped: a base edge touching a
    *    duplicated relation yields one edge per instance pair (the
    *    query's ON/WHERE conditions select which are used), so both
    *    shared-dimension self-pairs (customer referenced by o1 AND o2)
    *    and true hierarchy self-FKs (emp.mgr → emp.id via explicitFk)
    *    plan;
    *  - the returned loader serves each virtual relation as the base
    *    parquet scan with prefixed column names: column pruning still
    *    reaches the scan (a rename is a Project over the scan).
    *
    * Returns None when no relation repeats — the common path pays one
    * parse. */
  private def expandSelfJoins(spark: SparkSession, dir: String, sqlText: String,
      explicitFk: Option[Seq[TreeCompiler.FkEdge]])
      : Option[(String, Seq[TreeCompiler.FkEdge],
                (SparkSession, String, String) => DataFrame)] = {
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    // FROM instances: (base relation, direct alias if any, relation-name origin)
    val instances = scala.collection.mutable.ArrayBuffer[
      (String, Option[String], org.apache.spark.sql.catalyst.trees.Origin)]()
    def walk(p: LogicalPlan): Unit = p match {
      case a: SubqueryAlias if a.child.isInstanceOf[UnresolvedRelation] =>
        val u = a.child.asInstanceOf[UnresolvedRelation]
        instances += ((u.multipartIdentifier.last, Some(a.alias), u.origin))
      case u: UnresolvedRelation =>
        instances += ((u.multipartIdentifier.last, None, u.origin))
      case other => other.children.foreach(walk)
    }
    walk(plan)
    val dup: Set[String] = instances.groupBy(_._1).filter(_._2.size > 1).keySet
      .filter(_.nonEmpty)
    if (dup.isEmpty) return None
    dup.foreach { r =>
      if (instances.exists(i => i._1 == r && i._2.isEmpty))
        fail(s"self-join on '$r': alias every instance (FROM $r a, $r b) so each " +
          "can become its own changelog identity")
    }
    // lowercased aliases are the virtual relation names
    val dupInsts: Seq[(String, String)] = instances.toSeq.collect {
      case (r, Some(al), _) if dup(r) => (r, al.toLowerCase) }
    val aliases = dupInsts.map(_._2)
    if (aliases.distinct.size != aliases.size)
      fail(s"self-join instance aliases must be distinct, got $aliases")
    val baseNames = instances.map(_._1).toSet
    aliases.find(a => baseNames.exists(_.toLowerCase == a)).foreach(a =>
      fail(s"self-join instance alias '$a' collides with a relation name — rename it"))
    val aliasToBase: Map[String, String] =
      dupInsts.map { case (r, a) => a -> r }.toMap
    val baseSchemas: Map[String, StructType] =
      baseNames.map(n => n -> Tables.load(spark, dir, n).schema).toMap
    val dupCols: Set[String] =
      dup.flatMap(r => baseSchemas(r).fieldNames).toSet
    // text edits (start, stopInclusive, replacement), applied back to front
    val edits = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    instances.foreach {
      case (r, Some(al), o) if dup(r) =>
        val (s0, s1) = (o.startIndex.getOrElse(fail(
          s"cannot locate '$r' in the query text")), o.stopIndex.get)
        edits += ((s0, s1, al.toLowerCase))
      case _ =>
    }
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case a: UnresolvedAttribute =>
          if (a.nameParts.size > 1) {
            val q = a.nameParts(a.nameParts.size - 2).toLowerCase
            if (aliasToBase.contains(q)) {
              val (s0, s1) = (a.origin.startIndex.getOrElse(fail(
                s"cannot locate ${a.nameParts.mkString(".")} in the query text")),
                a.origin.stopIndex.get)
              edits += ((s0, s1, s"${q}_${a.nameParts.last}"))
            }
          } else if (dupCols(a.nameParts.last))
            fail(s"column ${a.nameParts.last} is ambiguous in a self-join query — " +
              s"qualify it with an instance alias (${aliases.mkString(", ")})")
        case _ =>
      })
    }
    val ordered: Seq[(Int, Int, String)] = edits.toSeq.sortBy(-_._1)
    ordered.sliding(2).foreach { w =>
      if (w.size == 2 && w(0)._1 <= w(1)._2)
        fail("overlapping self-join rewrite spans — qualify references explicitly")
    }
    val newText = ordered.foldLeft(sqlText) { case (t, (s0, s1, rep)) =>
      t.substring(0, s0) + rep + t.substring(s1 + 1)
    }
    // instance-mapped FK edges
    val rels = baseSchemas.toSeq.map { case (n, s) =>
      TreeCompiler.RelationSchema(n, s.fieldNames.toSeq) }
    val baseEdges = explicitFk.getOrElse(TreeCompiler.fkEdges(rels))
    def instNames(rel: String): Seq[(String, String)] =
      if (dup(rel)) dupInsts.collect { case (`rel`, a) => (a, s"${a}_") }
      else Seq((rel, ""))
    val mapped = baseEdges.flatMap { e =>
      for {
        (cn, cp) <- instNames(e.child)
        (pn, pp) <- instNames(e.parent) if cn != pn
      } yield TreeCompiler.FkEdge(cn, cp + e.fkCol, pn, pp + e.parentCol)
    }
    val loader: (SparkSession, String, String) => DataFrame = (s, d, name) =>
      aliasToBase.get(name) match {
        case Some(base) =>
          val df = Tables.load(s, d, base)
          df.select(df.columns.map(c =>
            org.apache.spark.sql.functions.col(c).as(s"${name}_$c")).toSeq: _*)
        case None => Tables.load(s, d, name)
      }
    Some((newText, mapped, loader))
  }

  /** compile + run in one call. */
  def run(spark: SparkSession, dir: String, sqlText: String,
          deletes: Map[String, Column] = Map.empty,
          explicitFk: Option[Seq[TreeCompiler.FkEdge]] = None): DataFrame =
    compile(spark, dir, sqlText, explicitFk).run(spark, dir, deletes)

  // ------------------------------------------------------------------
  // WITH (CTE) queries: maintained views composed under an outer query
  // ------------------------------------------------------------------

  /** A leading `WITH [RECURSIVE] name[(c1, c2)] AS (body) [, ...]`
    * clause, walked over Spark's tokens: whether it is RECURSIVE, each
    * CTE as (name as written, column aliases, body text) and the outer
    * query text; None when the text does not start with WITH. Shared
    * by [[splitWith]] and [[RecursiveSql.parseAll]]; the RECURSIVE
    * token decides which of them accepts the clause. */
  private[graft] def withClause(sqlText: String)
      : Option[(Boolean, Seq[(String, Seq[String], String)], String)] = {
    val toks = SqlText.tokens(sqlText)
    def kindAt(i: Int): Int = toks.lift(i).fold(-1)(_.kind)
    if (kindAt(0) != SqlBaseLexer.WITH) return None
    val recursive = kindAt(1) == SqlBaseLexer.RECURSIVE
    var i = if (recursive) 2 else 1
    val ctes = scala.collection.mutable.ArrayBuffer[(String, Seq[String], String)]()
    var more = true
    while (more) {
      val name = toks.lift(i).flatMap(_.word).getOrElse(fail(
        s"WITH: expected a CTE name at offset ${toks.lift(i).fold(sqlText.length)(_.start)}"))
      i += 1
      // optional COLUMN-ALIAS LIST: `name(a, b) AS (...)` — plain
      // identifiers only; the aliases rename the view's output
      var aliases = Seq.empty[String]
      if (kindAt(i) == SqlBaseLexer.LEFT_PAREN) {
        val close = SqlText.closeParen(toks, i)
          .getOrElse(fail(s"WITH $name(: unclosed column-alias list"))
        val inner = toks.slice(i + 1, close)
        aliases = inner.indices.collect { case k if k % 2 == 0 => inner(k).word.getOrElse("") }
        val wellFormed = inner.length % 2 == 1 && !aliases.contains("") &&
          inner.indices.forall(k => k % 2 == 0 || inner(k).kind == SqlBaseLexer.COMMA)
        if (!wellFormed)
          fail(s"WITH $name(...): expected a comma-separated list of column " +
            s"aliases, got '${sqlText.substring(toks(i).end, toks(close).start)}'")
        i = close + 1
      }
      if (kindAt(i) != SqlBaseLexer.AS) fail(s"WITH $name: expected AS")
      i += 1
      if (kindAt(i) != SqlBaseLexer.LEFT_PAREN)
        fail(s"WITH $name AS: expected a parenthesized subquery")
      val close = SqlText.closeParen(toks, i)
        .getOrElse(fail(s"WITH $name AS (: unbalanced parentheses"))
      ctes += ((name, aliases, sqlText.substring(toks(i).end, toks(close).start).trim))
      i = close + 1
      more = kindAt(i) == SqlBaseLexer.COMMA
      if (more) i += 1
    }
    Some((recursive, ctes.toSeq, toks.lift(i).fold("")(t => sqlText.substring(t.start).trim)))
  }

  /** Split a leading `WITH name AS (body) [, name2 AS (body2) ...]`
    * prefix off `sqlText` through [[withClause]]. Returns each CTE as
    * (lower-cased name, columnAliases, bodyText) — the alias list
    * (`name(c1, c2) AS ...`) renames the view's output — plus the
    * outer query text, or None when the text does not start with
    * WITH. `WITH RECURSIVE` redirects to [[RecursiveSql]]. */
  private[graft] def splitWith(sqlText: String)
      : Option[(Seq[(String, Seq[String], String)], String)] =
    withClause(sqlText).map { case (recursive, ctes, outer) =>
      if (recursive)
        fail("WITH RECURSIVE compiles via RecursiveSql.run — the bounded " +
          "checkpointed fixpoint loop; this front end maintains only " +
          "non-recursive views")
      (ctes.map { case (n, as, body) => (n.toLowerCase, as, body) }, outer)
    }

  /** Lift aliased DERIVED TABLES — `FROM (SELECT ...) [AS] t` — out of
    * `sqlText`: each becomes an anonymous CTE named by its alias, and
    * the span is replaced by the bare alias, so the derived-table
    * spelling rides the same [[CompiledCte]] machinery as WITH.
    * Detection walks Spark's tokens: a `(` whose next token is SELECT
    * *and* whose close paren is followed by an identifier (optionally
    * after AS) that is not a clause keyword. Subquery PREDICATES —
    * `IN (SELECT ...)`, `EXISTS (...)`, scalar `(SELECT max ...)`
    * comparisons — are never followed by an alias, so they stay
    * untouched for the gate/scalar compilers. Unaliased derived
    * tables and alias column lists (`t(a, b)`) fail loudly. */
  private[graft] def liftDerivedTables(sqlText: String): (Seq[(String, String)], String) = {
    val defs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val out = new StringBuilder
    val clauseKw = Set("ON", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
      "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "ASOF", "USING",
      "UNION", "INTERSECT", "EXCEPT", "AND", "OR", "WINDOW", "QUALIFY")
    val toks = SqlText.tokens(sqlText)
    def kindAt(i: Int): Int = toks.lift(i).fold(-1)(_.kind)
    var copied = 0 // sqlText before this offset is already in `out`
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == SqlBaseLexer.LEFT_PAREN && kindAt(i + 1) == SqlBaseLexer.SELECT) {
        val close = SqlText.closeParen(toks, i)
          .getOrElse(fail("unbalanced parentheses in FROM subquery"))
        // alias? [AS] ident not a clause keyword → derived table
        val hadAs = kindAt(close + 1) == SqlBaseLexer.AS
        val a = if (hadAs) close + 2 else close + 1
        toks.lift(a).flatMap(_.word).filter(w => hadAs || !clauseKw(w.toUpperCase)) match {
          case Some(alias) =>
            if (kindAt(a + 1) == SqlBaseLexer.LEFT_PAREN)
              fail(s"derived table ($alias): alias column lists are not " +
                "compiled — alias the columns inside the subquery's SELECT")
            defs += ((alias.toLowerCase,
              sqlText.substring(toks(i).end, toks(close).start).trim))
            out.append(sqlText.substring(copied, toks(i).start)).append(toks(a).text)
            copied = toks(a).end
            i = a + 1
          case None => i = close + 1 // subquery predicate (IN/EXISTS/scalar) — left verbatim
        }
      } else i += 1
    }
    (defs.toSeq, out.append(sqlText.substring(copied)).toString)
  }

  /** A compiled WITH query: each CTE body is an incrementally
    * maintained view ([[Compiled]]); the OUTER query evaluates as
    * stock Spark SQL over the refreshed view outputs (registered
    * under the CTE names) plus any base relations it decorates with.
    *
    * Scale contract: the incremental work — the part proportional to
    * the INPUT — is entirely inside the maintained views; the outer
    * query's input is the views' output (group-cardinality, not
    * input-cardinality) joined at most against base dimensions, so
    * re-evaluating it per refresh is the same cost class as the
    * presentation transforms (HAVING/ORDER BY/windows) the compiler
    * already re-runs per refresh. In exchange the outer side has the
    * FULL Spark SQL surface: re-aggregation over a view, view⋈view
    * joins, window decorations, expressions the incremental fold
    * could not maintain. */
  final case class CompiledCte(
      /** Maintained CTEs as BRANCH GROUPS: a plain body is one
        * [[Compiled]]; a top-level UNION ALL body is one compiled
        * tree per branch, unioned at refresh (each branch maintains
        * independently — the same per-branch shape as
        * [[compileUnionAll]], registered under the CTE's name). */
      ctes: Seq[(String, Seq[Compiled])],
      /** PRESENTATION CTEs: bodies that read earlier CTEs. They are
        * never compiled — their input is already view output
        * (group-cardinality), so they evaluate as stock Spark SQL in
        * the outer session, registered in definition order on top of
        * the refreshed maintained views. This is how staged SQL
        * (view → ranked → filtered) rides the incremental engine:
        * only the stage touching base data is input-proportional. */
      presentation: Seq[(String, String)],
      outerSql: String,
      /** Base relations the outer query (or a presentation CTE) reads
        * directly (dimension decoration); they see the SAME
        * deletes-applied state as the maintained views' changelogs. */
      outerBaseRels: Seq[String],
      /** SET-SEMANTICS UNION bodies: maintained through the
        * [[CompiledUnionDistinct]] netting node (a tuple leaves only
        * when NO branch still produces it) and registered under the
        * CTE's name like any other view. */
      setCtes: Seq[(String, CompiledUnionDistinct)] = Nil,
      /** Per-CTE column-alias lists (`WITH t(a, b) AS ...`): rename
        * the view's output positionally before registration. */
      cteAliases: Map[String, Seq[String]] = Map.empty) {

    private[graft] def applyAliases(name: String, df: DataFrame): DataFrame =
      cteAliases.get(name) match {
        case None => df
        case Some(as) =>
          if (as.size != df.columns.length)
            fail(s"WITH $name(${as.mkString(", ")}): ${as.size} aliases for " +
              s"${df.columns.length} output column(s)")
          df.toDF(as: _*)
      }

    def run(spark: SparkSession, dir: String,
            deletes: Map[String, Column] = Map.empty): DataFrame = {
      // a delete must land somewhere — a typo'd relation name that
      // silently no-ops would make a stale view read as maintained
      val known = ctes.flatMap(_._2).flatMap(_.path).toSet ++
        setCtes.flatMap(_._2.branches).flatMap(_.path).toSet ++ outerBaseRels
      (deletes.keySet -- known).foreach(rel =>
        fail(s"delete condition on '$rel' references no relation of this " +
          s"WITH query (relations: ${known.toSeq.sorted.mkString(", ")})"))
      // temp-view isolation: CTE names must not leak into (or read
      // from) the caller's session
      val ss = spark.newSession()
      ctes.foreach { case (name, branches) =>
        applyAliases(name, branches.map { c =>
          val d = deletes.filter { case (rel, _) => c.path.contains(rel) }
          c.run(ss, dir, d)
        }.reduce(_ union _)).createOrReplaceTempView(name)
      }
      setCtes.foreach { case (name, c) =>
        val d = deletes.filter { case (rel, _) =>
          c.branches.exists(_.path.contains(rel)) }
        applyAliases(name, c.run(ss, dir, d)).createOrReplaceTempView(name)
      }
      outerBaseRels.foreach { rel =>
        val base = Tables.load(ss, dir, rel)
        deletes.get(rel).map(cond => base.filter(!cond)).getOrElse(base)
          .createOrReplaceTempView(rel)
      }
      presentation.foreach { case (name, body) =>
        applyAliases(name, ss.sql(body)).createOrReplaceTempView(name)
      }
      ss.sql(outerSql)
    }
  }

  /** Compile a `WITH ... SELECT ...` query. CTEs classify by what
    * they read, in definition order:
    *
    *  - a body reading ONLY base relations is a MAINTAINED view —
    *    compiled through [[compile]] (the loud fences apply per
    *    body);
    *  - a body reading at least one EARLIER CTE is a PRESENTATION
    *    CTE — its input is already view output, so it evaluates as
    *    stock SQL over the refreshed views (mixed reads are fine:
    *    base relations it touches get the deletes-applied state,
    *    like the outer query's).
    *
    * Column-alias lists (`WITH t(a, b) AS ...`) rename the view's
    * output; set-semantics UNION bodies maintain through the
    * [[CompiledUnionDistinct]] netting node. Forward references,
    * self references (recursion — see [[RecursiveSql]]) and duplicate
    * names fail loudly. */
  def compileCte(spark: SparkSession, dir: String, sqlText: String): CompiledCte = {
    val (withDefs, outer0) = splitWith(sqlText)
      .getOrElse((Seq.empty[(String, Seq[String], String)], sqlText))
    // aliased FROM (SELECT ...) t derived tables lift to anonymous
    // CTEs named by their alias — same machinery, second spelling
    val (derivedDefs, outerSql) = liftDerivedTables(outer0)
    val cteDefs = withDefs ++ derivedDefs.map { case (n, b) => (n, Seq.empty[String], b) }
    if (cteDefs.isEmpty)
      fail("compileCte: the query has neither a WITH clause nor an " +
        "aliased FROM (SELECT ...) derived table")
    val dups = cteDefs.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty) fail(s"duplicate CTE name(s): ${dups.mkString(", ")}")
    val cteNames = cteDefs.map(_._1).toSet
    val cteAliases = cteDefs.collect { case (n, as, _) if as.nonEmpty => n -> as }.toMap
    def relsOf(text: String): Seq[String] =
      spark.sessionState.sqlParser.parsePlan(text).collect {
        case u: UnresolvedRelation => u.multipartIdentifier.last.toLowerCase
      }.distinct
    val compiled = scala.collection.mutable.ArrayBuffer[(String, Seq[Compiled])]()
    val setCompiled = scala.collection.mutable.ArrayBuffer[(String, CompiledUnionDistinct)]()
    val presentation = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val presBaseRels = scala.collection.mutable.ArrayBuffer[String]()
    val seen = scala.collection.mutable.Set[String]()
    cteDefs.foreach { case (name, _, body) =>
      val refs = relsOf(body).filter(cteNames)
      if (refs.contains(name))
        fail(s"CTE '$name' references itself — recursive CTEs compile via " +
          "RecursiveSql.run")
      val forward = refs.filterNot(seen)
      if (forward.nonEmpty)
        fail(s"CTE '$name' reads CTE(s) ${forward.mkString(", ")} defined " +
          "after it — reorder the WITH clause (references flow backward)")
      if (refs.nonEmpty) {
        presentation += ((name, body))
        presBaseRels ++= relsOf(body).filterNot(cteNames)
      } else {
        // a top-level UNION ALL body compiles per branch (alignment
        // validated by compileUnionAll); a set-semantics UNION body
        // maintains through the CompiledUnionDistinct netting node;
        // MIXING the two at one level stays fenced (association)
        val (bparts, bkinds) = splitTopLevelUnion(body)
        try {
          if (bparts.size == 1) compiled += (name -> Seq(compile(spark, dir, body)))
          else if (bkinds.forall(identity))
            compiled += (name -> compileUnionAll(spark, dir, body))
          else if (!bkinds.exists(identity))
            setCompiled += (name -> compileUnionDistinct(spark, dir, body))
          else fail("mixing UNION and UNION ALL at one level is not " +
            "compiled (parenthesize to fix the association)")
        }
        catch { case e: IllegalArgumentException =>
          fail(s"CTE '$name': ${e.getMessage}")
        }
      }
      seen += name
    }
    val outerRels = relsOf(outerSql)
    val (cteRefs, outerOnlyBase) = outerRels.partition(cteNames)
    val baseRels = (outerOnlyBase ++ presBaseRels).distinct
    // probe base relations FIRST (schema load fails loudly for a name
    // that is neither a CTE nor a fixture table — e.g. a typo'd CTE —
    // which is the likelier mistake than a genuinely CTE-free outer)
    baseRels.foreach { rel =>
      try Tables.load(spark, dir, rel).schema
      catch { case scala.util.control.NonFatal(_) =>
        fail(s"outer query relation '$rel' is neither a CTE of this query " +
          "nor a base table")
      }
    }
    if (cteRefs.isEmpty)
      fail("the outer query reads no CTE — drop the WITH clause and " +
        "compile the query directly")
    CompiledCte(compiled.toSeq, presentation.toSeq, outerSql, baseRels,
      setCompiled.toSeq, cteAliases)
  }

  /** [[compileCte]] + refresh in one call. */
  def runCte(spark: SparkSession, dir: String, sqlText: String,
             deletes: Map[String, Column] = Map.empty): DataFrame =
    compileCte(spark, dir, sqlText).run(spark, dir, deletes)
}
