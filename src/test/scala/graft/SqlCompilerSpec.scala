package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{DeltaEngine, IncrementalQueries, SqlCompiler}

class SqlCompilerSpec extends AnyFunSuite with org.scalatest.ParallelTestExecution {
  private def s = SparkTestSession.spark
  private val d = SparkTestSession.sfTiny

  private val q10Sql =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation, customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      | AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  test("compile recovers the q10 chain, predicates, and aggregates from SQL text") {
    val c = SqlCompiler.compile(s, d, q10Sql)
    assert(c.path == Seq("nation", "customer", "orders", "lineitem"))
    assert(c.stages.map(_.spec.relation) == c.path)
    assert(c.stages.head.spec.isRoot && c.stages.head.spec.setSemantics)
    assert(c.wheres.keySet == Set("orders", "lineitem"))
    assert(c.wheres("lineitem").contains("l_returnflag = 'R'"))
    assert(c.groupCols == Seq("c_custkey", "c_name", "c_acctbal", "n_name"))
    assert(c.aggs.map(a => (a.kind, a.alias)) ==
      Seq(("sum", "revenue_e4"), ("count", "n_rows")))
    // key/routing columns always travel in the canonical rows
    assert(c.needed("orders").contains("o_orderkey") && c.needed("orders").contains("o_custkey"))
  }

  /** The tree-API form the compiler replaces: hand-built `stages` run
    * over the statement's changelogs under `deletes`, and the leaf
    * deltas folded by hand into `revenue_e4` and `n_rows` per
    * `groups` (name, type). */
  private def handRevenue(sqlText: String, deletes: Map[String, org.apache.spark.sql.Column],
      stages: Seq[DeltaEngine.Stage],
      groups: Seq[(String, org.apache.spark.sql.types.DataType)]) = {
    def canon(c: String) = graft.functions.CanonGet.canon_get(col("row"), c)
    val logs = SqlCompiler.compile(s, d, sqlText).sourceChangelogs(s, d, deletes)
    DeltaEngine.runTree(stages, logs).toDF()
      .select(((col("tag") * col("mult")).as("sign") +:
        groups.map { case (g, t) => canon(g).cast(t).as(g) }) :+
        round(canon("l_extendedprice").cast("double") *
          (lit(1.0) - canon("l_discount").cast("double")) * 10000, 0).cast("long").as("rev_e4"): _*)
      .groupBy(groups.map(g => col(g._1)): _*)
      .agg(sum(col("sign") * col("rev_e4")).as("revenue_e4"),
        sum(col("sign")).cast("long").as("n_rows"))
      .filter(col("n_rows") > 0)
  }

  test("compiled q10 SQL equals the hand-built incremental query under the same deletes") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    import DeltaEngine.{NodeSpec, chainStages}
    val deletes = Map(
      "lineitem" -> (col("l_linenumber") === 3),
      "orders" -> (col("o_orderkey") % 50 === 0))
    val got = SqlCompiler.run(s, d, q10Sql, deletes = deletes)
      .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue_e4")
      .orderBy("c_custkey").collect().toSeq
    val want = handRevenue(q10Sql, deletes, chainStages(Seq(
        NodeSpec("nation", "n_nationkey", "n_nationkey", isRoot = true, setSemantics = true),
        NodeSpec("customer", "c_nationkey", "c_custkey"),
        NodeSpec("orders", "o_custkey", "o_orderkey"),
        NodeSpec("lineitem", "l_orderkey", "l_orderkey"))),
        Seq("c_custkey" -> LongType, "c_name" -> StringType, "c_acctbal" -> DoubleType,
          "n_name" -> StringType))
      .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue_e4")
      .orderBy("c_custkey").collect().toSeq
    assert(got == want)
  }

  test("insert-only compiled run equals plain Spark SQL over the base tables") {
    Seq("region", "nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val sqlText =
      """SELECT n_name, SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | COUNT(*) AS n_rows
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        | JOIN customer ON c_nationkey = n_nationkey
        | JOIN orders ON o_custkey = c_custkey
        |WHERE r_name <> 'AFRICA' AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText)
      .orderBy("n_name").collect().toSeq
    val want = s.sql(sqlText).orderBy("n_name").collect().toSeq
    assert(got == want)
    // table ALIASES unwrap to their base relations (qualified or bare
    // column references both resolve by bare name)
    val aliased =
      """SELECT n_name, COUNT(*) AS n_rows
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        | JOIN customer c ON c.c_nationkey = n.n_nationkey
        |WHERE r.r_name <> 'AFRICA'
        |GROUP BY n_name""".stripMargin
    assert(SqlCompiler.run(s, d, aliased).orderBy("n_name").collect().toSeq ==
      s.sql(aliased).orderBy("n_name").collect().toSeq)
    // an alias over a PARENTHESIZED JOIN subtree qualifies every column
    // underneath it (Spark's grammar allows it; compiles here too)
    val subtree =
      """SELECT n_name, COUNT(*) AS n_rows
        |FROM (nation JOIN customer ON c_nationkey = n_nationkey) j
        |WHERE j.c_acctbal > 0
        |GROUP BY n_name""".stripMargin
    assert(SqlCompiler.run(s, d, subtree).orderBy("n_name").collect().toSeq ==
      s.sql(subtree).orderBy("n_name").collect().toSeq)
    // renaming a plain group column does NOT clobber the key: the same
    // column stays referenceable under its original name
    val renamed =
      """SELECT n_name, n_name AS nation, COUNT(*) AS n_rows
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin
    assert(SqlCompiler.run(s, d, renamed).orderBy("n_name").collect().toSeq ==
      s.sql(renamed).orderBy("n_name").collect().toSeq)
  }

  test("eventFilter over raw changelogs equals scan-filtered sources") {
    val c = SqlCompiler.compile(s, d, q10Sql)
    val deletes = Map(
      "lineitem" -> (col("l_linenumber") === 3),
      "orders" -> (col("o_orderkey") % 50 === 0))
    val raw = c.sourceChangelogs(s, d, deletes, filtered = false)
    val filtered = raw.map { case (rel, ds) =>
      rel -> c.eventFilter(s, rel).map(ds.filter).getOrElse(ds)
    }
    // the stream predicate reads the canon row by byte scan, with no
    // per-event str_to_map build
    val lineitemFilter =
      org.apache.spark.sql.GraftBridge.toExpression(c.eventFilter(s, "lineitem").get)
    assert(!lineitemFilter.toString.contains("str_to_map"), lineitemFilter)
    // raw orders/lineitem changelogs are strictly larger…
    assert(raw("lineitem").count() > filtered("lineitem").count())
    assert(raw("orders").count() > filtered("orders").count())
    // …and the event-level filter reproduces the scan-level one exactly
    val got = c.aggregate(
        graft.streaming.DeltaEngine.runTree(c.stages, filtered).toDF())
      .orderBy("c_custkey").collect().toSeq
    val want = c.run(s, d, deletes).orderBy("c_custkey").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("eventFilter + pair plan: raw shared-dim changelogs equal scan-filtered run") {
    val sqlText =
      """SELECT n_name, COUNT(*) AS n_pairs
        |FROM nation, customer, orders, supplier
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND s_nationkey = n_nationkey AND s_suppkey % 3 <> 0
        | AND o_orderkey % 2 = 0
        |GROUP BY n_name""".stripMargin
    val c = SqlCompiler.compile(s, d, sqlText)
    val deletes = Map("supplier" -> (col("s_suppkey") % 4 === 0))
    val raw = c.sourceChangelogs(s, d, deletes, filtered = false)
    val filtered = raw.map { case (rel, ds) =>
      rel -> c.eventFilter(s, rel).map(ds.filter).getOrElse(ds)
    }
    assert(raw("supplier").count() > filtered("supplier").count())
    val got = c.aggregate(
        graft.streaming.DeltaEngine.runTree(c.stages, filtered).toDF())
      .orderBy("n_name").collect().toSeq
    val want = c.run(s, d, deletes).orderBy("n_name").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("compiled SQL runs continuously: streamed micro-batches equal the batch run") {
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DeltaEngine.Evt
    val sparkS = s
    import sparkS.implicits._
    val c = SqlCompiler.compile(s, d, q10Sql)
    val deletes = Map(
      "lineitem" -> (col("l_linenumber") === 3),
      "orders" -> (col("o_orderkey") % 50 === 0))
    // feed RAW (unfiltered) events — runStream applies eventFilter
    val logs = c.sourceChangelogs(s, d, deletes, filtered = false)
      .view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = c.runStream(streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("sql_q10_leaf").outputMode("append").start()
    try {
      // batch 1: inserts; batch 2: deletes — state carries across
      streams.foreach { case (rel, ms) =>
        val ins = logs(rel).filter(_.seq == 0L)
        if (ins.nonEmpty) ms.addData(ins)
      }
      query.processAllAvailable()
      streams.foreach { case (rel, ms) =>
        val dels = logs(rel).filter(_.seq == 1L)
        if (dels.nonEmpty) ms.addData(dels)
      }
      query.processAllAvailable()
      val got = c.aggregate(s.table("sql_q10_leaf"))
        .orderBy("c_custkey").collect().toSeq
      val want = c.run(s, d, deletes).orderBy("c_custkey").collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally query.stop()
  }

  private val partRevSql =
    """SELECT n_name, p_brand,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation, customer, orders, lineitem, part
      |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
      | AND l_orderkey = o_orderkey AND l_partkey = p_partkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      | AND l_returnflag = 'R' AND p_size <= 25
      |GROUP BY n_name, p_brand""".stripMargin

  test("BRANCHING tree compiles from SQL text: stages split lineitem per parent") {
    val c = SqlCompiler.compile(s, d, partRevSql)
    // lineitem gets TWO stages (⋈orders then ⋈part); everyone else one
    assert(c.stages.map(_.name) ==
      Seq("nation", "customer", "orders", "part", "lineitem", "lineitem__part"))
    val li2 = c.stages.last
    assert(li2.ownStage.contains("lineitem") && li2.parentStage.contains("part"))
    assert(li2.spec.childKeyCol == "l_partkey")
    // the first lineitem stage re-keys its emissions for the second
    assert(c.stages.find(_.name == "lineitem").get.spec.nextKeyCol == "l_partkey")
    // part's local predicate landed as its scan filter
    assert(c.wheres("part").contains("p_size"))
    // both lineitem FKs travel in its canonical rows
    assert(c.needed("lineitem").contains("l_orderkey") &&
      c.needed("lineitem").contains("l_partkey"))
  }

  test("compiled branching SQL equals the hand-built branching tree under the same deletes") {
    import org.apache.spark.sql.types.StringType
    import DeltaEngine.{NodeSpec, Stage}
    val deletes = Map(
      "lineitem" -> (col("l_linenumber") === 3),
      "orders" -> (col("o_orderkey") % 50 === 0),
      "part" -> (col("p_partkey") % 10 === 0))
    val got = SqlCompiler.run(s, d, partRevSql, deletes = deletes)
      .orderBy("n_name", "p_brand").collect().toSeq
    val want = handRevenue(partRevSql, deletes, Seq(
        Stage("nation", NodeSpec("nation", "n_nationkey", "n_nationkey",
          isRoot = true, setSemantics = true)),
        Stage("customer", NodeSpec("customer", "c_nationkey", "c_custkey"),
          parentStage = Some("nation")),
        Stage("orders", NodeSpec("orders", "o_custkey", "o_orderkey"),
          parentStage = Some("customer")),
        Stage("lineitem", NodeSpec("lineitem", "l_orderkey", "l_partkey"),
          parentStage = Some("orders")),
        Stage("part", NodeSpec("part", "p_partkey", "p_partkey",
          isRoot = true, setSemantics = true)),
        Stage("lineitem_part", NodeSpec("lineitem", "l_partkey", "l_partkey"),
          ownStage = Some("lineitem"), parentStage = Some("part"))),
        Seq("n_name" -> StringType, "p_brand" -> StringType))
      .select("n_name", "p_brand", "revenue_e4", "n_rows")
      .orderBy("n_name", "p_brand").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("AVG compiles as the retractable SUM/COUNT pair and survives deletes") {
    val sqlText =
      """SELECT n_name, AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS avg_price_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderkey") % 7 === 0)))
      .orderBy("n_name").collect().toSeq
    // oracle: exact integer sum over the survivors, one double divide
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val want = s.sql(
      """SELECT n_name, AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS avg_price_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin).orderBy("n_name").collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(2))) ==
      want.map(r => (r.getString(0), r.getLong(2))))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g.getDouble(1) - w.getDouble(1)) < 1e-9, s"$g vs $w")
    }
    assert(got.nonEmpty)
  }

  test("VAR_SAMP/STDDEV_SAMP fold exact moments and survive deletes") {
    val sqlText =
      """SELECT n_name,
        | VAR_SAMP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS var_e2,
        | STDDEV(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS std_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderkey") % 7 === 0)))
      .orderBy("n_name").collect().toSeq
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // oracle: Spark's own var_samp/stddev over the survivors — a
    // DIFFERENT numeric path (streaming central moments), so compare
    // with relative tolerance; bit-parity with the moment formula is
    // the registered entry's DuckDB gate
    val want = s.sql(
      """SELECT n_name,
        | VAR_SAMP(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS var_e2,
        | STDDEV(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS std_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin).orderBy("n_name").collect().toSeq
    assert(got.nonEmpty && got.map(r => (r.getString(0), r.getLong(3))) ==
      want.map(r => (r.getString(0), r.getLong(3))))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g.getDouble(1) - w.getDouble(1)) <=
        1e-9 * math.max(1.0, math.abs(w.getDouble(1))), s"$g vs $w")
      assert(math.abs(g.getDouble(2) - w.getDouble(2)) <=
        1e-9 * math.max(1.0, math.abs(w.getDouble(2))), s"$g vs $w")
      assert(math.abs(g.getDouble(2) * g.getDouble(2) - g.getDouble(1)) <=
        1e-7 * math.max(1.0, math.abs(g.getDouble(1)))) // std = sqrt(var)
    }
    // a single-row group: VAR_SAMP must be NULL (n-1 = 0), not a crash
    val one = SqlCompiler.run(s, d,
      """SELECT n_name, VAR_SAMP(CAST(n_nationkey AS BIGINT)) AS v
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey AND c_custkey = 1
        |GROUP BY n_name""".stripMargin).collect().toSeq
    assert(one.size == 1 && one.head.isNullAt(1))
    // a DOUBLE argument trips the float-fold guard; a fractional
    // DECIMAL one (fine for SUM) trips the var-specific INTEGRAL
    // guard — the moment fold would otherwise silently truncate
    val e1 = intercept[IllegalArgumentException] {
      SqlCompiler.run(s, d,
        """SELECT n_name, VAR_SAMP(c_acctbal) AS v FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin)
    }
    assert(e1.getMessage.contains("FLOATING-POINT"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SqlCompiler.run(s, d,
        """SELECT n_name, VAR_SAMP(CAST(c_acctbal AS DECIMAL(12,2))) AS v
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin)
    }
    assert(e2.getMessage.contains("INTEGRAL"), e2.getMessage)
  }

  test("AVG yields NULL, not an ANSI divide-by-zero, when the non-NULL subset nets away") {
    // the argument is NULL except on o_orderkey % 7 = 0 rows, and the
    // deletes remove exactly those rows: every group stays alive
    // (__net > 0 via its NULL-argument rows) while the AVG denominator
    // nets to zero — SQL's answer is NULL; an unguarded division
    // throws DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    val sqlText =
      """SELECT n_name,
        | AVG(CASE WHEN o_orderkey % 7 = 0
        |          THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS avg_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderkey") % 7 === 0)))
      .orderBy("n_name").collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_.isNullAt(1)), got.mkString(", "))
    assert(got.forall(_.getLong(2) > 0))
  }

  test("HAVING / ORDER BY / LIMIT compile as presentation over the view") {
    Seq("nation", "customer", "orders", "lineitem").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // the reference's full flagship shape, pasted verbatim
    val fullQ10 =
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND c_nationkey = n_nationkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |HAVING n_rows >= 2
        |ORDER BY revenue_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin
    val got = SqlCompiler.run(s, d, fullQ10).collect().toSeq
    val want = s.sql(fullQ10).collect().toSeq
    assert(got == want && got.nonEmpty)
    // sort keys over aggregate CALLS fail loudly
    val ex = intercept[IllegalArgumentException] {
      SqlCompiler.compile(s, d, q10Sql + "\nORDER BY SUM(l_discount) DESC")
    }
    assert(ex.getMessage.contains("alias the aggregate"))
    // UNALIASED aggregates in HAVING compile: each distinct fragment
    // joins the fold under a hidden alias (dropped after the filter) —
    // including one that appears in no SELECT item (the MIN here)
    val unaliased =
      """SELECT n_name, COUNT(*) AS n_rows
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING COUNT(*) > 6 AND MIN(c_acctbal) < 9000
        |ORDER BY n_name""".stripMargin
    val gotU = SqlCompiler.run(s, d, unaliased).collect().toSeq
    val wantU = s.sql(unaliased).collect().toSeq
    assert(gotU == wantU && gotU.nonEmpty)
    assert(gotU.head.schema.fieldNames.toSeq == Seq("n_name", "n_rows"),
      "hidden HAVING columns must not leak into the output")
    // ordinals resolve to the n-th output column (SQL semantics) —
    // compiling them as literal constants would silently unsort
    val ordQ = fullQ10.replace("ORDER BY revenue_e4 DESC, c_custkey", "ORDER BY 5 DESC, 1")
    assert(SqlCompiler.run(s, d, ordQ).collect().toSeq ==
      s.sql(ordQ).collect().toSeq)
    val ex2 = intercept[IllegalArgumentException] {
      SqlCompiler.run(s, d, q10Sql + "\nORDER BY 9 DESC")
    }
    assert(ex2.getMessage.contains("out of range"))
    // scalar functions in sort keys are fine (evaluate per output row)
    SqlCompiler.compile(s, d, q10Sql + "\nORDER BY upper(c_name) DESC")
    // qualified references in presentation clauses dequalify (group
    // columns are bare on the output frame) instead of surfacing as a
    // runtime AnalysisException
    val qualQ = fullQ10
      .replace("HAVING n_rows >= 2", "HAVING nation.n_name IS NOT NULL AND n_rows >= 2")
      .replace("ORDER BY revenue_e4 DESC, c_custkey",
        "ORDER BY revenue_e4 DESC, customer.c_custkey")
    assert(SqlCompiler.run(s, d, qualQ).collect().toSeq ==
      s.sql(qualQ).collect().toSeq)
    // aggregate detection goes through the FunctionRegistry, so
    // aggregates OUTSIDE any fixed name list are also caught at
    // compile time instead of surfacing as a runtime AnalysisException
    Seq("count_if(c_acctbal > 0)", "bool_and(c_acctbal > 0)",
        "percentile(c_acctbal, 0.5)", "approx_count_distinct(c_name)",
        "count(*)").foreach { call =>
      val exr = intercept[IllegalArgumentException] {
        SqlCompiler.compile(s, d, q10Sql + s"\nORDER BY $call DESC")
      }
      assert(exr.getMessage.contains("alias the aggregate"), s"$call: ${exr.getMessage}")
    }
  }

  test("GROUP BY expressions compile as computed keys and survive deletes") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // a computed grouping key (year + quarter), with a plain column
    // renamed through SELECT — both beyond plain-column GROUP BY
    val sqlText =
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        | COUNT(*) AS n_orders,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT),
        | CAST(quarter(o_orderdate) AS BIGINT)""".stripMargin
    val c = SqlCompiler.compile(s, d, sqlText)
    // the plain column keeps its canonical key name (the rename lives
    // in the OUTPUT selection); computed keys bind their SELECT aliases
    assert(c.groupCols == Seq("n_name", "yr", "qtr"))
    assert(c.outputCols == Seq("nation", "yr", "qtr", "n_orders", "price_e2"))
    // insert-only equals plain Spark SQL
    val got = SqlCompiler.run(s, d, sqlText).orderBy("nation", "yr", "qtr").collect().toSeq
    val want = s.sql(sqlText).orderBy("nation", "yr", "qtr").collect().toSeq
    assert(got == want && got.nonEmpty)
    // with deletes: equals the survivors query
    val del = Map("orders" -> (col("o_orderkey") % 3 === 0))
    val gotDel = SqlCompiler.run(s, d, sqlText, deletes = del)
      .orderBy("nation", "yr", "qtr").collect().toSeq
    val wantDel = s.sql(sqlText.replace("GROUP BY",
        "AND o_orderkey % 3 <> 0 GROUP BY"))
      .orderBy("nation", "yr", "qtr").collect().toSeq
    assert(gotDel == wantDel && gotDel.nonEmpty && gotDel != got)
    // grouping by an expression WITHOUT selecting it still works (the
    // key stays internal) — here output collapses to per-nation rows
    // per (hidden) year
    val hidden =
      """SELECT n_name, COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, year(o_orderdate)""".stripMargin
    assert(SqlCompiler.run(s, d, hidden).collect().toSeq.sortBy(_.toString) ==
      s.sql(hidden).collect().toSeq.sortBy(_.toString))
    // MIN/MAX rollups join back on computed keys too
    val mm =
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | MAX(o_totalprice) AS hi, COUNT(*) AS n_orders
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""".stripMargin
    val gotMm = SqlCompiler.run(s, d, mm, deletes = Map(
        "orders" -> (col("o_totalprice") > 400000)))
      .orderBy("n_name", "yr").collect().toSeq
    val wantMm = s.sql(mm.replace("GROUP BY", "AND o_totalprice <= 400000 GROUP BY"))
      .orderBy("n_name", "yr").collect().toSeq
    assert(gotMm == wantMm && gotMm.nonEmpty)
    // aggregate calls inside GROUP BY fail loudly
    val ex = intercept[IllegalArgumentException] {
      SqlCompiler.compile(s, d,
        """SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name, sum(c_acctbal)""".stripMargin)
    }
    assert(ex.getMessage.contains("GROUP BY cannot contain aggregate calls"))
    // a SELECT expression matching no GROUP BY expression fails loudly
    val ex2 = intercept[IllegalArgumentException] {
      SqlCompiler.compile(s, d,
        """SELECT n_name, year(o_orderdate) AS yr, COUNT(*) AS n
          |FROM nation, customer, orders
          |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
          |GROUP BY n_name""".stripMargin)
    }
    assert(ex2.getMessage.contains("match a GROUP BY expression"), ex2.getMessage)
  }

  test("COUNT(DISTINCT x) / SUM(DISTINCT x) net per (group, value) and survive deletes") {
    val sqlText =
      """SELECT n_name, COUNT(DISTINCT o_orderpriority) AS n_prio,
        | SUM(DISTINCT o_custkey) AS sum_cust, COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    // deletes remove ALL orders of one priority for some customers —
    // the distinct count must drop only where the last value vanished,
    // and a custkey leaves the distinct sum only when its last order does
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderpriority") === "1-URGENT")))
      .orderBy("n_name").collect().toSeq
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val want = s.sql(
      """SELECT n_name, COUNT(DISTINCT o_orderpriority) AS n_prio,
        | SUM(DISTINCT o_custkey) AS sum_cust, COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderpriority <> '1-URGENT'
        |GROUP BY n_name""".stripMargin).orderBy("n_name").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("MIN/MAX re-expose the runner-up when deletes remove the extreme") {
    val sqlText =
      """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    // delete the top decile of prices: most groups lose their MAX and
    // must fall back to the surviving runner-up
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_totalprice") > 400000)))
      .orderBy("n_name").collect().toSeq
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val want = s.sql(
      """SELECT n_name, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_totalprice <= 400000
        |GROUP BY n_name""".stripMargin).orderBy("n_name").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("BETWEEN and IN predicates compile and match spark.sql insert-only") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val sqlText =
      """SELECT n_name, COUNT(*) AS n_orders,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_totalprice BETWEEN 1000 AND 150000
        | AND o_orderstatus IN ('F', 'O')
        | AND c_acctbal > 0
        |GROUP BY n_name""".stripMargin
    val c = SqlCompiler.compile(s, d, sqlText)
    // BETWEEN splits into two conjuncts; IN stays one — all three land
    // on their owning relations as scan filters
    assert(c.wheres.keySet == Set("orders", "customer"))
    assert(c.wheres("orders").contains("IN"))
    val got = SqlCompiler.run(s, d, sqlText).orderBy("n_name").collect().toSeq
    val want = s.sql(sqlText).orderBy("n_name").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("randomized predicate shapes: compiled insert-only always equals spark.sql") {
    Seq("region", "nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val rnd = new scala.util.Random(42)
    val statuses = Seq("'F'", "'O'", "'P'")
    (1 to 5).foreach { i =>
      val lo = 1000 + rnd.nextInt(50000)
      val hi = lo + 20000 + rnd.nextInt(100000)
      val bal = rnd.nextInt(5000) - 1000
      val st = rnd.shuffle(statuses).take(1 + rnd.nextInt(2)).mkString(", ")
      val regionPred = if (rnd.nextBoolean()) "r_name <> 'AFRICA'" else "r_name IS NOT NULL"
      val sqlText =
        s"""SELECT n_name, COUNT(*) AS n,
           | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2
           |FROM region, nation, customer, orders
           |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
           | AND o_custkey = c_custkey
           | AND $regionPred
           | AND o_totalprice BETWEEN $lo AND $hi
           | AND o_orderstatus IN ($st)
           | AND c_acctbal >= $bal
           |GROUP BY n_name""".stripMargin
      val got = SqlCompiler.run(s, d, sqlText).orderBy("n_name").collect().toSeq
      val want = s.sql(sqlText).orderBy("n_name").collect().toSeq
      assert(got == want, s"case $i diverged:\n$sqlText")
    }
  }

  test("randomized grouping + aggregate vocabulary: compiled always equals the survivors query") {
    Seq("region", "nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val rnd = new scala.util.Random(1234)
    // (fragment, alias): plain columns and computed keys mixed
    val groupPool = Seq(
      "n_name" -> "n_name",
      "o_orderstatus" -> "o_orderstatus",
      "CAST(year(o_orderdate) AS BIGINT)" -> "yr",
      "substr(o_orderpriority, 1, 1)" -> "prio0")
    val aggPool = Seq(
      "COUNT(*)" -> "n",
      "SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))" -> "s",
      "MIN(o_totalprice)" -> "lo",
      "MAX(o_totalprice)" -> "hi",
      "COUNT(DISTINCT o_orderpriority)" -> "cd",
      "SUM(DISTINCT o_custkey)" -> "sd",
      "AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT))" -> "av")
    (1 to 6).foreach { i =>
      val gs = rnd.shuffle(groupPool).take(1 + rnd.nextInt(3))
      val as = rnd.shuffle(aggPool).take(1 + rnd.nextInt(4))
      val items = gs.map { case (f, a) => if (f == a) f else s"$f AS $a" } ++
        as.map { case (f, a) => s"$f AS $a" }
      val mod = 2 + rnd.nextInt(5)
      val sqlText =
        s"""SELECT ${items.mkString(", ")}
           |FROM region, nation, customer, orders
           |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
           | AND o_custkey = c_custkey
           |GROUP BY ${gs.map(_._1).mkString(", ")}""".stripMargin
      val ord = gs.map(_._2)
      val got = SqlCompiler.run(s, d, sqlText,
          deletes = Map("orders" -> (col("o_orderkey") % mod === 0)))
        .orderBy(ord.head, ord.tail: _*).collect().toSeq
      val want = s.sql(sqlText.replace("GROUP BY",
          s"AND o_orderkey % $mod <> 0 GROUP BY"))
        .orderBy(ord.head, ord.tail: _*).collect().toSeq
      assert(got == want && got.nonEmpty, s"case $i diverged:\n$sqlText (mod $mod)")
    }
  }

  test("aggregate arguments may span relations (the leaf carries the full join row)") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // o_custkey (orders) * c_nationkey (customer) inside one SUM — the
    // fold runs over merged leaf deltas, so cross-relation expressions
    // need no special casing
    val sqlText =
      """SELECT n_name, SUM(o_custkey * c_nationkey) AS x, COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderkey") % 5 === 0)))
      .orderBy("n_name").collect().toSeq
    val want = s.sql(sqlText.replace("GROUP BY", "AND o_orderkey % 5 <> 0 GROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("CORR folds exact co-moments and survives deletes") {
    val sqlText =
      """SELECT n_name,
        | CORR(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS r,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText,
        deletes = Map("orders" -> (col("o_orderkey") % 7 === 0)))
      .orderBy("n_name").collect().toSeq
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // oracle: Spark's own CORR over the survivors — a different
    // numeric path (streaming co-moments), so compare with relative
    // tolerance; bit-parity with the moment formula is the registered
    // entry's DuckDB gate
    val want = s.sql(
      """SELECT n_name,
        | CORR(CAST(round(o_totalprice * 100, 0) AS BIGINT), o_custkey) AS r,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderkey % 7 <> 0
        |GROUP BY n_name""".stripMargin)
      .orderBy("n_name").collect().toSeq
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(g.getLong(2) == w.getLong(2))
      val (gr, wr) = (g.getDouble(1), w.getDouble(1))
      assert(math.abs(gr - wr) <= 1e-9 * math.max(math.abs(wr), 1.0),
        s"${g.getString(0)}: $gr vs $wr")
    }
  }

  test("bloomReduced leaves compiled results untouched and refuses inexact plans") {
    val sqlText =
      """SELECT n_name, SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'
        |GROUP BY n_name""".stripMargin
    val cases = Seq(
      (sqlText, Map("orders" -> (col("o_orderkey") % 6 === 0))),
      (IncrementalQueries.q10Sql, IncrementalQueries.q10Deletes),
      // multi-parent lineitem: its parent is orders (the stage that
      // reads its changelog), not part, the relation before it
      (IncrementalQueries.partRevenueSql, IncrementalQueries.partRevenueDeletes))
    cases.foreach { case (text, deletes) =>
      val c = SqlCompiler.compile(s, d, text)
      val cols = c.groupCols.map(col)
      val plain = c.run(s, d, deletes).orderBy(cols: _*).collect().toSeq
      val bloomed = c.aggregate(DeltaEngine.runTree(c.stages,
        c.bloomReduced(c.sourceChangelogs(s, d, deletes))).toDF())
        .orderBy(cols: _*).collect().toSeq
      assert(bloomed == plain && plain.nonEmpty, s"${c.path.mkString("/")}")
    }
    // a dropped child event could still reach the answer: refused
    def refused(text: String, why: String): Unit = {
      val c = SqlCompiler.compile(s, d, text)
      val ex = intercept[IllegalArgumentException](c.bloomReduced(c.sourceChangelogs(s, d)))
      assert(ex.getMessage.contains("not exact") && ex.getMessage.contains(why), ex.getMessage)
    }
    // supplier pairs with the trunk per nation key: no liveness parent
    refused(IncrementalQueries.sharedDimSql, "no parent stage")
    refused("""SELECT c_custkey, COUNT(*) AS n
              |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
              |GROUP BY c_custkey""".stripMargin, "outer-join plans")
  }

  test("unsupported shapes fail loudly") {
    def bad(sqlText: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d, sqlText))
      assert(ex.getMessage.contains(needle), s"message: ${ex.getMessage}")
    }
    // no aggregate now compiles as a maintained join VIEW (see the
    // VIEW MODE spec), and a bare star EXPANDS to the FROM relations'
    // columns (see the SELECT * expansion spec) — but a qualified star
    // must still name a FROM relation or alias
    bad("SELECT z.* FROM customer, nation WHERE c_nationkey = n_nationkey",
      "names no relation")
    // single relation: nothing to maintain incrementally
    bad("SELECT n_name, COUNT(*) AS n FROM nation GROUP BY n_name",
      ">= 2 relations")
    // non-FK join condition
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_custkey = n_nationkey GROUP BY n_name""".stripMargin, "not an FK edge")
    // cross-relation non-equi predicate
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey AND c_custkey > n_regionkey
          |GROUP BY n_name""".stripMargin, "non-equi")
    // unaliased aggregate
    bad("""SELECT n_name, COUNT(*) FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin, "alias")
    // aliased self-join now EXPANDS — but its join condition must still
    // be an FK edge of the (instance-mapped) graph; nation has no
    // self-FK by convention, so this reaches FK validation, not a
    // generic FROM-shape rejection (n_name must be qualified too)
    bad("""SELECT a.n_name AS n_name, COUNT(*) AS n FROM nation a JOIN nation b
          |ON a.n_regionkey = b.n_nationkey GROUP BY a.n_name""".stripMargin,
      "not an FK edge")
    // un-aliased instances cannot become distinct changelogs
    bad("""SELECT c_mktsegment, COUNT(*) AS n FROM customer, orders, orders
          |WHERE o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin,
      "alias every instance")
    // bare references to a duplicated relation's columns are ambiguous
    bad("""SELECT c_mktsegment, COUNT(*) AS n, SUM(o_orderkey) AS s
          |FROM customer, orders o1, orders o2
          |WHERE o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin,
      "ambiguous")
    // a WRONG table qualifier is rejected like Spark analysis would,
    // not silently attributed by the column's bare name
    bad("""SELECT n_name, COUNT(*) AS n FROM nation n JOIN customer c
          |ON c.c_nationkey = n.n_nationkey
          |WHERE n.c_acctbal > 0 GROUP BY n_name""".stripMargin,
      "does not match")
    // …and so is a qualifier that names no relation or alias at all
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey AND x.c_acctbal > 0
          |GROUP BY n_name""".stripMargin,
      "does not match")
    // …including inside AGGREGATE ARGUMENTS (nation has no o_totalprice)
    bad("""SELECT n_name, SUM(nation.o_orderkey) AS s, COUNT(*) AS n
          |FROM nation, customer, orders
          |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
          |GROUP BY n_name""".stripMargin,
      "does not match")
    // …and in HAVING / ORDER BY presentation clauses
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name
          |HAVING x.n_name IS NOT NULL""".stripMargin,
      "does not match")
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name
          |ORDER BY customer.n_name""".stripMargin,
      "does not match")
    // an ALIASED relation's base name is hidden (Spark scoping): once
    // nation is aliased nn, 'nation.' no longer qualifies
    bad("""SELECT n_name, COUNT(*) AS n FROM nation nn JOIN customer c
          |ON c.c_nationkey = nn.n_nationkey
          |WHERE nation.n_regionkey = 1 GROUP BY n_name""".stripMargin,
      "does not match")
    // an alias shadowing ANOTHER relation's name is ambiguous → loud
    bad("""SELECT n_name, COUNT(*) AS n FROM nation customer, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "shadows")
    // floating-point fold arguments drift under retraction → rejected
    bad("""SELECT n_name, AVG(c_acctbal) AS a FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "FLOATING-POINT")
    bad("""SELECT n_name, SUM(c_acctbal) AS a FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "FLOATING-POINT")
    // GROUPING() is only meaningful under rollup/cube/grouping sets
    bad("""SELECT n_name, GROUPING(n_name) AS g, COUNT(*) AS n
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "requires GROUP BY")
    // STDDEV over a DOUBLE argument is rejected with the same
    // float-folds guidance as SUM/AVG (the integer-moments derivation
    // — see the VAR_SAMP/STDDEV_SAMP spec — needs an integral column)
    bad("""SELECT n_name, stddev(c_acctbal) AS a FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "FLOATING-POINT")
    // CORR folds exact co-moments, so DOUBLE arguments get the same
    // float-folds guidance, on EITHER argument position
    bad("""SELECT n_name, CORR(c_custkey, c_acctbal) AS a FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "FLOATING-POINT")
    // an aggregate with no retractable derivation at all stays loud
    bad("""SELECT n_name, STRING_AGG(c_name, ',') AS a FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "unsupported aggregate")
    // FILTER predicates may not themselves aggregate
    bad("""SELECT n_name, COUNT(*) FILTER (WHERE SUM(c_custkey) > 0) AS n
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "cannot contain aggregate")
    // ...and their columns are qualifier-validated like any argument
    bad("""SELECT n_name, COUNT(*) FILTER (WHERE nation.c_acctbal > 0) AS n
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "does not match")
    // FILTER on a floating-point-summing rewrite stays rejected
    bad("""SELECT n_name, SUM(c_acctbal) FILTER (WHERE c_custkey > 5) AS a
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
      "FLOATING-POINT")
  }

  test("PROPERTY: incremental equals batch across random delete sets, all three query forms") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // the three compile targets over one tree; the batch oracle is
    // spark.sql with the delete predicates folded into WHERE
    val aggSql =
      """SELECT n_name, SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS p_e2,
        | COUNT(DISTINCT o_custkey) AS n_cust, MEDIAN(o_totalprice) AS med, COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey%s
        |GROUP BY n_name""".stripMargin
    val viewSql =
      """SELECT n_name, o_orderstatus
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey%s""".stripMargin
    val rollSql =
      """SELECT n_name, o_orderstatus, COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey%s
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin
    // MEDIAN under the batch engine: percentile_disc shares the
    // lower-median selection, so swap it in for the oracle side
    def oracle(sqlText: String) = sqlText.replace("MEDIAN(o_totalprice)",
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { _ =>
      val om = 2 + rnd.nextInt(9)
      val cm = 2 + rnd.nextInt(9)
      val deletes = Map(
        "orders" -> (col("o_orderkey") % om === 0),
        "customer" -> (col("c_custkey") % cm === 0))
      val pred = s"\n AND o_orderkey % $om <> 0 AND c_custkey % $cm <> 0"
      Seq(aggSql, viewSql, rollSql).foreach { tpl =>
        val got = SqlCompiler.run(s, d, tpl.format(""), deletes)
          .collect().map(_.toString).sorted.toSeq
        val want = s.sql(oracle(tpl.format(pred)))
          .collect().map(_.toString).sorted.toSeq
        assert(got == want && got.nonEmpty,
          s"om=$om cm=$cm mismatch (${got.size} vs ${want.size} rows) for:\n$tpl")
      }
    }
  }

  test("MEDIAN compiles as the discrete lower median over the value rollup") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val q =
      """SELECT n_name, MEDIAN(o_totalprice) AS med, MIN(o_totalprice) AS lo,
        | COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, q,
        deletes = Map("orders" -> (col("o_orderkey") % 6 === 0)))
      .orderBy("n_name").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    // Spark's percentile_disc(0.5) is the same lower-median selection
    val want = s.sql(
        """SELECT n_name,
          | percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med,
          | MIN(o_totalprice) AS lo, COUNT(*) AS n
          |FROM nation, customer, orders
          |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
          | AND o_orderkey % 6 <> 0
          |GROUP BY n_name""".stripMargin)
      .orderBy("n_name").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("ROLLUP/CUBE/GROUPING SETS maintain every grouping set independently") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // GROUPING SETS with a value-rollup aggregate (MIN) — each set,
    // including the grand total, must carry its own exact rollup
    def q(pred: String) =
      s"""SELECT n_name, o_orderstatus, MIN(o_totalprice) AS lo, COUNT(*) AS n
         |FROM nation, customer, orders
         |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey$pred
         |GROUP BY GROUPING SETS ((n_name, o_orderstatus), (n_name), ())""".stripMargin
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.get(0)).map(_.toString).getOrElse(" "),
        Option(r.get(1)).map(_.toString).getOrElse(" "),
        r.getDouble(2), r.getLong(3))
    val got = SqlCompiler.run(s, d, q(""),
        deletes = Map("orders" -> (col("o_orderkey") % 5 === 0)))
      .collect().map(key).sorted.toSeq
    val want = s.sql(q("\n AND o_orderkey % 5 <> 0"))
      .collect().map(key).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // the compiled shape: three maintained sets over two flat keys
    val c = SqlCompiler.compile(s, d, q(""))
    assert(c.rollupSets.contains(Seq(Seq("n_name", "o_orderstatus"), Seq("n_name"), Seq())))
  }

  test("VIEW MODE: a non-aggregate SELECT maintains the join itself, bag multiplicity exact") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val viewSql =
      """SELECT n_name, o_orderpriority
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_orderstatus = 'F'""".stripMargin
    val deletes = Map("orders" -> (col("o_orderkey") % 10 === 0))
    val c = SqlCompiler.compile(s, d, viewSql)
    assert(c.viewMode.contains("bag") && c.aggs.isEmpty)
    val got = c.run(s, d, deletes).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val want = s.sql(
        """SELECT n_name, o_orderpriority
          |FROM nation, customer, orders
          |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
          | AND o_orderstatus = 'F' AND o_orderkey % 10 <> 0""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == want, s"bag view: ${got.size} rows vs ${want.size}")
    assert(got.size > got.distinct.size,
      "fixture must actually exercise multiplicity > 1")

    // DISTINCT flavor: the set view
    val cd = SqlCompiler.compile(s, d, "SELECT DISTINCT " + viewSql.stripPrefix("SELECT "))
    assert(cd.viewMode.contains("distinct"))
    val gotD = cd.run(s, d, deletes).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(gotD == want.distinct.sorted, "distinct view equals the deduped batch join")

    // bare SELECT * now EXPANDS to the FROM relations' columns and
    // compiles as the same bag view (the expansion spec covers the
    // column-order contract); a multi-part star qualifier stays loud
    val cs = SqlCompiler.compile(s, d,
      """SELECT * FROM nation, customer
        |WHERE c_nationkey = n_nationkey""".stripMargin)
    assert(cs.viewMode.contains("bag"))
    val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT db.nation.* FROM nation, customer
        |WHERE c_nationkey = n_nationkey""".stripMargin))
    assert(ex.getMessage.contains("single-part"))
  }

  test("tolerateFloatFolds compiles the DOUBLE folds the default rejects (named in the error)") {
    Seq("nation", "customer").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val q =
      """SELECT n_name, SUM(c_acctbal) AS bal, AVG(c_acctbal) AS avg_bal
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey GROUP BY n_name""".stripMargin
    // the default rejection tells the user about the opt-in by name
    val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d, q))
    assert(ex.getMessage.contains("tolerateFloatFolds"))
    // opted in: compiles, runs under deletes, and the maintained DOUBLE
    // fold matches the batch answer within FP-residue tolerance (exact
    // equality is precisely what this mode gives up)
    val c = SqlCompiler.compile(s, d, q, tolerateFloatFolds = true)
    val deletes = Map("customer" -> (col("c_custkey") % 7 === 0))
    val got = c.run(s, d, deletes).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = s.sql(
        """SELECT n_name, SUM(c_acctbal) AS bal, AVG(c_acctbal) AS avg_bal
          |FROM nation, customer
          |WHERE c_nationkey = n_nationkey AND c_custkey % 7 <> 0
          |GROUP BY n_name""".stripMargin).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (bal, avg)) =>
      val (wb, wa) = want(k)
      assert(math.abs(bal - wb) <= 1e-6 * math.max(1.0, math.abs(wb)),
        s"$k: SUM $bal vs $wb")
      assert(math.abs(avg - wa) <= 1e-6 * math.max(1.0, math.abs(wa)),
        s"$k: AVG $avg vs $wa")
    }
  }

  test("SELF-JOIN compiles from SQL text: aliased instances become virtual relations") {
    Seq("customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // urgent orders paired with low-priority orders of the same
    // customer — the same relation twice, with deletes on BOTH
    // instances so retractions cross the product in both directions
    val q =
      """SELECT c_mktsegment, COUNT(*) AS n_pairs,
        | SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS low_rev_e2,
        | MAX(o1.o_orderkey) AS max_urgent
        |FROM customer, orders o1, orders o2
        |WHERE o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        |GROUP BY c_mktsegment""".stripMargin
    val c = SqlCompiler.compile(s, d, q)
    // plans as a pair glue over the shared customer dimension, with
    // the scale-safe trunk-bucketed orientation (customer is a root)
    assert(c.stages.exists(_.pairStage.isDefined))
    assert(c.stages.last.salts > 1)
    val want = s.sql(q.replace("GROUP BY",
        "AND o1.o_orderkey % 7 <> 0 AND o2.o_orderkey % 5 <> 0\nGROUP BY"))
      .orderBy("c_mktsegment").collect().toSeq
    assert(want.nonEmpty)
    val got = c.run(s, d, deletes = Map(
        "o1" -> (col("o1_o_orderkey") % 7 === 0),
        "o2" -> (col("o2_o_orderkey") % 5 === 0)))
      .orderBy("c_mktsegment").collect().toSeq
    assert(got == want)
  }

  test("TWO pair stages in one graph: nested shared dims with per-glue orientation") {
    Seq("nation", "customer", "supplier", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val q =
      """SELECT n_name, COUNT(*) AS n_quads,
        | SUM(CAST(round(o2.o_totalprice * 100, 0) AS BIGINT)) AS low_rev_e2
        |FROM nation, customer, supplier, orders o1, orders o2
        |WHERE c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        | AND o1.o_custkey = c_custkey AND o2.o_custkey = c_custkey
        | AND o1.o_orderpriority = '1-URGENT' AND o2.o_orderpriority = '5-LOW'
        | AND s_acctbal >= 0
        |GROUP BY n_name""".stripMargin
    val c = SqlCompiler.compile(s, d, q)
    val pairs = c.stages.filter(_.pairStage.isDefined)
    assert(pairs.size == 2, c.stages.map(_.name))
    // per-glue orientation: the ROOT dimension's glue (nation) buckets
    // the trunk; the mid-graph dimension's glue (customer — key
    // cardinality grows with data) keeps the dimension-keyed routing
    val outer = pairs.find(_.name.contains("_nation")).get
    val inner = pairs.find(_.name.contains("_customer")).get
    assert(outer.salts > 1 && outer.pairStage.get.endsWith("__pass"))
    assert(inner.salts == 1 && !inner.pairStage.get.endsWith("__pass"))
    val want = s.sql(q.replace("GROUP BY",
        "AND o1.o_orderkey % 7 <> 0 AND s_suppkey % 5 <> 0\nGROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(want.nonEmpty)
    val got = c.run(s, d, deletes = Map(
        "o1" -> (col("o1_o_orderkey") % 7 === 0),
        "supplier" -> (col("s_suppkey") % 5 === 0)))
      .orderBy("n_name").collect().toSeq
    assert(got == want)
  }

  test("self-join HIERARCHY: explicit self-FK edge joins instances parent-to-child") {
    Seq("nation").foreach(t => Tables.load(s, d, t).createOrReplaceTempView(t))
    // a true hierarchy needs a self-FK the fixtures don't declare —
    // supply it explicitly (n_regionkey treated as a parent pointer
    // into nation's own key space; region keys 0..4 ⊂ nation keys
    // 0..24, so every nation has a parent row)
    val q =
      """SELECT p.n_name AS parent_name, COUNT(*) AS n_children,
        | SUM(c.n_nationkey) AS sum_child
        |FROM nation c, nation p
        |WHERE c.n_regionkey = p.n_nationkey
        |GROUP BY p.n_name""".stripMargin
    val fk = Seq(graft.streaming.TreeCompiler.FkEdge(
      "nation", "n_regionkey", "nation", "n_nationkey"))
    val cQ = SqlCompiler.compile(s, d, q, explicitFk = Some(fk))
    // a plain two-stage liveness chain: parent p, child c — no pair glue
    assert(!cQ.stages.exists(_.pairStage.isDefined))
    val want = s.sql(q.replace("GROUP BY", "AND c.n_nationkey % 2 = 0\nGROUP BY"))
      .orderBy("parent_name").collect().toSeq
    assert(want.nonEmpty)
    val got = cQ.run(s, d, deletes = Map("c" -> (col("c_n_nationkey") % 2 === 1)))
      .orderBy("parent_name").collect().toSeq
    assert(got == want)
  }

  test("aggregate FILTER clauses compile as exact sign-weighted CASE folds") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // every supported aggregate kind carries a FILTER; deletes make the
    // retraction path cross the filtered/unfiltered boundary both ways
    val q =
      """SELECT n_name,
        | COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_totalprice > 150000) AS big_rev_e2,
        | AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   FILTER (WHERE o_orderkey % 2 = 0) AS avg_even_e2,
        | MAX(o_orderkey) FILTER (WHERE o_orderkey % 2 = 1) AS max_odd,
        | COUNT(DISTINCT o_orderkey % 10) FILTER (WHERE o_totalprice > 100000) AS d_big,
        | COUNT(*) AS n_all
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val deletes = Map("orders" -> (col("o_orderkey") % 7 === 0))
    val want = s.sql(q.replace("GROUP BY", "AND o_orderkey % 7 <> 0\nGROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(want.nonEmpty)
    val got = SqlCompiler.run(s, d, q, deletes).orderBy("n_name").collect().toSeq
    assert(got == want)
  }

  test("shared-dimension SQL compiles to a pair plan and equals spark.sql") {
    Seq("nation", "customer", "orders", "supplier").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // nation referenced by BOTH branches → many-to-many per nation key
    def q(from: String) =
      s"""SELECT n_name, COUNT(*) AS n_pairs,
         | SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS sbal_e2
         |FROM $from
         |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
         | AND s_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin
    val deletes = Map(
      "orders" -> (col("o_orderkey") % 3 === 0),
      "supplier" -> (col("s_suppkey") % 4 === 0))
    val want = s.sql(q("nation, customer, orders, supplier")
        .replace("GROUP BY", "AND o_orderkey % 3 <> 0 AND s_suppkey % 4 <> 0\nGROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(want.nonEmpty)
    // FROM order decides which branch stays on the trunk — both plans
    // must produce the identical maintained view
    Seq("nation, customer, orders, supplier",
        "nation, supplier, customer, orders").foreach { from =>
      val compiled = SqlCompiler.compile(s, d, q(from))
      assert(compiled.stages.exists(_.pairStage.isDefined), from)
      val got = compiled.run(s, d, deletes).orderBy("n_name").collect().toSeq
      assert(got == want, from)
    }
  }

  test("shared dim WITH a parent above it: region→nation trunk compiles and streams") {
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DeltaEngine.Evt
    val sparkS = s
    import sparkS.implicits._
    Seq("region", "nation", "customer", "supplier").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // nation is BOTH a child (of region) and a shared dimension (of
    // customer and supplier) — the trunk recursion must thread
    // region's liveness through before the product
    val sqlText =
      """SELECT n_name, COUNT(*) AS n_pairs
        |FROM region, nation, customer, supplier
        |WHERE n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        | AND s_nationkey = n_nationkey AND r_name <> 'ASIA'
        |GROUP BY n_name""".stripMargin
    val c = SqlCompiler.compile(s, d, sqlText)
    assert(c.stages.exists(_.pairStage.isDefined))
    val deletes = Map("customer" -> (col("c_custkey") % 5 === 0))
    val want = s.sql(sqlText.replace("GROUP BY",
        "AND c_custkey % 5 <> 0\nGROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(want.nonEmpty)
    // batch
    assert(c.run(s, d, deletes).orderBy("n_name").collect().toSeq == want)
    // continuous: Compiled.runStream drives the pair plan over raw
    // micro-batched changelogs (eventFilter applied per stream)
    val logs = c.sourceChangelogs(s, d, deletes, filtered = false)
      .view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = c.runStream(streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("shared_parent_leaf").outputMode("append").start()
    try {
      Seq(0L, 1L).foreach { seq =>
        streams.foreach { case (rel, ms) =>
          val evs = logs(rel).filter(_.seq == seq)
          if (evs.nonEmpty) ms.addData(evs)
        }
        query.processAllAvailable()
      }
      val got = c.aggregate(s.table("shared_parent_leaf"))
        .orderBy("n_name").collect().toSeq
      assert(got == want)
    } finally query.stop()
  }

  test("full aggregate vocabulary composes with shared-dimension plans") {
    // AVG / COUNT(DISTINCT) / MIN / MAX operate on the leaf delta
    // multiset, orthogonal to how the tree was glued — they must fold
    // pair-stage emissions exactly like liveness emissions
    Seq("nation", "customer", "orders", "supplier").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // includes a local predicate ON the shared dimension itself —
    // it lands on the trunk root's scan like any other relation's
    val sqlText =
      """SELECT n_name,
        | AVG(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS avg_sbal_e2,
        | COUNT(DISTINCT s_suppkey) AS n_supp,
        | MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
        | COUNT(*) AS n_pairs
        |FROM nation, customer, orders, supplier
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND s_nationkey = n_nationkey AND n_name <> 'FRANCE'
        |GROUP BY n_name""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText, deletes = Map(
        "orders" -> (col("o_orderkey") % 3 === 0),
        "supplier" -> (col("s_suppkey") % 4 === 0)))
      .orderBy("n_name").collect().toSeq
    val want = s.sql(sqlText.replace("GROUP BY",
        "AND o_orderkey % 3 <> 0 AND s_suppkey % 4 <> 0\nGROUP BY"))
      .orderBy("n_name").collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))) ==
      want.map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g.getDouble(1) - w.getDouble(1)) < 1e-9, s"$g vs $w")
    }
    assert(got.nonEmpty)
  }

  test("computed GROUP BY keys compose with shared-dimension (pair) plans") {
    // grouping happens in aggregate() over the leaf delta multiset, so
    // a computed key must be orthogonal to how the tree was glued —
    // here per-(nation, order-year) counts over the orders × supplier
    // product, with deletes on both sides
    Seq("nation", "customer", "orders", "supplier").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    val sqlText =
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | COUNT(*) AS n_pairs,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2
        |FROM nation, customer, orders, supplier
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND s_nationkey = n_nationkey
        |GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)""".stripMargin
    val got = SqlCompiler.run(s, d, sqlText, deletes = Map(
        "orders" -> (col("o_orderkey") % 3 === 0),
        "supplier" -> (col("s_suppkey") % 4 === 0)))
      .orderBy("n_name", "yr").collect().toSeq
    val want = s.sql(sqlText.replace("GROUP BY",
        "AND o_orderkey % 3 <> 0 AND s_suppkey % 4 <> 0\nGROUP BY"))
      .orderBy("n_name", "yr").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("[NOT] EXISTS / IN compile as incremental semi/anti gates") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // plan shape: set-semantics key node over the subquery relation, an
    // anti-liveness hop spliced in front of the correlated relation,
    // the subquery's local predicate pushed to the orders scan, and
    // only the correlation key traveling in the subquery's rows
    val notExists =
      """SELECT n_name, COUNT(*) AS n_cust
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        | AND NOT EXISTS (SELECT 1 FROM orders
        |                 WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY n_name""".stripMargin
    val c = SqlCompiler.compile(s, d, notExists)
    val keys = c.stages.find(_.name == "__gate0_keys").get
    assert(keys.spec.relation == "orders" && keys.spec.setSemantics && keys.spec.isRoot)
    val hop = c.stages.find(_.name == "__gate0_hop").get
    assert(hop.spec.relation == "customer" && hop.spec.antiParent)
    assert(hop.spec.childKeyCol == "c_custkey" && hop.spec.nextKeyCol == "c_nationkey")
    assert(c.wheres("orders").contains("o_orderstatus"))
    assert(c.needed("orders") == Seq("o_custkey"))
    // insert-only parity vs Spark's own subquery execution
    assert(c.run(s, d).orderBy("n_name").collect().toSeq ==
      s.sql(notExists).orderBy("n_name").collect().toSeq)
    val exists = notExists.replace("NOT EXISTS", "EXISTS")
    assert(SqlCompiler.run(s, d, exists).orderBy("n_name").collect().toSeq ==
      s.sql(exists).orderBy("n_name").collect().toSeq)
    // single-relation outer: the gate hop IS the leaf (the synthetic
    // passthrough is dropped — no identity exchange)
    val in =
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
        |GROUP BY o_orderpriority""".stripMargin
    val ci = SqlCompiler.compile(s, d, in)
    assert(ci.stages.map(_.name) == Seq("__gate0_keys", "__gate0_hop"))
    assert(ci.run(s, d).orderBy("o_orderpriority").collect().toSeq ==
      s.sql(in).orderBy("o_orderpriority").collect().toSeq)
    // deletes on BOTH sides equal the survivors query: matching-set
    // shrink flips gated rows in (anti) / out (semi) with replay
    val deletes = Map(
      "customer" -> (col("c_custkey") % 30 === 0),
      "orders" -> (col("o_orderkey") % 40 === 0))
    def survivors(text: String): Seq[org.apache.spark.sql.Row] = s.sql(text
        .replace("WHERE o_custkey = c_custkey AND o_orderstatus = 'O'",
          "WHERE o_custkey = c_custkey AND o_orderstatus = 'O' AND o_orderkey % 40 <> 0")
        .replace("WHERE c_nationkey = n_nationkey",
          "WHERE c_nationkey = n_nationkey AND c_custkey % 30 <> 0"))
      .orderBy("n_name").collect().toSeq
    assert(SqlCompiler.run(s, d, notExists, deletes).orderBy("n_name").collect().toSeq ==
      survivors(notExists))
    assert(SqlCompiler.run(s, d, exists, deletes).orderBy("n_name").collect().toSeq ==
      survivors(exists))
  }

  test("subquery gate shapes that cannot compile fail loudly") {
    def bad(sqlText: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d, sqlText))
      assert(ex.getMessage.contains(needle), s"message: ${ex.getMessage}")
    }
    // NOT IN diverges from NOT EXISTS on NULLs — it lowers to the anti
    // gate ONLY when both columns are FK-graph key columns (non-null by
    // the engine's key contract); a nullable column on either side
    // keeps the loud three-valued fence
    bad("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
          |WHERE o_orderstatus NOT IN (SELECT c_mktsegment FROM customer)
          |GROUP BY o_orderpriority""".stripMargin, "three-valued")
    bad("""SELECT c_nationkey, COUNT(*) AS n FROM customer
          |WHERE c_custkey NOT IN (SELECT o_orderstatus FROM orders)
          |GROUP BY c_nationkey""".stripMargin, "three-valued")
    // the null-free-provable case compiles (both sides key columns)
    SqlCompiler.compile(s, d,
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |GROUP BY o_orderpriority""".stripMargin)
    // a subquery under OR is not a top-level conjunct
    bad("""SELECT n_name, COUNT(*) AS n FROM nation, customer
          |WHERE c_nationkey = n_nationkey
          | AND (c_acctbal > 0 OR EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
          |GROUP BY n_name""".stripMargin, "TOP-LEVEL")
    // self-semi (subquery relation also in FROM)
    bad("""SELECT c_mktsegment, COUNT(*) AS n FROM customer, orders
          |WHERE o_custkey = c_custkey
          | AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY c_mktsegment""".stripMargin, "also in FROM")
    // uncorrelated EXISTS is a constant gate, not an incremental one
    bad("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
          |WHERE EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 0)
          |GROUP BY o_orderpriority""".stripMargin, "exactly ONE")
    // IN's correlation is implicit; extra cross-scope equalities are out
    bad("""SELECT o_orderpriority, COUNT(*) AS n FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = o_orderkey)
          |GROUP BY o_orderpriority""".stripMargin, "cross-scope")
    // subquery predicates may not reference outer columns
    bad("""SELECT c_mktsegment, COUNT(*) AS n FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal)
          |GROUP BY c_mktsegment""".stripMargin, "may cross scopes")
  }

  test("LEFT JOIN: NULL-extension asserts, retracts on child arrival, re-asserts on child death") {
    implicit val sq = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DeltaEngine.Evt
    val sparkS = s
    import sparkS.implicits._
    val c = SqlCompiler.compile(s, d,
      """SELECT o_orderkey, COUNT(*) AS n_rows,
        | SUM(CAST(l_linenumber AS BIGINT)) AS ln_sum
        |FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey""".stripMargin)
    assert(c.outerPlans.size == 1)
    val streams = Map("orders" -> MemoryStream[Evt], "lineitem" -> MemoryStream[Evt])
    val out = c.runStream(streams.view.mapValues(_.toDS()).toMap)
    val query = out.writeStream
      .format("memory").queryName("sql_outer_leaf").outputMode("append").start()
    def state(): Seq[(Long, Long, Any)] =
      c.aggregate(s.table("sql_outer_leaf"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))
    try {
      // batch 1: a parent with no child -> the NULL-extended row
      streams("orders").addData(Evt(0L, false, 1, 1, "1", Map("o_orderkey" -> "1")))
      query.processAllAvailable()
      assert(state() == Seq((1L, 1L, null)), "childless parent must NULL-extend")
      // batch 2: the child arrives -> the NULL-extension RETRACTS
      // through held state and the joined row takes its place
      streams("lineitem").addData(
        Evt(1L, false, 1, 1, "1", Map("l_orderkey" -> "1", "l_linenumber" -> "7")))
      query.processAllAvailable()
      assert(state() == Seq((1L, 1L, 7L)), "first child must retract the NULL-extension")
      // batch 3: the child dies -> the NULL-extension re-asserts
      streams("lineitem").addData(
        Evt(2L, false, -1, 1, "1", Map("l_orderkey" -> "1", "l_linenumber" -> "7")))
      query.processAllAvailable()
      assert(state() == Seq((1L, 1L, null)), "last child death must re-assert the NULL-extension")
    } finally query.stop()
  }

  test("LEFT JOIN shapes that cannot keep outer semantics fail loudly") {
    def bad(sqlText: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d, sqlText))
      assert(ex.getMessage.contains(needle), s"message: ${ex.getMessage}")
    }
    // WHERE on the optional side would reject the NULL-extended rows
    bad("""SELECT o_orderkey, COUNT(*) AS n
          |FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE l_returnflag = 'R'
          |GROUP BY o_orderkey""".stripMargin, "NULL-extended")
    // a left-side predicate in ON has keep-all semantics the scan
    // filter cannot express
    bad("""SELECT c_custkey, COUNT(*) AS n
          |FROM customer LEFT JOIN orders
          | ON o_custkey = c_custkey AND c_acctbal > 0
          |GROUP BY c_custkey""".stripMargin, "optional side")
    // the optional side must be the FK-child/leaf side, not a parent
    // dimension (here the leaf-side guard fires: the FK child lineitem
    // hangs below the optional orders)
    bad("""SELECT o_orderkey, COUNT(*) AS n
          |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderkey""".stripMargin, "leaf side")
    // an inner relation may not hang below an optional one
    bad("""SELECT c_custkey, COUNT(*) AS n
          |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |GROUP BY c_custkey""".stripMargin, "leaf side")
    // FULL OUTER now compiles (anti + orphan plans) — but only with a
    // single base relation on the right
    bad("""SELECT c_custkey, COUNT(*) AS n
          |FROM customer FULL OUTER JOIN (orders JOIN lineitem ON l_orderkey = o_orderkey)
          | ON o_custkey = c_custkey
          |GROUP BY c_custkey""".stripMargin, "single base relation")
    // the orphan direction FUSES into the leaf stage (fullOuterLeaf),
    // so the only separate plan is the anti (NULL-extension) one
    val fo = SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM customer FULL OUTER JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin)
    assert(fo.outerPlans.size == 1 && fo.stages.last.spec.fullOuterLeaf)
  }

  test("RIGHT JOIN canonicalizes onto the LEFT OUTER machinery, same view") {
    val left = SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin).run(s, d, Map.empty)
    val right = SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin).run(s, d, Map.empty)
    assert(right.exceptAll(left).isEmpty && left.exceptAll(right).isEmpty)
    // the canonicalized form inherits LEFT's constraint: the optional
    // (left) side must be a single base relation
    val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM (orders JOIN lineitem ON l_orderkey = o_orderkey)
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin))
    assert(ex.getMessage.contains("single base relation"), ex.getMessage)
  }

  test("a salted compiled stage is answer-invariant") {
    val plain = SqlCompiler.compile(s, d, q10Sql)
    val c = plain.copy(stages = plain.stages.map(st =>
      if (st.spec.relation == "lineitem") st.copy(salts = 4) else st))
    assert(c.stages.exists(st => st.spec.relation == "lineitem" && st.salts == 4),
      s"lineitem stage not widened: ${c.stages.map(st => (st.name, st.salts))}")
    val deletes = Map(
      "lineitem" -> (col("l_linenumber") === 3),
      "orders" -> (col("o_orderkey") % 50 === 0))
    val want = plain.run(s, d, deletes).orderBy("c_custkey").collect().toSeq
    val got = c.run(s, d, deletes).orderBy("c_custkey").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("FULL OUTER x WHERE plans SQL's NULL-rejection; the remaining fences stay loud") {
    val base =
      """SELECT c_custkey, n_name, COUNT(*) AS n_rows
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey%s
        |GROUP BY c_custkey, n_name""".stripMargin
    // no WHERE: the orphan direction FUSES into the main leaf
    // (fullOuterLeaf — one shuffle and one buffered-children state
    // over the largest relation), the anti plan stays separate; no
    // delete-scope restriction and ancestor deletes are maintainable
    // (the leaf's parent deltas ARE the tree prefix's emissions;
    // gated end-to-end by incremental_sql_q10_fullouter_ancestor_del)
    val c = SqlCompiler.compile(s, d, base.format(""))
    assert(c.outerPlans.size == 1 && c.stages.last.spec.fullOuterLeaf)
    assert(c.outerPlans.head.stages.exists(_.name == "__outer_lineitem_keys"))
    assert(c.fullOuterBoundaries.isEmpty)
    c.requireMaintainableDeletes(Map("customer" -> (col("c_custkey") % 7 === 0)))
    // WHERE on the preserved (left) side: compiles, orphan plan dropped
    // (SQL NULL-rejects every orphan row), anti plan kept
    val cl = SqlCompiler.compile(s, d, base.format("\nWHERE o_orderkey > 0"))
    assert(cl.outerPlans.size == 1 &&
      cl.outerPlans.head.stages.exists(_.name == "__outer_lineitem_keys"))
    // WHERE on the boundary child: compiles, anti plan dropped (SQL
    // NULL-rejects every NULL-extension row), orphan direction kept —
    // fused into the leaf
    val cr = SqlCompiler.compile(s, d, base.format("\nWHERE l_linenumber <> 3"))
    assert(cr.outerPlans.isEmpty && cr.stages.last.spec.fullOuterLeaf)
    // WHERE on both sides: effectively inner, both plans dropped
    val ci = SqlCompiler.compile(s, d,
      base.format("\nWHERE o_orderkey > 0 AND l_linenumber <> 3"))
    assert(ci.outerPlans.isEmpty)
    // IS NULL on a BOUNDARY KEY selects exactly one preservation plan:
    // parent key NULL = the orphan rows only (no inner tree, no anti)
    val co = SqlCompiler.compile(s, d, base.format("\nWHERE o_orderkey IS NULL"))
    assert(co.suppressMainLeaf && co.outerPlans.size == 1 &&
      co.outerPlans.head.stages.exists(_.name == "__orphan_lineitem_keys"))
    // child key NULL = the NULL-extension rows only
    val ca = SqlCompiler.compile(s, d, base.format("\nWHERE l_orderkey IS NULL"))
    assert(ca.suppressMainLeaf && ca.outerPlans.size == 1 &&
      ca.outerPlans.head.stages.exists(_.name == "__outer_lineitem_keys"))
    // IS NOT NULL rejects that direction (and stays a scan filter);
    // the surviving orphan direction rides the fused leaf
    val cnn = SqlCompiler.compile(s, d, base.format("\nWHERE l_orderkey IS NOT NULL"))
    assert(!cnn.suppressMainLeaf && cnn.outerPlans.isEmpty &&
      cnn.stages.last.spec.fullOuterLeaf &&
      cnn.wheres.get("lineitem").exists(_.toUpperCase.contains("IS NOT NULL")))
    // conjuncts selecting NO plan (provably empty view) are loud
    val exEmpty = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      base.format("\nWHERE o_orderkey IS NULL AND c_acctbal > 0")))
    assert(exEmpty.getMessage.contains("no surviving plan"), exEmpty.getMessage)
    // a NULL-tolerant WHERE conjunct stays a loud rejection: dropping a
    // plan would be WRONG when the predicate can hold on extended rows
    // (IS NULL only compiles on a boundary JOIN KEY — a non-key column
    // can be genuinely NULL in base rows, which pass SQL's WHERE on
    // inner rows too)
    val ex1 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      base.format("\nWHERE o_orderstatus IS NULL")))
    assert(ex1.getMessage.contains("NULL-rejecting"), ex1.getMessage)
    // the r9-advice Not-case soundness hole: NOT(pred AND FALSE) is
    // TRUE on NULL input (the column-free branch decides), so it must
    // NOT count as null-rejecting
    val exNot = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      base.format("\nWHERE NOT (o_totalprice > 5 AND 1 = 2)")))
    assert(exNot.getMessage.contains("NULL-rejecting"), exNot.getMessage)
    // ...while NOT over a plain null-preserving comparison still compiles
    val cNot = SqlCompiler.compile(s, d,
      base.format("\nWHERE NOT (o_totalprice > 5)"))
    assert(cNot.outerPlans.size == 1)
    val ex1b = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      base.format("\nWHERE coalesce(o_orderkey, 0) > 0")))
    assert(ex1b.getMessage.contains("NULL-rejecting"), ex1b.getMessage)
    // non-equality ON predicate rejected (failing ON preserves BOTH sides)
    val ex2 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      base.format(" AND l_returnflag = 'R'")))
    assert(ex2.getMessage.contains("bare FK equality"), ex2.getMessage)
    // TWO nested FULL boundaries × WHERE compile: a prefix-side
    // conjunct kills the classes whose prefix side is NULL (all three
    // orphan classes), leaving the two anti plans
    val c3 = SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM customer
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_acctbal > 0
        |GROUP BY c_custkey""".stripMargin)
    assert(c3.outerPlans.size == 2, c3.outerPlans.size)
    // without WHERE all six classes maintain: two anti plans plus the
    // three orphan-side plans (orphan-B⋈C, orphan-B-no-C, orphan-C)
    val c4 = SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM customer
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_custkey""".stripMargin)
    assert(c4.outerPlans.size == 5, c4.outerPlans.size)
    // three boundaries and non-nested (sibling) pairs stay loud
    val ex3 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY n_name""".stripMargin))
    assert(ex3.getMessage.contains("more than two FULL OUTER"), ex3.getMessage)
    // INDEPENDENT (star) sibling boundaries off one parent now compile:
    // the pair-product main tree plus five factorized plans (a-no-b,
    // b-no-a, both-absent, and the two orphan directions)
    val cStar = SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    assert(cStar.outerPlans.size == 5, cStar.outerPlans.size)
    // star × WHERE class selection: a parent-side null-rejecting
    // conjunct kills exactly the two orphan classes (5, 6), leaving
    // the three gated-extension plans
    val cStarW = SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE n_name <> 'KENYA'
        |GROUP BY n_name""".stripMargin)
    assert(cStarW.outerPlans.size == 3 && !cStarW.suppressMainLeaf,
      cStarW.outerPlans.size)
    // star × boundary-key IS NULL on the parent key: ONLY the two
    // orphan classes survive (main suppressed, extensions dropped)
    val cStarNull = SqlCompiler.compile(s, d,
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE n_nationkey IS NULL
        |GROUP BY c_mktsegment""".stripMargin)
    assert(cStarNull.suppressMainLeaf && cStarNull.outerPlans.size == 2,
      cStarNull.outerPlans.size)
    // a non-null-rejecting conjunct stays loud
    val exStarCoalesce = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |WHERE COALESCE(c_acctbal, 1) > 0
        |GROUP BY n_name""".stripMargin))
    assert(exStarCoalesce.getMessage.contains("NULL-rejecting"),
      exStarCoalesce.getMessage)
    // … and a deeper inner CHAIN above the shared parent compiles too:
    // the factorized plans build on the chain prefix (orphan key nodes
    // ride its merged emissions)
    val cStarChain = SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
        |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    assert(cStarChain.outerPlans.size == 5, cStarChain.outerPlans.size)
    // two-boundary boundary-key IS NULL = class selection: orphan
    // classes only (anti plans dropped, main suppressed)
    val c5 = SqlCompiler.compile(s, d,
      """SELECT o_orderkey, COUNT(*) AS n
        |FROM customer
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_custkey IS NULL
        |GROUP BY o_orderkey""".stripMargin)
    assert(c5.suppressMainLeaf && c5.outerPlans.size == 3, c5.outerPlans.size)
    // contradictory selections are loud (b NULL ∩ b NOT NULL = ∅)
    val ex5 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n
        |FROM customer
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_custkey IS NULL AND o_custkey IS NOT NULL
        |GROUP BY c_custkey""".stripMargin))
    assert(ex5.getMessage.contains("no class"), ex5.getMessage)
  }

  test("INTERSECT/EXCEPT compile as maintained set ops; the fences stay loud") {
    val lhs = """SELECT DISTINCT n_name FROM nation
                |JOIN customer ON c_nationkey = n_nationkey
                |WHERE c_acctbal > 8000""".stripMargin
    val rhs = """SELECT DISTINCT n_name FROM nation
                |JOIN supplier ON s_nationkey = n_nationkey
                |WHERE s_acctbal > 5000""".stripMargin
    // insert-only equivalence against spark.sql's own set ops
    def stock(op: String) = {
      Seq("nation", "customer", "supplier").foreach(t =>
        Tables.load(s, d, t).createOrReplaceTempView(t))
      s.sql(s"$lhs\n$op\n$rhs").collect().map(_.getString(0)).sorted.toSeq
    }
    for (op <- Seq("INTERSECT", "EXCEPT")) {
      val got = SqlCompiler.compileSetOp(s, d, s"$lhs\n$op\n$rhs")
        .run(s, d).collect().map(_.getString(0)).sorted.toSeq
      assert(got == stock(op) && (op == "EXCEPT" || got.nonEmpty), s"$op: $got")
    }
    // DELETE-FLIP semantics: deleting every high-balance supplier of
    // some nation must flip it OUT of the intersect and INTO the
    // except — the cross-branch netting this machinery exists for
    val interBase = SqlCompiler.compileSetOp(s, d, s"$lhs\nINTERSECT\n$rhs")
      .run(s, d).collect().map(_.getString(0)).toSet
    assert(interBase.nonEmpty)
    val victim = interBase.min
    val nk = Tables.load(s, d, "nation").filter(col("n_name") === victim)
      .select(col("n_nationkey").cast("long")).head().getLong(0)
    val dels = Map("supplier" -> (col("s_nationkey") === nk))
    val interDel = SqlCompiler.compileSetOp(s, d, s"$lhs\nINTERSECT\n$rhs")
      .run(s, d, dels).collect().map(_.getString(0)).toSet
    val exceptDel = SqlCompiler.compileSetOp(s, d, s"$lhs\nEXCEPT\n$rhs")
      .run(s, d, dels).collect().map(_.getString(0)).toSet
    assert(!interDel.contains(victim) && exceptDel.contains(victim),
      s"victim $victim: inter=$interDel except=$exceptDel")
    // fences
    val exAll = intercept[IllegalArgumentException](
      SqlCompiler.compileSetOp(s, d, s"$lhs\nINTERSECT ALL\n$rhs"))
    assert(exAll.getMessage.contains("compileBagSetOp"), exAll.getMessage)
    val exSet = intercept[IllegalArgumentException](
      SqlCompiler.compileBagSetOp(s, d, s"$lhs\nINTERSECT\n$rhs"))
    assert(exSet.getMessage.contains("compileSetOp"), exSet.getMessage)
    val exAgg = intercept[IllegalArgumentException](SqlCompiler.compileSetOp(s, d,
      """SELECT n_name, COUNT(*) AS n FROM nation
        |JOIN customer ON c_nationkey = n_nationkey GROUP BY n_name
        |INTERSECT
        |SELECT n_name, COUNT(*) AS n FROM nation
        |JOIN supplier ON s_nationkey = n_nationkey GROUP BY n_name""".stripMargin))
    assert(exAgg.getMessage.contains("non-aggregate"), exAgg.getMessage)
    val exCols = intercept[IllegalArgumentException](SqlCompiler.compileSetOp(s, d,
      s"""$lhs
         |INTERSECT
         |SELECT DISTINCT s_name FROM nation
         |JOIN supplier ON s_nationkey = n_nationkey""".stripMargin))
    assert(exCols.getMessage.contains("do not match"), exCols.getMessage)
    val exNone = intercept[IllegalArgumentException](
      SqlCompiler.compileSetOp(s, d, lhs))
    assert(exNone.getMessage.contains("top-level INTERSECT"), exNone.getMessage)
    // a commented-out op must not split
    val exCmt = intercept[IllegalArgumentException](
      SqlCompiler.compileSetOp(s, d, s"$lhs -- INTERSECT trap\n"))
    assert(exCmt.getMessage.contains("top-level INTERSECT"), exCmt.getMessage)
  }

  test("mixed union association: parenthesized UNION ALL groups flatten under set UNION") {
    val text =
      """(SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  WHERE c_acctbal > 8000
        | UNION ALL
        | SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |  WHERE s_acctbal > 5000)
        |UNION
        |SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |WHERE s_acctbal > 9000""".stripMargin
    val c = SqlCompiler.compileUnionDistinct(s, d, text)
    assert(c.branches.size == 3) // the group flattened into the netting node
    val got = c.run(s, d).orderBy("n_name").collect().map(_.getString(0)).toSeq
    val sref = s.newSession()
    Seq("nation", "customer", "supplier").foreach(t =>
      Tables.load(sref, d, t).createOrReplaceTempView(t))
    val want = sref.sql(text).orderBy("n_name").collect().map(_.getString(0)).toSeq
    assert(got == want && got.nonEmpty)
    // the converse does NOT collapse: a set group under UNION ALL
    val ex = intercept[IllegalArgumentException](SqlCompiler.compileUnionAll(s, d,
      """(SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        | UNION
        | SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey)
        |UNION ALL
        |SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey""".stripMargin))
    assert(ex.getMessage.nonEmpty)
  }

  test("PROPERTY: set ops equal stock spark.sql across random delete sets, multi-column too") {
    // two-column outputs (the row-identity canon must agree on every
    // column) over branches sharing a relation; random delete
    // conditions on both sides, both operators
    val lhs = """SELECT DISTINCT n_name, c_mktsegment FROM nation
                |JOIN customer ON c_nationkey = n_nationkey
                |WHERE c_acctbal > 5000""".stripMargin
    val rhs = """SELECT DISTINCT n_name, c_mktsegment FROM nation
                |JOIN customer ON c_nationkey = n_nationkey
                |WHERE c_acctbal < 2000""".stripMargin
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 0 until 4) {
      val mod = 5 + rnd.nextInt(10)
      val res = rnd.nextInt(mod)
      val dels = Map("customer" -> (col("c_custkey") % mod === res))
      // stock reference: spark.sql's own set op over the SURVIVOR
      // views, bound in a CHILD session so concurrently running tests
      // (ParallelTestExecution) never see the filtered binding
      val sref = s.newSession()
      Tables.load(sref, d, "nation").createOrReplaceTempView("nation")
      Tables.load(sref, d, "customer").filter(col("c_custkey") % mod =!= res)
        .createOrReplaceTempView("customer")
      for (op <- Seq("INTERSECT", "EXCEPT")) {
        val want = sref.sql(s"$lhs\n$op\n$rhs")
          .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        val got = SqlCompiler.compileSetOp(s, d, s"$lhs\n$op\n$rhs")
          .run(s, d, dels)
          .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
        assert(got == want, s"trial $trial $op (mod=$mod res=$res)")
      }
    }
  }


  test("PROPERTY: mode/quantile_disc/max_by maintain exactly across random delete sets") {
    // the maintained fold with deletes must equal a from-scratch batch
    // recomputation over the SURVIVOR views — the reference spells the
    // same deterministic tie/cut rules in stock Spark SQL (windows for
    // mode, struct extremes for max_by/min_by), so any drift in the
    // incremental state machinery shows up as a value difference
    val maintained =
      """SELECT n_name, mode(o_orderpriority) AS mode_prio,
        | quantile_disc(o_totalprice, 0.25) AS q1_price,
        | quantile_disc(o_totalprice, 0.75) AS q3_price,
        | max_by(o_orderkey, o_totalprice) AS top_order,
        | min_by(o_orderkey, o_totalprice) AS bottom_order,
        | COUNT(*) AS n_rows
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin
    val reference =
      """WITH base AS (
        | SELECT n_name, o_orderkey, o_totalprice, o_orderpriority
        | FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  JOIN surv_orders ON o_custkey = c_custkey),
        |pv AS (SELECT n_name, o_orderpriority AS v, COUNT(*) AS n
        |       FROM base GROUP BY n_name, o_orderpriority),
        |md AS (SELECT n_name, v FROM (
        |        SELECT n_name, v, ROW_NUMBER() OVER
        |          (PARTITION BY n_name ORDER BY n DESC, v) AS rk FROM pv) t
        |       WHERE rk = 1),
        |qv AS (SELECT n_name, o_totalprice AS v, COUNT(*) AS n
        |       FROM base GROUP BY n_name, o_totalprice),
        |qc AS (SELECT n_name, v,
        |        SUM(n) OVER (PARTITION BY n_name ORDER BY v) AS cum,
        |        SUM(n) OVER (PARTITION BY n_name) AS tot FROM qv),
        |qq AS (SELECT n_name,
        |        MIN(CASE WHEN cum * 4 >= tot THEN v END) AS q1_price,
        |        MIN(CASE WHEN cum * 4 >= 3 * tot THEN v END) AS q3_price
        |       FROM qc GROUP BY n_name),
        |ab AS (SELECT n_name,
        |        MAX(struct(o_totalprice AS o, o_orderkey AS v)).v AS top_order,
        |        MIN(struct(o_totalprice AS o, o_orderkey AS v)).v AS bottom_order,
        |        COUNT(*) AS n_rows
        |       FROM base GROUP BY n_name)
        |SELECT ab.n_name, md.v AS mode_prio, q1_price, q3_price,
        |       top_order, bottom_order, n_rows
        |FROM ab JOIN md ON ab.n_name = md.n_name
        |        JOIN qq ON ab.n_name = qq.n_name""".stripMargin
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 3) {
      val mod = 4 + rnd.nextInt(9)
      val res = rnd.nextInt(mod)
      val dels = Map("orders" -> (col("o_orderkey") % mod === res))
      // child session: the filtered survivor view must not race
      // concurrently running tests that bind the same names
      val sref = s.newSession()
      Seq("nation", "customer").foreach(t =>
        Tables.load(sref, d, t).createOrReplaceTempView(t))
      Tables.load(sref, d, "orders").filter(col("o_orderkey") % mod =!= res)
        .createOrReplaceTempView("surv_orders")
      val want = sref.sql(reference).orderBy("n_name").collect().toSeq
      val got = SqlCompiler.run(s, d, maintained, deletes = dels)
        .orderBy("n_name").collect().toSeq
      assert(got == want, s"trial $trial (mod=$mod res=$res)")
    }
  }


  test("window SELECT items decorate the maintained view; the fences stay loud") {
    // maintained-with-deletes == stock windows over the survivor
    // recompute, in a child session (parallel-suite isolation)
    val sref = s.newSession()
    Seq("nation", "customer").foreach(t =>
      Tables.load(sref, d, t).createOrReplaceTempView(t))
    Tables.load(sref, d, "orders").filter(col("o_orderkey") % 7 =!= 0)
      .createOrReplaceTempView("surv_orders")
    val want = sref.sql(
      """SELECT n_name, o_orderpriority, price_e2,
        | RANK() OVER (PARTITION BY n_name ORDER BY price_e2 DESC, o_orderpriority) AS prio_rank,
        | SUM(price_e2) OVER (PARTITION BY n_name) AS nation_total_e2
        |FROM (
        | SELECT n_name, o_orderpriority,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2
        | FROM nation JOIN customer ON c_nationkey = n_nationkey
        |  JOIN surv_orders ON o_custkey = c_custkey
        | GROUP BY n_name, o_orderpriority) v""".stripMargin)
      .orderBy("n_name", "o_orderpriority").collect().toSeq
    val got = SqlCompiler.run(s, d,
      """SELECT n_name, o_orderpriority,
        | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS price_e2,
        | RANK() OVER (PARTITION BY n_name ORDER BY price_e2 DESC, o_orderpriority) AS prio_rank,
        | SUM(price_e2) OVER (PARTITION BY n_name) AS nation_total_e2
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name, o_orderpriority""".stripMargin,
      deletes = Map("orders" -> (col("o_orderkey") % 7 === 0)))
      .orderBy("n_name", "o_orderpriority").collect().toSeq
    assert(got == want)
    // HAVING + windows follows SQL order: the HAVING prefix of the
    // presentation chain filters groups BEFORE the windows rank them
    // (a rank that counted filtered-out groups would be wrong)
    val wantHW = s.sql(
      """SELECT n_name, n, RANK() OVER (ORDER BY n DESC, n_name) AS rk
        |FROM (SELECT n_name, COUNT(*) AS n
        |      FROM nation JOIN customer ON c_nationkey = n_nationkey
        |      GROUP BY n_name HAVING COUNT(*) > 6) v""".stripMargin)
      .orderBy("n_name").collect().toSeq
    val gotHW = SqlCompiler.run(s, d,
      """SELECT n_name, COUNT(*) AS n,
        | RANK() OVER (ORDER BY n DESC, n_name) AS rk
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        |GROUP BY n_name HAVING n > 6""".stripMargin)
      .orderBy("n_name").collect().toSeq
    assert(gotHW == wantHW && gotHW.nonEmpty)
    // fence 2: a window referencing a non-output column is loud
    val ex2 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n,
        | RANK() OVER (ORDER BY c_acctbal DESC) AS rk
        |FROM nation, customer
        |WHERE c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin))
    assert(ex2.getMessage.contains("non-window output columns"), ex2.getMessage)
  }


  test("PROPERTY: scalar-subquery gates re-resolve per delete set; fences stay loud") {
    // the global average MOVES with every delete set, so the gate must
    // be re-resolved per refresh - compare against stock SQL over the
    // survivor views across random deletions
    val maintained =
      """SELECT n_name, COUNT(*) AS n_big
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND CAST(round(o_totalprice * 100, 0) AS BIGINT) >
        |     (SELECT AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) FROM orders)
        |GROUP BY n_name""".stripMargin
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 0 until 3) {
      val mod = 4 + rnd.nextInt(9)
      val res = rnd.nextInt(mod)
      val sref = s.newSession() // parallel-suite isolation
      Seq("nation", "customer").foreach(t =>
        Tables.load(sref, d, t).createOrReplaceTempView(t))
      Tables.load(sref, d, "orders").filter(col("o_orderkey") % mod =!= res)
        .createOrReplaceTempView("surv_orders")
      val want = sref.sql(
        """SELECT n_name, COUNT(*) AS n_big
          |FROM nation JOIN customer ON c_nationkey = n_nationkey
          | JOIN surv_orders ON o_custkey = c_custkey
          |WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >
          |  (SELECT AVG(CAST(round(o_totalprice * 100, 0) AS BIGINT)) FROM surv_orders)
          |GROUP BY n_name""".stripMargin)
        .orderBy("n_name").collect().toSeq
      val got = SqlCompiler.run(s, d, maintained,
          deletes = Map("orders" -> (col("o_orderkey") % mod === res)))
        .orderBy("n_name").collect().toSeq
      assert(got == want, s"trial $trial (mod=$mod res=$res)")
    }
    // fence: the continuous path refuses the nonlinear gate
    val c = SqlCompiler.compile(s, d, maintained)
    val exS = intercept[IllegalArgumentException](
      c.runStream(c.sourceChangelogs(s, d)))
    assert(exS.getMessage.contains("NONLINEAR"), exS.getMessage)
    // fence: a correlated scalar subquery stays loud
    val exC = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_totalprice > (SELECT AVG(l_extendedprice) FROM lineitem
        |                     WHERE l_orderkey = o_orderkey)
        |GROUP BY n_name""".stripMargin))
    assert(exC.getMessage.contains("correlated"), exC.getMessage)
    // fence: a non-aggregate scalar subquery stays loud
    val exN = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, COUNT(*) AS n
        |FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        | AND o_totalprice > (SELECT o_totalprice FROM orders)
        |GROUP BY n_name""".stripMargin))
    assert(exN.getMessage.contains("AGGREGATE"), exN.getMessage)
  }

  test("quantile_disc guards: non-literal or out-of-range q fails loudly") {
    val ex = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, quantile_disc(o_totalprice, 1.5) AS q FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin))
    assert(ex.getMessage.contains("out of [0, 1]"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT n_name, quantile_disc(o_totalprice, o_orderkey) AS q FROM nation, customer, orders
        |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
        |GROUP BY n_name""".stripMargin))
    assert(ex2.getMessage.contains("numeric literal"), ex2.getMessage)
  }

  test("top-level UNION ALL splits paren- and quote-aware; UNION and misaligned schemas are loud") {
    import graft.streaming.SqlCompiler.splitTopLevelUnionAll
    // UNION ALL inside parens or a string literal must NOT split
    val tricky = "SELECT 'a UNION ALL b' AS s, (SELECT 1 UNION ALL SELECT 2) AS x\nUNION ALL\nSELECT 'y', 3"
    val parts = splitTopLevelUnionAll(tricky)
    assert(parts.size == 2 && parts(1).startsWith("SELECT 'y'"), parts)
    // column-like identifiers containing "union" must not split
    assert(splitTopLevelUnionAll("SELECT reunion_all FROM t").size == 1)
    // comments: 'UNION ALL' inside -- and /* */ is text, not syntax
    assert(splitTopLevelUnionAll(
      "SELECT 1 -- UNION ALL SELECT 2\nFROM t").size == 1)
    assert(splitTopLevelUnionAll(
      "SELECT 1 /* UNION ALL\nSELECT 2 */ FROM t").size == 1)
    // ...and a real split still works with comments present
    assert(splitTopLevelUnionAll(
      "SELECT 1 -- note\nUNION ALL\nSELECT 2").size == 2)
    // doubled quotes inside a literal are the SQL escape, not a close:
    // the UNION ALL here is still inside the string
    assert(splitTopLevelUnionAll(
      "SELECT 'it''s a UNION ALL trap' AS x FROM t").size == 1)
    // bare UNION (set semantics) routes to the set compiler, not this one
    val ex = intercept[IllegalArgumentException](
      splitTopLevelUnionAll("SELECT 1 UNION SELECT 2"))
    assert(ex.getMessage.contains("compileUnionDistinct"), ex.getMessage)
    // ... and the set splitter takes bare UNION / UNION DISTINCT, not ALL
    import graft.streaming.SqlCompiler.splitTopLevelUnionDistinct
    assert(splitTopLevelUnionDistinct("SELECT 1 UNION SELECT 2").size == 2)
    assert(splitTopLevelUnionDistinct(
      "SELECT 1 UNION DISTINCT SELECT 2 UNION SELECT 3").size == 3)
    val exMix = intercept[IllegalArgumentException](
      splitTopLevelUnionDistinct("SELECT 1 UNION SELECT 2 UNION ALL SELECT 3"))
    assert(exMix.getMessage.contains("mixing"), exMix.getMessage)
    val exMix2 = intercept[IllegalArgumentException](
      splitTopLevelUnionAll("SELECT 1 UNION SELECT 2 UNION ALL SELECT 3"))
    assert(exMix2.getMessage.contains("mixing"), exMix2.getMessage)
    // an identifier containing 'union' must not split the set form either
    assert(splitTopLevelUnionDistinct("SELECT reunion FROM t UNION SELECT x FROM u").size == 2)
    assert(splitTopLevelUnionDistinct("SELECT union_flag FROM t").size == 1)
    // schema misalignment across branches is loud
    val ex2 = intercept[IllegalArgumentException](SqlCompiler.compileUnionAll(s, d,
      """SELECT n_name, COUNT(*) AS n FROM nation JOIN customer ON c_nationkey = n_nationkey GROUP BY n_name
        |UNION ALL
        |SELECT n_name, COUNT(*) AS m FROM nation JOIN customer ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin))
    assert(ex2.getMessage.contains("does not match"), ex2.getMessage)
  }

  test("Spark-legal spellings split as Spark lexes them: escaped quotes, double quotes, backticks, nested comments") {
    import SqlCompiler.{splitTopLevelSetOp, splitTopLevelUnionAll, splitTopLevelUnionDistinct}
    // a backslash escapes the quote: 'x\'' is one literal, then UNION ALL
    assert(splitTopLevelUnionAll(
      """SELECT a FROM t WHERE s = 'x\'' UNION ALL SELECT a FROM u WHERE s = 'y'""").size == 2)
    assert(splitTopLevelUnionDistinct("""SELECT 'x\'' AS s UNION SELECT 'y'""").size == 2)
    // double-quoted literals are literals
    assert(splitTopLevelUnionAll(
      """SELECT ")" AS p FROM t UNION ALL SELECT "UNION ALL" FROM u""") ==
      Seq("""SELECT ")" AS p FROM t""", """SELECT "UNION ALL" FROM u"""))
    // backticked names are names
    assert(splitTopLevelUnionAll("SELECT `union` FROM t UNION ALL SELECT `a)b` FROM u") ==
      Seq("SELECT `union` FROM t", "SELECT `a)b` FROM u"))
    // block comments nest
    assert(splitTopLevelUnionAll("SELECT 1 /* a /* b */ UNION ALL */ FROM t").size == 1)
    assert(splitTopLevelSetOp(
      """SELECT "INTERSECT", `except` FROM t /* /* */ EXCEPT */ EXCEPT SELECT 'x\'', y FROM u""") ==
      ("""SELECT "INTERSECT", `except` FROM t /* /* */ EXCEPT */""",
        """SELECT 'x\'', y FROM u""", true, false))

    val (ctes, outer) = SqlCompiler.splitWith(
      """WITH a AS (SELECT 'x\')' AS s FROM t),
        |b AS (SELECT ")" AS p FROM `a)b` /* ( /* ) */ ( */)
        |SELECT * FROM a JOIN b""".stripMargin).get
    assert(ctes == Seq(("a", Nil, """SELECT 'x\')' AS s FROM t"""),
      ("b", Nil, """SELECT ")" AS p FROM `a)b` /* ( /* ) */ ( */""")))
    assert(outer == "SELECT * FROM a JOIN b")

    val (defs, rewritten) = SqlCompiler.liftDerivedTables(
      """SELECT s FROM (SELECT 'x\')' AS s FROM t) d
        |JOIN (SELECT `a)b` FROM u /* ( /* ) */ */) e ON TRUE""".stripMargin)
    assert(defs == Seq(("d", """SELECT 'x\')' AS s FROM t"""),
      ("e", "SELECT `a)b` FROM u /* ( /* ) */ */")))
    assert(rewritten == "SELECT s FROM d\nJOIN e ON TRUE")

    // end to end: the escaped-quote statement answers as Spark's own SQL
    val text =
      """SELECT n_name, COUNT(*) AS n FROM nation JOIN customer ON c_nationkey = n_nationkey
        |WHERE c_mktsegment <> 'x\'' GROUP BY n_name
        |UNION ALL
        |SELECT n_name, COUNT(*) AS n FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |WHERE s_name <> 'y\'' GROUP BY n_name""".stripMargin
    val got = SqlCompiler.compileUnionAll(s, d, text).map(_.run(s, d)).reduce(_ union _)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val sref = s.newSession()
    Seq("nation", "customer", "supplier").foreach(t =>
      Tables.load(sref, d, t).createOrReplaceTempView(t))
    val want = sref.sql(text).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("compileAsOf: ON and MATCH_CONDITION spellings agree, INNER drops nulls, fences are loud") {
    val ev = Tables.events(s, d)
    val rels = Map(
      "c" -> ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("click_id")),
      "p" -> ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")))
    val sel = "SELECT p.event_id, p.user_id, p.ts, c.click_id AS asof_click_id, c.ts AS asof_click_ts"
    val onForm = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
    val mcForm = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c MATCH_CONDITION (p.ts >= c.ts) ON p.user_id = c.user_id")
    val a = onForm.run(rels).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == mcForm.run(rels).collect().map(_.toSeq).toSet)
    // the flipped spelling r.ts <= l.ts is the same bound
    val flipped = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts")
    assert(flipped.run(rels).collect().map(_.toSeq).toSet == a)
    // INNER = LEFT minus the null extensions
    val inner = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
    assert(inner.run(rels).collect().map(_.toSeq).toSet ==
      a.filter(r => r(3) != null))
    // fences: strict bound, unknown qualifier, double inequality
    val exStrict = intercept[IllegalArgumentException](SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts"))
    assert(exStrict.getMessage.contains("equalities"), exStrict.getMessage)
    val exQual = intercept[IllegalArgumentException](SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON x.user_id = c.user_id AND p.ts >= c.ts"))
    assert(exQual.getMessage.contains("unknown qualifier"), exQual.getMessage)
    val exTwo = intercept[IllegalArgumentException](SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts AND p.event_id >= c.click_id"))
    assert(exTwo.getMessage.contains("more than one inequality"), exTwo.getMessage)
  }

  test("compileAsOf: right KEY column under LEFT is NULL on the null extension") {
    val ev = Tables.events(s, d)
    val rels = Map(
      "c" -> ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("click_id")),
      "p" -> ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")))
    val sel = "SELECT p.user_id, c.user_id AS r_user, c.click_id AS asof_click_id"
    val left = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
      .run(rels).collect()
    // unmatched rows exist in the fixture and surface NULL for the
    // right key (the match witness gates the left-key substitution);
    // matched rows carry the key by the join equality
    val unmatched = left.filter(_.isNullAt(2))
    assert(unmatched.nonEmpty)
    assert(unmatched.forall(_.isNullAt(1)))
    assert(left.filterNot(_.isNullAt(2)).forall(r => r.getLong(1) == r.getLong(0)))
    // INNER: every surviving row is a match, so the key never nulls
    val inner = SqlCompiler.compileAsOf(s,
      s"$sel FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
      .run(rels).collect()
    assert(inner.nonEmpty && inner.forall(r => !r.isNullAt(1) && r.getLong(1) == r.getLong(0)))
  }

  test("SELECT * / t.* expand to the FROM relations' columns") {
    val full = SqlCompiler.run(s, d,
      "SELECT * FROM nation JOIN customer ON c_nationkey = n_nationkey")
    assert(full.columns.toSeq == Seq(
      "n_nationkey", "n_name", "n_regionkey",
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    // bag multiplicity = the inner join itself (every column type
    // roundtrips the canonical row codec, incl. the DOUBLE c_acctbal)
    val nation = Tables.load(s, d, "nation")
    val customer = Tables.load(s, d, "customer")
    val expect = nation.join(customer, col("c_nationkey") === col("n_nationkey"))
    assert(full.count() == expect.count())
    // exact value roundtrip through the canonical row codec: the
    // DOUBLE column's multiset of values is bit-identical (sum order
    // varies, so compare sorted values, not a float fold)
    assert(full.select(col("c_acctbal")).collect().map(_.getDouble(0)).sorted.toSeq ==
      expect.select(col("c_acctbal")).collect().map(_.getDouble(0)).sorted.toSeq)
    // qualified star through a table alias, mixed with a plain column
    val nOnly = SqlCompiler.run(s, d,
      "SELECT c_mktsegment, n.* FROM nation n JOIN customer c ON c_nationkey = n_nationkey")
    assert(nOnly.columns.toSeq ==
      Seq("c_mktsegment", "n_nationkey", "n_name", "n_regionkey"))
    // an unknown qualifier is loud
    val ex = intercept[IllegalArgumentException](SqlCompiler.run(s, d,
      "SELECT x.* FROM nation n JOIN customer c ON c_nationkey = n_nationkey"))
    assert(ex.getMessage.contains("names no relation"), ex.getMessage)
  }

  test("WITH (CTE): maintained views compose under an outer query; fences stay loud") {
    Seq("region", "nation", "customer", "supplier", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // splitWith: comments, string literals containing commas/parens,
    // and nested parens must not confuse the clause scan
    val split = SqlCompiler.splitWith(
      """WITH a AS (SELECT 1 -- not a ')' terminator
        | FROM x WHERE y = 'lit with , and )'),
        |/* b is the (second) one */ b AS (SELECT 2 FROM (SELECT 3) t)
        |SELECT * FROM a JOIN b""".stripMargin)
    assert(split.isDefined)
    val (defs, outer) = split.get
    assert(defs.map(_._1) == Seq("a", "b"))
    assert(defs.head._3.contains("'lit with , and )'"))
    assert(defs(1)._3 == "SELECT 2 FROM (SELECT 3) t")
    assert(outer == "SELECT * FROM a JOIN b")
    assert(SqlCompiler.splitWith("SELECT 1 FROM t").isEmpty)

    // insert-only: the composed result equals stock spark.sql of the
    // same WITH text — presentation + re-aggregation outer
    val cteSql =
      """WITH per_cust AS (
        | SELECT c_custkey, COUNT(*) AS n_orders
        | FROM customer, orders
        | WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        | GROUP BY c_custkey)
        |SELECT n_orders, COUNT(*) AS n_customers
        |FROM per_cust GROUP BY n_orders""".stripMargin
    val cc = SqlCompiler.compileCte(s, d, cteSql)
    assert(cc.ctes.map(_._1) == Seq("per_cust") && cc.outerBaseRels.isEmpty)
    val got = cc.run(s, d).orderBy("n_orders").collect().toSeq
    val want = s.sql(cteSql).orderBy("n_orders").collect().toSeq
    assert(got == want && got.nonEmpty)

    // deletes flow into the views' changelogs AND into base relations
    // the outer reads directly (the dim-decorated shape)
    val dimSql =
      """WITH rev AS (
        | SELECT c_nationkey AS nk,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        | FROM customer, orders
        | WHERE o_custkey = c_custkey
        | GROUP BY c_nationkey)
        |SELECT r_name, n_name, rev_e2
        |FROM rev JOIN nation ON n_nationkey = nk
        |JOIN region ON r_regionkey = n_regionkey""".stripMargin
    val ccDim = SqlCompiler.compileCte(s, d, dimSql)
    assert(ccDim.outerBaseRels.toSet == Set("nation", "region"))
    val gotDel = ccDim.run(s, d,
        deletes = Map("orders" -> (col("o_orderkey") % 6 === 0)))
      .orderBy("n_name").collect().toSeq
    val wantDel = s.sql(
      """WITH rev AS (
        | SELECT c_nationkey AS nk,
        |  SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
        | FROM customer, orders
        | WHERE o_custkey = c_custkey AND o_orderkey % 6 <> 0
        | GROUP BY c_nationkey)
        |SELECT r_name, n_name, rev_e2
        |FROM rev JOIN nation ON n_nationkey = nk
        |JOIN region ON r_regionkey = n_regionkey""".stripMargin)
      .orderBy("n_name").collect().toSeq
    assert(gotDel == wantDel && gotDel.nonEmpty)

    // two views joined in the outer: each side refreshes independently
    val joinSql =
      """WITH cust AS (
        | SELECT n_nationkey AS nk, SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS bal
        | FROM nation, customer WHERE c_nationkey = n_nationkey GROUP BY n_nationkey),
        |supp AS (
        | SELECT n_nationkey AS nk, COUNT(*) AS n_supp
        | FROM nation, supplier WHERE s_nationkey = n_nationkey GROUP BY n_nationkey)
        |SELECT c.nk, c.bal, s.n_supp FROM cust c JOIN supp s ON c.nk = s.nk""".stripMargin
    val two = SqlCompiler.compileCte(s, d, joinSql)
    assert(two.ctes.map(_._1) == Seq("cust", "supp"))
    assert(two.run(s, d).count() == s.sql(joinSql).count())

    def bad(text: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](SqlCompiler.compileCte(s, d, text))
      assert(ex.getMessage.contains(needle), s"message: ${ex.getMessage}")
    }
    // a CTE reading an EARLIER CTE classifies as PRESENTATION: it
    // evaluates as stock SQL over the refreshed maintained view — the
    // staged-SQL idiom (view → filtered/ranked stage → outer)
    val chainSql =
      """WITH a AS (SELECT n_name, COUNT(*) AS n FROM nation, customer
        | WHERE c_nationkey = n_nationkey GROUP BY n_name),
        |b AS (SELECT n_name, n FROM a WHERE n > 6)
        |SELECT n_name, n FROM b""".stripMargin
    val chain = SqlCompiler.compileCte(s, d, chainSql)
    assert(chain.ctes.map(_._1) == Seq("a"))
    assert(chain.presentation.map(_._1) == Seq("b"))
    assert(chain.run(s, d).orderBy("n_name").collect().toSeq ==
      s.sql(chainSql).orderBy("n_name").collect().toSeq)
    // a presentation CTE may MIX view and base-relation reads; the base
    // side sees the deletes-applied state
    val mixSql =
      """WITH a AS (SELECT c_nationkey AS nk, COUNT(*) AS n FROM nation, customer
        | WHERE c_nationkey = n_nationkey GROUP BY c_nationkey),
        |decorated AS (SELECT n_name, n FROM a JOIN nation ON n_nationkey = nk)
        |SELECT n_name, n FROM decorated""".stripMargin
    val mix = SqlCompiler.compileCte(s, d, mixSql)
    assert(mix.presentation.map(_._1) == Seq("decorated"))
    assert(mix.outerBaseRels.contains("nation"))
    assert(mix.run(s, d).count() == s.sql(mixSql).count())

    // UNION ALL as a CTE body: one compiled tree per arm, unioned at
    // refresh; set-semantics UNION stays loud
    Tables.load(s, d, "supplier").createOrReplaceTempView("supplier")
    val unionSql =
      """WITH bal AS (
        | SELECT n_name, COUNT(*) AS n FROM nation, customer
        |  WHERE c_nationkey = n_nationkey GROUP BY n_name
        | UNION ALL
        | SELECT n_name, COUNT(*) AS n FROM nation, supplier
        |  WHERE s_nationkey = n_nationkey GROUP BY n_name)
        |SELECT n_name, SUM(n) AS n_parties FROM bal GROUP BY n_name""".stripMargin
    val u = SqlCompiler.compileCte(s, d, unionSql)
    assert(u.ctes.map { case (n, bs) => (n, bs.size) } == Seq(("bal", 2)))
    assert(u.run(s, d).orderBy("n_name").collect().toSeq ==
      s.sql(unionSql).orderBy("n_name").collect().toSeq)

    // recursive / forward-reference / alias-list / no-CTE-read fences
    bad("WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r", "RECURSIVE")
    bad("""WITH b AS (SELECT n_name, n FROM a),
          |a AS (SELECT n_name, COUNT(*) AS n FROM nation, customer
          | WHERE c_nationkey = n_nationkey GROUP BY n_name)
          |SELECT * FROM b""".stripMargin, "defined after")
    bad("WITH a AS (SELECT * FROM a) SELECT * FROM a", "references itself")
    // a column-alias list renames the view's output positionally
    val aliased = SqlCompiler.runCte(s, d,
      """WITH a(x, y) AS (SELECT n_name AS c1, COUNT(*) AS c2 FROM nation, customer
        | WHERE c_nationkey = n_nationkey GROUP BY n_name)
        |SELECT x, y FROM a""".stripMargin)
    assert(aliased.columns.toSeq == Seq("x", "y") && aliased.count() > 0)
    // an arity-mismatched alias list is loud
    val exAl = intercept[IllegalArgumentException](SqlCompiler.runCte(s, d,
      """WITH a(x) AS (SELECT n_name AS c1, COUNT(*) AS c2 FROM nation, customer
        | WHERE c_nationkey = n_nationkey GROUP BY n_name)
        |SELECT x FROM a""".stripMargin))
    assert(exAl.getMessage.contains("aliases"), exAl.getMessage)
    // a set-semantics UNION body maintains through the netting node
    val setCte = SqlCompiler.compileCte(s, d,
      """WITH nat AS (
        | SELECT n_name FROM nation, customer
        |  WHERE c_nationkey = n_nationkey AND c_acctbal > 8000
        | UNION
        | SELECT n_name FROM nation, supplier
        |  WHERE s_nationkey = n_nationkey AND s_acctbal > 5000)
        |SELECT COUNT(*) AS n FROM nat""".stripMargin)
    assert(setCte.setCtes.map(_._1) == Seq("nat"))
    assert(setCte.run(s, d).head().getLong(0) > 0)
    // mixing UNION and UNION ALL at one level stays fenced
    bad("""WITH nat AS (
          | SELECT n_name FROM nation, customer WHERE c_nationkey = n_nationkey
          | UNION
          | SELECT n_name FROM nation, supplier WHERE s_nationkey = n_nationkey
          | UNION ALL
          | SELECT n_name FROM nation, supplier WHERE s_nationkey = n_nationkey)
          |SELECT COUNT(*) AS n FROM nat""".stripMargin, "mixing UNION")
    bad("""WITH a AS (SELECT n_name, COUNT(*) AS n FROM nation, customer
          | WHERE c_nationkey = n_nationkey GROUP BY n_name)
          |SELECT r_name FROM region""".stripMargin, "reads no CTE")
    // a CTE body that the view compiler cannot maintain names the CTE
    bad("""WITH a AS (SELECT n_name, COUNT(*) AS n FROM nation GROUP BY n_name)
          |SELECT n_name FROM a""".stripMargin, "CTE 'a'")
    // a typo'd outer relation (neither CTE nor base table) is loud
    bad("""WITH a AS (SELECT n_name, COUNT(*) AS n FROM nation, customer
          | WHERE c_nationkey = n_nationkey GROUP BY n_name)
          |SELECT * FROM aa""".stripMargin, "neither a CTE")
    // the plain compiler redirects WITH text to the CTE front end
    val red = intercept[IllegalArgumentException](SqlCompiler.compile(s, d, cteSql))
    assert(red.getMessage.contains("compileCte"), red.getMessage)
    // a delete naming no relation of the query is loud, not a no-op
    val exDel = intercept[IllegalArgumentException](
      cc.run(s, d, deletes = Map("lineitem" -> (col("l_linenumber") === 1))))
    assert(exDel.getMessage.contains("references no relation"), exDel.getMessage)
  }

  test("pair-star FULL OUTER: boundaries off two core relations equal stock SQL") {
    val sql =
      """SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows,
        | SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS li_e2
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin
    // PAIR-EMPTINESS is the class this shape adds: nation 1 loses ALL
    // suppliers, so its customers produce NO core rows and their
    // orders must orphan (NULL n_name groups) — SQL's nested answer
    val deletes = Map(
      "customer" -> (col("c_custkey") % 13 === 0),
      "supplier" -> ((col("s_suppkey") % 5 === 0) || (col("s_nationkey") === 1)),
      "orders" -> (col("o_orderkey") % 7 === 0),
      "lineitem" -> (col("l_linenumber") =!= 1))
    val got = SqlCompiler.run(s, d, sql, deletes)
    val ss = s.newSession()
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem").foreach { t =>
      val base = Tables.load(ss, d, t)
      deletes.get(t).map(c => base.filter(!c)).getOrElse(base)
        .createOrReplaceTempView(t)
    }
    val want = ss.sql(sql)
    val gotC = got.collect().map(_.toSeq).toSet
    val wantC = want.collect().map(_.toSeq).toSet
    assert(gotC == wantC, s"missing ${(wantC -- gotC).take(3)} extra ${(gotC -- wantC).take(3)}")
    // the orphaned-orders direction really fired (NULL core groups)
    assert(gotC.exists(r => r.head == null && r(1) != null))
    // subquery gates COMPOSE with the pair-star (round 14): the
    // NOT EXISTS direction keeps all six classes and must equal stock
    // SQL under the same deletes — including the pair-emptiness
    // orphans, which ride the UNGATED core (orphan-ness precedes
    // WHERE) while passing the gate trivially on their structural NULLs
    val gatedSql =
      """SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin
    val gotG = SqlCompiler.run(s, d, gatedSql, deletes)
      .collect().map(_.toSeq).toSet
    val wantG = ss.sql(gatedSql).collect().map(_.toSeq).toSet
    assert(gotG == wantG,
      s"missing ${(wantG -- gotG).take(3)} extra ${(gotG -- wantG).take(3)}")
    assert(gotG.exists(r => r.head == null && r(1) != null)) // orphans survive NOT EXISTS
    // TWO gates on the SAME core relation chain (hop1 consumes hop2),
    // exactly as the plain shapes compile them
    val twoGateSql =
      """SELECT n_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows
        |FROM nation
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
        |WHERE NOT EXISTS (SELECT 1 FROM region
        |  WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')
        | AND NOT EXISTS (SELECT 1 FROM part
        |  WHERE p_partkey = n_nationkey AND p_size > 40)
        |GROUP BY n_name, o_orderpriority, l_returnflag""".stripMargin
    Seq("part").foreach(t => Tables.load(ss, d, t).createOrReplaceTempView(t))
    val got2 = SqlCompiler.run(s, d, twoGateSql, deletes)
      .collect().map(_.toSeq).toSet
    val want2 = ss.sql(twoGateSql).collect().map(_.toSeq).toSet
    assert(got2 == want2,
      s"missing ${(want2 -- got2).take(3)} extra ${(got2 -- want2).take(3)}")

    // CHAIN PREFIX above the bridge: region→nation→{customer,supplier}
    // core — a REGION delete must orphan its nations' customers' orders
    // and suppliers' lineitems transitively (the orphan key nodes ride
    // the core's pair emissions, which fold the whole prefix)
    val sqlR =
      """SELECT r_name, o_orderpriority, l_returnflag, COUNT(*) AS n_rows
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |FULL OUTER JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_suppkey = s_suppkey
        |GROUP BY r_name, o_orderpriority, l_returnflag""".stripMargin
    val deletesR = Map(
      "region" -> (col("r_regionkey") === 2),
      "customer" -> (col("c_custkey") % 13 === 0),
      "orders" -> (col("o_orderkey") % 7 === 0),
      "lineitem" -> (col("l_linenumber") =!= 1))
    val gotR = SqlCompiler.run(s, d, sqlR, deletesR)
    val ssR = s.newSession()
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem").foreach { t =>
      val base = Tables.load(ssR, d, t)
      deletesR.get(t).map(c => base.filter(!c)).getOrElse(base)
        .createOrReplaceTempView(t)
    }
    val gotRC = gotR.collect().map(_.toSeq).toSet
    val wantRC = ssR.sql(sqlR).collect().map(_.toSeq).toSet
    assert(gotRC == wantRC,
      s"missing ${(wantRC -- gotRC).take(3)} extra ${(gotRC -- wantRC).take(3)}")
    assert(gotRC.exists(r => r.head == null)) // orphan classes fired
  }

  test("derived tables lift to anonymous CTEs; subquery predicates stay put") {
    Seq("nation", "customer", "orders").foreach(t =>
      Tables.load(s, d, t).createOrReplaceTempView(t))
    // the lift rewrites ( SELECT ... ) [AS] alias and nothing else
    val (defs, rewritten) = SqlCompiler.liftDerivedTables(
      """SELECT n_name, COUNT(*) AS n FROM (SELECT c_custkey, c_nationkey
        | FROM customer WHERE c_acctbal > 0) AS t
        |JOIN nation ON n_nationkey = t.c_nationkey
        |WHERE n_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
        |GROUP BY n_name""".stripMargin)
    assert(defs.map(_._1) == Seq("t"))
    assert(defs.head._2.startsWith("SELECT c_custkey"))
    assert(rewritten.contains("FROM t\nJOIN nation") ||
      rewritten.replaceAll("\\s+", " ").contains("FROM t JOIN nation"))
    // the IN (SELECT ...) predicate is untouched
    assert(rewritten.contains("IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)"))

    // end-to-end: derived spelling equals the WITH spelling's result
    val derivedSql =
      """SELECT n_orders, COUNT(*) AS n_customers
        |FROM (SELECT c_custkey, COUNT(*) AS n_orders
        |      FROM customer, orders
        |      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |      GROUP BY c_custkey) t
        |GROUP BY n_orders""".stripMargin
    val cc = SqlCompiler.compileCte(s, d, derivedSql)
    assert(cc.ctes.map(_._1) == Seq("t"))
    val got = cc.run(s, d,
        deletes = Map("orders" -> (col("o_orderkey") % 4 === 0)))
      .orderBy("n_orders").collect().toSeq
    val want = s.sql(
      """SELECT n_orders, COUNT(*) AS n_customers
        |FROM (SELECT c_custkey, COUNT(*) AS n_orders
        |      FROM customer, orders
        |      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |       AND o_orderkey % 4 <> 0
        |      GROUP BY c_custkey) t
        |GROUP BY n_orders""".stripMargin)
      .orderBy("n_orders").collect().toSeq
    assert(got == want && got.nonEmpty)

    // alias column lists are loud; the plain compiler redirects the
    // derived-table spelling to the CTE front end
    val exCols = intercept[IllegalArgumentException](
      SqlCompiler.compileCte(s, d,
        """SELECT x FROM (SELECT c_custkey FROM customer) t(x)"""))
    assert(exCols.getMessage.contains("alias column lists"), exCols.getMessage)
    val red = intercept[IllegalArgumentException](
      SqlCompiler.compile(s, d, derivedSql))
    assert(red.getMessage.contains("compileCte"), red.getMessage)
  }

  test("gates × FULL OUTER: fences stay loud; EXISTS empties the orphan-only view") {
    val gate =
      "EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey AND r_name = 'ASIA')"
    // nested two-boundary + gate on a prefix relation COMPILES (the
    // prefix-NULL classes 3/4/6 decide statically; here EXISTS drops
    // them) — the class analysis extends, it does not fence
    SqlCompiler.compile(s, d,
      s"""SELECT c_custkey, COUNT(*) AS n_rows
         |FROM nation
         |JOIN customer ON c_nationkey = n_nationkey
         |FULL OUTER JOIN orders ON o_custkey = c_custkey
         |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE $gate
         |GROUP BY c_custkey""".stripMargin)
    // star boundaries + a gate on the SHARED PARENT compile too — the
    // absence hops chain onto the gate hop, orphan classes decide
    // statically (EXISTS drops 5/6 here)
    SqlCompiler.compile(s, d,
      s"""SELECT n_name, COUNT(*) AS n_rows
         |FROM nation
         |FULL OUTER JOIN customer ON c_nationkey = n_nationkey
         |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
         |WHERE $gate
         |GROUP BY n_name""".stripMargin)
    // scalar-subquery gate + FULL OUTER: filter-then-join would
    // manufacture preserved rows — loud
    val ex2 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      """SELECT c_custkey, COUNT(*) AS n_rows
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_acctbal > (SELECT AVG(n_nationkey) FROM nation)
        |GROUP BY c_custkey""".stripMargin))
    assert(ex2.getMessage.contains("scalar-subquery gates alongside FULL OUTER"),
      ex2.getMessage)
    // IS NULL selects only the orphan class, but an EXISTS gate on an
    // inner relation is never TRUE on its structural NULLs
    val ex3 = intercept[IllegalArgumentException](SqlCompiler.compile(s, d,
      s"""SELECT COUNT(*) AS n_rows
         |FROM nation
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE o_orderkey IS NULL AND $gate""".stripMargin))
    assert(ex3.getMessage.contains("provably EMPTY"), ex3.getMessage)
  }

  test("compile memo: per-session identity hit, session isolation") {
    val s1 = s.newSession()
    val c1 = SqlCompiler.compile(s1, d, q10Sql)
    // same session + text -> the SAME Compiled object (no re-parse)
    assert(SqlCompiler.compile(s1, d, q10Sql) eq c1)
    // another session never sees this session's cached closures
    val s2 = s.newSession()
    assert(!(SqlCompiler.compile(s2, d, q10Sql) eq c1))
  }
}
