package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotLog, SqlDml}

// NOT ParallelTestExecution: the time-travel tests assert the session
// catalog holds no transient __graft_tt_* views after a call — a
// concurrently-running sibling's in-flight views would flake that.
class SqlDmlSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def base(n: Long = 10L) =
    (0L until n).map(k => (k, k * 10.0, s"row$k")).toDF("k", "price", "tag")

  private def state(root: String, v: Int): Map[Long, (Double, String)] =
    SnapshotLog.readVersion(spark, root, v)
      .select("k", "price", "tag").as[(Long, Double, String)]
      .collect().map { case (k, p, t) => k -> (p, t) }.toMap

  test("UPDATE: alias-scoped assignments, unassigned columns keep their value") {
    val root = freshRoot("graft_dml_upd")
    SnapshotLog.commitInitial(base(), root, "k")
    assert(SqlDml.updateSql(spark, root, 1, "k", Seq("price", "tag"),
      "UPDATE tgt t SET t.price = t.price * 2 WHERE t.k >= 8"))
    val st = state(root, 1)
    assert(st(8L) == (160.0, "row8") && st(9L) == (180.0, "row9"))
    assert(st(7L) == (70.0, "row7"))
  }

  test("UPDATE matching no row is a no-op: false, no version minted") {
    val root = freshRoot("graft_dml_noop")
    SnapshotLog.commitInitial(base(), root, "k")
    assert(!SqlDml.updateSql(spark, root, 1, "k", Seq("price", "tag"),
      "UPDATE tgt SET price = 0 WHERE k > 1000"))
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("UPDATE may not assign the key; CHECK constraints gate the commit") {
    val root = freshRoot("graft_dml_fence")
    SnapshotLog.commitInitial(base(), root, "k")
    assert(intercept[IllegalArgumentException] {
      SqlDml.updateSql(spark, root, 1, "k", Seq("price", "tag"),
        "UPDATE tgt SET k = k + 1")
    }.getMessage.contains("may not assign"))
    SnapshotLog.setConstraints(root, Map("pos" -> "price > 0"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.updateSql(spark, root, 1, "k", Seq("price", "tag"),
        "UPDATE tgt SET price = -1 WHERE k = 3")
    }.getMessage.contains("pos"))
  }

  test("DELETE lowers to a deletion-vector commit; WHERE-less DELETE empties the table") {
    val root = freshRoot("graft_dml_del")
    SnapshotLog.commitInitial(base(), root, "k")
    assert(SqlDml.deleteSql(spark, root, 1, "k", "DELETE FROM tgt WHERE k % 2 = 0"))
    assert(state(root, 1).keySet == Set(1L, 3L, 5L, 7L, 9L))
    // merge-on-read: v1 wrote only tombstones, no data bucket
    val v1Dirs = new java.io.File(root).listFiles().map(_.getName)
      .filter(n => n.startsWith("v1") && !n.startsWith("_"))
    assert(v1Dirs.nonEmpty && v1Dirs.forall(_.startsWith("v1dv")), v1Dirs.toSeq)
    assert(SqlDml.deleteSql(spark, root, 2, "k", "DELETE FROM tgt"))
    assert(SnapshotLog.readVersion(spark, root, 2).isEmpty)
  }

  test("INSERT INTO: positional column list, NULL backfill, partial-list upsert fenced") {
    val root = freshRoot("graft_dml_ins")
    SnapshotLog.commitInitial(base(), root, "k")
    Seq((100L, 1.5)).toDF("a", "b").createOrReplaceTempView("dml_src")
    assert(SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
      "INSERT INTO tgt (k, price) SELECT a, b FROM dml_src"))
    val st = state(root, 1)
    assert(st.size == 11)
    val r100 = SnapshotLog.readVersion(spark, root, 1).filter(col("k") === 100L)
      .select("price", "tag").collect().head
    assert(r100.getDouble(0) == 1.5 && r100.isNullAt(1))
    // a PARTIAL column list touching an EXISTING key is fenced: the
    // upsert would NULL the unlisted columns (silent data loss)
    Seq((3L, 99.0)).toDF("a", "b").createOrReplaceTempView("dml_src_existing")
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 2, "k", Seq("price", "tag"),
        "INSERT INTO tgt (k, price) SELECT a, b FROM dml_src_existing")
    }.getMessage.contains("partial column list"))
    // the FULL-list insert of an existing key upserts (matched-I = update)
    Seq((3L, 99.0, "three")).toDF("a", "b", "c").createOrReplaceTempView("dml_src_full")
    assert(SqlDml.insertSql(spark, root, 2, "k", Seq("price", "tag"),
      "INSERT INTO tgt SELECT a, b, c FROM dml_src_full"))
    assert(state(root, 2)(3L) == (99.0, "three"))
    // the key column is cast to the target type: an INT-keyed body
    // must not drift the stored BIGINT key via union coercion
    Seq((200, 2.5, "two-hundred")).toDF("a", "b", "c").createOrReplaceTempView("dml_src_int")
    assert(SqlDml.insertSql(spark, root, 3, "k", Seq("price", "tag"),
      "INSERT INTO tgt SELECT a, b, c FROM dml_src_int"))
    assert(SnapshotLog.readVersion(spark, root, 3).schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(state(root, 3)(200L) == (2.5, "two-hundred"))
  }

  test("INSERT / MERGE NULL source keys fail by name, not with an NPE") {
    val root = freshRoot("graft_dml_nullkey")
    SnapshotLog.commitInitial(base(), root, "k")
    Seq((Some(300L), 1.0), (None, 2.0)).toDF("a", "b")
      .createOrReplaceTempView("dml_src_null")
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
        "INSERT INTO tgt (k, price) SELECT a, b FROM dml_src_null")
    }.getMessage.contains("NULL"))
    val src = Seq((Some(300L), 1.0), (None, 2.0)).toDF("k", "price")
      .withColumn("tag", lit("x"))
    assert(intercept[IllegalArgumentException] {
      graft.sources.MergeIntoSql.commitMergeSql(spark, root, 1, "k",
        Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET price = s.price
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin, src)
    }.getMessage.contains("NULL"))
    // nothing committed on either path
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("UPDATE ... FROM: source-referencing assignments, bucket-pruned hit scan") {
    val root = freshRoot("graft_dml_updfrom")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 100.0, true), (3L, 300.0, true), (5L, 0.0, false))
      .toDF("id", "delta", "apply")
    assert(SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
      """UPDATE tgt t SET price = t.price + s.delta, tag = concat(t.tag, '!')
        |FROM src s WHERE t.k = s.id AND s.apply""".stripMargin, src))
    val st = state(root, 1)
    assert(st(1L) == (110.0, "row1!"))
    assert(st(3L) == (330.0, "row3!"))
    assert(st(5L) == (50.0, "row5")) // s.apply false → untouched
    assert(st(2L) == (20.0, "row2"))
    // the hit scan is the bucket-pruned preImages of the SOURCE's keys:
    // keys {1,3,5} live in buckets {1,3,5} of 16, so the pre-image read
    // must list only those buckets' files — never the whole table
    val pre = SnapshotLog.preImages(spark, root, 0, "k",
      src.select(col("id").as("k")))
    assert(pre.inputFiles.nonEmpty &&
      pre.inputFiles.forall(f => f.contains("/b=1/") || f.contains("/b=3/") || f.contains("/b=5/")),
      pre.inputFiles.toSeq)
  }

  test("UPDATE ... FROM fences: missing key equality, cardinality, key assignment") {
    val root = freshRoot("graft_dml_updfrom_f")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 100.0)).toDF("id", "delta")
    assert(intercept[IllegalArgumentException] {
      SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
        "UPDATE tgt t SET price = s.delta FROM src s WHERE t.price > s.delta", src)
    }.getMessage.contains("key equality"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
        "UPDATE tgt t SET k = s.id FROM src s WHERE t.k = s.id", src)
    }.getMessage.contains("may not assign"))
    // two source rows hitting one target key is nondeterministic → loud
    val dupSrc = Seq((1L, 100.0), (1L, 200.0)).toDF("id", "delta")
    assert(intercept[IllegalArgumentException] {
      SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
        "UPDATE tgt t SET price = s.delta FROM src s WHERE t.k = s.id", dupSrc)
    }.getMessage.contains("cardinality"))
    // no matching row → committed no-op
    val missSrc = Seq((999L, 1.0)).toDF("id", "delta")
    assert(!SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
      "UPDATE tgt t SET price = s.delta FROM src s WHERE t.k = s.id", missSrc))
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("Spark-legal spellings: an escaped quote in an UPDATE ... FROM assignment and before a time-travel factor") {
    val root = freshRoot("graft_dml_lex")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 100.0)).toDF("id", "delta")
    assert(SqlDml.updateFromSql(spark, root, 1, "k", Seq("price", "tag"),
      """UPDATE tgt t SET tag = concat(t.tag, 'x\', y'), price = t.price + s.delta
        |FROM src s WHERE t.k = s.id""".stripMargin, src))
    assert(state(root, 1)(1L) == (110.0, "row1x', y"))
    val n = SqlDml.timeTravelSql(spark,
      """SELECT COUNT(*) AS n, 'x\'' AS q FROM t VERSION AS OF 0""",
      Map("t" -> root)).head().getLong(0)
    assert(n == 10L)
  }

  test("timeTravelSql: VERSION and TIMESTAMP factors, per-version aggregate, fences") {
    val root = freshRoot("graft_dml_tt")
    SnapshotLog.commitInitial(base(), root, "k")
    assert(SqlDml.deleteSql(spark, root, 1, "k", "DELETE FROM tgt WHERE k >= 5"))
    val counts = SqlDml.timeTravelSql(spark,
      """SELECT 'v0' AS ver, COUNT(*) AS n FROM t VERSION AS OF 0
        |UNION ALL
        |SELECT 'v1' AS ver, COUNT(*) AS n FROM t VERSION AS OF 1""".stripMargin,
      Map("t" -> root)).orderBy("ver").as[(String, Long)].collect().toSeq
    assert(counts == Seq(("v0", 10L), ("v1", 5L)))
    // TIMESTAMP AS OF far in the future resolves to the newest version
    val horizon = java.lang.System.currentTimeMillis() + 3600000L
    val future = SqlDml.timeTravelSql(spark,
      s"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF $horizon",
      Map("t" -> root)).head().getLong(0)
    assert(future == 5L)
    // an unbound time-travel name fails loudly
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark, "SELECT * FROM other VERSION AS OF 0",
        Map("t" -> root))
    }.getMessage.contains("not bound"))
    // a statement with no time-travel factor is redirected to plain SQL
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark, "SELECT 1", Map("t" -> root))
    }.getMessage.contains("no VERSION/TIMESTAMP"))
  }

  test("INSERT fences: key must be listed, arity must match, no OVERWRITE") {
    val root = freshRoot("graft_dml_insfence")
    SnapshotLog.commitInitial(base(), root, "k")
    Seq((100L, 1.5)).toDF("a", "b").createOrReplaceTempView("dml_src2")
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
        "INSERT INTO tgt (price, tag) SELECT a, b FROM dml_src2")
    }.getMessage.contains("must assign the key"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
        "INSERT INTO tgt SELECT a, b FROM dml_src2")
    }.getMessage.contains("yields"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
        "INSERT OVERWRITE tgt SELECT a, b, 'x' FROM dml_src2")
    }.getMessage.contains("OVERWRITE"))
    // duplicate keys within one INSERT would corrupt the keyed table
    assert(intercept[IllegalArgumentException] {
      SqlDml.insertSql(spark, root, 1, "k", Seq("price", "tag"),
        "INSERT INTO tgt (k, price) SELECT a, b FROM dml_src2 UNION ALL SELECT a, b FROM dml_src2")
    }.getMessage.contains("cardinality"))
  }

  test("timeTravelSql mixes with caller views; literals and qualified names are safe") {
    val root = freshRoot("graft_dml_tt2")
    SnapshotLog.commitInitial(base(4), root, "k")
    Seq((0L, "zero"), (1L, "one")).toDF("k", "label").createOrReplaceTempView("tt_dims")
    // a time-travel factor JOINed to a caller temp view in one statement
    val joined = SqlDml.timeTravelSql(spark,
      """SELECT d.label AS label FROM t VERSION AS OF 0 AS v
        |JOIN tt_dims d ON v.k = d.k""".stripMargin,
      Map("t" -> root)).orderBy("label").as[String].collect().toSeq
    assert(joined == Seq("one", "zero"))
    // TT-shaped text inside a string literal is not a relation
    val lit0 = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF 0 WHERE 'x VERSION AS OF 9' <> tag",
      Map("t" -> root)).head().getLong(0)
    assert(lit0 == 4L)
    // a qualified name is not rewritten mid-identifier: arity check trips
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark, "SELECT * FROM db.t VERSION AS OF 0",
        Map("t" -> root))
    }.getMessage.contains("parser sees"))
    // an unparseable timestamp fails loudly, not with an NPE
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark, "SELECT * FROM t TIMESTAMP AS OF 'not-a-time'",
        Map("t" -> root))
    }.getMessage.contains("cannot parse"))
  }

  test("timeTravelSql: relative VERSION and folded TIMESTAMP expressions") {
    val root = freshRoot("graft_dml_tt4")
    SnapshotLog.commitInitial(base(), root, "k")            // v0: 10 rows
    assert(SqlDml.deleteSql(spark, root, 1, "k", "DELETE FROM tgt WHERE k >= 5")) // v1: 5
    assert(SqlDml.deleteSql(spark, root, 2, "k", "DELETE FROM tgt WHERE k >= 3")) // v2: 3
    // '-1' = one version before the latest, resolved at bind time
    val prev = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF '-1'",
      Map("t" -> root)).head().getLong(0)
    assert(prev == 5L)
    val twoBack = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF '-2'",
      Map("t" -> root)).head().getLong(0)
    assert(twoBack == 10L)
    // beyond-horizon relative version names the real range
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t VERSION AS OF '-9'", Map("t" -> root))
    }.getMessage.contains("latest is 2"))
    // a parenthesized timestamp EXPRESSION folds at bind time
    val n = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF " +
        "(timestamp'2200-01-01 00:00:00' - INTERVAL 1 DAY)",
      Map("t" -> root)).head().getLong(0)
    assert(n == 3L) // far future → the newest version
    // subqueries stay fenced — their value could drift between bind and run
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t TIMESTAMP AS OF ((SELECT k FROM u))",
        Map("t" -> root))
    }.getMessage.toLowerCase.contains("subquery"))
    // deeper operand nesting than the matcher follows still fails
    // LOUDLY through the arity guard, never silently
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t TIMESTAMP AS OF ((SELECT MAX(k) FROM u))",
        Map("t" -> root))
    }.getMessage.contains("parser sees"))
    // column references are rejected by Spark's own parser before the
    // rebinding even starts (our bind-time fence is defense-in-depth)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t TIMESTAMP AS OF (some_col + 1)",
        Map("t" -> root))
    }
  }

  test("timeTravelSql: VERSION AS OF scalar subquery over __history, fences") {
    val root = freshRoot("graft_dml_tt5")
    SnapshotLog.commitInitial(base(), root, "k")             // v0: 16 rewritten
    SnapshotLog.commitDeleteVector(spark, root, 1, "k",      // v1: 0 rewritten (DV)
      (5L until 10L).toDF("k"))
    SnapshotLog.commitMerge(spark, root, 2, "k",             // v2: rewrites buckets
      Seq("price", "tag"),
      Seq((0L, "U", 999.0, "row0")).toDF("k", "op", "price", "tag"))
    // "the last version that rewrote data" = v2; "the one before it
    // that did" = v0; a pure metadata-read subquery, folded at bind
    val nLast = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF " +
        "(SELECT MAX(version) FROM __history WHERE n_rewritten > 0)",
      Map("t" -> root)).head().getLong(0)
    assert(nLast == 5L) // v2 carries v1's tombstones forward
    val nDvOnly = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF " +
        "(SELECT MAX(version) FROM __history WHERE n_rewritten = 0)",
      Map("t" -> root)).head().getLong(0)
    assert(nDvOnly == 5L) // v1: the deletion-vector commit
    val nFirst = SqlDml.timeTravelSql(spark,
      "SELECT COUNT(*) AS n FROM t VERSION AS OF " +
        "(SELECT MIN(version) FROM __history)",
      Map("t" -> root)).head().getLong(0)
    assert(nFirst == 10L)
    // fences: a non-SELECT parenthesized operand dies in Spark's OWN
    // parser (VERSION operands are literals or our substituted
    // subquery — plain expressions were never in the grammar); then a
    // NULL-producing subquery, an out-of-range result, correlation
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t VERSION AS OF (1 + 1)", Map("t" -> root))
    }
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t VERSION AS OF " +
          "(SELECT MAX(version) FROM __history WHERE n_dirs > 99)",
        Map("t" -> root))
    }.getMessage.contains("NULL"))
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t VERSION AS OF " +
          "(SELECT MAX(version) + 7 FROM __history)",
        Map("t" -> root))
    }.getMessage.contains("0..2"))
    // a CORRELATED form (outer column) cannot analyze standalone —
    // the loud fence, not silent drift
    assert(intercept[IllegalArgumentException] {
      SqlDml.timeTravelSql(spark,
        "SELECT * FROM t VERSION AS OF " +
          "(SELECT MAX(version) FROM __history WHERE version = outer_col)",
        Map("t" -> root))
    }.getMessage.contains("correlated"))
    // the per-call history view is dropped again even on the fenced paths
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_hist")))
  }

  test("timeTravelSql: AS OF text inside comments is masked; views are dropped after") {
    val root = freshRoot("graft_dml_tt3")
    SnapshotLog.commitInitial(base(4), root, "k")
    // a `--` comment and a block comment both carrying AS OF phrases:
    // the parser ignores them and so must the regex (r12 hardening) —
    // a desynced count would fail this legitimate statement
    val n = SqlDml.timeTravelSql(spark,
      """-- baseline was t VERSION AS OF 9 before the migration
        |SELECT COUNT(*) AS n
        |FROM t VERSION AS OF 0 /* not t TIMESTAMP AS OF '2020-01-01' */""".stripMargin,
      Map("t" -> root)).head().getLong(0)
    assert(n == 4L)
    // the per-call rebound views are dropped once analyzed
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_tt_")))
  }
}
