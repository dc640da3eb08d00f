package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{MergeIntoSql, SnapshotLog}

class MergeIntoSqlSpec extends AnyFunSuite with org.scalatest.ParallelTestExecution {
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

  test("clause precedence: the FIRST satisfied WHEN MATCHED clause wins") {
    val root = freshRoot("graft_msql_prec")
    SnapshotLog.commitInitial(base(), root, "k")
    // key 1 satisfies BOTH conditions — the UPDATE (listed first) must win;
    // key 2 satisfies only the second — DELETE
    val src = Seq((1L, true), (2L, true)).toDF("k", "flag")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k
        |WHEN MATCHED AND t.k = 1 THEN UPDATE SET price = t.price + 1
        |WHEN MATCHED AND s.flag THEN DELETE""".stripMargin, src)
    val st = state(root, 1)
    assert(st(1L) == (11.0, "row1"))
    assert(!st.contains(2L) && st.size == 9)
  }

  test("INSERT with a partial column list backfills typed NULLs; unconditional clauses") {
    val root = freshRoot("graft_msql_ins")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((100L, 7.5)).toDF("k", "p")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.p)""".stripMargin, src)
    val row = SnapshotLog.readVersion(spark, root, 1).filter(col("k") === 100L)
      .select("price", "tag").collect().head
    assert(row.getDouble(0) == 7.5 && row.isNullAt(1))
  }

  test("NOT MATCHED BY SOURCE: conditional UPDATE and DELETE over target-only rows") {
    val root = freshRoot("graft_msql_nmbs")
    SnapshotLog.commitInitial(base(4), root, "k") // keys 0..3
    val src = Seq((0L, 99.0)).toDF("k", "p")      // only key 0 survives in source
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET price = s.p
        |WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN UPDATE SET tag = 'orphaned'
        |WHEN NOT MATCHED BY SOURCE AND t.k = 2 THEN DELETE""".stripMargin, src)
    val st = state(root, 1)
    assert(st(0L) == (99.0, "row0"))
    assert(st(1L) == (10.0, "orphaned"))
    assert(!st.contains(2L))
    assert(st(3L) == (30.0, "row3")) // no NMBS clause matched → untouched
  }

  test("cardinality violation: a duplicate source key fails loudly, nothing commits") {
    val root = freshRoot("graft_msql_card")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "p")
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, src)
    }
    assert(e.getMessage.contains("cardinality"))
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("loud fences: unqualified refs, key assignment, keyless INSERT, source refs in NMBS") {
    val root = freshRoot("graft_msql_fence")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 1.0)).toDF("k", "p")
    def run(sql: String): String =
      intercept[IllegalArgumentException] {
        MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"), sql, src)
      }.getMessage
    assert(run("""MERGE INTO tgt t USING src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET price = p""".stripMargin).contains("qualify"))
    assert(run("""MERGE INTO tgt t USING src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET k = s.k + 1""".stripMargin).contains("may not assign"))
    assert(run("""MERGE INTO tgt t USING src s ON t.k = s.k
      |WHEN NOT MATCHED THEN INSERT (price) VALUES (s.p)""".stripMargin)
      .contains("must assign the key"))
    assert(run("""MERGE INTO tgt t USING src s ON t.k = s.k
      |WHEN NOT MATCHED BY SOURCE AND s.p > 0 THEN DELETE""".stripMargin)
      .contains("no source row"))
    assert(run("""MERGE INTO tgt t USING src s ON t.k < s.k
      |WHEN MATCHED THEN DELETE""".stripMargin)
      .contains("bucket key 'k' exactly once"))
    // SQL scoping: a NOT MATCHED clause has no target row
    assert(run("""MERGE INTO tgt t USING src s ON t.k = s.k
      |WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, t.price + s.p)""".stripMargin)
      .contains("no target row"))
  }

  test("MERGE lands through the CHECK-constraint gate: a violating UPDATE aborts") {
    val root = freshRoot("graft_msql_check")
    SnapshotLog.commitInitial(base(), root, "k")
    SnapshotLog.setConstraints(root, Map("pos" -> "price > 0"))
    val src = Seq((1L, -5.0)).toDF("k", "p")
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, src)
    }
    assert(e.getMessage.contains("pos"))
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("composite ON: residual equality routes, INSERT key-collision is fenced") {
    val root = freshRoot("graft_msql_comp")
    SnapshotLog.commitInitial(base(), root, "k")
    // key 1 matches key+tag → UPDATE; key 2's tag differs → NOT MATCHED,
    // but its guarded INSERT is off (flag=false) so it touches nothing;
    // key 100 is absent → INSERT
    val src = Seq((1L, "row1", 111.0, false), (2L, "other", 222.0, false),
      (100L, "new", 7.0, true)).toDF("k", "tag", "p", "flag")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
        |WHEN MATCHED THEN UPDATE SET price = s.p
        |WHEN NOT MATCHED AND s.flag THEN INSERT (k, price, tag) VALUES (s.k, s.p, s.tag)""".stripMargin,
      src)
    val st = state(root, 1)
    assert(st(1L) == (111.0, "row1"))
    assert(st(2L) == (20.0, "row2")) // residual failed, guarded INSERT off → untouched
    assert(st(100L) == (7.0, "new"))
    // an UNGUARDED INSERT would collide with existing key 2 → loud fence
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 2, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
          |WHEN NOT MATCHED THEN INSERT (k, price, tag) VALUES (s.k, s.p, s.tag)""".stripMargin,
        Seq((2L, "other", 222.0)).toDF("k", "tag", "p"))
    }
    assert(e.getMessage.contains("collides with existing key 2"))
    assert(!new java.io.File(s"$root/_manifest_v2.json").exists())
  }

  test("composite ON: NOT MATCHED BY SOURCE honors residual equalities") {
    val root = freshRoot("graft_msql_compnmbs")
    SnapshotLog.commitInitial(base(4), root, "k") // keys 0..3
    // key 0 matches key+tag (true match); key 1 appears in the source
    // but with a DIFFERENT tag → "not matched by source" per SQL
    val src = Seq((0L, "row0", 99.0), (1L, "different", 0.0)).toDF("k", "tag", "p")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
        |WHEN MATCHED THEN UPDATE SET price = s.p
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin, src)
    val st = state(root, 1)
    assert(st.keySet == Set(0L)) // 1 (residual miss), 2, 3 all deleted
    assert(st(0L) == (99.0, "row0"))
  }

  test("USING (subquery) binds the source from SQL; passing both is ambiguous") {
    val root = freshRoot("graft_msql_subq")
    SnapshotLog.commitInitial(base(), root, "k")
    base().createOrReplaceTempView("msql_subq_base")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t
        |USING (SELECT k, price * 2 AS p FROM msql_subq_base WHERE k < 2) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin)
    val st = state(root, 1)
    assert(st(0L) == (0.0, "row0") && st(1L) == (20.0, "row1"))
    assert(st(2L) == (20.0, "row2"))
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 2, "k", Seq("price", "tag"),
        """MERGE INTO tgt t
          |USING (SELECT k, price FROM msql_subq_base) s ON t.k = s.k
          |WHEN MATCHED THEN DELETE""".stripMargin,
        base())
    }
    assert(e.getMessage.contains("subquery IS the source"))
  }

  test("NULL residual routes to NOT MATCHED like FALSE (never a silent drop)") {
    val root = freshRoot("graft_msql_nullres")
    // target tag for key 1 is NULL → the residual t.tag = s.tag is
    // UNKNOWN; per SQL the pair is NOT matched, so the INSERT fires —
    // and must reach the loud key-collision fence, not silently no-op
    SnapshotLog.commitInitial(
      Seq((1L, 10.0, null.asInstanceOf[String])).toDF("k", "price", "tag"),
      root, "k")
    val src = Seq((1L, "t1", 99.0)).toDF("k", "tag", "p")
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
          |WHEN MATCHED THEN UPDATE SET price = s.p
          |WHEN NOT MATCHED THEN INSERT (k, price, tag) VALUES (s.k, s.p, s.tag)""".stripMargin,
        src)
    }
    assert(e.getMessage.contains("collides with existing key 1"))
    // without the INSERT clause the row fires no clause at all — the
    // MERGE's change set is empty, which the commit path reports
    // LOUDLY (never a silent version mint), and nothing lands
    val e2 = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
          |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, src)
    }
    assert(e2.getMessage.contains("empty change set"))
    assert(!new java.io.File(s"$root/_manifest_v1.json").exists())
  }

  test("ON residual RANGE predicate is a match guard (the CDC freshness shape)") {
    val root = freshRoot("graft_msql_range")
    SnapshotLog.commitInitial(
      Seq((1L, 10.0, "v5"), (2L, 20.0, "v5")).toDF("k", "price", "tag"),
      root, "k")
    // s.ts > CAST(substr(t.tag, 2) AS INT): key 1 carries a FRESHER
    // source row (ts=9 > 5) → MATCHED UPDATE; key 2's source row is
    // STALE (ts=3) → not matched, no clause, untouched
    val src = Seq((1L, 9, 111.0), (2L, 3, 222.0)).toDF("k", "ts", "p")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s
        |ON t.k = s.k AND s.ts > CAST(substr(t.tag, 2) AS INT)
        |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, src)
    val st = state(root, 1)
    assert(st(1L) == (111.0, "v5"))
    assert(st(2L) == (20.0, "v5"))
  }

  test("ON residual range rides the NOT MATCHED BY SOURCE anti condition") {
    val root = freshRoot("graft_msql_rangenmbs")
    SnapshotLog.commitInitial(
      Seq((1L, 10.0, "v5"), (2L, 20.0, "v5")).toDF("k", "price", "tag"),
      root, "k")
    // key 1 has a fresh source row → truly matched, survives; key 2's
    // source row is stale → "not matched by source" per SQL → deleted
    val src = Seq((1L, 9, 111.0), (2L, 3, 222.0)).toDF("k", "ts", "p")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s
        |ON t.k = s.k AND s.ts > CAST(substr(t.tag, 2) AS INT)
        |WHEN MATCHED THEN UPDATE SET price = s.p
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin, src)
    val st = state(root, 1)
    assert(st.keySet == Set(1L) && st(1L) == (111.0, "v5"))
  }

  test("with ON residuals, duplicate source keys are legal while at most one acts") {
    val root = freshRoot("graft_msql_dupres")
    SnapshotLog.commitInitial(base(), root, "k")
    // two source rows share key 1; the residual (t.tag = s.tag)
    // disambiguates — only the 'row1' row matches → legal, one UPDATE
    val ok = Seq((1L, "row1", 111.0), (1L, "other", 222.0)).toDF("k", "tag", "p")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
        |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, ok)
    assert(state(root, 1)(1L) == (111.0, "row1"))
    // both rows matching the same target row is the SQL:2003 violation
    val bad = Seq((2L, "row2", 1.0), (2L, "row2", 2.0)).toDF("k", "tag", "p")
    val e = intercept[IllegalArgumentException] {
      MergeIntoSql.commitMergeSql(spark, root, 2, "k", Seq("price", "tag"),
        """MERGE INTO tgt t USING src s ON t.k = s.k AND t.tag = s.tag
          |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin, bad)
    }
    assert(e.getMessage.contains("cardinality"))
    assert(!new java.io.File(s"$root/_manifest_v2.json").exists())
  }

  test("a comment containing 'USING (' does not bind the subquery extraction") {
    val root = freshRoot("graft_msql_comment")
    SnapshotLog.commitInitial(base(), root, "k")
    base().createOrReplaceTempView("msql_comment_base")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """-- CDC compaction; previously ran USING (SELECT * FROM legacy) s
        |MERGE INTO tgt t
        |USING (SELECT k, price * 3 AS p FROM msql_comment_base WHERE k = 1) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET price = s.p""".stripMargin)
    assert(state(root, 1)(1L) == (30.0, "row1"))
  }

  test("MERGE USING (subquery) holding an escaped quote and a nested comment") {
    val root = freshRoot("graft_msql_lex")
    SnapshotLog.commitInitial(base(), root, "k")
    base().createOrReplaceTempView("msql_lex_base")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t
        |USING (SELECT k, price * 3 AS p, 'a\')' AS q
        |       FROM msql_lex_base /* ( /* ) */ ( */ WHERE k = 1) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET price = s.p, tag = s.q""".stripMargin)
    assert(state(root, 1)(1L) == (30.0, "a')"))
  }

  test("NMBS with all-conditional clauses prunes the target scan") {
    val root = freshRoot("graft_msql_nmbsprune")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((0L, 1.0)).toDF("k", "p")
    val target = SnapshotLog.readVersion(spark, root, 0)
    val cs = MergeIntoSql.changeSet(spark,
      """MERGE INTO tgt t USING src s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE AND t.k >= 8 THEN DELETE""".stripMargin,
      "k", Seq("price", "tag"), target,
      keys => SnapshotLog.preImages(spark, root, 0, "k", keys), src)
    // keys 8 and 9: >= 8 and absent from the source
    assert(cs.select("k").as[Long].collect().sorted.toSeq == Seq(8L, 9L))
    // the clause disjunction reaches the parquet scan as a pushed
    // filter — the whole point of the pruning: a 100 TB target pays
    // only the rows any clause could touch
    val plan = cs.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(k,8)"), plan)
  }

  test("UPDATE SET * takes every source column by name") {
    val root = freshRoot("graft_msql_star")
    SnapshotLog.commitInitial(base(), root, "k")
    val src = Seq((1L, 111.0, "repl")).toDF("k", "price", "tag")
    MergeIntoSql.commitMergeSql(spark, root, 1, "k", Seq("price", "tag"),
      """MERGE INTO tgt t USING src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin, src)
    assert(state(root, 1)(1L) == (111.0, "repl"))
  }
}
