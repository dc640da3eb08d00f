package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.DeltaEngine._

/** Property tests of the pure AJU state machine — the semantic heart
  * of the incremental engine (SURVEY.md §5.2: incremental == batch
  * over the net surviving tuples, under arbitrary interleavings).
  * These are exactly the bug classes the reference itself has (quirks
  * Q1–Q6).
  */
class DeltaEngineSpec extends AnyFunSuite with org.scalatest.ParallelTestExecution {

  /** Net signed multiset of emitted rows — the spec-side fold every
    * engine test compares on (nonzero nets only). */
  private def netRows(evts: Seq[Evt]): Map[String, Int] =
    evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
      .filter(_._2 != 0).toMap

  /** Deterministic ScalaCheck sampling (the scalatest-scalacheck
    * bridge isn't in the offline cache — sample seeded generators by
    * hand). */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  // -- tiny 2-level tree: parent P(pk) → child C(fk, val>=threshold) --
  private val parentSpec = NodeSpec("P", "pk", "pk", isRoot = true, setSemantics = true)
  private val childSpec = NodeSpec("C", "fk", "fk")

  /** The child relations' local predicate `v >= 10`, applied at the
    * changelog source (inserts and deletes alike) as the engine
    * expects. */
  private def passes(e: Evt): Boolean = e.cols("v").toInt >= 10

  private def parentRow(k: Int) = Map("pk" -> k.toString, "pname" -> s"p$k")
  private def childRow(k: Int, id: Int, v: Int) =
    Map("fk" -> k.toString, "cid" -> id.toString, "v" -> v.toString)

  /** Drive the two-node chain entirely in-process (no Spark): node 1
    * per-key fold, route emissions, node 2 per-key fold. */
  private def runChain(parentEvts: Seq[Evt], childEvts: Seq[Evt]): Seq[(Int, Int, Map[String, String])] = {
    val p1 = parentEvts.groupBy(_.key).toSeq.flatMap { case (k, evs) =>
      processKeyBatch(parentSpec)(k, evs.iterator).toSeq
    }
    val all = childEvts.filter(passes) ++ p1
    all.groupBy(_.key).toSeq.flatMap { case (k, evs) =>
      processKeyBatch(childSpec)(k, evs.iterator).toSeq
        .map(e => (e.tag, e.mult, e.cols))
    }
  }

  /** Brute-force oracle: net surviving joined multiset. */
  private def bruteForce(ops: Seq[(Boolean, Boolean, Int, Int, Int)]): Map[(Int, Int, Int), Int] = {
    // (isParent, isInsert, key, id, v)
    val pNet = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val cNet = scala.collection.mutable.Map[(Int, Int, Int), Int]().withDefaultValue(0)
    ops.foreach {
      case (true, ins, k, _, _)  => pNet(k) += (if (ins) 1 else -1)
      case (false, ins, k, id, v) => cNet((k, id, v)) += (if (ins) 1 else -1)
    }
    cNet.toMap.collect {
      case ((k, id, v), n) if n != 0 && v >= 10 && pNet(k) > 0 => (k, id, v) -> n
    }
  }

  private val opGen: Gen[(Boolean, Boolean, Int, Int, Int)] = for {
    isParent <- Gen.oneOf(true, false)
    isInsert <- Gen.frequency(3 -> true, 1 -> false)
    key <- Gen.choose(0, 3)
    id <- Gen.choose(0, 4)
    v <- Gen.choose(5, 15)
  } yield (isParent, isInsert, key, id, v)

  test("incremental net == batch over net tuples, any interleaving (AJU property)") {
    samples(Gen.listOfN(40, opGen), 60).foreach { ops =>
      // deletes get a later seq than inserts of the same tuple: use the
      // op index as seq (a delete that precedes its insert is a ghost;
      // the brute force handles it identically via signed counts)
      val evts = ops.zipWithIndex.map { case ((isP, ins, k, id, v), i) =>
        val row = if (isP) parentRow(k) else childRow(k, id, v)
        val key = if (isP) k.toString else k.toString
        (isP, Evt(i.toLong, fromParent = false, if (ins) 1 else -1, 1, key, row))
      }
      val leaf = runChain(evts.filter(_._1).map(_._2), evts.filterNot(_._1).map(_._2))
      val got = scala.collection.mutable.Map[(Int, Int, Int), Int]().withDefaultValue(0)
      leaf.foreach { case (tag, mult, row) =>
        val k = (row("fk").toInt, row("cid").toInt, row("v").toInt)
        got(k) += tag * mult
      }
      val expected = bruteForce(ops)
      assert(got.filter(_._2 != 0).toMap == expected)
    }
  }

  // -- EXISTS / NOT EXISTS: set-semantics key node gating an (anti-)
  // liveness node — the incremental semi/anti-join wiring ------------
  private def runExistsChain(anti: Boolean, subEvts: Seq[Evt],
      outerEvts: Seq[Evt]): Seq[(Int, Int, Map[String, String])] = {
    val keyNode = NodeSpec("S", "pk", "pk", isRoot = true, setSemantics = true)
    val outer = NodeSpec("C", "fk", "fk", antiParent = anti)
    val gate = subEvts.groupBy(_.key).toSeq.flatMap { case (k, evs) =>
      processKeyBatch(keyNode)(k, evs.iterator).toSeq
    }
    (outerEvts ++ gate).groupBy(_.key).toSeq.flatMap { case (k, evs) =>
      processKeyBatch(outer)(k, evs.iterator).toSeq.map(e => (e.tag, e.mult, e.cols))
    }
  }

  test("PROPERTY: EXISTS/NOT EXISTS gate == brute-force semi/anti, any interleaving") {
    samples(Gen.listOfN(40, opGen), 40).foreach { ops =>
      val subNet = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
      val outerNet = scala.collection.mutable.Map[(Int, Int, Int), Int]().withDefaultValue(0)
      ops.foreach {
        case (true, ins, k, _, _)   => subNet(k) += (if (ins) 1 else -1)
        case (false, ins, k, id, v) => outerNet((k, id, v)) += (if (ins) 1 else -1)
      }
      val subEvts = ops.zipWithIndex.collect { case ((true, ins, k, _, _), i) =>
        Evt(i.toLong, fromParent = false, if (ins) 1 else -1, 1, k.toString,
          Map("pk" -> k.toString))
      }
      val outerEvts = ops.zipWithIndex.collect { case ((false, ins, k, id, v), i) =>
        Evt(i.toLong, fromParent = false, if (ins) 1 else -1, 1, k.toString,
          childRow(k, id, v))
      }
      Seq(false, true).foreach { anti =>
        val got = scala.collection.mutable.Map[(Int, Int, Int), Int]().withDefaultValue(0)
        runExistsChain(anti, subEvts, outerEvts).foreach { case (tag, mult, row) =>
          got((row("fk").toInt, row("cid").toInt, row("v").toInt)) += tag * mult
        }
        val expected = outerNet.toMap.collect {
          case ((k, id, v), n)
            if n != 0 && (if (anti) subNet(k) <= 0 else subNet(k) > 0) =>
              (k, id, v) -> n
        }
        assert(got.filter(_._2 != 0).toMap == expected, s"anti=$anti ops=$ops")
      }
    }
  }

  test("anti node: rows emit while no match, retract on first match, re-emit on last unmatch") {
    val outer = (0 until 3).map(i => Evt(0, false, 1, 1, "7", childRow(7, i, 12)))
    val subIns = Evt(1, false, 1, 1, "7", Map("pk" -> "7"))
    val subDel = Evt(2, false, -1, 1, "7", Map("pk" -> "7"))
    val leaf = runExistsChain(anti = true, Seq(subIns, subDel), outer)
    // +3 (unmatched) −3 (match appears) +3 (match dies) = net +3
    assert(leaf.map { case (t, m, _) => t * m }.sum == 3)
    assert(leaf.count(_._1 == 1) == 6 && leaf.count(_._1 == -1) == 3)
    // anti emissions carry NO subquery columns
    assert(leaf.forall { case (_, _, row) => !row.contains("pk") })
  }

  test("parent death retracts all buffered children (fan-out)") {
    val pIns = Evt(0, false, 1, 1, "1", parentRow(1))
    val cs = (0 until 5).map(i => Evt(1, false, 1, 1, "1", childRow(1, i, 12)))
    val pDel = Evt(2, false, -1, 1, "1", parentRow(1))
    val leaf = runChain(Seq(pIns, pDel), cs)
    val net = leaf.map { case (t, m, _) => t * m }.sum
    assert(net == 0)
    assert(leaf.count(_._1 == 1) == 5 && leaf.count(_._1 == -1) == 5)
  }

  test("predicate is orthogonal to action (quirk Q4 fixed)") {
    // insert then delete of a PASSING tuple must retract (the reference
    // drops the delete because it only checks Delete when the predicate
    // FAILS, Q10OrdersProcessFunction.java:102-122)
    val p = Evt(0, false, 1, 1, "1", parentRow(1))
    val ins = Evt(1, false, 1, 1, "1", childRow(1, 0, 12))
    val del = Evt(2, false, -1, 1, "1", childRow(1, 0, 12))
    val leaf = runChain(Seq(p), Seq(ins, del))
    assert(leaf.map { case (t, m, _) => t * m }.sum == 0)
  }

  test("root dedup is set-semantic with content equality (quirks Q1/Q2 fixed)") {
    // duplicate parent insert emits exactly one Alive
    val p1 = Evt(0, false, 1, 1, "1", parentRow(1))
    val p2 = Evt(1, false, 1, 1, "1", parentRow(1))
    val c = Evt(2, false, 1, 1, "1", childRow(1, 0, 12))
    val leaf = runChain(Seq(p1, p2), Seq(c))
    assert(leaf.map { case (t, m, _) => t * m }.sum == 1)
  }

  test("canon/uncanon round-trips arbitrary column maps") {
    samples(Gen.mapOf(Gen.zip(Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.alphaNumStr)), 100)
      .foreach(m => assert(uncanon(canon(m)) == m))
  }

  test("canonColumn renders a row as canon does, a null column as \"null\"") {
    val s = SparkTestSession.spark
    import s.implicits._
    val df = Seq((3L, Option.empty[String], "x y")).toDF("b_id", "a_name", "c_note")
    val got = df.select(canonColumn(df.columns.toSeq)).head().getString(0)
    assert(got == canon(Map("b_id" -> "3", "a_name" -> "null", "c_note" -> "x y")))
  }

  test("runBatch node stats count per-hop events and emissions") {
    import graft.streaming.DeltaEngine
    val s = SparkTestSession.spark
    val d = SparkTestSession.sfTiny
    val buf = scala.collection.mutable.Buffer.empty[DeltaEngine.NodeStats]
    val (stages, logs) = SparkTestSession.q10Tree(s, d)
    val leaf = DeltaEngine.runTree(stages, logs, stats = Some(buf))
    val leafCount = leaf.count()
    assert(buf.map(_.relation) == Seq("nation", "customer", "orders", "lineitem"))
    // the leaf node's emissions ARE the result deltas
    assert(buf.last.emitted.value == leafCount && leafCount > 0)
    // each hop's input includes the previous hop's emissions
    buf.sliding(2).foreach { case scala.collection.mutable.Buffer(p, c) =>
      assert(c.events.value >= p.emitted.value)
    }
    // nation root: 25 nations in, 25 alive deltas out (no deletes)
    assert(buf.head.events.value == 25 && buf.head.emitted.value == 25)
  }

  // ---- branching trees: multi-parent conjunction via stages ----------

  import graft.streaming.IncrementalQueries

  // child C references P1 (via fk1) AND P2 (via fk2): alive iff BOTH
  // alive. The stage decomposition: fold-wrt-P1 keyed fk1, emissions
  // re-keyed by fk2 and fed as OWN events into fold-wrt-P2.
  private val p1Spec = NodeSpec("P1", "pk1", "pk1", isRoot = true, setSemantics = true)
  private val p2Spec = NodeSpec("P2", "pk2", "pk2", isRoot = true, setSemantics = true)
  private val c1Spec = NodeSpec("C", "fk1", "fk2")
  private val c2Spec = NodeSpec("C2", "fk2", "fk2")

  private def p1Row(k: Int) = Map("pk1" -> k.toString, "pname" -> s"p$k")
  private def p2Row(k: Int) = Map("pk2" -> k.toString, "qname" -> s"q$k")
  private def childRow2(k1: Int, k2: Int, id: Int, v: Int) =
    Map("fk1" -> k1.toString, "fk2" -> k2.toString, "cid" -> id.toString, "v" -> v.toString)

  /** Drive the branching tree entirely in-process (no Spark) through
    * the same per-key folds the Spark runner shuffles between. */
  private def runTreeLocal(p1: Seq[Evt], p2: Seq[Evt], c: Seq[Evt])
      : Seq[(Int, Int, Map[String, String])] = {
    def fold(spec: NodeSpec, evs: Seq[Evt]): Seq[Evt] =
      evs.groupBy(_.key).toSeq.flatMap { case (k, g) =>
        processKeyBatch(spec)(k, g.iterator).toSeq
      }
    val s1Out = fold(c1Spec, c.filter(passes) ++ fold(p1Spec, p1))
    val s2In = s1Out.map(e => e.copy(fromParent = false)) ++ fold(p2Spec, p2)
    fold(c2Spec, s2In).map(e => (e.tag, e.mult, e.cols))
  }

  // (who: 0=P1 1=P2 2=C, isInsert, k1, k2, id, v)
  private type TreeOp = (Int, Boolean, Int, Int, Int, Int)

  private def bruteForceTree(ops: Seq[TreeOp]): Map[(Int, Int, Int, Int), Int] = {
    val p1Net = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val p2Net = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    val cNet = scala.collection.mutable.Map[(Int, Int, Int, Int), Int]().withDefaultValue(0)
    ops.foreach {
      case (0, ins, k1, _, _, _)      => p1Net(k1) += (if (ins) 1 else -1)
      case (1, ins, _, k2, _, _)      => p2Net(k2) += (if (ins) 1 else -1)
      case (_, ins, k1, k2, id, v)    => cNet((k1, k2, id, v)) += (if (ins) 1 else -1)
    }
    cNet.toMap.collect {
      case ((k1, k2, id, v), n) if n != 0 && v >= 10 && p1Net(k1) > 0 && p2Net(k2) > 0 =>
        (k1, k2, id, v) -> n
    }
  }

  private val treeOpGen: Gen[TreeOp] = for {
    who <- Gen.oneOf(0, 1, 2, 2)
    isInsert <- Gen.frequency(3 -> true, 1 -> false)
    k1 <- Gen.choose(0, 2); k2 <- Gen.choose(0, 2)
    id <- Gen.choose(0, 3); v <- Gen.choose(5, 15)
  } yield (who, isInsert, k1, k2, id, v)

  test("branching tree: net == batch over net tuples, both parents conjunctive") {
    samples(Gen.listOfN(48, treeOpGen), 60).foreach { ops =>
      val evts = ops.zipWithIndex.map { case ((who, ins, k1, k2, id, v), i) =>
        val (row, key) = who match {
          case 0 => (p1Row(k1), k1.toString)
          case 1 => (p2Row(k2), k2.toString)
          case _ => (childRow2(k1, k2, id, v), k1.toString) // C routes by fk1 first
        }
        (who, Evt(i.toLong, fromParent = false, if (ins) 1 else -1, 1, key, row))
      }
      val leaf = runTreeLocal(
        evts.filter(_._1 == 0).map(_._2),
        evts.filter(_._1 == 1).map(_._2),
        evts.filter(_._1 == 2).map(_._2))
      val got = scala.collection.mutable.Map[(Int, Int, Int, Int), Int]().withDefaultValue(0)
      leaf.foreach { case (tag, mult, row) =>
        got((row("fk1").toInt, row("fk2").toInt, row("cid").toInt, row("v").toInt)) += tag * mult
      }
      assert(got.filter(_._2 != 0).toMap == bruteForceTree(ops))
      // the merged leaf rows carry BOTH parents' payload columns
      leaf.headOption.foreach { case (_, _, row) =>
        assert(row.contains("pname") && row.contains("qname"))
      }
    }
  }

  test("second-parent death retracts exactly that branch's joined rows") {
    val p1 = Seq(Evt(0, false, 1, 1, "1", p1Row(1)))
    val p2 = Seq(
      Evt(0, false, 1, 1, "7", p2Row(7)),
      Evt(3, false, -1, 1, "7", p2Row(7)))
    val cs = (0 until 4).map(i => Evt(1, false, 1, 1, "1", childRow2(1, 7, i, 12)))
    val leaf = runTreeLocal(p1, p2, cs)
    // all four joined rows appear and are then fully retracted
    assert(leaf.count(_._1 == 1) == 4 && leaf.count(_._1 == -1) == 4)
    assert(leaf.map { case (t, m, _) => t * m }.sum == 0)
  }

  test("runTree: Spark branching tree equals the five-way survivor join") {
    val s = SparkTestSession.spark
    val d = SparkTestSession.sfTiny
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("incremental_part_revenue")(s, d)
      .orderBy("n_name", "p_brand").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = Tables.nation(s, d)
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d).filter(
        col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-04-01" &&
          col("o_orderkey") % 50 =!= 0), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d).filter(
        col("l_returnflag") === "R" && col("l_linenumber") =!= 3),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, d).filter(col("p_size") <= 25 && col("p_partkey") % 10 =!= 0),
        col("l_partkey") === col("p_partkey"))
      .groupBy("n_name", "p_brand")
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000, 0)
        .cast("long")).as("revenue_e4"), count(lit(1)).as("n_rows"))
      .orderBy("n_name", "p_brand").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("salted stage: hot-key fan-out equals unsalted run (mergeable liveness)") {
    import graft.streaming.DeltaEngine
    val s = SparkTestSession.spark
    import s.implicits._
    // the AJU hot spot: ONE key buffers 5000 children, then its parent
    // dies — unsalted, that whole replay happens inside a single task
    val pEvts =
      Seq(Evt(0, false, 1, 1, "hot", Map("pk" -> "hot", "pname" -> "P")),
          Evt(2, false, -1, 1, "hot", Map("pk" -> "hot", "pname" -> "P"))) ++
        (0 until 10).map(i =>
          Evt(0, false, 1, 1, s"cold$i", Map("pk" -> s"cold$i", "pname" -> s"C$i")))
    val cEvts = (0 until 5000).map(i =>
        Evt(1, false, 1, 1, "hot", Map("fk" -> "hot", "cid" -> i.toString, "v" -> "12"))) ++
      (0 until 10).map(i =>
        Evt(1, false, 1, 1, s"cold$i", Map("fk" -> s"cold$i", "cid" -> s"c$i", "v" -> "12")))
    val logs = Map("P" -> s.createDataset(pEvts), "C" -> s.createDataset(cEvts))
    def stages(salts: Int) = Seq(
      Stage("P", NodeSpec("P", "pk", "pk", isRoot = true, setSemantics = true)),
      Stage("C", NodeSpec("C", "fk", "fk"), parentStage = Some("P"), salts = salts))
    def fold(evts: Seq[Evt]): Map[String, Int] = netRows(evts)
    val statsBuf = scala.collection.mutable.Buffer.empty[DeltaEngine.NodeStats]
    val salted = DeltaEngine.runTree(stages(8), logs, stats = Some(statsBuf)).collect().toSeq
    val unsalted = DeltaEngine.runTree(stages(1), logs).collect().toSeq
    // the union of the 8 buckets' emissions equals the unsalted run
    assert(fold(salted) == fold(unsalted))
    assert(fold(salted).values.sum == 10) // hot branch nets to zero
    // the documented cost is visible in the stats: every parent delta
    // (12 alive/dead emissions) replicated to all 8 buckets
    val cStats = statsBuf.find(_.relation == "C").get
    assert(cStats.events.value == 5010 + 12 * 8, cStats.events.value.toString)
  }

  test("salted stage: keys containing '#' never alias across sub-key buckets") {
    import graft.streaming.DeltaEngine
    val s = SparkTestSession.spark
    import s.implicits._
    // adversarial key family for the sub-key encoding: "x", "x#1",
    // "x#10", "x#1#0" are all DISTINCT join keys. The bucket suffix is
    // fixed-width, appended last, so no (key, bucket) pair can alias
    // another — a variable-width "key#bucket" scheme must also prove
    // the bucket token can't absorb part of a neighboring key. Kill
    // only "x"'s parent: with aliasing, its death delta would leak
    // into (or miss) another key's fold and the net counts would skew.
    val keys = Seq("x", "x#1", "x#10", "x#1#0", "x#0", "x#00001")
    val pEvts = keys.flatMap(k =>
      Seq(Evt(0, false, 1, 1, k, Map("pk" -> k, "pname" -> s"P$k"))) ++
        (if (k == "x") Seq(Evt(2, false, -1, 1, k, Map("pk" -> k, "pname" -> s"P$k"))) else Nil))
    val cEvts = keys.zipWithIndex.flatMap { case (k, i) =>
      (0 until 20).map(j =>
        Evt(1, false, 1, 1, k, Map("fk" -> k, "cid" -> s"$i-$j", "v" -> "7")))
    }
    val logs = Map("P" -> s.createDataset(pEvts), "C" -> s.createDataset(cEvts))
    def stages(salts: Int) = Seq(
      Stage("P", NodeSpec("P", "pk", "pk", isRoot = true, setSemantics = true)),
      Stage("C", NodeSpec("C", "fk", "fk"), parentStage = Some("P"), salts = salts))
    def fold(evts: Seq[Evt]): Map[String, Int] = netRows(evts)
    val salted = DeltaEngine.runTree(stages(11), logs).collect().toSeq
    val unsalted = DeltaEngine.runTree(stages(1), logs).collect().toSeq
    assert(fold(salted) == fold(unsalted))
    // "x"'s 20 children netted away; the 5 surviving '#' keys kept theirs
    assert(fold(salted).values.sum == 100)
  }

  test("pair stage: shared-dimension product equals the survivors cross join") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // shared dim P referenced by A and B; deletes hit all three
    // relations, including killing dim key 1 entirely
    val pEvts = (0 until 4).map(k =>
      Evt(0, false, 1, 1, k.toString, Map("pk" -> k.toString, "pname" -> s"p$k"))) :+
      Evt(5, false, -1, 1, "1", Map("pk" -> "1", "pname" -> "p1"))
    val aEvts = (0 until 12).map(i =>
      Evt(1, false, 1, 1, (i % 4).toString,
        Map("a_fk" -> (i % 4).toString, "aid" -> i.toString))) ++
      Seq(3, 7).map(i => Evt(4, false, -1, 1, (i % 4).toString,
        Map("a_fk" -> (i % 4).toString, "aid" -> i.toString)))
    val bEvts = (0 until 9).map(i =>
      Evt(2, false, 1, 1, (i % 3).toString,
        Map("b_fk" -> (i % 3).toString, "bid" -> i.toString))) :+
      Evt(6, false, -1, 1, "0", Map("b_fk" -> "0", "bid" -> "6"))
    val edges = Seq(
      TreeCompiler.FkEdge("A", "a_fk", "P", "pk"),
      TreeCompiler.FkEdge("B", "b_fk", "P", "pk"))
    val stages = TreeCompiler.stagesFor(edges, Seq("P", "A", "B"))
    // plan shape: trunk P→A (liveness); P is a ROOT dimension, so the
    // default (Auto) glue is TRUNK-BUCKETED — B passes through as the
    // replicated side and the trunk's deltas are the salted own side.
    // The routing key space is (trunk key × salt bucket), NOT the bare
    // dimension key: parallelism is not capped at |P| tasks.
    assert(stages.map(_.name) == Seq("P", "A", "B__pair_P__pass", "B__pair_P"))
    assert(stages.last.ownStage == Some("A"), "trunk must be the bucketed own side")
    assert(stages.last.pairStage == Some("B__pair_P__pass"))
    assert(stages.last.salts == TreeCompiler.DefaultPairSalts)
    // the explicit opt-out keeps the zero-extra-shuffle dimension glue
    val dimKeyed = TreeCompiler.stagesFor(edges, Seq("P", "A", "B"),
      orientation = TreeCompiler.PairOrientation.DimensionKeyed)
    assert(dimKeyed.map(_.name) == Seq("P", "A", "B__pair_P"))
    assert(dimKeyed.last.pairStage == Some("A") && dimKeyed.last.salts == 1)
    val logs = Map(
      "P" -> s.createDataset(pEvts), "A" -> s.createDataset(aEvts),
      "B" -> s.createDataset(bEvts))
    val got = netRows(DeltaEngine.runTree(stages, logs).collect().toSeq)
    // oracle: survivors cross join per dim key, in canonical-row space
    val pAlive = Set(0, 2, 3)
    val aAlive = (0 until 12).filterNot(Set(3, 7)).map(i => (i % 4, i))
    val bAlive = (0 until 9).filterNot(_ == 6).map(i => (i % 3, i))
    val want = (for {
      k <- pAlive.toSeq
      (ak, aid) <- aAlive if ak == k
      (bk, bid) <- bAlive if bk == k
    } yield mergeCanon(
      mergeCanon(canon(Map("a_fk" -> k.toString, "aid" -> aid.toString)),
        canon(Map("pk" -> k.toString, "pname" -> s"p$k"))),
      canon(Map("b_fk" -> k.toString, "bid" -> bid.toString))))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want)
    assert(got.nonEmpty)
    // both orientations emit the identical product
    val gotDimKeyed = netRows(DeltaEngine.runTree(dimKeyed, logs).collect().toSeq)
    assert(gotDimKeyed == want)
  }

  test("NESTED shared dimensions compose: two pair glues, one inside the other") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // P shared by A and B; A itself shared by F1 and F2:
    //   F1 → A ← F2,  A → P ← B
    // full join = P ⋈ A ⋈ F1 ⋈ F2 ⋈ B (F1/F2 on A's pk, A/B on P's pk)
    val edges = Seq(
      TreeCompiler.FkEdge("A", "a_fk", "P", "ppk"),
      TreeCompiler.FkEdge("B", "b_fk", "P", "ppk"),
      TreeCompiler.FkEdge("F1", "f1_fk", "A", "apk"),
      TreeCompiler.FkEdge("F2", "f2_fk", "A", "apk"))
    val stages = TreeCompiler.stagesFor(edges, Seq("P", "A", "F1", "F2", "B"))
    assert(stages.count(_.pairStage.isDefined) == 2, stages.map(_.name))
    // fixture: 2 P keys (one dies), A rows per P, F1/F2 rows per A
    // (with deletes), B rows per P (with a delete)
    val pE = Seq(
      Evt(0, false, 1, 1, "p0", Map("ppk" -> "p0", "pn" -> "x")),
      Evt(0, false, 1, 1, "p1", Map("ppk" -> "p1", "pn" -> "y")),
      Evt(9, false, -1, 1, "p1", Map("ppk" -> "p1", "pn" -> "y")))
    val aE = (0 until 4).map(i => Evt(1, false, 1, 1, s"p${i % 2}",
      Map("a_fk" -> s"p${i % 2}", "apk" -> s"a$i")))
    val f1E = (0 until 8).map(i => Evt(2, false, 1, 1, s"a${i % 4}",
      Map("f1_fk" -> s"a${i % 4}", "f1id" -> i.toString))) :+
      Evt(8, false, -1, 1, "a0", Map("f1_fk" -> "a0", "f1id" -> "4"))
    val f2E = (0 until 6).map(i => Evt(3, false, 1, 1, s"a${i % 4}",
      Map("f2_fk" -> s"a${i % 4}", "f2id" -> i.toString)))
    val bE = (0 until 5).map(i => Evt(4, false, 1, 1, s"p${i % 2}",
      Map("b_fk" -> s"p${i % 2}", "bid" -> i.toString))) :+
      Evt(7, false, -1, 1, "p0", Map("b_fk" -> "p0", "bid" -> "2"))
    val logs = Map("P" -> s.createDataset(pE), "A" -> s.createDataset(aE),
      "F1" -> s.createDataset(f1E), "F2" -> s.createDataset(f2E),
      "B" -> s.createDataset(bE))
    val got = netRows(DeltaEngine.runTree(stages, logs).collect().toSeq)
    // oracle: nested survivors product in plain Scala
    val pAlive = Map("p0" -> Map("ppk" -> "p0", "pn" -> "x"))
    val aRows = (0 until 4).map(i => (s"p${i % 2}", s"a$i"))
    val f1Rows = (0 until 8).filterNot(_ == 4).map(i => (s"a${i % 4}", i))
    val f2Rows = (0 until 6).map(i => (s"a${i % 4}", i))
    val bRows = (0 until 5).filterNot(_ == 2).map(i => (s"p${i % 2}", i))
    val want = (for {
      (pk, pRow) <- pAlive.toSeq
      (afk, apk) <- aRows if afk == pk
      (ffk, f1) <- f1Rows if ffk == apk
      (gfk, f2) <- f2Rows if gfk == apk
      (bfk, b) <- bRows if bfk == pk
    } yield canon(pRow ++ Map("a_fk" -> afk, "apk" -> apk,
      "f1_fk" -> apk, "f1id" -> f1.toString,
      "f2_fk" -> apk, "f2id" -> f2.toString,
      "b_fk" -> bfk, "bid" -> b.toString)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("a relation glued at TWO shared dimensions gets distinct pair-stage names") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // X references BOTH shared dims: X→P1←Y and X→P2←Z. X is glued
    // twice (once per dim, at different recursion levels) — bare
    // "<rel>__pair" naming collided here and a valid acyclic graph
    // failed checkStages with 'duplicate stage names'
    val edges = Seq(
      TreeCompiler.FkEdge("X", "x1_fk", "P1", "p1pk"),
      TreeCompiler.FkEdge("Y", "y_fk", "P1", "p1pk"),
      TreeCompiler.FkEdge("X", "x2_fk", "P2", "p2pk"),
      TreeCompiler.FkEdge("Z", "z_fk", "P2", "p2pk"))
    val stages = TreeCompiler.stagesFor(edges, Seq("P1", "Y", "P2", "Z", "X"))
    assert(stages.map(_.name).distinct.size == stages.size, stages.map(_.name))
    assert(stages.count(_.pairStage.isDefined) == 2)
    val p1E = Seq("q0", "q1").map(k =>
      Evt(0, false, 1, 1, k, Map("p1pk" -> k, "p1n" -> s"n$k")))
    val p2E = Seq("r0", "r1").map(k =>
      Evt(0, false, 1, 1, k, Map("p2pk" -> k, "p2n" -> s"m$k"))) :+
      Evt(9, false, -1, 1, "r1", Map("p2pk" -> "r1", "p2n" -> "mr1"))
    val yE = (0 until 4).map(i => Evt(1, false, 1, 1, s"q${i % 2}",
      Map("y_fk" -> s"q${i % 2}", "yid" -> i.toString))) :+
      Evt(8, false, -1, 1, "q0", Map("y_fk" -> "q0", "yid" -> "0"))
    val zE = (0 until 3).map(i => Evt(2, false, 1, 1, s"r${i % 2}",
      Map("z_fk" -> s"r${i % 2}", "zid" -> i.toString)))
    // X's changelog routes by its FIRST consuming stage's key — the
    // inner glue at P2 — so events carry x2_fk values as Evt.key
    // (exactly what SqlCompiler's Compiled.keyCol derives)
    val xE = (for {
      a <- 0 until 2; b <- 0 until 2
    } yield Evt(3, false, 1, 1, s"r$b",
      Map("x1_fk" -> s"q$a", "x2_fk" -> s"r$b", "xid" -> s"$a$b"))) :+
      Evt(7, false, -1, 1, "r0",
        Map("x1_fk" -> "q1", "x2_fk" -> "r0", "xid" -> "10"))
    val logs = Map("P1" -> s.createDataset(p1E), "P2" -> s.createDataset(p2E),
      "Y" -> s.createDataset(yE), "Z" -> s.createDataset(zE),
      "X" -> s.createDataset(xE))
    val got = netRows(DeltaEngine.runTree(stages, logs).collect().toSeq)
    // survivors product in plain Scala
    val p2Alive = Set("r0")
    val yAlive = Seq(("q0", 2), ("q1", 1), ("q1", 3))
    val zAlive = (0 until 3).map(i => (s"r${i % 2}", i)).filter(p => p2Alive(p._1))
    val xAlive = Seq(("q0", "r0", "00"), ("q0", "r1", "01"), ("q1", "r1", "11"))
      .filter(t => p2Alive(t._2))
    val want = (for {
      (yk, y) <- yAlive
      (x1, x2, xid) <- xAlive if x1 == yk
      (zk, z) <- zAlive if zk == x2
    } yield canon(Map(
      "p1pk" -> yk, "p1n" -> s"n$yk", "y_fk" -> yk, "yid" -> y.toString,
      "x1_fk" -> x1, "x2_fk" -> x2, "xid" -> xid,
      "p2pk" -> x2, "p2n" -> s"m$x2", "z_fk" -> x2, "zid" -> z.toString)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("salted pair stage: bucketed product equals unsalted (hot dimension key)") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // ONE hot dim key with a large left side — the shape where the
    // shared-dim key's tiny cardinality caps parallelism and salting
    // must partition the product without changing it
    val pEvts = Seq(
      Evt(0, false, 1, 1, "hot", Map("pk" -> "hot", "pname" -> "P")),
      Evt(0, false, 1, 1, "cold", Map("pk" -> "cold", "pname" -> "Q")))
    val aEvts = (0 until 500).map(i =>
      Evt(1, false, 1, 1, "hot", Map("a_fk" -> "hot", "aid" -> i.toString))) ++
      Seq(Evt(1, false, 1, 1, "cold", Map("a_fk" -> "cold", "aid" -> "c0"))) ++
      (0 until 50).map(i => Evt(4, false, -1, 1, "hot",
        Map("a_fk" -> "hot", "aid" -> i.toString)))
    val bEvts = (0 until 6).map(i =>
      Evt(2, false, 1, 1, "hot", Map("b_fk" -> "hot", "bid" -> i.toString))) ++
      Seq(Evt(2, false, 1, 1, "cold", Map("b_fk" -> "cold", "bid" -> "c1")),
        Evt(5, false, -1, 1, "hot", Map("b_fk" -> "hot", "bid" -> "3")))
    val edges = Seq(
      TreeCompiler.FkEdge("A", "a_fk", "P", "pk"),
      TreeCompiler.FkEdge("B", "b_fk", "P", "pk"))
    // dimension-keyed base (explicit opt-out): salting ITS glue is the
    // orthogonal de-skew knob this test pins down; the trunk-bucketed
    // default is exercised by the auto-orientation tests above
    val base = TreeCompiler.stagesFor(edges, Seq("P", "A", "B"),
      orientation = TreeCompiler.PairOrientation.DimensionKeyed)
    def stages(salts: Int) = base match {
      case init :+ last => init :+ last.copy(salts = salts)
    }
    val logs = Map("P" -> s.createDataset(pEvts), "A" -> s.createDataset(aEvts),
      "B" -> s.createDataset(bEvts))
    def fold(evts: Seq[Evt]): Map[String, Int] = netRows(evts)
    val salted = fold(DeltaEngine.runTree(stages(8), logs).collect().toSeq)
    val unsalted = fold(DeltaEngine.runTree(stages(1), logs).collect().toSeq)
    assert(salted == unsalted)
    // hot: 450 alive A × 5 alive B; cold: 1 × 1
    assert(salted.values.sum == 450 * 5 + 1)
    // the DEFAULT (trunk-bucketed) plan partitions the same product
    val auto = fold(DeltaEngine.runTree(
      TreeCompiler.stagesFor(edges, Seq("P", "A", "B")), logs).collect().toSeq)
    assert(auto == unsalted)
  }

  test("SELF-JOIN recipe: one relation as two aliased changelogs (hierarchy)") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // SqlCompiler rejects self-joins (canonical rows key columns by
    // NAME, so one relation joined to itself would collide) — but the
    // ENGINE is alias-agnostic: register the same logical relation
    // twice under different names with per-alias column prefixes, and
    // an employee→manager hierarchy is just another FK tree. This is
    // the documented recipe, not a compiler feature.
    val people = Seq(
      // (id, mgr, name) — mgr 0 = the root, which we model as dangling
      (1L, 0L, "ceo"), (2L, 1L, "vp_a"), (3L, 1L, "vp_b"),
      (4L, 2L, "eng1"), (5L, 2L, "eng2"), (6L, 3L, "ops1"))
    val mgrEvts = people.map { case (id, _, nm) =>
      Evt(0, false, 1, 1, id.toString,
        Map("m_id" -> id.toString, "m_name" -> nm))
    } :+ Evt(2, false, -1, 1, "2", Map("m_id" -> "2", "m_name" -> "vp_a"))
    val empEvts = people.map { case (id, mgr, nm) =>
      Evt(1, false, 1, 1, mgr.toString,
        Map("e_id" -> id.toString, "e_mgr" -> mgr.toString, "e_name" -> nm))
    }
    val edges = Seq(TreeCompiler.FkEdge("emp", "e_mgr", "mgr", "m_id"))
    val stages = TreeCompiler.stagesFor(edges, Seq("mgr", "emp"))
    val logs = Map("mgr" -> s.createDataset(mgrEvts), "emp" -> s.createDataset(empEvts))
    val got = netRows(DeltaEngine.runTree(stages, logs).collect().toSeq)
    // survivors: manager 2 deleted → its reports (4, 5) drop out; the
    // CEO's dangling mgr 0 buffers unmatched (correct inner-join
    // semantics for a root with no manager row)
    val want = Seq((2L, 1L, "vp_a", "ceo"), (3L, 1L, "vp_b", "ceo"),
        (6L, 3L, "ops1", "vp_b"))
      .map { case (id, mgr, nm, mnm) =>
        canon(Map("e_id" -> id.toString, "e_mgr" -> mgr.toString,
          "e_name" -> nm, "m_id" -> mgr.toString, "m_name" -> mnm)) -> 1
      }.toMap
    assert(got == want)
  }

  test("PROPERTY: random acyclic FK graphs — any tree shape, any edge orientation") {
    import graft.streaming.{DeltaEngine, TreeCompiler}
    val s = SparkTestSession.spark
    import s.implicits._
    // The planner claims EVERY connected acyclic FK graph compiles:
    // random trees with random edge ORIENTATIONS probe arbitrary
    // mixes of chains, multi-parent facts, and (nested) shared
    // dimensions. Oracle: survivors joined in plain Scala. Rows are
    // unique per relation (set/bag semantics coincide at roots) and
    // pk values are unique per relation (the FK model's assumption);
    // dangling FKs and deletes on every relation are exercised.
    val rnd = new scala.util.Random(2026)
    (0 until 12).foreach { trial =>
      val k = 3 + rnd.nextInt(4) // relations
      val names = (0 until k).map(i => s"R$i")
      // random tree: node i>0 attaches to a random earlier node;
      // random orientation: child references parent OR vice versa
      val edges = (1 until k).map { i =>
        val other = rnd.nextInt(i)
        if (rnd.nextBoolean())
          TreeCompiler.FkEdge(s"R$i", s"r${i}fk$other", s"R$other", s"r${other}pk")
        else
          TreeCompiler.FkEdge(s"R$other", s"r${other}fk$i", s"R$i", s"r${i}pk")
      }
      // ~half the relations carry a random LOCAL PREDICATE (drops the
      // rows whose payload index is ≡ m mod 3), applied where the
      // engine expects it: at each relation's changelog source, to
      // inserts and deletes alike
      val predMod: Map[String, Int] = names.flatMap { rel =>
        if (rnd.nextBoolean()) Some(rel -> rnd.nextInt(3)) else None
      }.toMap
      def keep(rel: String, row: Map[String, String]): Boolean =
        predMod.get(rel) match {
          case Some(m) =>
            val i = rel.drop(1).toInt
            row(s"r${i}v").split("-").last.toInt % 3 != m
          case None => true
        }
      // a random NON-ROOT stage gets a random salt factor — bucketed
      // sub-keys must be answer-invariant on every graph shape
      // (root stages take no parent/pair input, so salting them would
      // only fragment their own fold)
      val stages0 = TreeCompiler.stagesFor(edges, names)
      val saltable = stages0.zipWithIndex.collect {
        case (st, i) if st.parentStage.isDefined || st.pairStage.isDefined => i
      }
      val stages =
        if (saltable.isEmpty || rnd.nextBoolean()) stages0
        else {
          val i = saltable(rnd.nextInt(saltable.size))
          stages0.updated(i, stages0(i).copy(salts = 2 + rnd.nextInt(3)))
        }
      // rows: unique pk per relation; fks drawn from a small pool
      // (some dangle); ~30% of rows deleted at seq 1
      val pool = (0 until 4).map(j => s"v$j")
      val rows: Map[String, Seq[Map[String, String]]] = names.map { rel =>
        val i = rel.drop(1).toInt
        val fkCols = edges.filter(_.child == rel).map(_.fkCol)
        rel -> (0 until (2 + rnd.nextInt(4))).map { r =>
          Map(s"r${i}pk" -> s"p$r", s"r${i}v" -> s"$trial-$r") ++
            fkCols.map(f => f -> pool(rnd.nextInt(pool.size))).toMap
        }
      }.toMap
      // pk values are p0..p3 but fks draw v0..v3 — remap so SOME match:
      // half the fk draws map onto pk space
      val fixed = rows.map { case (rel, rs) =>
        rel -> rs.map(_.map { case (c, v) =>
          c -> (if (v.startsWith("v") && rnd.nextBoolean()) "p" + v.drop(1) else v)
        })
      }
      val deleted: Map[String, Set[Map[String, String]]] = fixed.map { case (rel, rs) =>
        rel -> rs.filter(_ => rnd.nextInt(10) < 3).toSet
      }
      val keyColOf: Map[String, String] = names.map { rel =>
        rel -> stages.find(st => st.spec.relation == rel && st.ownStage.isEmpty)
          .get.spec.childKeyCol
      }.toMap
      val logs = fixed.map { case (rel, rs) =>
        val kc = keyColOf(rel)
        rel -> s.createDataset(
          rs.filter(keep(rel, _)).map(r => Evt(0, false, 1, 1, r(kc), r)) ++
            deleted(rel).toSeq.filter(keep(rel, _)).map(r => Evt(1, false, -1, 1, r(kc), r)))
      }
      val got = netRows(DeltaEngine.runTree(stages, logs).collect().toSeq)
      // oracle: survivors (deletes AND local predicates), then
      // iterative tree join
      val surv = fixed.map { case (rel, rs) =>
        rel -> rs.filterNot(deleted(rel)).filter(r => keep(rel, r))
      }
      var joinedRels = Set(names.head)
      var tuples: Seq[Map[String, String]] = surv(names.head)
      var remaining = edges
      while (remaining.nonEmpty) {
        val e = remaining.find(e => joinedRels(e.child) ^ joinedRels(e.parent)).get
        val (newRel, leftCol, rightCol) =
          if (joinedRels(e.child)) (e.parent, e.fkCol, e.parentCol)
          else (e.child, e.parentCol, e.fkCol)
        tuples = for {
          t <- tuples; r <- surv(newRel) if t(leftCol) == r(rightCol)
        } yield t ++ r
        joinedRels += newRel
        remaining = remaining.filterNot(_ == e)
      }
      val want = tuples.map(t => canon(t)).groupBy(identity)
        .view.mapValues(_.size).toMap
      assert(got == want, s"trial $trial: k=$k edges=$edges")
    }
  }

  test("pair fold: net is order-independent under shuffled interleavings") {
    import graft.streaming.DeltaEngine
    // one key's event stream for a pair stage: left rows (fromParent
    // false) and right rows (fromParent true) with inserts, deletes,
    // and a ghost delete; any processing order must net identically
    val spec = NodeSpec("L", "k", "k")
    val base = Seq(
      Evt(0, false, 1, 1, "k", Map("k" -> "1", "l" -> "x")),
      Evt(0, true, 1, 1, "k", Map("k" -> "1", "r" -> "u")),
      Evt(1, false, 1, 2, "k", Map("k" -> "1", "l" -> "y")),
      Evt(1, true, 1, 1, "k", Map("k" -> "1", "r" -> "v")),
      Evt(2, false, -1, 1, "k", Map("k" -> "1", "l" -> "x")),
      Evt(3, true, -1, 1, "k", Map("k" -> "1", "r" -> "u")),
      Evt(4, true, -1, 1, "k", Map("k" -> "1", "r" -> "ghost")))
    def net(evts: Seq[Evt]): Map[String, Int] =
      netRows(DeltaEngine.processPairKeyBatch(spec)("k", evts.iterator).toSeq)
    val expected = net(base)
    // survivors: left {y:2}, right {v:1, ghost:-1} → y×v:2, y×ghost:-2
    assert(expected.values.toSeq.sorted == Seq(-2, 2))
    val rnd = new scala.util.Random(7)
    (0 until 30).foreach { _ =>
      // shuffle seq stamps too: re-stamp events with a random order
      val shuffled = rnd.shuffle(base).zipWithIndex.map { case (e, i) =>
        e.copy(seq = i.toLong)
      }
      assert(net(shuffled) == expected)
    }
  }

  test("stage validation fails loudly on mis-keyed or out-of-order graphs") {
    import graft.streaming.DeltaEngine
    val s = SparkTestSession.spark
    val (partRevenueStages, logs) = SparkTestSession.compiledTree(s, SparkTestSession.sfTiny,
      IncrementalQueries.partRevenueSql, IncrementalQueries.partRevenueDeletes)
    // ownStage whose nextKeyCol doesn't match the consumer's childKeyCol
    val misKeyed = partRevenueStages.map {
      case st if st.name == "lineitem" =>
        st.copy(spec = st.spec.copy(nextKeyCol = "l_orderkey"))
      case st => st
    }
    val e1 = intercept[IllegalArgumentException] {
      DeltaEngine.runTree(misKeyed, logs)
    }
    assert(e1.getMessage.contains("mis-keyed"))
    // a stage referencing one that comes after it
    val reordered = partRevenueStages.sortBy(_.name)
    intercept[IllegalArgumentException] {
      DeltaEngine.runTree(reordered, logs)
    }
    // a salting factor outside [1, 1e6) names the stage, before any plan
    for (salts <- Seq(0, 1000000)) {
      val badSalts = partRevenueStages.map {
        case st if st.name == "orders" => st.copy(salts = salts)
        case st => st
      }
      val e = intercept[IllegalArgumentException] {
        DeltaEngine.runTree(badSalts, logs)
      }
      assert(e.getMessage.contains("stage 'orders'") && e.getMessage.contains("salts"),
        e.getMessage)
    }
  }

  // ---- TreeCompiler: FK-metadata-derived chains ----------------------

  import graft.streaming.TreeCompiler

  test("TreeCompiler derives the hand-built q10 and supplier trees from schemas") {
    val rels = TreeCompiler.fromParquet(SparkTestSession.spark, SparkTestSession.sfTiny,
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "part"))
    val q10 = TreeCompiler.compile(rels, Seq("nation", "customer", "orders", "lineitem"))
    assert(q10 == Seq(
      NodeSpec("nation", "n_nationkey", "n_nationkey", isRoot = true, setSemantics = true),
      NodeSpec("customer", "c_nationkey", "c_custkey"),
      NodeSpec("orders", "o_custkey", "o_orderkey"),
      NodeSpec("lineitem", "l_orderkey", "l_orderkey")))
    val sup = TreeCompiler.compile(rels, Seq("region", "nation", "supplier", "lineitem"))
    assert(sup == Seq(
      NodeSpec("region", "r_regionkey", "r_regionkey", isRoot = true, setSemantics = true),
      NodeSpec("nation", "n_regionkey", "n_nationkey"),
      NodeSpec("supplier", "s_nationkey", "s_suppkey"),
      NodeSpec("lineitem", "l_suppkey", "l_suppkey")))
  }

  test("TreeCompiler finds unique paths and refuses ambiguous ones loudly") {
    val rels = TreeCompiler.fromParquet(SparkTestSession.spark, SparkTestSession.sfTiny,
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "part"))
    // region → orders is unique: region→nation→customer→orders
    val t = TreeCompiler.compileUnique(rels, "region", "orders")
    assert(t.map(_.relation) == Seq("region", "nation", "customer", "orders"))
    // nation → lineitem has two FK paths (via customer∘orders, via supplier)
    val ex = intercept[IllegalArgumentException] {
      TreeCompiler.compileUnique(rels, "nation", "lineitem")
    }
    assert(ex.getMessage.contains("ambiguous"))
    // no path at all
    intercept[IllegalArgumentException] {
      TreeCompiler.compileUnique(rels, "part", "region")
    }
  }

  test("explicit FK metadata compiles trees over non-TPC-H-named relations") {
    val s = SparkTestSession.spark
    import s.implicits._
    import graft.streaming.SqlCompiler
    val dir = java.nio.file.Files.createTempDirectory("graft_cat").toString
    // schemas the naming convention cannot describe
    Seq((1L, "alpha"), (2L, "beta")).toDF("squad_id", "squad_name")
      .write.mode("overwrite").parquet(s"$dir/squad.parquet")
    Seq((10L, 1L, 7.5), (11L, 1L, 2.0), (12L, 2L, 9.0), (13L, 2L, 1.0))
      .toDF("member_id", "squad_ref", "score")
      .write.mode("overwrite").parquet(s"$dir/member.parquet")
    val rels = TreeCompiler.fromParquet(s, dir, Seq("squad", "member"))
    // the convention derives NO edges here — the explicit catalog is
    // the only way in
    assert(TreeCompiler.fkEdges(rels).isEmpty)
    val edges = Seq(TreeCompiler.FkEdge("member", "squad_ref", "squad", "squad_id"))
    val tree = TreeCompiler.compile(rels, Seq("squad", "member"),
      explicitEdges = Some(edges))
    assert(tree == Seq(
      NodeSpec("squad", "squad_id", "squad_id", isRoot = true, setSemantics = true),
      NodeSpec("member", "squad_ref", "squad_ref")))
    // SqlCompiler takes the same catalog and compiles the text unchanged
    val sqlText =
      """SELECT squad_name, COUNT(*) AS n,
        | SUM(CAST(round(score * 10, 0) AS BIGINT)) AS score_e1
        |FROM squad, member WHERE squad_ref = squad_id AND score >= 2.0
        |GROUP BY squad_name""".stripMargin
    val got = SqlCompiler.run(s, dir, sqlText, explicitFk = Some(edges))
      .orderBy("squad_name").collect().toSeq
    Seq("squad", "member").foreach(t =>
      Tables.load(s, dir, t).createOrReplaceTempView(t))
    val want = s.sql(sqlText).orderBy("squad_name").collect().toSeq
    assert(got == want && got.nonEmpty)
    // a catalog typo fails loudly at compile time, not as an empty join
    val ex = intercept[IllegalArgumentException] {
      TreeCompiler.compile(rels, Seq("squad", "member"), explicitEdges =
        Some(Seq(TreeCompiler.FkEdge("member", "squad_key", "squad", "squad_id"))))
    }
    assert(ex.getMessage.contains("no column 'squad_key'"))
  }

  test("compiled third tree: engine result equals batch join over survivors") {
    val s = SparkTestSession.spark
    val d = SparkTestSession.sfTiny
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("incremental_order_revenue")(s, d)
      .orderBy("n_name").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = Tables.region(s, d).filter(col("r_name") =!= "AFRICA")
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d).filter(col("c_custkey") % 11 =!= 0),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d).filter(col("o_orderkey") % 7 =!= 0 &&
        col("o_orderstatus") === "F"), col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("totalprice_e2"),
        count(lit(1)).as("n_rows"))
      .orderBy("n_name").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
  }

  test("histogram sketch over the maintained Q10 view brackets the discrete median") {
    val s = SparkTestSession.spark
    val d = SparkTestSession.sfTiny
    val est = SparkEntry.queries("incremental_q10_rev_quantile")(s, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val view = SparkEntry.queries("incremental_q10")(s, d).collect()
      .map(r => (r.getAs[String]("n_name"), r.getAs[Long]("revenue_e4")))
    val byNation = view.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(est.keySet == byNation.keySet && est.nonEmpty)
    est.foreach { case (nation, (p50, nCust)) =>
      val revs = byNation(nation)
      assert(nCust == revs.length, s"$nation count")
      val median = revs((revs.length - 1) / 2) // lower discrete median (cum*2 >= total)
      assert(math.abs(p50 - median) <= 100000000.0, // W/2 in e-4 units
        s"$nation: est $p50 vs discrete median $median")
    }
  }

  test("bloom prefilter reduces the probe changelog and leaves the result untouched") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{IncrementalQueries, SqlCompiler}
    val s = SparkTestSession.spark
    val d = SparkTestSession.sfTiny

    // identical rows to the unreduced engine run
    val plain = SparkEntry.queries("incremental_q10")(s, d)
      .orderBy("c_custkey").collect().toSeq
    val bloomed = SparkEntry.queries("incremental_q10_bloom")(s, d)
      .orderBy("c_custkey").collect().toSeq
    assert(bloomed == plain && plain.nonEmpty)

    // the reduction really drops probe events (R-lineitems outside the
    // order date window vastly outnumber survivors)…
    val c = SqlCompiler.compile(s, d, IncrementalQueries.q10Sql)
    val logs = c.sourceChangelogs(s, d, IncrementalQueries.q10Deletes)
    val reduced = c.bloomReduced(logs)
    val before = logs("lineitem").count()
    val after = reduced("lineitem").count()
    assert(after < before / 2, s"bloom kept $after of $before probe events")
    // …and never drops one that joins: every surviving order key's
    // lineitem events are still present
    val keptKeys = reduced("lineitem").select("key").distinct()
    val orderKeys = logs("orders").toDF().select(
      str_to_map(col("row"), lit(FS.toString), lit(KV.toString))
        .getItem("o_orderkey").as("key")).distinct()
    assert(orderKeys.join(logs("lineitem").select("key").distinct(), "key")
      .exceptAll(orderKeys.join(keptKeys, "key")).count() == 0)
  }

  test("stateMetrics reports exact keys/rows and a canon-derived byte footprint") {
    val s = SparkTestSession.spark
    import s.implicits._
    // P: keys 1 and 2 alive; C: two rows under key 1, none under key 2
    val pRows = Seq(parentRow(1), parentRow(2))
    val cRows = Seq(childRow(1, 7, 12), childRow(1, 8, 15))
    val pEvts = pRows.map(r => Evt(0, false, 1, 1, r("pk"), r))
    val cEvts = cRows.map(r => Evt(1, false, 1, 1, r("fk"), r))
    val logs = Map("P" -> s.createDataset(pEvts), "C" -> s.createDataset(cEvts))
    val stages = Seq(
      Stage("P", parentSpec),
      Stage("C", childSpec, parentStage = Some("P")))
    val got = stateMetrics(stages, logs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def u8(m: Map[String, String]): Long =
      canon(m).getBytes("UTF-8").length.toLong
    // P: one buffered row per key + the (empty) parentCanon slot
    assert(got("P")._1 == 2 && got("P")._2 == 2, got("P"))
    assert(got("P")._3 == pRows.map(u8(_) + 4L).sum + 2 * 4L, got("P"))
    // C: key 1 buffers both child rows and P1's merged emission as its
    // parentCanon; key 2 holds liveness-only state (parent delta
    // arrived, no children) — it COUNTS as a key and its bytes are
    // P2's canon. state_bytes answers "which node is growing" in
    // bytes, not only rows — the size axis the gated entry cannot
    // mirror portably.
    assert(got("C")._1 == 2 && got("C")._2 == 2, got("C"))
    assert(got("C")._3 ==
      cRows.map(u8(_) + 4L).sum + u8(parentRow(1)) + 4L + u8(parentRow(2)) + 4L,
      got("C"))
    // the growth signal points at the right node: C outweighs P
    assert(got("C")._3 > got("P")._3)
  }
}
