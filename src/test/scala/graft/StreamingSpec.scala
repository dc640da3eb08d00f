package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.DeltaEngine._

/** End-to-end Structured Streaming run of the AJU chain: two stateful
  * nodes chained as flatMapGroupsWithState stages, inserts in
  * micro-batch 1, deletes in micro-batch 2, state carried across
  * batches by the state store. Net leaf deltas must cancel to the
  * surviving view.
  */
class StreamingSpec extends AnyFunSuite with org.scalatest.ParallelTestExecution {
  import SparkTestSession.spark

  private val parentSpec = NodeSpec("P", "pk", "pk", isRoot = true, setSemantics = true)
  private val childSpec = NodeSpec("C", "fk", "fk")
  /** The child's local predicate `v >= 10`, applied to its stream
    * before the engine (which takes its changelogs as filtered). */
  private val childPasses: Evt => Boolean = _.cols("v").toInt >= 10

  test("chained flatMapGroupsWithState maintains the join across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val pStream = MemoryStream[Evt]
    val cStream = MemoryStream[Evt]
    val leaf = runStreamTree(chainStages(Seq(parentSpec, childSpec)),
      Map("P" -> pStream.toDS(), "C" -> cStream.toDS().filter(childPasses)))
    val query = leaf.writeStream
      .format("memory").queryName("aju_leaf").outputMode("append").start()
    try {
      // batch 1: parent 1 alive, three children (one failing the predicate)
      pStream.addData(Evt(0, false, 1, 1, "1", Map("pk" -> "1", "pname" -> "p1")))
      cStream.addData(
        Evt(1, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "a", "v" -> "12")),
        Evt(2, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "b", "v" -> "11")),
        Evt(3, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "c", "v" -> "5")))
      query.processAllAvailable()
      val afterInsert = spark.table("aju_leaf").collect()
      assert(afterInsert.length == 2, "two qualifying children joined")

      // batch 2: delete child b, then kill the parent → full retraction
      cStream.addData(Evt(4, false, -1, 1, "1", Map("fk" -> "1", "cid" -> "b", "v" -> "11")))
      pStream.addData(Evt(5, false, -1, 1, "1", Map("pk" -> "1", "pname" -> "p1")))
      query.processAllAvailable()
      val all = spark.table("aju_leaf").as[Evt].collect()
      val net = all.map(e => e.tag * e.mult).sum
      assert(net == 0, s"view empty after parent death, got net=$net")
      // per-tuple cancellation
      val byTuple = all.groupBy(_.cols("cid")).view.mapValues(_.map(e => e.tag * e.mult).sum)
      assert(byTuple.forall(_._2 == 0))
    } finally query.stop()
  }

  test("stream-stream range join equals the batch banded range join") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import java.sql.Timestamp
    // clicks → purchases within 6 h per user, on a fixture slice fed in
    // two micro-batches; the reference answer is the BATCH banded
    // formulation over the same frames
    val ev = Tables.events(spark, SparkTestSession.sfTiny)
      .filter(col("user_id") <= 40)
      .select("event_id", "user_id", "ts", "event_type")
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
    val want = graft.operators.RangeJoin
      .withinAfter(clicks, purchases, Seq("user_id"), "ts", 6 * 3600)
      .collect().map(_.toString).sorted.toSeq

    // in-order arrival is the test's precondition: sort by ts so the
    // second micro-batch is never older than batch 1's watermark (the
    // fixture happens to be ts-ordered today, but don't depend on it)
    val rows = ev.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .sortBy(_._3.getTime).toSeq
    val src = MemoryStream[(Long, Long, Timestamp, String)]
    val sdf = src.toDF().toDF("event_id", "user_id", "ts", "event_type")
    val joined = graft.streaming.StreamingAnalytics.streamRangeJoin(
      sdf.filter(col("event_type") === "click").drop("event_type"),
      sdf.filter(col("event_type") === "purchase").drop("event_type"),
      Seq("user_id"), "ts", 6 * 3600)
    val query = joined.writeStream
      .format("memory").queryName("range_join_stream").outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      src.addData(a); query.processAllAvailable()
      src.addData(b); query.processAllAvailable()
      val got = spark.table("range_join_stream").collect().map(_.toString).sorted.toSeq
      assert(got == want && got.nonEmpty,
        s"stream=${got.size} batch=${want.size}")
    } finally query.stop()
  }

  test("sliding windows overlap: a streamed event finalizes into BOTH its windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val src = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = src.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val agg = graft.streaming.StreamingAnalytics.slidingAgg(events, delay = "10 minutes")
    val query = agg.writeStream
      .format("memory").queryName("slide_windows").outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // an event at 10:40 belongs to the 1-hour windows starting 10:00
      // and 10:30 (slide 30 min)
      src.addData((1L, 1L, t("2026-01-01 10:40:00"), "click", 2.0))
      // advance event time far enough that both windows close
      src.addData((2L, 2L, t("2026-01-01 12:30:00"), "click", 5.0))
      query.processAllAvailable()
      src.addData((3L, 2L, t("2026-01-01 14:30:00"), "click", 7.0))
      query.processAllAvailable()
      val wins = spark.table("slide_windows").collect().toSeq
        .filter(r => r.getString(1) == "click" && r.getLong(2) > 0 &&
          (r.getTimestamp(0) == t("2026-01-01 10:00:00") ||
           r.getTimestamp(0) == t("2026-01-01 10:30:00")))
      assert(wins.length == 2, s"expected both overlapping windows closed: $wins")
      assert(wins.forall(r => r.getLong(2) == 1 && r.getDouble(3) == 2.0))
    } finally query.stop()
  }

  test("watermarked tumbling windows finalize in append mode and drop late data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val src = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = src.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val agg = graft.streaming.StreamingAnalytics.tumblingAgg(events, delay = "10 minutes")
    val query = agg.writeStream
      .format("memory").queryName("wm_windows").outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // window 10:00–11:00 gets two events
      src.addData((1L, 1L, t("2026-01-01 10:05:00"), "click", 1.0),
                  (2L, 1L, t("2026-01-01 10:20:00"), "click", 2.0))
      query.processAllAvailable()
      assert(spark.table("wm_windows").count() == 0, "window not finalized yet")

      // event time advances past 11:00 + 10min watermark → 10:00 window closes
      src.addData((3L, 2L, t("2026-01-01 11:30:00"), "click", 5.0))
      query.processAllAvailable()
      val closed = spark.table("wm_windows").collect()
      assert(closed.length == 1 && closed(0).getLong(2) == 2L &&
        closed(0).getDouble(3) == 3.0, s"10:00 window finalized: ${closed.toSeq}")

      // a LATE event for the already-closed 10:00 window must be dropped
      src.addData((4L, 3L, t("2026-01-01 10:40:00"), "click", 100.0))
      src.addData((5L, 2L, t("2026-01-01 12:30:00"), "click", 7.0))
      query.processAllAvailable()
      val rows = spark.table("wm_windows").collect().toSeq
      val win10 = rows.filter(_.getTimestamp(0) == t("2026-01-01 10:00:00"))
      assert(win10.length == 1 && win10.head.getDouble(3) == 3.0,
        s"late event did not reopen/alter the closed window: $rows")
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark removes duplicate keys across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    val src = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val events = src.toDF().toDF("event_id", "user_id", "ts", "event_type", "value")
    val dd = graft.streaming.StreamingAnalytics.dedupWithinWatermark(
      events, "30 minutes", Seq("event_id"))
    val query = dd.writeStream
      .format("memory").queryName("wm_dedup").outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      src.addData((1L, 1L, t("2026-01-01 10:00:00"), "click", 1.0),
                  (1L, 1L, t("2026-01-01 10:01:00"), "click", 1.0)) // same batch dup
      query.processAllAvailable()
      src.addData((1L, 1L, t("2026-01-01 10:02:00"), "click", 1.0)) // cross-batch dup
      src.addData((2L, 1L, t("2026-01-01 10:03:00"), "view", 2.0))
      query.processAllAvailable()
      val ids = spark.table("wm_dedup").collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L), s"exactly one row per event_id: $ids")
    } finally query.stop()
  }

  test("native session_window merges gap-bounded streaming sessions in append mode") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[(Long, Timestamp)]
    // 10-minute gap sessions: events within 10 min of each other merge,
    // a longer quiet period closes the session (the native streaming
    // form of the batch events_sessionize lag/sum window)
    val sessions = src.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val query = sessions.writeStream
      .format("memory").queryName("sess_win").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then a 30-min
      // silence, then one more (second session); split across batches
      src.addData((1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:05:00")))
      query.processAllAvailable()
      src.addData((1L, t("2026-01-01 10:35:00")))
      query.processAllAvailable()
      // watermark advance finalizes both sessions
      src.addData((9L, t("2026-01-01 12:00:00")))
      query.processAllAvailable()
      val got = spark.table("sess_win").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1), r.getLong(2))).toSet
      assert(got == Set((t("2026-01-01 10:00:00"), 2L), (t("2026-01-01 10:35:00"), 1L)),
        s"sessions: $got")
    } finally query.stop()
  }

  test("streaming as-of join: late rights match, lefts emit once, equals batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StreamingAnalytics.{streamAsOfJoin, AsOfIn}
    def t(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[AsOfIn]
    val out = streamAsOfJoin(src.toDS(), delay = "10 seconds")
    val query = out.writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      // batch 1: key 1 rights at :10; lefts at :05 (no match yet
      // possible) and :25 — both stay PENDING (watermark still behind)
      src.addData(
        AsOfIn(1L, t("2026-01-01 00:00:10"), isRight = true, id = 100),
        AsOfIn(1L, t("2026-01-01 00:00:05"), isRight = false, id = 1),
        AsOfIn(1L, t("2026-01-01 00:00:25"), isRight = false, id = 2))
      query.processAllAvailable()
      // batch 2: a LATE right at :22 (older than the already-seen left
      // at :25, inside the 10 s watermark delay) — an eager matcher
      // would have finalized left 2 against right 100; correct
      // buffering must yield right 200
      src.addData(AsOfIn(1L, t("2026-01-01 00:00:22"), isRight = true, id = 200))
      query.processAllAvailable()
      // batch 3: a far-future event on another key advances the
      // watermark past every key-1 left, flushing them
      src.addData(AsOfIn(9L, t("2026-01-01 01:00:00"), isRight = false, id = 999))
      query.processAllAvailable()
      val got = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      // left 1 (:05) precedes every right → None; left 2 (:25) takes
      // the LATE right 200, not the eagerly-available 100
      assert(got == Set((1L, 1L, None), (1L, 2L, Some(200L))), s"got $got")
      // equals the batch as-of on the same finalized data
      val batch = Seq((1L, t("2026-01-01 00:00:05"), 1L), (1L, t("2026-01-01 00:00:25"), 2L))
        .map { case (k, ts, id) =>
          val rights = Seq((t("2026-01-01 00:00:10"), 100L), (t("2026-01-01 00:00:22"), 200L))
          val m = rights.filter(!_._1.after(ts)).sortBy(r => (r._1.getTime, r._2)).lastOption
          (k, id, m.map(_._2))
        }.toSet
      assert(got == batch)
    } finally query.stop()
  }

  test("streaming as-of join: equal-ts right matches inclusively, larger id wins") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StreamingAnalytics.{streamAsOfJoin, AsOfIn}
    def t(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[AsOfIn]
    val out = streamAsOfJoin(src.toDS(), delay = "5 seconds")
    val query = out.writeStream
      .format("memory").queryName("asof_ties").outputMode("append").start()
    try {
      src.addData(
        AsOfIn(1L, t("2026-01-01 00:00:10"), isRight = true, id = 7),
        AsOfIn(1L, t("2026-01-01 00:00:10"), isRight = true, id = 9), // equal ts
        AsOfIn(1L, t("2026-01-01 00:00:10"), isRight = false, id = 1)) // left AT right ts
      query.processAllAvailable()
      src.addData(AsOfIn(9L, t("2026-01-01 01:00:00"), isRight = false, id = 999))
      query.processAllAvailable()
      val got = spark.table("asof_ties").collect()
        .map(r => (r.getLong(1), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(got == Set((1L, Some(9L))), s"inclusive tie, larger id: $got")
    } finally query.stop()
  }

  test("streaming curation: quality gate + fingerprint dedup over micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    // a document INGESTION stream: the curation front line (quality
    // filter, then exact dedup on the normalized fingerprint) runs as
    // a continuous pipeline with watermark-bounded dedup state
    val src = MemoryStream[(Long, Timestamp, String)]
    val docs = src.toDF().toDF("doc_id", "ts", "text")
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val gated = docs
      .filter(length(col("text")) >= 15 && size(toks) >= 3)
      .withColumn("fp", md5(to_binary(
        trim(regexp_replace(lower(col("text")), "\\s+", " ")), lit("utf-8"))))
    val dd = graft.streaming.StreamingAnalytics.dedupWithinWatermark(
      gated, "30 minutes", Seq("fp"))
    val query = dd.writeStream
      .format("memory").queryName("stream_curation").outputMode("append").start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      src.addData(
        (1L, t("2026-01-01 10:00:00"), "the quick brown fox jumps"),
        (2L, t("2026-01-01 10:00:30"), "short"),                       // fails quality
        (3L, t("2026-01-01 10:01:00"), "The  Quick Brown FOX jumps")) // near-dup of 1 (normalizes equal)
      query.processAllAvailable()
      src.addData(
        (4L, t("2026-01-01 10:02:00"), "the quick brown fox jumps"),  // cross-batch dup
        (5L, t("2026-01-01 10:03:00"), "a completely different document"))
      query.processAllAvailable()
      val kept = spark.table("stream_curation").collect().map(_.getLong(0)).toSeq.sorted
      // one representative per fingerprint, quality failures gone
      assert(kept.length == 2, s"kept $kept")
      assert(!kept.contains(2L))
      val fps = spark.table("stream_curation").collect().map(_.getAs[String]("fp"))
      assert(fps.distinct.length == fps.length)
    } finally query.stop()
  }

  test("state TTL evicts an idle key's join state (bounded-state mode)") {
    // deterministic TestGroupState harness (a wall-clock TTL inside a
    // live chained stream re-arms timeouts per batch — untestably racy)
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = Some(java.time.Duration.ofMinutes(10))
    val parentAlive = NState(Map.empty, 1, canon(Map("pk" -> "1", "pname" -> "p1")))

    // 1. a live key arms the timeout after processing
    val armed = TestGroupState.create[NState](
      org.apache.spark.api.java.Optional.of(parentAlive), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val ev = Evt(5, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "a", "v" -> "12"))
    val out1 = processKeyStream(childSpec, ttl)("1", Iterator(ev), armed).toSeq
    assert(out1.size == 1, "alive parent + passing child emits")
    assert(armed.getTimeoutTimestampMs.isPresent &&
      armed.getTimeoutTimestampMs.get == 1000L + ttl.get.toMillis)

    // 2. the timeout firing removes the key's state entirely
    val expired = TestGroupState.create[NState](
      org.apache.spark.api.java.Optional.of(parentAlive), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val out2 = processKeyStream(childSpec, ttl)("1", Iterator.empty, expired).toSeq
    assert(out2.isEmpty && expired.isRemoved, "eviction clears state, emits nothing")

    // 3. a later child for the evicted key sees empty state → no match
    val fresh = TestGroupState.create[NState](
      org.apache.spark.api.java.Optional.empty[NState](), GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 2000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out3 = processKeyStream(childSpec, ttl)("1",
      Iterator(Evt(6, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "b", "v" -> "12"))), fresh).toSeq
    assert(out3.isEmpty, "post-eviction child must not match the forgotten parent")
  }

  test("CDC text file source streams through parseRelation (reference ingest path)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.sources.CdcParser
    val dir = java.nio.file.Files.createTempDirectory("cdc_stream").toFile
    val li = Tables.lineitem(spark, SparkTestSession.sfTiny).limit(100)
    CdcParser.toCdcLines(li, add = true, "LINE", Seq("l_orderkey", "l_linenumber", "l_quantity"))
      .coalesce(1).write.mode("overwrite").text(dir.getAbsolutePath)
    val parsed = CdcParser.parseRelation(
      spark.readStream.text(dir.getAbsolutePath), "LINE", Seq(
        "l_orderkey" -> LongType, "l_linenumber" -> LongType, "l_quantity" -> DoubleType))
    val query = parsed.writeStream
      .format("memory").queryName("cdc_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.table("cdc_stream")
      assert(got.count() == 100)
      assert(got.filter(col("action") === "Insert").count() == 100)
      val sumQty = got.agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()(0).getDouble(0)
      val expect = li.agg(org.apache.spark.sql.functions.sum("l_quantity")).collect()(0).getDouble(0)
      assert(sumQty == expect, "typed cast round-trips through the text stream")
    } finally query.stop()
  }

  test("signed-delta sum in update mode + foreachBatch upsert sink (A1 streaming form)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val src = MemoryStream[(String, Int, Double)]
    val agg = src.toDF().toDF("g", "sign", "v")
      .groupBy("g").agg(sum(col("sign") * col("v")).as("net"))
    val state = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val query = agg.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => state.put(r.getString(0), r.getDouble(1)))
      }.start()
    try {
      src.addData(("a", 1, 10.0), ("a", 1, 5.0), ("b", 1, 7.0))
      query.processAllAvailable()
      assert(state.get("a") == 15.0 && state.get("b") == 7.0)
      src.addData(("a", -1, 10.0)) // retraction: signed delta decrements
      query.processAllAvailable()
      assert(state.get("a") == 5.0, "retraction folded by built-in sum")
      assert(state.get("b") == 7.0, "untouched group not re-emitted wrongly")
    } finally query.stop()
  }

  /** Q10 over sf0.001 as two micro-batches, inserts then deletes,
    * with the query stopped after the first and restarted from `ckpt`
    * (`beforeRestart` runs while it is down). Returns the folded leaf
    * deltas of both incarnations and the batch answer they must equal. */
  private def q10AcrossRestart(session: org.apache.spark.sql.SparkSession, ckpt: String,
      beforeRestart: () => Unit = () => ()): (Map[String, Int], Map[String, Int]) = {
    implicit val sq = session.sqlContext
    import session.implicits._
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.q10Tree(session, dir)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    // the memory sink can't recover from a checkpoint; foreachBatch
    // can — batches are stored by batchId, so a replayed batch after
    // restart overwrites itself (idempotent, the production upsert
    // pattern)
    val sunk = new scala.collection.concurrent.TrieMap[Long, Seq[Evt]]
    def startQuery() = {
      val out = runStreamTree(stages, streams.map { case (r, ms) => r -> ms.toDS() })
      out.writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[Evt], batchId: Long) =>
          sunk.put(batchId, df.collect().toSeq): Unit)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }
    def feed(seq: Long): Unit = streams.foreach { case (rel, ms) =>
      val evts = logs(rel).filter(_.seq == seq)
      if (evts.nonEmpty) ms.addData(evts)
    }
    // batch 1 (inserts) under the FIRST query incarnation
    val q1 = startQuery()
    try { feed(0L); q1.processAllAvailable() } finally q1.stop()
    beforeRestart()
    // deletes under a RESTARTED query: parent-death fan-out and child
    // retraction must hit state recovered from the checkpoint, not
    // fresh empty state
    val q2 = startQuery()
    try { feed(1L); q2.processAllAvailable() } finally q2.stop()
    def fold(evts: Seq[Evt]): Map[String, Int] =
      evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
        .filter(_._2 != 0).toMap
    (fold(sunk.values.flatten.toSeq), fold(runTree(stages, changelogs).collect().toSeq))
  }

  test("tree stream recovers from a checkpoint restart with state intact") {
    import graft.streaming.{LocalCheckpointFileManager, LocalCheckpointFs}
    import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
    val session = spark.newSession()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // the first incarnation writes under Spark's stock manager (set by
    // the caller, so the engine leaves it); the restart reads and
    // extends that checkpoint under the engine's own manager
    session.conf.set(LocalCheckpointFs.ManagerConf,
      classOf[FileContextBasedCheckpointFileManager].getName)
    val (streamed, batched) = q10AcrossRestart(session, ckpt,
      () => session.conf.unset(LocalCheckpointFs.ManagerConf))
    assert(session.conf.get(LocalCheckpointFs.ManagerConf) ==
      classOf[LocalCheckpointFileManager].getName)
    assert(batched.nonEmpty && streamed == batched)
  }

  test("a checkpoint reached through a symlink runs and restarts") {
    val real = java.nio.file.Files.createTempDirectory("graft_ckpt_real")
    val link = real.resolveSibling(real.getFileName.toString + "_link")
    java.nio.file.Files.createSymbolicLink(link, real)
    val (streamed, batched) = q10AcrossRestart(spark.newSession(), link.resolve("ckpt").toString)
    assert(java.nio.file.Files.isDirectory(real.resolve("ckpt").resolve("commits")))
    assert(batched.nonEmpty && streamed == batched)
  }

  test("a Q10 stream commits its checkpoint without launching processes") {
    import scala.jdk.CollectionConverters._
    // Hadoop's local file system shells out to chmod/readlink when
    // libhadoop is absent; every such command names the file it acts
    // on, so filtering by this query's checkpoint keeps other suites'
    // processes out of the count
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_procs").toRealPath()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val (streamed, batched) =
      try q10AcrossRestart(spark.newSession(), ckpt.toString) finally rec.stop()
    val dump = java.nio.file.Files.createTempFile("graft_procs", ".jfr")
    try {
      rec.dump(dump)
      val hits = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command")).filter(_.contains(ckpt.toString))
      assert(hits.size == 0, s"processes touched the checkpoint, e.g. ${hits.take(3)}")
    } finally { rec.close(); java.nio.file.Files.delete(dump) }
    assert(batched.nonEmpty && streamed == batched)
  }

  test("branching tree streams: runStreamTree micro-batches equal runTree (sf0.001)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IncrementalQueries
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.compiledTree(spark, dir,
      IncrementalQueries.partRevenueSql, IncrementalQueries.partRevenueDeletes)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = runStreamTree(stages, streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("part_rev_leaf").outputMode("append").start()
    try {
      // batch 1: half the inserts; batch 2: the rest; batch 3: deletes
      // on BOTH branches — cross-batch fan-out through both stages
      def half(evs: Seq[Evt], first: Boolean): Seq[Evt] =
        evs.filter(e => (e.key.hashCode & 1) == (if (first) 0 else 1))
      Seq(
        (e: Seq[Evt]) => half(e.filter(_.seq == 0L), first = true),
        (e: Seq[Evt]) => half(e.filter(_.seq == 0L), first = false),
        (e: Seq[Evt]) => e.filter(_.seq == 1L)
      ).foreach { pick =>
        streams.foreach { case (rel, ms) =>
          val evs = pick(logs(rel))
          if (evs.nonEmpty) ms.addData(evs)
        }
        query.processAllAvailable()
      }
      def fold(evts: Seq[Evt]): Map[String, Int] =
        evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
          .filter(_._2 != 0).toMap
      val streamed = fold(spark.table("part_rev_leaf").as[Evt].collect().toSeq)
      val batched = fold(runTree(stages, changelogs).collect().toSeq)
      assert(batched.nonEmpty && streamed == batched)
    } finally query.stop()
  }

  test("pair stage streams: shared-dimension product equals the batch run (sf0.001)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.IncrementalQueries
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.compiledTree(spark, dir,
      IncrementalQueries.sharedDimSql, IncrementalQueries.sharedDimDeletes)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = runStreamTree(stages, streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("shared_dim_leaf").outputMode("append").start()
    try {
      // batch 1: half the inserts; batch 2: the rest; batch 3: deletes
      // on BOTH sides of the product — pair state (trunk rows +
      // supplier rows) must carry across micro-batches and retract in
      // both directions
      def half(evs: Seq[Evt], first: Boolean): Seq[Evt] =
        evs.filter(e => (e.key.hashCode & 1) == (if (first) 0 else 1))
      Seq(
        (e: Seq[Evt]) => half(e.filter(_.seq == 0L), first = true),
        (e: Seq[Evt]) => half(e.filter(_.seq == 0L), first = false),
        (e: Seq[Evt]) => e.filter(_.seq == 1L)
      ).foreach { pick =>
        streams.foreach { case (rel, ms) =>
          val evs = pick(logs(rel))
          if (evs.nonEmpty) ms.addData(evs)
        }
        query.processAllAvailable()
      }
      def fold(evts: Seq[Evt]): Map[String, Int] =
        evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
          .filter(_._2 != 0).toMap
      val streamed = fold(spark.table("shared_dim_leaf").as[Evt].collect().toSeq)
      val batched = fold(runTree(stages, changelogs).collect().toSeq)
      assert(batched.nonEmpty && streamed == batched)
    } finally query.stop()
  }

  test("stateOperators expose per-node state rows; TTL eviction drains them") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.q10Tree(spark, dir)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    // a processing-time TTL makes the query SELF-TRIGGERING (Spark's
    // shouldRunAnotherBatch is unconditionally true for
    // ProcessingTimeTimeout so expired timers get checked), which
    // means processAllAvailable() would never observe quiescence and
    // hang — this test polls lastProgress instead, and is the reason
    // the TTL-semantics spec above uses the TestGroupState harness
    val out = runStreamTree(stages, streams.map { case (r, ms) => r -> ms.toDS() },
      stateTtl = Some(java.time.Duration.ofSeconds(8)))
    val query = out.writeStream
      .format("memory").queryName("ttl_obs_leaf").outputMode("append").start()
    try {
      streams.foreach { case (rel, ms) =>
        val ins = logs(rel).filter(_.seq == 0L)
        if (ins.nonEmpty) ms.addData(ins)
      }
      def stateRows(deadlineMs: Long)(done: Seq[Long] => Boolean): Seq[Long] = {
        val until = System.currentTimeMillis() + deadlineMs
        var last: Seq[Long] = Nil
        while (System.currentTimeMillis() < until) {
          val p = query.lastProgress
          if (p != null && p.stateOperators.nonEmpty) {
            last = p.stateOperators.map(_.numRowsTotal).toSeq
            if (done(last)) return last
          }
          Thread.sleep(100)
        }
        last
      }
      // one stateful operator per tree node, each reporting its keyed
      // state volume — the first thing to watch on a long-running tree
      val populated = stateRows(60000)(_.sum > 0)
      assert(populated.length == stages.size, populated.toString)
      assert(populated.sum > 0)
      // with no further input, every key idles past the TTL and the
      // self-triggered batches evict it: state must drain to EMPTY
      val drained = stateRows(120000)(_.sum == 0)
      assert(drained.sum == 0,
        s"TTL must bound state: still ${drained.sum} rows after eviction deadline")
    } finally query.stop()
  }

  test("EVENT-TIME TTL: watermark advance evicts idle keys; late events are fenced") {
    // event-time horizon = data time, not wall time: key 1 goes quiet,
    // the watermark (driven by key 2's advancing events) passes its
    // horizon, and its state evicts — replay-deterministically, no
    // sleeps. multipleWatermarkPolicy=max because the P changelog goes
    // idle after batch 1 and would stall a min-combined watermark (the
    // documented deployment setting for unevenly-advancing changelogs).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    // chained stateful stages re-derive event time per stage; Spark's
    // global-watermark heuristic flags that pattern wholesale. The
    // engine's folds fence deterministically per stage (EventTimeTtl
    // scaladoc), so the blanket check is disabled for TTL queries.
    ss.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    implicit val sq = ss.sqlContext
    import ss.implicits._
    def ts(min: Int) = f"2020-01-01 00:$min%02d:00"
    val pStream = MemoryStream[Evt]
    val cStream = MemoryStream[Evt]
    val ttl = EventTimeTtl("ets", java.time.Duration.ofSeconds(60))
    val leaf = runStreamTree(chainStages(Seq(parentSpec, childSpec)),
      Map("P" -> pStream.toDS(), "C" -> cStream.toDS().filter(childPasses)),
      eventTtl = Some(ttl))
    val query = leaf.writeStream.format("memory").queryName("evt_ttl_leaf")
      .outputMode("append").start()
    try {
      // batch 1: keys 1 and 2 both join at t0
      pStream.addData(
        Evt(0, false, 1, 1, "1", Map("pk" -> "1", "pname" -> "p1", "ets" -> ts(0))),
        Evt(0, false, 1, 1, "2", Map("pk" -> "2", "pname" -> "p2", "ets" -> ts(0))))
      cStream.addData(
        Evt(1, false, 1, 1, "1", Map("fk" -> "1", "cid" -> "a", "v" -> "12", "ets" -> ts(0))),
        Evt(1, false, 1, 1, "2", Map("fk" -> "2", "cid" -> "b", "v" -> "13", "ets" -> ts(0))))
      query.processAllAvailable()
      assert(ss.table("evt_ttl_leaf").count() == 2)
      val stateAfter1 = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateAfter1 == 4, s"2 keys x 2 stages, got $stateAfter1")
      // batch 2: key 2 stays active 10 data-minutes later → the
      // watermark jumps past key 1's horizon (t0 + 60s)
      cStream.addData(
        Evt(2, false, 1, 1, "2", Map("fk" -> "2", "cid" -> "b2", "v" -> "14", "ets" -> ts(10))))
      query.processAllAvailable()
      // batch 3: the next batch fires key 1's expired timers
      cStream.addData(
        Evt(3, false, 1, 1, "2", Map("fk" -> "2", "cid" -> "b3", "v" -> "15", "ets" -> ts(11))))
      query.processAllAvailable()
      val afterEvict = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(afterEvict < stateAfter1,
        s"event-time TTL must bound state by data time: $stateAfter1 -> $afterEvict")
      val rowsBeforeLate = ss.table("evt_ttl_leaf").count()
      assert(rowsBeforeLate == 4, "key 2's two later children joined")
      // batch 4: a LATE child for the LIVE key 2 (event time below the
      // watermark) is fenced — no new join row despite live state
      cStream.addData(
        Evt(4, false, 1, 1, "2", Map("fk" -> "2", "cid" -> "late", "v" -> "16", "ets" -> ts(0))))
      query.processAllAvailable()
      assert(ss.table("evt_ttl_leaf").count() == rowsBeforeLate,
        "late event must be fenced by the watermark contract")
    } finally query.stop()
  }

  test("streaming Q10 tree over micro-batches equals the batch run (sf0.001)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = SparkTestSession.sfTiny

    val (stages, changelogs) = SparkTestSession.q10Tree(spark, dir)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    // micro-batch plan: 1 = first half of the inserts, 2 = the rest of
    // the inserts, 3 = all deletes (seq=1) — state must carry across
    // batches and parent deaths must fan out to children inserted in
    // EARLIER batches.
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = runStreamTree(stages, streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("q10_leaf").outputMode("append").start()
    try {
      def half(evs: Seq[Evt], first: Boolean): Seq[Evt] =
        evs.filter(e => (e.key.hashCode & 1) == (if (first) 0 else 1))
      streams.foreach { case (rel, ms) =>
        val ins = logs(rel).filter(_.seq == 0L)
        if (half(ins, first = true).nonEmpty) ms.addData(half(ins, first = true))
      }
      query.processAllAvailable()
      streams.foreach { case (rel, ms) =>
        val ins = logs(rel).filter(_.seq == 0L)
        if (half(ins, first = false).nonEmpty) ms.addData(half(ins, first = false))
      }
      query.processAllAvailable()
      streams.foreach { case (rel, ms) =>
        val dels = logs(rel).filter(_.seq == 1L)
        if (dels.nonEmpty) ms.addData(dels)
      }
      query.processAllAvailable()

      def fold(evts: Seq[Evt]): Map[String, Int] =
        evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
          .filter(_._2 != 0).toMap

      val streamed = fold(spark.table("q10_leaf").as[Evt].collect().toSeq)
      val batched = fold(runTree(stages, changelogs).collect().toSeq)
      assert(batched.nonEmpty, "batch leaf view must be non-trivial")
      assert(streamed == batched)
    } finally query.stop()
  }
  test("stream-stream interval join equals the batch join and is split-invariant") {
    import org.apache.spark.sql.functions._
    val d = SparkTestSession.sfTiny
    val got = SparkEntry.queries("events_stream_stream_join")(spark, d)
    // batch reference: the identical interval join
    val ev = Tables.events(spark, d).filter(col("event_type").isin("click", "purchase"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("click_ts"))
    val want = p.join(c, col("user_id") === col("cu") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() == want.count() && got.count() > 0)
    // split-invariance: a second run replays through its own session
    // (fresh MemoryStreams); identical output proves batch boundaries
    // cannot change the joined set
    val again = SparkEntry.queries("events_stream_stream_join")(spark, d)
    assert(again.exceptAll(want).isEmpty && again.count() == want.count())
  }

  test("CEP state machine: out-of-order arrival within the delay cannot fake or break contiguity") {
    import graft.streaming.StreamingAnalytics.{streamPatternMatch, PatIn}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    // user 1 (event-time order): view@0, click@10, purchase@20 -> match,
    //   but the CLICK ARRIVES A BATCH LATE (out of order within delay)
    // user 2: view@0, click@10, error@15, purchase@20 -> error breaks
    //   strict contiguity, NO match (error also arrives late)
    // user 3: view@0, click@10, purchase@2h -> outside the 1h window
    val src = MemoryStream[PatIn]
    val out = streamPatternMatch(src.toDS(), delay = "1 hour")
    val query = out.writeStream
      .format("memory").queryName("cep_spec_sink").outputMode("append").start()
    try {
      // batch 1 spans only 20s, so the 1h-delay watermark stays at 0 —
      // the batch-2 stragglers (click@10, error@15) are NOT late yet
      src.addData(
        PatIn(1, ts(0), "view", 10), PatIn(1, ts(20), "purchase", 12),
        PatIn(2, ts(0), "view", 20), PatIn(2, ts(10), "click", 21),
        PatIn(2, ts(20), "purchase", 23),
        PatIn(3, ts(0), "view", 30), PatIn(3, ts(10), "click", 31))
      query.processAllAvailable()
      // nothing may emit yet: the watermark has not passed any event
      assert(spark.table("cep_spec_sink").isEmpty)
      src.addData(PatIn(1, ts(10), "click", 11), PatIn(2, ts(15), "error", 22),
        PatIn(3, ts(7200), "purchase", 32))
      query.processAllAvailable()
      // sentinel advances the watermark past everything; users 1-3 have
      // no new events, so their keys flush through the EVENT-TIME
      // TIMEOUT path, not a data-driven invocation
      src.addData(PatIn(-1, ts(10000000), "view", -1))
      query.processAllAvailable()
    } finally query.stop()
    val base = 1000000L * 1000000L // test epoch base in micros
    val got = spark.table("cep_spec_sink")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, base, 12L, base + 20000000L)), got.toString)
  }

  test("absence alerts: stragglers clear, silent keys fire by timeout, out-of-window does not clear") {
    import graft.streaming.StreamingAnalytics.{streamAbsenceAlerts, PatIn}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    val src = MemoryStream[PatIn]
    val out = streamAbsenceAlerts(src.toDS(), delay = "1 hour") // window 1h
    val query = out.writeStream
      .format("memory").queryName("absence_spec_sink").outputMode("append").start()
    try {
      // user 1: purchase inside the window -> cleared
      // user 2: silent after the click -> must alert via TIMEOUT
      // user 3: purchase 2h later (outside window) -> must alert
      // user 4: clearing purchase arrives A BATCH LATE but within the
      //         watermark delay -> still cleared (deciding earlier
      //         than the deadline would have emitted a false alert)
      // batch 1 spans only 200s, so the 1h-delay watermark stays at 0
      // and batch 2's straggler purchase is NOT late
      src.addData(
        PatIn(1, ts(100), "click", 10), PatIn(1, ts(200), "purchase", 11),
        PatIn(2, ts(100), "click", 20),
        PatIn(3, ts(100), "click", 30),
        PatIn(4, ts(100), "click", 40))
      query.processAllAvailable()
      assert(spark.table("absence_spec_sink").isEmpty)
      src.addData(PatIn(4, ts(150), "purchase", 41),
        PatIn(3, ts(100 + 7200), "purchase", 31))
      query.processAllAvailable()
      src.addData(PatIn(-1, ts(10000000), "click", -1))
      query.processAllAvailable()
    } finally query.stop()
    val base = 1000000L * 1000000L
    val got = spark.table("absence_spec_sink").filter($"user_id" >= 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 20L, base + 100000000L), (3L, 30L, base + 100000000L)),
      got.toString)
  }

  test("dead keys drain: pattern tails and purchase-only absence state evict by timeout") {
    import graft.streaming.StreamingAnalytics.{streamAbsenceAlerts, streamPatternMatch, PatIn}
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp((1000000L + sec) * 1000L)
    def drained(mk: org.apache.spark.sql.Dataset[PatIn] => org.apache.spark.sql.Dataset[_],
                sentinelType: String, name: String): Long = {
      val src = MemoryStream[PatIn]
      val query = mk(src.toDS()).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      try {
        // five keys see one event each, then go silent forever
        src.addData((1 to 5).map(u => PatIn(u, ts(20), sentinelType, u * 10L)): _*)
        query.processAllAvailable()
        // two far-future sentinels: the first finalizes the dead keys'
        // events, the second pushes the watermark past tail+window /
        // purchase+window so their TIMEOUTS fire with no traffic
        src.addData(PatIn(-1, ts(7200), sentinelType, -1))
        query.processAllAvailable()
        src.addData(PatIn(-1, ts(14400), sentinelType, -1))
        query.processAllAvailable()
        query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally query.stop()
    }
    // before the timeout fix, each silent key held its 2-row tail /
    // purchase list forever -> 6 state rows; now only the live
    // sentinel key remains
    assert(drained(ds => streamPatternMatch(ds, delay = "1 hour"), "view",
      "cep_drain_sink") == 1L)
    assert(drained(ds => streamAbsenceAlerts(ds, delay = "1 hour"), "purchase",
      "absence_drain_sink") == 1L)
  }

  test("TWS tree driver: transformWithState leaf deltas net to the flatMap/batch view") {
    // every liveness transition on Spark 4 StatefulProcessors (MapState
    // children, ValueState liveness) must fold exactly as the
    // flatMapGroupsWithState driver does: per micro-batch the two emit
    // the same (tag, mult, row) multiset, and the net leaf view equals
    // the batch runner's, across the same adversarial batch plan (split
    // inserts, then deletes fanning to children inserted in EARLIER
    // batches). Trees: the Q10 chain; a set-semantics key root gating
    // an antiParent node (the NOT EXISTS wiring); the Q10 chain with a
    // fullOuterLeaf leaf (orphaned lineitems emit bare).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = ss.sqlContext
    import ss.implicits._
    val (q10Stages, q10Changelogs) = SparkTestSession.q10Tree(ss)
    val q10Logs = q10Changelogs.view.mapValues(_.collect().toSeq).toMap
    // customers with no order in the Q10 date window: the orders key
    // set feeds an anti customer node keyed by c_custkey; every 30th
    // customer is deleted too, so retractions hit both sides
    val customers = q10Logs("customer").map(e => e.copy(key = canonGet(e.row, "c_custkey")))
    val antiLogs = Map("orders" -> q10Logs("orders"), "customer" -> (customers ++
      customers.filter(_.key.toLong % 30 == 0).map(_.copy(seq = 1L, tag = -1))))
    val antiStages = Seq(
      Stage("orders_keys", NodeSpec("orders", "o_custkey", "o_custkey",
        isRoot = true, setSemantics = true), keyOnlyRows = true),
      Stage("customer", NodeSpec("customer", "c_custkey", "c_custkey", antiParent = true),
        parentStage = Some("orders_keys")))
    val fullOuterStages = q10Stages.map { st =>
      if (st.spec.relation == "lineitem") st.copy(spec = st.spec.copy(fullOuterLeaf = true)) else st
    }
    def half(evs: Seq[Evt], first: Boolean): Seq[Evt] =
      evs.filter(e => (e.key.hashCode & 1) == (if (first) 0 else 1))
    val steps = Seq[Seq[Evt] => Seq[Evt]](
      evs => half(evs.filter(_.seq == 0L), first = true),
      evs => half(evs.filter(_.seq == 0L), first = false),
      evs => evs.filter(_.seq == 1L))
    def multiset(evts: Seq[Evt]): Seq[(Int, Int, String)] =
      evts.map(e => (e.tag, e.mult, e.row)).sorted
    def net(evts: Seq[Evt]): Map[String, Int] =
      evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
        .filter(_._2 != 0).toMap
    for ((tree, stages, logs) <- Seq(
        ("q10", q10Stages, q10Logs),
        ("anti", antiStages, antiLogs),
        ("full_outer", fullOuterStages, q10Logs))) {
      // ONE source carrying every relation, so each step is exactly one
      // micro-batch in both queries and their batches line up
      val src = MemoryStream[(String, Evt)]
      val streams = logs.keys.map(rel => rel -> src.toDS().filter(_._1 == rel).map(_._2)).toMap
      val tws = runStreamTreeTws(stages, streams).writeStream
        .format("memory").queryName(s"tws_${tree}_leaf").outputMode("append").start()
      val fmg = runStreamTree(stages, streams).writeStream
        .format("memory").queryName(s"fmg_${tree}_leaf").outputMode("append").start()
      try {
        steps.foreach { step =>
          src.addData(logs.toSeq.flatMap { case (rel, evs) => step(evs).map(rel -> _) })
          tws.processAllAvailable(); fmg.processAllAvailable()
          assert(tws.lastProgress.batchId == fmg.lastProgress.batchId, tree)
          val twsSoFar = ss.table(s"tws_${tree}_leaf").as[Evt].collect().toSeq
          val fmgSoFar = ss.table(s"fmg_${tree}_leaf").as[Evt].collect().toSeq
          assert(multiset(twsSoFar) == multiset(fmgSoFar),
            s"$tree: TWS and flatMapGroupsWithState emissions differ by batch ${tws.lastProgress.batchId}")
        }
        val streamed = net(ss.table(s"tws_${tree}_leaf").as[Evt].collect().toSeq)
        val batched = net(runTree(stages, logs.map { case (r, evs) => r -> evs.toDS() })
          .collect().toSeq)
        assert(batched.nonEmpty, s"$tree: batch leaf view must be non-trivial")
        assert(streamed == batched, tree)
      } finally { tws.stop(); fmg.stop() }
    }
  }

  test("TWS pair stage: transformWithState product deltas net to the batch view") {
    // the shared-dimension PAIR stage on StatefulProcessors (two
    // MapStates, changed entries point-written): net leaf view must
    // equal the batch runner's across split inserts then deletes —
    // pair state carried across batches, cross-merges firing on both
    // sides of the product
    import graft.streaming.IncrementalQueries
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = ss.sqlContext
    import ss.implicits._
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.compiledTree(ss, dir,
      IncrementalQueries.sharedDimSql, IncrementalQueries.sharedDimDeletes)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = runStreamTreeTws(stages, streams.map { case (r, ms) => r -> ms.toDS() })
    val query = out.writeStream
      .format("memory").queryName("shared_tws_leaf").outputMode("append").start()
    try {
      def half(evs: Seq[Evt], first: Boolean): Seq[Evt] =
        evs.filter(e => (e.key.hashCode & 1) == (if (first) 0 else 1))
      for (step <- Seq[Seq[Evt] => Seq[Evt]](
        evs => half(evs.filter(_.seq == 0L), first = true),
        evs => half(evs.filter(_.seq == 0L), first = false),
        evs => evs.filter(_.seq == 1L))) {
        streams.foreach { case (rel, ms) =>
          val batch = step(logs(rel))
          if (batch.nonEmpty) ms.addData(batch)
        }
        query.processAllAvailable()
      }
      def fold(evts: Seq[Evt]): Map[String, Int] =
        evts.groupBy(_.row).view.mapValues(_.map(e => e.tag * e.mult).sum)
          .filter(_._2 != 0).toMap
      val streamed = fold(ss.table("shared_tws_leaf").as[Evt].collect().toSeq)
      val batched = fold(runTree(stages, changelogs).collect().toSeq)
      assert(batched.nonEmpty, "batch pair view must be non-trivial")
      assert(streamed == batched)
    } finally query.stop()
  }

  test("TWS tree driver: per-key timers drain idle state under the processing-time TTL") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sq = ss.sqlContext
    import ss.implicits._
    val dir = SparkTestSession.sfTiny
    val (stages, changelogs) = SparkTestSession.q10Tree(ss, dir)
    val logs = changelogs.view.mapValues(_.collect().toSeq).toMap
    val streams = logs.map { case (rel, _) => rel -> MemoryStream[Evt] }
    val out = runStreamTreeTws(stages, streams.map { case (r, ms) => r -> ms.toDS() },
      stateTtl = Some(java.time.Duration.ofSeconds(8)))
    val query = out.writeStream
      .format("memory").queryName("q10_tws_ttl_leaf").outputMode("append").start()
    try {
      streams.foreach { case (rel, ms) =>
        val ins = logs(rel).filter(_.seq == 0L)
        if (ins.nonEmpty) ms.addData(ins)
      }
      // timer-armed queries self-trigger (expired timers must be
      // checked), so poll lastProgress instead of processAllAvailable
      def stateRows(deadlineMs: Long)(done: Seq[Long] => Boolean): Seq[Long] = {
        val until = System.currentTimeMillis() + deadlineMs
        var last: Seq[Long] = Nil
        while (System.currentTimeMillis() < until) {
          val p = query.lastProgress
          if (p != null && p.stateOperators.nonEmpty) {
            last = p.stateOperators.map(_.numRowsTotal).toSeq
            if (done(last)) return last
          }
          Thread.sleep(100)
        }
        last
      }
      val populated = stateRows(60000)(_.sum > 0)
      assert(populated.sum > 0, populated.toString)
      // idle keys' timers fire; handleExpiredTimer clears both typed
      // state columns -> the store must drain to empty
      val drained = stateRows(120000)(_.sum == 0)
      assert(drained.sum == 0,
        s"TWS timers must bound state: still ${drained.sum} rows after eviction deadline")
    } finally query.stop()
  }
}
