package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql

/** MERGE INTO semantics (the lakehouse upsert) as one relational
  * operator: apply a keyed change set — updates, deletes, inserts —
  * to a target snapshot in a single pass. Executes exactly the way
  * table formats execute MERGE: ONE full-outer equi-join on the key,
  * then per-row resolution; at 100 TB both sides hash-partition on
  * the key and the rewrite is shuffle-bound, never a driver loop or a
  * per-change point lookup.
  *
  * `source` must carry the key, an `op` column ('U' update, 'D'
  * delete, 'I' insert) and the full payload for U/I rows. Resolution:
  * matched+D drops the row, matched+U takes the source payload,
  * source-only (I) inserts it, target-only passes through.
  *
  * PRECONDITIONS (standard MERGE contract, mirrored from SQL:2003's
  * "cardinality violation" rule): `key` must be unique within `source`
  * (a duplicate-keyed change set fans target rows out through the
  * full-outer join — SQL MERGE raises an error here; this operator
  * does not detect it, callers compact the change set first, e.g. via
  * last-writer-wins `row_number() = 1`) and unique within `target`.
  * A matched 'I' resolves as an update (the "when matched" branch
  * wins), matching Delta/Iceberg upsert behavior.
  *
  * Reference: beyond-reference sink surface (the reference's K1 sink
  * is append/overwrite only); MERGE is public SQL:2003 vocabulary and
  * the standard changelog-compaction step of every CDC pipeline.
  */
object MergeOps {

  def mergeUpsert(target: DataFrame, source: DataFrame, key: String,
                  payloadCols: Seq[String]): DataFrame = {
    val t = target.as("t")
    val s = source.as("s")
    t.join(s, Seq(key), "full_outer")
      .filter(coalesce(col("s.op"), lit("")) =!= "D")
      .select(col(key) +:
        payloadCols.map(c =>
          when(col("s.op").isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }

  val defs: Seq[GraftQuery] = Seq(
    // A deterministic change set derived from the snapshot itself:
    // delete keys ≡0 (mod 10), bump totalprice on keys ≡1, insert
    // shifted copies of keys ≡2 — all three MERGE actions in one
    // application, gated against the literal relational definition.
    sql("merge_upsert_orders",
      """WITH upd AS (
        | SELECT o_orderkey, o_totalprice + 1000 AS p
        | FROM orders WHERE o_orderkey % 10 = 1),
        |ins AS (
        | SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
        |  o_orderstatus, o_totalprice
        | FROM orders WHERE o_orderkey % 10 = 2)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
        | COALESCE(u.p, o.o_totalprice) AS o_totalprice
        |FROM orders o LEFT JOIN upd u ON u.o_orderkey = o.o_orderkey
        |WHERE o.o_orderkey % 10 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM ins""".stripMargin) {
      (s, d) =>
        val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice")
        val orders = Tables.orders(s, d)
          .select(("o_orderkey" +: payload).map(col): _*)
        val deletes = orders.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), lit("D").as("op"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        val updates = orders.filter(col("o_orderkey") % 10 === 1)
          .select(col("o_orderkey"), lit("U").as("op"), col("o_custkey"),
            col("o_orderstatus"), (col("o_totalprice") + lit(1000)).as("o_totalprice"))
        val inserts = orders.filter(col("o_orderkey") % 10 === 2)
          .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
            lit("I").as("op"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        mergeUpsert(orders, deletes.union(updates).union(inserts),
          "o_orderkey", payload)
    },

    // SCD TYPE-2 — the other half of keyed-table maintenance: instead
    // of overwriting (MERGE), keep every version with its validity
    // interval. One window pass per key derives [valid_from,
    // valid_to) from each version's successor (lead), the open
    // current version flagged — no self-join, no per-key loop; at
    // scale this is one hash-partition on the business key. Version
    // history synthesized deterministically from the snapshot (three
    // overlapping version tiers).
    sql("scd2_intervals",
      """WITH hist AS (
        | SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS ver, o_totalprice AS price
        | FROM orders
        | UNION ALL SELECT o_orderkey, 2, o_totalprice + 500
        |  FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL SELECT o_orderkey, 3, o_totalprice + 1000
        |  FROM orders WHERE o_orderkey % 9 = 0)
        |SELECT k, ver AS valid_from,
        | lead(ver) OVER w AS valid_to, price,
        | lead(ver) OVER w IS NULL AS is_current
        |FROM hist WINDOW w AS (PARTITION BY k ORDER BY ver)""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d)
        val hist = o.select(col("o_orderkey").as("k"), lit(1L).as("ver"),
            col("o_totalprice").as("price"))
          .union(o.filter(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), lit(2L), col("o_totalprice") + 500))
          .union(o.filter(col("o_orderkey") % 9 === 0)
            .select(col("o_orderkey"), lit(3L), col("o_totalprice") + 1000))
        val w = Window.partitionBy(col("k")).orderBy(col("ver"))
        hist.select(col("k"), col("ver").as("valid_from"),
          lead(col("ver"), 1).over(w).as("valid_to"), col("price"),
          lead(col("ver"), 1).over(w).isNull.as("is_current"))
    },

    // TEMPORAL TABLE JOIN — each fact row joined to the dimension
    // VERSION IN EFFECT AT ITS EVENT TIME (the version with the
    // largest valid_from ≤ o_orderdate), the reference engine family's
    // signature enrichment operator and the query SCD2 tables exist to
    // answer. Re-expressed as the AS-OF join the engine already ships
    // (union + running-last window, ONE shuffle on the business key —
    // no per-version interval join, no fan-out): the versioned
    // dimension is just the right side of an as-of. Version history
    // synthesized deterministically (base segment at 1995; even keys
    // upgraded 1998; every 6th premium 2000), so an order's segment
    // changes as its date crosses the version boundaries. DuckDB
    // oracles it with native ASOF LEFT JOIN.
    sql("orders_temporal_dim_join",
      """WITH dim AS (
        | SELECT c_custkey, TIMESTAMP '1995-01-01' AS ts, c_mktsegment AS segment
        | FROM customer
        | UNION ALL
        | SELECT c_custkey, TIMESTAMP '1998-01-01', 'UPGRADED'
        | FROM customer WHERE c_custkey % 2 = 0
        | UNION ALL
        | SELECT c_custkey, TIMESTAMP '2000-01-01', 'PREMIUM'
        | FROM customer WHERE c_custkey % 6 = 0)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate AS ts,
        | d.segment AS asof_segment, d.ts AS asof_ts
        |FROM orders o ASOF LEFT JOIN dim d
        | ON o.o_custkey = d.c_custkey AND o.o_orderdate >= d.ts""".stripMargin) {
      (s, d) =>
        val c = graft.Tables.customer(s, d)
        val dim = c.select(col("c_custkey"),
            to_timestamp(lit("1995-01-01")).as("ts"), col("c_mktsegment").as("segment"))
          .union(c.filter(col("c_custkey") % 2 === 0)
            .select(col("c_custkey"), to_timestamp(lit("1998-01-01")), lit("UPGRADED")))
          .union(c.filter(col("c_custkey") % 6 === 0)
            .select(col("c_custkey"), to_timestamp(lit("2000-01-01")), lit("PREMIUM")))
        val facts = graft.Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
            col("o_orderdate").as("ts"))
        graft.operators.AsOfJoin.asOfLeft(facts, dim,
            keyCols = Seq("c_custkey"), ts = "ts")
          .select(col("o_orderkey"), col("c_custkey"), col("ts"),
            col("asof_segment"), col("asof_ts"))
    },

    // The STREAMED temporal table join — the deployment shape the
    // reference family ships this operator in (facts arrive as a
    // stream; dimension versions arrive as a stream too; each fact
    // joins the version in effect at ITS event time, late versions
    // included up to the watermark): both sides replay through
    // StreamingAnalytics.streamAsOfJoin, versions as the right side
    // keyed by tier id (1/2/3 — the segment string is presentation).
    // Same native-ASOF oracle as the batch twin, on tier numbers.
    sql("orders_temporal_dim_stream",
      """WITH dim AS (
        | SELECT c_custkey, TIMESTAMP '1995-01-01' AS ts, CAST(1 AS BIGINT) AS tier
        | FROM customer
        | UNION ALL
        | SELECT c_custkey, TIMESTAMP '1998-01-01', 2
        | FROM customer WHERE c_custkey % 2 = 0
        | UNION ALL
        | SELECT c_custkey, TIMESTAMP '2000-01-01', 3
        | FROM customer WHERE c_custkey % 6 = 0)
        |SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate AS ts,
        | d.tier AS asof_tier, d.ts AS asof_ts
        |FROM orders o ASOF LEFT JOIN dim d
        | ON o.o_custkey = d.c_custkey AND o.o_orderdate >= d.ts""".stripMargin) {
      (s, d) =>
        import graft.streaming.StreamingAnalytics.{streamAsOfJoin, AsOfIn}
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          FlushTs, MemorySink}
        import s.implicits._
        val c = graft.Tables.customer(s, d)
        // right side: version events, id = tier (1/2/3 per key — the
        // as-of larger-id tie rule never fires, valid_from are distinct)
        val dims =
          c.select(col("c_custkey"), to_timestamp(lit("1995-01-01")).as("ts"), lit(1L).as("tier"))
            .union(c.filter(col("c_custkey") % 2 === 0)
              .select(col("c_custkey"), to_timestamp(lit("1998-01-01")), lit(2L)))
            .union(c.filter(col("c_custkey") % 6 === 0)
              .select(col("c_custkey"), to_timestamp(lit("2000-01-01")), lit(3L)))
            .select(col("c_custkey"), col("ts"), lit(true).as("isRight"), col("tier").as("id"))
        val facts = graft.Tables.orders(s, d)
          .select(col("o_custkey").as("c_custkey"), col("o_orderdate").as("ts"),
            lit(false).as("isRight"), col("o_orderkey").as("id"))
        val collected = boundedReplayCollect("orders_temporal_dim_stream",
          dims.unionByName(facts)
            .as[(Long, java.sql.Timestamp, Boolean, Long)])
        val ev = collected.map(r => AsOfIn(r._1, r._2, r._3, r._4))
          .sortBy(e => (e.ts.getTime, e.id)).toSeq
        replay(s, MemorySink("orders_temporal_dim_stream_sink"),
            halves(ev, AsOfIn(-1L, FlushTs, isRight = false, id = -1L))) {
          (_, in) => streamAsOfJoin(in.head, delay = "1 second")
        }.filter(col("key") >= 0)
          .select(col("left_id").as("o_orderkey"), col("key").as("c_custkey"),
            col("left_ts").as("ts"), col("asof_id").as("asof_tier"),
            col("asof_ts"))
    })
}
