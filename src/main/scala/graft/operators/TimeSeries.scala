package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql

/** Time-series RESAMPLING — regularize an irregular event stream onto a
  * fixed per-key bucket grid and fill the gaps by carrying the last
  * observation forward (LOCF). The classic preprocessing step before
  * windowed feature extraction over sensor/metric streams.
  *
  * Scale shape (the only one that survives 100 TB):
  *   1. bucket-aggregate the raw events to one row per (key, bucket)
  *      — `max_by(value, seq)` picks the LATEST observation in the
  *      bucket deterministically; ONE hash aggregate with map-side
  *      partial combine does 99% of the data reduction before any
  *      other stage sees a row;
  *   2. per-key span (min/max bucket) — a second tiny aggregate over
  *      the already-reduced bucket rows;
  *   3. grid = `explode(sequence(lo, hi))` over the span rows — grows
  *      with Σ spans, NEVER with raw event count, and a LOUD guard
  *      (`raise_error`) rejects keys whose span exceeds `maxBuckets`
  *      instead of silently materializing a billion-element array
  *      (same fail-loud posture as the band-join domain errors);
  *   4. grid LEFT-equi-JOIN bucket rows on (key, bucket);
  *   5. LOCF = `last(value, ignoreNulls)` over (key ORDER BY bucket)
  *      — one window pass, partitioned by the SAME key as the join, so
  *      with matching partitioning the exchange is reused.
  *
  * No value arithmetic is performed — carried values are the exact
  * input doubles — so the result is hash-stable across engines despite
  * the double-typed metric column.
  *
  * Reference: the reference engine (Flink-and-acyclic-schema) has no
  * resample operator — its event-time surface stops at windowed
  * aggregation; this is part of the beyond-reference time-series
  * surface (SURVEY.md §2 streaming/window rows) that a metrics
  * pipeline needs.
  */
object TimeSeries {

  /** ONE oracle for the CEP twins — the batch two-LEAD window query
    * here and the streamed state machine (events_pattern_stream in
    * Relational) gate against the SAME text by reference. */
  val patternMatchOracle: String =
    """WITH o AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  LEAD(event_type, 1) OVER w AS e1,
        |  LEAD(event_type, 2) OVER w AS e2,
        |  LEAD(event_id, 2) OVER w AS end_event,
        |  LEAD(epoch_us(ts), 2) OVER w AS end_us
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id, event_id AS start_event, us AS start_us,
        | end_event, end_us
        |FROM o
        |WHERE event_type = 'view' AND e1 = 'click' AND e2 = 'purchase'
        | AND end_us - us <= 86400000000""".stripMargin


  /** One row per (key, bucket) for every bucket in each key's observed
    * [min, max] span, `value_filled` carried forward across gaps.
    * `bucket` = floor(epoch-micros / stepMicros) — integer arithmetic
    * end to end, no double rounding at bucket edges.
    *
    * @param seq  deterministic tie-breaker: the in-bucket observation
    *             with the LARGEST `seq` wins (max_by).
    */
  def resampleLocf(df: DataFrame, key: String, ts: String, value: String,
                   seq: String, stepMicros: Long,
                   maxBuckets: Long = 1000000L): DataFrame = {
    require(stepMicros > 0, s"stepMicros must be positive, got $stepMicros")
    val bucketCol = expr(s"unix_micros($ts) div $stepMicros")
    val bucketed = df
      .select(col(key), bucketCol.as("bucket"), col(value).as("v"), col(seq).as("__seq"))
      .groupBy(col(key), col("bucket"))
      .agg(max_by(col("v"), col("__seq")).as("v"))
    val spans = bucketed
      .groupBy(col(key))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      // fail LOUD on a span the grid must not materialize — a silent
      // cap would report a gapless series that is missing buckets
      .withColumn("hi", when(col("hi") - col("lo") < maxBuckets, col("hi"))
        .otherwise(raise_error(concat(
          lit(s"resampleLocf: key "), col(key).cast("string"),
          lit(s" spans more than $maxBuckets buckets; raise maxBuckets or widen the step")))))
    val grid = spans.select(col(key), explode(sequence(col("lo"), col("hi"))).as("bucket"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq(key, "bucket"), "left")
      .select(col(key), col("bucket"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"),
        col("v").isNotNull.as("observed"))
  }

  val defs: Seq[GraftQuery] = Seq(
    // M4 DOWNSAMPLING — the observability-dashboard reduction (min,
    // max, first, last per series per pixel-bin): the four values
    // that make a line chart of N points render identically from
    // 4·bins points. ONE hash aggregate with map-side combine — no
    // windows, no sort; first/last ride min_by/max_by on the unique
    // arrival sequence (event_id), so the reduction is deterministic
    // and the whole row sits behind the hash gate (values as exact e2
    // ints). At 100 TB this is the query between raw telemetry and
    // every dashboard; its cost must be one combiner pass, which this
    // plan is.
    sql("events_m4_downsample",
      """WITH e AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day, event_id,
        |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_e2
        | FROM events)
        |SELECT event_type, day, COUNT(*) AS n,
        | MIN(v_e2) AS v_min, MAX(v_e2) AS v_max,
        | arg_min(v_e2, event_id) AS v_first,
        | arg_max(v_e2, event_id) AS v_last
        |FROM e GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            col("event_id"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v_e2"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"),
            min(col("v_e2")).as("v_min"), max(col("v_e2")).as("v_max"),
            min_by(col("v_e2"), col("event_id")).as("v_first"),
            max_by(col("v_e2"), col("event_id")).as("v_last"))
    },
    // Hourly purchase-value series per user, gaps LOCF-filled. DuckDB
    // mirrors bucket = epoch_us // step (positive // == div), the grid
    // via generate_series, and LOCF via IGNORE NULLS last_value.
    // GAP DETECTION — the monitoring complement of the LOCF resample:
    // which hourly buckets inside each series' observed span have NO
    // events at all (a silent producer, a dropped partition). Same
    // calendar-spine idiom (per-key lo/hi + sequence — the spine is
    // span-bounded, generated map-side), anti-join against the
    // observed buckets. Positive-epoch note as in resampleLocf:
    // Spark's `div` truncates where DuckDB's `//` floors — identical
    // on the post-1970 domain.
    sql("events_gap_detection",
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
        |g AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket FROM s)
        |SELECT g.event_type, CAST(g.bucket AS BIGINT) AS missing_bucket
        |FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket
        |WHERE b.n IS NULL""".stripMargin) {
      (s, d) =>
        val b = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("bucket"))
          .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("n"))
        val spans = b.groupBy(col("event_type"))
          .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        spans.select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("bucket"))
          .join(b, Seq("event_type", "bucket"), "left")
          .filter(col("n").isNull)
          .select(col("event_type"), col("bucket").as("missing_bucket"))
    },

    sql("events_resample_locf",
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
        |         max_by(value, event_id) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM s)
        |SELECT g.user_id, g.bucket,
        |  last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |  b.v IS NOT NULL AS observed
        |FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket""".stripMargin) {
      (s, d) =>
        resampleLocf(
          Tables.events(s, d).filter(col("event_type") === "purchase"),
          key = "user_id", ts = "ts", value = "value", seq = "event_id",
          stepMicros = 3600L * 1000000L)
    },

    // WINDOWED RESAMPLE AGGREGATION — the natural next query over a
    // regularized series: tumble the LOCF grid into 6-hour windows per
    // key and aggregate the filled values. Composes [[resampleLocf]]
    // with the window vocabulary: window id = bucket div 6 (integer
    // division over the hourly bucket index — the grid is already a
    // regular integer timeline, so tumbling needs NO timestamp
    // arithmetic and NO Expand), then ONE hash aggregate with
    // map-side combine, partitioned by the same key the resample
    // stages shuffled on. Grid growth stays bounded by resampleLocf's
    // span guard; nothing downstream of it re-expands.
    //
    // Hash-stability over the double metric: the mean folds the exact
    // 2-decimal scaled integers (SUM of BIGINT, exact in any order)
    // and divides once (IEEE correctly rounded); max/count/sum-of-
    // flags do no float arithmetic at all.
    sql("events_resample_window_agg",
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
        |         max_by(value, event_id) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM s),
        |f AS (
        |  SELECT g.user_id, g.bucket,
        |    last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |    b.v IS NOT NULL AS observed
        |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket)
        |SELECT user_id, bucket // 6 AS win,
        |  CAST(SUM(CAST(round(value_filled * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / COUNT(*) / 100.0 AS mean_filled,
        |  max(value_filled) AS max_filled,
        |  CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_observed,
        |  COUNT(*) AS n_buckets
        |FROM f GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        resampleLocf(
            Tables.events(s, d).filter(col("event_type") === "purchase"),
            key = "user_id", ts = "ts", value = "value", seq = "event_id",
            stepMicros = 3600L * 1000000L)
          .select(col("user_id"), expr("bucket div 6").as("win"),
            col("value_filled"), col("observed"))
          .groupBy(col("user_id"), col("win"))
          .agg(
            (sum(round(col("value_filled") * 100, 0).cast("long")).cast("double")
              / count(lit(1)) / lit(100.0)).as("mean_filled"),
            max(col("value_filled")).as("max_filled"),
            sum(col("observed").cast("long")).as("n_observed"),
            count(lit(1)).as("n_buckets"))
    },

    // SKETCH × WINDOW composition — daily distinct users by the
    // mergeable KMV bottom-k sketch ([[graft.functions.KmvDistinctAgg]]),
    // the dashboard query ("DAU, approximately") at 100 TB: one hash
    // aggregate whose per-partition partials are k longs per (day),
    // merged exactly — no exact-distinct shuffle of every user id per
    // window. Deterministic (md5-derived hashes, exact bottom-k), so
    // the approximation sits behind the value-hash gate like
    // agg_kmv_distinct; the day bucket is integer epoch-day of the
    // event time.
    sql("events_window_kmv_users",
      graft.functions.KmvDistinctAgg.oracleSql(
        table = "(SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events) ev",
        groupCols = Seq("day"),
        hashSql = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT",
        k = 64, estAlias = "approx_users")) {
      (s, d) =>
        Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
          .groupBy(col("day"))
          .agg(graft.functions.KmvDistinctAgg.kmv_distinct(
            conv(substring(md5(to_binary(col("user_id").cast("string"), lit("utf-8"))), 1, 15),
              16, 10).cast("long"), 64).as("approx_users"))
    },

    // ANOMALY FLAGS — the metrics-alerting staple: flag an event whose
    // value sits more than 2 sample-stddevs from its user's TRAILING
    // window (8 preceding events, current excluded). The trailing
    // moments (n, Σx, Σx²) are EXACT integer window sums of scaled
    // cents, and mean/variance/threshold evaluate as a fixed tree of
    // single IEEE ops on identical integers — the VAR_SAMP moment
    // discipline applied at the window level, so a BOOLEAN cut
    // (classically nondeterministic when engines disagree in an ulp)
    // sits behind the hash gate. Windows shorter than 4 flag NULL.
    sql("events_anomaly_flags",
      """WITH b AS (
        | SELECT event_id, user_id, ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS v
        | FROM events),
        |w AS (
        | SELECT event_id, user_id, v,
        |  COUNT(v) OVER tw AS n,
        |  SUM(v) OVER tw AS s1,
        |  SUM(v * v) OVER tw AS s2
        | FROM b
        | WINDOW tw AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, CAST(n AS BIGINT) AS n_win,
        | CASE WHEN n < 4 THEN NULL ELSE
        |  abs(CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |   > 2.0 * sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0))
        | END AS is_anomaly
        |FROM w""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val b = Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts"),
          round(col("value") * 100, 0).cast("long").as("v"))
        val tw = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(-8, -1)
        val w = b.select(col("event_id"), col("user_id"), col("v"),
          count(col("v")).over(tw).as("n"),
          sum(col("v")).over(tw).as("s1"),
          sum(col("v") * col("v")).over(tw).as("s2"))
        val nd = col("n").cast("double")
        val s1d = col("s1").cast("double")
        val s2d = col("s2").cast("double")
        val variance = greatest(
          (nd * s2d - s1d * s1d) / (nd * (nd - lit(1.0))), lit(0.0))
        w.select(col("event_id"), col("user_id"), col("n").cast("long").as("n_win"),
          when(col("n") < 4, lit(null).cast("boolean"))
            .otherwise(abs(col("v").cast("double") - s1d / nd) >
              lit(2.0) * sqrt(variance)).as("is_anomaly"))
    },

    // TOP-K PER WINDOW — the trending dashboard query: for each day,
    // the 3 most frequent event types with their counts. Count per
    // (day, type) is one hash aggregate; the per-day top-3 is a rank
    // over the (tiny, one-row-per-(day, type)) aggregate — the window
    // partitions by day, so no corpus-sized state funnels through one
    // task. Ties break lexicographically on the type for a
    // deterministic cut.
    sql("events_trending_types",
      """WITH c AS (
        | SELECT epoch_us(ts) // 86400000000 AS day, event_type, COUNT(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n, rnk FROM (
        | SELECT day, event_type, n,
        |  ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
        | FROM c) t WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val c = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
          .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("event_type"))
        c.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    },

    // STREAMING SKETCH — the mergeable-aggregate contract is exactly
    // what makes a sketch STREAMABLE: the same KMV
    // TypedImperativeAggregate runs as a complete-mode streaming
    // aggregate over replayed micro-batches, its serialized bottom-k
    // buffer carried in the state store and merged per batch. Gated
    // against the identical closed-form oracle as the batch entries:
    // batching must be invisible to the estimate (bottom-k
    // associativity, now exercised THROUGH the streaming state path).
    sql("events_kmv_stream",
      graft.functions.KmvDistinctAgg.oracleSql(
        table = "(SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events) ev",
        groupCols = Seq("day"),
        hashSql = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT",
        k = 64, estAlias = "approx_users")) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          MemorySink}
        import s.implicits._
        val collected = boundedReplayCollect("events_kmv_stream",
          Tables.events(s, d)
            .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
            .as[(Long, Long)])
        replay(s, MemorySink("events_kmv_stream_sink", "complete"), halves(collected.toSeq)) {
          (_, in) => in.head.toDF("day", "user_id")
            .groupBy(col("day"))
            .agg(graft.functions.KmvDistinctAgg.kmv_distinct(
              conv(substring(md5(to_binary(col("user_id").cast("string"), lit("utf-8"))), 1, 15),
                16, 10).cast("long"), 64).as("approx_users"))
        }
    },

    // SKETCH ROLLUP — partial aggregation as DATA: daily KMV sketches
    // (the thing a 100 TB pipeline would PERSIST per partition/day)
    // re-aggregated into weekly distinct-user estimates WITHOUT
    // touching raw events again. Exact rollup: the bottom-k of a union
    // of bottom-k sets IS the bottom-k of the union, so the merged
    // estimate equals a direct sketch of the week — which is what the
    // oracle computes, making the merge path itself the gated claim.
    sql("events_kmv_weekly_rollup",
      graft.functions.KmvDistinctAgg.oracleSql(
        table = "(SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week FROM events) ev",
        groupCols = Seq("week"),
        hashSql = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT",
        k = 64, estAlias = "approx_users")) {
      (s, d) =>
        val daily = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
          .groupBy(col("day"))
          .agg(graft.functions.KmvDistinctAgg.kmv_sketch(
            conv(substring(md5(to_binary(col("user_id").cast("string"), lit("utf-8"))), 1, 15),
              16, 10).cast("long"), 64).as("sketch"))
        daily
          .select(expr("day div 7").as("week"), col("sketch"))
          .groupBy(col("week"))
          .agg(graft.functions.KmvDistinctAgg.kmv_merge_estimate(col("sketch"), 64)
            .as("approx_users"))
    },

    // TWO-LEVEL rollup TREE — daily sketches merge into weekly
    // SKETCHES (kmv_merge_sketch, still sketch-valued) which merge
    // into the monthly (30-day) ESTIMATE: the lakehouse aggregation
    // hierarchy (persist day partials, derive week/month without
    // re-reading raw events). The oracle computes the month DIRECTLY
    // from raw events, so the gated claim is exactness through BOTH
    // merge levels (bottom-k associativity).
    sql("events_kmv_monthly_rollup",
      graft.functions.KmvDistinctAgg.oracleSql(
        table = "(SELECT user_id, (epoch_us(ts) // 86400000000) // 30 AS month FROM events) ev",
        groupCols = Seq("month"),
        hashSql = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT",
        k = 64, estAlias = "approx_users")) {
      (s, d) =>
        import graft.functions.KmvDistinctAgg.{kmv_merge_estimate, kmv_merge_sketch, kmv_sketch}
        val daily = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
          .groupBy(col("day"))
          .agg(kmv_sketch(
            conv(substring(md5(to_binary(col("user_id").cast("string"), lit("utf-8"))), 1, 15),
              16, 10).cast("long"), 64).as("sketch"))
        val weekly = daily
          // weeks anchored to the 30-day month grid so every week's
          // days land in exactly one month (7 does not divide 30;
          // calendar-anchored weeks would straddle months and make
          // the two-level tree semantically wrong, not just inexact)
          .select(expr("day div 30").as("month"), expr("(day % 30) div 7").as("wk"),
            col("sketch"))
          .groupBy(col("month"), col("wk"))
          .agg(kmv_merge_sketch(col("sketch"), 64).as("sketch"))
        weekly
          .groupBy(col("month"))
          .agg(kmv_merge_estimate(col("sketch"), 64).as("approx_users"))
    },

    // QUANTILE rollup TREE — the percentile twin of the KMV tree:
    // daily QUANTIZED-HISTOGRAM sketches (q_sketch, bucket = e2-value
    // >> 4) merge into weekly sketches (q_merge_sketch) merge into
    // monthly p50/p95/p99 at EXACT integer ranks ⌈p·N/1000⌉
    // (q_merge_quantile). The oracle computes the month DIRECTLY from
    // raw events under the same quantization, so the gated claim is
    // exactness of BOTH merge levels (count addition is associative)
    // — percentile rollup without re-reading raw events, determinism
    // by integer ranks instead of KLL's sampling randomness.
    sql("events_quantile_sketch_rollup",
      """WITH q AS (
        | SELECT (epoch_us(ts) // 86400000000) // 30 AS month,
        |  (CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 16) AS b
        | FROM events WHERE value IS NOT NULL),
        |c AS (SELECT month, b, COUNT(*) AS n FROM q GROUP BY 1, 2),
        |t AS (SELECT month, b, n,
        |  SUM(n) OVER (PARTITION BY month ORDER BY b) AS cum,
        |  SUM(n) OVER (PARTITION BY month) AS tot FROM c)
        |SELECT month,
        | MIN(CASE WHEN cum >= (tot * 500 + 999) // 1000 THEN b * 16 END) AS p50_e2,
        | MIN(CASE WHEN cum >= (tot * 950 + 999) // 1000 THEN b * 16 END) AS p95_e2,
        | MIN(CASE WHEN cum >= (tot * 990 + 999) // 1000 THEN b * 16 END) AS p99_e2
        |FROM t GROUP BY month""".stripMargin) {
      (s, d) =>
        import graft.functions.QuantileSketchAgg.{q_merge_quantile, q_merge_sketch, q_sketch}
        val daily = Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v_e2"))
          .groupBy(col("day"))
          .agg(q_sketch(col("v_e2"), 4).as("sketch"))
        val weekly = daily
          // same month-anchored week grid as the KMV tree (see above)
          .select(expr("day div 30").as("month"), expr("(day % 30) div 7").as("wk"),
            col("sketch"))
          .groupBy(col("month"), col("wk"))
          .agg(q_merge_sketch(col("sketch")).as("sketch"))
        weekly
          .groupBy(col("month"))
          .agg(q_merge_quantile(col("sketch"), 500, 4).as("p50_e2"),
            q_merge_quantile(col("sketch"), 950, 4).as("p95_e2"),
            q_merge_quantile(col("sketch"), 990, 4).as("p99_e2"))
    },

    // TIME-RANGE window frame — RANGE BETWEEN INTERVAL, the frame kind
    // the window family had not yet gated (rank/lag/ntile are
    // row-positional, window_moving_avg is a ROWS frame): per user,
    // the trailing-hour purchase total at every purchase. The frame
    // bound is integer epoch-SECONDS in both engines (Spark's
    // rangeBetween on a long orderBy; DuckDB RANGE with the same
    // integer key), so frame membership is set-identical and the
    // integer-cents SUM over it is order-independent — ties in ts
    // don't matter because a RANGE frame includes all peers. One
    // shuffle on user_id; state is the frame, never the partition.
    sql("events_range_frame_sum",
      """SELECT event_id, user_id,
        | CAST(SUM(v_e2) OVER (PARTITION BY user_id ORDER BY sec
        |                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_e2,
        | COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
        |                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_trailing
        |FROM (
        | SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec,
        |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_e2
        | FROM events WHERE event_type = 'purchase') t""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
          .rangeBetween(-3600L, 0L)
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts) div 1000000").as("sec"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v_e2"))
          .select(col("event_id"), col("user_id"),
            sum(col("v_e2")).over(w).as("trailing_e2"),
            count(lit(1)).over(w).as("n_trailing"))
    },

    // KMV SET OPERATIONS — estimating |A∪B|, |A∩B| and Jaccard between
    // two user segments from their SKETCHES alone (Beyer et al.,
    // SIGMOD 2007): the union sketch is the bottom-k of the two
    // sketches' hash union (exact by bottom-k associativity); ρ =
    // |{h ∈ K∪ : h ∈ K_A ∧ h ∈ K_B}| / k is the Jaccard estimator;
    // intersection ≈ ρ · est(|A∪B|). This is what segment-overlap
    // dashboards compute at 100 TB — per-segment sketches persisted
    // once, every pairwise overlap answered from k longs per segment
    // with NO re-scan of raw events. One scan here builds both
    // sketches (conditional ingest, nulls skipped); the set algebra is
    // integer array ops on one row; determinism: set sizes and θ are
    // exact integers, the two IEEE divisions mirror the oracle's
    // operation-for-operation.
    sql("events_kmv_jaccard",
      """WITH h AS (
        | SELECT DISTINCT CASE WHEN value > 150 THEN 'hi' ELSE 'lo' END AS seg,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM events
        | WHERE event_type = 'purchase' AND (value > 150 OR value < 30)),
        |ska AS (SELECT h FROM (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |  WHERE seg = 'hi') WHERE rn <= 64),
        |skb AS (SELECT h FROM (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h
        |  WHERE seg = 'lo') WHERE rn <= 64),
        |u AS (SELECT h FROM (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
        |   SELECT h FROM ska UNION SELECT h FROM skb)) WHERE rn <= 64),
        |stats AS (SELECT COUNT(*) AS nu, MAX(h) AS theta,
        |  SUM(CASE WHEN h IN (SELECT h FROM ska)
        |            AND h IN (SELECT h FROM skb) THEN 1 ELSE 0 END) AS ni
        | FROM u)
        |SELECT CAST(ni * 1000000 // LEAST(64, nu) AS BIGINT) AS jaccard_e6,
        | CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |      ELSE 63 * 1152921504606846976.0 / CAST(theta AS DOUBLE) END AS approx_union,
        | (CAST(ni AS DOUBLE) / LEAST(64, nu)) *
        | (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |       ELSE 63 * 1152921504606846976.0 / CAST(theta AS DOUBLE) END)
        |  AS approx_intersection
        |FROM stats""".stripMargin) {
      (s, d) =>
        import graft.functions.KmvDistinctAgg.kmv_sketch
        val hash = conv(substring(
          md5(to_binary(col("user_id").cast("string"), lit("utf-8"))), 1, 15),
          16, 10).cast("long")
        Tables.events(s, d)
          .filter(col("event_type") === "purchase" &&
            (col("value") > 150 || col("value") < 30))
          .agg(
            kmv_sketch(when(col("value") > 150, hash), 64).as("a"),
            kmv_sketch(when(col("value") < 30, hash), 64).as("b"))
          .select(col("a"), col("b"),
            slice(array_sort(array_union(col("a"), col("b"))), 1, 64).as("u"))
          .select(
            size(col("u")).cast("long").as("nu"),
            element_at(col("u"), size(col("u"))).as("theta"),
            size(array_intersect(array_intersect(col("u"), col("a")), col("b")))
              .cast("long").as("ni"))
          .select(
            expr("ni * 1000000 div least(64L, nu)").as("jaccard_e6"),
            expr("CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE) " +
              "ELSE 63 * 1152921504606846976.0 / CAST(theta AS DOUBLE) END")
              .as("approx_union"),
            expr("(CAST(ni AS DOUBLE) / least(64L, nu)) * " +
              "(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE) " +
              "ELSE 63 * 1152921504606846976.0 / CAST(theta AS DOUBLE) END)")
              .as("approx_intersection"))
    },

    // TOP-K ROLLUP TREE — rankings as DATA, the top-k twin of the KMV
    // and quantile-sketch rollups: per-(type, day) top-3 purchase
    // events persist as bounded arrays (topk_pairs), and the month's
    // per-type top-3 derives by MERGING the daily arrays (topk_merge)
    // — never re-reading raw events. EXACT at every level (top-k of a
    // union of top-k sets IS the union's top-k), so the gated oracle
    // is the direct whole-table window ranking: any divergence in the
    // rollup path fails the hash. At 100 TB this is the leaderboard
    // shape — daily partials land in the lakehouse, rollups are
    // array-merges over k·days rows per group.
    sql("events_topk_daily_rollup",
      """SELECT event_type, CAST(rn AS INT) AS rank, v_e2, event_id
        |FROM (
        | SELECT event_type,
        |  CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v_e2, event_id,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC, event_id) AS rn
        | FROM events WHERE event_type IN ('purchase', 'click')) t
        |WHERE rn <= 3""".stripMargin) {
      (s, d) =>
        import graft.functions.TopKAgg.{topk_pairs, topk_merge}
        val daily = Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_type"), to_date(col("ts")).as("day"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("v_e2"),
            col("event_id"))
          .groupBy(col("event_type"), col("day"))
          .agg(topk_pairs(col("v_e2"), col("event_id"), 3).as("day_top"))
        daily
          .groupBy(col("event_type"))
          .agg(topk_merge(col("day_top"), 3).as("top"))
          .select(col("event_type"), posexplode(col("top")))
          .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
            col("col.score").as("v_e2"), col("col.id").as("event_id"))
    },

    // GAPS-AND-ISLANDS — maximal runs of the same event type per user
    // (the sequence-analytics staple: "3+ consecutive errors", login
    // streaks, repeated-failure detection). The classic two-step:
    // LAG marks each run boundary, a running SUM of the boundary
    // flags numbers the islands, then one aggregate per island. Both
    // window passes share ONE partitioning (user_id) and ONE sort
    // (us, event_id) — a single exchange + sort at any scale — and
    // the island aggregate is the only further shuffle. The (ts,
    // event_id) order is total (event_id unique), so runs are
    // engine-identical; all outputs are integers.
    sql("events_streak_runs",
      """WITH o AS (
        | SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |  CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) = event_type
        |   THEN 0 ELSE 1 END AS brk
        | FROM events),
        |i AS (
        | SELECT user_id, event_type, us,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM o)
        |SELECT user_id, event_type, COUNT(*) AS run_len,
        | MIN(us) AS start_us, MAX(us) AS end_us
        |FROM i GROUP BY user_id, event_type, island
        |HAVING COUNT(*) >= 3""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("brk",
            when(lag(col("event_type"), 1).over(w) === col("event_type"), 0L).otherwise(1L))
          .withColumn("island", sum(col("brk")).over(wr))
          .groupBy(col("user_id"), col("event_type"), col("island"))
          .agg(count(lit(1)).as("run_len"),
            min(col("us")).as("start_us"), max(col("us")).as("end_us"))
          .filter(col("run_len") >= 3)
          .select("user_id", "event_type", "run_len", "start_us", "end_us")
    },

    // CEP PATTERN MATCH, strict contiguity — view NEXT click NEXT
    // purchase in a user's event sequence, the three events STRICTLY
    // CONSECUTIVE (any intervening event of any type breaks the
    // match — Flink CEP's `next()`, MATCH_RECOGNIZE without
    // skip-gaps; contrast events_funnel, which is followed-by-any),
    // and the whole match inside 24 hours. Two LEADs over one
    // (user_id)-partitioned sort answer it in a single window pass —
    // no self-joins, no state machine needed in batch, one exchange
    // at any scale. The streamed twin (events_pattern_stream) runs
    // the same semantics as an incremental per-key state machine
    // behind the SAME oracle.
    sql("events_pattern_match", patternMatchOracle) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("e1", lead(col("event_type"), 1).over(w))
          .withColumn("e2", lead(col("event_type"), 2).over(w))
          .withColumn("end_event", lead(col("event_id"), 2).over(w))
          .withColumn("end_us", lead(col("us"), 2).over(w))
          .filter(col("event_type") === "view" && col("e1") === "click" &&
            col("e2") === "purchase" && col("end_us") - col("us") <= 86400000000L)
          .select(col("user_id"), col("event_id").as("start_event"),
            col("us").as("start_us"), col("end_event"), col("end_us"))
    })
}
