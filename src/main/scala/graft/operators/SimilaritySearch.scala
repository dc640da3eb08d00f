package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.functions.VectorOps._
import graft.TempDirs.tempDir

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths, both oracle-checked:
  *
  *  - brute-force cosine top-k: broadcast the (small) query set against
  *    the corpus and rank. The ranking runs TWO-PHASE — a per-partition
  *    top-k first, then a global top-k over the k·P survivors — so the
  *    final shuffle carries k rows per (query, partition) instead of
  *    the whole corpus per query. At 100 TB / 1000 executors the naive
  *    single window per query would funnel every corpus row through
  *    one task; the two-phase shape is the difference between minutes
  *    and never-finishes.
  *
  *  - sign-LSH bucketed: vectors hash to a 64-bucket sign signature;
  *    candidates are bucket-equal (an equi-join — at scale both sides
  *    hash-partition on the bucket id, no cross product), ranked
  *    within the bucket. Recall depends on the data's cluster
  *    structure (this synthetic corpus is near-orthogonal, so recall
  *    is intentionally modest; the query checks the *machinery*).
  */
object SimilaritySearch {

  private val K = 10
  private val QuerySetSize = 5  // vec_id < 5 are the probe queries

  /** Memoized per-fixture incremental-IVF index dirs (built once:
    * base build + two changelog upserts), removed on JVM exit. */
  private val ivfDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The maintained index for `ann_ivf_incremental`: build from the
    * base corpus (every 10th vector held out), then upsert batch 1 =
    * the held-out vectors as inserts, batch 2 = every `%7==3` vector
    * as deletes (the before-image rides the event, per the CDC
    * contract) — so the final index holds exactly
    * `vec_id % 7 <> 3` under the BASE-frozen quantizer. */
  private def incrementalIvfDir(s: SparkSession, d: String): String =
    ivfDirs.computeIfAbsent(d, _ => {
      val out = tempDir("graft_ivf_inc_").toString
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
      graft.sources.IvfIndex.build(e.filter(col("vec_id") % 10 =!= 0), out, IvfCells)
      graft.sources.IvfIndex.upsert(s, out,
        e.filter(col("vec_id") % 10 === 0).withColumn("tag", lit(1)))
      graft.sources.IvfIndex.upsert(s, out,
        e.filter(col("vec_id") % 7 === 3).withColumn("tag", lit(-1)))
      out
    })

  /** The ghost-changelog maintained index for `ann_ivf_maintained` —
    * the unified harness the dedup/BM25 maintained entries use, on the
    * ANN surface: build from the batch-0 slice (the quantizer freezes
    * there), insert the remaining slices PLUS ghost copies (same
    * vectors, shifted ids), then delete the ghosts. Every step is a
    * cell-pruned [[graft.sources.IvfIndex.upsert]]; the final index
    * must hold exactly the full corpus under the batch-0-frozen
    * quantizer, and the ghosts must leave no trace — proven against a
    * from-scratch oracle over the final corpus. */
  private def maintainedIvfDir(s: SparkSession, d: String): String =
    ivfDirs.computeIfAbsent(s"$d#maintained", _ => {
      val out = tempDir("graft_ivf_maint_").toString
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
      val ghosts = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("v"))
      graft.sources.IvfIndex.build(e.filter(col("vec_id") % 3 === 0), out, IvfCells)
      graft.sources.IvfIndex.upsert(s, out,
        e.filter(col("vec_id") % 3 === 1).unionAll(ghosts).withColumn("tag", lit(1)))
      graft.sources.IvfIndex.upsert(s, out,
        e.filter(col("vec_id") % 3 === 2).withColumn("tag", lit(1)))
      // the delete events carry the before-image vector (the CDC
      // contract) so routing finds the ghost's cell without a lookup
      graft.sources.IvfIndex.upsert(s, out, ghosts.withColumn("tag", lit(-1)))
      out
    })

  /** The maintained index with the RESPLIT wired into the ingest loop
    * (`ann_ivf_maintained_resplit`): build over the full corpus, then
    * a changelog that DELIBERATELY overfills one cell — four ghost
    * generations of the largest cell's members (same vectors, shifted
    * ids: identical routing, so the cell grows 5×) — followed by the
    * post-upsert maintenance check ([[graft.sources.IvfIndex.maintain]],
    * relative bound corpus/8). Pigeonhole guarantees the trigger: the
    * largest cell holds ≥ n/32, so after the ghosts it holds 5m >
    * (n+4m)/8 ⟺ 36m > n, true at every fixture scale. The oracle
    * re-derives the post-split assignment from scratch, so a split
    * that fires on the wrong cell, re-routes a member wrong, or fails
    * to fire at all breaks the hash. */
  private def maintainedResplitIvfDir(s: SparkSession, d: String): String =
    ivfDirs.computeIfAbsent(s"$d#maintresplit", _ => {
      val out = tempDir("graft_ivf_mres_").toString
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
      graft.sources.IvfIndex.build(e, out, IvfCells)
      val tgt = graft.sources.IvfIndex.read(s, out)
        .groupBy("cent_id").count()
        .orderBy(col("count").desc, col("cent_id"))
        .limit(1).collect()(0).getLong(0)
      val members = graft.sources.Bucketing.readPartition(s, out, "cent_id", Seq(tgt))
        .select(col("vec_id"), col("v"))
      val ghosts = (1 to 4).map(g => members.select(
          (col("vec_id") + lit(g * 1000000000L)).as("vec_id"), col("v")))
        .reduce(_ unionAll _)
      graft.sources.IvfIndex.upsert(s, out, ghosts.withColumn("tag", lit(1)))
      val split = graft.sources.IvfIndex.maintain(s, out, denom = 8,
        subCells = ResplitSubCells)
      require(split.nonEmpty,
        "the ghost overfill must trigger a maintained resplit")
      out
    })

  /** IVF cell count — a PARAMETER, not a function of the corpus (take
    * ≈ √n in production; 32 suits the fixture). The broadcast centroid
    * set and the per-vector assignment cost stay k × dim at any scale. */
  val IvfCells = 32

  /** Deliberately under-provisioned cell count for the RESPLIT entry
    * (hot cells by construction) and the split fan-out. The size
    * threshold is RELATIVE — corpus/8, half the average cell size at
    * 4 cells — so a hot cell exists at every fixture scale
    * (pigeonhole: the max cell is >= corpus/4). */
  val ResplitCells = 4
  val ResplitSubCells = 2

  /** Memoized per-fixture resplit-index dirs (build coarse → resplit
    * oversized cells once), removed on JVM exit (same map). */
  private def resplitIvfDir(s: SparkSession, d: String): String =
    ivfDirs.computeIfAbsent(s"$d#resplit", _ => {
      val out = tempDir("graft_ivf_resplit_").toString
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
      graft.sources.IvfIndex.build(e, out, ResplitCells)
      graft.sources.IvfIndex.resplit(s, out, e.count() / 8, ResplitSubCells)
      out
    })

  /** Band count for the OR-amplified LSH entry (4 bands x 4 bits over
    * the leading 64 dims). */
  val LshBands = 4

  /** Bounded deterministic coarse centroids: the `k` vectors with the
    * smallest `md5(vec_id)` — an id-hash sample that is uniform-ish in
    * the id space, cross-engine reproducible (md5 is the one hash both
    * engines share), and FIXED-SIZE: unlike a modulo-of-id seed, the
    * centroid count does not grow with the corpus, so assignment stays
    * O(n·k) with a constant-size broadcast instead of O(n²/c) with a
    * corpus-proportional one. Runs as one distributed top-k
    * (TakeOrdered) over a scan. */
  def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** [[seedCentroids]] as its DuckDB mirror (the oracle must pick the
    * identical seed set). */
  def seedCentroidsSql(k: Int): String =
    s"(SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)"

  val defs: Seq[GraftQuery] = Seq(

    // Per-label embedding centroids — the class-prototype computation
    // (semantic-dedup seeds, classifier prototypes, cluster summaries)
    // as ONE hash-aggregate: posexplode to (label, dim) and sum
    // scaled-integer elements, so map-side combine reduces each
    // partition to |labels|·dims longs and float accumulation ORDER
    // can never change the result (the pitfall of naive elementwise
    // double means at cluster scale). Exactness: float→double widening
    // is exact, ×1e7 + half-up round is bit-identical in both engines,
    // integer sums are exact, and the final two divisions are IEEE —
    // which is what puts a CENTROID behind the value-hash gate. Flat
    // (label, pos, mean) rows; assemble arrays downstream if needed.
    sql("embedding_centroids",
      """WITH x AS (
        | SELECT label, unnest(generate_series(1, len(embedding))) - 1 AS pos,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000, 0) AS BIGINT) AS s
        | FROM embeddings)
        |SELECT label, pos,
        | CAST(SUM(s) AS DOUBLE) / COUNT(*) / 10000000.0 AS mean_val,
        | CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM x GROUP BY label, pos""".stripMargin) {
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
          .select(col("label"), col("pos"),
            round(col("e").cast("double") * 10000000, 0).cast("long").as("s"))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("s")).cast("double") / count(lit(1)) / lit(10000000.0)).as("mean_val"),
            count(lit(1)).as("n_vectors"))
    },

    // Every top-k entry ranks — and reports cos_sim — on
    // [[VectorOps.cosineExact]] over [[VectorOps.quantVec7]]-quantized
    // vectors: dots/norms are exact integers (< 2^53) under any
    // summation order, so rank keys AND displayed values are
    // bit-identical across engines by construction, and a last-ulp
    // tie at the rank-K cutoff cannot change top-k membership (the
    // latent flip a simRank7-of-raw-double key still allowed).
    sql("ann_bruteforce_topk",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QuerySetSize)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT q.query_id, e.vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineExactSql("q.qv", "e.v")} DESC, e.vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("q.qv", "e.v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM q, e WHERE e.vec_id <> q.query_id) t
         |WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val cos = cosineExact(col("qv"), col("v"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), cos.as("c"))
        // Phase 1: local top-k inside each scan partition (no shuffle).
        val local = Window.partitionBy(col("query_id"), spark_partition_id())
          .orderBy(col("c").desc, col("neighbor_id"))
        // Phase 2: global top-k over the k·P survivors (tiny shuffle).
        val global = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        scored
          .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= K).drop("lrnk")
          .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // kNN CLASSIFICATION — labels put the search surface to work: each
    // query vector takes the majority label of its K nearest neighbors
    // (two-phase top-k as above, then one tiny aggregate over K rows
    // per query). Deterministic end to end — EXACT BY CONSTRUCTION
    // like every entry here: neighbors rank on
    // [[VectorOps.cosineExact]] over
    // [[VectorOps.quantVec7]]-quantized integer vectors, whose dots
    // and norms are exact (< 2^53) under any summation order, so the
    // rank key is bit-identical across engines and a last-ulp cosine
    // tie at the K=10 cutoff CANNOT flip the categorical vote (the
    // latent failure simRank7 still allowed when two candidates
    // straddled a rounding boundary within an ulp). Ties break on
    // vec_id, label-vote ties on the smaller label — so a CLASSIFIER
    // sits behind the value-hash gate. Same bounded broadcast-scan
    // shape as ann_bruteforce_topk (the declared survey baseline); the
    // LSH/IVF paths swap in as the candidate generator at corpus
    // scale.
    sql("ann_knn_classify",
      s"""WITH e AS (SELECT vec_id, label, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QuerySetSize),
         |nn AS (
         | SELECT query_id, label FROM (
         |  SELECT q.query_id, e.label,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "e.v")} DESC, e.vec_id) AS rnk
         |  FROM q, e WHERE e.vec_id <> q.query_id) t
         | WHERE rnk <= 10),
         |votes AS (SELECT query_id, label, COUNT(*) AS n FROM nn GROUP BY 1, 2)
         |SELECT query_id, label AS predicted_label, CAST(n AS BIGINT) AS votes FROM (
         | SELECT query_id, label, n,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n DESC, label) AS r
         | FROM votes) v WHERE r = 1""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), quantVec7(col("embedding")).as("v"))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"), col("label"),
            cosineExact(col("qv"), col("v")).as("c"))
        val local = Window.partitionBy(col("query_id"), spark_partition_id())
          .orderBy(col("c").desc, col("vec_id"))
        val global = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("vec_id"))
        val voteOrder = Window.partitionBy(col("query_id"))
          .orderBy(col("n").desc, col("label"))
        scored
          .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 10).drop("lrnk")
          .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= 10)
          .groupBy(col("query_id"), col("label"))
          .agg(count(lit(1)).as("n"))
          .withColumn("r", row_number().over(voteOrder)).filter(col("r") === 1)
          .select(col("query_id"), col("label").as("predicted_label"),
            col("n").cast("long").as("votes"))
    },

    // PC1 BY EXACT POWER ITERATION — the embedding-compression /
    // whitening diagnostic (dominant direction of the corpus), made
    // cross-engine DETERMINISTIC end to end: the (16×16 leading-dim)
    // GRAM MATRIX is the data-sized work — one explode + self-join +
    // hash aggregate over e3-quantized integers, exact under any
    // summation order — and collapses to a FIXED 136-entry scalar
    // frame (the same bounded-collect class as the IVF centroids);
    // the 6 power-iteration rounds then run on that constant-size
    // matrix in exact integer arithmetic (Σ G·v ≤ 2.2e15 < 2^53 at
    // this quantization, so even the DOUBLE renormalization
    // (FLOOR(w·1e6/max|w| + 0.5), three correctly-rounded IEEE ops —
    // the repo's half-up convention) is bit-identical in both
    // engines; the oracle unrolls the identical rounds as CTE hops).
    // At larger corpora the e3 grid re-scales to keep Σ|G|·1e6·16
    // under 2^53 — a parameter choice, not a shape change; the Gram
    // aggregate stays the only input-sized stage at any scale.
    sql("embedding_pc1_power", {
      val rounds = (1 to 6).map { k =>
        s"""w$k AS (SELECT gf.i AS pos, CAST(SUM(g * v) AS BIGINT) AS w
           |  FROM gfull gf JOIN v${k - 1} ON gf.j = v${k - 1}.pos GROUP BY 1),
           |m$k AS (SELECT MAX(ABS(w)) AS m FROM w$k),
           |v$k AS (SELECT pos, CAST(FLOOR(w * 1000000.0 / m + 0.5) AS BIGINT) AS v
           |  FROM w$k, m$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS (
         | SELECT vec_id, pos, CAST(round(CAST(v AS DOUBLE) * 1000, 0) AS BIGINT) AS q
         | FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) - 1 AS pos,
         |        unnest(embedding) AS v FROM embeddings)
         | WHERE pos < 16),
         |gram AS (SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS g
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
         |  GROUP BY 1, 2),
         |gfull AS (SELECT i, j, g FROM gram
         |          UNION ALL SELECT j, i, g FROM gram WHERE i < j),
         |v0 AS (SELECT DISTINCT i AS pos, CAST(1000000 AS BIGINT) AS v FROM gfull),
         |$rounds
         |SELECT pos, v AS loading_e6 FROM v6""".stripMargin
    }) {
      (s, d) =>
        val dims = 16
        val ex = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .filter(col("pos") < dims)
          .select(col("vec_id"), col("pos"),
            round(col("v").cast("double") * 1000, 0).cast("long").as("q"))
        val a = ex.select(col("vec_id"), col("pos").as("i"), col("q").as("qi"))
        val b = ex.select(col("vec_id").as("vid2"), col("pos").as("j"), col("q").as("qj"))
        val gramRows = a.join(b, col("vec_id") === col("vid2") && col("i") <= col("j"))
          .groupBy(col("i"), col("j")).agg(sum(col("qi") * col("qj")).as("g"))
          .collect() // fixed d·(d+1)/2 = 136 entries — bounded by construction
        val g = Array.ofDim[Long](dims, dims)
        gramRows.foreach { r =>
          val (i, j, x) = (r.getInt(0), r.getInt(1), r.getLong(2))
          g(i)(j) = x; g(j)(i) = x
        }
        var v = Array.fill(dims)(1000000L)
        for (_ <- 1 to 6) {
          val w = Array.tabulate(dims)(i =>
            (0 until dims).map(j => g(i)(j) * v(j)).sum)
          val m = w.map(math.abs).max
          v = w.map(x => math.floor(x.toDouble * 1000000.0 / m.toDouble + 0.5).toLong)
        }
        import s.implicits._
        v.zipWithIndex.map { case (l, p) => (p, l) }.toSeq
          .toDF("pos", "loading_e6")
          .select(col("pos").cast("int").as("pos"), col("loading_e6"))
    },

    // HARD-NEGATIVE MINING — the contrastive-training data step: for
    // each query vector, the top-5 most similar vectors with a
    // DIFFERENT label ("looks like it, isn't it" — the pairs a
    // contrastive loss learns the most from). Identical bounded
    // broadcast-scan + two-phase top-k shape as ann_bruteforce_topk,
    // with the label-inequality predicate riding the same pass —
    // exact integer cosine keys, so the rank-5 cutoff is
    // deterministic cross-engine; at corpus scale the LSH/IVF
    // candidate generators swap in, with the label filter applied to
    // their candidate stream.
    sql("ann_hard_negatives",
      s"""WITH e AS (SELECT vec_id, label, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
         |      FROM e WHERE vec_id < $QuerySetSize)
         |SELECT query_id, query_label, neighbor_id, neighbor_label, rnk, cos_sim FROM (
         | SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
         |  e.label AS neighbor_label,
         |  ROW_NUMBER() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineExactSql("q.qv", "e.v")} DESC, e.vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("q.qv", "e.v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM q, e WHERE e.label <> q.query_label) t
         |WHERE rnk <= 5""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), quantVec7(col("embedding")).as("v"))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("label").as("query_label"),
            col("v").as("qv"))
        val scored = e.join(broadcast(q), col("label") =!= col("query_label"))
          .select(col("query_id"), col("query_label"),
            col("vec_id").as("neighbor_id"), col("label").as("neighbor_label"),
            cosineExact(col("qv"), col("v")).as("c"))
        val local = Window.partitionBy(col("query_id"), spark_partition_id())
          .orderBy(col("c").desc, col("neighbor_id"))
        val global = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        scored
          .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 5).drop("lrnk")
          .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= 5)
          .select(col("query_id"), col("query_label"), col("neighbor_id"),
            col("neighbor_label"), col("rnk"), floorRound6(col("c")).as("cos_sim"))
    },

    // IVF (inverted-file) ANN — the production scale path: a coarse
    // quantizer (FIXED-SIZE deterministic centroid sample, see
    // seedCentroids) partitions the corpus into cells; a query probes
    // only its nprobe nearest cells, so the per-query scan is
    // corpus/C × nprobe instead of the whole corpus. Assignment is
    // corpus × C dots with the constant-size centroid set broadcast;
    // the cell id becomes the partition key of the index — at 100 TB
    // the assigned table is written partitioned/bucketed by cent_id
    // and a probe reads only its cells.
    sql("ann_ivf_topk",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |c AS ${seedCentroidsSql(IvfCells)},
         |assigned AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT e.vec_id, e.v, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${cosineExactSql("e.v", "c.cv")} DESC, c.cent_id) AS r
         |  FROM e, c) t WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QuerySetSize),
         |probe AS (
         | SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "c.cv")} DESC, c.cent_id) AS r
         |  FROM q, c) t WHERE r <= 2),
         |cand AS (
         | SELECT p.query_id, p.qv, a.vec_id, a.v
         | FROM probe p JOIN assigned a ON a.cent_id = p.cent_id
         | WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
        val cents = seedCentroids(e, IvfCells)
        val assignW = Window.partitionBy(col("vec_id"))
          .orderBy(cosineExact(col("v"), col("cv")).desc, col("cent_id"))
        val assigned = e.join(broadcast(cents))
          .withColumn("r", row_number().over(assignW)).filter(col("r") === 1)
          .select(col("vec_id"), col("v"), col("cent_id"))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("cv")).desc, col("cent_id"))
        val probes = q.join(broadcast(cents))
          .withColumn("r", row_number().over(probeW)).filter(col("r") <= 2)
          .select(col("query_id"), col("qv"), col("cent_id"))
        val rankW = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        probes.join(assigned, Seq("cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosineExact(col("qv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(rankW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // INCREMENTAL IVF — the index's UPDATE story, oracle-gated (the
    // machinery is spec'd in IvfIndexSpec; this entry gates the
    // semantics): the probe below runs against a PERSISTED index that
    // was built from a base corpus and then maintained through two
    // changelog batches (held-out inserts, then deletes) via
    // cell-pruned dynamic-partition rewrites ([[graft.sources.
    // IvfIndex.upsert]]). The oracle computes the same top-k from the
    // post-changelog corpus under the BASE-frozen quantizer — so the
    // gated claim is that incremental maintenance converges to exactly
    // the index a fresh assignment of the final corpus would give.
    sql("ann_ivf_incremental",
      s"""WITH e0 AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, v AS cv FROM e0 WHERE vec_id % 10 <> 0
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $IvfCells),
         |fin AS (SELECT vec_id, v FROM e0 WHERE vec_id % 7 <> 3),
         |assigned AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT f.vec_id, f.v, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY f.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("f.v", "c.cv"))} DESC, c.cent_id) AS r
         |  FROM fin f, c) t WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM fin WHERE vec_id < $QuerySetSize),
         |probe AS (
         | SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "c.cv")} DESC, c.cent_id) AS r
         |  FROM q, c) t WHERE r <= 2),
         |cand AS (
         | SELECT p.query_id, p.qv, a.vec_id, a.v
         | FROM probe p JOIN assigned a ON a.cent_id = p.cent_id
         | WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val path = incrementalIvfDir(s, d)
        val assigned = graft.sources.IvfIndex.read(s, path)
        val cents = graft.sources.IvfIndex.centroids(s, path)
        val q = assigned.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("cv")).desc, col("cent_id"))
        val probes = q.join(broadcast(cents))
          .withColumn("r", row_number().over(probeW)).filter(col("r") <= 2)
          .select(col("query_id"), col("qv"), col("cent_id"))
        val rankW = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        probes.join(assigned, Seq("cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosineExact(col("qv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(rankW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // … and under the GHOST changelog (see [[maintainedIvfDir]]): the
    // unified inject-then-delete harness on the ANN surface — ghost
    // copies of every 50th vector ride insert batches and are later
    // deleted, all via cell-pruned upserts, so insert AND delete
    // maintenance is oracle-gated end-to-end. The oracle assigns the
    // FINAL corpus (ghosts gone) under the batch-0-frozen quantizer:
    // a leaked ghost, a lost real vector, or a mis-routed cell all
    // break the hash.
    sql("ann_ivf_maintained",
      s"""WITH e0 AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, v AS cv FROM e0 WHERE vec_id % 3 = 0
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $IvfCells),
         |assigned AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT f.vec_id, f.v, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY f.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("f.v", "c.cv"))} DESC, c.cent_id) AS r
         |  FROM e0 f, c) t WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e0 WHERE vec_id < $QuerySetSize),
         |probe AS (
         | SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "c.cv")} DESC, c.cent_id) AS r
         |  FROM q, c) t WHERE r <= 2),
         |cand AS (
         | SELECT p.query_id, p.qv, a.vec_id, a.v
         | FROM probe p JOIN assigned a ON a.cent_id = p.cent_id
         | WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val path = maintainedIvfDir(s, d)
        val assigned = graft.sources.IvfIndex.read(s, path)
        val cents = graft.sources.IvfIndex.centroids(s, path)
        val q = assigned.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("cv")).desc, col("cent_id"))
        val probes = q.join(broadcast(cents))
          .withColumn("r", row_number().over(probeW)).filter(col("r") <= 2)
          .select(col("query_id"), col("qv"), col("cent_id"))
        val rankW = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        probes.join(assigned, Seq("cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosineExact(col("qv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(rankW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // … and with the RESPLIT inside the maintained path (see
    // [[maintainedResplitIvfDir]]): a changelog concentrates mass into
    // one cell until the post-upsert maintenance check fires and
    // splits it locally — the drift recourse the frozen-quantizer
    // contract needs under a long changelog. The oracle re-derives
    // build → ghost upsert → threshold → sub-seeds → local re-route
    // from scratch, then probes the post-split centroid set.
    sql("ann_ivf_maintained_resplit",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |c0 AS ${seedCentroidsSql(IvfCells)},
         |a0e AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT f.vec_id, f.v, c0.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY f.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("f.v", "c0.cv"))} DESC, c0.cent_id) AS r
         |  FROM e f, c0) t WHERE r = 1),
         |tgt AS (SELECT cent_id FROM (
         |  SELECT cent_id, COUNT(*) AS n FROM a0e GROUP BY cent_id) s
         | ORDER BY n DESC, cent_id LIMIT 1),
         |gh AS (SELECT a.vec_id + g.g * 1000000000 AS vec_id, a.v, a.cent_id
         |       FROM a0e a JOIN tgt t ON t.cent_id = a.cent_id
         |       CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS g) g),
         |a0 AS (SELECT vec_id, v, cent_id FROM a0e
         |       UNION ALL SELECT vec_id, v, cent_id FROM gh),
         |ov AS (SELECT cent_id FROM (SELECT cent_id, COUNT(*) AS n FROM a0 GROUP BY cent_id) s
         |       WHERE n > (SELECT COUNT(*) // 8 FROM a0)),
         |sub AS (
         | SELECT old_cent, new_cent, cv FROM (
         |  SELECT a0.cent_id AS old_cent, a0.vec_id AS new_cent, a0.v AS cv,
         |   ROW_NUMBER() OVER (PARTITION BY a0.cent_id
         |     ORDER BY md5(CAST(a0.vec_id AS VARCHAR)), a0.vec_id) AS r
         |  FROM a0 JOIN ov ON ov.cent_id = a0.cent_id
         |  WHERE a0.vec_id NOT IN (SELECT cent_id FROM c0)) t WHERE r <= $ResplitSubCells),
         |rea AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT a0.vec_id, a0.v, s.new_cent AS cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY a0.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("a0.v", "s.cv"))} DESC, s.new_cent) AS r
         |  FROM a0 JOIN sub s ON s.old_cent = a0.cent_id) t WHERE r = 1),
         |a1 AS (SELECT vec_id, v, cent_id FROM a0 WHERE cent_id NOT IN (SELECT cent_id FROM ov)
         |       UNION ALL SELECT vec_id, v, cent_id FROM rea),
         |c1 AS (SELECT cent_id, cv FROM c0 WHERE cent_id NOT IN (SELECT cent_id FROM ov)
         |       UNION ALL SELECT new_cent, cv FROM sub),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QuerySetSize),
         |probe AS (
         | SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, c1.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "c1.cv")} DESC, c1.cent_id) AS r
         |  FROM q, c1) t WHERE r <= 2),
         |cand AS (
         | SELECT p.query_id, p.qv, a.vec_id, a.v
         | FROM probe p JOIN a1 a ON a.cent_id = p.cent_id
         | WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val path = maintainedResplitIvfDir(s, d)
        val assigned = graft.sources.IvfIndex.read(s, path)
        val cents = graft.sources.IvfIndex.centroids(s, path)
        require(cents.count() > IvfCells,
          "maintenance must have split at least one overfilled cell")
        val q = assigned.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("cv")).desc, col("cent_id"))
        val probes = q.join(broadcast(cents))
          .withColumn("r", row_number().over(probeW)).filter(col("r") <= 2)
          .select(col("query_id"), col("qv"), col("cent_id"))
        val rankW = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        probes.join(assigned, Seq("cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosineExact(col("qv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(rankW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // BANDED sign-LSH — OR-amplification for recall: each vector hashes
    // to FOUR 4-bit band buckets; candidates match in ANY band. The
    // "any band" disjunction stays a single EQUI-join on the composite
    // (band, bucket) key over band-exploded rows (4 rows per vector,
    // a constant blow-up) — never a union of per-band corpus joins and
    // never an OR in a join condition (which would plan a nested
    // loop). Matched pairs dedup on (query, neighbor) before the
    // (per-pair, 64-element) cosine is computed ONCE via an id
    // re-join, so multi-band collisions don't multiply rank work.
    // Shorter bands => more collisions => higher recall than
    // ann_lsh_topk's single 64-bucket signature, same scale shape.
    sql("ann_lsh_banded_topk", {
      val bandRows = (0 until LshBands).map(j =>
        s"SELECT vec_id, $j AS band, ${signBandBucketSql("v", j)} AS bucket FROM e")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |br AS ($bandRows),
         |qb AS (SELECT vec_id AS query_id, band, bucket FROM br WHERE vec_id < $QuerySetSize),
         |pairs AS (
         | SELECT DISTINCT qb.query_id, br.vec_id AS neighbor_id
         | FROM qb JOIN br ON br.band = qb.band AND br.bucket = qb.bucket
         |  AND br.vec_id <> qb.query_id),
         |scored AS (
         | SELECT p.query_id, p.neighbor_id,
         |  ${cosineExactSql("eq.v", "en.v")} AS c
         | FROM pairs p
         | JOIN e eq ON eq.vec_id = p.query_id
         | JOIN e en ON en.vec_id = p.neighbor_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rnk,
         |  FLOOR(c * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM scored) t WHERE rnk <= $K""".stripMargin
    }) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
        val bandCols = array((0 until LshBands).map(j => signBandBucket(col("v"), j)): _*)
        val br = e.select(col("vec_id"), posexplode(bandCols).as(Seq("band", "bucket")))
        val qb = br.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
        val pairs = br.join(broadcast(qb),
            br("band") === qb("band") && br("bucket") === qb("bucket") &&
              br("vec_id") =!= qb("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
          .distinct()
        val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
        pairs
          .join(e.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
          .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            cosineExact(col("qv"), col("nv")).as("c"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    sql("ann_lsh_topk",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${signBucketSql("v")} AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b WHERE vec_id < $QuerySetSize)
         |SELECT query_id, neighbor_id, bucket, rnk, cos_sim FROM (
         | SELECT q.query_id, b.vec_id AS neighbor_id, b.bucket,
         |  ROW_NUMBER() OVER (PARTITION BY q.query_id
         |    ORDER BY ${cosineExactSql("q.qv", "b.v")} DESC, b.vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("q.qv", "b.v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM q JOIN b ON b.bucket = q.qbucket AND b.vec_id <> q.query_id) t
         |WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
          .withColumn("bucket", signBucket(col("v")))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket").as("qbucket"))
        val cos = cosineExact(col("qv"), col("v"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
        e.join(broadcast(q), col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"), cos.as("c"))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("bucket"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // LABEL MARGIN — the cluster-quality diagnostic for the semantic
    // surface: per label, the mean of (cosine to OWN centroid − best
    // cosine to any OTHER centroid) over its members. Positive margin
    // = the label is a real cluster; near zero = semantic dedup by
    // label is noise. Centroids are dim-wise means RE-QUANTIZED to
    // the e7 grid (exact integer sums, ONE division + half-up floor
    // per dim — both engines identical), so every similarity is the
    // exact integer simRank7(cosineExact) key and the label means are
    // exact integer sums with one final division. Fixed-|labels|
    // broadcast (the k-means/IVF class), no corpus pair shapes.
    sql("embedding_label_margin",
      s"""WITH e AS (SELECT vec_id, label, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |dims AS (SELECT label AS clabel, unnest(generate_series(1, len(v))) - 1 AS pos,
         |         unnest(v) AS s FROM e),
         |cm AS (SELECT clabel, pos, FLOOR(SUM(s) / COUNT(*) + 0.5) AS m
         |       FROM dims GROUP BY clabel, pos),
         |cent AS (SELECT clabel, list(m ORDER BY pos) AS cv FROM cm GROUP BY clabel),
         |sims AS (
         | SELECT e.vec_id, e.label, c.clabel,
         |  ${simRank7Sql(cosineExactSql("e.v", "c.cv"))} AS sim
         | FROM e, cent c),
         |margins AS (
         | SELECT vec_id, label,
         |  MAX(CASE WHEN clabel = label THEN sim END) -
         |  MAX(CASE WHEN clabel <> label THEN sim END) AS margin
         | FROM sims GROUP BY vec_id, label)
         |SELECT label, COUNT(*) AS n_vecs,
         | CAST(SUM(CAST(margin AS BIGINT)) AS BIGINT) AS margin_sum_e7,
         | CAST(SUM(CAST(margin AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean_margin_e7
         |FROM margins GROUP BY label""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), quantVec7(col("embedding")).as("v"))
        val cents = e
          .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("pos", "s")))
          .groupBy(col("clabel"), col("pos"))
          .agg(floor(sum(col("s")) / count(lit(1)) + lit(0.5)).cast("double").as("m"))
          .groupBy(col("clabel"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
            .as("cv"))
        e.join(broadcast(cents))
          .select(col("vec_id"), col("label"), col("clabel"),
            simRank7(cosineExact(col("v"), col("cv"))).as("sim"))
          .groupBy(col("vec_id"), col("label"))
          .agg((max(when(col("clabel") === col("label"), col("sim"))) -
            max(when(col("clabel") =!= col("label"), col("sim")))).as("margin"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("margin").cast("long")).as("margin_sum_e7"))
          .select(col("label"), col("n_vecs"), col("margin_sum_e7"),
            (col("margin_sum_e7").cast("double") / col("n_vecs")).as("mean_margin_e7"))
    },

    // IVF RESPLIT — the index-QUALITY maintenance story on a real
    // on-disk index: build deliberately under-provisioned (4 cells →
    // hot cells by construction), then split every oversized cell
    // into 2 sub-cells seeded by the same deterministic md5-of-id
    // rule, members re-routed locally, every other cell frozen. The
    // gated value is the standard nprobe=2 top-k THROUGH the
    // post-split index; the oracle independently re-derives build →
    // size census → sub-seeding → local re-assignment → probe, so the
    // whole maintenance pipeline sits behind the hash gate. The fn
    // self-asserts the split fired (cell count grew) and that the
    // index is still an exact partition of the corpus.
    sql("ann_ivf_resplit",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |c0 AS ${seedCentroidsSql(ResplitCells)},
         |a0 AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT e.vec_id, e.v, c0.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("e.v", "c0.cv"))} DESC, c0.cent_id) AS r
         |  FROM e, c0) t WHERE r = 1),
         |ov AS (SELECT cent_id FROM (SELECT cent_id, COUNT(*) AS n FROM a0 GROUP BY cent_id) s
         |       WHERE n > (SELECT COUNT(*) // 8 FROM e)),
         |sub AS (
         | SELECT old_cent, new_cent, cv FROM (
         |  SELECT a0.cent_id AS old_cent, a0.vec_id AS new_cent, a0.v AS cv,
         |   ROW_NUMBER() OVER (PARTITION BY a0.cent_id
         |     ORDER BY md5(CAST(a0.vec_id AS VARCHAR)), a0.vec_id) AS r
         |  FROM a0 JOIN ov ON ov.cent_id = a0.cent_id
         |  WHERE a0.vec_id NOT IN (SELECT cent_id FROM c0)) t WHERE r <= $ResplitSubCells),
         |rea AS (
         | SELECT vec_id, v, cent_id FROM (
         |  SELECT a0.vec_id, a0.v, s.new_cent AS cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY a0.vec_id
         |     ORDER BY ${simRank7Sql(cosineExactSql("a0.v", "s.cv"))} DESC, s.new_cent) AS r
         |  FROM a0 JOIN sub s ON s.old_cent = a0.cent_id) t WHERE r = 1),
         |a1 AS (SELECT vec_id, v, cent_id FROM a0 WHERE cent_id NOT IN (SELECT cent_id FROM ov)
         |       UNION ALL SELECT vec_id, v, cent_id FROM rea),
         |c1 AS (SELECT cent_id, cv FROM c0 WHERE cent_id NOT IN (SELECT cent_id FROM ov)
         |       UNION ALL SELECT new_cent, cv FROM sub),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $QuerySetSize),
         |probe AS (
         | SELECT query_id, qv, cent_id FROM (
         |  SELECT q.query_id, q.qv, c1.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ${cosineExactSql("q.qv", "c1.cv")} DESC, c1.cent_id) AS r
         |  FROM q, c1) t WHERE r <= 2),
         |cand AS (
         | SELECT p.query_id, p.qv, a.vec_id, a.v
         | FROM probe p JOIN a1 a ON a.cent_id = p.cent_id
         | WHERE a.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t WHERE rnk <= $K""".stripMargin) {
      (s, d) =>
        val path = resplitIvfDir(s, d)
        val assigned = graft.sources.IvfIndex.read(s, path)
        val cents = graft.sources.IvfIndex.centroids(s, path)
        val nCells = cents.count()
        require(nCells > ResplitCells,
          s"resplit must have split at least one hot cell: $nCells cells")
        require(assigned.count() == Tables.embeddings(s, d).count() &&
            assigned.select("vec_id").distinct().count() == assigned.count(),
          "post-split index must remain an exact partition of the corpus")
        val q = assigned.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val probeW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("cv")).desc, col("cent_id"))
        val probes = q.join(broadcast(cents))
          .withColumn("r", row_number().over(probeW)).filter(col("r") <= 2)
          .select(col("query_id"), col("qv"), col("cent_id"))
        val rankW = Window.partitionBy(col("query_id"))
          .orderBy(col("c").desc, col("neighbor_id"))
        probes.join(assigned, Seq("cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            cosineExact(col("qv"), col("v")).as("c"))
          .withColumn("rnk", row_number().over(rankW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            floorRound6(col("c")).as("cos_sim"))
    },

    // INT8 QUANTIZATION — the embedding STORAGE story: a 100 TB vector
    // corpus ships its index tier as per-vector-scaled int8 (4× fewer
    // bytes than float32, 8× fewer than the e7 grid), and this is that
    // compression as a deterministic per-row transform: symmetric
    // max-abs scaling over the exact e7 integer grid, q8ᵢ =
    // ⌊qᵢ·127/amax + ½⌋ — the product is an exact ≤2^31·127 double,
    // the division ONE correctly-rounded IEEE op on identical
    // operands, so the int8 codes are bit-identical cross-engine and
    // the whole codebook sits behind the hash gate. Zero vectors
    // guard amax at 1 (codes all 0). One scan, no shuffle, no joins —
    // the posexplode to (vec_id, amax, pos, code) rows exists ONLY to
    // make every individual code a scalar cell the hash gate can
    // compare (the r8 array-valued shape crashed the harness sort);
    // the stored artifact at scale stays the packed array.
    // INT8 CANDIDATE SEARCH + EXACT RESCORE — the memory-tier ANN
    // pattern embedding_quantize_int8 exists to serve: candidates rank
    // on the DEQUANTIZED int8 dot (code dot × both scales — 4 bytes/dim
    // of index resident instead of 32, the reason the tier exists),
    // the top 3K per query then rescore with the exact e7 cosine and
    // the final top-K ranks on that. Every candidate score is one
    // fixed sequence of IEEE ops over cross-engine-identical inputs
    // (exact integer code dots and integer-valued amax scales), so
    // the candidate CUT is deterministic and the whole two-tier
    // pipeline sits behind the value-hash gate. The fn self-asserts
    // recall ≥ 0.8 against the exact brute-force top-K on the
    // fixture. Scale shape: queries broadcast, one corpus scan per
    // tier, per-query work partitioned (the rescore tier touches 3K
    // rows per query, not the corpus).
    sql("ann_int8_rescore", {
      val dot8 = "list_inner_product(q.q8, e.q8)"
      s"""WITH v AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |a AS (SELECT vec_id, v,
         |  GREATEST(list_max(list_transform(v, x -> ABS(x))), 1.0) AS amax FROM v),
         |e AS (SELECT vec_id, v, amax,
         |  list_transform(v, x -> FLOOR(x * 127 / amax + 0.5)) AS q8 FROM a),
         |q AS (SELECT vec_id AS query_id, v AS qv, amax AS qamax, q8 FROM e
         |      WHERE vec_id < $QuerySetSize),
         |cand AS (
         | SELECT query_id, vec_id, qv, v FROM (
         |  SELECT q.query_id, e.vec_id, q.qv, e.v,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id
         |     ORDER BY ($dot8) * q.qamax * e.amax DESC, e.vec_id) AS crnk
         |  FROM q, e WHERE e.vec_id <> q.query_id) t
         | WHERE crnk <= ${3 * K})
         |SELECT query_id, neighbor_id, rnk, cos_sim FROM (
         | SELECT query_id, vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY ${cosineExactSql("qv", "v")} DESC, vec_id) AS rnk,
         |  FLOOR(${cosineExactSql("qv", "v")} * 1000000 + 0.5) / 1000000 AS cos_sim
         | FROM cand) t
         |WHERE rnk <= $K""".stripMargin
    }) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
          .withColumn("amax",
            greatest(array_max(transform(col("v"), x => abs(x))), lit(1.0)))
          .withColumn("q8",
            transform(col("v"), x => floor(x * 127 / col("amax") + 0.5)))
        val q = e.filter(col("vec_id") < QuerySetSize)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("amax").as("qamax"), col("q8").as("qq8"))
        val dot8 = zip_with(col("qq8"), col("q8"), (a, b) => a * b)
        val approx = aggregate(dot8, lit(0.0d), (acc, x) => acc + x) *
          col("qamax") * col("amax")
        val cw = Window.partitionBy(col("query_id"))
          .orderBy(col("approx").desc, col("vec_id"))
        val cand = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("approx", approx)
          .withColumn("crnk", row_number().over(cw)).filter(col("crnk") <= 3 * K)
          .select(col("query_id"), col("vec_id"), col("qv"), col("v"))
        val rw = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("v")).desc, col("vec_id"))
        val out = cand
          .withColumn("rnk", row_number().over(rw)).filter(col("rnk") <= K)
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
            floorRound6(cosineExact(col("qv"), col("v"))).as("cos_sim"))
        // recall self-assert vs the exact brute-force top-K (fixture
        // scale: QuerySetSize * corpus rows)
        val exactW = Window.partitionBy(col("query_id"))
          .orderBy(cosineExact(col("qv"), col("v")).desc, col("vec_id"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("rnk", row_number().over(exactW)).filter(col("rnk") <= K)
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
        val hit = out.select(col("query_id"), col("neighbor_id"))
          .intersect(exact).count()
        val total = exact.count()
        require(total > 0 && hit.toDouble / total >= 0.8,
          s"int8 candidate tier recall too low: $hit/$total")
        out
    },

    sql("embedding_quantize_int8",
      s"""WITH e AS (SELECT vec_id, ${quantVec7Sql("embedding")} AS v FROM embeddings),
         |a AS (SELECT vec_id, v,
         |  GREATEST(list_max(list_transform(v, x -> ABS(x))), 1.0) AS amax
         | FROM e),
         |q AS (SELECT vec_id, amax,
         |  list_transform(v, x -> CAST(FLOOR(x * 127 / amax + 0.5) AS INTEGER)) AS q8
         | FROM a)
         |SELECT vec_id, amax,
         | CAST(unnest(generate_series(1, len(q8))) - 1 AS INTEGER) AS pos,
         | unnest(q8) AS code
         |FROM q""".stripMargin) {
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"), quantVec7(col("embedding")).as("v"))
          .withColumn("amax",
            greatest(array_max(transform(col("v"), x => abs(x))), lit(1.0)))
          .select(col("vec_id"), col("amax"),
            transform(col("v"),
              x => floor(x * 127 / col("amax") + 0.5).cast("int")).as("q8"))
          .select(col("vec_id"), col("amax"),
            posexplode(col("q8")).as(Seq("pos", "code")))
    })
}
