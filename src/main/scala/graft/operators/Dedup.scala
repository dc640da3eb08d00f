package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.TempDirs.tempDir

/** Deduplication operators over `documents` / `embeddings` — the core
  * of a training-data pipeline. Five families, each with a DuckDB
  * oracle:
  *
  *  - exact: hash-groupBy on a normalized md5 fingerprint. One shuffle
  *    on the 16-byte digest; at 100 TB this is the cheapest possible
  *    dedup (shuffle keys are fixed-width, combiner-friendly).
  *  - MinHash + LSH: shingle → minhash signature → band → bucket
  *    equi-join. The Spark side uses the SCALABLE shape — explode the
  *    signature to (band, hash) rows and self-equi-join — never an
  *    OR-of-bands theta join (which would be a nested-loop cross at
  *    scale). Bands of r=1/b=8 because the synthetic corpus has no
  *    near-dups (measured max 3-shingle jaccard ≈ 0.022); with real
  *    dup-heavy data you'd raise r.
  *  - SimHash: 64-bit bit-majority signature from token md5s, computed
  *    as one exploded-token aggregation (64 SUMs in a single
  *    HashAggregate pass — identical SQL shape in the oracle).
  *  - n-gram Jaccard: character-trigram similarity with a blocking key
  *    (same lang + length bucket) so the pairwise compare is bounded
  *    per block instead of O(n²) over the corpus.
  *  - embedding cosine: near-dup by cosine ≥ τ in float64. The fold
  *    runs element-sequential so it is bit-identical to DuckDB's
  *    list_cosine_similarity on DOUBLE[] (verified empirically:
  *    DuckDB computes dot/(sqrt(na)*sqrt(nb)), same IEEE ops).
  *
  * Cross-engine rules inherited from TextAnalysis: integer divisions
  * produce identical doubles; floor-based rounding where a rounded
  * double must be emitted.
  */
object Dedup {

  private val tokenPattern = "[a-z0-9]+"
  private val NumHashes = 8

  /** k-means cluster count for semantic dedup — a parameter (≈ √n in
    * production), never a function of the corpus size. */
  private val KmeansK = 64

  /** Brute-force cosine near-dup pairs — the RECALL ORACLE for
    * [[dedup_embedding_lsh]], NOT a production operator: the plan is
    * an O(n²) cartesian (BNLJ) that cannot run at corpus scale, which
    * is why it is deliberately NOT in `SparkEntry.queries` (every
    * registered dedup path is bucketed/equi-joined). DedupSpec drives
    * it at fixture scale to measure LSH recall; refuses larger inputs
    * so a caller cannot mistake it for the dedup path. */
  def bruteCosinePairs(s: SparkSession, d: String, maxRows: Long = 20000): DataFrame = {
    import graft.functions.VectorOps.{dot, normSq, toDoubleVec}
    // Per-vector norms precomputed BEFORE the O(n²) pair join —
    // sqrt(Σx²) is the same double whether computed per pair or per
    // vector, so only the dot product remains pairwise.
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val n = e.count()
    require(n <= maxRows,
      s"bruteCosinePairs is the fixture-scale recall oracle (O(n²) cartesian); " +
        s"corpus has $n > $maxRows vectors — use dedup_embedding_lsh / ann_* instead")
    val cos = dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (floor(cos * 1000000 + 0.5) / 1000000).as("cos_sim"), cos.as("_raw"))
      .filter(col("_raw") >= 0.3)
      .drop("_raw")
  }

  /** Normalized-text md5, the exact-dedup key. */
  private def fpCol: Column =
    md5(to_binary(trim(regexp_replace(lower(col("text")), "\\s+", " ")), lit("utf-8")))

  /** doc_id + distinct word-3-shingles ("a b c") of the lowercased
    * alnum token stream (single joined string for <3-token docs).
    * Native [[graft.functions.WordShingles]] — one linear codegen'd
    * pass; see its scaladoc for why the composed HOF form is O(n²). */
  private def shingledOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.WordShingles.word_shingles(
        regexp_extract_all(lower(col("text")), lit(tokenPattern), lit(0)), 3)
        .as("shingles"))

  private def shingled(s: SparkSession, d: String): DataFrame =
    shingledOf(Tables.documents(s, d))

  private val shingledSql: String =
    s"""SELECT doc_id,
       | CASE WHEN len(t) >= 3
       |  THEN list_distinct(list_transform(generate_series(1, len(t)-2),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |  ELSE [array_to_string(t, ' ')] END AS shingles
       |FROM (SELECT doc_id, regexp_extract_all(lower(text), '$tokenPattern') AS t FROM documents)""".stripMargin

  /** Minhash via universal hashing from ONE md5 per shingle: the
    * 60-bit base h = first 15 hex digits of md5(shingle), reduced mod
    * P = 2^31−1, then h_j = (a_j·h + b_j) mod P. One digest per
    * shingle instead of NumHashes digests, and the signature / band
    * keys are BIGINTs, not 32-char strings — an 8× hash-work and ~4×
    * shuffle-width saving that matters at corpus scale. The identical
    * integer arithmetic runs on both engines, so signatures match
    * exactly. */
  private val P = 2147483647L // 2^31 − 1, prime
  private val hashA = Seq(1664525L, 22695477L, 1103515245L, 214013L,
    69069L, 134775813L, 1140671485L, 65793L)
  private val hashB = Seq(1013904223L, 1L, 12345L, 2531011L,
    362437L, 2147483587L, 12820163L, 4282663L)

  /** Spark base hash of a shingle string (matches the DuckDB fragment
    * in [[baseHashSql]] bit-for-bit). */
  private def baseHash(c: Column): Column =
    conv(substring(md5(to_binary(c, lit("utf-8"))), 1, 15), 16, 10).cast("long") % P

  private val baseHashSql = s"('0x' || substr(md5(s), 1, 15))::BIGINT % $P"

  /** (doc_id, h) rows: one 31-bit base hash per distinct shingle. */
  private def baseHashed(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), baseHash(col("s")).as("h"))

  /** The 8 min-aggregates over the rehashed base — ONE HashAggregate
    * pass with map-side partials (the scalable signature shape: no
    * per-row arrays, narrow long columns through the shuffle). */
  private def minhashAggCols: Seq[Column] =
    (0 until NumHashes).map { j =>
      min((lit(hashA(j)) * col("h") + lit(hashB(j))) % P).as(s"h$j")
    }

  private def minhashSelectSql: String =
    (0 until NumHashes).map(j =>
      s"min((${hashA(j)} * h + ${hashB(j)}) % $P) AS h$j").mkString(",\n ")

  // ---- SimHash: shared SQL fragments (valid in BOTH dialects) -------
  // bit b of hex digest h: ((instr('0123456789abcdef', substr(h, b/4+1, 1)) - 1) >> (3 - b%4)) & 1
  private def voteExpr(b: Int): String = {
    val pos = b / 4 + 1
    val shift = 3 - b % 4
    s"SUM(CASE WHEN ((instr('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $shift) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
  }
  /** The simhash oracle — the composed 64-column vote form, ONE text
    * shared by the API entry and its SQL-text twin. */
  private lazy val simhashOracleSql =
    s"""WITH th AS (
       | SELECT doc_id, md5(t) AS h FROM (
       |  SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '$tokenPattern'))) AS t
       |  FROM documents)),
       |bits AS (
       | SELECT doc_id, ${(0 until 64).map(voteExpr).mkString(",\n ")}
       | FROM th GROUP BY doc_id)
       |SELECT doc_id, $hexAssembly AS simhash64 FROM bits""".stripMargin

  private def hexAssembly: String = {
    val digits = (0 until 16).map { dIdx =>
      val terms = (0 until 4).map { k =>
        val b = dIdx * 4 + k
        s"CASE WHEN v$b > 0 THEN ${8 >> k} ELSE 0 END"
      }.mkString(" + ")
      s"substr('0123456789abcdef', ($terms) + 1, 1)"
    }
    s"concat(${digits.mkString(", ")})"
  }

  /** The full minhash-LSH pair pipeline (shared by the pairs query and
    * the connected-components resolution). */
  private val minhashPairsSql: String =
    s"""WITH sh AS ($shingledSql),
       |sig AS (
       | SELECT doc_id, $minhashSelectSql
       | FROM (SELECT doc_id, $baseHashSql AS h
       |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh))
       | GROUP BY doc_id),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM sig a, sig b
       | WHERE a.doc_id < b.doc_id AND (${(0 until NumHashes).map(j => s"a.h$j = b.h$j").mkString(" OR ")}))
       |SELECT c.doc_a, c.doc_b,
       | CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
       |  / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jacc
       |FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b
       |WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
       |  / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.01""".stripMargin

  /** One shared checkpoint of the exploded (doc_id, shingle) rows per
    * (session, fixture dir): pairs, connected components, cluster
    * keepers, and every Bench/Profile warm-up re-call [[minhashPairs]],
    * and a fresh `localCheckpoint` per call would pin a new copy of
    * the blocks in executor storage for the session's lifetime
    * (`catalog.clearCache()` does NOT release checkpointed RDDs).
    *
    * Scale note: `localCheckpoint` stores EXECUTOR-LOCAL and
    * non-replicated — right at fixture scale (~10 MB, measured
    * 2.6 s → 2.1 s), but at corpus scale this intermediate is
    * corpus-sized on executor disk and a lost executor means
    * full-lineage recompute; there, prefer recomputing the narrow
    * explode per consumer or a reliable `checkpoint()` to the
    * cluster FS. */
  private val shingleRowCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def shingleRows(s: SparkSession, d: String): DataFrame = {
    // purge entries of stopped sessions — a JVM that cycles sessions
    // (sbt server running Verify then Bench) must not pin dead plan
    // graphs for its lifetime
    shingleRowCache.keySet.removeIf(_._1.sparkContext.isStopped)
    shingleRowCache.computeIfAbsent((s, d), _ =>
      shingled(s, d).select(col("doc_id"), explode(col("shingles")).as("s"))
        .localCheckpoint())
  }

  /** (doc_id, band, h) bucket rows from exploded (doc_id, shingle)
    * rows — the scalable LSH shape: signature → (band, hash) rows →
    * equi-join on long keys (never an OR-of-bands theta join). ONE
    * definition for the batch pipeline and the maintained twin, so
    * the two can never silently diverge on hashing or banding. */
  private def bandRows(ex: DataFrame): DataFrame =
    ex.select(col("doc_id"), baseHash(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(minhashAggCols.head, minhashAggCols.tail: _*)
      .select(col("doc_id"),
        explode(array((0 until NumHashes).map(j =>
          struct(lit(j).as("band"), col(s"h$j").as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))

  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // The shingle pipeline feeds FOUR consumers (sig, both confirm
    // sides, the per-doc counts). The wide array<string> `sh` frame
    // must NOT be cached (materializing array cells into the columnar
    // cache measured 10.3s vs 0.3s/recompute — round-1 trap #2), but
    // the EXPLODED (doc_id, shingle) rows are narrow strings: one
    // shared eager checkpoint ([[shingleRows]]) materializes the
    // tokenize+shingle work once and every consumer reads rows, not
    // array cells.
    val ex = shingleRows(s, d)
    val bands = bandRows(ex)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // shingles are distinct per doc, so the per-doc count IS the
    // exploded row count — derived from `ex`, no re-shingle.
    //
    // ROUND-17 NEGATIVE RESULT (do not retry): the confirm was
    // rewritten as per-doc sorted-array intersection
    // (groupBy(doc_id).agg(sort_array(collect_list)) + array_intersect
    // per candidate pair) in three variants — corpus-wide arrays
    // (min 1.57 -> 2.52 s at sf0.1), candidate-semi-filtered arrays
    // (-> 3.29 s: the lazy cand re-derived the LSH self-join for the
    // filter), and candidate-filtered with cand checkpointed+stats
    // (-> 2.21 s). All lose: the exploded confirm below runs as TWO
    // BROADCAST-probe passes over the checkpointed (doc_id, shingle)
    // rows with no corpus-wide shuffle at all, while any array build
    // pays a real exchange + collect before the first probe.
    val nDf = ex.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n"))
    val inter = cand
      .join(ex.as("xa"), col("xa.doc_id") === col("doc_a"))
      .join(ex.as("xb"),
        col("xb.doc_id") === col("doc_b") && col("xa.s") === col("xb.s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(nDf.as("na"), col("na.doc_id") === col("doc_a"))
      .join(nDf.as("nb"), col("nb.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / (col("na.n") + col("nb.n") - col("ni")))
          .as("jacc"))
      .filter(col("jacc") >= 0.01)
  }

  /** MAINTAINED near-dup: the MinHash-LSH band buckets AND the
    * confirmed pair set kept incremental under a document CHANGELOG —
    * the batch pipeline above answers "dedup this corpus once", this
    * answers the training-data reality of continuous re-ingest.
    *
    * State per batch: the exploded (doc_id, shingle) rows, the (doc_id,
    * band, h) bucket rows, per-doc shingle counts, and the confirmed
    * pair set — carried forward via localCheckpoint here, and as
    * bucket-partitioned SNAPSHOT TABLES in [[minhashPairsPersist]]
    * (the restartable form — the corpus-scale shape this twin's state
    * approximates in-JVM).
    *
    *  - INSERTS are changelog-proportional and never all-pairs: a new
    *    doc's band rows probe the EXISTING buckets (Δ ⋈ (state ∪ Δ) on
    *    the (band, h) equi-key — the same blocking join as the batch
    *    path, with Δ on the build side), and only the surviving
    *    candidates pay the exact-Jaccard confirm. Old-old pairs can
    *    never re-emerge: every candidate has a Δ doc on one side.
    *  - DELETES retract by anti-join: state rows and every pair
    *    touching a deleted doc_id drop — O(|pairs of the deleted|),
    *    the signed-delta discipline of the rest of the engine.
    *
    * The registered entry drives a 4-step changelog — three insert
    * slices of the corpus, plus GHOST copies (same text, shifted ids)
    * injected mid-stream whose jacc=1.0 pairs must appear and then
    * fully RETRACT when a later batch deletes them — and must land
    * hash-equal to the one-shot batch oracle over the full corpus. */
  /** In-JVM maintained MinHash state — the localCheckpoint twin of the
    * persisted form below. `insert` returns the batch's NEWLY CONFIRMED
    * pairs (every one has a Δ endpoint — old-old pairs cannot
    * re-emerge, so the per-batch streams are disjoint); `delete`
    * retracts by anti-join. Shared by [[minhashPairsMaintained]] and
    * the maintained-CC entry so the two can never diverge on the pair
    * stream. */
  private final class MaintainedMinhash {
    private var exState: DataFrame = null    // (doc_id, s)
    private var bandState: DataFrame = null  // (doc_id, band, h)
    private var nState: DataFrame = null     // (doc_id, n)
    private var pairState: DataFrame = null  // (doc_a, doc_b, jacc)

    def insert(inserts: DataFrame): DataFrame = {
      val exNew = shingledOf(inserts)
        .select(col("doc_id"), explode(col("shingles")).as("s"))
        .localCheckpoint()
      val bandsNew = bandRows(exNew)
      val bandAll =
        if (bandState == null) bandsNew else bandState.unionAll(bandsNew)
      // Δ probes the buckets: every candidate carries a NEW doc on the
      // `a` side; least/greatest + distinct canonicalizes Δ-Δ pairs
      // seen from both sides
      val cand = bandsNew.as("a").join(bandAll.as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      val exAll = if (exState == null) exNew else exState.unionAll(exNew)
      val nNew = exNew.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n"))
      val nAll = if (nState == null) nNew else nState.unionAll(nNew)
      val confirmed = cand
        .join(exAll.as("xa"), col("xa.doc_id") === col("doc_a"))
        .join(exAll.as("xb"),
          col("xb.doc_id") === col("doc_b") && col("xa.s") === col("xb.s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
        .join(nAll.as("na"), col("na.doc_id") === col("doc_a"))
        .join(nAll.as("nb"), col("nb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") / (col("na.n") + col("nb.n") - col("ni")))
            .as("jacc"))
        .filter(col("jacc") >= 0.01)
        .localCheckpoint()
      pairState =
        (if (pairState == null) confirmed else pairState.unionAll(confirmed))
          .localCheckpoint()
      exState = exAll.localCheckpoint()
      bandState = bandAll.localCheckpoint()
      nState = nAll.localCheckpoint()
      confirmed
    }

    def delete(ids: DataFrame): Unit = {
      exState = exState.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
      bandState = bandState.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
      nState = nState.join(ids, Seq("doc_id"), "left_anti").localCheckpoint()
      pairState = pairState
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
        .localCheckpoint()
    }

    def pairs: DataFrame = pairState
  }

  private def minhashPairsMaintained(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val ghosts = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
    val ghostIds = ghosts.select(col("doc_id"))

    val mh = new MaintainedMinhash
    mh.insert(docs.filter(col("doc_id") % 3 === 0))
    mh.insert(docs.filter(col("doc_id") % 3 === 1).unionAll(ghosts))
    mh.insert(docs.filter(col("doc_id") % 3 === 2))
    mh.delete(ghostIds)
    // USING-column joins (the deletes) move the key column first —
    // pin the contract order
    mh.pairs.select(col("doc_a"), col("doc_b"), col("jacc"))
  }

  /** MAINTAINED connected-component labels under an edge changelog —
    * the cluster-resolution half of continuous re-ingest that the
    * maintained PAIR set alone doesn't give (the r14 gap: a delete
    * that split a cluster needed a full re-clustering).
    *
    *  - INSERT edges: affected clusters = clusters containing an
    *    endpoint of a new edge. Their current labels are themselves
    *    STAR EDGES (doc → cluster-min) encoding exactly the old
    *    connectivity, so re-clustering runs [[ccLargeSmallStar]] over
    *    (affected star edges ∪ Δ edges) — O(|affected docs| + |Δ|),
    *    never the full edge set; unaffected clusters' labels are
    *    carried over untouched.
    *  - DELETE docs: the DRed discipline proven on recursion — the
    *    affected components re-cluster from their SURVIVING REAL edges
    *    (star edges would be wrong here: deletion can SPLIT a
    *    component, and the star collapses the very connectivity in
    *    question), members left edgeless drop their label (the oracle
    *    labels only edge endpoints). Component-local: unaffected
    *    clusters never enter the job.
    *
    * The undirected edge state is kept canonical (doc_a < doc_b,
    * per-batch streams disjoint by the Δ-endpoint property). */
  private[graft] final class MaintainedCc {
    private var edgeState: DataFrame = null   // canonical (doc_a, doc_b)
    private var labelState: DataFrame = null  // (doc_id, cluster_id)

    def insertEdges(newEdges: DataFrame): Unit = {
      if (newEdges.isEmpty) return
      val ne = newEdges.select(col("doc_a"), col("doc_b")).localCheckpoint()
      edgeState =
        (if (edgeState == null) ne else edgeState.unionAll(ne)).localCheckpoint()
      val endpoints = ne.select(col("doc_a").as("doc_id"))
        .unionAll(ne.select(col("doc_b").as("doc_id"))).distinct()
      val (rest, starEdges) =
        if (labelState == null) (null: DataFrame, ne)
        else {
          val affCl = labelState.join(endpoints, Seq("doc_id"), "left_semi")
            .select(col("cluster_id")).distinct()
          val aff = labelState.join(affCl, Seq("cluster_id"), "left_semi")
          // a labeled cluster has ≥2 members, so its center always
          // appears on the b side of some (member, center) star edge —
          // dropping the center's self-row loses nothing
          val stars = aff.filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
          // USING-column join moves cluster_id FIRST — re-pin the
          // column order before the positional unionAll below
          (labelState.join(affCl, Seq("cluster_id"), "left_anti")
            .select(col("doc_id"), col("cluster_id")),
            stars.unionAll(ne))
        }
      val relabeled = ccLargeSmallStar(starEdges)
      labelState =
        (if (rest == null) relabeled else rest.unionAll(relabeled))
          .localCheckpoint()
    }

    def deleteDocs(ids: DataFrame): Unit = {
      if (edgeState == null || labelState == null) return
      val affCl = labelState.join(ids, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      edgeState = edgeState
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
        .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
        .localCheckpoint()
      if (affCl.isEmpty) return // deleted docs were never labeled
      // USING-column join moves cluster_id FIRST — re-pin the order
      // before the positional unionAll below
      val rest = labelState.join(affCl, Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      // surviving edges of the affected components (components are
      // closed under edges, so one endpoint's membership suffices)
      val affDocs = labelState.join(affCl, Seq("cluster_id"), "left_semi")
        .select(col("doc_id").as("doc_a"))
      val subEdges = edgeState.join(affDocs, Seq("doc_a"), "left_semi")
      val relabeled = ccLargeSmallStar(subEdges)
      labelState = rest.unionAll(relabeled).localCheckpoint()
    }

    def labels: DataFrame = labelState
  }

  /** The gated maintained-CC entry: the [[MaintainedMinhash]] pair
    * stream (τ ≥ 0.5 edges) drives [[MaintainedCc]] through a
    * changelog with real churn — ghost duplicates injected then
    * deleted, AND a mid-stream delete + re-insert of a REAL doc slice
    * (at the partially-ingested state, removing a slice severs chain
    * links, so affected clusters genuinely split and later re-merge).
    * Final labels must equal the from-scratch recursive-CTE oracle
    * over the full corpus. */
  private def ccMaintained(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val ghosts = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
    val ghostIds = ghosts.select(col("doc_id"))
    // churn slice: present in batches 0-1, deleted, re-inserted with
    // batch 2 (disjoint from slice 2 so the re-insert can't duplicate)
    val churn = docs.filter(col("doc_id") % 40 === 7 && col("doc_id") % 3 =!= 2)

    val mh = new MaintainedMinhash
    val cc = new MaintainedCc
    def ins(dd: DataFrame): Unit =
      cc.insertEdges(mh.insert(dd).filter(col("jacc") >= 0.5)
        .select(col("doc_a"), col("doc_b")))
    def del(ids: DataFrame): Unit = { mh.delete(ids); cc.deleteDocs(ids) }

    ins(docs.filter(col("doc_id") % 3 === 0))
    ins(docs.filter(col("doc_id") % 3 === 1).unionAll(ghosts))
    del(churn.select(col("doc_id")))
    ins(docs.filter(col("doc_id") % 3 === 2).unionAll(churn))
    del(ghostIds)
    Option(cc.labels)
      .map(_.select(col("doc_id"), col("cluster_id")))
      .getOrElse(sys.error("no clusters formed — the fixture corpus " +
        "must produce near-dup pairs at τ ≥ 0.5"))
  }

  /** [[ccMaintained]] memoized per fixture: the multi-batch changelog
    * replays once per JVM; the labels entry, the maintained keepers,
    * and the maintained split all re-read the materialized labels. */
  private def ccMaintainedLabels(s: SparkSession, d: String): DataFrame =
    FixtureMemo(s"$d#cc_maintained", Seq("dedup_cc_maintained", "dedup_keepers_maintained",
      "split_leakage_safe_maintained"), s)(ccMaintained(s, d))

  /** [[MaintainedCc]] with its state PERSISTED to the snapshot log —
    * cluster RESOLUTION that survives a JVM: the undirected edge set
    * (keyed by the packed `doc_a·2³² + doc_b` long, the
    * [[PersistedMinhash]] pair-key discipline) and the labels (keyed
    * by doc_id) are versioned snapshot TABLES; every method derives
    * its state from the log roots alone, so a fresh session resumes
    * exactly where a dead JVM stopped.
    *
    *  - INSERT edges: Δ edges commit as I-rows (only their buckets
    *    rewrite); the relabel runs over the affected clusters' label
    *    STAR edges ∪ Δ — O(|affected| + |Δ|) — and commits as keyed
    *    upserts, so unaffected clusters' label rows are never touched.
    *  - DELETE docs: pairs touching a deleted doc drop via a
    *    DELETION-VECTOR commit (O(|pairs of the deleted|)); affected
    *    components re-cluster from their SURVIVING REAL edges (the
    *    star shortcut would collapse exactly the connectivity a split
    *    questions); members left edgeless drop their label rows by DV.
    *
    * At corpus scale both tables are the hash-bucketed stores the
    * in-JVM twin's scaladoc promises: commits rewrite O(touched
    * buckets), deletes are O(|keys|), and a crashed ingester reopens
    * from the last committed version — the gap the keepers and the
    * leakage-safe split inherit the moment they ride these labels. */
  private[graft] final class PersistedCc {
    import graft.sources.SnapshotLog
    val edgesRoot: String =
      tempDir("graft_cc_edges").toString
    val labelsRoot: String =
      tempDir("graft_cc_labels").toString

    private def latest(root: String): Int =
      SnapshotLog.history(root).map(_._1).maxOption.getOrElse(-1)
    private def pairId = (col("doc_a") * lit(1L << 32) + col("doc_b")).as("pair_id")
    def edgeState(s: SparkSession): Option[DataFrame] = {
      val v = latest(edgesRoot)
      if (v < 0) None
      else Some(SnapshotLog.readVersion(s, edgesRoot, v)
        .select(col("pair_id"), col("doc_a"), col("doc_b")))
    }
    def labelState(s: SparkSession): Option[DataFrame] = {
      val v = latest(labelsRoot)
      if (v < 0) None
      else Some(SnapshotLog.readVersion(s, labelsRoot, v)
        .select(col("doc_id"), col("cluster_id")))
    }

    def insertEdges(s: SparkSession, newEdges: DataFrame): Unit = {
      if (newEdges.isEmpty) return
      val ne = newEdges.select(col("doc_a"), col("doc_b")).localCheckpoint()
      val vE = latest(edgesRoot)
      val eRows = ne.select(pairId, col("doc_a"), col("doc_b"))
      if (vE < 0) SnapshotLog.commitInitial(eRows, edgesRoot, "pair_id")
      else SnapshotLog.commitMerge(s, edgesRoot, vE + 1, "pair_id",
        Seq("doc_a", "doc_b"), eRows.withColumn("op", lit("I")))
      val endpoints = ne.select(col("doc_a").as("doc_id"))
        .unionAll(ne.select(col("doc_b").as("doc_id"))).distinct()
      labelState(s) match {
        case None =>
          SnapshotLog.commitInitial(ccLargeSmallStar(ne), labelsRoot, "doc_id")
        case Some(labels) =>
          val affCl = labels.join(endpoints, Seq("doc_id"), "left_semi")
            .select(col("cluster_id")).distinct()
          val aff = labels.join(affCl, Seq("cluster_id"), "left_semi")
          // a labeled cluster has ≥2 members, so its center always
          // appears on the b side of some (member, center) star edge
          val stars = aff.filter(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
          val relabeled = ccLargeSmallStar(stars.unionAll(ne))
          // keyed UPSERT: every member of an affected cluster appears
          // in `relabeled` (inserts only merge components, never
          // shrink them), so the untouched rows are exactly the
          // unaffected clusters' — their buckets never rewrite
          SnapshotLog.commitMerge(s, labelsRoot, latest(labelsRoot) + 1,
            "doc_id", Seq("cluster_id"), relabeled.withColumn("op", lit("U")))
      }
    }

    def deleteDocs(s: SparkSession, ids0: DataFrame): Unit = {
      (edgeState(s), labelState(s)) match {
        case (Some(edges), Some(labels)) =>
          val ids = ids0.select(col("doc_id")).localCheckpoint()
          // pairs touching a deleted doc: two semi-joins, one DV commit
          val affPairs = edges
            .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
            .select(col("pair_id"))
            .unionAll(edges
              .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
              .select(col("pair_id")))
            .distinct()
          if (!affPairs.isEmpty)
            SnapshotLog.commitDeleteVector(s, edgesRoot, latest(edgesRoot) + 1,
              "pair_id", affPairs)
          val affCl = labels.join(ids, Seq("doc_id"), "left_semi")
            .select(col("cluster_id")).distinct()
          if (affCl.isEmpty) return // deleted docs were never labeled
          // USING-column join moves cluster_id FIRST — re-pin the order
          val affMembers = labels.join(affCl, Seq("cluster_id"), "left_semi")
            .select(col("doc_id"), col("cluster_id")).localCheckpoint()
          // surviving edges of the affected components, read from the
          // POST-delete edge state (components are closed under edges,
          // so one endpoint's membership suffices)
          val subEdges = edgeState(s).get
            .join(affMembers.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
            .select(col("doc_a"), col("doc_b"))
          val relabeled = ccLargeSmallStar(subEdges).localCheckpoint()
          // label rows to DROP: the deleted docs + members left
          // edgeless by the delete (neither survives in `relabeled`)
          val dropIds = affMembers.select(col("doc_id"))
            .join(relabeled.select(col("doc_id")), Seq("doc_id"), "left_anti")
          if (!dropIds.isEmpty)
            SnapshotLog.commitDeleteVector(s, labelsRoot, latest(labelsRoot) + 1,
              "doc_id", dropIds)
          if (!relabeled.isEmpty)
            SnapshotLog.commitMerge(s, labelsRoot, latest(labelsRoot) + 1,
              "doc_id", Seq("cluster_id"), relabeled.withColumn("op", lit("U")))
        case _ => ()
      }
    }
  }

  /** The persisted detect→cluster pipeline: [[PersistedMinhash]]
    * produces the per-batch confirmed pairs (τ ≥ 0.5 edges) and
    * [[PersistedCc]] maintains edges + labels, ALL FOUR state tables
    * in the snapshot log — so the whole near-dup resolution survives
    * a JVM. Same changelog as [[ccMaintained]] (ghost dupes injected
    * then deleted, a real slice deleted mid-stream and re-inserted)
    * with a session RESTART placed between the churn DELETE and its
    * re-insert: steps after the restart reopen every handle from the
    * committed logs alone. Memoized per fixture ([[FixtureMemo]]) —
    * the labels entry and the persisted split share one replay. */
  private def ccPersistLabels(s0: SparkSession, d: String): DataFrame =
    FixtureMemo(s"$d#cc_persist", Seq("dedup_cc_persist", "split_leakage_safe_persist"), s0) {
      val mh = new PersistedMinhash
      val cc = new PersistedCc
      def ins(s: SparkSession, dd: DataFrame): Unit =
        cc.insertEdges(s, mh.insert(s, dd).filter(col("jacc") >= 0.5)
          .select(col("doc_a"), col("doc_b")))
      def del(s: SparkSession, ids: DataFrame): Unit = {
        mh.delete(s, ids); cc.deleteDocs(s, ids)
      }
      val docsA = Tables.documents(s0, d).select(col("doc_id"), col("text"))
      val ghostsA = docsA.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
      val churnA = docsA.filter(col("doc_id") % 40 === 7 && col("doc_id") % 3 =!= 2)
      ins(s0, docsA.filter(col("doc_id") % 3 === 0))
      ins(s0, docsA.filter(col("doc_id") % 3 === 1).unionAll(ghostsA))
      del(s0, churnA.select(col("doc_id")))

      // RESTART between the churn delete and its re-insert: nothing
      // in-JVM survives the newSession(); the resumed ingest must
      // re-merge the split components from the log state alone
      val s2 = s0.newSession()
      val docsB = Tables.documents(s2, d).select(col("doc_id"), col("text"))
      val churnB = docsB.filter(col("doc_id") % 40 === 7 && col("doc_id") % 3 =!= 2)
      ins(s2, docsB.filter(col("doc_id") % 3 === 2).unionAll(churnB))
      del(s2, docsB.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id")))
      cc.labelState(s2)
        .map(_.select(col("doc_id"), col("cluster_id")))
        .getOrElse(sys.error("no clusters committed — the fixture corpus " +
          "must produce near-dup pairs at τ ≥ 0.5"))
    }

  /** The maintained near-dup pipeline with its state PERSISTED to the
    * snapshot log — the operational shape of continuous re-ingest.
    * [[minhashPairsMaintained]] carries state as in-JVM localCheckpoint
    * chains, which die with the JVM; here the per-doc state (shingles
    * + LSH band rows packed one row per doc_id, hash-bucketed by
    * doc_id) and the confirmed pair set (keyed by a packed
    * `doc_a·2³² + doc_b` long) are versioned snapshot TABLES, so the
    * pipeline can stop, a NEW session can reopen from the log, and
    * ingestion resumes — which this entry proves by switching sessions
    * mid-changelog.
    *
    *  - INSERT batch: Δ docs commit as I-rows ([[SnapshotLog.commitMerge]]
    *    rewrites only the touched doc_id buckets); Δ band rows probe
    *    state ∪ Δ on the (band, h) equi-key — state bands come from
    *    EXPLODING the persisted array, not re-hashing text — and only
    *    surviving candidates pay the exact-Jaccard confirm. Same
    *    Δ-probes-buckets discipline as the in-JVM twin: old-old pairs
    *    cannot re-emerge.
    *  - DELETE batch: doc rows drop via a DELETION-VECTOR commit
    *    (O(|deleted keys|)); affected pairs resolve by two semi-joins
    *    (one per side) and drop the same way — O(|pairs of the
    *    deleted|), never a pair-table rewrite.
    *  - RESTART: every handle below derives from the log roots alone
    *    (latest version = max committed manifest); nothing in-JVM
    *    survives the mid-run `newSession()`, which is the point.
    *
    * At corpus scale the doc-state table is the bucket-partitioned
    * store the maintained twin's scaladoc promises: the per-batch
    * probe shuffles Δ against the persisted band rows (state-side
    * shuffle on (band, h)), commits rewrite O(touched buckets), and a
    * crashed ingester resumes from the last committed version. */
  private def minhashPairsPersist(s0: SparkSession, d: String): DataFrame = {
    val mh = new PersistedMinhash

    // the same 4-step changelog as the in-JVM twin — with a session
    // RESTART in the middle: steps 3-4 run in a fresh session whose
    // only link to steps 1-2 is the committed log
    val docsA = Tables.documents(s0, d).select(col("doc_id"), col("text"))
    val ghostsA = docsA.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
    mh.insert(s0, docsA.filter(col("doc_id") % 3 === 0))
    mh.insert(s0, docsA.filter(col("doc_id") % 3 === 1).unionAll(ghostsA))

    val s2 = s0.newSession()
    val docsB = Tables.documents(s2, d).select(col("doc_id"), col("text"))
    mh.insert(s2, docsB.filter(col("doc_id") % 3 === 2))
    mh.delete(s2, docsB.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id")))
    mh.pairState(s2).map(_.select(col("doc_a"), col("doc_b"), col("jacc")))
      .getOrElse(sys.error("no pairs committed — the fixture corpus " +
        "must produce near-dup pairs"))
  }

  /** The persisted MinHash near-dup STATE MACHINE (extracted from the
    * `dedup_minhash_persist` entry so the persisted CC pipeline can
    * ride the same replay): per-doc state (shingles + packed LSH band
    * rows, one row per doc_id, hash-bucketed) and the confirmed pair
    * set (keyed by the packed doc_a·2³²+doc_b long) live in versioned
    * snapshot TABLES, so ingestion can stop, a NEW session can reopen
    * from the log, and the changelog resumes. [[insert]] RETURNS the
    * batch's newly-confirmed pairs so a downstream consumer (cluster
    * resolution) composes on the replay without re-deriving them. */
  private[graft] final class PersistedMinhash {
    import graft.sources.SnapshotLog
    val docsRoot: String =
      tempDir("graft_mh_docs").toString
    val pairsRoot: String =
      tempDir("graft_mh_pairs").toString

    private def latest(root: String): Int =
      SnapshotLog.history(root).map(_._1).maxOption.getOrElse(-1)
    def docState(s: SparkSession): Option[DataFrame] = {
      val v = latest(docsRoot)
      if (v < 0) None else Some(SnapshotLog.readVersion(s, docsRoot, v).drop("b"))
    }
    def pairState(s: SparkSession): Option[DataFrame] = {
      val v = latest(pairsRoot)
      if (v < 0) None else Some(SnapshotLog.readVersion(s, pairsRoot, v).drop("b"))
    }
    // doc ids stay under 2³¹ (ghost shift included), so the packed
    // pair key is collision-free in a long
    private def pairId = (col("doc_a") * lit(1L << 32) + col("doc_b")).as("pair_id")

    /** Apply an insert batch; returns the batch's NEWLY-CONFIRMED
      * pairs (doc_a, doc_b, jacc), checkpointed. */
    def insert(s: SparkSession, inserts: DataFrame): DataFrame = {
      val shNew = shingledOf(inserts) // (doc_id, shingles)
      val exNew = shNew.select(col("doc_id"), explode(col("shingles")).as("s"))
      val bandsNew = bandRows(exNew)  // (doc_id, band, h)
      val stateNew = shNew.join(
        bandsNew.groupBy("doc_id")
          .agg(collect_list(struct(col("band"), col("h"))).as("bands")),
        Seq("doc_id"))
      val prev = docState(s)
      val bandPrev = prev.map(_
        .select(col("doc_id"), explode(col("bands")).as("bh"))
        .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h")))
      val bandAll = bandPrev.map(_.unionAll(bandsNew)).getOrElse(bandsNew)
      val cand = bandsNew.as("a").join(bandAll.as("b"),
          col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      val exPrev = prev.map(_.select(col("doc_id"), explode(col("shingles")).as("s")))
      val exAll = exPrev.map(_.unionAll(exNew)).getOrElse(exNew)
      // shingles are distinct per doc, so array size IS the count
      def nOf(df: DataFrame) =
        df.select(col("doc_id"), size(col("shingles")).cast("int").as("n"))
      val nAll = prev.map(p => nOf(p).unionAll(nOf(shNew))).getOrElse(nOf(shNew))
      val confirmed = cand
        .join(exAll.as("xa"), col("xa.doc_id") === col("doc_a"))
        .join(exAll.as("xb"),
          col("xb.doc_id") === col("doc_b") && col("xa.s") === col("xb.s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
        .join(nAll.as("na"), col("na.doc_id") === col("doc_a"))
        .join(nAll.as("nb"), col("nb.doc_id") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") / (col("na.n") + col("nb.n") - col("ni")))
            .as("jacc"))
        .filter(col("jacc") >= 0.01)
        .localCheckpoint() // returned to the caller after the commits
      val vD = latest(docsRoot)
      if (vD < 0) SnapshotLog.commitInitial(stateNew, docsRoot, "doc_id")
      else SnapshotLog.commitMerge(s, docsRoot, vD + 1, "doc_id",
        Seq("shingles", "bands"), stateNew.withColumn("op", lit("I")))
      val pNew = confirmed.select(pairId, col("doc_a"), col("doc_b"), col("jacc"))
      if (!pNew.isEmpty) { // a batch may confirm nothing — no commit then
        val vP = latest(pairsRoot)
        if (vP < 0) SnapshotLog.commitInitial(pNew, pairsRoot, "pair_id")
        else SnapshotLog.commitMerge(s, pairsRoot, vP + 1, "pair_id",
          Seq("doc_a", "doc_b", "jacc"), pNew.withColumn("op", lit("I")))
      }
      confirmed
    }

    def delete(s: SparkSession, ids: DataFrame): Unit = {
      SnapshotLog.commitDeleteVector(s, docsRoot, latest(docsRoot) + 1,
        "doc_id", ids)
      pairState(s).foreach { pairs =>
        val pa = pairs.join(ids.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_semi")
        val pb = pairs.join(ids.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi")
        val affected = pa.select("pair_id").unionAll(pb.select("pair_id")).distinct()
        if (!affected.isEmpty)
          SnapshotLog.commitDeleteVector(s, pairsRoot, latest(pairsRoot) + 1,
            "pair_id", affected)
      }
    }
  }

  // ---- sign-LSH banding for embedding near-dup ------------------------
  // 16 bands × 4 sign-bits (one axis-sign hyperplane per element, 64-d
  // vectors): candidates agree on ALL bits of at least one band.
  // bits-per-band r is the precision knob, band count b the recall
  // knob: measured on the fixture (near-orthogonal Gaussian, so the
  // HARD case for LSH) r=4/b=16 gives 92% recall at τ=0.3 with a 64%
  // candidate rate, while r=8/b=8 gives a 3% candidate rate but 14%
  // recall. A real dup-heavy corpus (pairs at cos ≥ 0.8, background
  // orthogonal) wants r=8/b=8: per-bit agreement p = 1 − θ/π ≈ 0.86
  // puts band-recall at 0.29 and total recall ≈ 93% while unrelated
  // pairs stay at the 3% rate. τ=0.3 here mirrors the brute query so
  // recall is directly comparable.
  private val LshBands = 16
  private val LshBits = 4

  /** Band j's bucket: LshBits sign bits packed little-endian
    * (1-based element indexing to match the SQL mirror). */
  private def bandBucket(v: Column, j: Int): Column =
    (1 to LshBits).map(i =>
      when(element_at(v, LshBits * j + i) > 0, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)

  /** (vec_id, band, bucket) rows for a (vec_id, v, …) frame — ONE
    * definition for the batch entry and the maintained twin. */
  private def embBandRows(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until LshBands).map(j =>
          struct(lit(j).as("band"), bandBucket(col("v"), j).as("bucket"))): _*)).as("s"))
      .select(col("vec_id"), col("s.band").as("band"), col("s.bucket").as("bucket"))

  /** DuckDB mirror of [[bandBucket]] with the band index as a column
    * `j` (the oracle enumerates bands via generate_series). */
  private val bandBucketSqlJ: String =
    (1 to LshBits).map(i =>
      s"(CASE WHEN v[$LshBits*j+$i] > 0 THEN ${1 << (i - 1)} ELSE 0 END)")
      .mkString(" + ")

  /** The sign-LSH embedding near-dup pipeline as ONE oracle text,
    * shared by the batch entry and its maintained twin. */
  private lazy val embeddingLshOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bb AS (SELECT vec_id, j AS band, $bandBucketSqlJ AS bucket
       |       FROM e CROSS JOIN (SELECT unnest(generate_series(0, ${LshBands - 1})) AS j)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bb a JOIN bb b
       |          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT c.vec_a, c.vec_b,
       | FLOOR(list_cosine_similarity(x.v, y.v) * 1000000 + 0.5) / 1000000 AS cos_sim
       |FROM cand c JOIN e x ON x.vec_id = c.vec_a JOIN e y ON y.vec_id = c.vec_b
       |WHERE list_cosine_similarity(x.v, y.v) >= 0.3""".stripMargin

  /** MAINTAINED embedding near-dup — the sign-LSH sibling of
    * [[minhashPairsMaintained]]: band buckets, the vector store, and
    * the confirmed cosine-pair set maintained under an embeddings
    * changelog. Inserts probe the existing buckets (Δ ⋈ (state ∪ Δ) on
    * the (band, bucket) equi-key — changelog-proportional, never
    * all-pairs) and only the surviving candidates pay the exact cosine
    * confirm; deletes retract state rows and every pair touching a
    * deleted vec_id by anti-join. The registered entry injects GHOST
    * copies (same embedding, shifted ids — cos 1.0 pairs with their
    * originals) mid-changelog and deletes them later; the final pair
    * set must hash-equal the one-shot batch oracle. */
  private def embeddingLshMaintained(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorOps.{dot, floorRound6, normSq, toDoubleVec}
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val ghosts = all.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("v"), col("nrm"))
    def bandsOf(e: DataFrame): DataFrame = embBandRows(e)
    var eState: DataFrame = null
    var bandState: DataFrame = null
    var pairState: DataFrame = null
    def insert(ins: DataFrame): Unit = {
      val eNew = ins.localCheckpoint()
      val bNew = bandsOf(eNew)
      val bAll = if (bandState == null) bNew else bandState.unionAll(bNew)
      val cand = bNew.as("a").join(bAll.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
        .distinct()
      val eAll = if (eState == null) eNew else eState.unionAll(eNew)
      val cos = dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
      val confirmed = cand
        .join(eAll.as("x"), col("x.vec_id") === col("vec_a"))
        .join(eAll.as("y"), col("y.vec_id") === col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          floorRound6(cos).as("cos_sim"), cos.as("_raw"))
        .filter(col("_raw") >= 0.3)
        .drop("_raw")
      pairState =
        (if (pairState == null) confirmed else pairState.unionAll(confirmed))
          .localCheckpoint()
      eState = eAll.localCheckpoint()
      bandState = bAll.localCheckpoint()
    }
    def delete(ids: DataFrame): Unit = {
      eState = eState.join(ids, Seq("vec_id"), "left_anti").localCheckpoint()
      bandState = bandState.join(ids, Seq("vec_id"), "left_anti").localCheckpoint()
      pairState = pairState
        .join(ids.withColumnRenamed("vec_id", "vec_a"), Seq("vec_a"), "left_anti")
        .join(ids.withColumnRenamed("vec_id", "vec_b"), Seq("vec_b"), "left_anti")
        .localCheckpoint()
    }
    insert(all.filter(col("vec_id") % 3 === 0))
    insert(all.filter(col("vec_id") % 3 === 1).unionAll(ghosts))
    insert(all.filter(col("vec_id") % 3 === 2))
    delete(ghosts.select(col("vec_id")))
    pairState.select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** [[embeddingLshMaintained]] with its state PERSISTED to the
    * snapshot log — the sign-LSH sibling of [[minhashPairsPersist]],
    * proven by the same mid-changelog session restart. Only the
    * VECTOR STORE (vec_id, v, nrm — one row per key, hash-bucketed)
    * and the confirmed pair set persist: band rows are 64 integer ops
    * per vector, recomputed from the persisted vectors at probe time
    * (cheaper than storing 16 rows per vector; the minhash twin
    * persists its bands because re-hashing TEXT is the expensive
    * step there — the split is deliberate). */
  private def embeddingLshPersist(s0: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorOps.{dot, floorRound6, normSq, toDoubleVec}
    import graft.sources.SnapshotLog
    val vecsRoot = tempDir("graft_lsh_vecs").toString
    val pairsRoot = tempDir("graft_lsh_pairs").toString
    def latest(root: String): Int =
      SnapshotLog.history(root).map(_._1).maxOption.getOrElse(-1)
    def vecState(s: SparkSession): Option[DataFrame] = {
      val v = latest(vecsRoot)
      if (v < 0) None
      else Some(SnapshotLog.readVersion(s, vecsRoot, v)
        .select(col("vec_id"), col("v"), col("nrm")))
    }
    def pairState(s: SparkSession): Option[DataFrame] = {
      val v = latest(pairsRoot)
      if (v < 0) None else Some(SnapshotLog.readVersion(s, pairsRoot, v).drop("b"))
    }
    def pairKey = (col("vec_a") * lit(1L << 32) + col("vec_b")).as("pair_id")

    def insert(s: SparkSession, ins: DataFrame): Unit = {
      val eNew = ins.localCheckpoint() // reused by bands + confirm below
      val bNew = embBandRows(eNew)
      val prev = vecState(s)
      val bAll = prev.map(p => embBandRows(p).unionAll(bNew)).getOrElse(bNew)
      val cand = bNew.as("a").join(bAll.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
        .distinct()
      val eAll = prev.map(_.unionAll(eNew)).getOrElse(eNew)
      val cos = dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
      val confirmed = cand
        .join(eAll.as("x"), col("x.vec_id") === col("vec_a"))
        .join(eAll.as("y"), col("y.vec_id") === col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          floorRound6(cos).as("cos_sim"), cos.as("_raw"))
        .filter(col("_raw") >= 0.3)
        .drop("_raw")
      val vV = latest(vecsRoot)
      if (vV < 0) SnapshotLog.commitInitial(eNew, vecsRoot, "vec_id")
      else SnapshotLog.commitMerge(s, vecsRoot, vV + 1, "vec_id",
        Seq("v", "nrm"), eNew.withColumn("op", lit("I")))
      val pNew = confirmed.select(pairKey, col("vec_a"), col("vec_b"), col("cos_sim"))
      if (!pNew.isEmpty) {
        val vP = latest(pairsRoot)
        if (vP < 0) SnapshotLog.commitInitial(pNew, pairsRoot, "pair_id")
        else SnapshotLog.commitMerge(s, pairsRoot, vP + 1, "pair_id",
          Seq("vec_a", "vec_b", "cos_sim"), pNew.withColumn("op", lit("I")))
      }
    }

    def delete(s: SparkSession, ids: DataFrame): Unit = {
      SnapshotLog.commitDeleteVector(s, vecsRoot, latest(vecsRoot) + 1,
        "vec_id", ids)
      pairState(s).foreach { pairs =>
        val pa = pairs.join(ids.withColumnRenamed("vec_id", "vec_a"),
          Seq("vec_a"), "left_semi")
        val pb = pairs.join(ids.withColumnRenamed("vec_id", "vec_b"),
          Seq("vec_b"), "left_semi")
        val affected = pa.select("pair_id").unionAll(pb.select("pair_id")).distinct()
        if (!affected.isEmpty)
          SnapshotLog.commitDeleteVector(s, pairsRoot, latest(pairsRoot) + 1,
            "pair_id", affected)
      }
    }

    def vecs(s: SparkSession): DataFrame = Tables.embeddings(s, d)
      .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(normSq(col("v"))))
    val allA = vecs(s0)
    val ghostsA = allA.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"), col("v"), col("nrm"))
    insert(s0, allA.filter(col("vec_id") % 3 === 0))
    insert(s0, allA.filter(col("vec_id") % 3 === 1).unionAll(ghostsA))

    // RESTART: a fresh session reopens both tables from the log
    val s2 = s0.newSession()
    val allB = vecs(s2)
    insert(s2, allB.filter(col("vec_id") % 3 === 2))
    delete(s2, allB.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id")))
    pairState(s2).map(_.select(col("vec_a"), col("vec_b"), col("cos_sim")))
      .getOrElse(sys.error("no pairs committed — the fixture corpus " +
        "must produce near-dup embedding pairs"))
  }

  /** The cluster-hashed train/valid/test assignment over a label set
    * (singletons are their own cluster) — shared by the batch and
    * maintained split entries so the decision rule cannot diverge. */
  private def splitOf(s: SparkSession, d: String, labels: DataFrame): DataFrame = {
    val asg = Tables.documents(s, d).select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "ldoc"),
        col("doc_id") === col("ldoc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val b = conv(substring(md5(to_binary(
      col("cluster_id").cast("string"), lit("utf-8"))), 1, 15), 16, 10)
      .cast("long") % 10
    asg.select(col("doc_id"), col("cluster_id"),
      when(b <= 7, "train").when(b === 8, "valid").otherwise("test")
        .as("split"))
  }

  /** Per-cluster representative selection (max token count, doc_id
    * tie-break) over a label set — shared by the batch and maintained
    * keeper entries so the decoration cannot diverge. */
  private def keepersOf(s: SparkSession, d: String, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = Tables.documents(s, d).select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit(tokenPattern), lit(0)))
        .cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val cnt = Window.partitionBy(col("cluster_id"))
    labels.join(stats, "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("n_tokens"),
        row_number().over(w).as("rnk"),
        count(lit(1)).over(cnt).cast("long").as("n_members"))
      .filter(col("rnk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_doc_id"),
        col("n_tokens"), col("n_members"))
  }

  /** Shared oracle CTE chain: minhash pairs at τ=0.5 → symmetric edge
    * set → recursive min-label reachability (`reach(doc, lbl)`). */
  private val ccCteSql: String =
    s"""pairs AS ($minhashPairsSql),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jacc >= 0.5
       | UNION ALL
       | SELECT doc_b, doc_a FROM pairs WHERE jacc >= 0.5),
       |nodes AS (SELECT DISTINCT src AS doc FROM edges),
       |reach(doc, lbl) AS (
       | SELECT doc, doc FROM nodes
       | UNION
       | SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src)""".stripMargin

  /** Near-dup connected components: minhash pairs at τ=0.5 become
    * edges; iterative min-label propagation (Pregel-lite: driver-side
    * convergence loop, data stays distributed, lineage truncated per
    * round) assigns each doc its component's smallest doc_id as
    * cluster_id. Iterations ≤ component diameter; for planet-scale
    * graphs swap the loop body for alternating large-star/small-star —
    * the per-round join shape is the same. */
  private def connectedComponents(s: SparkSession, d: String): DataFrame = {
    val p = minhashPairs(s, d).filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val edges = p.union(p.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint()
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc")).localCheckpoint()
    // labels only ever DECREASE (min-propagation), so the exact
    // decimal sum of labels is strictly monotone until the fixed
    // point: comparing it round-over-round detects convergence
    // with one cheap aggregate instead of a next⋈old diff join.
    // DECIMAL(38,0), not BIGINT — at corpus scale sum(doc_id)
    // overflows a long.
    // sum() of an EMPTY frame is null — a clean corpus (no pair at
    // τ≥0.5) must yield an empty result, not an NPE in compareTo
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0)
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    val maxIter = 100 // safety net only; real bound is component diameter
    while (!converged && iter < maxIter) {
      val prop = labels.join(edges, col("doc") === col("src"))
        .select(col("dst").as("doc"), col("lbl"))
      // eager checkpoint per round: each iteration's plan stays
      // one-join shallow (a deep lineage would recompute every
      // prior round inside every later one)
      val next = labels.unionByName(prop)
        .groupBy("doc").agg(min("lbl").as("lbl"))
        .localCheckpoint()
      val nextSum = lblSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    // silent non-convergence would emit WRONG labels (a split
    // cluster) — fail loudly instead
    require(converged,
      s"connected components did not converge in $maxIter rounds (component diameter > $maxIter?)")
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the PLANET-SCALE path: converges in O(log²) rounds
    * regardless of component DIAMETER, where min-label propagation
    * ([[connectedComponents]]) needs diameter-many rounds and a
    * gradual-drift near-dup chain can make the diameter linear.
    *
    *  - large-star (per node u over undirected neighbors): connect
    *    every neighbor v > u to m = min(N(u) ∪ u);
    *  - small-star (per node u over its ≤-oriented neighbors):
    *    connect u and every smaller neighbor to that set's minimum.
    *
    * Both steps are one groupBy + one equi-join over the (shrinking)
    * edge set — no per-round growth, lineage truncated per round. At
    * the fixed point the edges are stars centered at each component's
    * minimum doc_id. Convergence = exact edge-set equality (count +
    * both-ways exceptAll), not a hash heuristic; non-convergence
    * inside the safety bound fails loudly. Spec-asserted equal to the
    * propagation CC on adversarial graph shapes (chains, cliques,
    * stars, random), and registered behind the SAME recursive-CTE
    * oracle. */
  private[graft] def ccLargeSmallStar(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.toDF("a", "b")
      .filter(col("a") =!= col("b")).localCheckpoint()
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val m = und.groupBy("a").agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      und.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val m = or.groupBy("a").agg(min(col("b")).as("m"))
      val nb = or.join(m, "a")
      nb.select(col("b").as("a"), col("m").as("b"))
        .union(m.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    // one symmetric-diff aggregation instead of count + exceptAll:
    // both sides are DISTINCT edge sets, so they are equal iff no
    // (a, b) nets to a nonzero weight — a single job per round
    def sameEdgeSet(x: DataFrame, y: DataFrame): Boolean =
      x.withColumn("w", lit(1)).union(y.withColumn("w", lit(-1)))
        .groupBy("a", "b").agg(sum("w").as("w"))
        .filter(col("w") =!= 0).isEmpty
    var edges = pairs
    var converged = edges.isEmpty
    var iter = 0
    // safety net against a non-terminating BUG, sized ABOVE the
    // algorithm's own worst case so it can never abort a legitimately
    // convergent run: O(log² n) rounds is ≈1600 at n = 10¹²
    val maxIter = 2000
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      converged = sameEdgeSet(next, edges)
      edges = next
      iter += 1
    }
    require(converged,
      s"large-star/small-star did not converge in $maxIter rounds")
    // fixed point: every edge is (member, component-min); centers
    // label themselves
    edges.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(edges.select(col("b").as("doc_id"), col("b").as("cluster_id")))
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
  }

  private def connectedComponentsStars(s: SparkSession, d: String): DataFrame =
    ccLargeSmallStar(minhashPairs(s, d).filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b")))

  val defs: Seq[GraftQuery] = Seq(

    // --- exact dedup ---------------------------------------------------
    sql("dedup_exact",
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        | min(doc_id) AS keep_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin) {
      (s, d) => Tables.documents(s, d)
        .groupBy(fpCol.as("fp"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))
    },

    // --- minhash signatures ---------------------------------------------
    sql("minhash_signature",
      s"""WITH sh AS ($shingledSql)
         |SELECT doc_id, $minhashSelectSql
         |FROM (SELECT doc_id, $baseHashSql AS h
         |      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh))
         |GROUP BY doc_id""".stripMargin) {
      (s, d) => baseHashed(s, d).groupBy(col("doc_id")).agg(minhashAggCols.head, minhashAggCols.tail: _*)
    },

    // --- minhash LSH candidate pairs + exact-jaccard confirm ------------
    // The confirm computes |A∩B| by exploded equi-join + count rather
    // than per-pair array_intersect: narrow (doc_id, shingle) rows
    // through codegen'd hash joins instead of multi-KB array cells
    // through a shuffle — the shape that survives a 1e9-doc corpus.
    // jacc = ni / (na + nb − ni) over the same integers DuckDB's
    // len(∩)/len(∪) produces, so the doubles match exactly.
    sql("dedup_minhash_pairs", minhashPairsSql)(minhashPairs),

    // --- maintained near-dup under a document changelog -----------------
    // Same oracle as the one-shot batch pipeline: three insert slices
    // plus ghost duplicates injected then DELETED must converge to the
    // identical pair set — inserts probe existing LSH buckets
    // (changelog-proportional), deletes retract by anti-join.
    sql("dedup_minhash_maintained", minhashPairsSql)(
      (s, d) => FixtureMemo(s"$d#minhash_maintained", Seq("dedup_minhash_maintained"), s)(minhashPairsMaintained(s, d))),

    // … with the state PERSISTED to the snapshot log, proven by a
    // mid-changelog session restart: steps 3-4 reopen from the
    // committed versions alone and the final pair table still lands
    // hash-equal to the one-shot batch oracle.
    sql("dedup_minhash_persist", minhashPairsSql)(
      (s, d) => FixtureMemo(s"$d#minhash_persist", Seq("dedup_minhash_persist"), s)(minhashPairsPersist(s, d))),

    // GDPR ERASURE THROUGH THE PERSISTED PIPELINES — a data subject's
    // forget-request chained across EVERY persisted maintained state
    // the corpus flowed into: the MinHash doc store, the confirmed
    // pair table, the BM25 inverted index (postings + doc store +
    // stats). The subject's documents (ghost copies of every 50th doc)
    // are ingested into both pipelines, then forgotten: deletes land
    // as DV / affected-bucket commits, each root COMPACTS (the live
    // file set stops referencing any pre-delete directory) and
    // VACUUMS past the delete, and the fn proves PHYSICAL erasure —
    // only the compact dir survives on disk and a raw scan of it
    // holds zero subject rows (doc stores, pair endpoints, posting
    // entries). The gated value is the post-erasure read of BOTH
    // pipelines vs never-ingested oracles: the forget leaves no
    // logical trace either. O(|subject's data|) deletes + one
    // compaction per root — the erasure of a 100 TB corpus costs its
    // subject-touched buckets plus the compaction it owed anyway.
    sql("gdpr_forget_persisted",
      s"""SELECT 'pair' AS kind, doc_a AS k1, doc_b AS k2, jacc AS val
         |FROM ($minhashPairsSql)
         |UNION ALL
         |SELECT 'bm25' AS kind, CAST(qid AS BIGINT) AS k1, doc_id AS k2, score AS val
         |FROM (
         | SELECT 1 AS qid, doc_id, score FROM (
         |${Curation.bm25OracleSqlFor(Curation.bm25QueryTerms)}) q1
         | UNION ALL
         | SELECT 2 AS qid, doc_id, score FROM (
         |${Curation.bm25OracleSqlFor(Curation.bm25QueryTerms2)}) q2) b""".stripMargin) {
      (s, d) => FixtureMemo(s"$d#gdpr_forget", Seq("gdpr_forget_persisted"), s) {
        import graft.sources.SnapshotLog
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val ghosts = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text"))
        val mh = new PersistedMinhash
        val ix = new Curation.Bm25Index
        mh.insert(s, docs): Unit
        ix.insert(s, docs)
        mh.insert(s, ghosts): Unit
        ix.insert(s, ghosts)
        // the forget-request: one id set, every persisted state
        val ghostIds = ghosts.select(col("doc_id"))
        mh.delete(s, ghostIds)
        ix.delete(s, ghostIds)
        val roots = Seq(mh.docsRoot, mh.pairsRoot, ix.postRoot, ix.docsRoot,
          ix.statsRoot)
        roots.foreach { root =>
          val v = SnapshotLog.history(root).map(_._1).max
          SnapshotLog.compactVersion(s, root, v, v + 1)
          SnapshotLog.vacuum(root, retainFrom = v + 1): Unit
        }
        // PHYSICAL-erasure proof: per root, only the compact dir
        // remains, and a raw scan of its files holds no subject row
        def survivors(root: String): DataFrame = {
          val dataDirs = new java.io.File(root).listFiles().filter(_.isDirectory)
          require(dataDirs.length == 1 &&
            dataDirs.head.getName.startsWith("compact_"),
            s"physical erasure requires exactly the compact dir to survive " +
              s"at $root: ${dataDirs.map(_.getName).toSeq}")
          s.read.parquet(dataDirs.head.getPath)
        }
        val ghostMin = lit(1000000000L)
        require(survivors(mh.docsRoot).filter(col("doc_id") >= ghostMin).isEmpty,
          "subject rows physically present in the MinHash doc store after vacuum")
        require(survivors(mh.pairsRoot)
          .filter(col("doc_a") >= ghostMin || col("doc_b") >= ghostMin).isEmpty,
          "subject pairs physically present after vacuum")
        require(survivors(ix.docsRoot).filter(col("doc_id") >= ghostMin).isEmpty,
          "subject rows physically present in the BM25 doc store after vacuum")
        require(survivors(ix.postRoot)
          .select(explode(col("postings")).as("e"))
          .filter(col("e.doc_id") >= ghostMin).isEmpty,
          "subject posting entries physically present after vacuum")
        // gated read: post-erasure state vs the never-ingested oracles
        val pairs = mh.pairState(s)
          .getOrElse(sys.error("no pairs committed"))
          .select(lit("pair").as("kind"), col("doc_a").as("k1"),
            col("doc_b").as("k2"), col("jacc").as("val"))
        val scores = ix.score(s, Curation.bm25QueryTerms, 1)
          .unionAll(ix.score(s, Curation.bm25QueryTerms2, 2))
          .select(lit("bm25").as("kind"), col("qid").cast("long").as("k1"),
            col("doc_id").as("k2"), col("score").as("val"))
        pairs.unionAll(scores)
      }
    },

    // EDIT-DISTANCE CONFIRM over the LSH candidates — the classic
    // fuzzy-dedup pipeline shape (block cheaply, confirm exactly):
    // Levenshtein on a 200-char prefix is O(200²) per PAIR, affordable
    // only because the candidate set is LSH-blocked, never all-pairs.
    // The confirm is load-bearing, not decorative: on this corpus the
    // candidate distances are bimodal (true near-dups ≤ 4 edits,
    // collision noise ≥ 65), so the ≤ 10 cut prunes ~94% of
    // candidates. Levenshtein's integer DP is engine-identical, so
    // the fuzzy matcher itself sits behind the value-hash gate.
    sql("dedup_edit_confirm",
      s"""WITH p AS ($minhashPairsSql)
         |SELECT p.doc_a, p.doc_b,
         | levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200)) AS edit_dist
         |FROM p
         |JOIN documents da ON da.doc_id = p.doc_a
         |JOIN documents db ON db.doc_id = p.doc_b
         |WHERE levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200)) <= 10""".stripMargin) {
      (s, d) =>
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 200).as("pfx"))
        minhashPairs(s, d)
          .join(docs.select(col("doc_id").as("ida"), col("pfx").as("pfx_a")),
            col("ida") === col("doc_a"))
          .join(docs.select(col("doc_id").as("idb"), col("pfx").as("pfx_b")),
            col("idb") === col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("pfx_a"), col("pfx_b")).as("edit_dist"))
          .filter(col("edit_dist") <= 10)
    },

    // --- near-dup cluster resolution (see [[connectedComponents]]) ------
    sql("dedup_connected_components",
      s"""WITH RECURSIVE $ccCteSql
         |SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc""".stripMargin)(
      connectedComponents),

    // The SAME clustering by alternating large-star/small-star (see
    // [[ccLargeSmallStar]]) — diameter-independent round count, the
    // path for planet-scale graphs — behind the SAME oracle.
    sql("dedup_cc_largestar",
      s"""WITH RECURSIVE $ccCteSql
         |SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc""".stripMargin)(
      connectedComponentsStars),

    // MAINTAINED cluster labels (see [[MaintainedCc]]): inserts
    // re-cluster affected components over their label STAR edges ∪ Δ;
    // deletes re-cluster from the surviving REAL edges (a delete can
    // SPLIT a component — the star trick would collapse exactly the
    // connectivity in question). Changelog: 3 insert slices, ghost
    // dupes injected then deleted, plus a real slice deleted
    // mid-stream and re-inserted — same from-scratch oracle.
    sql("dedup_cc_maintained",
      s"""WITH RECURSIVE $ccCteSql
         |SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc""".stripMargin)(
      ccMaintainedLabels),

    // … with edge AND label state PERSISTED to the snapshot log (see
    // [[PersistedCc]]), driven by the persisted MinHash pipeline —
    // the whole detect→cluster resolution survives a JVM, proven by a
    // session restart placed between the churn DELETE (which splits
    // components) and its re-insert (which must re-merge them from
    // the reopened log state alone). Same from-scratch oracle.
    sql("dedup_cc_persist",
      s"""WITH RECURSIVE $ccCteSql
         |SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc""".stripMargin)(
      ccPersistLabels),

    // CLUSTER SIZE HISTOGRAM — the dedup-health report (a corpus whose
    // near-dup clusters are mostly pairs is crawl noise; a few
    // mega-clusters mean template spam): two hash aggregates over the
    // CC labels, never a pair set.
    sql("dedup_cluster_size_hist",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS cluster_size,
         | CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY sz""".stripMargin) {
      (s, d) =>
        connectedComponents(s, d)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    },

    // --- cluster representative selection --------------------------------
    // The RESOLUTION step after clustering: per near-dup cluster keep
    // the best document (max token count, doc_id tie-break) — what a
    // pipeline actually writes out after detect → cluster. Window over
    // cluster_id; cluster sizes are near-dup groups (small by nature),
    // so the partition key is never corpus-skewed.
    sql("dedup_cluster_keepers",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |stats AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '$tokenPattern')) AS BIGINT) AS n_tokens
         | FROM documents),
         |ranked AS (
         | SELECT l.cluster_id, l.doc_id, s.n_tokens,
         |  ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |    ORDER BY s.n_tokens DESC, l.doc_id) AS rnk,
         |  CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS n_members
         | FROM labels l JOIN stats s ON s.doc_id = l.doc_id)
         |SELECT cluster_id, doc_id AS keeper_doc_id, n_tokens, n_members
         |FROM ranked WHERE rnk = 1""".stripMargin) {
      (s, d) => keepersOf(s, d, connectedComponents(s, d))
    },

    // … RESOLUTION over the MAINTAINED labels (the r14 gap closed one
    // step further: cluster labels maintain under the changelog, and
    // the keeper read composes on them — same window decoration, same
    // from-scratch oracle, so a label the maintenance got wrong fails
    // here too).
    sql("dedup_keepers_maintained",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |stats AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '$tokenPattern')) AS BIGINT) AS n_tokens
         | FROM documents),
         |ranked AS (
         | SELECT l.cluster_id, l.doc_id, s.n_tokens,
         |  ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |    ORDER BY s.n_tokens DESC, l.doc_id) AS rnk,
         |  CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS n_members
         | FROM labels l JOIN stats s ON s.doc_id = l.doc_id)
         |SELECT cluster_id, doc_id AS keeper_doc_id, n_tokens, n_members
         |FROM ranked WHERE rnk = 1""".stripMargin) {
      (s, d) => keepersOf(s, d, ccMaintainedLabels(s, d))
    },

    // LEAKAGE-SAFE TRAIN/VALID/TEST SPLIT — the split decision hashes
    // the near-dup CLUSTER id, not the doc id, so two near-duplicate
    // documents can never land on opposite sides of the train/test
    // boundary (the classic eval-contamination leak: a test document
    // whose 0.9-Jaccard twin sits in train). Singletons (no near-dup)
    // are their own cluster. One CC pass + one broadcast-size label
    // join + a stateless hash — the split of a 100 TB corpus costs its
    // dedup clustering plus one map, and rerunning it is reproducible
    // (pure function of doc ids, no RNG state). Buckets 0-7 train /
    // 8 valid / 9 test from the repo's portable 15-hex md5 prefix.
    sql("split_leakage_safe",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |asg AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         | CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
         | FROM asg)""".stripMargin) {
      (s, d) => splitOf(s, d, connectedComponents(s, d))
    },

    // … the SPLIT over the MAINTAINED labels: the same cluster-hashed
    // decision rides [[MaintainedCc]]'s incrementally-kept labels, so
    // continuous re-ingest keeps the train/test boundary leakage-safe
    // without a batch re-clustering — and the shared from-scratch
    // oracle fails if maintenance drifted any cluster id (which would
    // silently move documents across the split boundary).
    sql("split_leakage_safe_maintained",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |asg AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         | CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
         | FROM asg)""".stripMargin) {
      (s, d) => splitOf(s, d, ccMaintainedLabels(s, d))
    },

    // … the SPLIT over the PERSISTED labels: the cluster-hashed
    // train/valid/test decision rides [[PersistedCc]]'s log-backed
    // labels — a restarted ingester keeps the boundary leakage-safe
    // without re-clustering from scratch, and the shared from-scratch
    // oracle fails if the restart drifted any cluster id.
    sql("split_leakage_safe_persist",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |asg AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         | CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |  ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS b
         | FROM asg)""".stripMargin) {
      (s, d) => splitOf(s, d, ccPersistLabels(s, d))
    },

    // CROSS-SOURCE DUPLICATION MATRIX — which sources copy from
    // which: near-dup pair counts per (source_a, source_b) over the
    // minhash/CC clusters, computed ARITHMETICALLY from per-(cluster,
    // source) counts (c_a·c_b across sources, c·(c−1)/2 within) — no
    // row-pair ever materializes, so a mega-cluster costs its count
    // row, not its quadratic pair set. The provenance diagnostic that
    // decides which crawl to drop.
    sql("dedup_cross_source_matrix",
      s"""WITH RECURSIVE $ccCteSql,
         |labels AS (SELECT doc AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |f AS (SELECT l.cluster_id, d.source, COUNT(*) AS c
         |      FROM labels l JOIN documents d ON d.doc_id = l.doc_id
         |      GROUP BY 1, 2),
         |m AS (SELECT a.cluster_id, a.source AS src_a, b.source AS src_b,
         |       CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
         |            ELSE a.c * b.c END AS pairs
         |      FROM f a JOIN f b ON a.cluster_id = b.cluster_id AND a.source <= b.source)
         |SELECT src_a, src_b, CAST(SUM(pairs) AS BIGINT) AS dup_pairs
         |FROM m WHERE pairs > 0 GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        val f = connectedComponents(s, d)
          .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
          .groupBy(col("cluster_id"), col("source")).agg(count(lit(1)).as("c"))
        val a = f.select(col("cluster_id"), col("source").as("src_a"), col("c").as("ca"))
        val b = f.select(col("cluster_id").as("cid2"), col("source").as("src_b"),
          col("c").as("cb"))
        a.join(b, col("cluster_id") === col("cid2") && col("src_a") <= col("src_b"))
          .select(col("src_a"), col("src_b"),
            when(col("src_a") === col("src_b"),
              expr("ca * (ca - 1) div 2")).otherwise(col("ca") * col("cb")).as("pairs"))
          .filter(col("pairs") > 0)
          .groupBy(col("src_a"), col("src_b"))
          .agg(sum(col("pairs")).as("dup_pairs"))
    },

    // SHINGLE NOVELTY (contribution scoring) — "how much of this
    // document is first seen HERE": the fraction of a doc's distinct
    // shingles whose MINIMAL owner doc_id is the doc itself (owner =
    // arrival order by id — the dedup-keeper convention). The
    // training-data angle: novelty ranks candidates by marginal new
    // content, the score behind "add this crawl snapshot or not".
    // Plan: shingle → MIN(doc_id) hash-aggregate, joined back on the
    // shingle — two shuffles on the shingle key, no pairwise shapes;
    // the ratio is exact ints + ONE IEEE division.
    sql("dedup_shingle_novelty",
      s"""WITH sh AS ($shingledSql),
         |x AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |own AS (SELECT s, MIN(doc_id) AS owner FROM x GROUP BY s)
         |SELECT x.doc_id,
         | CAST(SUM(CASE WHEN own.owner = x.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         | COUNT(*) AS n_shingles,
         | CAST(SUM(CASE WHEN own.owner = x.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |  / COUNT(*) AS novelty
         |FROM x JOIN own ON own.s = x.s
         |GROUP BY x.doc_id""".stripMargin) {
      (s, d) =>
        val x = shingled(s, d).select(col("doc_id"), explode(col("shingles")).as("s"))
        val own = x.groupBy(col("s")).agg(min(col("doc_id")).as("owner"))
        x.join(own, "s")
          .groupBy(col("doc_id"))
          .agg(sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"),
            count(lit(1)).as("n_shingles"))
          .select(col("doc_id"), col("n_novel"), col("n_shingles"),
            (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
    },

    // --- simhash signatures ----------------------------------------------
    sql("dedup_simhash", simhashOracleSql) {
      (s, d) =>
        // one-pass native vote aggregate (each row decodes its 16 hex
        // nibbles once) instead of 64 SUM(substr/instr CASE) columns —
        // see SimHashAgg; the oracle keeps the composed 64-column form
        // as the independent definition of record
        val th = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(regexp_extract_all(lower(col("text")), lit(tokenPattern), lit(0)))).as("t"))
          .selectExpr("doc_id", "md5(t) AS h")
        th.groupBy(col("doc_id"))
          .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash64"))
    },

    // SIMHASH NEAR-DUP PAIRS — the C4-style pipeline completed: block
    // candidates by 16-bit signature bands (4 bands — two near-dups
    // within Hamming 6 of 64 bits must agree on ≥ 1 whole band far
    // more often than chance), then confirm by EXACT Hamming distance
    // computed nibble-wise on the hex signature (strpos decode + xor +
    // bit_count per hex digit — identical integer ops in both engines,
    // and no signed-64-bit conversion hazard on the high bit). The
    // pair set is band-blocked, never all-pairs — the same scale
    // discipline as the MinHash pipeline beside it.
    sql("dedup_simhash_pairs", {
      def nibDist(i: Int) =
        s"bit_count(xor(strpos('0123456789abcdef', substr(sa, $i, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(sb, $i, 1)) - 1))"
      val hamming = (1 to 16).map(nibDist).mkString(" + ")
      s"""WITH sigs AS (SELECT * FROM ($simhashOracleSql) q),
         |bv AS (SELECT doc_id, simhash64, off, substr(simhash64, off, 4) AS band
         |       FROM (SELECT doc_id, simhash64, unnest([1, 5, 9, 13]) AS off FROM sigs)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |          a.simhash64 AS sa, b.simhash64 AS sb
         |         FROM bv a JOIN bv b
         |          ON a.off = b.off AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST($hamming AS BIGINT) AS hamming
         |FROM cand WHERE $hamming <= 6""".stripMargin
    }) {
      (s, d) =>
        val th = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(array_distinct(regexp_extract_all(lower(col("text")), lit(tokenPattern), lit(0)))).as("t"))
          .selectExpr("doc_id", "md5(t) AS h")
        val sigs = th.groupBy(col("doc_id"))
          .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash64"))
        val bv = sigs
          .select(col("doc_id"), col("simhash64"),
            explode(array(lit(1), lit(5), lit(9), lit(13))).as("off"))
          .withColumn("band", expr("substr(simhash64, off, 4)"))
        val cand = bv.select(col("off"), col("band"),
            col("doc_id").as("doc_a"), col("simhash64").as("sa"))
          .join(bv.select(col("off").as("off2"), col("band").as("band2"),
              col("doc_id").as("doc_b"), col("simhash64").as("sb")),
            col("off") === col("off2") && col("band") === col("band2") &&
              col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("sa"), col("sb")).distinct()
        def nibDistC(i: Int) =
          s"bit_count((instr('0123456789abcdef', substr(sa, $i, 1)) - 1) ^ " +
            s"(instr('0123456789abcdef', substr(sb, $i, 1)) - 1))"
        val hammingC = (1 to 16).map(nibDistC).mkString(" + ")
        cand.withColumn("hamming", expr(hammingC).cast("long"))
          .filter(col("hamming") <= 6)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
    },

    // THE SAME VIEW FROM SQL TEXT — text-is-the-interface applied to
    // the extension surface: the native aggregate reaches `SELECT`
    // through the FunctionRegistry ([[graft.functions.GraftFunctions]]
    // / the `spark.sql.extensions=graft.GraftExtensions` entry point),
    // so a user types `simhash_agg(...)` like any built-in. Same
    // oracle text as the API twin — two surfaces, one definition of
    // record.
    sql("dedup_simhash_sql", simhashOracleSql) {
      (s, d) =>
        val ss = s.newSession()
        graft.functions.GraftFunctions.register(ss)
        Tables.documents(ss, d).createOrReplaceTempView("documents")
        ss.sql(
          s"""SELECT doc_id, simhash_agg(md5(t)) AS simhash64
             |FROM (SELECT doc_id,
             |  explode(array_distinct(regexp_extract_all(lower(text), '$tokenPattern', 0))) AS t
             |  FROM documents)
             |GROUP BY doc_id""".stripMargin)
    },

    // --- char-trigram jaccard with blocking ------------------------------
    sql("dedup_ngram_jaccard",
      """WITH g AS (
        | SELECT doc_id, lang, n_chars // 50 AS len_bucket,
        |  list_distinct(list_transform(generate_series(1, length(text)-2), i -> substr(text, i, 3))) AS grams
        | FROM documents WHERE length(text) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |  / len(list_distinct(list_concat(a.grams, b.grams))) AS jacc
        |FROM g a JOIN g b
        | ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.55""".stripMargin) {
      (s, d) =>
        // Native char_ngrams: the composed substr-in-a-lambda form is
        // O(chars²) per doc (each substr seeks from the buffer start,
        // interpreted) — see CharNgrams scaladoc.
        //
        // Pair enumeration is split from the heavy per-pair set ops:
        // joining gram ARRAYS in the block self-join puts every pair of
        // a block into one task (block-level skew) and lets predicate
        // pushdown duplicate the jaccard expression into a Filter.
        // Instead: narrow (doc_a, doc_b) pairs from a metadata-only
        // block join, gram arrays re-joined per side (doc-level hash
        // distribution), jaccard evaluated ONCE under an aggregation
        // barrier the filter cannot be pushed through.
        //
        // Two skew guards, both exact (a minhash prefilter was measured
        // and rejected: in-block trigram jaccard centers at ~0.5 against
        // τ=0.55, so any probabilistic band drops true pairs):
        //  - SALTED TRIANGLE enumeration: the left side fans out to S
        //    partner-salt copies and the right side joins on its own
        //    doc_id salt, so one block's O(block²) pair generation
        //    spreads over S tasks instead of one (at corpus scale a
        //    popular (lang, len-bucket) block would otherwise pin a
        //    whole reducer);
        //  - REPARTITION by pair before the confirm: the verify work
        //    distributes over the full cluster regardless of how few
        //    tasks the enumeration ran in (locally the grams joins
        //    broadcast-fuse into the scan stage — 3.3M JaccardSim calls
        //    on 2 tasks, measured 7.6 s → 2.1 s; at 100 TB the exchange
        //    is needed for the grams equi-join anyway).
        val S = 16
        val docs = Tables.documents(s, d).filter(length(col("text")) >= 3)
        val meta = docs.select(col("doc_id"), col("lang"),
          expr("n_chars div 50").as("len_bucket"))
        // sorted ONCE per doc so the per-pair kernel can run the
        // zero-allocation merge path (jaccard_sim_presorted) instead of
        // two hash sets per candidate pair
        val grams = docs.select(col("doc_id"),
          array_sort(graft.functions.CharNgrams.char_ngrams(col("text"), 3)).as("grams"))
        val aSide = meta.withColumn("psalt",
          explode(array((0 until S).map(lit): _*)))
        val bSide = meta.withColumn("salt", pmod(hash(col("doc_id")), lit(S)))
        val pairs = aSide.as("a").join(bSide.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.len_bucket") === col("b.len_bucket") &&
              col("a.psalt") === col("b.salt") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          // explicit N: AQE would coalesce the (narrow, ~16 B/row) pair
          // exchange to 1-2 partitions by SIZE, but the downstream cost
          // is per-pair CPU, not bytes
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("doc_a"), col("doc_b"))
        val jacc = graft.functions.JaccardSim.jaccard_sim_presorted(col("x.grams"), col("y.grams"))
        pairs
          .join(grams.as("x"), col("x.doc_id") === col("doc_a"))
          .join(grams.as("y"), col("y.doc_id") === col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(jacc).as("jacc"))
          .filter(col("jacc") >= 0.55)
    },

    // --- containment similarity (doc-in-doc) ----------------------------
    // |A∩B| / min(|A|,|B|) over the same char-trigram sets: near 1.0
    // when one document's content sits INSIDE the other (boilerplate
    // wrap, quote-and-extend), a case Jaccard under-scores because the
    // union inflates with the container's extra text. Containment
    // tolerates length mismatch, so the length blocking widens to
    // ±2 buckets — the probe side explodes to its 5 neighboring
    // buckets and the pair comes from a plain equi-join (each pair
    // matches once: b has ONE bucket). Same salted-triangle +
    // pair-repartition skew guards as dedup_ngram_jaccard; the
    // intersection is exact integer set math in both engines, the
    // single final division is IEEE-deterministic. Pairs with larger
    // length skew than ±2 buckets need the MinHash path (whose banding
    // is length-oblivious); that trade is the blocking contract here.
    sql("dedup_containment",
      """WITH g AS (
        | SELECT doc_id, lang, n_chars // 50 AS len_bucket,
        |  list_distinct(list_transform(generate_series(1, length(text)-2), i -> substr(text, i, 3))) AS grams
        | FROM documents WHERE length(text) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |  / least(len(a.grams), len(b.grams)) AS cont
        |FROM g a JOIN g b
        | ON a.lang = b.lang AND abs(a.len_bucket - b.len_bucket) <= 2 AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |  / least(len(a.grams), len(b.grams)) >= 0.8""".stripMargin) {
      (s, d) =>
        val S = 16
        val docs = Tables.documents(s, d).filter(length(col("text")) >= 3)
        val meta = docs.select(col("doc_id"), col("lang"),
          expr("n_chars div 50").as("len_bucket"))
        val grams = docs.select(col("doc_id"),
          array_sort(graft.functions.CharNgrams.char_ngrams(col("text"), 3)).as("grams"))
        val aSide = meta
          .withColumn("probe_bucket",
            explode(array((-2 to 2).map(o => col("len_bucket") + lit(o)): _*)))
          .withColumn("psalt", explode(array((0 until S).map(lit): _*)))
        val bSide = meta.withColumn("salt", pmod(hash(col("doc_id")), lit(S)))
        val pairs = aSide.as("a").join(bSide.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.probe_bucket") === col("b.len_bucket") &&
              col("a.psalt") === col("b.salt") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("doc_a"), col("doc_b"))
        // exact integer intersection over the sorted gram arrays; the
        // aggregation barrier keeps the per-pair set op evaluated once
        // (same shape as dedup_ngram_jaccard's confirm)
        val cont = size(array_intersect(col("x.grams"), col("y.grams"))).cast("double") /
          least(size(col("x.grams")), size(col("y.grams")))
        pairs
          .join(grams.as("x"), col("x.doc_id") === col("doc_a"))
          .join(grams.as("y"), col("y.doc_id") === col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(cont).as("cont"))
          .filter(col("cont") >= 0.8)
    },

    // --- embedding near-dup, LSH-bucketed (the 100 TB path) --------------
    // Banded sign-LSH candidates + exact-cosine confirm: vectors explode
    // to (band, bucket) keys, candidates come from a hash EQUI-join on
    // those keys (both sides partition on (band, bucket) — no cartesian
    // anywhere in the plan), then the exact cosine filters. Same output
    // shape and τ as dedup_embedding_cosine, so brute is the recall
    // oracle of record: 92% measured on the fixture (see the banding
    // note above; DedupSpec asserts the plan shape and the recall).
    sql("dedup_embedding_lsh", embeddingLshOracle) {
      (s, d) =>
        import graft.functions.VectorOps.{dot, floorRound6, normSq, toDoubleVec}
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
          .withColumn("nrm", sqrt(normSq(col("v"))))
        val bb = embBandRows(e)
        val cand = bb.as("a").join(bb.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
          .distinct()
        val cos = dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
        cand
          .join(e.as("x"), col("x.vec_id") === col("vec_a"))
          .join(e.as("y"), col("y.vec_id") === col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            floorRound6(cos).as("cos_sim"), cos.as("_raw"))
          .filter(col("_raw") >= 0.3)
          .drop("_raw")
    },

    // --- maintained embedding near-dup under a changelog -----------------
    // The sign-LSH sibling of dedup_minhash_maintained: same oracle as
    // the one-shot batch entry; ghost embeddings injected then deleted
    // must leave the pair set identical.
    sql("dedup_embedding_lsh_maintained", embeddingLshOracle)(
      (s, d) => FixtureMemo(s"$d#emb_lsh_maintained", Seq("dedup_embedding_lsh_maintained"), s)(embeddingLshMaintained(s, d))),

    // … with the vector store + pair set PERSISTED to the snapshot
    // log (bands recomputed from the persisted vectors — 64 integer
    // ops each), proven by a mid-changelog session restart on the
    // same one-shot batch oracle.
    sql("dedup_embedding_lsh_persist", embeddingLshOracle)(
      (s, d) => FixtureMemo(s"$d#emb_lsh_persist", Seq("dedup_embedding_lsh_persist"), s)(embeddingLshPersist(s, d))),

    // --- semantic dedup (SemDeDup shape): k-means, then in-cluster -------
    // Lloyd's algorithm made cross-engine deterministic: seed centroids
    // are a FIXED-SIZE id-hash sample (SimilaritySearch.seedCentroids —
    // k is a parameter, not corpus/17, so the broadcast cannot outgrow
    // an executor), assignment ties break by cent_id, and the centroid
    // mean is a DECIMAL-exact sum divided in double — so the summation
    // order of a distributed aggregate cannot drift the centroids from
    // DuckDB's sequential ones. Pairs then come from an EQUI-join on
    // the final cluster id (no cartesian): the cluster structure does
    // the blocking that dedup_embedding_cosine lacks. At 100 TB:
    // assignment is corpus × k with the constant-size centroid set
    // broadcast (size k ≈ √n in production); recompute is one explode
    // + hash-aggregate per iteration; the pair join partitions by
    // cluster id.
    sql("dedup_semantic_kmeans", {
      def assignSql(cents: String, out: String) =
        s"""$out AS (SELECT vec_id, v, cent_id FROM (
           | SELECT e.vec_id, e.v, c.cent_id,
           |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cent_id) AS r
           | FROM e, $cents c) t WHERE r = 1)""".stripMargin
      def recomputeSql(assigned: String, out: String) =
        s"""$out AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM (
           | SELECT cent_id, i, CAST(SUM(CAST(x AS DECIMAL(27,14))) AS DOUBLE)/COUNT(*) AS m
           | FROM (SELECT cent_id, unnest(generate_series(1, len(v))) AS i, unnest(v) AS x
           |       FROM $assigned) z
           | GROUP BY cent_id, i) s GROUP BY cent_id)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c0 AS ${SimilaritySearch.seedCentroidsSql(KmeansK)},
         |${assignSql("c0", "a1")},
         |${recomputeSql("a1", "c1")},
         |${assignSql("c1", "a2")},
         |${recomputeSql("a2", "c2")},
         |${assignSql("c2", "a3")}
         |SELECT x.cent_id AS cluster_id, x.vec_id AS vec_a, y.vec_id AS vec_b,
         | FLOOR(list_cosine_similarity(x.v, y.v) * 1000000 + 0.5) / 1000000 AS cos_sim
         |FROM a3 x JOIN a3 y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
         |WHERE list_cosine_similarity(x.v, y.v) >= 0.3""".stripMargin
    }) {
      (s, d) =>
        import graft.functions.VectorOps.{dot, floorRound6, normSq, toDoubleVec}
        import org.apache.spark.sql.types.DecimalType
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
          .withColumn("vnrm", sqrt(normSq(col("v"))))
        // argmin as a min_by HASH-AGGREGATE, not a row_number window:
        // map-side combinable, no per-vector sort of the corpus × k
        // assignment rows. Norms are hoisted per side, so each pair
        // costs one VecDot. The (-cos, cent_id) order key is unique
        // per group → deterministic, same tie-break as the oracle's
        // (cos DESC, cent_id) window.
        def assign(cents: DataFrame): DataFrame = {
          val cos = dot(col("v"), col("cv")) / (col("vnrm") * col("cnrm"))
          // argmin carries ONLY the centroid id — putting `v` in the
          // min_by struct would copy the 512-byte vector into the
          // aggregation buffer on every winning row; the (tiny)
          // vec_id→v join restores it afterwards
          e.join(broadcast(cents))
            .groupBy(col("vec_id"))
            .agg(min_by(col("cent_id"), struct(-cos, col("cent_id"))).as("cent_id"))
            .join(e.select(col("vec_id"), col("v")), "vec_id")
            .select(col("vec_id"), col("v"), col("cent_id"))
        }
        def withCnrm(cents: DataFrame): DataFrame =
          cents.withColumn("cnrm", sqrt(normSq(col("cv"))))
        var cents = SimilaritySearch.seedCentroids(e, KmeansK)
        for (_ <- 1 to 2) {
          // decimal-exact elementwise mean; reassembled in index order
          // (collect_list order is nondeterministic, the sort fixes it)
          cents = assign(withCnrm(cents))
            .select(col("cent_id"), posexplode(col("v")).as(Seq("p", "x")))
            .groupBy(col("cent_id"), (col("p") + 1).as("i"))
            .agg((sum(col("x").cast(DecimalType(27, 14))).cast("double")
              / count(lit(1))).as("m"))
            .groupBy("cent_id")
            .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
              s => s.getField("m")).as("cv"))
        }
        val fin = assign(withCnrm(cents)).withColumn("nrm", sqrt(normSq(col("v"))))
        val cos = dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
        fin.as("x").join(fin.as("y"),
            col("x.cent_id") === col("y.cent_id") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.cent_id").as("cluster_id"),
            col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
            floorRound6(cos).as("cos_sim"), cos.as("_raw"))
          .filter(col("_raw") >= 0.3)
          .drop("_raw")
    })
}
