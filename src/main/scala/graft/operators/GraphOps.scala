package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql

/** Graph analytics beyond connected components: PageRank, made
  * cross-engine DETERMINISTIC by running entirely in scaled-integer
  * arithmetic — rank mass is an int64 in 1e-6 units, per-edge
  * contributions use integer division, and the damping update is
  * `(1−d)·S + (d·Σcontrib) div S` with S = 1e6, so every iteration is
  * exact integer math whose result cannot depend on summation order or
  * libm. (Float PageRank would put a ±ulp on every rank and make a
  * top-k cut nondeterministic — the same failure mode the ANN surface
  * eliminates with quantized cosines.)
  *
  * Fixed iteration count (power iteration, damping 0.85), classic
  * join→aggregate shape per iteration: contributions = edges ⋈ ranks
  * (one shuffle on src), new ranks = one hash aggregate on dst — at
  * 100 TB this is the standard Pregel-as-joins layout, partitioned by
  * vertex id, with the iteration count bounding total work. The loop
  * composes lazily here (lineage re-derives earlier rounds; fine for
  * a handful of iterations); a long-running production loop would
  * `persist`/checkpoint `ranks` each round to truncate the lineage —
  * an execution-management choice, not a change of plan shape.
  *
  * LINEAGE CAVEAT for every `localCheckpoint` below (and
  * `GraftBridge.localCheckpointCounted`): the checkpoint cuts the
  * lineage, so its blocks are never recomputed. A block lost with its
  * executor, or one unpersisted while a plan still reads it, fails the
  * job that reads it ("Checkpoint block not found"); free a checkpoint
  * only when no live frame reads it.
  *
  * Reference: beyond-reference analytics surface; PageRank per Brin &
  * Page (1998), integer-arithmetic determinism per this repo's
  * exact-fold conventions.
  */
object GraphOps {

  private val Scale = 1000000L
  private val DampE6 = 850000L   // 0.85 · Scale
  private val BaseE6 = 150000L   // (1 − 0.85) · Scale

  /** `iters` integer power-iteration steps over directed `edges`
    * (src, dst). Every node must have out-degree ≥ 1 (feed an
    * undirected/bidirectional edge set for bipartite graphs — the
    * caller's dangling-mass policy). Returns (node, rank_e6).
    *
    * The damped product runs in DECIMAL(38,0) (HUGEINT in the DuckDB
    * mirror): Σcontrib is bounded by total rank mass ≈ N·1e6, so an
    * int64 product 850000·Σcontrib would wrap silently past ~1e7
    * nodes — the widened intermediate keeps the update exact to
    * ~1e25 nodes while `div` still lands back in BIGINT. */
  def pagerankInt(edges: DataFrame, iters: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val nodes = edges.select(col("src").as("node")).distinct()
    var ranks = nodes.select(col("node"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      ranks = step(edges, deg, nodes, ranks)
    }
    ranks.select(col("node"), col("r").as("rank_e6"))
  }

  private def step(edges: DataFrame, deg: DataFrame, nodes: DataFrame,
                   ranks: DataFrame): DataFrame = {
    val contrib = edges
      .join(ranks, edges("src") === ranks("node"))
      .join(deg, "src")
      .select(col("dst").as("node"), expr("r div d").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        (lit(BaseE6) + expr(
          s"(CAST(${DampE6} AS DECIMAL(38,0)) * coalesce(contrib, 0L)) div ${Scale}"
        )).as("r"))
  }

  /** [[pagerankInt]] with lineage truncation: each round's ranks are
    * eagerly `localCheckpoint`ed, so the next round's plan starts from
    * a materialized RDD instead of re-deriving every earlier round —
    * plan depth stays O(1) in `iters` where the lazy loop's grows
    * exponentially. This is the production shape for deep iteration —
    * identical integer math, identical per-round plan (one shuffled
    * join + one hash aggregate), only the execution-management
    * differs. (On a cluster, localCheckpoint writes to executor-local
    * storage — non-recoverable across executor loss; a long-running
    * job would use reliable `checkpoint` with a checkpoint dir. Same
    * truncation semantics.) Dropped rounds' blocks are released by the
    * ContextCleaner once unreferenced. */
  def pagerankIntPersisted(edges: DataFrame, iters: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d")).persist()
    val nodes = edges.select(col("src").as("node")).distinct().persist()
    var ranks = nodes.select(col("node"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      ranks = step(edges, deg, nodes, ranks).localCheckpoint(eager = true)
    }
    deg.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    ranks.select(col("node"), col("r").as("rank_e6"))
  }

  /** PERSONALIZED PageRank (random walk with restart): the teleport
    * mass lands only on the SEED set — r₀ = Scale·1[v∈S], and each
    * step's base term is BaseE6·1[v∈S] instead of a uniform BaseE6.
    * Ranks then measure proximity to the seeds (the
    * recommendation/similar-entities readout), not global centrality.
    * Same exact-integer scheme as [[pagerankInt]]: the damped product
    * widens to DECIMAL(38,0), divisions are integer `div`, so the
    * trajectory is bit-identical cross-engine. `seeds` is one column
    * `node`; non-seed unreachable nodes legitimately hold rank 0. */
  def personalizedPagerankInt(edges: DataFrame, seeds: DataFrame,
                              iters: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val seeded = nodes
      .join(seeds.select(col("node"), lit(1L).as("s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("is_seed"))
    var ranks = seeded.select(col("node"), (col("is_seed") * Scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst").as("node"), expr("r div d").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      ranks = seeded.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * BaseE6 + expr(
            s"(CAST(${DampE6} AS DECIMAL(38,0)) * coalesce(contrib, 0L)) div ${Scale}"
          )).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_e6"))
  }

  /** The DuckDB mirror of [[personalizedPagerankInt]]: `seedPred` is a
    * predicate over the tagged `node` string. */
  private def personalizedPagerankSql(edgesCte: String, seedPred: String,
                                      iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         | CAST(n.is_seed * $BaseE6 + (CAST($DampE6 AS HUGEINT) * COALESCE(c.contrib, 0)) // $Scale AS BIGINT) AS r
         | FROM ns n LEFT JOIN (
         |  SELECT e.dst AS node, SUM(r.r // d.d) AS contrib
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |n AS (SELECT DISTINCT src AS node FROM edges),
       |ns AS (SELECT node, CASE WHEN $seedPred THEN 1 ELSE 0 END AS is_seed FROM n),
       |r0 AS (SELECT node, CAST(is_seed * $Scale AS BIGINT) AS r FROM ns),
       |$steps
       |SELECT node, r AS rank_e6 FROM r$iters
       |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  /** The DuckDB mirror: one CTE per iteration (same integer ops). */
  private def pagerankSql(edgesCte: String, iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         | CAST($BaseE6 + (CAST($DampE6 AS HUGEINT) * COALESCE(c.contrib, 0)) // $Scale AS BIGINT) AS r
         | FROM n LEFT JOIN (
         |  SELECT e.dst AS node, SUM(r.r // d.d) AS contrib
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($edgesCte),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |n AS (SELECT DISTINCT src AS node FROM edges),
       |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM n),
       |$steps
       |SELECT node, r AS rank_e6 FROM r$iters
       |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  /** `iters` rounds of integer min-plus BFS from `seeds` over directed
    * `edges` (src, dst): dist₀ = 0 on seeds, `Inf` sentinel elsewhere;
    * distᵢ₊₁(v) = min(distᵢ(v), min over u→v of distᵢ(u)+1). All
    * integer mins — trivially deterministic; the sentinel (not NULL)
    * keeps the fold total in both engines. Returns nodes REACHED
    * within `iters` hops: (node, dist). */
  val Inf = 999999L
  def bfsHops(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    var dist = nodes.join(seeds.select(col("node"), lit(0L).as("d0")), Seq("node"), "left")
      .select(col("node"), coalesce(col("d0"), lit(Inf)).as("d"))
    for (_ <- 1 to iters) {
      val relaxed = edges.join(dist, edges("src") === dist("node"))
        .select(col("dst").as("node"), (col("d") + lit(1L)).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      dist = dist.join(relaxed, Seq("node"), "left")
        .select(col("node"), least(col("d"), coalesce(col("cand"), lit(Inf))).as("d"))
    }
    dist.filter(col("d") < Inf).select(col("node"), col("d").as("dist"))
  }

  /** WEIGHTED single-source (multi-seed) shortest paths — Bellman-Ford
    * as min-plus relaxation rounds, the weighted generalization of
    * [[bfsHops]]: each round one equi-join (frontier ⋈ out-edges, cost
    * d + w) and one hash MIN per destination, exact BIGINT costs
    * throughout. `iters` bounds path LENGTH (standard Bellman-Ford: k
    * rounds give optimal costs over paths of ≤ k edges — callers
    * iterate to graph diameter, persisting rounds as
    * [[pagerankIntPersisted]] does for deep loops). */
  /** Weighted infinity sentinel — [[Inf]] (hop counts) is far too
    * small once costs carry e2 prices; any real ≤k-edge path cost
    * stays orders of magnitude below this. */
  val WInf = 999999999999L

  def ssspWeighted(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    var dist = nodes.join(seeds.select(col("node"), lit(0L).as("d0")), Seq("node"), "left")
      .select(col("node"), coalesce(col("d0"), lit(WInf)).as("d"))
    for (_ <- 1 to iters) {
      val relaxed = edges.join(dist.filter(col("d") < WInf), edges("src") === dist("node"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
      dist = dist.join(relaxed, Seq("node"), "left")
        .select(col("node"), least(col("d"), coalesce(col("cand"), lit(WInf))).as("d"))
    }
    dist.filter(col("d") < WInf).select(col("node"), col("d").as("cost"))
  }

  /** Re-orient CANONICAL undirected edges (u < v, distinct) so every
    * edge points from the lower to the higher endpoint under the
    * (degree, id) total order — the standard skew armor for wedge
    * enumeration: under degree orientation every node's OUT-degree is
    * O(√m) (a node with out-degree d has d neighbors of degree ≥ its
    * own, so d² ≤ 2m), which bounds the per-key wedge list that id
    * orientation lets a lexically-small hub blow up to its full
    * degree. Two hash joins against the degree frame (computed from
    * the same edge set); output `(src, dst)` with src ≺ dst. */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
  }

  /** Per-node triangle participation counts over an undirected graph
    * given as CANONICAL edges (u < v, distinct). The classic
    * two-join enumeration over [[orientByDegree]]-directed edges:
    * every triangle {x ≺ y ≺ z} under the (degree, id) order carries
    * directed edges x→y, y→z, x→z, so wedges = e1(a,b) ⋈ e2(b,c)
    * materialize each triangle exactly once and the closing probe is
    * an equi-join back onto the directed set on the composite (a,c).
    * All joins are hash equi-joins on node ids; counts are exact
    * integers and — because participation counts are
    * orientation-invariant — identical to what id orientation
    * produced, while the heaviest per-key wedge list is bounded by
    * O(√m)² pairings instead of a hub's full degree².
    *
    * `edges` is consumed FOUR times (degree frame + both wedge legs +
    * the closing probe) — callers must materialize it
    * (persist/localCheckpoint) or the whole derivation re-executes
    * per use; the registered entry does.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialized: the oriented set feeds both wedge legs + the
    // closing probe, and its two degree joins must not run per leg
    val d = orientByDegree(edges).localCheckpoint(eager = true)
    val e1 = d.select(col("src").as("a"), col("dst").as("b"))
    val e2 = d.select(col("src").as("b2"), col("dst").as("c"))
    val e3 = d.select(col("src").as("a3"), col("dst").as("c3"))
    val tri = e1
      .join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b")))
      .unionAll(tri.select(col("c")))
      .groupBy("node").agg(count(lit(1)).as("tri_count"))
  }

  /** k-CORE decomposition by iterative peeling: drop nodes whose
    * degree among SURVIVING edges is < k, recompute, repeat to the
    * fixpoint — the standard dense-subgraph extractor (community
    * cores, spam rings, "the part of the graph worth mining"). Each
    * round is one semi-join pair (edges × alive endpoints) + one hash
    * degree aggregate, `localCheckpoint` per round so lineage stays
    * flat at any round count; next ⊆ alive makes the count equality a
    * set-equality fixpoint test. Fails LOUD if `maxRounds` rounds do
    * not converge — a silent cap would report a non-core. Returns
    * `(node, core_deg)` with degrees measured inside the core. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // STATISTICS FEEDBACK (replaces round 16's count-gated broadcast
    // hints, same discipline as RecursiveSql's Fixpoint): the alive
    // set is an RDD-backed checkpoint whose statistics the planner
    // would otherwise read as unknown — it started each cycle's
    // semi-joins at sort-merge and leaned on AQE conversion. The loop
    // already counts alive every cycle for the fixpoint test, so the
    // checkpoint now fuses that count into the materializing job
    // (GraftBridge.localCheckpointCounted — one job per cycle instead
    // of checkpoint + count) and stamps the frame with its exact row
    // count and byte size. The semi-joins then plan broadcast from
    // REAL sizes under spark.sql.autoBroadcastJoinThreshold — byte-
    // gated, so a corpus-scale alive set plans exactly as before.
    def aliveEdges(alive: DataFrame): DataFrame = edges
      .join(alive.select(col("node").as("u")), "u")
      .join(alive.select(col("node").as("v")), "v")
    def degrees(ae: DataFrame): DataFrame =
      ae.select(col("u").as("node")).unionAll(ae.select(col("v")))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
    def peel(alive: DataFrame): DataFrame =
      degrees(aliveEdges(alive)).filter(col("core_deg") >= k).select("node")
    // ROUND 1 SPECIALIZED: alive₀ is every endpoint, so
    // aliveEdges(alive₀) ≡ edges — the two semi-joins of an ordinary
    // peel are identities there, and the distinct-endpoints frame
    // itself exists only to seed them. Peel 1 is therefore computed
    // straight off the edge degrees (one aggregate, no joins, no
    // endpoints materialization+count cycle).
    var (alive, n) = GraftBridge.localCheckpointCounted(
      degrees(edges).filter(col("core_deg") >= k).select("node"))
    var converged = false
    var r = 1
    // TWO peels per materialization: the cost of this loop is job and
    // checkpoint overhead, not data (the 0.99 sf0.01→sf0.1 time ratio
    // proved it). The inner peel's Dataset feeds BOTH semi-join sides
    // of the outer one, so ReuseExchange dedups it — lazy
    // 2-composition costs one inner peel, not two (the LPA/HITS
    // lazy-loop lesson). A 3-peel stride was tried in round 16 and
    // measured SLOWER (+0.8 s at sf0.1): past two compositions the
    // un-deduped portion of the wider plan outgrows the saved
    // checkpoint+count cycle. Fixpoint test across the stride stays
    // sound: peel is monotone shrinking, so alive = peel²(alive)
    // forces peel(alive) = alive.
    while (!converged && r < maxRounds) {
      val (next, m) = GraftBridge.localCheckpointCounted(peel(peel(alive)))
      converged = m == n
      alive = next; n = m; r += 2
    }
    require(converged, s"k-core peel did not converge within $maxRounds rounds")
    degrees(aliveEdges(alive))
  }

  /** [[kcore]]'s oracle: the peel unrolled to a FIXED `rounds` chain
    * of CTEs (recursive CTEs cannot reference the working table twice,
    * which the both-endpoints-alive join needs). Extra rounds past the
    * fixpoint are the identity, so fixed-R equals the converged loop
    * whenever R covers convergence — which the Spark side asserts. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT node FROM (
         |  SELECT u AS node FROM e0
         |   WHERE u IN (SELECT node FROM a${i - 1}) AND v IN (SELECT node FROM a${i - 1})
         |  UNION ALL
         |  SELECT v FROM e0
         |   WHERE u IN (SELECT node FROM a${i - 1}) AND v IN (SELECT node FROM a${i - 1})) t
         | GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
       |       FROM li a JOIN li b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |a0 AS MATERIALIZED (SELECT u AS node FROM e0 UNION SELECT v FROM e0),
       |$peels
       |SELECT node, COUNT(*) AS core_deg FROM (
       | SELECT u AS node FROM e0
       |  WHERE u IN (SELECT node FROM a$rounds) AND v IN (SELECT node FROM a$rounds)
       | UNION ALL
       | SELECT v FROM e0
       |  WHERE u IN (SELECT node FROM a$rounds) AND v IN (SELECT node FROM a$rounds)) t
       |GROUP BY node""".stripMargin
  }

  /** Synchronous LABEL PROPAGATION (Raghavan et al. 2007) for a FIXED
    * round count with a deterministic vote: each round every node
    * adopts the most frequent label among its neighbors, ties broken
    * toward the SMALLEST label — so the trajectory (not just the
    * fixpoint) is cross-engine reproducible, which is what lets a
    * community detector sit behind a value-hash gate. Per round: one
    * shuffled join (edges ⋈ labels on dst) + two hash aggregates (the
    * vote count, then a struct-extreme argmax — NO window, so no
    * per-node sort). The loop composes LAZILY over the one
    * checkpointed edge set: at the operator's fixed handful of rounds
    * the linear lineage is measurably cheaper than eager per-round
    * materialization (profiled ~30% at sf0.1 — the r10 lesson that
    * recomputing small folds beats materializing them); a deep or
    * convergence-driven loop would checkpoint per round like
    * [[kcore]]. Labels/ids must be non-negative (the argmax packs
    * min-label as max(−label)).
    *
    * At 100 TB: the classic Pregel-as-joins layout — both sides
    * hash-partition on the join key each round, state is one (node,
    * label) row per vertex, and the fixed round count bounds total
    * work at R × |E| shuffle volume. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val undirected = edges.select(col("u").as("src"), col("v").as("dst"))
      .union(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(eager = true)
    var labels = undirected.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      // the deterministic vote in ONE aggregate: mode(lbl, true) is
      // "most frequent, ties to the LOWEST value" — exactly the
      // (count DESC, label ASC) contract the oracle spells as a
      // window. The previous two-level spelling (count per (src, lbl),
      // then a struct-argmax per src) paid a second exchange + hash
      // aggregate per round; mode's partial maps fold map-side and
      // shuffle one buffer per src.
      labels = undirected.join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community_id"))
  }

  /** DuckDB mirror of [[labelPropagation]] over the support-≥2 part
    * co-occurrence graph: `rounds` unrolled CTE hops, each one the
    * identical deterministic vote (count DESC, label ASC) spelled as a
    * window — the tie rule is the operator's contract, shared by both
    * engines. */
  def lpaOracleSql(rounds: Int): String = {
    val hops = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         | SELECT src AS node, lbl FROM (
         |  SELECT e.src, l.lbl,
         |   ROW_NUMBER() OVER (PARTITION BY e.src
         |     ORDER BY COUNT(*) DESC, l.lbl) AS rk
         |  FROM edges e JOIN l${i - 1} l ON e.dst = l.node
         |  GROUP BY e.src, l.lbl) t WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
       |       FROM li a JOIN li b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
       |        UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
       |$hops
       |SELECT node, lbl AS community_id FROM l$rounds""".stripMargin
  }

  /** Bipartite HITS (Kleinberg 1999) in the repo's exact-integer
    * style: hub scores live on the left (supplier) side, authority
    * scores on the right (part) side; each half-step is one shuffled
    * join + one hash aggregate (the Pregel-as-joins shape), and the
    * per-round max-normalization is the SAME three-IEEE-op rescale as
    * [[SimilaritySearch]]'s PC1 (`FLOOR(x·1e6/max + 0.5)` — every
    * operand exact below 2^53, so the doubles are bit-identical
    * cross-engine; at larger degree scales the e6 grid re-scales, a
    * parameter not a shape). The max is a one-row aggregate broadcast
    * back — bounded by construction. Returns the authority frame. */
  def hitsAuthorities(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.localCheckpoint(eager = true)
    var h = e.select(col("s")).distinct().withColumn("h", lit(1000000L))
    var a: DataFrame = e.select(col("p")).distinct().withColumn("a", lit(1000000L))
    for (_ <- 1 to rounds) {
      val ar = e.join(h, "s").groupBy(col("p")).agg(sum(col("h")).as("x"))
      a = ar.crossJoin(broadcast(ar.agg(max(col("x")).as("m"))))
        .select(col("p"),
          floor(col("x") * lit(1000000.0) / col("m") + 0.5).cast("long").as("a"))
      val hr = e.join(a, "p").groupBy(col("s")).agg(sum(col("a")).as("x"))
      h = hr.crossJoin(broadcast(hr.agg(max(col("x")).as("m"))))
        .select(col("s"),
          floor(col("x") * lit(1000000.0) / col("m") + 0.5).cast("long").as("h"))
    }
    a
  }

  /** DuckDB mirror of [[hitsAuthorities]] over the supplier→part
    * supply graph: `rounds` unrolled authority/hub half-steps. */
  def hitsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""a${i}r AS (SELECT p, CAST(SUM(h) AS BIGINT) AS x
         |  FROM e JOIN h${i - 1} USING (s) GROUP BY 1),
         |a${i}m AS (SELECT MAX(x) AS m FROM a${i}r),
         |a$i AS (SELECT p, CAST(FLOOR(x * 1000000.0 / m + 0.5) AS BIGINT) AS a
         |  FROM a${i}r, a${i}m),
         |h${i}r AS (SELECT s, CAST(SUM(a) AS BIGINT) AS x
         |  FROM e JOIN a$i USING (p) GROUP BY 1),
         |h${i}m AS (SELECT MAX(x) AS m FROM h${i}r),
         |h$i AS (SELECT s, CAST(FLOOR(x * 1000000.0 / m + 0.5) AS BIGINT) AS h
         |  FROM h${i}r, h${i}m)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |h0 AS (SELECT DISTINCT s, CAST(1000000 AS BIGINT) AS h FROM e),
       |$steps
       |SELECT p AS part_id, a AS authority_e6 FROM a$rounds
       |ORDER BY a DESC, p LIMIT 20""".stripMargin
  }

  /** The SUPPORT-≥2 part co-occurrence edge set, derived WITHOUT the
    * distinct+self-join: collect each order's part set (bounded by
    * order size) and generate its in-order pairs — one shuffle on the
    * order key, one on the pair, no join. Same edge set as the
    * oracles' self-join spelling: pair count = #orders containing
    * both parts. Shared by the kcore/CC/triangle/LPA entries. */
  private def partCoEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "u")))
      .select(col("u"),
        explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("u", "v")

  val defs: Seq[GraftQuery] = Seq(
    // HITS AUTHORITIES on the supplier→part supply graph — "which
    // parts are supplied by the best-connected suppliers" (the
    // bipartite citation analysis, next to PageRank's random surfer).
    // 3 exact-integer rounds; top-20 authorities via TakeOrdered.
    sql("graph_hits_authorities", hitsOracleSql(rounds = 3)) {
      (s, d) =>
        val e = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
        hitsAuthorities(e, rounds = 3)
          .orderBy(col("a").desc, col("p")).limit(20)
          .select(col("p").as("part_id"), col("a").as("authority_e6"))
    },

    // LABEL-PROPAGATION COMMUNITIES on the support-≥2 part
    // co-occurrence graph — the clustering complement to the CC entry
    // (CC finds reachability islands; LPA splits dense islands into
    // communities). 4 synchronous rounds with the deterministic vote;
    // both engines run the identical trajectory.
    sql("graph_label_propagation", lpaOracleSql(rounds = 4)) {
      (s, d) => labelPropagation(partCoEdges(s, d), rounds = 4)
    },

    // 3-CORE of the support-≥2 part co-occurrence graph (the same
    // signal/noise cut the CC and triangle entries use): the dense
    // community backbone, peeled to the asserted fixpoint (11 rounds
    // at sf0.01; the oracle unrolls 16 — identity past convergence).
    sql("graph_kcore", kcoreOracleSql(k = 3, rounds = 16)) {
      (s, d) =>
        kcore(partCoEdges(s, d).localCheckpoint(eager = true),
          k = 3, maxRounds = 16)
    },
    // CONNECTED COMPONENTS at the graph surface: the support-≥2 part
    // co-occurrence graph labeled by the O(log²)-round large-star/
    // small-star fixpoint ([[Dedup.ccLargeSmallStar]] — ONE
    // implementation for both the near-dup and the graph surface),
    // gated against DuckDB's recursive-CTE min-label propagation.
    // Support-2 sparsification keeps the graph analytically honest
    // (co-bought twice ≈ signal, once ≈ noise) and bounds the
    // oracle's label-closure recursion.
    sql("graph_connected_components",
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |edges AS (SELECT u AS src, v AS dst FROM e0
        |          UNION ALL SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, lbl) AS (
        | SELECT node, node FROM nodes
        | UNION
        | SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.node = e.src)
        |SELECT node, MIN(lbl) AS component_id FROM reach GROUP BY node""".stripMargin) {
      (s, d) =>
        Dedup.ccLargeSmallStar(partCoEdges(s, d))
          .select(col("doc_id").as("node"), col("cluster_id").as("component_id"))
    },

    // Triangles in the SUPPORT-≥2 part co-occurrence graph (the same
    // signal/noise cut the CC entry uses: co-bought twice ≈ signal;
    // keeping support-1 edges makes the graph quadratically denser
    // and the wedge enumeration ~40× slower for neighborhoods that
    // are noise anyway). Top-50 by participation count.
    sql("graph_triangle_count",
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, COUNT(*) AS tri_count FROM (
        | SELECT a AS node FROM tri
        | UNION ALL SELECT b FROM tri
        | UNION ALL SELECT c FROM tri) t
        |GROUP BY node ORDER BY tri_count DESC, node LIMIT 50""".stripMargin) {
      (s, d) =>
        // materialized ONCE: the edge set feeds three join legs
        triangleCounts(partCoEdges(s, d).localCheckpoint(eager = true))
          .orderBy(col("tri_count").desc, col("node")).limit(50)
    },

    // The customer↔supplier interaction graph (distinct pairs through
    // orders⋈lineitem, both directions so the bipartite graph has no
    // dangling nodes), 3 power iterations, top-50 by rank. Node ids
    // prefix-tagged so the two key spaces cannot collide.
    sql("graph_pagerank",
      pagerankSql(
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |  's' || CAST(l_suppkey AS VARCHAR) AS dst
          | FROM orders, lineitem WHERE l_orderkey = o_orderkey""".stripMargin,
        iters = 3)) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        pagerankInt(edges, iters = 3)
          .orderBy(col("rank_e6").desc, col("node")).limit(50)
    },

    // PERSONALIZED PageRank on the same customer↔supplier graph:
    // teleport mass restricted to the customer seeds c_custkey%37=1 —
    // ranks measure proximity to those customers (the "suppliers/
    // customers similar to this cohort" recommendation readout).
    // 3 exact-integer iterations, top-50.
    sql("graph_personalized_pagerank",
      personalizedPagerankSql(
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |  's' || CAST(l_suppkey AS VARCHAR) AS dst
          | FROM orders, lineitem WHERE l_orderkey = o_orderkey""".stripMargin,
        seedPred = "node LIKE 'c%' AND CAST(SUBSTR(node, 2) AS BIGINT) % 37 = 1",
        iters = 3)) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = edges.select(col("src").as("node")).distinct()
          .filter(col("node").startsWith("c") &&
            expr("CAST(substring(node, 2) AS BIGINT) % 37 = 1"))
        personalizedPagerankInt(edges, seeds, iters = 3)
          .orderBy(col("rank_e6").desc, col("node")).limit(50)
    },

    // The same graph pushed to 8 iterations through the PERSISTED
    // loop: proves the lineage-truncated variant scales past the
    // depth where the lazy loop's re-derived plan would explode,
    // with bit-identical integer math (the oracle is the same
    // CTE-per-iteration mirror, just deeper).
    sql("graph_pagerank_deep",
      pagerankSql(
        """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
          |  's' || CAST(l_suppkey AS VARCHAR) AS dst
          | FROM orders, lineitem WHERE l_orderkey = o_orderkey""".stripMargin,
        iters = 8)) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        pagerankIntPersisted(edges, iters = 8)
          .orderBy(col("rank_e6").desc, col("node")).limit(50)
    },

    // Hop distances from the nation-1 suppliers over the same
    // bidirectional graph: which customers/suppliers sit within 3
    // hops of that supplier cohort, and how close. Min-plus relaxation
    // — each round one equi-join + one hash MIN aggregate.
    sql("graph_bfs_hops", {
      val steps = (1 to 3).map { i =>
        s"""d$i AS (SELECT d.node,
           | LEAST(d.d, COALESCE(c.cand, 999999)) AS d
           | FROM d${i - 1} d LEFT JOIN (
           |  SELECT e.dst AS node, MIN(r.d + 1) AS cand
           |  FROM edges e JOIN d${i - 1} r ON r.node = e.src
           |  GROUP BY e.dst) c ON c.node = d.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |  's' || CAST(l_suppkey AS VARCHAR) AS dst
         | FROM orders, lineitem WHERE l_orderkey = o_orderkey),
         |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM edges),
         |seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
         |          FROM supplier WHERE s_nationkey = 1),
         |d0 AS (SELECT n.node,
         |  CAST(CASE WHEN s.node IS NOT NULL THEN 0 ELSE 999999 END AS BIGINT) AS d
         | FROM n LEFT JOIN seeds s ON s.node = n.node),
         |$steps
         |SELECT node, d AS dist FROM d3 WHERE d < 999999""".stripMargin
    }) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 1)
          .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node")).distinct()
        bfsHops(edges, seeds, iters = 3)
    },

    // DEGREE DISTRIBUTION — the first diagnostic run on any graph
    // (skew detection: a heavy-tailed degree histogram is the signal
    // to switch the triangle/wedge enumerations to degree-based
    // orientation and the joins to salting). Two hash aggregates:
    // degree per node, then nodes per degree — both map-side combined,
    // output size bounded by the distinct-degree count.
    sql("graph_degree_histogram",
      """WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |  's' || CAST(l_suppkey AS VARCHAR) AS dst
        | FROM orders, lineitem WHERE l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
        |SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree""".stripMargin) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .distinct()
        e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
          .groupBy(col("src")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },

    // WEIGHTED shortest paths over the same bipartite trade graph:
    // edge cost = the CHEAPEST line (e2 integer price) ever shipped
    // across that customer–supplier link, so the answer reads as "the
    // cheapest ≤3-edge transaction chain connecting each node to the
    // nation-1 supplier cohort". Bellman-Ford min-plus rounds — the
    // weighted twin of graph_bfs_hops, same one-join-one-MIN shuffle
    // contract per round, exact BIGINT costs; DuckDB mirrors the
    // unrolled relaxation.
    sql("graph_sssp_weighted", {
      val steps = (1 to 3).map { i =>
        s"""d$i AS (SELECT d.node,
           | LEAST(d.d, COALESCE(c.cand, 999999999999)) AS d
           | FROM d${i - 1} d LEFT JOIN (
           |  SELECT e.dst AS node, MIN(r.d + e.w) AS cand
           |  FROM edges e JOIN d${i - 1} r ON r.node = e.src
           |  GROUP BY e.dst) c ON c.node = d.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |  's' || CAST(l_suppkey AS VARCHAR) AS dst,
         |  MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS w
         | FROM orders, lineitem WHERE l_orderkey = o_orderkey
         | GROUP BY 1, 2),
         |edges AS (SELECT src, dst, w FROM e0
         |          UNION ALL SELECT dst, src, w FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM edges),
         |seeds AS (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS node
         |          FROM supplier WHERE s_nationkey = 1),
         |d0 AS (SELECT n.node,
         |  CAST(CASE WHEN s.node IS NOT NULL THEN 0 ELSE 999999999999 END AS BIGINT) AS d
         | FROM n LEFT JOIN seeds s ON s.node = n.node),
         |$steps
         |SELECT node, d AS cost FROM d3 WHERE d < 999999999999""".stripMargin
    }) {
      (s, d) =>
        val e0 = Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(
            concat(lit("c"), col("o_custkey").cast("string")).as("src"),
            concat(lit("s"), col("l_suppkey").cast("string")).as("dst"))
          .agg(min(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")).as("w"))
        val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 1)
          .select(concat(lit("s"), col("s_suppkey").cast("string")).as("node")).distinct()
        ssspWeighted(edges, seeds, iters = 3)
    })
}
