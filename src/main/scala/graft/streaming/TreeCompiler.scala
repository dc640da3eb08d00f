package graft.streaming

/** Derives the FK graph from the parquet schemas and compiles an
  * acyclic FK join graph onto [[DeltaEngine.Stage]]s — the step that
  * turns the AJU engine from two hand-built trees into an API: the
  * query names its relations and join conditions ([[SqlCompiler]]
  * validates them against these edges) and every routing/re-keying
  * column is inferred.
  *
  * FK discovery is by the TPC-H prefix-naming convention the fixtures
  * follow (reference DataFlow.java wires the same joins by hand):
  *
  *  - every column is `<table-prefix>_<suffix>`;
  *  - a relation's PRIMARY KEY is its column whose suffix is
  *    `<stem>key` with `stem` a prefix of the table name
  *    (`n_nationkey` ← nation, `c_custkey` ← customer); composite-key
  *    relations like lineitem have none, which is fine — a tree leaf
  *    needs no PK;
  *  - a FOREIGN KEY edge child→parent exists where a child column's
  *    suffix equals the parent PK's suffix (`c_nationkey` →
  *    `n_nationkey`).
  *
  * Schemas the convention cannot describe supply their edges directly
  * (`SqlCompiler.compile`'s `explicitFk`). Validation is loud: a graph
  * with the wrong edge count, a cycle or no single fact throws naming
  * the relations rather than guessing.
  */
object TreeCompiler {

  /** Default salt factor for a trunk-bucketed pair glue (how many
    * row-hash buckets the trunk side splits into; the branch side
    * replicates ×salts). 8 is the fixture-proven setting; size to
    * min(executor cores, branch-state ×S budget) in production. */
  val DefaultPairSalts = 8

  /** How a shared-dimension PAIR glue routes its two delta streams
    * (see [[stagesFor]] and [[DeltaEngine.Stage]]'s pair notes). */
  sealed trait PairOrientation
  object PairOrientation {
    /** The scale-safe DEFAULT: when the shared dimension is a ROOT of
      * the query graph (a plain dimension table — nation, part), the
      * glue buckets the TRUNK side by row hash (`salts` buckets) and
      * replicates the branch, because routing on a root dimension's
      * key caps the stage at |dim| tasks on ANY cluster (25 nations =
      * 25 tasks — the plan that dies first at 100×). A mid-graph
      * shared relation keeps the dimension-keyed glue: its key
      * cardinality grows with the data, so the zero-extra-shuffle
      * plan parallelizes fine. */
    final case class Auto(salts: Int = DefaultPairSalts) extends PairOrientation
    /** Always route on the dimension's key — one shuffle fewer, state
      * ×1, parallelism capped at the dimension's cardinality. */
    case object DimensionKeyed extends PairOrientation
    /** Always bucket the trunk (force the Auto root-dim plan). */
    final case class TrunkBucketed(salts: Int = DefaultPairSalts) extends PairOrientation
  }

  final case class RelationSchema(name: String, columns: Seq[String])

  /** One FK edge: `child.fkCol` references `parent.parentCol`. */
  final case class FkEdge(child: String, fkCol: String, parent: String, parentCol: String)

  private def suffix(col: String): String = {
    val i = col.indexOf('_')
    if (i < 0) col else col.substring(i + 1)
  }

  /** `<stem>key` column whose stem prefixes the table name. */
  def primaryKey(r: RelationSchema): Option[String] =
    primaryKeyIn(r, Seq(r))

  /** [[primaryKey]] with cross-relation disambiguation: a candidate
    * whose stem is the EXACT name of a DIFFERENT relation in the set
    * is that relation's key travelling as a foreign key, not this
    * relation's PK (partsupp.ps_partkey has stem "part", which
    * prefixes "partsupp" — but with `part` present the claim is
    * resolved to part's PK and partsupp correctly gets none, matching
    * its composite-key reality). */
  def primaryKeyIn(r: RelationSchema, all: Seq[RelationSchema]): Option[String] =
    r.columns.find { c =>
      val sfx = suffix(c)
      sfx.endsWith("key") && sfx.length > 3 && {
        val stem = sfx.dropRight(3)
        r.name.startsWith(stem) &&
          !all.exists(o => o.name != r.name && o.name == stem)
      }
    }

  /** All child→parent FK edges derivable from the schemas. */
  def fkEdges(rels: Seq[RelationSchema]): Seq[FkEdge] =
    for {
      child <- rels
      parent <- rels if parent.name != child.name
      pk <- primaryKeyIn(parent, rels).toSeq
      fk <- child.columns.find(c => suffix(c) == suffix(pk)).toSeq
    } yield FkEdge(child.name, fk, parent.name, pk)

  /** Compile a general ACYCLIC FK join tree into
    * [[DeltaEngine.Stage]]s for `runTree`/`runStreamTree`.
    *
    * Two shapes compose:
    *
    *  - **In-tree** (every relation feeds at most one consumer,
    *    converging at one fact): compiled to liveness stages; a
    *    relation that is the CHILD of several edges (a fact
    *    referencing two dimensions) decomposes into one stage per
    *    parent (see [[DeltaEngine.Stage]]).
    *  - **Shared dimension** (a relation that ≥2 children reference —
    *    nation referenced by customer AND supplier): the join is
    *    genuinely many-to-many per dimension key, beyond any liveness
    *    fold. The planner splits each extra branch off as its own
    *    component (planned recursively), re-keys its output onto the
    *    shared key, and glues it to the trunk with a PAIR stage
    *    (incremental Δ(L⋈R) product — [[DeltaEngine.Stage.pairStage]]).
    *    The trunk keeps the dimension itself, so its liveness gates
    *    the trunk side BEFORE the product: pair state stays linear
    *    (alive-trunk rows + branch rows per key), never |L|×|R|.
    *
    * Together these cover every connected acyclic FK join graph —
    * the reference's own "acyclic schema" class — with one
    * co-partitioned shuffle per FK hop plus one per pair glue.
    *
    * @param edges      validated FK edges used by the query
    * @param order      deterministic relation order (e.g. the
    *                   FROM-clause order) — fixes parent processing
    *                   order for multi-parent nodes and which branch
    *                   stays on the trunk at a shared dimension
    * @param orientation how pair glues route (see [[PairOrientation]];
    *                   the default picks the scale-safe plan for
    *                   root-dimension glues automatically)
    */
  def stagesFor(edges: Seq[FkEdge], order: Seq[String],
                orientation: PairOrientation = PairOrientation.Auto())
      : Seq[DeltaEngine.Stage] = {
    import DeltaEngine.Stage
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val rels = order.distinct
    require(rels.size == order.size, s"duplicate relations in $order")
    if (rels.size < 2)
      fail(s"an incremental join tree needs >= 2 relations, got $rels " +
        "(a single-relation aggregate has no liveness to maintain — run it as plain SQL)")
    edges.foreach(e => require(rels.contains(e.child) && rels.contains(e.parent),
      s"edge ${e.child}→${e.parent} references a relation outside $order"))
    if (edges.size != rels.size - 1)
      fail(s"need ${rels.size - 1} FK edges linking ${rels.size} relations, got ${edges.size}")

    // a dimension feeding several children makes the join many-to-many
    // on its key — peel each extra branch into its own component and
    // glue with pair stages (earliest shared dim in `order`, so the
    // plan is deterministic)
    val byParent = edges.groupBy(_.parent)
    val sharedDims = byParent.filter(_._2.size > 1).keySet
    order.find(sharedDims) match {
      case Some(sharedDim) =>
        return sharedDimStages(edges, order, sharedDim, orientation)
      case None =>
    }

    val consumer: Map[String, FkEdge] = byParent.view.mapValues(_.head).toMap
    val facts = rels.filterNot(consumer.contains)
    if (facts.size != 1) fail(s"join graph is not a single in-tree; " +
      s"relations referenced by nobody: $facts")
    // (connectivity and acyclicity need no separate walk: with n-1
    // edges, one fact, and every other relation feeding exactly one
    // consumer, any cycle or disconnected island stalls the Kahn loop
    // below, which fails naming the stuck relations)
    val parentsOf: Map[String, Seq[FkEdge]] = edges.groupBy(_.child).view
      .mapValues(_.sortBy(e => order.indexOf(e.parent))).toMap
    def finalStageName(r: String): String = parentsOf.get(r) match {
      case Some(ps) if ps.size > 1 => s"${r}__${ps.last.parent}"
      case _ => r
    }
    // Kahn order over `order`: a relation's stages run after all its
    // parents' final stages
    val emitted = scala.collection.mutable.LinkedHashSet[String]()
    while (emitted.size < rels.size) {
      val next = rels.find(r => !emitted(r) &&
        parentsOf.getOrElse(r, Nil).forall(e => emitted(e.parent)))
        .getOrElse(fail(s"join graph has a cycle among ${rels.filterNot(emitted)}"))
      emitted += next
    }
    emitted.toSeq.flatMap { r =>
      parentsOf.get(r) match {
        case None => // branch root: keyed + emitting by its consumer-facing PK
          val pk = consumer(r).parentCol
          Seq(Stage(r, DeltaEngine.NodeSpec(r, pk, pk, isRoot = true, setSemantics = true)))
        case Some(ps) =>
          ps.zipWithIndex.map { case (e, i) =>
            val name = if (i == 0) r else s"${r}__${e.parent}"
            val nextKey =
              if (i + 1 < ps.size) ps(i + 1).fkCol
              else consumer.get(r).map(_.parentCol).getOrElse(e.fkCol)
            Stage(name, DeltaEngine.NodeSpec(r, e.fkCol, nextKey),
              ownStage = if (i == 0) None else Some(if (i == 1) r else s"${r}__${ps(i - 1).parent}"),
              parentStage = Some(finalStageName(e.parent)))
          }
      }
    }
  }

  /** Plan a join graph whose `dim` is referenced by ≥2 children: keep
    * the FIRST child branch (by `order`) plus the dimension itself on
    * the TRUNK (planned recursively — the dimension's liveness gates
    * the trunk side before any product), peel every other child's
    * component off as an independent sub-plan keyed by its FK to the
    * dimension, and chain them onto the trunk with PAIR stages.
    *
    * State stays linear per key: the pair buffers alive-trunk join
    * rows and branch rows, never their product. A branch row whose
    * dimension key matches nothing buffers unmatched (the AJU
    * buffered-children model); a dimension flip retracts the trunk
    * side, and the pair fold re-derives exactly the pairs that had
    * been emitted.
    *
    * GLUE ORIENTATION: the dimension-keyed glue routes every pair
    * event on the dimension's key — zero extra shuffles, but a ROOT
    * dimension's cardinality then caps the stage's parallelism on any
    * cluster (25 nations = 25 tasks). Per [[PairOrientation]], such
    * glues default to the TRUNK-BUCKETED form: the branch runs
    * through a pass-through stage and becomes the REPLICATED pair
    * side, while the (big) trunk's join deltas bucket by row hash
    * into `salts` sub-keys — one extra branch shuffle and branch
    * state ×salts buy parallelism proportional to data volume, the
    * trade that survives 100×. Bucket emissions partition the product
    * exactly (spec-asserted answer-invariance), so both orientations
    * are oracle-equal. */
  private def sharedDimStages(edges: Seq[FkEdge], order: Seq[String],
                              dim: String,
                              orientation: PairOrientation): Seq[DeltaEngine.Stage] = {
    import DeltaEngine.Stage
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val rels = order.distinct
    val childEdges = edges.filter(_.parent == dim).sortBy(e => order.indexOf(e.child))
    // relations reachable from `start` without crossing the cut edge
    def component(start: String, cut: FkEdge): Set[String] = {
      val adj = edges.filterNot(_ == cut)
        .flatMap(e => Seq(e.child -> e.parent, e.parent -> e.child))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val seen = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty)
        adj.getOrElse(queue.dequeue(), Nil).foreach { n =>
          if (!seen(n)) { seen += n; queue += n }
        }
      seen.toSet
    }
    val extras: Seq[(FkEdge, Set[String])] =
      childEdges.tail.map(e => e -> component(e.child, e))
    extras.foreach { case (e, c) =>
      if (c.contains(dim)) fail(s"join graph has a cycle through shared " +
        s"dimension '$dim' and '${e.child}'")
    }
    val trunkSet = rels.toSet -- extras.flatMap(_._2)
    if (extras.map(_._2.size).sum + trunkSet.size != rels.size)
      fail(s"join graph around shared dimension '$dim' is not a tree")
    // a recursive sub-plan, re-keyed so its final emissions route by
    // the shared dimension's key value (`keyCol` is a column of the
    // sub-plan's full join row)
    def subPlan(subRels: Set[String], keyCol: String): Seq[Stage] = {
      val subEdges = edges.filter(e => subRels(e.child) && subRels(e.parent))
      val stages = stagesFor(subEdges, order.filter(subRels), orientation)
      stages.init :+ stages.last.copy(
        spec = stages.last.spec.copy(nextKeyCol = keyCol))
    }
    // a ROOT dimension (nobody this dim references in the query) is a
    // plain dimension table: its key cardinality is the scale hazard
    // PairOrientation.Auto guards against
    val dimIsRoot = !edges.exists(_.child == dim)
    val bucketSalts: Option[Int] = orientation match {
      case PairOrientation.Auto(s) => if (dimIsRoot) Some(s) else None
      case PairOrientation.DimensionKeyed => None
      case PairOrientation.TrunkBucketed(s) => Some(s)
    }
    val trunk = subPlan(trunkSet, childEdges.head.fkCol)
    val out = scala.collection.mutable.ArrayBuffer[Stage](trunk: _*)
    var leftRef = trunk.last.name
    extras.foreach { case (e, comp) =>
      // the glue name carries BOTH endpoints: a relation referencing
      // two shared dimensions is glued twice (once per dim, at
      // different recursion levels) and bare "<rel>__pair" would
      // collide — checkStages would then reject a valid acyclic graph
      val pairName = s"${e.child}__pair_$dim"
      bucketSalts match {
        case None =>
          if (comp.size == 1) {
            // single-relation branch: pair straight off its changelog —
            // no pass-through stage, no extra shuffle
            out += Stage(pairName,
              DeltaEngine.NodeSpec(e.child, e.fkCol, e.fkCol),
              pairStage = Some(leftRef))
          } else {
            val branch = subPlan(comp, e.fkCol)
            out ++= branch
            out += Stage(pairName,
              DeltaEngine.NodeSpec(e.child, e.fkCol, e.fkCol),
              ownStage = Some(branch.last.name),
              pairStage = Some(leftRef))
          }
        case Some(salts) =>
          // trunk-bucketed: the branch becomes the REPLICATED side via
          // a pass-through stage; the trunk's deltas are the OWN side,
          // bucketing by row hash (same shape swapPairOrientation
          // builds — kept in lockstep with it)
          val passName = s"${pairName}__pass"
          if (comp.size == 1) {
            out += Stage(passName,
              DeltaEngine.NodeSpec(e.child, e.fkCol, e.fkCol, isRoot = true))
          } else {
            val branch = subPlan(comp, e.fkCol)
            out ++= branch
            out += Stage(passName,
              DeltaEngine.NodeSpec(e.child, e.fkCol, e.fkCol, isRoot = true),
              ownStage = Some(branch.last.name))
          }
          val trunkKey = out.find(_.name == leftRef).get.spec.nextKeyCol
          out += Stage(pairName,
            DeltaEngine.NodeSpec(e.child, trunkKey, e.fkCol),
            ownStage = Some(leftRef), pairStage = Some(passName), salts = salts)
      }
      leftRef = pairName
    }
    out.toSeq
  }

  /** Swap the orientation of a plan's final PAIR stage — for SALTING:
    * salting buckets the OWN side and replicates the PAIRED side ×S,
    * and the planner's default orientation (branch on own — zero extra
    * shuffle) replicates the trunk, which is usually the BIG side.
    * The swap runs the branch input through a pass-through stage (one
    * extra shuffle, key columns preserved from the original glue
    * spec) and makes the trunk the own side, so trunk
    * join deltas bucket while the small branch replicates.
    *
    * Derives everything from the plan itself (no caller-restated key
    * columns): the pass-through inherits the glue's spec, the swapped
    * glue keys by the trunk's emission column. */
  def swapPairOrientation(stages: Seq[DeltaEngine.Stage], salts: Int = 1)
      : Seq[DeltaEngine.Stage] = {
    import DeltaEngine.Stage
    val glue = stages.last
    require(glue.pairStage.isDefined,
      s"last stage '${glue.name}' is not a pair stage — nothing to swap")
    require(!glue.pairStage.get.endsWith("__pass"),
      s"stage '${glue.name}' already pairs against pass-through " +
        s"'${glue.pairStage.get}' — the plan is already trunk-bucketed " +
        "(stagesFor's Auto/TrunkBucketed orientation); swapping again would " +
        "re-route the product on the dimension key")
    val byName = stages.map(s => s.name -> s).toMap
    val trunkRef = glue.pairStage.get
    val trunkKey = byName(trunkRef).spec.nextKeyCol
    val pass = Stage(s"${glue.name}__pass",
      glue.spec.copy(isRoot = true), ownStage = glue.ownStage)
    val swapped = Stage(glue.name, glue.spec.copy(childKeyCol = trunkKey),
      ownStage = Some(trunkRef), pairStage = Some(pass.name), salts = salts)
    stages.init ++ Seq(pass, swapped)
  }
}
