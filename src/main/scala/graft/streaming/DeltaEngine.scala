package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, concat, concat_ws, explode, hash, lit,
  lpad, pmod, to_timestamp}
import org.apache.spark.sql.Column

/** The incremental acyclic-FK-join-tree engine — the Cquirrel/AJU
  * capability that is the reference's distinguishing feature
  * (SURVEY.md §2 J0–J3, §4 "incremental view maintenance").
  *
  * A query's join graph is processed as a rooted FK tree; each node is
  * a stateful keyed operator tracking which of its tuples are "alive"
  * (pass the local predicate AND have an alive parent); alive/dead
  * deltas propagate root→leaf; the leaf emits signed deltas of the
  * full join result which a signed-sum aggregate folds incrementally.
  *
  * Changelogs arrive FILTERED: a local predicate reads only its own
  * tuple, so it is applied once, at the changelog source — the `where`
  * Column pushed into the parquet scan ([[changelog]])
  * or `SqlCompiler.Compiled.eventFilter` on a raw event stream — and
  * the engine folds every own event it receives. That equals the
  * reference's per-operator check (Q10OrdersProcessFunction.java:41-45)
  * because the predicate treats inserts and deletes alike.
  *
  * The reference's quirks are deliberately FIXED here (SURVEY.md
  * "Reference quirks" Q1–Q6): content-equality dedup (Q1/Q2), matched
  * retraction tags (Q3), a predicate orthogonal to insert/delete (Q4 —
  * the source filter drops a failing tuple's insert AND its delete),
  * `aliveParents > 0` rather than `== 1` (Q6), and the aggregate
  * grouped by the query's GROUP BY columns rather than the leaf
  * routing key (Q5).
  *
  * Rows travel as ONE canonical string (`name\u0001value` pairs sorted
  * by name, `\u0002`-separated) rather than a `Map`: the hop-to-hop
  * shuffles then move a single UTF8String per event instead of running
  * the map<string,string> converter per row, the per-key deterministic
  * sort keys on the string directly (no re-canonicalization), and the
  * join-merge is a linear merge of two sorted pair lists. State per
  * key is a ghost-tolerant signed multiset of canonical rows, so the
  * NET result is independent of event order while emission order stays
  * deterministic (events sorted by (seq, parent-first, row) inside
  * each key).
  *
  * Scale notes: each node is one shuffle grouped by the `key` column
  * (its join key; see `foldStage` for why the column and not a
  * `groupByKey` lambda) — the same 4 exchanges as the reference's
  * `keyBy` chain (SURVEY.md §3.3). State lives per key in the state store (streaming) or the
  * group iterator (batch simulation); fan-out on a parent flip is
  * O(buffered children of that key), exactly the reference's cost
  * model, but distributed over all executors holding that key range.
  */
object DeltaEngine {

  /** One changelog/delta event.
    *
    * @param seq   logical time (events within a key are folded in seq
    *              order; deletes must carry a later seq than the
    *              matching insert)
    * @param fromParent true when this is an alive/dead delta from the
    *              parent node, false for the relation's own changelog
    * @param tag   +1 insert/alive, -1 delete/dead
    * @param mult  multiplicity (parent flips multiply by child counts)
    * @param key   current routing key (reference: Payload.key)
    * @param row   the row in canonical string form (see [[canon]])
    */
  final case class Evt(seq: Long, fromParent: Boolean, tag: Int, mult: Int,
                       key: String, row: String) {
    /** Row as a map (convenience/test surface; allocates). */
    def cols: Map[String, String] = uncanon(row)
  }

  object Evt {
    /** Map-typed constructor (test/builder convenience). */
    def apply(seq: Long, fromParent: Boolean, tag: Int, mult: Int,
              key: String, cols: Map[String, String]): Evt =
      new Evt(seq, fromParent, tag, mult, key, canon(cols))
  }

  /** Configuration of one join-tree node.
    *
    * @param relation    relation name (changelog lookup key)
    * @param childKeyCol column of this relation that joins to the parent
    *                    (also the node's routing key)
    * @param nextKeyCol  column of the MERGED row to key the next hop by
    *                    (reference: setKey re-keying, Payload.java:35-37)
    * @param isRoot      true for the tree root (no parent input)
    * @param setSemantics root-node dedup: emit only on 0→1 / 1→0
    *                    transitions (reference J0)
    * @param antiParent  INVERT parent liveness: this node's rows are
    *                    alive while NO parent key is present (net
    *                    parent count <= 0) and its emissions carry no
    *                    parent columns — the incremental NOT EXISTS /
    *                    anti-join node. Feed the parent input from a
    *                    set-semantics key node over the subquery side;
    *                    EXISTS (semi) is the same wiring WITHOUT this
    *                    flag (liveness gating is already semi-join
    *                    semantics when the parent is a 0/1 key set).
    */
  final case class NodeSpec(
      relation: String,
      childKeyCol: String,
      nextKeyCol: String,
      isRoot: Boolean = false,
      setSemantics: Boolean = false,
      antiParent: Boolean = false,
      /** FULL OUTER leaf fusion: besides the ordinary inner emissions
        * (merged rows while the parent is alive), the node emits the
        * ORPHAN reading while the parent is DEAD — the child's BARE
        * canon row — and every liveness flip swaps the buffered
        * children between the two readings (retract merged + assert
        * bare on death; the reverse on revival). This folds the SQL
        * compiler's separate 2-stage orphan plan (key node + anti
        * hop, a second shuffle and a second buffered-children state
        * over the tree's LARGEST relation) into the leaf fold the
        * main tree already runs: one shuffle, one state, both
        * preservation directions. Parent deltas are the tree prefix's
        * merged emissions, so ancestor deletes orphan transitively —
        * the same property the tree-prefix key node provided. */
      fullOuterLeaf: Boolean = false) {
    require(!(isRoot && antiParent),
      s"node '$relation': antiParent inverts PARENT liveness — a root has no parent")
    require(!(fullOuterLeaf && (isRoot || antiParent)),
      s"node '$relation': fullOuterLeaf needs an ordinary liveness parent")
  }

  // ---- canonical row form (state-store and shuffle friendly) --------
  final val KV = '\u0001'; final val FS = '\u0002'

  def canon(cols: Map[String, String]): String =
    cols.toSeq.sortBy(_._1).map { case (k, v) => s"$k$KV$v" }.mkString(FS.toString)

  def uncanon(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(FS).map { kv =>
      val i = kv.indexOf(KV)
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  /** [[canon]] as a codegen'd Column over a frame's `cols`: the same
    * sorted `name KV value` pairs, with a null value rendered as the
    * literal "null" — concat_ws would otherwise DROP a null column's
    * whole pair, losing the name for mergeCanon's child-wins dedup and
    * for canonGet routing. */
  def canonColumn(cols: Seq[String]): Column =
    concat_ws(FS.toString, cols.sorted.map(c =>
      concat(lit(c + KV.toString), coalesce(col(c).cast("string"), lit("null")))): _*)

  /** Build one relation's changelog as Dataset[Evt]. The canonical row
    * string is assembled by codegen'd [[canonColumn]] at ingest —
    * events shuffle as one UTF8String, never as map<string,string>.
    *
    * `where` is the relation's local predicate as a `Column` — its
    * ONLY spelling: the engine never re-checks it, since it reads only
    * the row it filters (inserts and deletes alike). Applying it HERE
    * (before canon-building) pushes it into the parquet scan
    * (`PushedFilters`), so rows failing it are never materialized,
    * canon-encoded, or shuffled. */
  private[streaming] def changelog(df0: DataFrame, keyCol: String, cols: Seq[String],
                        deleteWhen: Option[Column],
                        where: Option[Column] = None): Dataset[Evt] = {
    val df = where.map(df0.filter).getOrElse(df0)
    val spark = df.sparkSession
    import spark.implicits._
    val rowCanon = canonColumn(cols)
    // Two scans ON PURPOSE: a one-scan spelling (conditional
    // explode(array(insert, delete)) per row) was tried and measured
    // SLOWER at sf0.1 (+0.3 s on the compiled entries): the
    // Generate + per-row struct/array build taxes EVERY row of the
    // relation, while the second scan is an embarrassingly parallel
    // re-read the OS page cache mostly absorbs — and it keeps the
    // whole changelog a flat codegen'd projection over the vectorized
    // reader.
    val inserts = df.select(lit(0L).as("seq"), lit(false).as("fromParent"),
      lit(1).as("tag"), lit(1).as("mult"),
      col(keyCol).cast("string").as("key"), rowCanon.as("row")).as[Evt]
    deleteWhen match {
      case None => inserts
      case Some(cond) =>
        val deletes = df.filter(cond).select(lit(1L).as("seq"), lit(false).as("fromParent"),
          lit(-1).as("tag"), lit(1).as("mult"),
          col(keyCol).cast("string").as("key"), rowCanon.as("row")).as[Evt]
        inserts.union(deletes)
    }
  }

  /** Value of one column in a canonical row ("" if absent) — linear
    * scan, no allocation beyond the result. */
  def canonGet(row: String, name: String): String = {
    var start = 0
    val n = row.length
    while (start < n) {
      val end = row.indexOf(FS, start)
      val stop = if (end < 0) n else end
      val kvIdx = row.indexOf(KV, start)
      if (kvIdx >= 0 && kvIdx < stop &&
          kvIdx - start == name.length && row.startsWith(name, start))
        return row.substring(kvIdx + 1, stop)
      if (end < 0) return ""
      start = end + 1
    }
    ""
  }

  /** Join-merge on canonical rows: keep the child's columns, append
    * the parent's new ones (fixed-Q2 semantics of collectPayload,
    * Q10CustomerProcessFunction.java:48-62). Both inputs are sorted
    * pair lists, so this is a single merge pass and the output is
    * canonical by construction. */
  def mergeCanon(child: String, parent: String): String = {
    if (parent.isEmpty) return child
    if (child.isEmpty) return parent
    val a = child.split(FS)
    val b = parent.split(FS)
    def keyOf(s: String): String = s.substring(0, s.indexOf(KV))
    val sb = new java.lang.StringBuilder(child.length + parent.length + 1)
    var i = 0; var j = 0
    while (i < a.length || j < b.length) {
      val take =
        if (j >= b.length) { val s = a(i); i += 1; s }
        else if (i >= a.length) { val s = b(j); j += 1; s }
        else {
          val cmp = keyOf(a(i)).compareTo(keyOf(b(j)))
          if (cmp == 0) { val s = a(i); i += 1; j += 1; s }      // child wins
          else if (cmp < 0) { val s = a(i); i += 1; s }
          else { val s = b(j); j += 1; s }
        }
      if (sb.length > 0) sb.append(FS)
      sb.append(take)
    }
    sb.toString
  }

  /** Per-key node state: signed child multiset (canonical row →
    * count), alive-parent counter, and the latest alive parent row
    * (reference: Set<Payload>/numAlive/latestAlive,
    * Q10CustomerProcessFunction.java:18-20). */
  final case class NState(children: Map[String, Int], aliveParents: Int, parentCanon: String)
  val emptyState: NState = NState(Map.empty, 0, "")

  /** Unicode CODE-POINT order — the order UTF-8 byte comparison gives,
    * which is what the batch driver's `flatMapSortedGroups` sorts row
    * strings by (UTF8String is byte-compared). Plain
    * `String.compareTo` is UTF-16 code-UNIT order, which disagrees for
    * supplementary characters vs U+E000..U+FFFF — using it here would
    * make batch and streaming fold non-ASCII same-seq events in
    * different orders. Standard surrogate fix-up on the first
    * differing char. */
  private def compareCodePoint(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        if (ca < 0xD800 && cb < 0xD800) return ca - cb
        def fix(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
        val fa = if (ca >= 0xD800) fix(ca) else ca.toInt
        val fb = if (cb >= 0xD800) fix(cb) else cb.toInt
        return fa - fb
      }
      i += 1
    }
    a.length - b.length
  }

  /** Deterministic per-key event order: seq, then parent deltas before
    * own events, then canonical row (code-point order — see
    * [[compareCodePoint]]). */
  private val evtOrder: java.util.Comparator[Evt] = new java.util.Comparator[Evt] {
    override def compare(a: Evt, b: Evt): Int = {
      val c1 = java.lang.Long.compare(a.seq, b.seq)
      if (c1 != 0) return c1
      val c2 = java.lang.Boolean.compare(!a.fromParent, !b.fromParent)
      if (c2 != 0) return c2
      compareCodePoint(a.row, b.row)
    }
  }

  /** Where a [[NodeFold]] keeps its signed child multiset (canonical
    * row → count; a zero count is no entry) — the keyed-state handle the
    * one fold is written against: a heap map for the batch and
    * flatMapGroupsWithState drivers, the processor's MapState under
    * transformWithState ([[TreeNodeProcessor]]), where an own event
    * then costs one point read and one point write and only a liveness
    * flip scans the whole map. */
  private trait Children {
    def count(row: String): Int
    def set(row: String, n: Int): Unit
    /** Every buffered row in natural String order — the flip-replay
      * order, so emission order is identical on every store. */
    def sortedRows: Array[String]
  }

  private def sortedInPlace(rows: Array[String]): Array[String] = {
    java.util.Arrays.sort(rows.asInstanceOf[Array[AnyRef]])
    rows
  }

  private def toScalaMap(m: java.util.Map[String, Int]): Map[String, Int] = {
    val b = Map.newBuilder[String, Int]
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private final class HeapChildren(init: Map[String, Int]) extends Children {
    private val m = new java.util.HashMap[String, Int]()
    init.foreach { case (k, v) => m.put(k, v) }
    def count(row: String): Int = m.getOrDefault(row, 0)
    def set(row: String, n: Int): Unit = if (n == 0) m.remove(row) else m.put(row, n)
    def sortedRows: Array[String] = sortedInPlace(m.keySet().toArray(new Array[String](0)))
    def toMap: Map[String, Int] = toScalaMap(m)
  }

  private final class MapStateChildren(
      ms: org.apache.spark.sql.streaming.MapState[String, Int]) extends Children {
    // a missing key reads as null, which unboxes to 0: ONE point read
    def count(row: String): Int = ms.getValue(row)
    def set(row: String, n: Int): Unit =
      if (n == 0) ms.removeKey(row) else ms.updateValue(row, n)
    def sortedRows: Array[String] = sortedInPlace(ms.keys().toArray)
  }

  private type Emissions = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]

  /** The per-key node state machine — the ONE liveness fold, run by
    * every driver (batch flatMapGroups, flatMapGroupsWithState and
    * transformWithState) against the [[Children]] store it is handed,
    * with the key's (aliveParents, parentCanon) pair seeded from and
    * read back to the driver's state. Mutable because this is the
    * engine's hot loop (hundreds of thousands of events per replay). */
  private final class NodeFold(spec: NodeSpec, children: Children,
      var aliveParents: Int, var parentCanon: String) {
    // anti nodes are alive while NO parent is present (net count <= 0);
    // the symmetric >0 / <=0 split keeps the ghost-count (out-of-order
    // delete-first) telescoping intact in both modes
    private def aliveAt(n: Int): Boolean = if (spec.antiParent) n <= 0 else n > 0

    /** Fold one event; append (tag, mult, mergedCanonicalRow)
      * emissions to `out`. */
    def feed(ev: Evt, out: Emissions): Unit = {
      if (ev.fromParent) {
        val newAlive = aliveParents + ev.tag * ev.mult
        val wasAlive = aliveAt(aliveParents)
        val isAlive = aliveAt(newAlive)
        // an anti node's emissions must carry NO parent columns: rows
        // emit precisely while the parent is ABSENT, and the dead→alive
        // replay must retract byte-identical rows
        val parentRow =
          if (spec.antiParent) ""
          else if (ev.tag > 0) ev.row else parentCanon
        if (wasAlive != isAlive) {
          // liveness flip replays the buffered child set (reference
          // processElement1, Q10CustomerProcessFunction.java:68-84),
          // sorted for deterministic emission order. A negative
          // (ghost) count contributes with inverted sign so the NET
          // stays order-independent.
          children.sortedRows.foreach { c =>
            val cnt = children.count(c)
            if (cnt != 0) {
              val signed = (if (isAlive) 1 else -1) * cnt
              out += ((if (signed > 0) 1 else -1, signed.abs, mergeCanon(c, parentRow)))
              if (spec.fullOuterLeaf)
                // the orphan reading flips OPPOSITE the inner one:
                // death retracts merged rows and asserts bare child
                // rows; revival the reverse
                out += ((if (signed > 0) -1 else 1, signed.abs, c))
            }
          }
        }
        aliveParents = newAlive
        if (ev.tag > 0) parentCanon = ev.row
      } else {
        val c = ev.row
        val before = children.count(c)
        val after = before + ev.tag * ev.mult
        children.set(c, after)
        val emitCount =
          if (spec.setSemantics) {
            // root dedup: only 0→1 / 1→0 transitions emit (reference J0,
            // Q10NationProcessFunction.java:41-57, with Q1 fixed)
            if (before <= 0 && after > 0) 1
            else if (before > 0 && after <= 0) -1
            else 0
          } else ev.tag * ev.mult
        if (emitCount != 0 && (spec.isRoot || aliveAt(aliveParents))) {
          out += ((if (emitCount > 0) 1 else -1, emitCount.abs,
            if (spec.isRoot) ev.row
            else mergeCanon(ev.row, if (spec.antiParent) "" else parentCanon)))
        } else if (emitCount != 0 && spec.fullOuterLeaf) {
          // parent dead: the child row IS output — as the orphan
          // (right-preserved) reading, bare child columns only
          out += ((if (emitCount > 0) 1 else -1, emitCount.abs, ev.row))
        }
      }
    }
  }

  /** The shared per-key fold driver: order events (the batch driver
    * delivers each group already in evtOrder via flatMapSortedGroups —
    * the ordering rides the Tungsten shuffle sort; the state-store
    * drivers' groups arrive unordered and sort here), feed them to the
    * fold, and re-key emissions by `nextKeyCol` for the next hop. One
    * loop for both fold kinds — liveness [[NodeFold]] and pair
    * [[PairFold]] share the `feed(ev, out)` shape. */
  private def foldEvents(nextKeyCol: String, events: Iterator[Evt], preSorted: Boolean,
      feed: (Evt, Emissions) => Unit): Iterator[Evt] = {
    val ordered: Iterator[Evt] =
      if (preSorted) events
      else {
        val arr = events.toArray
        java.util.Arrays.sort(arr, evtOrder)
        arr.iterator
      }
    val out = Vector.newBuilder[Evt]
    val emitted = new Emissions()
    ordered.foreach { ev =>
      emitted.clear()
      feed(ev, emitted)
      emitted.foreach { case (tag, mult, row) =>
        out += new Evt(ev.seq, fromParent = true, tag, mult,
          canonGet(row, nextKeyCol), row)
      }
    }
    out.result().iterator
  }

  /** A per-key fold in progress over a heap store: `feed` folds one
    * event, `state` is the key's state after the events fed so far. */
  private trait Fold[S] {
    def feed(ev: Evt, out: Emissions): Unit
    def state: S
  }

  /** A stage kind — liveness ([[NodeFold]]) or pair ([[PairFold]]):
    * its per-key state and encoder (the flatMapGroupsWithState state
    * format), how a fold starts from a stored state, the state's
    * footprint for [[stateMetrics]], and its transformWithState
    * processor. Every driver reaches a node's transitions only through
    * this. */
  private sealed abstract class Kind[S] extends Serializable {
    def empty: S
    def encoder: org.apache.spark.sql.Encoder[S]
    def fold(spec: NodeSpec, init: S): Fold[S]
    /** (Σ|count| over the multisets, payload-byte estimate) — the
      * units [[stateMetrics]] documents. */
    def footprint(s: S): (Long, Long)
    def processor(spec: NodeSpec, ttl: Option[java.time.Duration]): NodeProcessor
  }

  private def utf8Len(s: String): Long =
    if (s.isEmpty) 0L else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  private def multisetFootprint(ms: Map[String, Int]*): (Long, Long) =
    (ms.iterator.flatMap(_.valuesIterator).map(c => math.abs(c).toLong).sum,
      ms.iterator.flatMap(_.keysIterator).map(r => utf8Len(r) + 4L).sum)

  private object Liveness extends Kind[NState] {
    def empty: NState = emptyState
    def encoder: org.apache.spark.sql.Encoder[NState] =
      org.apache.spark.sql.Encoders.product[NState]
    def fold(spec: NodeSpec, init: NState): Fold[NState] = {
      val children = new HeapChildren(init.children)
      val f = new NodeFold(spec, children, init.aliveParents, init.parentCanon)
      new Fold[NState] {
        def feed(ev: Evt, out: Emissions): Unit = f.feed(ev, out)
        def state: NState = NState(children.toMap, f.aliveParents, f.parentCanon)
      }
    }
    def footprint(s: NState): (Long, Long) = {
      val (rows, bytes) = multisetFootprint(s.children)
      (rows, bytes + utf8Len(s.parentCanon) + 4L)
    }
    def processor(spec: NodeSpec, ttl: Option[java.time.Duration]): NodeProcessor =
      new TreeNodeProcessor(spec, ttl)
  }

  private object Pair extends Kind[PairNState] {
    def empty: PairNState = emptyPairState
    def encoder: org.apache.spark.sql.Encoder[PairNState] =
      org.apache.spark.sql.Encoders.product[PairNState]
    def fold(spec: NodeSpec, init: PairNState): Fold[PairNState] = new PairFold(init)
    def footprint(s: PairNState): (Long, Long) = multisetFootprint(s.left, s.right)
    def processor(spec: NodeSpec, ttl: Option[java.time.Duration]): NodeProcessor =
      new PairNodeProcessor(spec, ttl)
  }

  private def kindOf(st: Stage): Kind[_] = if (st.pairStage.isDefined) Pair else Liveness

  /** THE per-key fold of either kind: start from `init`, fold the
    * events (sorting them unless `preSorted`), re-key the emissions.
    * Returns the emissions and the fold, whose `state` only the
    * state-keeping callers read. */
  private def foldKey[S](kind: Kind[S], spec: NodeSpec, init: S, events: Iterator[Evt],
      preSorted: Boolean): (Iterator[Evt], Fold[S]) = {
    val fold = kind.fold(spec, init)
    (foldEvents(spec.nextKeyCol, events, preSorted, fold.feed), fold)
  }

  private def batchFold[S](kind: Kind[S], spec: NodeSpec, preSorted: Boolean)(
      key: String, events: Iterator[Evt]): Iterator[Evt] =
    foldKey(kind, spec, kind.empty, events, preSorted)._1

  /** Fold a whole per-key event sequence (sorted deterministically)
    * from empty state; emissions become parent deltas for the next
    * node, re-keyed by `nextKeyCol`. */
  def processKeyBatch(spec: NodeSpec, preSorted: Boolean = false)(
      key: String, events: Iterator[Evt]): Iterator[Evt] =
    batchFold(Liveness, spec, preSorted)(key, events)

  // ---- pair (shared-dimension product) stages ----------------------

  /** Per-key state of a PAIR stage: both sides' signed multisets of
    * canonical rows. Unlike [[NState]] there is no liveness counter —
    * a pair stage joins two DELTA STREAMS of equal standing (each side
    * may hold many alive rows per key), which is exactly the
    * many-to-many shape the liveness fold cannot express. */
  final case class PairNState(left: Map[String, Int], right: Map[String, Int])
  val emptyPairState: PairNState = PairNState(Map.empty, Map.empty)

  /** The per-key incremental product fold — the textbook bilinear
    * delta-join Δ(L⋈R) = ΔL⋈R + L'⋈ΔR, specialised to one key of the
    * shared dimension: a left delta cross-merges the right state and
    * vice versa, so the NET emission telescopes to
    * L_final⋈R_final − L_initial⋈R_initial under ANY event
    * interleaving (transient mixed pairs emit +1 then −1 of the same
    * merged row and cancel). Ghost-tolerant like [[NodeFold]]:
    * negative counts invert the emitted sign, keeping the net
    * order-independent.
    *
    * Sides ride the [[Evt.fromParent]] flag: own/left events are
    * `false`, paired/right events are `true` — the same wire
    * format as liveness stages, so pair stages compose freely with
    * them in one tree. */
  private final class PairFold(init: PairNState) extends Fold[PairNState] {
    // TreeMaps: the cross-merge enumerates the OTHER side per delta in
    // deterministic order, and a sorted map gives that for free —
    // re-sorting a key array per event would pay O(|other|·log) on
    // every single delta of the product's hot loop. Natural String
    // order matches NodeFold's child-replay enumeration convention.
    private val left = new java.util.TreeMap[String, Int]()
    private val right = new java.util.TreeMap[String, Int]()
    init.left.foreach { case (k, v) => left.put(k, v) }
    init.right.foreach { case (k, v) => right.put(k, v) }

    def feed(ev: Evt, out: Emissions): Unit = {
      val isRight = ev.fromParent
      val d = ev.tag * ev.mult
      val mine = if (isRight) right else left
      val other = if (isRight) left else right
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val prod = d.toLong * e.getValue
        if (prod != 0L) {
          // merged row is (left, right) regardless of which side the
          // delta arrived on; toIntExact fails loud on the (absurd)
          // 2^31 pair-multiplicity rather than wrapping silently
          val merged =
            if (isRight) mergeCanon(e.getKey, ev.row) else mergeCanon(ev.row, e.getKey)
          out += ((if (prod > 0) 1 else -1, Math.toIntExact(Math.abs(prod)), merged))
        }
      }
      val before = mine.getOrDefault(ev.row, 0)
      // addExact: accumulated multiplicity past 2^31 fails loud like
      // the emission path's toIntExact, never wraps into ghost state
      val after = Math.addExact(before, d)
      if (after == 0) mine.remove(ev.row) else mine.put(ev.row, after)
    }

    def state: PairNState = PairNState(toScalaMap(left), toScalaMap(right))
  }

  def processPairKeyBatch(spec: NodeSpec, preSorted: Boolean = false)(
      key: String, events: Iterator[Evt]): Iterator[Evt] =
    batchFold(Pair, spec, preSorted)(key, events)

  /** EVENT-TIME TTL for streaming tree state — the policy a production
    * deployment needs to bound state by DATA time, not wall time
    * (processing-time TTL keeps a quiet key alive as long as the job
    * restarts often enough; event-time TTL evicts it once the
    * WATERMARK passes its horizon, replay-deterministically).
    *
    *  - `tsCol` names the canonical-row column carrying each event's
    *    time (e.g. "o_orderdate"); rows WITHOUT the column (dimension
    *    relations in the same tree) neither advance nor fence —
    *    their keys age out `delay` after the watermark passes their
    *    last activity;
    *  - `delay` is both the watermark lateness bound on the source
    *    changelogs and the state horizon: a key evicts when the
    *    watermark passes `max(last event time seen, watermark at last
    *    activity) + delay`;
    *  - LATE events (event time below the current watermark) are
    *    FENCED — dropped deterministically at the fold, the standard
    *    watermark contract (spec-asserted). Size `delay` to the
    *    data's real disorder; events for an evicted key thereafter
    *    see empty state, the same explicit
    *    correctness-for-boundedness trade as the processing-time TTL.
    *
    * Session requirements (the engine never mutates the caller's
    * session itself):
    *  - `spark.sql.streaming.statefulOperator.checkCorrectness.enabled
    *    = false` — each stage re-derives event time from its input
    *    rows and fences per stage, the pattern Spark's blanket
    *    chained-stateful-operator heuristic rejects;
    *  - `spark.sql.streaming.multipleWatermarkPolicy = max` when the
    *    tree's changelogs advance unevenly (an idle dimension stream
    *    would stall a min-combined watermark and nothing would ever
    *    evict).
    *
    * `delay` must also cover CROSS-STAGE reordering: a parent flip
    * emits merged rows carrying their original (possibly old) child
    * event times, which a downstream stage fences if older than
    * watermark − delay. That is the event-time-bounded-state trade
    * made explicit — size delay to the full disorder of the tree, not
    * just one stream. */
  final case class EventTimeTtl(tsCol: String, delay: java.time.Duration)

  /** THE stream step of either fold kind: fold the key's events from
    * its stored state and store the result. */
  private def streamStep[S](kind: Kind[S], spec: NodeSpec, events: Iterator[Evt],
      state: org.apache.spark.sql.streaming.GroupState[S]): Iterator[Evt] = {
    val (out, fold) = foldKey(kind, spec, state.getOption.getOrElse(kind.empty), events,
      preSorted = false)
    state.update(fold.state)
    out
  }

  /** The one TTL wrapper around a stream step: a timed-out key drops
    * its state and emits nothing; otherwise `step` folds the key's
    * events and the timeout re-arms — `stateTtl` of processing time
    * after this batch, or under `eventTtl` (see [[EventTimeTtl]]) at
    * the key's event-time horizon, after late events are fenced.
    *
    * An input's event time is `time(in)`, null when it carries none.
    * It comes from the CARRIED `__evtts` column ([[EvtWithTs]]), which
    * `to_timestamp` parsed under the SESSION timezone — the same basis
    * as the watermark. Re-parsing the canonical-row string here (e.g.
    * `Timestamp.valueOf`, which uses the JVM-default timezone) would
    * skew fencing and eviction by the host's UTC offset whenever the
    * JVM and session timezones differ. */
  private def withTtl[S, I](state: org.apache.spark.sql.streaming.GroupState[S],
      events: Iterator[I], evt: I => Evt, time: I => java.sql.Timestamp,
      stateTtl: Option[java.time.Duration], eventTtl: Option[EventTimeTtl])(
      step: Iterator[Evt] => Iterator[Evt]): Iterator[Evt] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else eventTtl match {
      case None =>
        val out = step(events.map(evt))
        stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
        out
      case Some(t) =>
        val wm = state.getCurrentWatermarkMs()
        var lastTs = Long.MinValue
        val live = events.filter { e =>
          val ts = time(e)
          ts == null || {
            if (ts.getTime > lastTs) lastTs = ts.getTime
            ts.getTime >= wm // fence: older than the watermark = late
          }
        }.map(evt)
        val out = step(live) // eager (foldEvents consumes `live` fully)
        val horizon = math.max(lastTs, wm) + t.delay.toMillis
        state.setTimeoutTimestamp(math.max(horizon, wm + 1))
        out
    }

  /** One stage of a (possibly BRANCHING) FK join tree: a liveness
    * node, or a pair node when `pairStage` is set.
    *
    * The AJU model is defined over trees: a fact like lineitem may
    * reference orders AND part, and is alive iff ALL parents are
    * alive. A distributed engine cannot co-partition one state store
    * on two different FKs, so the conjunction is decomposed into a
    * CHAIN OF PER-PARENT STAGES — stage i is keyed by FK_i, buffers
    * the tuples that survived stages < i, tracks parent_i's liveness
    * with the unchanged [[NodeSpec]]/NState fold, and emits merged
    * deltas re-keyed for stage i+1. Retractions w.r.t. an earlier
    * parent arrive as own-event deletions and flow through; the NET
    * stays order-independent (ghost-tolerant signed multisets), so
    * the decomposition preserves exactly the "alive iff all parents
    * alive" semantics while giving each conjunct its own
    * co-partitioned shuffle — the shape this takes on a real cluster.
    *
    * SKEW: the AJU cost model's hot spot is a parent flip replaying
    * the ENTIRE buffered child set of that key inside one task — a
    * hot key (one customer with millions of orders) serializes its
    * whole replay no matter how many executors exist. `salts = S`
    * splits the hop's key space into S sub-keys: each own event
    * routes to one deterministic bucket (hash of its row) while every
    * parent delta REPLICATES to all S buckets, so each bucket folds a
    * full copy of the (tiny per-key) liveness state over a 1/S slice
    * of the (huge) child buffer. The child multiset partitions across
    * buckets and the liveness fold is replicated identically, so the
    * union of bucket emissions EQUALS the unsalted emissions
    * (mergeable liveness — spec-asserted on a hot-key fixture).
    * Cost: parent-delta volume ×S and S state rows per key; apply it
    * to the skewed hop only, sized so hot-key-children/S fits a task.
    *
    * PAIR stages: the stage's own input (the LEFT side: `ownStage`
    * emissions or the base changelog) is incrementally cross-merged
    * with the `pairStage` emissions (the RIGHT side) per routing key,
    * via [[PairFold]]. Pair stages take no `parentStage` (both inputs
    * are full delta streams, not liveness toggles). They SALT like
    * liveness stages, and need it more: the routing key is the shared
    * DIMENSION's key, whose cardinality can be tiny (25 nations caps
    * the stage at 25 tasks regardless of cluster size). With
    * `salts = S` the own/left rows bucket by row hash while the paired
    * side replicates to all S buckets — each bucket pairs a 1/S slice
    * of the left multiset against a full right copy, so the bucket
    * products partition the full product (spec-asserted). Put the
    * BIGGER side on `ownStage` when salting: the replicated side's
    * state is ×S.
    *
    * @param name        unique stage id (stats + upstream references)
    * @param spec        the per-key fold config; `spec.relation` names
    *                    the base changelog when `ownStage` is None
    * @param ownStage    upstream stage whose emissions are this
    *                    stage's OWN changelog (multi-parent chaining);
    *                    None → `changelogs(spec.relation)`
    * @param parentStage upstream stage providing parent deltas; None
    *                    for branch roots
    * @param salts       sub-key salting factor for a skewed hop, in
    *                    [1, 1,000,000) (default 1 = off)
    * @param pairStage   upstream stage providing the paired (right)
    *                    side; makes this a pair stage
    * @param keyOnlyRows project this stage's OWN input rows down to
    *                    just the routing key column before the
    *                    shuffle. Sound ONLY when downstream never
    *                    reads the stage's row content — the one shape
    *                    that qualifies is a set-semantics KEY node
    *                    feeding an antiParent hop (anti liveness
    *                    carries no parent columns by construction),
    *                    where it collapses the widest relation's canon
    *                    rows to ~key-width on the wire. Liveness
    *                    semantics are unchanged: rows sharing a key
    *                    collapse into one multiset entry whose net
    *                    count crosses zero exactly when the distinct
    *                    full-row set does.
    */
  final case class Stage(
      name: String,
      spec: NodeSpec,
      ownStage: Option[String] = None,
      parentStage: Option[String] = None,
      salts: Int = 1,
      pairStage: Option[String] = None,
      keyOnlyRows: Boolean = false)

  /** A root→leaf chain of node specs as stages, each the parent of the next. */
  def chainStages(specs: Seq[NodeSpec]): Seq[Stage] =
    specs.zipWithIndex.map { case (sp, i) =>
      Stage(sp.relation, sp,
        parentStage = if (i == 0) None else Some(specs(i - 1).relation))
    }

  /** The upstream stages a stage reads, by name. */
  private def upstreamOf(st: Stage): Seq[String] =
    st.ownStage.toSeq ++ st.parentStage.toSeq ++ st.pairStage.toSeq

  private def checkStages(stages: Seq[Stage]): Unit = {
    require(stages.nonEmpty)
    val names = stages.map(_.name)
    require(names.distinct.size == names.size, s"duplicate stage names: $names")
    val byName = stages.map(s => s.name -> s).toMap
    val seen = scala.collection.mutable.Set[String]()
    stages.foreach { st =>
      upstreamOf(st).foreach { ref =>
        require(seen(ref),
          s"stage '${st.name}' references '$ref', which must precede it")
      }
      // an own-stage upstream must emit keyed by THIS stage's routing
      // key — its merged rows contain childKeyCol (same relation), so
      // the contract is a plain column-name equality
      st.ownStage.foreach { ref =>
        val up = byName(ref).spec.nextKeyCol
        require(up == st.spec.childKeyCol,
          s"stage '${st.name}' takes own events from '$ref', whose nextKeyCol " +
            s"'$up' != childKeyCol '${st.spec.childKeyCol}' — emissions would be mis-keyed")
      }
      // CONTRACT (not name-checkable): a pair stage's two inputs must
      // be keyed by the same dimension-key VALUES — the column NAMES
      // legitimately differ (c_nationkey vs s_nationkey), so unlike
      // the ownStage check above there is no structural equality to
      // assert here. TreeCompiler guarantees it by construction (both
      // sides' key columns are FKs to the same shared dimension);
      // hand-built graphs that mis-key a side produce disjoint groups
      // and an empty product — validate against an oracle, as every
      // registered pair query does.
      st.pairStage.foreach { _ =>
        require(st.parentStage.isEmpty,
          s"pair stage '${st.name}' cannot also take a parentStage — both pair " +
            "inputs are full delta streams; gate liveness upstream instead")
      }
      require(st.salts >= 1, s"stage '${st.name}': salts must be >= 1, got ${st.salts}")
      require(st.salts < MaxSalts,
        s"stage '${st.name}': salts must be < $MaxSalts, got ${st.salts}")
      seen += st.name
    }
  }

  /** Sub-key encoding: the bucket is appended LAST at a FIXED width
    * (6 zero-padded digits), so the suffix length is constant and no
    * (key, bucket) pair can alias another — a variable-width
    * `key + "#" + bucket` would collide for keys that themselves
    * contain '#' ("x#1" bucket 0 vs "x" bucket 10), silently merging
    * two distinct key groups into one fold. 6 digits bound salts
    * below 1,000,000 ([[checkStages]]) — far past useful (each salt
    * replicates parent-delta volume). */
  private val SaltWidth = 6
  private val MaxSalts = 1000000
  private def saltSuffix(bucket: Column): Column =
    concat(lit("#"), lpad(bucket.cast("string"), SaltWidth, "0"))

  /** Own events route to one deterministic sub-key bucket (Murmur3 of
    * the canonical row — identical rows land together, keeping root
    * set-semantics content-correct); codegen'd projection. */
  private def saltOwn(own: Dataset[Evt], salts: Int): Dataset[Evt] = {
    val spark = own.sparkSession
    import spark.implicits._
    own.toDF()
      .withColumn("key", concat(col("key"),
        saltSuffix(pmod(hash(col("row")), lit(salts)))))
      .as[Evt]
  }

  /** Parent deltas replicate to every sub-key bucket — the replicated
    * copy of the liveness state each bucket folds. */
  private def saltParent(parent: Dataset[Evt], salts: Int): Dataset[Evt] = {
    val spark = parent.sparkSession
    import spark.implicits._
    parent.toDF()
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
      .withColumn("key", concat(col("key"), saltSuffix(col("__salt"))))
      .drop("__salt")
      .as[Evt]
  }

  /** Per-node volume counters from one [[runTree]] execution —
    * `events` is what entered the node's fold (own + parent deltas),
    * `emitted` what it sent downstream. The events/emitted ratio per
    * hop is the first thing to read when a tree is slow or skewed at
    * scale.
    *
    * CAVEAT: these are Spark accumulators incremented inside a
    * TRANSFORMATION, so task retries and speculative duplicates
    * re-apply them — treat the values as a skew/volume triage signal
    * (order-of-magnitude truth), not exact counts. For exact numbers
    * derive them from a counted action on the stage outputs. */
  final case class NodeStats(relation: String,
                             events: org.apache.spark.util.LongAccumulator,
                             emitted: org.apache.spark.util.LongAccumulator)

  /** Assemble one stage's input event stream: its own changelog (base
    * relation or upstream emissions re-flagged), salted if configured,
    * unioned with the parent/pair deltas. `upstream` holds the outputs
    * of the stages it reads ([[upstreamOf]]). Called only by
    * [[runStages]] — the wiring IS the tree's semantics, so there must
    * be exactly one copy of it. Base changelogs are taken as given:
    * local predicates were applied at their source. */
  private def stageInput(st: Stage, changelogs: Map[String, Dataset[Evt]],
      upstream: Map[String, Dataset[Evt]]): Dataset[Evt] = {
    val spec = st.spec
    val own = st.ownStage match {
      case None =>
        changelogs.getOrElse(spec.relation, throw new IllegalArgumentException(
          s"stage '${st.name}': no changelog for relation '${spec.relation}'"))
      case Some(ref) =>
        // the upstream stage's emissions become this stage's OWN
        // changelog (the next conjunct of a multi-parent node): they
        // arrive already keyed by this stage's childKeyCol (checked
        // in [[checkStages]]), so only fromParent flips — a plain
        // codegen'd projection, no object deserialization
        val spark = upstream(ref).sparkSession
        import spark.implicits._
        upstream(ref).toDF()
          .withColumn("fromParent", lit(false))
          .as[Evt]
    }
    val ownP =
      if (!st.keyOnlyRows) own
      else {
        // codegen'd narrow-on-the-wire projection: canonical row
        // becomes the single routing-key pair (see Stage.keyOnlyRows)
        val spark = own.sparkSession
        import spark.implicits._
        own.toDF()
          .withColumn("row", concat(lit(spec.childKeyCol + KV.toString), col("key")))
          .as[Evt]
      }
    val ownS = if (st.salts > 1) saltOwn(ownP, st.salts) else ownP
    // the second input: parent liveness deltas (liveness stage) or
    // the paired side's join deltas (pair stage) — both arrive with
    // fromParent = true on the wire
    (st.parentStage orElse st.pairStage).map { r =>
      val p = if (st.salts > 1) saltParent(upstream(r), st.salts) else upstream(r)
      ownS.union(p)
    }.getOrElse(ownS)
  }

  /** THE stage loop of every driver ([[runTree]], [[runTreeShared]],
    * [[stateMetrics]], [[runStreamTree]], [[runStreamTreeTws]]):
    * validate the graph, then build each stage's output in order from
    * its [[stageInput]]. `build` gets the stage, the upstream outputs
    * it reads and its input, built on demand — so [[runTreeShared]]
    * can reuse a stage without building its input. Returns the last
    * stage's output. */
  private def runStages(stages: Seq[Stage], changelogs: Map[String, Dataset[Evt]])(
      build: (Stage, Map[String, Dataset[Evt]], () => Dataset[Evt]) => Dataset[Evt])
      : Dataset[Evt] = {
    checkStages(stages)
    val outputs = scala.collection.mutable.Map[String, Dataset[Evt]]()
    stages.foreach { st =>
      val upstream = upstreamOf(st).map(n => n -> outputs(n)).toMap
      outputs(st.name) = build(st, upstream, () => stageInput(st, changelogs, upstream))
    }
    outputs(stages.last.name)
  }

  /** THE batch fold of one stage, shared by [[runTree]],
    * [[runTreeShared]] and [[stateMetrics]]: group the stage input by
    * key and fold each group with the stage's liveness or pair fold,
    * counting events in and emissions out when `stats` is given.
    *
    * Intra-group evtOrder rides the shuffle's Tungsten sort (binary,
    * spill-safe) instead of a per-key toArray + JVM comparator sort
    * in the fold — `fromParent DESC` puts parent deltas first,
    * matching evtOrder's parent-before-own rule. Grouping is BY THE
    * `key` COLUMN (groupBy(col).as[K, T]), not groupByKey(_.key):
    * the lambda form appends its key via a per-event object
    * deserialization pass BEFORE the exchange, while the column form
    * groups the serialized rows directly — each stage then
    * deserializes every event exactly once, at the fold. */
  private def foldStage(st: Stage, events: Dataset[Evt],
      stats: Option[NodeStats]): Dataset[Evt] = {
    val spark = events.sparkSession
    import spark.implicits._
    val fold = batchFold(kindOf(st), st.spec, preSorted = true) _
    events.toDF()
      .groupBy(col("key")).as[String, Evt]
      .flatMapSortedGroups(col("seq"), col("fromParent").desc, col("row"))(
        (k: String, it: Iterator[Evt]) => stats match {
          case None => fold(k, it)
          case Some(s) =>
            fold(k, it.map { e => s.events.add(1); e }).map { e => s.emitted.add(1); e }
        })
  }

  /** Run the tree in batch-simulation mode: the stages run in order,
    * each grouping the union of its parent's deltas and its own
    * changelog by its FK (the `key` column) and folding each group
    * ([[foldStage]]) — the exact micro-batch the streaming engine would
    * process, replayed in one batch. The last stage's emissions are the
    * full join-result deltas. A stage output referenced by several
    * consumers (a shared dimension) is recomputed per consumer up to
    * Spark's exchange reuse — persist it upstream if that ever
    * matters. */
  def runTree(stages: Seq[Stage], changelogs: Map[String, Dataset[Evt]],
              stats: Option[scala.collection.mutable.Buffer[NodeStats]] = None): Dataset[Evt] =
    runStages(stages, changelogs) { (st, _, input) =>
      val events = input()
      val nodeStats = stats.map { buf =>
        val sc = events.sparkSession.sparkContext
        val s = NodeStats(st.name,
          sc.longAccumulator(s"graft.${st.name}.events"),
          sc.longAccumulator(s"graft.${st.name}.emitted"))
        buf += s
        s
      }
      foldStage(st, events, nodeStats)
    }

  /** Several stage-plans over (mostly) shared changelogs in ONE batch
    * evaluation, building each REFERENCE-SHARED stage's Dataset once
    * (each stage through the same [[foldStage]] as [[runTree]]):
    * the SQL compiler's outer-join plans reuse the main tree's prefix
    * stages by object identity (the anti plan keeps the pre-parent
    * prefix; the orphan plan, when it exists at all — the leaf-fusion
    * path folds it away — the whole prefix). Sharing the Dataset
    * OBJECT gives every consuming branch a canonically-equal subtree,
    * which is what lets Spark's ReuseExchange dedupe the underlying
    * shuffles; it deliberately does NOT persist() the shared outputs —
    * measured at bench scale, materializing object-typed Evt rows
    * through the block store costs more than re-running the small
    * prefix folds (the heavy leaf-relation work is deduped
    * structurally, by leaf fusion and the key-only projection, not by
    * caching). Reuse is refused unless the stage's inputs are
    * OBJECT-IDENTICAL in the reusing plan (same changelog Dataset,
    * same upstream stage outputs) — a plan that rekeys a relation's
    * changelog (the anti plan's boundary parent) never reuses a stage
    * reading it. Returns the union of every plan's leaf deltas. */
  def runTreeShared(plans: Seq[(Seq[Stage], Map[String, Dataset[Evt]])]): Dataset[Evt] = {
    require(plans.nonEmpty, "runTreeShared needs at least one plan")
    // per shared stage: (output, own-changelog object, upstream outputs)
    val cache =
      new java.util.IdentityHashMap[Stage, (Dataset[Evt], AnyRef, Map[String, Dataset[Evt]])]()
    plans.map { case (stages, logs) =>
      runStages(stages, logs) { (st, upstream, input) =>
        val ownLog: AnyRef =
          if (st.ownStage.isEmpty) logs.getOrElse(st.spec.relation, null) else null
        Option(cache.get(st)).collect {
          case (out, cLog, cUp) if (cLog eq ownLog) && cUp.size == upstream.size &&
              cUp.forall { case (n, ds) => upstream.get(n).exists(_ eq ds) } => out
        }.getOrElse {
          val out = foldStage(st, input(), None)
          cache.put(st, (out, ownLog, upstream))
          out
        }
      }
    }.reduce(_ union _)
  }

  /** STATE OBSERVABILITY — the answer surface for "which node's state
    * is growing", the first operational question at 100 TB: replay the
    * tree and report each node's END-OF-REPLAY keyed-state footprint
    * as a queryable frame `(node, n_keys, state_rows, state_bytes)`.
    *
    *  - `n_keys`     keys holding state (= key groups that received
    *                 any event — parent-only keys included: they hold
    *                 liveness/parentCanon state);
    *  - `state_rows` total buffered row multiplicity, Σ|net count|
    *                 over the node's signed multiset(s) (ghost counts
    *                 count by magnitude — they ARE retained state);
    *  - `state_bytes` deterministic footprint estimate: per multiset
    *                 entry UTF-8 row length + 4 (the count int), plus
    *                 (liveness nodes) parentCanon UTF-8 length + 4
    *                 (the aliveParents int). An estimate of payload
    *                 bytes, not JVM/RocksDB overhead.
    *
    * Each stage's input is re-derived through the same [[stageInput]]
    * wiring and its emissions through the same [[foldStage]] as
    * [[runTree]]; the input is then folded once more with state
    * export, so the snapshot costs one extra pass per node — fine for
    * a batch replay/debug loop. The STREAMING twin is free: every stage
    * already surfaces `numRowsTotal`/`numRowsUpdated` per node in
    * `StreamingQueryProgress.stateOperators` (see [[runStreamTree]]);
    * this frame adds the BYTES/multiplicity detail and a batch-mode
    * answer. */
  def stateMetrics(stages: Seq[Stage],
                   changelogs: Map[String, Dataset[Evt]]): org.apache.spark.sql.DataFrame = {
    val perStage = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    runStages(stages, changelogs) { (st, _, input) =>
      val events = input()
      perStage += stageFootprint(kindOf(st), st, events)
      // emissions feed downstream exactly as runTree's would
      foldStage(st, events, None)
    }
    perStage.result().reduce(_.unionByName(_))
  }

  /** One [[stateMetrics]] row: fold the stage input per key once more
    * and sum the exported states' footprints. */
  private def stageFootprint[S](kind: Kind[S], st: Stage,
      events: Dataset[Evt]): org.apache.spark.sql.DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, sum => fsum}
    events.toDF().groupBy(col("key")).as[String, Evt]
      .mapGroups((_, it) =>
        kind.footprint(foldKey(kind, st.spec, kind.empty, it, preSorted = false)._2.state))
      .toDF("rows", "bytes")
      .agg(fcount(lit(1)).cast("long").as("n_keys"),
        fsum(col("rows")).as("state_rows"), fsum(col("bytes")).as("state_bytes"))
      .select(lit(st.name).as("node"), col("n_keys"), col("state_rows"), col("state_bytes"))
  }

  /** The liveness stream step under an optional processing-time TTL,
    * as [[runStreamTree]] runs it: same fold as [[processKeyBatch]],
    * with state carried across micro-batches in the state store. With
    * a TTL the key's state is dropped after `ttl` of processing-time
    * inactivity — the unbounded-child-set mitigation SURVEY.md §7
    * flags; events for an evicted key thereafter see empty state (an
    * explicit correctness-for-boundedness trade the caller opts
    * into). */
  def processKeyStream(spec: NodeSpec, ttl: Option[java.time.Duration] = None)(
      key: String, events: Iterator[Evt],
      state: org.apache.spark.sql.streaming.GroupState[NState]): Iterator[Evt] =
    withTtl(state, events, identity[Evt], (_: Evt) => null, ttl, None)(
      streamStep(Liveness, spec, _, state))

  /** [[Evt]] plus its parsed event time — the wire shape of a stage
    * input under an EVENT-TIME TTL: the analyzer requires the
    * watermarked column to be PRESENT at each flatMapGroupsWithState
    * input (a dropped column fails UnsupportedOperationChecker even
    * with the watermark node upstream), so the event time rides as a
    * real column per stage and unwraps at the fold. NULL for rows
    * whose canonical row lacks the ts column (dimension relations) —
    * null event times never advance the watermark and are never
    * late-filtered. */
  private[streaming] final case class EvtWithTs(
      seq: Long, fromParent: Boolean, tag: Int, mult: Int,
      key: String, row: String, __evtts: java.sql.Timestamp) {
    def evt: Evt = Evt(seq, fromParent, tag, mult, key, row)
  }

  /** Attach the parsed event time and declare the stage watermark. */
  private def withEventTime(ds: Dataset[Evt], ttl: EventTimeTtl): Dataset[EvtWithTs] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.toDF()
      .withColumn("__evtts", to_timestamp(
        graft.functions.CanonGet.canon_get(col("row"), ttl.tsCol)))
      .withWatermark("__evtts", s"${ttl.delay.toMillis} milliseconds")
      .as[EvtWithTs]
  }

  /** Run the tree in Structured Streaming — the streaming twin of
    * [[runTree]]: a chain of `flatMapGroupsWithState` stages in Append
    * mode (Spark supports chained stateful operators in append since
    * 3.4). State is bounded by `stateTtl` (processing-time inactivity)
    * OR `eventTtl` (event-time horizon — see [[EventTimeTtl]]), not
    * both. Emissions stay in the signed-delta domain end to end; sinks
    * consume them via `foreachBatch` upsert (Spark's native sinks take
    * no retractions — SURVEY.md §7 phase 3).
    *
    * Observability: each stage surfaces its keyed-state volume in
    * `StreamingQueryProgress.stateOperators` (one entry per node,
    * `numRowsTotal`/`numRowsUpdated`) — watch those to see a hop's
    * state grow or a TTL hold it flat (spec-asserted in
    * StreamingSpec). Cluster deployments should also set
    * {{{
    * spark.sql.streaming.stateStore.providerClass =
    *   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    * spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled = true
    * }}}
    * so per-key tree state spills to executor-local RocksDB instead of
    * the JVM heap and checkpoints upload changelogs rather than full
    * snapshots — at 100 TB the buffered-children state is far larger
    * than any executor heap.
    *
    * Session setting: [[runStreamTree]] and [[runStreamTreeTws]] set
    * `spark.sql.streaming.checkpointFileManagerClass` on the
    * Dataset's session to [[LocalCheckpointFileManager]] (same files,
    * `.crc`s and checksums, but `file:` checkpoints commit without
    * launching `chmod`/`readlink` processes — see
    * [[LocalCheckpointFs]]). A manager the caller has already set on
    * the session wins and is left as set.
    */
  def runStreamTree(stages: Seq[Stage], changelogs: Map[String, Dataset[Evt]],
                    stateTtl: Option[java.time.Duration] = None,
                    eventTtl: Option[EventTimeTtl] = None): Dataset[Evt] = {
    require(stateTtl.isEmpty || eventTtl.isEmpty,
      "choose ONE state-bounding policy: processing-time stateTtl or event-time eventTtl")
    LocalCheckpointFs.install(changelogs.head._2.sparkSession)
    runStages(stages, changelogs) { (st, _, input) =>
      streamStage(kindOf(st), st.spec, input(), stateTtl, eventTtl)
    }
  }

  /** One `flatMapGroupsWithState` stage of either kind: the stream step
    * in the TTL wrapper, with the event time riding along as a column
    * under an event-time TTL. Grouped by the `key` column, not
    * groupByKey(_.key) — see [[foldStage]]: the lambda form
    * re-deserializes every event per micro-batch just to re-extract
    * the key column. */
  private def streamStage[S](kind: Kind[S], spec: NodeSpec, events: Dataset[Evt],
      stateTtl: Option[java.time.Duration], eventTtl: Option[EventTimeTtl]): Dataset[Evt] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    implicit val stateEncoder: org.apache.spark.sql.Encoder[S] = kind.encoder
    val timeout =
      if (eventTtl.isDefined) GroupStateTimeout.EventTimeTimeout
      else if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    eventTtl match {
      case Some(t) =>
        withEventTime(events, t).toDF().groupBy(col("key")).as[String, EvtWithTs]
          .flatMapGroupsWithState[S, Evt](OutputMode.Append, timeout)((_, it, s) =>
            withTtl(s, it, (_: EvtWithTs).evt, (_: EvtWithTs).__evtts, None, eventTtl)(
              streamStep(kind, spec, _, s)))
      case None =>
        events.toDF().groupBy(col("key")).as[String, Evt]
          .flatMapGroupsWithState[S, Evt](OutputMode.Append, timeout)((_, it, s) =>
            withTtl(s, it, identity[Evt], (_: Evt) => null, stateTtl, None)(
              streamStep(kind, spec, _, s)))
    }
  }

  // ---- the SAME tree on Spark 4's transformWithState ----------------

  /** A tree node as a Spark 4 `StatefulProcessor` — the engine's folds
    * on the supported arbitrary-state API, with state DECOMPOSED into
    * typed columns instead of one per-key blob. What both kinds share
    * lives here: rows sort by the SAME [[evtOrder]] as the flatMap
    * drivers (state-store groups arrive unordered), the subclass folds
    * them against its typed state, and the optional processing-time
    * TTL is a REAL per-key timer (`registerTimer`/`handleExpiredTimer`,
    * re-armed on activity, at most one per key) whose expiry clears
    * the key's state. Requires the RocksDB state store provider on the
    * session (transformWithState's documented requirement). */
  sealed abstract class NodeProcessor(stateTtl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Evt, Evt] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues}

    /** Fold one key's rows, already in [[evtOrder]], against the typed
      * state. */
    protected def fold(rows: Array[Evt]): Iterator[Evt]

    /** Drop every state variable of the key. */
    protected def clear(): Unit

    override def handleInputRows(key: String, rows: Iterator[Evt],
        timerValues: TimerValues): Iterator[Evt] = {
      val arr = rows.toArray
      java.util.Arrays.sort(arr, evtOrder)
      val out = fold(arr)
      stateTtl.foreach { d =>
        // at most ONE live timer per key: re-arm on activity
        val want = timerValues.getCurrentProcessingTimeInMs() + d.toMillis
        // materialize first: deleting while iterating the state-store-backed
        // timer iterator is mutation-during-iteration with no documented contract
        getHandle.listTimers().toArray.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(want)
      }
      out
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Evt] = {
      clear()
      Iterator.empty
    }
  }

  /** The liveness node on transformWithState: [[NodeFold]] run against
    * typed state.
    *
    *  - `children` is a [[org.apache.spark.sql.streaming.MapState]]
    *    (canonical child row → signed count): an own-changelog event
    *    is ONE point read + ONE point write against the (RocksDB)
    *    store, where the flatMap driver deserializes and rewrites the
    *    key's entire child multiset every micro-batch — at 100 TB the
    *    buffered-children map is the dominant state, so per-entry
    *    access is the difference between O(Δ) and O(state) I/O per
    *    batch. The full map is read ONLY on a parent liveness flip
    *    (the replay the semantics requires anyway);
    *  - `parent` is a ValueState of (aliveParents, latest parent
    *    canon) — a few bytes, read/written once per batch. */
  final class TreeNodeProcessor(spec: NodeSpec, stateTtl: Option[java.time.Duration])
      extends NodeProcessor(stateTtl) {
    import org.apache.spark.sql.streaming.{MapState, OutputMode => OM, TTLConfig, TimeMode, ValueState}

    @transient private var children: MapState[String, Int] = _
    @transient private var parent: ValueState[(Int, String)] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      children = getHandle.getMapState[String, Int]("children",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
      parent = getHandle.getValueState[(Int, String)]("parent",
        org.apache.spark.sql.Encoders.product[(Int, String)], TTLConfig.NONE)
    }

    protected def fold(rows: Array[Evt]): Iterator[Evt] = {
      val (aliveParents, parentCanon) = if (parent.exists()) parent.get() else (0, "")
      val node = new NodeFold(spec, new MapStateChildren(children), aliveParents, parentCanon)
      val out = foldEvents(spec.nextKeyCol, rows.iterator, preSorted = true, node.feed)
      parent.update((node.aliveParents, node.parentCanon))
      out
    }

    protected def clear(): Unit = { children.clear(); parent.clear() }
  }

  /** The PAIR (shared-dimension product) stage on transformWithState:
    * both sides' signed multisets live as typed MapStates. A pair
    * delta's cross-merge enumerates the ENTIRE other side by
    * definition (Δ(L⋈R) = ΔL⋈R + L'⋈ΔR), so an active batch reads
    * O(state) regardless of API — the TWS win here is the WRITE path:
    * after the batch folds through the same [[PairFold]] the flatMap
    * driver uses (bit-identical transitions), only the CHANGED entries
    * point-write back to the store, instead of re-serializing both
    * whole multisets as one blob. */
  final class PairNodeProcessor(spec: NodeSpec, stateTtl: Option[java.time.Duration])
      extends NodeProcessor(stateTtl) {
    import org.apache.spark.sql.streaming.{MapState, OutputMode => OM, TTLConfig, TimeMode}

    @transient private var left: MapState[String, Int] = _
    @transient private var right: MapState[String, Int] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      left = getHandle.getMapState[String, Int]("left",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
      right = getHandle.getMapState[String, Int]("right",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
    }

    private def load(ms: MapState[String, Int]): Map[String, Int] = {
      val b = Map.newBuilder[String, Int]
      val it = ms.iterator()
      while (it.hasNext) { val (k, v) = it.next(); b += (k -> v) }
      b.result()
    }

    private def sync(ms: MapState[String, Int],
                     before: Map[String, Int], after: Map[String, Int]): Unit = {
      after.foreach { case (k, v) =>
        if (!before.get(k).contains(v)) ms.updateValue(k, v)
      }
      before.keysIterator.filterNot(after.contains).foreach(ms.removeKey)
    }

    protected def fold(rows: Array[Evt]): Iterator[Evt] = {
      val before = PairNState(load(left), load(right))
      val (out, fold) = foldKey(Pair, spec, before, rows.iterator, preSorted = true)
      val after = fold.state
      sync(left, before.left, after.left)
      sync(right, before.right, after.right)
      out
    }

    protected def clear(): Unit = { left.clear(); right.clear() }
  }

  /** [[runStreamTree]] on `transformWithState` — chained
    * [[TreeNodeProcessor]] / [[PairNodeProcessor]] stages in Append
    * mode over the same [[stageInput]] wiring (branch routing, salting
    * and parent-delta unions all identical; only the per-node state
    * API changes). Session must use the RocksDB state
    * store provider. */
  def runStreamTreeTws(stages: Seq[Stage], changelogs: Map[String, Dataset[Evt]],
                       stateTtl: Option[java.time.Duration] = None): Dataset[Evt] = {
    val spark = changelogs.head._2.sparkSession
    LocalCheckpointFs.install(spark)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val timeMode =
      if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    runStages(stages, changelogs) { (st, _, input) =>
      // column grouping, not groupByKey(_.key) — see [[foldStage]]
      input().toDF().groupBy(col("key")).as[String, Evt]
        .transformWithState(kindOf(st).processor(st.spec, stateTtl), timeMode,
          OutputMode.Append())
    }
  }
}
