package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The seeded input generator, kept apart from the timed code: every
  * workload input is drawn here, before set-up starts, from the run
  * seed alone. [[digest]] fingerprints what was drawn, so two runs can
  * be shown to have used identical inputs. */
object Inputs {

  /** Delete predicates of one `q10_bulk` run (SQL text, so the same
    * string drives the engine and the survivor tables of the check):
    * each removes one residue class of its relation, 2-5 % of
    * `orders` and 2.5-5 % of `lineitem`. */
  final case class BulkDeletes(orders: String, lineitem: String)

  def bulkDeletes(seed: Long): BulkDeletes = {
    val r = new SplittableRandom(seed ^ 0x1b)
    val om = 20 + r.nextInt(31)
    val lm = 20 + r.nextInt(21)
    BulkDeletes(s"pmod(o_orderkey, $om) = ${r.nextInt(om)}",
      s"pmod(l_orderkey * 7 + l_linenumber, $lm) = ${r.nextInt(lm)}")
  }

  /** One streamed op: row indices into a relation's raw changelog, and
    * whether each event deletes the row (true) or re-inserts it. */
  final case class Toggle(rel: String, index: Int, delete: Boolean)

  /** `batches` ops of toggles. Per op and relation, `perOp(rel)`
    * distinct rows each either delete a live row or re-insert a deleted
    * one (even odds while both exist), so every event is a real change
    * and the live set stays near the base set. */
  def toggles(seed: Long, sizes: Map[String, Int], perOp: Map[String, Int],
              batches: Int): IndexedSeq[Seq[Toggle]] = {
    val r = new SplittableRandom(seed ^ 0x2c)
    final class Rel(n: Int) {
      val deleted = mutable.ArrayBuffer.empty[Int]
      val isDeleted = new java.util.BitSet(n)
      /** One op's `k` distinct toggles: a row deleted in this op is
        * not re-inserted in it, and the reverse. */
      def drawOp(k: Int): Seq[(Int, Boolean)] = {
        val used = mutable.HashSet.empty[Int]
        var deletes = 0
        var reinserts = 0
        Seq.fill(k) {
          val canReinsert = deleted.size - deletes > 0
          val canDelete = n - deleted.size - reinserts > 0
          val reinsert = canReinsert && (!canDelete || r.nextBoolean())
          var i = -1
          var pos = -1
          while (i < 0 || used(i)) {
            if (reinsert) { pos = r.nextInt(deleted.size); i = deleted(pos) }
            else { i = r.nextInt(n); if (isDeleted.get(i)) i = -1 }
          }
          used += i
          if (reinsert) {
            deleted(pos) = deleted.last; deleted.dropRightInPlace(1); isDeleted.clear(i)
            reinserts += 1
          } else { deleted += i; isDeleted.set(i); deletes += 1 }
          (i, !reinsert)
        }
      }
    }
    val rels = perOp.keys.toSeq.sorted
    perOp.foreach { case (rel, k) =>
      require(k <= sizes(rel), s"$k toggles per op need at least $k $rel rows") }
    val state = rels.map(rel => rel -> new Rel(sizes(rel))).toMap
    IndexedSeq.fill(batches) {
      rels.flatMap(rel => state(rel).drawOp(perOp(rel)).map { case (i, del) => Toggle(rel, i, del) })
    }
  }

  /** Start nation of one `recursive_paths` run, among the nations that
    * have suppliers (at tiny scale some have none). */
  def startNation(seed: Long, withSuppliers: Seq[Int]): Int =
    withSuppliers.sorted.apply(new SplittableRandom(seed ^ 0x3d).nextInt(withSuppliers.size))

  /** SHA-256 (first 16 hex digits) of the inputs' canonical text;
    * collections are hashed element by element. */
  def digest(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(p: Any): Unit = p match {
      case it: Iterable[_] => md.update("[".getBytes); it.foreach(feed); md.update("]".getBytes)
      case other => md.update(s"$other;".getBytes("UTF-8"))
    }
    parts.foreach(feed)
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
