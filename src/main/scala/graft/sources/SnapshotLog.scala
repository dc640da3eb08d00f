package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.TempDirs.tempDir

/** A minimal COPY-ON-WRITE versioned table — the lakehouse snapshot
  * contract (Delta/Iceberg time travel) in its essential form, built
  * from parquet + a manifest, no table-format dependency:
  *
  *  - the table is hash-bucketed on its key into `Buckets` directories
  *    (`b=<i>/`), written once per touched bucket per commit;
  *  - a commit rewrites ONLY the buckets its change set touches, into
  *    a NEW version directory (old files are never modified or
  *    deleted — that is what makes old snapshots readable forever and
  *    concurrent readers safe);
  *  - a manifest per version maps bucket → the version directory that
  *    holds its current file, so version N's read plan is a union of
  *    per-version parquet reads (partition-discovery basePath per
  *    version dir) — exactly how table formats resolve a snapshot to
  *    a file list;
  *  - time travel = read an older manifest. Storage cost is
  *    O(changed buckets) per commit, not O(table).
  *
  * At 100 TB the bucket count is the write-amplification knob (a
  * commit rewrites `touched/Buckets` of the table), and the manifest
  * becomes a transaction log with optimistic concurrency — the same
  * shape, scaled. Reference: beyond-reference storage surface; the
  * public Delta/Iceberg spec pattern (versioned manifests over
  * immutable files).
  */
object SnapshotLog {

  val Buckets = 16

  private def manifestPath(root: String, v: Int) = s"$root/_manifest_v$v.json"

  /** Real JSON both ways (Jackson rides in with Spark): any path —
    * commas, colons, quotes — round-trips, where the r8 hand-rolled
    * split-on-`,`-then-`:` silently corrupted such roots. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestJson(m: Map[Int, String], digest: String,
                           dv: Map[Int, Seq[String]] = Map.empty): String = {
    val node = mapper.createObjectNode()
    node.put("_digest", digest)
    // DELETION VECTORS (merge-on-read): "_dv" maps bucket -> the DV
    // dirs whose key tombstones still apply to that bucket. Metadata
    // fields are `_`-prefixed, so pre-DV readers of the bucket map
    // (readManifest filters them) are untouched.
    if (dv.nonEmpty) {
      val dnode = node.putObject("_dv")
      dv.toSeq.sortBy(_._1).foreach { case (b, dirs) =>
        val arr = dnode.putArray(b.toString)
        dirs.foreach(arr.add)
      }
    }
    m.toSeq.sortBy(_._1).foreach { case (b, dir) => node.put(b.toString, dir) }
    node.toString
  }

  /** The deletion-vector map version `v` recorded (empty for pre-DV
    * manifests and bucket-rewrite-only tables). */
  private[sources] def readDv(root: String, v: Int): Map[Int, Seq[String]] = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(manifestPath(root, v)))
    import scala.jdk.CollectionConverters._
    Option(mapper.readTree(txt).get("_dv")).map { d =>
      d.properties().asScala.map { e =>
        e.getKey.toInt -> e.getValue.elements().asScala.map(_.asText).toSeq
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Order-independent content digest of a commit's logical input —
    * count plus a SUM of per-row xxhash64 over every column (sum is
    * commutative, so partition order and replay nondeterminism cannot
    * change it). Recorded in the manifest and REQUIRED to match before
    * a CAS loss is treated as a benign replay: the version number
    * alone plays Delta's txn appId+version role only single-writer —
    * two genuinely distinct writers racing the same version with the
    * same touched-bucket set are structurally indistinguishable from
    * a foreachBatch replay, and without the digest the loser's
    * different data would be silently discarded. One extra scan of
    * the change set per commit (the small side of the merge — the
    * same order of cost as Delta's commit-info write). */
  private def contentDigest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    // sum in DECIMAL(38,0): 2^63-magnitude hashes summed over any
    // realistic row count cannot overflow 38 digits (ANSI mode makes
    // a long SUM overflow a hard error, not a wrap)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)).as("n"), sum(col("__h")).as("s")).head()
    s"${r.getLong(0)}-${if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString}"
  }

  /** OPTIMISTIC-CAS manifest publish: the JSON is staged to a temp
    * file in the table root and published via hard-link creation —
    * on POSIX an atomic fail-if-exists, so of any number of writers
    * racing version `v` exactly ONE wins. Returns whether this call
    * won. (On an object store the same role is played by
    * put-if-absent / a conditional write — the manifest is the only
    * thing that needs it; data files are write-once by construction.) */
  private[sources] def tryCommitManifest(root: String, v: Int, m: Map[Int, String],
                                          digest: String = "",
                                          dv: Map[Int, Seq[String]] = Map.empty): Boolean = {
    val target = java.nio.file.Paths.get(manifestPath(root, v))
    val tmp = java.nio.file.Files.createTempFile(target.getParent, s"_mtmp_v$v", ".json")
    java.nio.file.Files.writeString(tmp, manifestJson(m, digest, dv))
    try { java.nio.file.Files.createLink(target, tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  /** Data directories are written ONCE, to a per-attempt unique name
    * (`v<v>-<token>`): a writer that goes on to LOSE the manifest CAS
    * can never have clobbered the winner's files (the hazard a
    * deterministic `v<v>` name has — two writers racing the same
    * version overwrite each other's parquet before either publishes).
    * The manifest is the sole naming authority; nothing resolves a
    * version by directory name. */
  private def newAttemptDir(root: String, prefix: String): String =
    s"$root/$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Publish `m` (which references this attempt's `dir`) as version
    * `v`, or handle the CAS loss: the loser's orphan directory is
    * always removed, and then — EXCEPT the exactly-once retry — the
    * commit dies loudly. A replayed commit (foreachBatch re-runs a
    * batch after restart; the version id plays Delta's txn
    * appId+version role) must pass BOTH checks to be recognized:
    * structurally, substituting the winner's attempt dir for ours
    * makes the manifests IDENTICAL (same touched buckets over the
    * same base); AND the winner's recorded content digest equals this
    * attempt's — so a genuinely distinct concurrent commit that
    * happens to touch the same bucket set cannot masquerade as a
    * replay and have its data silently discarded. Anything else
    * aborts so the caller re-reads and retries at `v+1`. */
  private def publishAttempt(root: String, v: Int, m: Map[Int, String], dir: String,
                             digest: String,
                             dv: Map[Int, Seq[String]] = Map.empty): Unit =
    if (!tryCommitManifest(root, v, m, digest, dv)) {
      rmTree(new java.io.File(dir))
      val winner = readManifest(root, v)
      val winnerDv = readDv(root, v)
      // this attempt's dir appears in the BUCKET map (rewrite commits)
      // or in the DV map (deletion-vector commits); the winner's
      // corresponding dir is the substitution candidate either way
      val candidates = (m.collect { case (b, d) if d == dir => winner.get(b) } ++
        dv.toSeq.flatMap { case (b, ds) =>
          ds.zipWithIndex.collect { case (d, i) if d == dir =>
            winnerDv.get(b).flatMap(_.lift(i)) } }).toSet
      val sameLogicalCommit =
        candidates.size == 1 && candidates.head.isDefined && {
          val w = candidates.head.get
          def sub(d: String) = if (d == dir) w else d
          m.map { case (b, d) => b -> sub(d) } == winner &&
          dv.map { case (b, ds) => b -> ds.map(sub) } == winnerDv &&
          // Option-equality so the both-absent case matches: a replayed
          // commit from a pre-digest manifest records digest "" which
          // readDigest also normalizes to None — `.contains("")` could
          // never succeed and threw on every legitimate replay.
          readDigest(root, v) == Option(digest).filter(_.nonEmpty)
        }
      if (!sameLogicalCommit)
        throw new java.util.ConcurrentModificationException(
          s"snapshot version $v at $root was committed concurrently with different content")
    }

  private def readManifest(root: String, v: Int): Map[Int, String] = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(manifestPath(root, v)))
    import scala.jdk.CollectionConverters._
    mapper.readTree(txt).properties().asScala
      .filterNot(_.getKey.startsWith("_")) // metadata fields (e.g. _digest)
      .map(e => e.getKey.toInt -> e.getValue.asText).toMap
  }

  /** The content digest version `v`'s winner recorded at commit
    * (absent only for manifests written before digests existed). */
  private def readDigest(root: String, v: Int): Option[String] = {
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(manifestPath(root, v)))
    Option(mapper.readTree(txt).get("_digest")).map(_.asText).filter(_.nonEmpty)
  }

  /** Commit version 0: the full table, bucketed on `key`. A second
    * commitInitial on an existing root loses the CAS; if its content
    * digest matches the committed v0 it is a REPLAY and no-ops (its
    * attempt dir is removed; the existing v0 is never clobbered) —
    * but a different initial data set losing the race now fails
    * LOUDLY instead of silently adopting the winner's table: v0's
    * structure (all buckets → one dir) is identical for every
    * initial commit, so the digest is the only thing that can tell
    * them apart. */
  def commitInitial(df: DataFrame, root: String, key: String): Unit = {
    val dir = newAttemptDir(root, "v0")
    df.withColumn("b", pmod(col(key), lit(Buckets)))
      .write.mode("overwrite").partitionBy("b").parquet(dir)
    publishAttempt(root, 0, (0 until Buckets).map(_ -> dir).toMap, dir,
      contentDigest(df))
  }

  /** Commit version `v`: apply a keyed MERGE change set (op U/D/I with
    * full payload — [[graft.operators.MergeOps.mergeUpsert]]
    * semantics) by rewriting ONLY the touched buckets into
    * `root/v<v>/`. Old version dirs are untouched. */
  def commitMerge(spark: SparkSession, root: String, v: Int, key: String,
                  payloadCols: Seq[String], changes: DataFrame): Unit = {
    val prev = readManifest(root, v - 1)
    val touched = changes
      .select(pmod(col(key), lit(Buckets)).cast("int").as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    require(touched.nonEmpty, "empty change set — nothing to commit")
    val current0 = readVersion(spark, root, v - 1)
      .filter(col("b").isin(touched.toSeq.map(Int.box): _*))
    // SCHEMA EVOLUTION (add-column): a payload column the change set
    // carries but the current version lacks back-fills as a typed
    // NULL — old rows read NULL for it forever (the lakehouse
    // add-column contract), old version DIRECTORIES are untouched so
    // time travel still shows the pre-evolution schema
    val current = payloadCols.foldLeft(current0) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(changes.schema(c).dataType))
    }
    // the change set's bucket is derivable from its key (inserts
    // included), so MERGE can carry `b` as ordinary payload
    val merged = graft.operators.MergeOps.mergeUpsert(
        current, changes.withColumn("b", pmod(col(key), lit(Buckets))),
        key, payloadCols :+ "b")
    val dir = newAttemptDir(root, s"v$v")
    merged.write.mode("overwrite").partitionBy("b").parquet(dir)
    // rewritten buckets MATERIALIZE their deletion vectors (`current0`
    // reads dv-applied), so their coverage drops — a later re-insert
    // of a tombstoned key into a rewritten bucket must survive;
    // untouched buckets keep their tombstones
    val dvCarried = readDv(root, v - 1).filter { case (b, _) => !touched(b) }
    publishAttempt(root, v, prev ++ touched.map(_ -> dir), dir,
      contentDigest(changes), dvCarried)
  }

  /** DELETION VECTORS — merge-on-read row deletes: version `v` keeps
    * v−1's bucket dirs UNCHANGED and records per-bucket key TOMBSTONES
    * in a sidecar dir instead, so a delete commit costs
    * O(|deleted keys|) regardless of table size (the copy-on-write
    * alternative rewrites every touched bucket). [[readVersion]]
    * anti-joins the applicable tombstones at read (the small side —
    * broadcastable); the next [[commitMerge]] or [[compactVersion]]
    * touching a bucket materializes and DROPS its coverage, and
    * [[vacuum]] treats referenced DV dirs like data dirs. Stacked DV
    * commits accumulate per bucket. `deleteKeys` carries the key
    * column; keys absent from the table are harmless no-ops (exactly
    * SQL DELETE's answer). */
  def commitDeleteVector(spark: SparkSession, root: String, v: Int, key: String,
                         deleteKeys: DataFrame): Unit = {
    val prevDv = readDv(root, v - 1)
    val keyed = deleteKeys.select(col(key)).distinct()
      .withColumn("b", pmod(col(key), lit(Buckets)))
    val touched = keyed.select(col("b").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    require(touched.nonEmpty, "empty delete set — nothing to commit")
    val dir = newAttemptDir(root, s"v${v}dv")
    keyed.write.mode("overwrite").partitionBy("b").parquet(dir)
    val dv = prevDv ++ touched.map(b => b -> (prevDv.getOrElse(b, Nil) :+ dir))
    publishAttempt(root, v, readManifest(root, v - 1), dir,
      contentDigest(keyed.select(col(key))), dv)
  }

  /** DV-AWARE DELETE POLICY — the compaction trade every lakehouse
    * table faces: stacking deletion vectors keeps a delete commit
    * O(|deleted keys|) but taxes EVERY subsequent read with one more
    * anti-join side, while materializing (rewriting the touched
    * buckets) pays the write once and clears the read-side debt. This
    * picks per commit, from the manifests plus parquet metadata
    * counts (no data scan):
    *
    *  - STACK (commitDeleteVector) while every touched bucket stays
    *    under `maxStackedDvs` pending vector dirs AND the touched
    *    buckets' pending+new tombstones stay under `maxTombstoneRatio`
    *    of their raw row count;
    *  - REWRITE (a D-change-set commitMerge) past either bound — the
    *    copy-on-write path materializes every pending tombstone on
    *    the buckets it rewrites, so their read plans drop to plain
    *    scans again.
    *
    * Returns the mode chosen ("stack" | "rewrite") so callers and the
    * gated entry can assert the storage shape. At 100 TB both bounds
    * matter: stacked-vector COUNT prices the read-side plan tax
    * (joins per scan), the ratio prices wasted I/O (dead rows read
    * then dropped). */
  def commitDeleteAuto(spark: SparkSession, root: String, v: Int, key: String,
                       payloadCols: Seq[String], deleteKeys: DataFrame,
                       maxStackedDvs: Int = 3,
                       maxTombstoneRatio: Double = 0.2): String = {
    val prevDv = readDv(root, v - 1)
    val keyed = deleteKeys.select(col(key)).distinct()
      .withColumn("b", pmod(col(key), lit(Buckets))).persist()
    try {
      val touched = keyed.select(col("b").cast("int")).distinct()
        .collect().map(_.getInt(0)).toSet // bounded: ≤ Buckets ints
      require(touched.nonEmpty, "empty delete set — nothing to commit")
      val stacked = touched.map(b => prevDv.getOrElse(b, Nil).size).max
      val newCnt = keyed.count()
      val pendingDirs = touched.toSeq.flatMap(b => prevDv.getOrElse(b, Nil)).distinct
      // metadata-only counts: a filterless parquet count reads row-group
      // footers, and the raw (pre-DV) bucket count over-counts live
      // rows only by the tombstones themselves — conservative for a
      // policy heuristic, never a table scan
      val pendingCnt = pendingDirs.map(d0 => spark.read.parquet(d0).count()).sum
      val m = readManifest(root, v - 1).filter { case (b, dir) =>
        touched(b) && new java.io.File(s"$dir/b=$b").exists() }
      val rawCnt = if (m.isEmpty) 0L else readBuckets(spark, m).count()
      val overStack = stacked + 1 > maxStackedDvs
      val overRatio = rawCnt > 0 &&
        (newCnt + pendingCnt).toDouble / rawCnt > maxTombstoneRatio
      if (!overStack && !overRatio) {
        commitDeleteVector(spark, root, v, key, keyed.select(col(key)))
        "stack"
      } else {
        // the D change set carries the pre-images' payload (bucket-
        // pruned read); commitMerge's rewrite then materializes EVERY
        // pending tombstone on the touched buckets and drops their
        // coverage
        val changes = preImages(spark, root, v - 1, key, keyed.select(col(key)))
          .select(col(key) +: lit("D").as("op") +: payloadCols.map(col): _*)
          .persist()
        try {
          if (changes.isEmpty) { // every key phantom: nothing to rewrite
            commitDeleteVector(spark, root, v, key, keyed.select(col(key)))
            "stack"
          } else {
            commitMerge(spark, root, v, key, payloadCols, changes)
            "rewrite"
          }
        } finally { changes.unpersist(); () }
      }
    } finally { keyed.unpersist(); () }
  }

  // ---- CHECK constraints (write-path governance) -----------------------

  private def constraintsPath(root: String) = s"$root/_constraints.json"

  /** Register named CHECK constraints — ANSI boolean predicates over
    * the table's columns — enforced by [[commitMergeChecked]] on every
    * subsequent write. Stored as a sidecar JSON registry at the table
    * root (the `ALTER TABLE ADD CONSTRAINT` shape): constraints are
    * table METADATA, not data, so they sit outside the manifest chain
    * and govern writes from registration onward. Validating EXISTING
    * data at registration time is the caller's call —
    * [[constraintViolations]] over a [[readVersion]] is that one scan. */
  def setConstraints(root: String, cs: Map[String, String]): Unit = {
    val node = mapper.createObjectNode()
    cs.toSeq.sortBy(_._1).foreach { case (n, p) => node.put(n, p) }
    // tmp + atomic move, same publish protocol as the manifests: a
    // concurrent commitMergeChecked reading the registry mid-write
    // must see the old set or the new set, never a torn JSON
    val target = java.nio.file.Paths.get(constraintsPath(root))
    val tmp = java.nio.file.Files.createTempFile(target.getParent, "_ctmp", ".json")
    java.nio.file.Files.writeString(tmp, node.toString)
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def constraints(root: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(constraintsPath(root))
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      mapper.readTree(java.nio.file.Files.readString(p))
        .properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }
  }

  /** Violation count per constraint over `df`, in ONE aggregate pass —
    * every predicate evaluates inside the same HashAggregate, so a
    * 100 TB change set pays one scan however many constraints are
    * registered. A NULL predicate result counts as a violation: CHECK
    * admits only rows the predicate proves TRUE (the conservative
    * reading — a row the constraint cannot evaluate must not slide
    * through on UNKNOWN). */
  def constraintViolations(df: DataFrame, cs: Map[String, String]): Map[String, Long] = {
    if (cs.isEmpty) return Map.empty
    val names = cs.keys.toSeq.sorted
    val aggs = names.map(n =>
      sum(when(coalesce(expr(cs(n)).cast("boolean"), lit(false)), 0L)
        .otherwise(1L)).as(n))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    names.zipWithIndex.map { case (n, i) =>
      n -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  /** [[commitMerge]] with the registered CHECK constraints enforced on
    * the change set's surviving row states (U and I carry new rows; a
    * D row removes data and cannot violate a row-level constraint). A
    * violation aborts BEFORE any data or manifest write: version `v`
    * never exists, concurrent readers never observe a bad row, and the
    * error names every violated constraint with its offending row
    * count — the write-path contract that keeps a governed table
    * trustworthy without a read-side audit. */
  def commitMergeChecked(spark: SparkSession, root: String, v: Int, key: String,
                         payloadCols: Seq[String], changes: DataFrame): Unit = {
    val cs = constraints(root)
    val bad = constraintViolations(changes.filter(col("op") =!= "D"), cs)
      .filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"CHECK constraint violation — commit aborted, version $v not written: " +
          bad.toSeq.sortBy(_._1).map { case (n, c) =>
            s"$n ('${cs(n)}') fails on $c row(s)" }.mkString("; "))
    commitMerge(spark, root, v, key, payloadCols, changes)
  }

  // ---- maintained REFERENTIAL (FK) audit -------------------------------

  /** The rescan ground truth: child rows whose `fkCol` has no parent
    * row — one anti join (what `quality_constraints_orders` computes
    * batch-side). The maintained path below folds the SAME number
    * under commits without re-running this join. */
  def fkViolations(child: DataFrame, fkCol: String,
                   parent: DataFrame, parentKey: String): Long =
    child.join(parent.select(col(parentKey)),
      child(fkCol) === parent(parentKey), "left_anti").count()

  /** Signed FK-violation delta of a PARENT-side delete (child fixed):
    * every child row referencing a deleted parent key BECOMES a
    * violation — the parent-side delete is exactly the liveness-flip
    * event the delta engine tracks, priced here as one child scan
    * filtered by a broadcast semi join on the (change-set-sized)
    * deleted key set. At 100 TB, bucket the child by its FK to make
    * this lookup partition-pruned too; the join itself never
    * shuffles the child (broadcast). Parent keys are unique, so a
    * deleted key cannot leave a surviving parent row behind. */
  def fkDeltaParentDelete(child: DataFrame, fkCol: String,
                          deletedParentKeys: DataFrame, parentKey: String): Long =
    child.join(broadcast(deletedParentKeys.select(col(parentKey)).distinct()),
      child(fkCol) === col(parentKey), "left_semi").count()

  /** Signed FK-violation delta of a CHILD-side U/D/I change set
    * (parent fixed at `parentRoot`@`parentV`): entering rows (U/I new
    * states) add a violation when their FK has no parent; leaving
    * rows (the bucket-pruned pre-images of EVERY change-set key)
    * remove one when theirs had none. Cost ∝ change set: two
    * [[preImages]] reads (child buckets for the leaving rows, parent
    * buckets for the FK lookups) — never a table scan. */
  def fkDeltaChild(spark: SparkSession, childRoot: String, v: Int,
                   childKey: String, fkCol: String, changes: DataFrame,
                   parentRoot: String, parentV: Int, parentKey: String): Long = {
    def dangling(fks: DataFrame): Long = {
      val present = preImages(spark, parentRoot, parentV, parentKey,
        fks.select(col(fkCol).as(parentKey)))
      fks.join(broadcast(present.select(col(parentKey))),
        fks(fkCol) === col(parentKey), "left_anti").count()
    }
    val entering = changes.filter(col("op") =!= "D").select(col(fkCol))
    val leaving = preImages(spark, childRoot, v - 1, childKey,
      changes.select(col(childKey))).select(col(fkCol))
    dangling(entering) - dangling(leaving)
  }

  /** Resolve version `v` to its file set and read it — one parquet
    * read per version directory (partition column `b` recovered via
    * basePath), unioned. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    applyDv(spark, readBuckets(spark, readManifest(root, v)), readDv(root, v))

  /** Merge-on-read: drop `base` rows whose key is tombstoned by an
    * applicable deletion vector. Each DV dir is read restricted to the
    * buckets the manifest says it still covers (a bucket rewritten
    * since the DV was written materialized those tombstones — applying
    * them again would wrongly delete re-inserted keys), then ONE anti
    * join on the key column (keys are globally unique, so restricting
    * the tombstone set to covered buckets makes the global anti join
    * exactly per-bucket semantics). The tombstone side is
    * O(|deleted keys|) — the broadcastable small side at any table
    * size. */
  private def applyDv(spark: SparkSession, base: DataFrame,
                      dv: Map[Int, Seq[String]]): DataFrame =
    if (dv.isEmpty) base
    else {
      val reads = dv.toSeq.flatMap { case (b, dirs) => dirs.map(d => (d, b)) }
        .groupBy(_._1).toSeq.flatMap { case (d, entries) =>
          val parts = entries.map { case (_, b) => s"$d/b=$b" }
            .filter(p => new java.io.File(p).exists())
          if (parts.isEmpty) None
          else Some(spark.read.option("basePath", d).parquet(parts: _*))
        }
      if (reads.isEmpty) base
      else {
        val tomb = reads.reduce(_.unionByName(_))
        val keyCol = tomb.columns.filterNot(_ == "b").head
        base.join(tomb.select(keyCol).distinct(), Seq(keyCol), "left_anti")
      }
    }

  private def readBuckets(spark: SparkSession, m: Map[Int, String]): DataFrame =
    m.toSeq
      // a bucket whose current version dir has no subdir is EMPTY at
      // that version (every row deleted) — contributes nothing
      .filter { case (b, dir) => new java.io.File(s"$dir/b=$b").exists() }
      .groupBy(_._2).map { case (dir, entries) =>
        spark.read.option("basePath", dir)
          .parquet(entries.map { case (b, _) => s"$dir/b=$b" }: _*)
      // allowMissingColumns: buckets last rewritten BEFORE an
      // add-column evolution read NULL for the new column
      }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** POINT LOOKUPS with STRUCTURAL BUCKET PRUNING: the bucket of a key
    * is derivable (`pmod(key, Buckets)`), so a keyed read resolves the
    * manifest to ONLY the buckets the key set can live in — no other
    * bucket's files are even LISTED, let alone scanned. This is the
    * hash-partitioned table's scale contract: a point lookup touches
    * 1/Buckets of the table regardless of table size (at 100 TB the
    * bucket count is provisioned accordingly — the manifest stays a
    * single small JSON either way). Note min/max stats per bucket
    * would add NOTHING here: hash bucketing spreads every key range
    * across all buckets by design, so derivation-from-the-key is the
    * only pruning with power on this layout (range-clustered pruning
    * is the z-order entry's territory). Returns exactly the live rows
    * of `keys` at version `v`. */
  def readKeys(spark: SparkSession, root: String, v: Int, key: String,
               keys: Seq[Long]): DataFrame = {
    val wanted = keys.map(k => (k % Buckets + Buckets) % Buckets).toSet
    val m = readManifest(root, v).filter { case (b, _) => wanted(b.toLong) }
    require(m.nonEmpty, s"no manifest entry for buckets $wanted at version $v " +
      "(a fully-empty pruned read has no schema to return)")
    // deletion vectors prune the same way: only the wanted buckets'
    // tombstone partitions are even listed
    val dv = readDv(root, v).filter { case (b, _) => wanted(b.toLong) }
    applyDv(spark, readBuckets(spark, m), dv)
      .filter(col(key).isin(keys.map(Long.box): _*))
  }

  /** Bucket-pruned PRE-IMAGE read: the version-`v` rows of exactly the
    * keys in `keys` (a one-column DataFrame named `key`). Only the
    * buckets those keys hash to are listed and scanned — the collect
    * is the DISTINCT BUCKET SET, bounded by [[Buckets]] however large
    * the key set is — then a left-semi join restricts to the asked
    * keys. Keys absent at version `v` simply return no row. This is
    * the lookup half of commit-time maintenance (MERGE matched-row
    * resolution, incremental audits): cost ∝ touched buckets, never a
    * table scan. */
  def preImages(spark: SparkSession, root: String, v: Int, key: String,
                keys: DataFrame): DataFrame = {
    val wanted = keys.select(pmod(col(key), lit(Buckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet // bounded: ≤ Buckets ints
    // a wanted bucket whose dir lacks the b=<i> subdir is EMPTY at `v`
    // (every row deleted) — without this filter readBuckets would
    // reduce over nothing when ALL wanted buckets are empty
    val m = readManifest(root, v).filter { case (b, dir) =>
      wanted(b) && new java.io.File(s"$dir/b=$b").exists() }
    val base =
      if (m.isEmpty) readVersion(spark, root, v).limit(0) // no live bucket: typed empty
      else applyDv(spark, readBuckets(spark, m),
        readDv(root, v).filter { case (b, _) => wanted(b) })
    base.join(keys.select(col(key)).distinct(), Seq(key), "left_semi")
  }

  /** MAINTAINED CONSTRAINT AUDIT: the signed per-constraint violation
    * delta that committing `changes` as version `v` contributes, so
    * audit(v) = audit(v−1) + delta — no rescan of the table, ever.
    * Entering rows are the change set's U/I new states (a matched I
    * resolves as an update, an unmatched U as an insert — see
    * [[graft.operators.MergeOps.mergeUpsert]] — so EVERY change-set
    * key's pre-image leaves if present); leaving rows are the
    * [[preImages]] of all change-set keys, bucket-pruned. Two
    * one-pass aggregates over change-set-sized inputs: at 100 TB the
    * audit dashboard updates per commit for the cost of the commit's
    * own working set. */
  def auditDelta(spark: SparkSession, root: String, v: Int, key: String,
                 payloadCols: Seq[String], cs: Map[String, String],
                 changes: DataFrame): Map[String, Long] = {
    val names = cs.keys.toSeq.sorted
    val entering = constraintViolations(
      changes.filter(col("op") =!= "D")
        .select((key +: payloadCols).map(col): _*), cs)
    val leaving = constraintViolations(
      preImages(spark, root, v - 1, key, changes.select(col(key))), cs)
    names.map(n =>
      n -> (entering.getOrElse(n, 0L) - leaving.getOrElse(n, 0L))).toMap
  }

  /** DESCRIBE HISTORY — one metadata row per committed version, read
    * from manifests alone (no data scan): how many distinct data dirs
    * the version references, how many buckets it REWROTE vs its
    * predecessor (0 for a pure deletion-vector commit), and how many
    * tombstone dirs apply. The storage-shape audit trail: a version
    * with 16 rewritten buckets was a full rewrite, one with 0 was
    * merge-on-read, and n_dirs growth shows when compaction is due. */
  def history(root: String): Seq[(Int, Int, Int, Int)] = {
    val vs = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName)
      .collect { case n if n.startsWith("_manifest_v") =>
        n.stripPrefix("_manifest_v").stripSuffix(".json").toInt }
      .sorted
    // a root with no committed version has an empty history — callers
    // probe "does this table exist yet" through exactly this
    if (vs.isEmpty) return Seq.empty
    vs.zip(None +: vs.init.map(Option(_))).map { case (v, prevV) =>
      val m = readManifest(root, v)
      // vs the previous RETAINED version (vacuum may have dropped v−1)
      val rewritten = prevV match {
        case None => m.size
        case Some(pv) =>
          val prev = readManifest(root, pv)
          m.count { case (b, dir) => !prev.get(b).contains(dir) }
      }
      (v, m.values.toSet.size, rewritten,
        readDv(root, v).values.flatten.toSet.size) // DISTINCT tombstone dirs
    }
  }

  /** Row-level CHANGE DATA FEED between two snapshots: full-outer join
    * on the key → I (new key), D (gone key), U (payload changed).
    * Unchanged rows are dropped. */
  def tableDiff(from: DataFrame, to: DataFrame, key: String,
                payloadCols: Seq[String]): DataFrame = {
    val f = from.select((key +: payloadCols).map(col): _*).as("f")
    val t = to.select((key +: payloadCols).map(col): _*).as("t")
    val anyChanged = payloadCols.map(c =>
      !(col(s"f.$c") <=> col(s"t.$c"))).reduce(_ || _)
    f.join(t, col(s"f.$key") === col(s"t.$key"), "full_outer")
      .select(
        coalesce(col(s"f.$key"), col(s"t.$key")).as(key),
        when(col(s"f.$key").isNull, "I")
          .when(col(s"t.$key").isNull, "D")
          .when(anyChanged, "U").as("op"),
        struct(payloadCols.map(c => col(s"t.$c").as(c)): _*).as("after"))
      .filter(col("op").isNotNull)
      .select(col(key) +: col("op") +:
        payloadCols.map(c => col(s"after.$c").as(c)): _*)
  }

  /** Default age below which an UNREFERENCED-BY-ANY-MANIFEST directory
    * survives vacuum (an hour — generous against any realistic
    * write+commit latency; Delta's equivalent knob defaults to 7 days
    * because object-store listings can be stale). */
  val VacuumAttemptGraceMs: Long = 60L * 60 * 1000

  /** VACUUM (retention): delete data directories under `root` that no
    * manifest of version ≥ `retainFrom` references, plus the
    * manifests below the horizon. Retained manifests and every
    * directory they point at are untouched, so reads of versions ≥
    * `retainFrom` are bit-identical before and after, while older
    * versions become unreadable (their manifests are gone). Returns
    * the deleted directory names. Versions pinned by a live branch
    * ([[branchAt]]'s registry) are retained regardless of the horizon.
    *
    * Concurrent-writer safety: an unreferenced directory is deleted
    * only when it is PROVABLY dead — referenced by an expired (now
    * deleted) manifest, i.e. it was published and aged out — or, for
    * directories referenced by NO manifest at all, older than
    * `attemptGraceMs`. The no-manifest case is exactly what an
    * in-flight commit's attempt directory looks like (written but not
    * yet CAS-published): deleting it unconditionally would let a
    * vacuum racing a live commit destroy parquet that the writer then
    * publishes a manifest for, corrupting the table. Freshness is the
    * max mtime over the directory and its immediate children (the
    * bucket subdirs, which advance as task files land), so the grace
    * window restarts while a write is still making progress; the
    * window must exceed the gap between a commit's LAST write and its
    * manifest CAS (milliseconds) — not the whole write duration.
    * Crashed writers' orphans age out and are reclaimed by the next
    * vacuum.
    *
    * At 100 TB this is the storage-reclamation half of the lakehouse
    * contract (Delta VACUUM / Iceberg expire_snapshots): without it a
    * busy table accretes a directory per commit forever. Time-based
    * retention is this same function with `retainFrom` resolved from
    * commit timestamps. */
  def vacuum(root: String, retainFrom: Int,
             attemptGraceMs: Long = VacuumAttemptGraceMs): Seq[String] = {
    val dir = new java.io.File(root)
    def ls = Option(dir.listFiles()).toSeq.flatten
    val versions = ls.map(_.getName)
      .filter(n => n.startsWith("_manifest_v") && n.endsWith(".json"))
      .map(_.stripPrefix("_manifest_v").stripSuffix(".json").toInt)
    // BRANCH PINS override the horizon: a shallow branch ([[branchAt]])
    // reads this table's version-`pv` bucket dirs by absolute path, so
    // `pv`'s manifest AND dirs must survive any vacuum until the pin is
    // released ([[dropBranch]]) — the manifest too, because it is the
    // only thing that can resolve the pinned dirs for FUTURE vacuums.
    val pinned = branchPins(root).map(_._2).toSet
    val (expired, kept) =
      versions.partition(v => v < retainFrom && !pinned.contains(v))
    require(kept.nonEmpty, s"vacuum($retainFrom) would delete every manifest at $root")
    def canon(vs: Seq[Int]): Set[String] =
      // deletion-vector dirs are referenced data like bucket dirs: a
      // kept version's tombstones must survive, an expired-only DV dir
      // is reclaimable
      vs.flatMap(v => readManifest(root, v).values ++ readDv(root, v).values.flatten)
        .toSet.map((p: String) => new java.io.File(p).getCanonicalPath)
    val retained = canon(kept)
    val provablyDead = canon(expired) -- retained // published, then aged below the horizon
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val now = System.currentTimeMillis()
    def freshness(d: java.io.File): Long =
      (d.lastModified() +: Option(d.listFiles()).toSeq.flatten.map(_.lastModified())).max
    val doomed = ls.filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_")) // registry/metadata dirs (_branches)
      .filterNot(d => retained.contains(d.getCanonicalPath))
      .filter(d => provablyDead.contains(d.getCanonicalPath) ||
        now - freshness(d) > attemptGraceMs)
    doomed.foreach(rm)
    expired.foreach { v =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(manifestPath(root, v))); ()
    }
    doomed.map(_.getName).sorted
  }

  /** TIME-BASED retention — [[vacuum]] with the horizon resolved from
    * manifest COMMIT TIMES (file mtimes, which the atomic hard-link
    * publish stamps at commit): keep every version whose manifest is
    * newer than `horizonMs`, plus the LATEST version at or below it
    * (a reader must always have a complete snapshot to land on, so
    * the newest pre-horizon version survives — the same rule Delta's
    * time-based VACUUM applies). No-ops when nothing falls below. */
  def vacuumOlderThan(root: String, horizonMs: Long): Seq[String] = {
    val dir = new java.io.File(root)
    val manifests = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("_manifest_v") && f.getName.endsWith(".json"))
      .map(f => f.getName.stripPrefix("_manifest_v").stripSuffix(".json").toInt ->
        f.lastModified())
    require(manifests.nonEmpty, s"no manifests at $root")
    val recent = manifests.filter(_._2 > horizonMs).map(_._1)
    val anchor = manifests.filter(_._2 <= horizonMs).map(_._1).maxOption
    val retainFrom = (anchor.toSeq ++ recent).min
    if (manifests.map(_._1).min >= retainFrom) Nil
    else vacuum(root, retainFrom)
  }

  /** TIME TRAVEL BY TIMESTAMP — `FOR TIMESTAMP AS OF` resolved the
    * same way [[vacuumOlderThan]] resolves its horizon: the LATEST
    * version whose manifest commit time (file mtime, stamped by the
    * atomic hard-link publish) is ≤ `tsMs`. A timestamp before the
    * first commit is an error (there is no snapshot to read), exactly
    * Delta's contract. */
  def versionAsOf(root: String, tsMs: Long): Int = {
    val manifests = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("_manifest_v") && f.getName.endsWith(".json"))
      .map(f => f.getName.stripPrefix("_manifest_v").stripSuffix(".json").toInt ->
        f.lastModified())
    require(manifests.nonEmpty, s"no manifests at $root")
    val eligible = manifests.filter(_._2 <= tsMs).map(_._1)
    require(eligible.nonEmpty,
      s"timestamp $tsMs predates the table's first commit " +
        s"(earliest manifest at ${manifests.map(_._2).min})")
    eligible.max
  }

  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readVersion(spark, root, versionAsOf(root, tsMs))

  // ---- branch registry: the anti-shallow-clone-corruption ledger ----

  private def branchRegistryDir(root: String) = s"$root/_branches"

  /** One pin file per branch destination, named by a stable hash of the
    * dst's canonical path so any path spelling maps to the same pin. */
  private def branchPinPath(srcRoot: String, dstRoot: String): String = {
    val canonical = new java.io.File(dstRoot).getCanonicalPath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    s"${branchRegistryDir(srcRoot)}/pin_$h.json"
  }

  /** Live branch pins on `root`: (canonical dstRoot, pinned version). */
  def branchPins(root: String): Seq[(String, Int)] = {
    val d = new java.io.File(branchRegistryDir(root))
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("pin_") && f.getName.endsWith(".json"))
      .map { f =>
        val n = mapper.readTree(java.nio.file.Files.readString(f.toPath))
        (n.get("dst").asText, n.get("version").asInt)
      }.sortBy(_._1)
  }

  private def writeBranchPin(srcRoot: String, v: Int, dstRoot: String): Unit = {
    val path = java.nio.file.Paths.get(branchPinPath(srcRoot, dstRoot))
    java.nio.file.Files.createDirectories(path.getParent)
    val canonical = new java.io.File(dstRoot).getCanonicalPath
    val node = mapper.createObjectNode()
    node.put("dst", canonical); node.put("version", v)
    val tmp = path.resolveSibling(path.getFileName.toString + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, mapper.writeValueAsString(node))
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
  }

  /** Release `dstRoot`'s pin on `srcRoot` (the branch was dropped or
    * deep-copied away). Returns whether a pin existed. The caller owns
    * the claim that the branch no longer reads shared storage — after
    * this, the next source vacuum may delete the version-`v` data. */
  def dropBranch(srcRoot: String, dstRoot: String): Boolean =
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(branchPinPath(srcRoot, dstRoot)))

  /** SHALLOW BRANCH (zero-copy clone — Delta's shallow CLONE,
    * Iceberg's branch): publish `dstRoot`'s version 0 as a manifest
    * that REFERENCES the source's version-`v` bucket directories. No
    * data moves — the manifest is the sole naming authority, so a
    * foreign absolute path is as good a bucket reference as a local
    * one — and the branch's subsequent [[commitMerge]]s copy-on-write
    * only their touched buckets into branch-local attempt dirs, so
    * the two tables share unchanged storage indefinitely. The
    * source's content digest rides along (same logical content, so a
    * replayed branch creation is recognized; a different-source race
    * to the same dstRoot fails [[commitInitial]]-loudly via the CAS).
    *
    * Vacuum safety: every branch records a PIN (dstRoot → v) in a
    * registry under the source root BEFORE its manifest publishes, and
    * source [[vacuum]]/[[vacuumOlderThan]] retain every pinned
    * version's manifest and data dirs — so, unlike Delta's shallow
    * clone, vacuuming the source cannot corrupt a live branch. Release
    * the pin with [[dropBranch]] when the branch is dropped. Vacuum on
    * the BRANCH is safe by construction: it only ever deletes
    * directories physically under the branch root, which source
    * references never are. */
  def branchAt(srcRoot: String, v: Int, dstRoot: String): Unit = {
    new java.io.File(dstRoot).mkdirs()
    // Pin BEFORE even READING the source manifest: once the pin is
    // down, a concurrent source vacuum retains version `v`, so the
    // read→publish span references dirs that cannot disappear. A
    // pre-existing pin at a DIFFERENT version is left alone unless its
    // branch manifest is gone (a stale pin from a manually removed
    // branch) — if the branch is live, the publish below fails loudly.
    val canonicalDst = new java.io.File(dstRoot).getCanonicalPath
    val existingPin = branchPins(srcRoot).collectFirst {
      case (d, pv) if d == canonicalDst => pv
    }
    val dstManifestLive = new java.io.File(manifestPath(dstRoot, 0)).exists()
    val wrotePin = existingPin match {
      case Some(pv) if pv == v => false // replay: pin already right
      case Some(_) if dstManifestLive => false // live branch at another v: CAS will throw
      case _ => writeBranchPin(srcRoot, v, dstRoot); true
    }
    try {
      val m = readManifest(srcRoot, v)
      val digest = readDigest(srcRoot, v).getOrElse("")
      // the branch head must carry the source's deletion vectors too —
      // a dv-blind branch would resurrect tombstoned rows
      val dv = readDv(srcRoot, v)
      if (!tryCommitManifest(dstRoot, 0, m, digest, dv)) {
        val sameLogicalBranch =
          readManifest(dstRoot, 0) == m && readDv(dstRoot, 0) == dv &&
            readDigest(dstRoot, 0) == Option(digest).filter(_.nonEmpty)
        if (!sameLogicalBranch)
          throw new java.util.ConcurrentModificationException(
            s"branch root $dstRoot already has a DIFFERENT version 0")
      }
    } catch {
      case e: Throwable =>
        // the branch did not come to exist — release the claim we made
        if (wrotePin) dropBranch(srcRoot, dstRoot)
        throw e
    }
  }

  /** One committed two-version table per (fixture dir) per JVM. */
  private val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice")

  /** v0 = orders; v1 = a DELETION-VECTOR commit tombstoning
    * o_orderkey % 45 = 0 (no bucket rewritten; the tombstones land in
    * every bucket); v2 = a MERGE re-inserting the tombstoned keys of
    * BUCKETS 0–7 only (rewrites exactly those buckets — which must
    * MATERIALIZE and drop their tombstone coverage, or the re-inserted
    * rows would be wrongly re-deleted at read; buckets 8–15 keep
    * theirs). */
  private val dvRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dvTableRoot(s: SparkSession, d: String): String =
    dvRoots.computeIfAbsent(d, _ => {
      val root = tempDir("graft_snap_dv").toString
      val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
      commitInitial(orders, root, "o_orderkey")
      commitDeleteVector(s, root, 1, "o_orderkey",
        orders.filter(col("o_orderkey") % 45 === 0).select("o_orderkey"))
      commitMerge(s, root, 2, "o_orderkey", payload,
        orders.filter(col("o_orderkey") % 45 === 0 && col("o_orderkey") % 16 < 8)
          .select(col("o_orderkey"), lit("I").as("op"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice")))
      root
    })

  /** The canonical three-residue change set over `orders` (mod 160 —
    * and 160 ≡ 0 mod 16, so each residue pins one bucket), split in
    * two halves so streaming entries can feed them as separate
    * micro-batches: first the U price bumps … */
  private def updateBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 160 === 1)
      .select(col("o_orderkey"), lit("U").as("op"), col("o_custkey"),
        col("o_orderstatus"), (col("o_totalprice") + lit(1000)).as("o_totalprice"))

  /** … then the D drops + shifted I inserts. */
  private def deleteInsertBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 160 === 0)
      .select(col("o_orderkey"), lit("D").as("op"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .unionAll(orders.filter(col("o_orderkey") % 160 === 2)
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          lit("I").as("op"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice")))

  /** The "whole change set applied" final state — ONE oracle text
    * shared by every entry whose gated value must equal it (stream
    * ingest, compact, vacuum, ingest-compact-ingest): however the
    * table got there, the snapshot must read the same. */
  private val appliedChangesSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      | CAST(CAST(CASE WHEN o_orderkey % 160 = 1
      |      THEN o_totalprice + 1000 ELSE o_totalprice END AS DECIMAL(18,2)) AS DOUBLE)
      |  AS o_totalprice
      |FROM orders WHERE o_orderkey % 160 <> 0
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |FROM orders WHERE o_orderkey % 160 = 2""".stripMargin

  /** v0 = orders snapshot; v1 = a change set pinned to three buckets
    * (residues mod 160 — and 160 ≡ 0 mod 16, so ≡0 lands in bucket 0,
    * ≡1 in bucket 1, the +10M-shifted inserts of ≡2 in bucket 2):
    * delete, update, insert each touch exactly one bucket and the
    * other 13 buckets' files must be REUSED by v1 — the
    * copy-on-write claim the entry asserts. */
  def ordersTableRoot(s: SparkSession, d: String): String =
    roots.computeIfAbsent(d, _ => {
      val root = tempDir("graft_snap_orders").toString
      val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
      commitInitial(orders, root, "o_orderkey")
      commitMerge(s, root, 1, "o_orderkey", payload,
        updateBatch(orders).unionAll(deleteInsertBatch(orders)))
      root
    })

  /** v0 = orders snapshot under two registered CHECK constraints;
    * v1 = the update batch (passes); then the SAME batch with prices
    * negated MUST abort with the constraint named and leave no v2 —
    * both asserted here, so the gated read of v1 proves the reject
    * path ran and the accept path landed. */
  private val checkedRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def checkedTableRoot(s: SparkSession, d: String): String =
    checkedRoots.computeIfAbsent(d, _ => {
      val root = tempDir("graft_snap_checked").toString
      val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
      commitInitial(orders, root, "o_orderkey")
      setConstraints(root, Map(
        "positive_price" -> "o_totalprice > 0",
        "status_known"   -> "o_orderstatus IN ('O', 'F', 'P')"))
      commitMergeChecked(s, root, 1, "o_orderkey", payload, updateBatch(orders))
      val bad = updateBatch(orders)
        .withColumn("o_totalprice", -col("o_totalprice"))
      val rejected =
        try { commitMergeChecked(s, root, 2, "o_orderkey", payload, bad); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("positive_price") }
      require(rejected, "violating batch must be rejected naming positive_price")
      require(!new java.io.File(manifestPath(root, 2)).exists(),
        "a rejected commit must leave no version-2 manifest")
      root
    })

  import org.apache.spark.sql.types.DecimalType
  private def snap2(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(18, 2)).cast("double")

  val defs: Seq[GraftQuery] = Seq(
    // TIME TRAVEL: after the v1 merge commit, version 0 must read back
    // EXACTLY the original snapshot (old files are immutable; v1 only
    // added directories + a manifest). The gated value is the v0 read;
    // the fn additionally self-asserts that v1 reuses v0's files for
    // every untouched bucket (the copy-on-write storage claim).
    sql("snapshot_time_travel",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders""".stripMargin) {
      (s, d) =>
        val root = ordersTableRoot(s, d)
        val m1 = readManifest(root, 1)
        val v0Dir = readManifest(root, 0).values.head
        val reused = m1.values.count(_ == v0Dir)
        require(reused == Buckets - 3,
          s"v1 must reuse ${Buckets - 3} untouched v0 buckets, reuses $reused")
        readVersion(s, root, 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // CHECK CONSTRAINTS ON THE WRITE PATH: the fixture registers two
    // named predicates, lands the passing update batch as v1, and
    // proves a violating batch ABORTS (error names the constraint; no
    // v2 manifest, no data dirs) — the gated value is v1, which must
    // equal the update applied to the snapshot. Violations are counted
    // in ONE aggregate pass over the change set however many
    // constraints are registered, so governance costs one scan of the
    // (small) change set per commit, never a table scan.
    sql("snapshot_check_constraints",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(CASE WHEN o_orderkey % 160 = 1
        |      THEN o_totalprice + 1000 ELSE o_totalprice END AS DECIMAL(18,2)) AS DOUBLE)
        |  AS o_totalprice
        |FROM orders""".stripMargin) {
      (s, d) =>
        val root = checkedTableRoot(s, d)
        require(constraints(root).keySet == Set("positive_price", "status_known"),
          "constraint registry must survive the round trip")
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // CONSTRAINT AUDIT — the ADD CONSTRAINT-time scan over EXISTING
    // data: one aggregate pass over the current snapshot reports each
    // candidate constraint's violation count (register only the clean
    // ones, or clean the data first — either way the decision needs
    // these numbers). NULL predicate results count as violations on
    // both sides (COALESCE(pred, FALSE) in the oracle mirrors the
    // engine's conservative CHECK reading).
    sql("snapshot_constraint_audit",
      """WITH v1 AS (SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 160 = 1 THEN o_totalprice + 1000
        |       ELSE o_totalprice END AS o_totalprice
        | FROM orders)
        |SELECT 'price_cap' AS constraint_name,
        | CAST(SUM(CASE WHEN COALESCE(o_totalprice < 300000, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
        |FROM v1
        |UNION ALL
        |SELECT 'status_known',
        | CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT)
        |FROM v1""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val root = checkedTableRoot(s, d)
        val candidates = Map(
          "price_cap" -> "o_totalprice < 300000",
          "status_known" -> "o_orderstatus IN ('O', 'F', 'P')")
        constraintViolations(readVersion(s, root, 1), candidates)
          .toSeq.sortBy(_._1)
          .toDF("constraint_name", "n_violations")
    },

    // MAINTAINED CONSTRAINT AUDIT — audit(v1) computed as
    // audit(v0) + auditDelta(change set), NEVER rescanning the table:
    // the delta costs one pass over the U/D/I change set plus a
    // bucket-pruned pre-image read of the touched keys (3 of 16
    // buckets here). The fn self-asserts the fold equals a full v1
    // rescan, and the gate proves both equal the oracle's ground
    // truth — the per-commit governance dashboard at change-set cost.
    sql("snapshot_constraint_audit_maintained",
      """WITH v1 AS (
        | SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 160 = 1 THEN o_totalprice + 1000
        |       ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 160 <> 0
        | UNION ALL
        | SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        | FROM orders WHERE o_orderkey % 160 = 2)
        |SELECT 'price_cap' AS constraint_name,
        | CAST(SUM(CASE WHEN COALESCE(o_totalprice < 300000, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
        |FROM v1
        |UNION ALL
        |SELECT 'status_known',
        | CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 0 ELSE 1 END) AS BIGINT)
        |FROM v1""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val root = ordersTableRoot(s, d)
        val candidates = Map(
          "price_cap" -> "o_totalprice < 300000",
          "status_known" -> "o_orderstatus IN ('O', 'F', 'P')")
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        val base = constraintViolations(readVersion(s, root, 0), candidates)
        val delta = auditDelta(s, root, 1, "o_orderkey", payload, candidates,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        val maintained = candidates.keys.toSeq.sorted
          .map(n => (n, base(n) + delta(n)))
        require(maintained.toMap ==
          constraintViolations(readVersion(s, root, 1), candidates),
          "maintained audit must equal the full-rescan audit of v1")
        maintained.toDF("constraint_name", "n_violations")
    },

    // SQL-TEXT MERGE INTO — the canonical three-residue change set
    // expressed as ONE MERGE statement (conditional UPDATE, DELETE,
    // conditional INSERT; plus a fourth source class matching NO
    // clause, which MERGE must leave untouched), lowered by
    // MergeIntoSql onto the same commit protocol as the programmatic
    // API. Same oracle as every other "whole change set applied"
    // entry: however the table got there, v1 must read the same.
    sql("snapshot_merge_into", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_msql").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        def cls(residue: Int, kind: String, shift: Long) =
          orders.filter(col("o_orderkey") % 160 === residue)
            .select((col("o_orderkey") + lit(shift)).as("o_orderkey"),
              lit(kind).as("kind"), lit(1000.0).as("amount"),
              col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        val src = cls(1, "bump", 0L).unionAll(cls(0, "drop", 0L))
          .unionAll(cls(2, "add", 10000000L)).unionAll(cls(3, "noop", 20000000L))
        MergeIntoSql.commitMergeSql(s, root, 1, "o_orderkey", payload,
          """MERGE INTO tgt t USING src s ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.kind = 'bump'
            |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.amount
            |WHEN MATCHED AND s.kind = 'drop' THEN DELETE
            |WHEN NOT MATCHED AND s.kind = 'add'
            |  THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
            |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)""".stripMargin,
          src)
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // MERGE ON A COMPOSITE CONDITION — the ON clause as real CDC
    // pipelines write it: bucket-key equality PLUS a residual equality
    // (status). Residuals become match guards: the 'miss' class's key
    // EXISTS in the target but its status differs, so SQL routes it to
    // NOT MATCHED, where the guarded INSERT ignores it — the table
    // must end in exactly the canonical applied-changes state, proving
    // residual-failed rows touched nothing.
    sql("snapshot_merge_into_composite", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_mcomp").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        def cls(residue: Int, kind: String, shift: Long, status: org.apache.spark.sql.Column) =
          orders.filter(col("o_orderkey") % 160 === residue)
            .select((col("o_orderkey") + lit(shift)).as("o_orderkey"),
              lit(kind).as("kind"), lit(1000.0).as("amount"),
              col("o_custkey"), status.as("o_orderstatus"), col("o_totalprice"))
        val src = cls(1, "bump", 0L, col("o_orderstatus"))
          .unionAll(cls(0, "drop", 0L, col("o_orderstatus")))
          .unionAll(cls(2, "add", 10000000L, col("o_orderstatus")))
          .unionAll(cls(3, "miss", 0L, lit("X"))) // residual fails: key present, status differs
        MergeIntoSql.commitMergeSql(s, root, 1, "o_orderkey", payload,
          """MERGE INTO tgt t USING src s
            |ON t.o_orderkey = s.o_orderkey AND t.o_orderstatus = s.o_orderstatus
            |WHEN MATCHED AND s.kind = 'bump'
            |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.amount
            |WHEN MATCHED AND s.kind = 'drop' THEN DELETE
            |WHEN NOT MATCHED AND s.kind = 'add'
            |  THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
            |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)""".stripMargin,
          src)
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // MERGE ON A RESIDUAL RANGE — the classic CDC freshness guard:
    // `AND s.ts > t.o_totalprice` is a NON-equality ON conjunct, so it
    // compiles as a residual match guard exactly like residual
    // equalities. The 'stale' class ships ts BELOW the target's value
    // → per SQL the pair is NOT matched, its guarded INSERT stays off,
    // and the row touches nothing; fresh rows carry ts above it and
    // act. Same applied-changes oracle: the guard's routing must leave
    // the table byte-identical to the canonical three-class outcome.
    sql("snapshot_merge_into_residual_range", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_mrange").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        def cls(residue: Int, kind: String, shift: Long, tsOff: Double) =
          orders.filter(col("o_orderkey") % 160 === residue)
            .select((col("o_orderkey") + lit(shift)).as("o_orderkey"),
              lit(kind).as("kind"), lit(1000.0).as("amount"),
              (col("o_totalprice") + lit(tsOff)).as("ts"),
              col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        val src = cls(1, "bump", 0L, 1.0)
          .unionAll(cls(0, "drop", 0L, 1.0))
          .unionAll(cls(2, "add", 10000000L, 1.0))
          .unionAll(cls(3, "stale", 0L, -1.0)) // ts below target → not matched
        MergeIntoSql.commitMergeSql(s, root, 1, "o_orderkey", payload,
          """MERGE INTO tgt t USING src s
            |ON t.o_orderkey = s.o_orderkey AND s.ts > t.o_totalprice
            |WHEN MATCHED AND s.kind = 'bump'
            |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.amount
            |WHEN MATCHED AND s.kind = 'drop' THEN DELETE
            |WHEN NOT MATCHED AND s.kind = 'add'
            |  THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
            |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)""".stripMargin,
          src)
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // MERGE USING (SUBQUERY) — the source as a parenthesized query
    // over a caller-bound view instead of a pre-built DataFrame: the
    // subquery body runs as ordinary Spark SQL and IS the change set.
    // Same canonical three-class statement, same applied-changes
    // oracle — however the source is spelled, v1 must read the same.
    sql("snapshot_merge_into_subquery", appliedChangesSql) {
      (s0, d) =>
        val s = s0.newSession()
        val root = tempDir("graft_snap_msub").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        orders.createOrReplaceTempView("msub_orders")
        MergeIntoSql.commitMergeSql(s, root, 1, "o_orderkey", payload,
          """MERGE INTO tgt t USING (
            |  SELECT o_orderkey, 'bump' AS kind, 1000.0 AS amount,
            |         o_custkey, o_orderstatus, o_totalprice
            |  FROM msub_orders WHERE o_orderkey % 160 = 1
            |  UNION ALL
            |  SELECT o_orderkey, 'drop', 0.0, o_custkey, o_orderstatus, o_totalprice
            |  FROM msub_orders WHERE o_orderkey % 160 = 0
            |  UNION ALL
            |  SELECT o_orderkey + 10000000, 'add', 0.0,
            |         o_custkey, o_orderstatus, o_totalprice
            |  FROM msub_orders WHERE o_orderkey % 160 = 2
            |) s ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.kind = 'bump'
            |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.amount
            |WHEN MATCHED AND s.kind = 'drop' THEN DELETE
            |WHEN NOT MATCHED AND s.kind = 'add'
            |  THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
            |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice)""".stripMargin)
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // SQL DML PIPELINE — the same canonical change set driven entirely
    // by SQL statements: UPDATE (copy-on-write U commit), DELETE (a
    // DELETION-VECTOR commit — O(|deleted keys|), self-asserted: v2
    // writes ONLY a tombstone dir, no data bucket), INSERT INTO ...
    // SELECT (I commit; the query body is ordinary Spark SQL). Three
    // statements, three versions, and v3 must read identically to
    // every other route to this state.
    sql("snapshot_sql_dml", appliedChangesSql) {
      (s0, d) =>
        val s = s0.newSession()
        val root = tempDir("graft_snap_dml").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        require(SqlDml.updateSql(s, root, 1, "o_orderkey", payload,
          "UPDATE tgt SET o_totalprice = o_totalprice + 1000 WHERE o_orderkey % 160 = 1"))
        require(SqlDml.deleteSql(s, root, 2, "o_orderkey",
          "DELETE FROM tgt WHERE o_orderkey % 160 = 0"))
        val dirs = new java.io.File(root).listFiles().map(_.getName)
          .filter(n => n.startsWith("v2") && !n.startsWith("_"))
        require(dirs.nonEmpty && dirs.forall(_.startsWith("v2dv")),
          s"DELETE must commit merge-on-read tombstones only, wrote ${dirs.toSeq}")
        orders.createOrReplaceTempView("src_orders")
        require(SqlDml.insertSql(s, root, 3, "o_orderkey", payload,
          """INSERT INTO tgt
            |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice
            |FROM src_orders WHERE o_orderkey % 160 = 2""".stripMargin))
        readVersion(s, root, 3)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // UPDATE ... FROM (JOIN-UPDATE) — assignments referencing a joined
    // source relation, the other statement every CDC pipeline writes.
    // The WHERE's bucket-key equality keeps the hit scan a
    // bucket-pruned preImages read joined under the source (cost ∝
    // source, never a target scan) — self-asserted here: the update
    // touches ONE bucket (residue 1 mod 160 ≡ bucket 1) and v1's
    // manifest must reuse every other bucket's v0 file. Oracle: the
    // update-only half of the canonical change set.
    sql("snapshot_sql_update_from",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(CASE WHEN o_orderkey % 160 = 1
        |      THEN o_totalprice + 1000 ELSE o_totalprice END AS DECIMAL(18,2)) AS DOUBLE)
        |  AS o_totalprice
        |FROM orders""".stripMargin) {
      (s, d) =>
        val root = tempDir("graft_snap_updf").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        val src = orders.filter(col("o_orderkey") % 160 === 1)
          .select(col("o_orderkey").as("k"), lit(1000.0).as("amount"),
            lit("bump").as("kind"))
        require(SqlDml.updateFromSql(s, root, 1, "o_orderkey", payload,
          """UPDATE tgt t SET o_totalprice = t.o_totalprice + s.amount
            |FROM src s WHERE t.o_orderkey = s.k AND s.kind = 'bump'""".stripMargin,
          src))
        val (m0, m1) = (readManifest(root, 0), readManifest(root, 1))
        require(m1.count { case (b, dir) => m0(b) == dir } == Buckets - 1,
          "join-update must rewrite ONLY the touched bucket and reuse the rest")
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // MAINTAINED REFERENTIAL (FK) AUDIT — the violation count as a
    // per-commit FOLD, never a re-run of the anti join: a parent-side
    // DV-delete contributes +(child rows referencing the deleted keys)
    // via one broadcast-semi lookup; a child-side U/D/I change set
    // contributes (entering-dangling − leaving-dangling) via two
    // bucket-pruned preImages reads. Both deltas are change-set-sized.
    // The fn asserts fold ≡ the full anti-join rescan of the final
    // state, and the gate proves both equal DuckDB's independent
    // NOT EXISTS count.
    sql("snapshot_fk_audit_maintained",
      """SELECT 'fk_customer' AS constraint_name,
        | CAST(COUNT(*) AS BIGINT) AS n_violations
        |FROM (
        | SELECT o_custkey FROM orders WHERE o_orderkey % 160 <> 0
        | UNION ALL
        | SELECT o_custkey + 90000000 FROM orders WHERE o_orderkey % 160 = 2
        |) ch(o_custkey)
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = ch.o_custkey AND c.c_custkey % 160 <> 1)""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val parentRoot = tempDir("graft_snap_fkp").toString
        val childRoot = tempDir("graft_snap_fkc").toString
        val customer = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(customer, parentRoot, "c_custkey")
        commitInitial(orders, childRoot, "o_orderkey")
        // v0 baseline: TPC-H data is referentially clean
        val viol0 = fkViolations(readVersion(s, childRoot, 0), "o_custkey",
          readVersion(s, parentRoot, 0), "c_custkey")
        // parent commit: DV-delete customers ≡1 mod 160 (child fixed at v0)
        val delKeys = customer.filter(col("c_custkey") % 160 === 1)
          .select("c_custkey")
        commitDeleteVector(s, parentRoot, 1, "c_custkey", delKeys)
        val dParent = fkDeltaParentDelete(readVersion(s, childRoot, 0),
          "o_custkey", delKeys, "c_custkey")
        // child commit: delete ≡0, insert shifted ≡2 rows with DANGLING
        // custkeys (+90M) — entering violations (parent now at v1)
        val changes = orders.filter(col("o_orderkey") % 160 === 0)
          .select(col("o_orderkey"), lit("D").as("op"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"))
          .unionAll(orders.filter(col("o_orderkey") % 160 === 2)
            .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
              lit("I").as("op"), (col("o_custkey") + lit(90000000L)).as("o_custkey"),
              col("o_orderstatus"), col("o_totalprice")))
        commitMerge(s, childRoot, 1, "o_orderkey", payload, changes)
        val dChild = fkDeltaChild(s, childRoot, 1, "o_orderkey", "o_custkey",
          changes, parentRoot, 1, "c_custkey")
        val maintained = viol0 + dParent + dChild
        val rescan = fkViolations(readVersion(s, childRoot, 1), "o_custkey",
          readVersion(s, parentRoot, 1), "c_custkey")
        require(maintained == rescan,
          s"maintained FK audit ($maintained) must equal the anti-join rescan ($rescan)")
        Seq(("fk_customer", maintained)).toDF("constraint_name", "n_violations")
    },

    // DESCRIBE HISTORY — the manifest-only audit trail: v0 full write
    // (one dir, 16 buckets), v1 copy-on-write merge (3 buckets
    // rewritten, 2 dirs referenced), v2 deletion-vector delete (ZERO
    // buckets rewritten, one tombstone dir). Values are storage-shape
    // facts fully determined by the commit protocol, so the oracle is
    // a literal table — and the entry proves the protocol writes
    // exactly what it claims, without scanning any data.
    sql("snapshot_history",
      """SELECT * FROM (VALUES
        | (0, 1, 16, 0),
        | (1, 2, 3, 0),
        | (2, 2, 0, 1)) AS h(version, n_dirs, n_rewritten, n_tombstone_dirs)""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val root = tempDir("graft_snap_hist").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        commitDeleteVector(s, root, 2, "o_orderkey",
          orders.filter(col("o_orderkey") % 160 === 3).select("o_orderkey"))
        history(root)
          .toDF("version", "n_dirs", "n_rewritten", "n_tombstone_dirs")
    },

    // TIME-TRAVEL SQL — `VERSION AS OF` table factors in one ordinary
    // SQL statement: the cross-version DIFF JOIN (which keys changed
    // between v0 and v1, and by how much) without materializing either
    // side. Each factor rebinds to readVersion in a child session;
    // Spark's own parser validates the syntax. The price delta is one
    // IEEE subtraction of identically-derived doubles — bit-identical
    // cross-engine.
    sql("snapshot_sql_time_travel",
      """SELECT o_orderkey,
        | CAST(CAST((o_totalprice + 1000) - o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |  AS price_delta
        |FROM orders WHERE o_orderkey % 160 = 1""".stripMargin) {
      (s, d) =>
        val root = ordersTableRoot(s, d)
        SqlDml.timeTravelSql(s,
          """SELECT t1.o_orderkey AS o_orderkey,
            | CAST(CAST(t1.o_totalprice - t0.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
            |  AS price_delta
            |FROM tgt VERSION AS OF 1 AS t1
            |JOIN tgt VERSION AS OF 0 AS t0 ON t1.o_orderkey = t0.o_orderkey
            |WHERE t1.o_totalprice <> t0.o_totalprice""".stripMargin,
          Map("tgt" -> root))
    },

    // TIME-TRAVEL OPERAND ERGONOMICS — the same cross-version diff
    // join spelled with the round-14 operand forms: a RELATIVE version
    // ('-1' = one before the latest, resolved from the manifest
    // listing at bind time) and a parenthesized timestamp EXPRESSION
    // folded at bind time (far future → the newest version). Same
    // oracle as the absolute-operand entry: however the operands are
    // spelled, the diff must read identically.
    sql("snapshot_sql_time_travel_relative",
      """SELECT o_orderkey,
        | CAST(CAST((o_totalprice + 1000) - o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |  AS price_delta
        |FROM orders WHERE o_orderkey % 160 = 1""".stripMargin) {
      (s, d) =>
        // OWN root, not the shared ordersTableRoot: '-1' resolves
        // against the LATEST version, and sibling entries (compaction)
        // mint further versions on the shared root — the relative
        // operand needs a root whose version count it controls
        val root = tempDir("graft_snap_ttrel").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        SqlDml.timeTravelSql(s,
          """SELECT t1.o_orderkey AS o_orderkey,
            | CAST(CAST(t1.o_totalprice - t0.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
            |  AS price_delta
            |FROM tgt TIMESTAMP AS OF (timestamp'2200-01-01 00:00:00' - INTERVAL 1 DAY) AS t1
            |JOIN tgt VERSION AS OF '-1' AS t0 ON t1.o_orderkey = t0.o_orderkey
            |WHERE t1.o_totalprice <> t0.o_totalprice""".stripMargin,
          Map("tgt" -> root))
    },

    // TIME-TRAVEL SUBQUERY OPERANDS — `VERSION AS OF (SELECT … FROM
    // __history)`: the version picked by a scalar subquery over the
    // table's OWN DESCRIBE HISTORY (manifest-only, no data scan),
    // folded at bind time. Here: t1 = the latest version that REWROTE
    // buckets (the copy-on-write merge), t0 = the first version —
    // "diff against the last compaction-shaped commit" without the
    // caller ever naming a number. Correlated forms stay fenced. Same
    // oracle as the absolute-operand entry: however the operands are
    // spelled, the diff must read identically.
    sql("snapshot_sql_time_travel_subquery",
      """SELECT o_orderkey,
        | CAST(CAST((o_totalprice + 1000) - o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |  AS price_delta
        |FROM orders WHERE o_orderkey % 160 = 1""".stripMargin) {
      (s, d) =>
        // OWN root (the relative entry's lesson): the subquery resolves
        // against this table's full history, which must not grow under
        // sibling entries' commits
        val root = tempDir("graft_snap_ttsub").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        SqlDml.timeTravelSql(s,
          """SELECT t1.o_orderkey AS o_orderkey,
            | CAST(CAST(t1.o_totalprice - t0.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
            |  AS price_delta
            |FROM tgt VERSION AS OF (SELECT MAX(version) FROM __history
            |  WHERE n_rewritten > 0 AND version > 0) AS t1
            |JOIN tgt VERSION AS OF (SELECT MIN(version) FROM __history) AS t0
            | ON t1.o_orderkey = t0.o_orderkey
            |WHERE t1.o_totalprice <> t0.o_totalprice""".stripMargin,
          Map("tgt" -> root))
    },

    // MERGE AS FULL SYNC — make the table equal the source: matched
    // rows take the source state, unmatched source rows INSERT * (by
    // name), and NOT MATCHED BY SOURCE THEN DELETE drops everything
    // the source no longer carries. The NMBS clause is the one MERGE
    // family that inherently scans the whole target (anti-joined on
    // the key); the matched half still resolves via bucket-pruned
    // pre-images.
    sql("snapshot_merge_into_sync",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice * 2 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin) {
      (s, d) =>
        val root = tempDir("graft_snap_msync").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        val src = orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionAll(orders.filter(col("o_orderkey") % 3 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
        MergeIntoSql.commitMergeSql(s, root, 1, "o_orderkey", payload,
          """MERGE INTO tgt t USING src s ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
          src)
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // SHALLOW BRANCH + COPY-ON-WRITE ISOLATION: branch the table after
    // the update-only commit (v0 of the branch REFERENCES the source's
    // v1 dirs — zero bytes copied, self-asserted), apply the
    // delete+insert batch ON THE BRANCH ONLY, and gate the branch
    // head — which must equal applying the WHOLE change set to the
    // original (the same appliedChangesSql oracle as the ingest
    // entries: a branch is just another path to the same logical
    // state). The fn additionally asserts the divergence bookkeeping:
    // the branch's own commit owns exactly its 2 touched buckets and
    // keeps referencing the source for the other 14, and the SOURCE
    // head still has every row (the branch's deletes cannot leak
    // back).
    sql("snapshot_branch_cow", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_bsrc").toString
        val branch = tempDir("graft_snap_bdst").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload, updateBatch(orders))
        branchAt(root, 1, branch)
        require(readManifest(branch, 0).values.forall(_.startsWith(root)),
          "branch v0 must reference the source's directories (zero-copy)")
        commitMerge(s, branch, 1, "o_orderkey", payload, deleteInsertBatch(orders))
        val bm1 = readManifest(branch, 1)
        require(bm1.values.count(_.startsWith(root)) == Buckets - 2 &&
            bm1.values.count(_.startsWith(branch)) == 2,
          s"branch v1 must own its 2 touched buckets and share the rest: $bm1")
        require(readVersion(s, root, 1).count() == orders.count(),
          "branch deletes leaked into the source head")
        readVersion(s, branch, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // BRANCH MERGE-BACK — the full fork → diverge → land workflow:
    // fork after the update commit, apply the delete+insert batch on
    // the branch, then land the branch by DIFFING its own history
    // (tableDiff of branch v0 → head yields exactly commitMerge's
    // I/U/D change-set shape — the CDC reader feeds the writer) and
    // committing that change set onto the source as its v2. The
    // source's head must equal applying the whole change set directly
    // (same appliedChangesSql oracle — landing through a branch is
    // equivalent to never having branched), while the source's v1
    // remains time-travelable to the pre-merge state (self-asserted).
    sql("snapshot_branch_merge_back", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_mbsrc").toString
        val branch = tempDir("graft_snap_mbdst").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload, updateBatch(orders))
        branchAt(root, 1, branch)
        commitMerge(s, branch, 1, "o_orderkey", payload, deleteInsertBatch(orders))
        val landing = tableDiff(
          readVersion(s, branch, 0), readVersion(s, branch, 1),
          "o_orderkey", payload)
        commitMerge(s, root, 2, "o_orderkey", payload, landing)
        require(readVersion(s, root, 1).count() == orders.count(),
          "pre-merge v1 must still time-travel to the un-deleted state")
        readVersion(s, root, 2)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // POINT LOOKUP with structural bucket pruning ([[readKeys]]
    // scaladoc): four keys exercising every merge fate — 0 deleted
    // (returns nothing), 1 updated (+1000 price), 5 untouched,
    // 10000002 inserted — resolve to 4 of 16 buckets; the fn asserts
    // the pruned manifest really is 4 buckets (the 1/Buckets scan
    // contract) and the gated value is the lookup against the
    // whole-change-set oracle restricted to the same key set.
    sql("snapshot_point_lookup",
      s"""SELECT * FROM ($appliedChangesSql)
         |WHERE o_orderkey IN (0, 1, 5, 10000002)""".stripMargin) {
      (s, d) =>
        val root = ordersTableRoot(s, d)
        val keys = Seq(0L, 1L, 5L, 10000002L)
        val wanted = keys.map(k => (k % Buckets + Buckets) % Buckets).toSet
        require(readManifest(root, 1).count { case (b, _) => wanted(b.toLong) } == 4,
          "lookup must resolve to exactly the 4 derivable buckets")
        readKeys(s, root, 1, "o_orderkey", keys)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // STREAMING LAKEHOUSE INGESTION — a change feed maintained INTO
    // the versioned table via foreachBatch, version = batchId + 1: a
    // retried batch re-commits the SAME version directory and manifest
    // (idempotent, the foreachBatch exactly-once recipe — the version
    // id plays Delta's txn appId+version role). Two real micro-batches
    // (updates, then deletes+inserts); the gated value is the final
    // snapshot, which must equal applying the whole change set at
    // once — batch boundaries cannot leak into table state.
    sql("snapshot_stream_ingest", appliedChangesSql) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, replay, BatchSink}
        import s.implicits._
        val root = tempDir("graft_snap_stream").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        val batches = Seq(updateBatch(orders), deleteInsertBatch(orders)).map { b =>
          Seq(boundedReplayCollect("snapshot_stream_ingest",
            b.as[(Long, String, Long, String, Double)]).toSeq)
        }
        replay(s, BatchSink("append",
            (ss, changes, batchId) =>
              commitMerge(ss, root, batchId.toInt + 1, "o_orderkey", payload, changes),
            readVersion(_, root, 2)), batches) {
          (_, in) => in.head.toDF("o_orderkey", "op", "o_custkey", "o_orderstatus",
            "o_totalprice")
        }.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // TIME TRAVEL BY TIMESTAMP — `FOR TIMESTAMP AS OF` between the
    // two commits must resolve to v0 and read back the ORIGINAL
    // snapshot (same oracle as version-numbered travel): version =
    // latest manifest with commit time ≤ the timestamp. The fn pins
    // the manifests' mtimes deterministically, asserts the resolution
    // at both horizons (mid-gap → v0; now → v1), and gates the v0
    // read.
    sql("snapshot_read_asof",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders""".stripMargin) {
      (s, d) =>
        // PRIVATE root: other entries extend the shared two-version
        // table (compaction adds v2), which would make the mid-gap
        // resolution below depend on entry execution order
        val root = tempDir("graft_snap_asof").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        def m(v: Int) = new java.io.File(manifestPath(root, v))
        val now = System.currentTimeMillis()
        require(m(0).setLastModified(now - 10000) && m(1).setLastModified(now - 2000),
          "fixture mtimes must pin")
        require(versionAsOf(root, now - 5000) == 0, "mid-gap must resolve to v0")
        require(versionAsOf(root, now) == 1, "current must resolve to the latest")
        val tooEarly = scala.util.Try(versionAsOf(root, now - 60000)).isSuccess
        require(!tooEarly, "a timestamp before the first commit must fail")
        readAsOf(s, root, now - 5000)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // CHANGE DATA FEED between the two snapshots: the row-level diff
    // recovered FROM THE TABLE ITSELF (not from the change set) must
    // equal the change set that produced v1 — I for the shifted
    // inserts, U for the price bumps, D for the dropped keys.
    sql("snapshot_table_diff",
      """SELECT o_orderkey, 'D' AS op,
        | CAST(NULL AS BIGINT) AS o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus,
        | CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 160 = 0
        |UNION ALL
        |SELECT o_orderkey, 'U', o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice + 1000 AS DECIMAL(18,2)) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 160 = 1
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'I', o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 160 = 2""".stripMargin) {
      (s, d) =>
        val root = ordersTableRoot(s, d)
        val v0 = readVersion(s, root, 0)
        val v1 = readVersion(s, root, 1)
        tableDiff(v0, v1, "o_orderkey", payload)
          .select(col("o_orderkey"), col("op"), col("o_custkey"),
            col("o_orderstatus"), snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // STREAMING GOLD TABLE — the medallion endgame: a continuously
    // AGGREGATED summary (per-customer order count + exact e2 revenue)
    // maintained INTO the versioned table. The streaming aggregate
    // runs in UPDATE mode (each micro-batch emits the full new value
    // of every changed group); foreachBatch lands batch 0 as the
    // initial commit and every later batch as a MERGE of 'U' rows —
    // an unmatched U inserts (upsert), a matched U overwrites with
    // the group's new total, so the table converges to the exact
    // aggregate regardless of how the stream was batched. The gated
    // value is the FINAL SNAPSHOT against the plain batch aggregate:
    // batch boundaries and the upsert path must be invisible.
    sql("snapshot_stream_gold",
      """SELECT o_custkey, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_e2
        |FROM orders GROUP BY o_custkey""".stripMargin) {
      (s, d) =>
        import graft.streaming.IncrementalQueries.{boundedReplayCollect, halves, replay,
          BatchSink}
        import s.implicits._
        val root = tempDir("graft_snap_gold").toString
        val goldPayload = Seq("n_orders", "total_e2")
        val rows = boundedReplayCollect("snapshot_stream_gold",
          Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).as[(Long, Long, Double)])
          .sortBy(_._1).toSeq
        def commit(ss: SparkSession, batch: DataFrame, batchId: Long): Unit =
          if (batchId == 0L) commitInitial(batch, root, "o_custkey")
          else commitMerge(ss, root, batchId.toInt, "o_custkey", goldPayload,
            batch.withColumn("op", lit("U"))
              .select(("o_custkey" +: "op" +: goldPayload).map(col): _*))
        replay(s, BatchSink("update", commit, readVersion(_, root, 1)), halves(rows)) {
          (_, in) => in.head.toDF("o_orderkey", "o_custkey", "o_totalprice")
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders"),
              sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("total_e2"))
        }.select(col("o_custkey"), col("n_orders"), col("total_e2"))
    },

    // COMPACTION (OPTIMIZE) — rewrite a version's live file set into a
    // fresh directory with ONE file per bucket, committed as a new
    // manifest version whose CONTENT is bit-identical to the input
    // version (the claim the hash gate checks, against the same
    // "change set applied" oracle as the v1 reads). This is the
    // small-files half of the lakehouse story: a copy-on-write table
    // accretes a directory per MERGE commit; compaction collapses the
    // union-of-versions read back to one directory while every prior
    // version stays readable (old dirs are never touched — time travel
    // survives OPTIMIZE). repartition(Buckets, b) puts each bucket in
    // exactly one task, so each bucket writes exactly one file; the fn
    // self-asserts the file count shrank to Buckets and that the
    // manifest resolves every bucket to the compact dir.
    sql("snapshot_compact", appliedChangesSql) {
      (s, d) =>
        val root = ordersTableRoot(s, d)
        def parquetFiles(dirs: Set[String]): Int = dirs.toSeq.map { dir =>
          Option(new java.io.File(dir).listFiles()).toSeq.flatten
            .filter(_.isDirectory)
            .flatMap(b => Option(b.listFiles()).toSeq.flatten)
            .count(_.getName.endsWith(".parquet"))
        }.sum
        val before = parquetFiles(readManifest(root, 1).values.toSet)
        compactVersion(s, root, v = 1, newV = 2)
        val m2 = readManifest(root, 2)
        require(m2.values.toSet.size == 1 && m2.values.head.contains("compact_v1"),
          s"every bucket must resolve to the one compact dir: $m2")
        val after = parquetFiles(m2.values.toSet)
        require(after == Buckets && after <= before,
          s"compaction must leave one file per bucket ($Buckets), got $after (before: $before)")
        readVersion(s, root, 2)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // DELETION VECTORS — merge-on-read row deletes: the DV commit
    // writes only per-bucket key tombstones (v1's bucket map must BE
    // v0's — zero data rewritten), reads anti-join the tombstones,
    // point lookups prune tombstones by bucket, and a later MERGE
    // rewriting buckets 0-7 MATERIALIZES and drops their coverage —
    // so the keys it re-inserts there survive where a coverage-blind
    // read would wrongly re-delete them (buckets 8-15 keep their
    // tombstones). Gated value = the v2 read; the fn self-asserts
    // each structural claim.
    sql("snapshot_deletion_vectors",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 45 <> 0 OR o_orderkey % 16 < 8""".stripMargin) {
      (s, d) =>
        val root = dvTableRoot(s, d)
        // (1) the DV commit rewrote nothing: v1 buckets == v0 buckets
        require(readManifest(root, 1) == readManifest(root, 0),
          "a deletion-vector commit must not rewrite any bucket")
        require(readDv(root, 0).isEmpty && readDv(root, 1).nonEmpty,
          "v1 must carry tombstones; v0 none")
        // (2) time travel below the DV commit reads every row
        val nAll = Tables.orders(s, d).count()
        require(readVersion(s, root, 0).count() == nAll,
          "v0 must still read the full table")
        // (3) a tombstoned key: pruned point lookup empty at v1, live at v0
        val k = Tables.orders(s, d).filter(col("o_orderkey") % 45 === 0)
          .agg(min(col("o_orderkey"))).head().getLong(0)
        require(readKeys(s, root, 1, "o_orderkey", Seq(k)).isEmpty,
          s"tombstoned key $k must be dead at v1")
        require(readKeys(s, root, 0, "o_orderkey", Seq(k)).count() == 1,
          s"key $k must be live at v0")
        // (4) the v2 merge dropped coverage exactly on its rewritten buckets
        val (dv1, dv2) = (readDv(root, 1), readDv(root, 2))
        require(dv2.nonEmpty && dv2.keySet.subsetOf(dv1.keySet) && dv2 != dv1,
          s"v2 must keep tombstones only on unrewritten buckets (v1=${dv1.keySet}, v2=${dv2.keySet})")
        readVersion(s, root, 2)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // DV-AWARE COMPACTION POLICY — three delete commits aimed at ONE
    // bucket (residues 0/16/32 mod 160 all hash to bucket 0) under a
    // two-vector stacking budget: the first two STACK (merge-on-read
    // tombstone dirs, no bucket rewritten), the third trips the budget
    // and REWRITES — materializing both pending vectors and dropping
    // the bucket's read-side join tax. The fn asserts the mode
    // sequence AND the storage shape per version (v1/v2 wrote only dv
    // dirs; v3 wrote a data dir and bucket 0's dv coverage is gone);
    // the gate proves the policy never changed the answer.
    sql("snapshot_dv_compaction_policy",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey % 160 NOT IN (0, 16, 32)""".stripMargin) {
      (s, d) =>
        val root = tempDir("graft_snap_dvpol").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        def del(v: Int, residue: Int): String =
          commitDeleteAuto(s, root, v, "o_orderkey", payload,
            orders.filter(col("o_orderkey") % 160 === residue).select("o_orderkey"),
            maxStackedDvs = 2, maxTombstoneRatio = 0.5)
        val modes = Seq(del(1, 0), del(2, 16), del(3, 32))
        require(modes == Seq("stack", "stack", "rewrite"),
          s"policy must stack twice then rewrite, chose $modes")
        def dirsOf(v: Int) = new java.io.File(root).listFiles().map(_.getName)
          .filter(n => n.startsWith(s"v$v") && !n.startsWith("_")).toSeq
        require(dirsOf(1).forall(_.startsWith("v1dv")) &&
          dirsOf(2).forall(_.startsWith("v2dv")),
          "stacked commits must write tombstone dirs only")
        require(dirsOf(3).nonEmpty && !dirsOf(3).exists(_.startsWith("v3dv")),
          s"the rewrite commit must write a data dir, wrote ${dirsOf(3)}")
        require(!readDv(root, 3).contains(0),
          "the rewrite must materialize and drop bucket 0's tombstones")
        readVersion(s, root, 3)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // GDPR ERASURE — the right-to-be-forgotten pipeline on a
    // copy-on-write table, where logical deletes are NOT erasure (old
    // version files still hold the rows): MERGE-delete the subject's
    // rows, COMPACT so the live file set stops referencing any
    // pre-delete directory, then VACUUM past the delete — after which
    // the fn proves PHYSICAL erasure: the only data directory left on
    // disk is the compacted one, and a raw scan of it contains zero
    // erased keys. The gated value is the post-erasure read vs the
    // subject-filtered oracle.
    sql("snapshot_gdpr_erasure",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_custkey % 97 <> 0""".stripMargin) {
      (s, d) =>
        val root = tempDir("graft_snap_gdpr").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        val subjects = orders.filter(col("o_custkey") % 97 === 0)
          .select(col("o_orderkey"), lit("D").as("op"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"))
        commitMerge(s, root, 1, "o_orderkey", payload, subjects)
        compactVersion(s, root, v = 1, newV = 2)
        vacuum(root, retainFrom = 2)
        val dataDirs = new java.io.File(root).listFiles().filter(_.isDirectory)
        require(dataDirs.length == 1 && dataDirs.head.getName.startsWith("compact_v1"),
          s"physical erasure requires exactly the compact dir to survive: " +
            dataDirs.map(_.getName).toSeq.toString)
        val residual = s.read.parquet(dataDirs.head.getPath)
          .filter(col("o_custkey") % 97 === 0).count()
        require(residual == 0,
          s"$residual erased rows still physically present after vacuum")
        readVersion(s, root, 2)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // SCHEMA EVOLUTION — the add-column half of the lakehouse
    // contract: a MERGE commit whose change set carries a NEW payload
    // column (a priority flag derived from the price) widens the
    // table; untouched buckets keep their old files and read NULL for
    // the column, touched buckets back-fill their unmerged rows with
    // typed NULLs, and time travel to v0 still shows the
    // pre-evolution schema (self-asserted). Oracle: the flag as a
    // CASE over the residue that got the evolved update, NULL
    // elsewhere.
    sql("snapshot_schema_evolution",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        | CASE WHEN o_orderkey % 160 = 1
        |      THEN CASE WHEN o_totalprice >= 100000 THEN 'H' ELSE 'L' END
        | END AS o_prio
        |FROM orders""".stripMargin) {
      (s, d) =>
        val root = tempDir("graft_snap_evo").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        val evolved = orders.filter(col("o_orderkey") % 160 === 1)
          .select(col("o_orderkey"), lit("U").as("op"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            when(col("o_totalprice") >= 100000, "H").otherwise("L").as("o_prio"))
        commitMerge(s, root, 1, "o_orderkey", payload :+ "o_prio", evolved)
        require(!readVersion(s, root, 0).columns.contains("o_prio"),
          "time travel below the evolution must show the pre-evolution schema")
        readVersion(s, root, 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"), col("o_prio"))
    },

    // VACUUM (retention) — the deletion half of the lakehouse story,
    // end to end on a private table: v0 initial, v1 merge, v2 compact
    // (after which v0/v1's directories are unreferenced by the latest
    // manifest), then vacuum with the horizon at v2. The gated value
    // is the POST-vacuum read of v2, against the same applied-changes
    // oracle as compaction — retention must be invisible to retained
    // versions. The fn self-asserts the destructive half: the old
    // data dirs are actually gone from disk, expired manifests
    // deleted, and time travel below the horizon now FAILS (the one
    // thing vacuum is allowed to break).
    sql("snapshot_vacuum", appliedChangesSql) {
      (s, d) =>
        val root = tempDir("graft_snap_vac").toString
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload,
          updateBatch(orders).unionAll(deleteInsertBatch(orders)))
        compactVersion(s, root, v = 1, newV = 2)
        val deleted = vacuum(root, retainFrom = 2)
        require(deleted.map(_.takeWhile(_ != '-')).sorted == Seq("v0", "v1"),
          s"vacuum must reclaim exactly the unreferenced version dirs, got $deleted")
        require(!new java.io.File(manifestPath(root, 0)).exists(), "expired manifest survived")
        val timeTravelBelowHorizon = scala.util.Try(readVersion(s, root, 0)).isSuccess
        require(!timeTravelBelowHorizon, "reading below the retention horizon must fail")
        readVersion(s, root, 2)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // INGEST → COMPACT → INGEST under ONE running stream: maintenance
    // interleaved with live commits is the real lakehouse steady
    // state, and the manifest chain must survive it — batch 0 lands
    // as v1, compaction (a separate "writer") takes v2 while the
    // stream is still up, batch 1 lands as v3 ON TOP of the compacted
    // manifest (its untouched buckets must resolve into compact_v1,
    // exercised by the fn's self-assert). The gated value is the
    // final snapshot vs the same applied-changes oracle: batch
    // boundaries AND interleaved maintenance must both be invisible.
    sql("snapshot_ingest_compact_ingest", appliedChangesSql) {
      (s, d) =>
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        val ss = s.newSession()
        implicit val sq: org.apache.spark.sql.SQLContext = ss.sqlContext
        val root = tempDir("graft_snap_ici").toString
        val orders = Tables.orders(ss, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        import ss.implicits._
        val enc = org.apache.spark.sql.Encoders
          .product[(Long, String, Long, String, Double)]
        val ms = MemoryStream[(Long, String, Long, String, Double)]
        val query = ms.toDS()
          .toDF("o_orderkey", "op", "o_custkey", "o_orderstatus", "o_totalprice")
          .writeStream
          .foreachBatch { (changes: DataFrame, batchId: Long) =>
            // version schedule leaves v2 to the compactor: 0→v1, 1→v3
            commitMerge(ss, root, batchId.toInt * 2 + 1, "o_orderkey", payload, changes)
          }
          .start()
        try {
          import graft.streaming.IncrementalQueries.boundedReplayCollect
          ms.addData(boundedReplayCollect("snapshot_ingest_compact_ingest",
            updateBatch(orders).as[(Long, String, Long, String, Double)](enc)))
          query.processAllAvailable()
          compactVersion(ss, root, v = 1, newV = 2)
          ms.addData(boundedReplayCollect("snapshot_ingest_compact_ingest",
            deleteInsertBatch(orders).as[(Long, String, Long, String, Double)](enc)))
          query.processAllAvailable()
        } finally query.stop()
        val m3 = readManifest(root, 3)
        require(m3.values.exists(_.contains("compact_v1")),
          s"post-compaction commit must chain onto the compacted manifest: $m3")
        require(m3.values.exists(_.contains("/v3-")),
          s"second ingest batch must have produced v3 buckets: $m3")
        readVersion(ss, root, 3)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            snap2(col("o_totalprice")).as("o_totalprice"))
    },

    // END-TO-END LAKEHOUSE CDC LOOP: branch → maintained view over the
    // branch → merge-back → source-side refresh ≡ rebuild. CDC lands on
    // a zero-copy BRANCH of v1 while the source stays pinned; the
    // maintained view refreshes over the branch head; tableDiff (whose
    // output IS commitMerge's change-set shape) merges the branch back
    // as source v2 — and the branch-maintained view's final state must
    // equal a from-scratch rebuild over the merged source BIT-FOR-BIT
    // (the require), so after merge-back the view needs NO rebuild.
    // The gated value is the rebuilt view against DuckDB running the
    // same aggregate over the whole-change-set final state.
    sql("snapshot_cdc_loop",
      s"""WITH o AS ($appliedChangesSql)
         |SELECT n_name, COUNT(*) AS n_orders,
         | CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_e2
         |FROM nation, customer, o
         |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
         |GROUP BY n_name""".stripMargin) {
      (s, d) =>
        import graft.streaming.SqlCompiler
        val root = tempDir("graft_snap_cdcloop").toString
        val branch = tempDir("graft_snap_cdcloop_b").toString + "/b"
        val orders = Tables.orders(s, d).select(("o_orderkey" +: payload).map(col): _*)
        commitInitial(orders, root, "o_orderkey")
        commitMerge(s, root, 1, "o_orderkey", payload, updateBatch(orders))
        branchAt(root, 1, branch) // pins v1 against source vacuums
        // CDC lands on the branch; the source is untouched
        commitMerge(s, branch, 1, "o_orderkey", payload, deleteInsertBatch(orders))
        val viewSql =
          """SELECT n_name, COUNT(*) AS n_orders,
            | SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev_e2
            |FROM nation, customer, orders
            |WHERE c_nationkey = n_nationkey AND o_custkey = c_custkey
            |GROUP BY n_name""".stripMargin
        def viewOver(ver: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
          SqlCompiler.compileOver(s, d, viewSql,
            overrides = Map("orders" -> ((_, _) => ver.drop("b")))).run(s, d)
        // the branch-maintained view's refresh at the branch head
        val refresh = viewOver(readVersion(s, branch, 1))
        // merge back: the branch diff is the landing change set
        val landing = tableDiff(readVersion(s, branch, 0),
          readVersion(s, branch, 1), "o_orderkey", payload)
        commitMerge(s, root, 2, "o_orderkey", payload, landing)
        val rebuild = viewOver(readVersion(s, root, 2))
        // DISTRIBUTED equality (the idiom a 100 TB view needs): two
        // bag-difference emptiness probes, each a limit-1 anti check —
        // neither side is ever collected to the driver
        require(refresh.exceptAll(rebuild).isEmpty &&
            rebuild.exceptAll(refresh).isEmpty,
          "branch-maintained view refresh diverged from the source rebuild " +
            "after merge-back — the CDC loop leaked state")
        dropBranch(root, branch) // release the pin: the loop is closed
        rebuild
    })

  /** Rewrite version `v`'s resolved file set into `root/compact_v<v>`
    * (one file per bucket) and commit it as version `newV`. Content
    * equality with version `v` is the operation's contract; prior
    * version directories are untouched, so time travel to any older
    * version still works after compaction. */
  def compactVersion(spark: SparkSession, root: String, v: Int, newV: Int): Unit = {
    val dir = newAttemptDir(root, s"compact_v$v")
    readVersion(spark, root, v)
      .repartition(Buckets, col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(dir)
    // identity digest, not content: any two compactions of version v
    // are the same logical operation (content-identical by contract),
    // so replay detection needs no second full-table scan
    publishAttempt(root, newV, (0 until Buckets).map(_ -> dir).toMap, dir,
      s"compact-of-v$v")
  }
}
