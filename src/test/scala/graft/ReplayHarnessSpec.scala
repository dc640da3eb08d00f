package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.{LocalCheckpointFileManager, LocalCheckpointFs}
import org.scalatest.funsuite.AnyFunSuite

/** The stream-gated entries replay through ONE harness,
  * `IncrementalQueries.replay`: it runs each replay in a child session
  * with the fork-free checkpoint manager installed, and no other code
  * in `src/main` feeds a memory stream by hand. The same scans keep
  * three other things to one place each: join trees to the engine
  * and its compilers, temp directories to `TempDirs.tempDir`, and SQL
  * text lexing to `SqlText`; and they keep session knobs out of the
  * maintained-view compiler. */
class ReplayHarnessSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfTiny}

  /** Stream-gated entries whose frame comes from the replay's child
    * session, from every file that hosts one: the operator replays
    * that never reach `DeltaEngine` (Relational's, TimeSeries',
    * MergeOps', Curation's, SnapshotLog's and the SQL ASOF lowering)
    * and two `DeltaEngine` replays, one into a memory sink and one
    * into a `foreachBatch` sink. */
  private val childFrameEntries = Seq(
    "events_tumbling_stream", "events_stream_dedup", "events_stream_static_join",
    "events_stream_stream_left", "events_pattern_tws",
    "events_kmv_stream", "orders_temporal_dim_stream", "curation_funnel_stream",
    "snapshot_stream_gold", "incremental_sql_asof_stream",
    "incremental_q10_stream", "incremental_q10_snapshot_sink")

  test("every stream-gated replay commits its checkpoints through LocalCheckpointFileManager") {
    val want = Some(classOf[LocalCheckpointFileManager].getName)
    val wrong = childFrameEntries.flatMap { name =>
      val df = SparkTestSession.sweepFrame(name, sfTiny, SparkEntry.queries(name))
      assert(df.sparkSession ne spark, s"$name: frame is not from a child session")
      val got = df.sparkSession.conf.getOption(LocalCheckpointFs.ManagerConf)
      if (got == want) None else Some(s"$name -> ${got.getOrElse("<unset>")}")
    }
    assert(wrong.isEmpty, s"replays on another checkpoint manager: ${wrong.mkString(", ")}")
  }

  /** Where a hand-fed memory stream may still appear in `src/main`,
    * by token: the harness itself, `snapshot_ingest_compact_ingest`
    * (it compacts the table between its two batches) and, for
    * `processAllAvailable` only, `incremental_q10_filestream`'s
    * `incrementalQ10FileStream` (a file source, no memory stream). */
  private val allowed = Map(
    "MemoryStream[" -> Set("IncrementalQueries.replay",
      "SnapshotLog.snapshot_ingest_compact_ingest"),
    "processAllAvailable" -> Set("IncrementalQueries.replay",
      "SnapshotLog.snapshot_ingest_compact_ingest",
      "IncrementalQueries.incrementalQ10FileStream"))

  /** An object member (`def` at two-space indent) or a registry entry
    * (`sql("name"`): the unit a hit is attributed to. */
  private val unitHeader = """^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)|^\s*sql\("(\w+)"""".r

  private val root = Paths.get("src/main/scala")

  /** Every `src/main` source file, in path order. */
  private def mainFiles: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
  }

  test("no memory-stream replay is written by hand outside the harness") {
    val offenders = for {
      file <- mainFiles
      lines = Files.readAllLines(file).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      (token, units) <- allowed
      if line.contains(token)
      unit = enclosing(file, lines, i)
      if !units.contains(unit)
    } yield s"$token at ${root.relativize(file)}:${i + 1} (in $unit)"
    assert(offenders.isEmpty,
      "replay by hand; call IncrementalQueries.replay instead:\n" + offenders.mkString("\n"))
  }

  /** The files that may construct a join-tree node or stage: the
    * engine and the two compilers. Every maintained view takes its
    * tree from [[graft.streaming.SqlCompiler]]. */
  private val treeBuilders = Set("DeltaEngine.scala", "TreeCompiler.scala", "SqlCompiler.scala")
  private val treeConstruction = """\b(?:NodeSpec|Stage)\(""".r

  test("no join tree or temp directory is built by hand outside its one builder") {
    val offenders = for {
      file <- mainFiles
      name = file.getFileName.toString
      lines = Files.readAllLines(file).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if (!treeBuilders(name) && treeConstruction.findFirstIn(line).isDefined) ||
        (line.contains("createTempDirectory(") && enclosing(file, lines, i) != "TempDirs.tempDir")
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "build the tree through SqlCompiler, and make the temp directory with " +
        "TempDirs.tempDir (deleted at JVM exit):\n" + offenders.mkString("\n"))
  }

  /** A hand-written SQL scanning loop: a string-literal flag, a
    * block-comment end search or a paren-depth count over characters.
    * Spark's lexer, through `SqlText`, is the one place SQL text is cut
    * into literals, comments and parens. */
  private val sqlScan = """\binStr\b|indexOf\("\*/"|== '[()]'""".r

  test("no SQL text is scanned by hand outside SqlText") {
    val offenders = for {
      file <- mainFiles
      if file.getFileName.toString != "SqlText.scala"
      lines = Files.readAllLines(file).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if sqlScan.findFirstIn(line).isDefined
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "walk graft.SqlText.tokens instead of scanning quotes, comments and parens " +
        "by hand:\n" + offenders.mkString("\n"))
  }

  /** The deleted compiler confs' prefix, spelled in two parts so that a
    * repository search for it finds no source file. */
  private val compilerConfPrefix = "spark.graft." + "incremental"

  test("no session knob steers the maintained-view compiler") {
    val offenders = for {
      file <- mainFiles
      name = file.getFileName.toString
      lines = Files.readAllLines(file).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if line.contains(compilerConfPrefix) ||
        // a session conf read (`conf.get`, `conf.getOption`, …)
        (name == "SqlCompiler.scala" && line.contains("conf.get")) ||
        (Set("SqlCompiler.scala", "DeltaEngine.scala")(name) &&
          line.contains("IncrementalQueries"))
    } yield s"${root.relativize(file)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "pass the setting as an argument or stage data, and keep the compiler and engine " +
        "free of the registry:\n" + offenders.mkString("\n"))
  }

  test("tempDir's tree delete removes a nested directory tree") {
    val dir = TempDirs.tempDir("graft_tree_delete")
    val nested = Files.createDirectories(dir.resolve("a").resolve("b"))
    Files.writeString(nested.resolve("f.txt"), "x")
    Files.writeString(dir.resolve("g.txt"), "y")
    TempDirs.deleteTree(dir)
    assert(!Files.exists(dir))
    TempDirs.deleteTree(dir) // a missing tree is a no-op
  }

  private def enclosing(file: Path, lines: IndexedSeq[String], at: Int): String = {
    val obj = file.getFileName.toString.stripSuffix(".scala")
    (at to 0 by -1).iterator.map(lines(_)).collectFirst(Function.unlift { l =>
      unitHeader.findFirstMatchIn(l).map(m => Option(m.group(1)).getOrElse(m.group(2)))
    }).fold(s"$obj.<top>")(u => s"$obj.$u")
  }
}
