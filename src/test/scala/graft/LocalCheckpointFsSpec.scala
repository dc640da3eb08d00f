package graft

import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.streaming.{DeltaEngine, LocalCheckpointFileManager, LocalCheckpointFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFs]] must be Hadoop's `LocalFs` minus the process
  * launches: same files, bytes, `.crc`s, permissions and link status;
  * and the engine installs its manager only where the caller chose none. */
class LocalCheckpointFsSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** A checkpoint-shaped sequence: nested mkdir, temp-file writes
    * renamed into place (one over an existing file), explicit file and
    * directory modes, and a symlink. */
  private def exercise(fc: FileContext, dir: java.nio.file.Path): Unit = {
    val root = new Path(dir.toUri)
    def write(p: Path, text: String, perm: FsPermission): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.perms(perm), Options.CreateOpts.createParent())
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    val state = new Path(root, "state/0/1")
    fc.mkdir(state, FsPermission.getDirDefault, true)
    write(new Path(state, ".1.delta.tmp"), "v1", FsPermission.getFileDefault)
    fc.rename(new Path(state, ".1.delta.tmp"), new Path(state, "1.delta"))
    write(new Path(state, ".1.delta.tmp2"), "v1-rewritten", FsPermission.getFileDefault)
    fc.rename(new Path(state, ".1.delta.tmp2"), new Path(state, "1.delta"),
      Options.Rename.OVERWRITE)
    write(new Path(root, "offsets/0"), "offset", new FsPermission("640"))
    fc.mkdir(new Path(root, "commits"), new FsPermission("700"), false)
    fc.setPermission(new Path(root, "offsets"), new FsPermission("750"))
    Files.createSymbolicLink(dir.resolve("latest"), dir.resolve("offsets/0"))
  }

  /** Every entry under `root`, relative: kind, bytes and POSIX mode. */
  private def snapshot(root: java.nio.file.Path): Map[String, (String, String)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val kind =
        if (Files.isSymbolicLink(p)) "link->" + Files.readSymbolicLink(p).getFileName
        else if (Files.isDirectory(p)) "dir"
        else new String(Files.readAllBytes(p), "ISO-8859-1")
      root.relativize(p).toString ->
        (kind, java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)))
    }.toMap

  test("the fork-free file system leaves what Hadoop's LocalFs leaves") {
    val stockFc = FileContext.getFileContext(new Configuration())
    val oursFc = FileContext.getFileContext(LocalCheckpointFs.conf(new Configuration()))
    assert(stockFc.getDefaultFileSystem.isInstanceOf[LocalFs])
    assert(oursFc.getDefaultFileSystem.isInstanceOf[LocalCheckpointFs])
    val stockRoot = Files.createTempDirectory("graft_fs_stock")
    val oursRoot = Files.createTempDirectory("graft_fs_ours")
    exercise(stockFc, stockRoot)
    exercise(oursFc, oursRoot)
    val want = snapshot(stockRoot)
    assert(want.keySet.exists(_.endsWith(".1.delta.crc")), "checksummed, as LocalFs is")
    assert(snapshot(oursRoot) == want)
    // link status: a link resolves as one, a plain file as its own status
    for (rel <- Seq("latest", "offsets/0")) {
      val s = stockFc.getFileLinkStatus(new Path(stockRoot.resolve(rel).toUri))
      val o = oursFc.getFileLinkStatus(new Path(oursRoot.resolve(rel).toUri))
      assert((o.isSymlink, o.isFile, o.getLen, o.getPermission) ==
        (s.isSymlink, s.isFile, s.getLen, s.getPermission), rel)
      if (s.isSymlink) assert(o.getSymlink.getName == s.getSymlink.getName)
    }
  }

  test("a checkpoint manager the caller set is left as set") {
    val session = spark.newSession()
    implicit val sq = session.sqlContext
    import session.implicits._
    val stock = classOf[FileContextBasedCheckpointFileManager].getName
    session.conf.set(LocalCheckpointFs.ManagerConf, stock)
    DeltaEngine.runStreamTree(
      DeltaEngine.chainStages(Seq(DeltaEngine.NodeSpec("P", "pk", "pk", isRoot = true))),
      Map("P" -> MemoryStream[DeltaEngine.Evt].toDS()))
    assert(session.conf.get(LocalCheckpointFs.ManagerConf) == stock)
    // and a session without a choice gets the engine's manager
    session.conf.unset(LocalCheckpointFs.ManagerConf)
    DeltaEngine.runStreamTree(
      DeltaEngine.chainStages(Seq(DeltaEngine.NodeSpec("P", "pk", "pk", isRoot = true))),
      Map("P" -> MemoryStream[DeltaEngine.Evt].toDS()))
    assert(session.conf.get(LocalCheckpointFs.ManagerConf) ==
      classOf[LocalCheckpointFileManager].getName)
  }

  test("the manager swaps the file system on a copy of the Hadoop conf only") {
    val conf = new Configuration()
    val before = conf.get("fs.AbstractFileSystem.file.impl")
    val dir = Paths.get(Files.createTempDirectory("graft_mgr").toString, "ckpt")
    val mgr = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
    mgr.createCheckpointDirectory()
    assert(Files.isDirectory(dir))
    assert(conf.get("fs.AbstractFileSystem.file.impl") == before)
  }
}
