package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFs, NioRawLocalFileSystem}

/** graft.fs.NioLocalFs against Hadoop's LocalFs: the same operations on
  * twin temp dirs must leave the same files, bytes and modes and give the
  * same statuses and errors.
  */
class NioLocalFsSpec extends AnyFunSuite {

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def fc(nio: Boolean, umask: Option[String]): FileContext = {
    val c = conf(umask)
    if (nio) c.set("fs.AbstractFileSystem.file.impl",
      classOf[NioLocalFs].getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
  }

  private def withTwins(body: (JPath, JPath) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-niofs")
    try body(Files.createDirectory(root.resolve("local")),
      Files.createDirectory(root.resolve("nio")))
    finally scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  private def hpath(p: JPath): Path = new Path(p.toUri)

  /** relative path -> (mode, bytes) of every file and dir under `root` */
  private def tree(root: JPath): Map[String, (Int, Seq[Byte])] = {
    val it = Files.walk(root)
    try {
      it.iterator.asScala.toList.filter(_ != root).map { p =>
        val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
        val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq
          else Nil
        root.relativize(p).toString -> (mode, bytes)
      }.toMap
    } finally it.close()
  }

  /** a checkpoint-manager-shaped sequence: mkdir, create, atomic rename */
  private def writeSome(fc: FileContext, root: JPath): Unit = {
    val dir = new Path(hpath(root), "offsets")
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    val tmp = new Path(dir, ".0.tmp")
    val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.checksumParam(Options.ChecksumOpt.createDisabled()))
    out.write("v1\n{\"batchWatermarkMs\":0}\n".getBytes("UTF-8"))
    out.close()
    fc.rename(tmp, new Path(dir, "0"), Options.Rename.OVERWRITE)
    val out2 = fc.create(new Path(dir, "1"), EnumSet.of(CreateFlag.CREATE))
    out2.write(Array.fill[Byte](3000)(7))
    out2.close()
  }

  for (umask <- Seq(None, Some("077"))) {
    test(s"modes, bytes and .crc sidecars match LocalFs " +
      s"(umask ${umask.getOrElse("default")})") {
      withTwins { (a, b) =>
        writeSome(fc(nio = false, umask), a)
        writeSome(fc(nio = true, umask), b)
        val (ta, tb) = (tree(a), tree(b))
        assert(ta.keySet.exists(_.endsWith(".crc")), ta.keySet)
        assert(ta.keySet === tb.keySet)
        ta.foreach { case (k, v) => assert(tb(k) === v, k) }
        if (umask.contains("077"))
          assert(ta.values.forall(_._1 % 0x40 == 0), "077 leaves no g/o bits")
      }
    }
  }

  private def view(st: => FileStatus): Either[String, Any] =
    try {
      val v = st
      Right((v.getPath.toUri.getPath, v.isSymlink,
        if (v.isSymlink) v.getSymlink.toString else "", v.isDirectory,
        v.getLen, v.getPermission, v.getOwner, v.getGroup,
        v.getModificationTime))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches on a file, a dir, a symlink and a " +
    "missing path, through FileContext and on the FileSystem itself") {
    withTwins { (a, _) =>
      val file = Files.write(a.resolve("f"), "x".getBytes("UTF-8"))
      val dir = Files.createDirectory(a.resolve("d"))
      val link = Files.createSymbolicLink(a.resolve("l"), file)
      val rel = Files.createSymbolicLink(a.resolve("r"), JPath.of("f"))
      val dangling = Files.createSymbolicLink(a.resolve("x"), a.resolve("no"))
      val missing = a.resolve("missing")
      val all = Seq(file, dir, link, rel, dangling, missing)
      val raw = new RawLocalFileSystem
      val nioRaw = new NioRawLocalFileSystem
      Seq(raw, nioRaw).foreach(_.initialize(FsConstants.LOCAL_FS_URI, conf(None)))
      val (fa, fb) = (fc(nio = false, None), fc(nio = true, None))
      // FileContext hands the filesystem scheme-qualified paths; the
      // FileSystem API also sees bare ones
      for (p <- all; hp <- Seq(hpath(p), new Path(p.toString))) {
        assert(view(nioRaw.getFileLinkStatus(hp)) ===
          view(raw.getFileLinkStatus(hp)), hp)
        assert(view(fb.getFileLinkStatus(hp)) ===
          view(fa.getFileLinkStatus(hp)), hp)
      }
      val bare = (p: JPath) => nioRaw.getFileLinkStatus(new Path(p.toString))
      assert(bare(link).isSymlink && bare(link).getSymlink === hpath(file))
      assert(bare(rel).getSymlink === hpath(file), "relative target, qualified")
      assert(bare(dangling).isSymlink && bare(dangling).getLen === 0)
      assert(!bare(file).isSymlink && bare(dir).isDirectory)
      for (get <- Seq[Path => FileStatus](fa.getFileLinkStatus,
          fb.getFileLinkStatus, nioRaw.getFileLinkStatus))
        intercept[java.io.FileNotFoundException](get(hpath(missing)))
    }
  }

  test("rename onto an existing target: refused without OVERWRITE, " +
    "replaced with it, on both filesystems") {
    withTwins { (a, b) =>
      for ((ctx, root) <- Seq(fc(nio = false, None) -> a,
          fc(nio = true, None) -> b)) {
        def put(name: String, text: String): Path = {
          val p = new Path(hpath(root), name)
          val out = ctx.create(p, EnumSet.of(CreateFlag.CREATE))
          out.write(text.getBytes("UTF-8"))
          out.close()
          p
        }
        val (src, dst) = (put("src", "new"), put("dst", "old"))
        intercept[FileAlreadyExistsException](ctx.rename(src, dst))
        assert(new String(Files.readAllBytes(root.resolve("dst")),
          "UTF-8") === "old")
        ctx.rename(src, dst, Options.Rename.OVERWRITE)
        assert(new String(Files.readAllBytes(root.resolve("dst")),
          "UTF-8") === "new")
        assert(!Files.exists(root.resolve("src")))
      }
      assert(tree(a) === tree(b))
    }
  }
}
