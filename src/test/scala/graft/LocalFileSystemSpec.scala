package graft

import java.net.URI
import java.nio.file.{Files, NoSuchFileException, Path => JPath}
import java.util.EnumSet

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import graft.sources.{GraftLocalFileSystem, GraftLocalFs,
  InProcessRawLocalFileSystem}

/** The in-process `file:` file systems against Hadoop's stock
  * `LocalFileSystem`/`LocalFs`, and their wiring into [[GraftSession]]. */
class LocalFileSystemSpec extends SparkSpec {
  import LocalFileSystemSpec._

  /** A Configuration on the stock or the graft `file:` classes, with
    * Hadoop's own umask (`fs.permissions.umask-mode`, which Hadoop applies
    * to creates and mkdirs instead of the process umask) set to `umask`. */
  private def conf(umask: String, graft: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.file.impl",
      if (graft) classOf[GraftLocalFileSystem].getName
      else classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl",
      if (graft) classOf[GraftLocalFs].getName
      else classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  /** Runs one fixed script of creates, mkdirs, permission changes, status
    * lookups, renames and reads under `root` through the `file:` classes of
    * `c`, and returns what each step observed, with `root` blanked out. */
  private def observe(c: Configuration, root: JPath): Seq[(String, String)] = {
    val fs = FileSystem.newInstance(new URI("file:///"), c)
    val fc = FileContext.getFileContext(new URI("file:///"), c)
    val seen = ArrayBuffer.empty[(String, String)]
    def record(label: String)(v: => Any): Unit = {
      val s = try String.valueOf(v) catch {
        case e: Exception => s"${e.getClass.getName}: ${e.getMessage}"
      }
      val r = root.toString
      seen += label.replace(r, "<root>") -> s.replace(r, "<root>")
    }
    def q(rel: String) = new Path(root.toUri.resolve(rel))
    def mode(rel: String): String =
      try f"${Files.getAttribute(root.resolve(rel), "unix:mode").asInstanceOf[Int] & 0xfff}%o"
      catch { case _: NoSuchFileException => "absent" }
    def status(st: FileStatus): String =
      s"dir=${st.isDirectory} file=${st.isFile} link=${st.isSymlink} " +
      s"len=${if (st.isFile) st.getLen else -1} perm=${st.getPermission} " +
      s"owner=${st.getOwner} group=${st.getGroup} " +
      s"target=${if (st.isSymlink) st.getSymlink else "-"} path=${st.getPath}"
    val data = Array.tabulate[Byte](1500)(i => (i % 61).toByte)
    try {
      // FileSystem: create (parents made on the way), mkdirs, setPermission
      val out = fs.create(q("fs/a/f"))
      out.write(data)
      out.close()
      Seq("fs", "fs/a", "fs/a/f", "fs/a/.f.crc").foreach(r => record(s"create $r")(mode(r)))
      record("create crc bytes")(
        java.util.Arrays.toString(Files.readAllBytes(root.resolve("fs/a/.f.crc"))))
      record("mkdirs")(fs.mkdirs(q("fs/d/e")))
      Seq("fs/d", "fs/d/e").foreach(r => record(s"mkdirs $r")(mode(r)))
      fs.setPermission(q("fs/a/f"), new FsPermission(Integer.parseInt("640", 8).toShort))
      fs.setPermission(q("fs/d"), new FsPermission(Integer.parseInt("700", 8).toShort))
      Seq("fs/a/f", "fs/a/.f.crc", "fs/d").foreach(r => record(s"setPermission $r")(mode(r)))
      record("setPermission missing")(
        fs.setPermission(q("fs/missing"), new FsPermission(Integer.parseInt("644", 8).toShort)))
      // the sticky bit is beyond nio's 9 bits: the stock path sets it
      val (sticky, _) = processStarts(fs.setPermission(q("fs/d/e"),
        new FsPermission(Integer.parseInt("1755", 8).toShort)))
      record("sticky")(mode("fs/d/e"))
      record("sticky chmod processes")(sticky.map(program).count(_ == "chmod"))
      // GNU chmod keeps a directory's setgid under a 4-digit mode
      Files.createDirectory(root.resolve("fs/sg"))
      Files.setAttribute(root.resolve("fs/sg"), "unix:mode", Integer.parseInt("2755", 8))
      fs.setPermission(q("fs/sg"), new FsPermission(Integer.parseInt("750", 8).toShort))
      record("setgid dir")(mode("fs/sg"))

      // status lookups: file, dir, symlink, dangling symlink, missing path,
      // each qualified (file:/...) and bare (/...)
      Files.createSymbolicLink(root.resolve("fs/link"), root.resolve("fs/a/f"))
      Files.createSymbolicLink(root.resolve("fs/dangling"), root.resolve("fs/nowhere"))
      for (rel <- Seq("fs/a/f", "fs/a", "fs/link", "fs/dangling", "fs/missing");
           p <- Seq(q(rel), new Path(root.resolve(rel).toString))) {
        record(s"fs.getFileStatus $p")(status(fs.getFileStatus(p)))
        record(s"fs.getFileLinkStatus $p")(status(fs.getFileLinkStatus(p)))
        record(s"fc.getFileStatus $p")(status(fc.getFileStatus(p)))
        record(s"fc.getFileLinkStatus $p")(status(fc.getFileLinkStatus(p)))
      }

      // FileContext: create, mkdir, setPermission, rename with OVERWRITE
      def fcWrite(rel: String, bytes: Array[Byte]): Unit = {
        val o = fc.create(q(rel), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        o.write(bytes)
        o.close()
      }
      // the checksummed read both classes share. Stock open(path) skips
      // ChecksumFs and reads the raw file; GraftLocalFs checks it — the one
      // intended difference, held by the next test
      def fcRead(rel: String): String = {
        val in = fc.open(q(rel), 4096)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      fcWrite("fc/x/f", data)
      Seq("fc", "fc/x", "fc/x/f", "fc/x/.f.crc").foreach(r => record(s"fc.create $r")(mode(r)))
      fc.mkdir(q("fc/m"), FsPermission.getDirDefault, true)
      record("fc.mkdir")(mode("fc/m"))
      fc.setPermission(q("fc/x/f"), new FsPermission(Integer.parseInt("600", 8).toShort))
      record("fc.setPermission")(mode("fc/x/f"))
      fcWrite("fc/r/src", "new".getBytes("UTF-8"))
      fcWrite("fc/r/dst", "old".getBytes("UTF-8"))
      fc.rename(q("fc/r/src"), q("fc/r/dst"), Options.Rename.OVERWRITE)
      record("rename listing")(
        Files.list(root.resolve("fc/r")).iterator.asScala.map(_.getFileName).toSeq.sorted)
      record("rename content")(fcRead("fc/r/dst"))
      record("rename mode")(mode("fc/r/dst"))
      record("rename missing source")(
        fc.rename(q("fc/r/src"), q("fc/r/dst"), Options.Rename.OVERWRITE))

      // a corrupted data byte fails the checksummed read. Read through
      // FileContext only: a LocalFileSystem read of a corrupt file moves
      // it into a bad_files dir at the top of its device.
      fcWrite("fc/c", data)
      val bytes = Files.readAllBytes(root.resolve("fc/c"))
      bytes(700) = (bytes(700) ^ 1).toByte
      Files.write(root.resolve("fc/c"), bytes)
      record("corrupt read")(fcRead("fc/c").length)
    } finally fs.close()
    seen.toSeq
  }

  test("in-process local file systems match stock LocalFileSystem/LocalFs (umask 022, 077)") {
    for (umask <- Seq("022", "077")) {
      val stock = observe(conf(umask, graft = false), JPath.of(tmpDir("fs_stock")))
      val graft = observe(conf(umask, graft = true), JPath.of(tmpDir("fs_graft")))
      val differ = stock.zip(graft).filter { case (s, g) => s != g }
      assert(differ.isEmpty && stock.size == graft.size,
        s"umask $umask:\n" + differ.map { case ((l, s), (_, g)) =>
          s"$l\n  stock: $s\n  graft: $g" }.mkString("\n"))
      // the script reaches what it claims to compare
      val seen = graft.toMap
      val fileMode = if (umask == "022") "644" else "600"
      assert(seen("create fs/a/f") == fileMode && seen("fc.create fc/x/f") == fileMode)
      assert(seen("create fs/a/.f.crc") == fileMode &&
        seen("fc.create fc/x/.f.crc") == fileMode, "no .crc sidecar")
      assert(seen("setPermission fs/a/f") == "640" && seen("fc.setPermission") == "600")
      assert(seen("sticky") == "1755" && seen("setgid dir") == "2750")
      assert(NativeIO.isAvailable || seen("sticky chmod processes") == "1",
        "the sticky bit did not take the stock chmod")
      assert(seen("rename content") == "new")
      assert(seen("corrupt read").startsWith("org.apache.hadoop.fs.ChecksumException"),
        seen("corrupt read"))
      assert(seen("fc.getFileLinkStatus <root>/fs/dangling").contains("link=true"),
        "the bare dangling symlink was not read as a link")
    }
  }

  test("FileContext open(path) verifies .crc: the one intended difference from stock LocalFs") {
    // Spark's checkpoint manager reads offsets, commits and state-store
    // files through FileContext.open(path); a corrupted byte must fail
    // that read, not come back as data
    def corruptRead(graft: Boolean): String = {
      val root = JPath.of(tmpDir(if (graft) "crc_graft" else "crc_stock"))
      val fc = FileContext.getFileContext(new URI("file:///"),
        conf("022", graft))
      val p = new Path(root.toUri.resolve("f"))
      val data = Array.tabulate[Byte](1500)(i => (i % 61).toByte)
      val o = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      o.write(data)
      o.close()
      val bytes = Files.readAllBytes(root.resolve("f"))
      bytes(700) = (bytes(700) ^ 1).toByte
      Files.write(root.resolve("f"), bytes)
      try {
        val in = fc.open(p)
        try s"read ${in.readAllBytes().length}" finally in.close()
      } catch { case e: Exception => e.getClass.getName }
    }
    assert(corruptRead(graft = false) == "read 1500",
      "stock LocalFs open(path) no longer reads the raw file")
    assert(corruptRead(graft = true) == "org.apache.hadoop.fs.ChecksumException")
  }

  test("GraftSession wires the in-process file systems for file: paths") {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dir = tmpDir("fs_wiring")
    val fs = new Path(s"file:$dir").getFileSystem(hadoopConf)
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[InProcessRawLocalFileSystem])
    val afs = FileContext.getFileContext(new URI(s"file:$dir"), hadoopConf)
      .getDefaultFileSystem
    assert(afs.isInstanceOf[GraftLocalFs], afs.getClass)
  }
}

object LocalFileSystemSpec {

  /** Runs `body` under an in-process JFR recording of `jdk.ProcessStart`
    * events and returns the command line of every process the JVM started
    * meanwhile, with the result. */
  def processStarts[T](body: => T): (Seq[String], T) = {
    val recording = new jdk.jfr.Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val result = try body finally recording.stop()
      val dump = Files.createTempFile("process-starts", ".jfr")
      try {
        recording.dump(dump)
        val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
          .map(_.getString("command")).toSeq
        (commands, result)
      } finally Files.deleteIfExists(dump)
    } finally recording.close()
  }

  /** The program a recorded command line started, without its directory. */
  def program(command: String): String =
    command.trim.split("\\s+").head.split('/').last
}
