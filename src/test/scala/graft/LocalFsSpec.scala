package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WordCountOutput

/** graft's `file:` filesystem ([[NioRawLocalFileSystem]] and its
  * checksummed and FileContext forms) answers as Hadoop's stock one
  * does, without starting a process; and the landings' no-checksum
  * switch stays with the landing.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    s
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), new Configuration()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  /** A 0644 file, a 0600 file, a sticky 1777 directory, a link to the
    * first file, a dangling link and a missing path.
    */
  private lazy val fixture: Map[String, File] = {
    val d = TestSpark.tempDir("localfs")
    def file(name: String, m: String): JPath = {
      val f = Files.write(d.resolve(name), "x".getBytes)
      Files.setAttribute(f, "unix:mode", Int.box(oct(m)))
      f
    }
    val f644 = file("f644", "644")
    file("f600", "600")
    Files.setAttribute(Files.createDirectory(d.resolve("sticky")), "unix:mode", Int.box(oct("1777")))
    Files.createSymbolicLink(d.resolve("link"), f644)
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("no_target"))
    Seq("f644", "f600", "sticky", "link", "dangling", "missing")
      .map(n => n -> d.resolve(n).toFile).toMap
  }

  /** What `fs` answers for `p`: permission, owner, group, whether a
    * link, and its target; or the exception type it raises.
    */
  private def answer(fs: FileSystem, p: Path, link: Boolean): Either[String, Seq[Any]] =
    try {
      val st = if (link) fs.getFileLinkStatus(p) else fs.getFileStatus(p)
      val target = if (st.isSymlink) Seq(st.getSymlink.toString, fs.getLinkTarget(p).toString) else Nil
      Right(Seq(st.getPermission.toShort, st.getOwner, st.getGroup, st.isSymlink,
        st.isDirectory, st.getLen) ++ target)
    } catch { case e: Exception => Left(e.getClass.getName) }

  test("statuses, link statuses and listings equal the stock class's") {
    for ((name, f) <- fixture; p <- Seq(new Path(f.getPath), new Path(f.toURI)); link <- Seq(false, true)) {
      val want = answer(stock, p, link)
      assert(answer(nio, p, link) == want, s"$name ($p, link=$link)")
      if (name == "link" && !p.toString.startsWith("file:") && link)
        assert(want.exists(_(3) == true), "the stock class should read the link")
    }
    assert(answer(stock, new Path(fixture("f644").getPath), false).exists(_.head == oct("644")))
    assert(answer(stock, new Path(fixture("sticky").getPath), false).exists(_.head == oct("1777")))
    def listing(fs: FileSystem) = fs.listStatus(new Path(fixture("f644").getParent))
      .map(s => (s.getPath.getName, s.getPermission.toShort, s.getOwner, s.getGroup, s.isDirectory))
      .sortBy(_._1).toSeq
    assert(listing(nio) == listing(stock))
    val one = new Path(fixture("f600").getPath)
    assert(nio.listStatus(one).map(_.getPermission.toShort).toSeq == Seq(oct("600").toShort))
    for (fs <- Seq(stock, nio))
      assert(intercept[java.io.IOException](fs.listStatus(new Path(fixture("missing").getPath)))
        .isInstanceOf[java.io.FileNotFoundException])
  }

  test("setPermission round trip: sticky bit set, a directory's setgid bit kept, as chmod does") {
    val d = TestSpark.tempDir("localfs_chmod")
    val modes = for (fs <- Seq(stock, nio)) yield {
      val name = fs.getClass.getSimpleName
      val f = Files.write(d.resolve(s"$name.f"), "x".getBytes)
      val sub = Files.createDirectory(d.resolve(s"$name.d"))
      Files.setAttribute(sub, "unix:mode", Int.box(oct("2755")))
      fs.setPermission(new Path(f.toString), new FsPermission(oct("640").toShort))
      fs.setPermission(new Path(sub.toString), new FsPermission(oct("1750").toShort))
      assert(fs.getFileStatus(new Path(sub.toString)).getPermission.toShort == oct("1750"))
      (mode(f), mode(sub))
    }
    assert(modes(1) == modes(0))
    assert(modes(1) == ((oct("640"), oct("3750"))))
    for (fs <- Seq(stock, nio))
      intercept[java.io.IOException](
        fs.setPermission(new Path(fixture("missing").getPath), FsPermission.getFileDefault))
  }

  test("a registered session's Hadoop conf lists with graft's classes, as listFiles does") {
    val s = fresh()
    val root = TestSpark.tempDir("localfs_tree")
    Files.createDirectories(root.resolve("a/b"))
    Seq("x", "a/y", "a/b/z").foreach(n => Files.write(root.resolve(n), n.getBytes))
    val p = new Path(root.toUri)
    val fs = p.getFileSystem(HadoopFiles.conf(s))
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    fs.create(new Path(p, "a/w"), true).close() // with a .crc sidecar
    assert(Files.exists(root.resolve("a/.w.crc")))
    val stockFs = init(new LocalFileSystem)
    val want = Iterator.unfold(stockFs.listFiles(p, true))(it =>
      if (it.hasNext) Some((it.next(), it)) else None).map(f => (f.getPath, f.getLen)).toSet
    assert(HadoopFiles.files(fs, p).map(f => (f.getPath, f.getLen)).toSet == want)
    assert(want.size == 4)
    intercept[java.io.FileNotFoundException](HadoopFiles.files(fs, new Path(p, "nothing")))
    val optedOut = fresh()
    Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl", "fs.file.impl.disable.cache")
      .foreach(optedOut.conf.unset)
    assert(!p.getFileSystem(HadoopFiles.conf(optedOut)).isInstanceOf[NioLocalFileSystem])
  }

  test("FileContext create then rename(OVERWRITE) through graft's AbstractFileSystem") {
    val fc = FileContext.getFileContext(URI.create("file:///"), HadoopFiles.conf(fresh()))
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs], fc.getDefaultFileSystem.getClass.getName)
    val d = TestSpark.tempDir("localfs_fc")
    val (a, b) = (new Path(d.resolve("a").toUri), new Path(d.resolve("b").toUri))
    def put(p: Path, text: String): Unit = {
      val os = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try os.write(text.getBytes) finally os.close()
    }
    put(a, "new")
    put(b, "old")
    fc.rename(a, b, Options.Rename.OVERWRITE)
    val is = fc.open(b) // verified against the renamed .crc
    val read = try new String(is.readAllBytes()) finally is.close()
    assert(read == "new")
    assert(!fc.util.exists(a))
    assert(Files.exists(d.resolve(".b.crc")) && !Files.exists(d.resolve(".a.crc")))
    put(a, "again")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fc.rename(a, b, Options.Rename.NONE))
  }

  test("a registered session starts no ls, chmod or readlink process for wordcount, its Output step and st_tumbling_hour") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = TestSpark.tempDir("localfs_sinks")
    val s = fresh()
    try {
      SparkEntry.queries("wordcount")(s, dir).write.mode("overwrite").parquet(s"$out/wordcount")
      WordCountOutput.write(SparkEntry.queries("wordcount")(s, dir), 9, s"$out/output")
      SparkEntry.queries("st_tumbling_hour")(s, dir).write.mode("overwrite").parquet(s"$out/st")
    } finally {
      rec.stop()
      Tables.invalidateSession(s)
    }
    val jfr = out.resolve("process_start.jfr")
    rec.dump(jfr)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    val forks = commands.filter(c => Set("ls", "chmod", "readlink")(c.split(" ").head))
    assert(forks.isEmpty, s"${forks.size} processes, e.g. ${forks.take(3).mkString("; ")}")
    assert(new File(s"$out/output/_SUCCESS").isFile && new File(s"$out/st/_SUCCESS").isFile)
  }

  test("a landing's no-checksum switch does not reach later writers") {
    val landing = fresh()
    try SparkEntry.queries("src_binaryfile_meta")(landing, dir).collect()
    finally Tables.invalidateSession(landing)
    for ((s, name) <- Seq(spark.newSession() -> "unregistered", fresh() -> "registered")) {
      val out = TestSpark.tempDir("localfs_crc")
      s.range(10).write.mode("overwrite").parquet(out.toString)
      val crcs = out.toFile.list().filter(_.endsWith(".crc"))
      assert(crcs.exists(_.contains("part-")), s"a fresh $name session wrote ${out.toFile.list().mkString(", ")}")
    }
  }
}
