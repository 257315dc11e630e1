package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.DataFrame
import graft.sources.{LocalFs, Storage}
import graft.streaming.StreamingOps

/** `sources.LocalFs` sets permissions with a syscall instead of a forked
  * `chmod`, to the same modes as Hadoop's own local FileSystem, and is the
  * `file:` FileSystem of every session the engine prepares. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** The permission bits of a path's `st_mode`, sticky and set-id included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Relative path -> mode of everything below `root`. */
  private def modes(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val all = Files.walk(base)
    try all.iterator.asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p.toString)).toMap
    finally all.close()
  }

  /** An uncached FileSystem over `file:///` with an optional umask. */
  private def local(fs: FileSystem, umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def as[T](user: String)(body: => T): T = {
    val ugi = UserGroupInformation.createRemoteUser(user)
    try ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = body })
    finally FileSystem.closeAllForUGI(ugi)
  }

  test("files and directories get the modes Hadoop's default local FileSystem gives them") {
    Seq(None, Some("077")).foreach { umask =>
      val written = Seq(new LocalFileSystem(), new LocalFs()).map { blank =>
        val fs = local(blank, umask)
        val dir = tmpDir()
        assert(fs.mkdirs(new Path(s"$dir/a/b")))
        fs.create(new Path(s"$dir/a/b/part-0.parquet")).close()
        fs.create(new Path(s"$dir/a/_SUCCESS"), new FsPermission("640"),
          true, 4096, 1.toShort, 1L << 20, null).close()
        assert(fs.mkdirs(new Path(s"$dir/c"), new FsPermission("750")))
        modes(dir)
      }
      assert(written.head.size == 7, written.head)
      assert(written.head == written.last, umask)
      val files = written.last.collect { case (p, m) if p.endsWith(".parquet") => m }
      assert(files == Seq(if (umask.isEmpty) octal("644") else octal("600")), umask)
    }
  }

  test("directories under a setgid parent keep setgid, as with Hadoop's forked chmod") {
    val written = Seq(new LocalFileSystem(), new LocalFs()).map { blank =>
      val fs = local(blank, None)
      val dir = tmpDir()
      Files.setAttribute(Paths.get(dir), "unix:mode", octal("2775"))
      assert(fs.mkdirs(new Path(s"$dir/a/b")))
      fs.create(new Path(s"$dir/a/b/part-0.parquet")).close()
      assert(fs.mkdirs(new Path(s"$dir/c"), new FsPermission("750")))
      modes(dir)
    }
    assert(written.head == written.last)
    assert(written.last("a") == octal("2755") && written.last("a/b") == octal("2755") &&
      written.last("c") == octal("2750") && written.last("a/b/part-0.parquet") == octal("644"),
      written.last)
  }

  test("modes NIO cannot express (sticky, setuid) go to Hadoop's own chmod") {
    val fs = local(new LocalFs(), None)
    val dir = tmpDir()
    val d = new Path(s"$dir/shared")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission("1777"))
    assert(mode(d.toUri.getPath) == octal("1777"))
    val f = new Path(s"$dir/tool")
    fs.create(f).close()
    // FsPermission itself keeps only the sticky bit; a subclass can carry more
    val setuid = new FsPermission("755") {
      override def toShort: Short = octal("4755").toShort
    }
    fs.setPermission(f, setuid)
    assert(mode(f.toUri.getPath) == octal("4755"))
    fs.setPermission(f, new FsPermission("640"))
    assert(mode(f.toUri.getPath) == octal("640"))
  }

  test("the file: FileSystem is LocalFs in TestSpark and after prepare; " +
      "prepare warns when a default instance was cached first") {
    val file = URI.create("file:///")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(file, conf).getClass == classOf[LocalFs])
    // The FileSystem cache is keyed by user: a new user has no file:
    // instance yet. Sessions are made outside, since making one may already
    // resolve a path.
    val (prepared, cached) = (spark.newSession(), spark.newSession())
    try {
      conf.unset(LocalFs.ImplKey)
      as("graft-localfs-prepared") {
        GraftSession.prepare(prepared)
        assert(FileSystem.get(file, conf).getClass == classOf[LocalFs])
      }
    } finally conf.set(LocalFs.ImplKey, classOf[LocalFs].getName)
    val err = new ByteArrayOutputStream()
    val stderr = System.err
    val default = as("graft-localfs-cached") {
      val fs = FileSystem.get(file, new Configuration())
      assert(!fs.isInstanceOf[LocalFs])
      System.setErr(new PrintStream(err, true))
      try GraftSession.prepare(cached) finally System.setErr(stderr)
      assert(FileSystem.get(file, conf) eq fs)
      fs.getClass.getName
    }
    val warning = err.toString
    assert(warning.contains("[graft] GraftSession.prepare") && warning.contains(default) &&
      warning.contains(s"spark.hadoop.${LocalFs.ImplKey}"), warning)
  }

  private def events(ids: Seq[String], revs: Range): DataFrame =
    (for (a <- ids; r <- revs; p <- 0 to 1)
      yield (a.getBytes, r, p, 1000L * r + p, s"$a-$r-$p".getBytes))
      .toDF("id", "rev", "pos", "ts", "data")

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  test("a partitioned appendEvents and an ingestTo drain read back the same rows") {
    val dir = tmpDir()
    val rows = events((1 to 20).map(a => s"agg-$a"), 1 to 3)
    Storage.appendEvents(rows, s"$dir/appended", nBuckets = 8)
    rows.write.parquet(s"$dir/in")
    val q = StreamingOps.ingestTo(spark.readStream.schema(rows.schema).parquet(s"$dir/in"),
      s"$dir/ingested", s"$dir/ckpt", nBuckets = 8).start()
    try q.processAllAvailable() finally q.stop()
    val appended = rowsOf(Storage.readEvents(spark, s"$dir/appended"))
    assert(appended.size == rows.count())
    assert(rowsOf(Storage.readEvents(spark, s"$dir/ingested")) == appended)
    assert(rowsOf(Storage.readEvents(spark, s"$dir/appended").drop("bucket")) == rowsOf(rows))
    // written through LocalFs at the default umask: 644 files, 755 directories
    Seq("appended", "ingested").foreach { t =>
      val ms = modes(s"$dir/$t")
      assert(ms.keys.count(_.endsWith(".parquet")) >= 8, ms)
      ms.foreach { case (p, m) =>
        val want = if (new java.io.File(s"$dir/$t/$p").isDirectory) "755" else "644"
        assert(m == octal(want), s"$t/$p")
      }
    }
  }
}
