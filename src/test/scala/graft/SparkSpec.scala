package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.${graft.sources.LocalFs.ImplKey}",
        classOf[graft.sources.LocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one per-JVM root of every spec's fixture directories, removed by
    * a shutdown hook that runs after Spark's own (lower priority), as
    * `SparkEntry.scratchDir` does for the query closures. */
  lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 20)
    root
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory(TestSpark.tmpRoot, "graft-test").toString
  /** Recursive local-dir copy — specs use it to snapshot/restore sink
    * directories when simulating a compaction's crash windows. */
  def copyDir(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
}
