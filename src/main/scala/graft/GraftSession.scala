package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.plans.GraftFunctions
import graft.sources.LocalFs

/** Session wiring for the engine.
  *
  * `GraftExtensions` is the standard SparkSessionExtensions entry point
  * (`.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`) for the functions and the
  * optimizer rule. `GraftSession.prepare` registers the same on an
  * already-built session (driver-owned sessions) and also installs
  * `sources.LocalFs` as the `file:` FileSystem, which the extensions do not:
  * a session wired by extensions alone gets `LocalFs` only when built with
  * `spark.hadoop.fs.file.impl=graft.sources.LocalFs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.cosineDescription)
    ext.injectFunction(graft.plans.IntersectionSize.description)
    ext.injectFunction(graft.plans.PolyFingerprint.description)
    ext.injectFunction(graft.plans.Fnv64.description)
    ext.injectFunction(graft.plans.BloomBuildAgg.description)
    ext.injectFunction(graft.plans.BloomMightContain.description)
    // derived-column pushdown: filters on ts_us (= floor(ts/1000)) gain
    // raw-nanos scan bounds — see plans.DerivedLongBounds
    ext.injectOptimizerRule(_ => graft.plans.DerivedLongBounds)
  }
}

object GraftSession {

  /** Settings a cluster deployment of this engine should run with. Local
    * test mains set master/shuffle-partitions explicitly; on a real
    * cluster these are the load-bearing knobs:
    *  - AQE on (runtime coalescing + skew-join splitting replaces manual
    *    salting for moderately skewed aggregates/event types),
    *  - partition sizes targeting ~128 MB parquet splits,
    *  - UTC + nanosAsLong for the event-log tables. */
  val clusterDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
  )

  /** Prepare an existing session (the `file:` FileSystem, runtime-settable
    * confs + functions + optimizer rules — driver-owned sessions can't pass
    * extensions at build time, but `experimental.extraOptimizations` is
    * live-settable and runs after alias substitution has exposed division
    * shapes). */
  def prepare(spark: SparkSession): SparkSession = {
    installLocalFs(spark.sparkContext.hadoopConfiguration)
    clusterDefaults.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () } // static conf on live session
    }
    GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DerivedLongBounds))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DerivedLongBounds
    spark
  }

  /** Installs [[LocalFs]] as the `file:` FileSystem. Hadoop caches one
    * `file:` instance per JVM and user, made by the first `FileSystem.get`
    * of the scheme, so this takes only when it runs before anything has
    * resolved a `file:` path. A default instance cached earlier keeps
    * forking a `chmod` per written file and directory; that is reported on
    * stderr rather than worked around. */
  private def installLocalFs(conf: Configuration): Unit = {
    conf.set(LocalFs.ImplKey, classOf[LocalFs].getName)
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    if (!fs.isInstanceOf[LocalFs])
      System.err.println(
        "[graft] GraftSession.prepare: the file: FileSystem was cached as " +
          s"${fs.getClass.getName} before prepare set ${LocalFs.ImplKey}; local " +
          "writes keep forking a chmod process per file and directory. Call " +
          "prepare before anything touches a file: path, or build the session " +
          s"with spark.hadoop.${LocalFs.ImplKey}=${classOf[LocalFs].getName}.")
  }
}
