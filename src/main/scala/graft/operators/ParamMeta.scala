package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared integer-parameter `_meta.json` sidecar for persisted indexes:
  * a probe signed with different parameters than the index silently
  * yields missing candidates (wrong bands, wrong buckets), so writers
  * record the parameters and probes assert them — loud refusal instead
  * of a silent miss. One implementation serves every index family; sinks
  * with their own refusal wording route their reads through [[readText]]
  * + [[field]] (the ONE sidecar regex in the codebase — message drift
  * between hand-rolled copies is the exact failure this object exists to
  * prevent), and long-typed sidecars (IEEE-bit-pinned doubles, counters)
  * fit natively because fields are Long end to end. */
private[graft] object ParamMeta {

  /** Write (or overwrite) the sidecar. Writers decide the crash-window
    * ordering themselves: sinks with a separate data subdirectory write
    * meta BEFORE data so a crash between the two fails loudly at read
    * time; see writePhashIndex for the reasoning. */
  def write(spark: SparkSession, path: String,
      fields: Seq[(String, Long)], fileName: String = "_meta.json"): Unit = {
    val meta = new org.apache.hadoop.fs.Path(path, fileName)
    val f = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(meta, true)
    try out.write(
      fields.map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}").getBytes("UTF-8"))
    finally out.close()
  }

  /** The sidecar's raw text; None when absent (pre-sidecar indexes). */
  def readText(spark: SparkSession, path: String,
      fileName: String = "_meta.json"): Option[String] = {
    val meta = new org.apache.hadoop.fs.Path(path, fileName)
    val f = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(meta)) None
    else {
      val in = f.open(meta)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Extract one recorded field — the single sidecar regex. */
  def field(text: String, key: String): Option[Long] =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)

  /** The recorded values that disagree with the caller's, rendered as
    * `key: index=<recorded> <callerLabel>=<caller>` — the shared body of
    * every sidecar assertion; callers keep their own refusal wording. */
  def mismatches(text: String, fields: Seq[(String, Long)],
      callerLabel: String = "probe"): Seq[String] =
    fields.flatMap { case (key, v) =>
      field(text, key).filter(_ != v)
        .map(rec => s"$key: index=$rec $callerLabel=$v")
    }

  /** Assert the caller's parameters against the sidecar (no-op when the
    * sidecar is absent — pre-sidecar indexes). `what` names the
    * parameter family and `rebuildHint` the writer, so the refusal
    * message tells the operator exactly what to do. */
  def assertMatches(spark: SparkSession, path: String,
      fields: Seq[(String, Long)], what: String, rebuildHint: String): Unit =
    readText(spark, path).foreach { text =>
      val bad = mismatches(text, fields)
      require(bad.isEmpty, refusal(path, what, rebuildHint)(bad))
    }

  /** [[assertMatches]]' refusal wording over rendered mismatches. */
  def refusal(path: String, what: String, rebuildHint: String)(
      bad: Seq[String]): String =
    s"$what disagree with the index at $path " +
      s"(${bad.mkString(", ")}) — probe with the index's parameters " +
      s"or rebuild it with $rebuildHint"
}
