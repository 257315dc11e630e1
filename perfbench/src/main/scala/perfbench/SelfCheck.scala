package perfbench

import org.apache.spark.sql.functions._

/** The benchmark's own checks on the JVM side: the generator is a pure
  * function of the seed, different seeds give different stores, and the
  * driver-side digests the expected results use agree with Spark's
  * `xxhash64` on the same rows. */
object SelfCheck {

  def run(seed: Long, work: String, outPath: String): Unit = {
    val spec = StoreSpec(aggregates = 200, meanRevs = 4, days = 3, payloadMin = 8, payloadMax = 24)
    def store(s: Long) = (0 until spec.aggregates).map(i =>
      (Gen.aggregateId(s, i).toSeq, Gen.aggregate(s, spec, i).map(c =>
        (c.rev, c.ts, c.rows.map { case (p, e) => (p, e.et, e.data.toSeq) }))))
    val results = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    results("generator_same_seed_same_store") = store(seed) == store(seed)
    results("generator_other_seed_other_store") = store(seed) != store(seed + 1)
    results("generator_type_in_payload") = (0 until spec.aggregates).forall(i =>
      Gen.aggregate(seed, spec, i).forall(_.rows.forall { case (_, e) => Gen.etOf(e.data) == e.et }))

    val spark = Main.session(1, work)
    try {
      val commits = Store.commits(spark, seed, spec, 2)
      val rows = graft.sources.Storage.commitToRows(commits)
      val sparkDigest = rows.select(sum(xxhash64(col("id"), col("rev"), col("pos"), col("ts"))
        .bitwiseAND(lit(0xFFFFFFFFL)))).collect()(0).getLong(0)
      val driverDigest = (0 until spec.aggregates).map { i =>
        val id = Gen.aggregateId(seed, i)
        Gen.aggregate(seed, spec, i).flatMap(c => c.rows.map { case (p, _) =>
          PointLoad.rowDigest(id, c.rev, p, c.ts) }).sum
      }.sum
      results("row_digest_matches_spark") = sparkDigest == driverDigest

      val re = graft.operators.EventStoreOps.reassembleCommits(rows)
      val sparkCommits = re.select(sum(xxhash64(col("id"), col("rev"), col("ts"), col("events"), col("publicEvents"))
        .bitwiseAND(lit(0xFFFFFFFFL)))).collect()(0).getLong(0)
      val driverCommits = (0 until spec.aggregates).map { i =>
        val id = Gen.aggregateId(seed, i)
        Gen.aggregate(seed, spec, i).map { c =>
          val (priv, pub) = Gen.splitByOffset(c.rows.map { case (p, e) => (p, e.data) })
          Gen.low32(Gen.commitHash(id, c.rev, c.ts, priv, pub))
        }.sum
      }.sum
      results("commit_digest_matches_spark") = sparkCommits == driverCommits
      val etRows = rows.select(Store.etOfData.as("et")).collect().map(_.getString(0)).toSet
      results("index_type_from_payload") = etRows.subsetOf(Gen.Types.toSet) && etRows.nonEmpty
    } finally spark.stop()

    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try w.write(Json(results)) finally w.close()
  }
}
