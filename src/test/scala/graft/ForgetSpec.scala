package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** The composed forget's laws that the oracle row can't see: idempotence
  * (rerun == no-op — the crash recovery story), the crash window between
  * a schedule sink's evidence rewrite and its re-manifest, component
  * SPLITS in the cluster forget, and the k-NN requery of probes that had
  * a forgotten id in their top-k. */
class ForgetSpec extends SparkSpec {
  import spark.implicits._

  // texts are > 128 bytes so the pHash face sees >= 2 sampled frames
  // (the 64-byte stub-decode geometry) — the shorter families don't care
  private def docs() = {
    val pad = " lorem ipsum dolor sit amet consectetur adipiscing elit sed do" +
      " eiusmod tempor incididunt ut labore et dolore magna aliqua"
    Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta" + pad),
      (2L, "en", "alpha beta gamma delta epsilon zeta eta theta" + pad), // dup of 1
      (3L, "en", "alpha beta gamma delta epsilon zeta eta iota" + pad), // near dup
      (4L, "en", "totally different words about spark query engines and shuffles" +
        " partitions codegen catalyst tungsten broadcast joins windows aggregates"),
      (5L, "de", "der schnelle braune fuchs springt ueber den faulen hund waehrend" +
        " die neugierige katze vom hohen zaun aus aufmerksam zuschaut und wartet"),
      (6L, "en", "alpha beta gamma delta epsilon zeta eta kappa" + pad), // near dup
    ).toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("LSH/pHash/postings/shingle forgets are idempotent and equal a rebuild") {
    val d = docs()
    val ids = d.filter(col("doc_id") === 2L || col("doc_id") === 5L)
    val kept = d.filter(col("doc_id") =!= 2L && col("doc_id") =!= 5L)
    val dir = tmpDir()

    DedupOps.writeMinHashIndex(d, s"$dir/lsh", nBuckets = 8)
    ForgetOps.forgetFromLshIndex(spark, s"$dir/lsh", ids, nBuckets = 8)
    DedupOps.writeMinHashIndex(kept, s"$dir/lsh2", nBuckets = 8)
    val sel = Seq("id", "band", "bandsig", "bucket").map(col)
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))
    // rerun (the crash recovery contract): already-absent ids are a no-op
    ForgetOps.forgetFromLshIndex(spark, s"$dir/lsh", ids, nBuckets = 8)
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))

    val media = MultimodalOps.mediaFromDocuments(d)
    MultimodalOps.writePhashIndex(media, s"$dir/ph", nBuckets = 8)
    ForgetOps.forgetFromPhashIndex(spark,
      s"$dir/ph", MultimodalOps.mediaFromDocuments(ids), nBuckets = 8)
    MultimodalOps.writePhashIndex(
      MultimodalOps.mediaFromDocuments(kept), s"$dir/ph2", nBuckets = 8)
    val phSel = Seq("media_id", "frame_ix", "phash", "band_ix", "band", "bucket").map(col)
    assert(rows(spark.read.parquet(s"$dir/ph").select(phSel: _*)) ==
      rows(spark.read.parquet(s"$dir/ph2").select(phSel: _*)))

    RetrievalOps.writePostingsIndex(d, s"$dir/pt", nPt = 8)
    ForgetOps.forgetFromPostingsIndex(spark, s"$dir/pt", ids, nPt = 8)
    RetrievalOps.writePostingsIndex(kept, s"$dir/pt2", nPt = 8)
    val ptSel = Seq("tok", "doc_id", "tf", "positions").map(col)
    assert(rows(spark.read.parquet(s"$dir/pt").select(ptSel: _*)) ==
      rows(spark.read.parquet(s"$dir/pt2").select(ptSel: _*)))
    assert(rows(spark.read.parquet(s"$dir/pt/_docs").select(col("doc_id"), col("dl"))) ==
      rows(spark.read.parquet(s"$dir/pt2/_docs").select(col("doc_id"), col("dl"))))
    // a probe drifted from the index still refuses after a forget
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetFromPostingsIndex(spark, s"$dir/pt", ids, nPt = 4))
    assert(e.getMessage.contains("routing mismatch"))

    TextOps.writeShingleIndex(d, s"$dir/sh", k = 3, nPb = 8, hashed = true)
    ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", ids, k = 3, nPb = 8,
      hashed = true)
    TextOps.writeShingleIndex(kept, s"$dir/sh2", k = 3, nPb = 8, hashed = true)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
      rows(TextOps.readShingleCounts(spark, s"$dir/sh2", hashed = true)))
    // a SAME-ids rerun (crash recovery, at-least-once retry) lands a
    // second delta under the SAME id-set-derived src, and the
    // (shingle, src) replay-dedup collapses it — never double-subtracts
    ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", ids, k = 3, nPb = 8,
      hashed = true)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
      rows(TextOps.readShingleCounts(spark, s"$dir/sh2", hashed = true)))
    // a SECOND forget of a DIFFERENT id set lands under a DISTINCT src
    // tag (the replay-dedup must never merge two distinct passes)
    val ids2 = d.filter(col("doc_id") === 6L)
    val kept2 = kept.filter(col("doc_id") =!= 6L)
    ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", ids2, k = 3, nPb = 8,
      hashed = true)
    TextOps.writeShingleIndex(kept2, s"$dir/sh3", k = 3, nPb = 8, hashed = true)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
      rows(TextOps.readShingleCounts(spark, s"$dir/sh3", hashed = true)))
    // forgetting the same ids AGAIN on purpose (re-add scenario) is the
    // bumped-passId path: a distinct src, so the delta applies
    ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", ids2, k = 3, nPb = 8,
      hashed = true, passId = 1L)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) !=
      rows(TextOps.readShingleCounts(spark, s"$dir/sh3", hashed = true)))
  }

  test("ids-only tombstones refuse loudly on payload-deriving faces") {
    val d = docs()
    val dir = tmpDir()
    DedupOps.writeMinHashIndex(d, s"$dir/lsh", nBuckets = 8)
    val idsOnly = d.select(col("doc_id"))
    for ((name, run) <- Seq[(String, () => Unit)](
        "forgetFromLshIndex" -> (() =>
          ForgetOps.forgetFromLshIndex(spark, s"$dir/lsh", idsOnly, nBuckets = 8)),
        "forgetFromPhashIndex" -> (() =>
          ForgetOps.forgetFromPhashIndex(spark, s"$dir/ph",
            idsOnly.withColumnRenamed("doc_id", "media_id"), nBuckets = 8)),
        "forgetFromPostingsIndex" -> (() =>
          ForgetOps.forgetFromPostingsIndex(spark, s"$dir/pt", idsOnly, nPt = 8)),
        "forgetFromShingleIndex" -> (() =>
          ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", idsOnly, k = 3,
            nPb = 8, hashed = true)))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("re-signing the forgotten payloads"),
        s"$name: ${e.getMessage}")
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
    // the cell faces need the vectors themselves
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetFromCellIndex(spark, s"$dir/sq8",
        idsOnly.withColumnRenamed("doc_id", "vec_id"), Seq(0 -> Seq(1.0, 0.0))))
    assert(e.getMessage.contains("'embedding'"))
  }

  test("forgetByScan: the ids-only fallback equals the payload-deriving face") {
    val d = docs()
    val idsOnly = d.filter(col("doc_id").isin(2L, 5L)).select(col("doc_id"))
    val kept = d.filter(!col("doc_id").isin(2L, 5L))
    val dir = tmpDir()
    // flat LSH layout, no payload in the tombstone frame
    DedupOps.writeMinHashIndex(d, s"$dir/lsh", nBuckets = 8)
    ForgetOps.forgetByScan(spark, s"$dir/lsh", idsOnly, "id",
      Seq("band", "bucket"))
    DedupOps.writeMinHashIndex(kept, s"$dir/lsh2", nBuckets = 8)
    val sel = Seq("id", "band", "bandsig", "bucket").map(col)
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))
    // rerun converges (nothing left to find in the scan)
    ForgetOps.forgetByScan(spark, s"$dir/lsh", idsOnly, "id",
      Seq("band", "bucket"))
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))
    // versioned cell store: per-level scan + rewrite, fenced after
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    graft.streaming.StreamingOps.sq8IndexBase(
      emb.filter(col("vec_id") <= 2L), centroids, s"$dir/sq8")
    graft.streaming.StreamingOps.sq8Batch(
      emb.filter(col("vec_id") > 2L), 0L, centroids, s"$dir/sq8",
      "vec_id", "embedding")
    ForgetOps.forgetByScan(spark, s"$dir/sq8",
      emb.filter(col("vec_id") === 1L).select(col("vec_id")), "id",
      Seq("cell"))
    SimilarityOps.writeSq8Index(emb.filter(col("vec_id") =!= 1L), centroids,
      s"$dir/sq82")
    val sqSel = Seq("id", "codes", "cell").map(col)
    assert(rows(spark.read.parquet(s"$dir/sq8").select(sqSel: _*)) ==
      rows(spark.read.parquet(s"$dir/sq82").select(sqSel: _*)))
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.sq8Batch(
        emb.filter(col("vec_id") > 2L), 0L, centroids, s"$dir/sq8",
        "vec_id", "embedding"))
    assert(e.getMessage.contains("different checkpoint lineage"))
    // the refusal message points here
    val e2 = intercept[IllegalArgumentException](
      ForgetOps.forgetFromLshIndex(spark, s"$dir/lsh", idsOnly, nBuckets = 8))
    assert(e2.getMessage.contains("forgetByScan"))
  }

  test("staged level rewrites never lose survivors at any crash point") {
    import org.apache.hadoop.fs.Path
    val d = docs()
    val ids = d.filter(col("doc_id") === 2L || col("doc_id") === 5L)
    val kept = d.filter(col("doc_id") =!= 2L && col("doc_id") =!= 5L)
    val dir = tmpDir()
    RetrievalOps.writePostingsIndex(d, s"$dir/pt", nPt = 8)
    RetrievalOps.writePostingsIndex(kept, s"$dir/pt2", nPt = 8)
    val docsRoot = new Path(s"$dir/pt/_docs")
    val f = docsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val level = f.listStatus(docsRoot).map(_.getPath)
      .filter(_.getName.startsWith("__batch=")).head
    // crash window A: a prior pass truncated the level AFTER staging the
    // survivors (the old mid-Overwrite data-loss window) — simulate by
    // moving the whole level into its staging sibling
    require(f.rename(level, new Path(docsRoot, "_staged_" + level.getName)))
    ForgetOps.forgetFromPostingsIndex(spark, s"$dir/pt", ids, nPt = 8)
    val dl = Seq("doc_id", "dl").map(col)
    assert(rows(spark.read.parquet(s"$dir/pt/_docs").select(dl: _*)) ==
      rows(spark.read.parquet(s"$dir/pt2/_docs").select(dl: _*)))
    // crash window B: a stale staging next to an intact level (crash
    // before the swap) — heal drops it and the rerun converges
    d.limit(2).select(col("doc_id"), lit(999L).as("dl"))
      .write.parquet(s"$docsRoot/_staged_${level.getName}")
    ForgetOps.forgetFromPostingsIndex(spark, s"$dir/pt", ids, nPt = 8)
    assert(rows(spark.read.parquet(s"$dir/pt/_docs").select(dl: _*)) ==
      rows(spark.read.parquet(s"$dir/pt2/_docs").select(dl: _*)))
    assert(!f.listStatus(docsRoot).exists(_.getPath.getName.startsWith("_staged_")))
  }

  test("forgetFromPqIndex: home-cell rewrite equals a rebuild; PQ sidecar asserted") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    val codebooks = SimilarityOps.trainPqCodebooks(emb, m = 2, c = 2, nIters = 2)
    val dir = tmpDir()
    SimilarityOps.writePqIndex(emb, centroids, codebooks, s"$dir/pq")
    ForgetOps.forgetFromPqIndex(spark, s"$dir/pq",
      emb.filter(col("vec_id") === 1L), centroids, codebooks)
    SimilarityOps.writePqIndex(emb.filter(col("vec_id") =!= 1L), centroids,
      codebooks, s"$dir/pq2")
    val sel = Seq("id", "codes", "cell").map(col)
    assert(rows(spark.read.parquet(s"$dir/pq").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/pq2").select(sel: _*)))
    // drifted geometry refuses (the PQ sidecar, not the SQ8 one)
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetFromPqIndex(spark, s"$dir/pq",
        emb.filter(col("vec_id") === 2L), centroids,
        SimilarityOps.trainPqCodebooks(emb, m = 1, c = 2, nIters = 1)))
    assert(e.getMessage.contains("forgetFromPqIndex"))
  }

  test("attestation: durable, monotone, crash-invisible") {
    val dir = tmpDir()
    val ids = Seq(2L, 5L).toDF("doc_id")
    // no pass ever completed -> loud refusal, never an empty audit
    val e = intercept[IllegalArgumentException](
      ForgetOps.readAttestation(spark, s"$dir/attest"))
    assert(e.getMessage.contains("no complete forget attestation"))
    val audit = Seq(("lsh_index", 16L, 0L), ("doc_log", 4L, 0L))
    val p0 = ForgetOps.writeAttestation(spark, s"$dir/attest", ids, "doc_id",
      audit, params = Seq("audited" -> 1L))
    assert(p0 == 0L)
    assert(rows(ForgetOps.readAttestation(spark, s"$dir/attest")) ==
      rows(audit.toDF("artifact", "n_after", "n_diff")))
    // the sidecar records the id-set digest + count + parameters
    val meta = graft.operators.ParamMeta
      .readText(spark, s"$dir/attest/__pass=0").get
    assert(graft.operators.ParamMeta.field(meta, "n_ids").contains(2L))
    assert(graft.operators.ParamMeta.field(meta, "ids_digest").exists(_ < -1L))
    assert(graft.operators.ParamMeta.field(meta, "audited").contains(1L))
    // a SECOND pass lands at the next monotone id and wins the readback
    val audit2 = Seq(("lsh_index", 12L, 0L))
    assert(ForgetOps.writeAttestation(spark, s"$dir/attest", ids, "doc_id",
      audit2) == 1L)
    assert(rows(ForgetOps.readAttestation(spark, s"$dir/attest")) ==
      rows(audit2.toDF("artifact", "n_after", "n_diff")))
    // a pass that crashed before its completion marker is invisible:
    // plant evidence WITHOUT _meta.json at the next pass id
    Seq(("phash_index", 7L, 0L)).toDF("artifact", "n_after", "n_diff")
      .write.parquet(s"$dir/attest/__pass=2")
    assert(rows(ForgetOps.readAttestation(spark, s"$dir/attest")) ==
      rows(audit2.toDF("artifact", "n_after", "n_diff")))
    // ... and the rerun attests ABOVE it (monotone past the wreck)
    assert(ForgetOps.writeAttestation(spark, s"$dir/attest", ids, "doc_id",
      audit2) == 3L)
  }

  test("forgetClusters splits the touched component, keeps the rest verbatim") {
    // components: {1-2, 2-3} (a chain through 2) and {4-5} (untouched)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val prior = DedupOps.nearDupClustersStar(pairs)
    val dead = Seq(2L).toDF("doc_id")
    val surviving = pairs.filter(col("id1") =!= 2L && col("id2") =!= 2L)
    val got = ForgetOps.forgetClusters(prior, surviving, dead)
    // 1 and 3 lost their only edges -> out of the assignment (exactly
    // like a from-scratch run over the surviving pairs); {4,5} untouched
    assert(rows(got) == rows(DedupOps.nearDupClustersStar(surviving)))
    assert(got.as[(Long, Long)].collect().toSet == Set((4L, 4L), (5L, 4L)))
    // a split that leaves TWO live components: ring 1-2, 2-3, 3-4, 4-1
    // loses 2 -> {1,4,3} stays one component via 3-4, 4-1
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("id1", "id2")
    val ringPrior = DedupOps.nearDupClustersStar(ring)
    val ringSurv = ring.filter(col("id1") =!= 2L && col("id2") =!= 2L)
    assert(rows(ForgetOps.forgetClusters(ringPrior, ringSurv, dead)) ==
      rows(DedupOps.nearDupClustersStar(ringSurv)))
  }

  test("forgetFromKnnGraph requeries probes that listed a forgotten id") {
    // 2D unit-ish vectors: 0 and 1 nearly parallel, 2 close to 1, 3 far
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    val graph = SimilarityOps.knnGraph(emb, centroids, k = 2, nProbe = 2)
    val dead = Seq(1L).toDF("vec_id")
    val keptEmb = emb.filter(col("vec_id") =!= 1L)
    val got = ForgetOps.forgetFromKnnGraph(graph, emb, dead, k = 2)
    val truth = SimilarityOps.knnGraph(keptEmb,
      SimilarityOps.ivfCentroids(keptEmb, k = 2, nIters = 2), k = 2, nProbe = 2)
    assert(rows(got) == rows(truth))
    // the forgotten id is nowhere: not a probe, not a neighbor
    assert(got.filter(col("vec_id") === 1L || col("neighbor_id") === 1L).isEmpty)
  }

  test("forgetFromCellIndex rewrites only home cells; probes never see the id") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    val dir = tmpDir()
    SimilarityOps.writeSq8Index(emb, centroids, s"$dir/sq8")
    val dead = emb.filter(col("vec_id") === 1L)
    ForgetOps.forgetFromCellIndex(spark, s"$dir/sq8", dead, centroids)
    // readback equals a rebuild over the remaining vectors under the
    // SAME frozen centroids, row-for-row
    SimilarityOps.writeSq8Index(emb.filter(col("vec_id") =!= 1L), centroids,
      s"$dir/sq82")
    val sel = Seq("id", "codes", "cell").map(col)
    assert(rows(spark.read.parquet(s"$dir/sq8").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/sq82").select(sel: _*)))
    // a probe against the forgotten index equals the rebuilt index's
    val probe = Seq(0.98, 0.2)
    val a = SimilarityOps.sq8TopKIndexed(spark, s"$dir/sq8", centroids,
      emb.filter(col("vec_id") =!= 1L), probe, k = 2, nProbe = 2)
    val b = SimilarityOps.sq8TopKIndexed(spark, s"$dir/sq82", centroids,
      emb.filter(col("vec_id") =!= 1L), probe, k = 2, nProbe = 2)
    assert(rows(a) == rows(b))
    assert(a.filter(col("vec_id") === 1L).isEmpty)
  }

  test("lshForgetStream: drain equals batch forget; checkpoint replay is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val d = docs()
    val dir = tmpDir()
    DedupOps.writeMinHashIndex(d, s"$dir/idx", nBuckets = 8)
    // the tombstone feed: docs 2 and 5, landed as a parquet source
    d.filter(col("doc_id").isin(2L, 5L))
      .write.parquet(s"$dir/tombs")
    def drain(): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(s"$dir/tombs").schema)
        .parquet(s"$dir/tombs")
      val q = graft.streaming.StreamingOps
        .lshForgetStream(src, s"$dir/idx", s"$dir/ckpt", nBuckets = 8)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    DedupOps.writeMinHashIndex(
      d.filter(!col("doc_id").isin(2L, 5L)), s"$dir/idx2", nBuckets = 8)
    val sel = Seq("id", "band", "bandsig", "bucket").map(col)
    def back() = rows(spark.read.parquet(s"$dir/idx").select(sel: _*))
    val truth = rows(spark.read.parquet(s"$dir/idx2").select(sel: _*))
    assert(back() == truth)
    // a RESTART over the same checkpoint re-drains nothing; and even a
    // forced replay of the tombstones (fresh checkpoint) is idempotent
    drain()
    assert(back() == truth)
    val q2 = graft.streaming.StreamingOps
      .lshForgetStream(
        spark.readStream.schema(spark.read.parquet(s"$dir/tombs").schema)
          .parquet(s"$dir/tombs"),
        s"$dir/idx", s"$dir/ckpt2", nBuckets = 8)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(back() == truth)
  }

  test("versioned (streamed) layouts forget per level and fence stale replays") {
    val d = docs()
    val ids = d.filter(col("doc_id").isin(2L, 5L))
    val kept = d.filter(!col("doc_id").isin(2L, 5L))
    val dir = tmpDir()
    // a streamed LSH sink: base + one delta level
    graft.streaming.StreamingOps.lshIndexBase(
      d.filter(col("doc_id") <= 3L), s"$dir/lsh", nBuckets = 8)
    graft.streaming.StreamingOps.lshBatch(
      d.filter(col("doc_id") > 3L), 0L, s"$dir/lsh", "doc_id", "text",
      3, 16, 4, 8)
    ForgetOps.forgetFromLshIndex(spark, s"$dir/lsh", ids, nBuckets = 8)
    DedupOps.writeMinHashIndex(kept, s"$dir/lsh2", nBuckets = 8)
    val sel = Seq("id", "band", "bandsig", "bucket").map(col)
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))
    // the level structure survives (no root-level flattening) and the
    // pass fenced the stream: a stale checkpoint replaying batch 0 must
    // refuse instead of resurrecting the forgotten signatures
    assert(new java.io.File(s"$dir/lsh/__batch=-1").exists())
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.lshBatch(
        d.filter(col("doc_id") > 3L), 0L, s"$dir/lsh", "doc_id", "text",
        3, 16, 4, 8))
    assert(e.getMessage.contains("different checkpoint lineage"))
    // compaction folds the forgotten levels without resurrecting anything
    graft.streaming.StreamingOps.compactLshIndex(spark, s"$dir/lsh")
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))

    // the streamed SQ8 cell sink: per-level home-cell rewrite, fenced
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    graft.streaming.StreamingOps.sq8IndexBase(
      emb.filter(col("vec_id") <= 2L), centroids, s"$dir/sq8")
    graft.streaming.StreamingOps.sq8Batch(
      emb.filter(col("vec_id") > 2L), 0L, centroids, s"$dir/sq8",
      "vec_id", "embedding")
    ForgetOps.forgetFromCellIndex(spark, s"$dir/sq8",
      emb.filter(col("vec_id") === 1L), centroids)
    SimilarityOps.writeSq8Index(emb.filter(col("vec_id") =!= 1L), centroids,
      s"$dir/sq82")
    val sqSel = Seq("id", "codes", "cell").map(col)
    assert(rows(spark.read.parquet(s"$dir/sq8").select(sqSel: _*)) ==
      rows(spark.read.parquet(s"$dir/sq82").select(sqSel: _*)))
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.sq8Batch(
        emb.filter(col("vec_id") > 2L), 0L, centroids, s"$dir/sq8",
        "vec_id", "embedding"))
    assert(e2.getMessage.contains("different checkpoint lineage"))
  }

  test("forgetFromKnnGraphStore: resolved graph equals a rebuild without the ids") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
      (5L, Seq(0.7f, 0.7f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    val path = s"${tmpDir()}/knn"
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") < 3L), 0L, centroids, 2, 2, path)
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") >= 3L), 1L, centroids, 2, 2, path)
    val dead = Seq(1L).toDF("vec_id")
    ForgetOps.forgetFromKnnGraphStore(spark, path, dead, k = 2, nProbe = 2,
      centroids)
    val truth = SimilarityOps.knnGraph(emb.filter(col("vec_id") =!= 1L),
      centroids, k = 2, nProbe = 2)
    def back() = graft.streaming.StreamingOps.readKnnGraph(spark, path)
    assert(rows(back()) == rows(truth))
    assert(back().filter(col("vec_id") === 1L || col("neighbor_id") === 1L).isEmpty)
    // rerun converges (the crash recovery law)
    ForgetOps.forgetFromKnnGraphStore(spark, path, dead, k = 2, nProbe = 2,
      centroids)
    assert(rows(back()) == rows(truth))
    // a stale checkpoint replaying batch 1 refuses at the fence on BOTH
    // roots instead of resurrecting the forgotten vector
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.knnGraphBatch(
        emb.filter(col("vec_id") >= 3L), 1L, centroids, 2, 2, path))
    assert(e.getMessage.contains("different checkpoint lineage"))
  }

  test("knn-store forget leaves the frontier free: the quiesced stream resumes") {
    // ADVICE r19 (high): the corrected rows must survive a LEGITIMATE
    // resume — the quiesced stream's next batch id equals the dataless
    // fence, its Overwrite replaces only the fence, and its carried
    // candidates read the CORRECTED resolved edges; no forgotten id may
    // reappear as a neighbor.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
      (5L, Seq(0.7f, 0.7f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    val path = s"${tmpDir()}/knn"
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") < 3L), 0L, centroids, 2, 2, path)
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") >= 3L), 1L, centroids, 2, 2, path)
    ForgetOps.forgetFromKnnGraphStore(spark, path, Seq(1L).toDF("vec_id"),
      k = 2, nProbe = 2, centroids)
    // the legitimate resume: batch 2 = the fence slot, NEW vectors
    val fresh = Seq((6L, Seq(0.6f, 0.8f)), (7L, Seq(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    graft.streaming.StreamingOps.knnGraphBatch(fresh, 2L, centroids, 2, 2, path)
    val truth = SimilarityOps.knnGraph(
      emb.filter(col("vec_id") =!= 1L).unionByName(fresh),
      centroids, k = 2, nProbe = 2)
    val back = graft.streaming.StreamingOps.readKnnGraph(spark, path)
    assert(rows(back) == rows(truth))
    assert(back.filter(col("vec_id") === 1L || col("neighbor_id") === 1L).isEmpty)
  }

  test("shingle forget leaves the frontier free: the quiesced stream resumes") {
    // ADVICE r19 (medium): the negative delta lives in the __batch=-1
    // base, so the resumed stream's next batch (and even a stale replay
    // of a committed batch) never destroys it — counts stay the rebuild's.
    val d = docs()
    val ids = d.filter(col("doc_id").isin(2L, 5L))
    val kept = d.filter(!col("doc_id").isin(2L, 5L))
    val dir = tmpDir()
    graft.streaming.StreamingOps.shingleBatch(
      d.filter(col("doc_id") <= 3L), 0L, s"$dir/sh", 3, 8, true)
    graft.streaming.StreamingOps.shingleBatch(
      d.filter(col("doc_id") > 3L), 1L, s"$dir/sh", 3, 8, true)
    ForgetOps.forgetFromShingleIndex(spark, s"$dir/sh", ids, k = 3, nPb = 8,
      hashed = true)
    // the legitimate resume: batch 2 = the frontier slot, NEW docs
    val fresh = Seq((7L, "en", "omega psi chi phi upsilon tau sigma rho"))
      .toDF("doc_id", "lang", "text")
    graft.streaming.StreamingOps.shingleBatch(fresh, 2L, s"$dir/sh", 3, 8, true)
    TextOps.writeShingleIndex(kept.select(col("doc_id"), col("text"))
        .unionByName(fresh.select(col("doc_id"), col("text"))),
      s"$dir/sh2", k = 3, nPb = 8, hashed = true)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
      rows(TextOps.readShingleCounts(spark, s"$dir/sh2", hashed = true)))
    // a checkpoint REPLAY of the newest committed batch (the only batch
    // a restart ever replays) re-lands the same deduped positive
    // partials over its own level — the base delta still cancels them
    graft.streaming.StreamingOps.shingleBatch(fresh, 2L, s"$dir/sh", 3, 8, true)
    assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
      rows(TextOps.readShingleCounts(spark, s"$dir/sh2", hashed = true)))
  }

  test("forgetByScan refuses null partition values and casts untyped ids") {
    val d = docs()
    val dir = tmpDir()
    DedupOps.writeMinHashIndex(d, s"$dir/lsh", nBuckets = 8)
    // ids arrive as INT (payload purged upstream, re-keyed by a caller):
    // the scan face must cast to the artifact's LONG id, not null-join
    val intIds = Seq(2, 5).toDF("doc_id")
      .select(col("doc_id").cast("int").as("doc_id"))
    ForgetOps.forgetByScan(spark, s"$dir/lsh", intIds, "id",
      Seq("band", "bucket"))
    DedupOps.writeMinHashIndex(d.filter(!col("doc_id").isin(2L, 5L)),
      s"$dir/lsh2", nBuckets = 8)
    val sel = Seq("id", "band", "bandsig", "bucket").map(col)
    assert(rows(spark.read.parquet(s"$dir/lsh").select(sel: _*)) ==
      rows(spark.read.parquet(s"$dir/lsh2").select(sel: _*)))
    // a NULL partition directory refuses loudly with the remedy, never
    // an NPE mid-pass
    Seq((1L, "a"), (2L, null.asInstanceOf[String]))
      .toDF("k", "part").write.partitionBy("part").parquet(s"$dir/nullpart")
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetByScan(spark, s"$dir/nullpart",
        Seq(2L).toDF("k"), "k", Seq("part")))
    assert(e.getMessage.contains("__HIVE_DEFAULT_PARTITION__"))
  }

  test("forgetByScan refuses ids WIDER than the artifact's key type") {
    // an INT-keyed artifact: a LONG id like 2^32 + 5 would wrap to 5
    // under the old narrowing cast and delete an unrelated row — the
    // face must refuse loudly instead (ADVICE r20)
    val dir = tmpDir()
    Seq((1, "a"), (5, "a"), (9, "b"))
      .toDF("k", "part").write.partitionBy("part").parquet(s"$dir/intkeyed")
    val wideIds = Seq((1L << 32) + 5L).toDF("k")
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetByScan(spark, s"$dir/intkeyed", wideIds, "k", Seq("part")))
    assert(e.getMessage.contains("WIDER"))
    // nothing was rewritten: every row survives
    assert(spark.read.parquet(s"$dir/intkeyed").count() == 3L)
    // the WIDENING direction still casts and deletes exactly the id's row
    ForgetOps.forgetByScan(spark, s"$dir/intkeyed",
      Seq(5).toDF("k").select(col("k").cast("short").as("k")), "k", Seq("part"))
    assert(rows(spark.read.parquet(s"$dir/intkeyed").select(col("k"))) ==
      Seq("[1]", "[9]"))
  }

  test("forgetByScan checks every level's key width before the first rewrite") {
    // two levels: a LONG-keyed level 0 the LONG ids may rewrite, then an
    // INT-keyed level 1 they are WIDER than — the refusal must come
    // before level 0 is touched, not after it was already rewritten
    val dir = tmpDir()
    Seq((1L, "a"), (5L, "a")).toDF("k", "part")
      .write.partitionBy("part").parquet(s"$dir/lv/__batch=0")
    Seq((5, "b"), (9, "b")).toDF("k", "part")
      .write.partitionBy("part").parquet(s"$dir/lv/__batch=1")
    def files(root: java.io.File): Map[String, String] =
      if (root.isDirectory) root.listFiles().toSeq.flatMap(files).toMap
      else Map(root.getPath -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(root.toPath)).map("%02x".format(_)).mkString)
    val level0 = new java.io.File(s"$dir/lv/__batch=0")
    val before = files(level0)
    val e = intercept[IllegalArgumentException](
      ForgetOps.forgetByScan(spark, s"$dir/lv", Seq(5L).toDF("k"), "k", Seq("part")))
    assert(e.getMessage.contains("WIDER"))
    assert(files(level0) == before)
  }

  test("forgetStream drains every wired face; a forced replay is a per-face no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val d = docs()
    val ids = d.filter(col("doc_id").isin(2L, 5L))
    val kept = d.filter(!col("doc_id").isin(2L, 5L))
    val dir = tmpDir()
    DedupOps.writeMinHashIndex(d, s"$dir/lsh", nBuckets = 8)
    MultimodalOps.writePhashIndex(MultimodalOps.mediaFromDocuments(d),
      s"$dir/ph", nBuckets = 8)
    RetrievalOps.writePostingsIndex(d, s"$dir/pt", nPt = 8)
    TextOps.writeShingleIndex(d, s"$dir/sh", k = 3, nPb = 8, hashed = true)
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.99f, 0.14f)),
      (2L, Seq(0.95f, 0.31f)), (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.4f, 0.92f)),
    ).toDF("vec_id", "embedding")
    val centroids = SimilarityOps.ivfCentroids(emb, k = 2, nIters = 2)
    SimilarityOps.writeSq8Index(emb, centroids, s"$dir/sq8")
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") < 3L), 0L, centroids, 2, 2, s"$dir/knn")
    graft.streaming.StreamingOps.knnGraphBatch(
      emb.filter(col("vec_id") >= 3L), 1L, centroids, 2, 2, s"$dir/knn")
    ids.write.parquet(s"$dir/tombs")
    emb.filter(col("vec_id") === 1L).write.parquet(s"$dir/vtombs")
    def drainDocs(ck: String): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(s"$dir/tombs").schema).parquet(s"$dir/tombs")
      val q = graft.streaming.StreamingOps.forgetStream(src, ck,
          lshPath = Some(s"$dir/lsh"), phashPath = Some(s"$dir/ph"),
          postingsPath = Some(s"$dir/pt"), shinglePath = Some(s"$dir/sh"),
          nBuckets = 8, nPt = 8, spanK = 3, nPb = 8, phashBuckets = 8)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def drainVecs(ck: String): Unit = {
      val src = spark.readStream
        .schema(spark.read.parquet(s"$dir/vtombs").schema).parquet(s"$dir/vtombs")
      val q = graft.streaming.StreamingOps.forgetStream(src, ck,
          sq8Path = Some(s"$dir/sq8"), knnStorePath = Some(s"$dir/knn"),
          knnK = 2, knnNProbe = 2, centroids = centroids, idCol = "vec_id")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainDocs(s"$dir/ck1"); drainVecs(s"$dir/ckv1")
    // rebuild truths over the survivors
    DedupOps.writeMinHashIndex(kept, s"$dir/lsh2", nBuckets = 8)
    MultimodalOps.writePhashIndex(MultimodalOps.mediaFromDocuments(kept),
      s"$dir/ph2", nBuckets = 8)
    RetrievalOps.writePostingsIndex(kept, s"$dir/pt2", nPt = 8)
    TextOps.writeShingleIndex(kept, s"$dir/sh2", k = 3, nPb = 8, hashed = true)
    SimilarityOps.writeSq8Index(emb.filter(col("vec_id") =!= 1L), centroids,
      s"$dir/sq82")
    def check(): Unit = {
      val lshSel = Seq("id", "band", "bandsig", "bucket").map(col)
      assert(rows(spark.read.parquet(s"$dir/lsh").select(lshSel: _*)) ==
        rows(spark.read.parquet(s"$dir/lsh2").select(lshSel: _*)))
      val phSel = Seq("media_id", "frame_ix", "phash", "band_ix", "band",
        "bucket").map(col)
      assert(rows(spark.read.parquet(s"$dir/ph").select(phSel: _*)) ==
        rows(spark.read.parquet(s"$dir/ph2").select(phSel: _*)))
      val ptSel = Seq("tok", "doc_id", "tf", "positions").map(col)
      assert(rows(spark.read.parquet(s"$dir/pt").select(ptSel: _*)) ==
        rows(spark.read.parquet(s"$dir/pt2").select(ptSel: _*)))
      assert(rows(spark.read.parquet(s"$dir/pt/_docs")
          .select(col("doc_id"), col("dl"))) ==
        rows(spark.read.parquet(s"$dir/pt2/_docs")
          .select(col("doc_id"), col("dl"))))
      assert(rows(TextOps.readShingleCounts(spark, s"$dir/sh", hashed = true)) ==
        rows(TextOps.readShingleCounts(spark, s"$dir/sh2", hashed = true)))
      val sqSel = Seq("id", "codes", "cell").map(col)
      assert(rows(spark.read.parquet(s"$dir/sq8").select(sqSel: _*)) ==
        rows(spark.read.parquet(s"$dir/sq82").select(sqSel: _*)))
      assert(rows(graft.streaming.StreamingOps.readKnnGraph(spark, s"$dir/knn")) ==
        rows(SimilarityOps.knnGraph(emb.filter(col("vec_id") =!= 1L),
          centroids, k = 2, nProbe = 2)))
    }
    check()
    // a FORCED replay (fresh checkpoints re-deliver the same tombstones
    // as batch 0 again) is a no-op on every face — including the shingle
    // face, whose passId = batchId + id-set src collapses the second
    // negative delta in the (shingle, src) read-side dedup
    drainDocs(s"$dir/ck2"); drainVecs(s"$dir/ckv2")
    check()
  }

  test("forgetFromSchedule: crash between evidence and manifest is rerunnable") {
    val d = docs()
    val dir = s"${tmpDir()}/sched"
    graft.streaming.StreamingOps.manifestBatch(d, 0L, dir,
      budgetTokens = 400L, epochCap = 2, seqLen = 16L, refreshEvery = 1,
      seed = 0L, nRanges = 8, sourceCol = "lang", idCol = "doc_id",
      textCol = "text")
    // a second refresh: TWO served versions now hold the ids on disk
    graft.streaming.StreamingOps.manifestBatch(d.limit(0), 1L, dir,
      budgetTokens = 400L, epochCap = 2, seqLen = 16L, refreshEvery = 1,
      seed = 0L, nRanges = 8, sourceCol = "lang", idCol = "doc_id",
      textCol = "text")
    val ddl = "doc_id LONG, source STRING, n_tokens LONG"
    val dead = Seq(2L, 5L).toDF("doc_id")
    val kept = d.filter(col("doc_id") =!= 2L && col("doc_id") =!= 5L)
    def remanifest(corpus: org.apache.spark.sql.DataFrame) =
      AssemblyOps.trainManifest(corpus, 400L, 2, 16L, nRanges = 8,
        sourceCol = "source", textCol = "n_tokens", nTokensCol = Some("n_tokens"))
    // crash INSIDE the pass: evidence rewritten, re-manifest never ran
    intercept[RuntimeException](
      ForgetOps.forgetFromSchedule(spark, dir, dead, ddl,
        _ => sys.error("crash before re-manifest")))
    // the served manifest is stale but readable (never torn) ...
    assert(graft.streaming.StreamingOps.readTrainManifest(spark, dir).count() > 0)
    // ... and the evidence already forgot the ids
    assert(spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(s"$ddl, __batch LONG"))
      .parquet(s"$dir/_docs")
      .filter(col("doc_id").isin(2L, 5L)).isEmpty)
    // rerunning the WHOLE forget converges (idempotent faces)
    ForgetOps.forgetFromSchedule(spark, dir, dead, ddl, remanifest)
    val got = graft.streaming.StreamingOps.readTrainManifest(spark, dir)
    val truth = AssemblyOps.trainManifest(kept, 400L, 2, 16L, nRanges = 8,
      sourceCol = "lang")
    assert(rows(got) == rows(truth))
    // the retention contract: a completed forget leaves exactly ONE
    // served version (the re-derived newest) — superseded snapshots that
    // still remembered the ids are vacuumed, not left readable
    val versions = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).filter(_.startsWith("__batch=")).toSeq
    assert(versions == Seq("__batch=1"), versions)
    // the quiesce contract is ENFORCED: a stale checkpoint replaying a
    // committed batch (whose delta would re-land forgotten evidence from
    // the replayed input) refuses at the evidence fence...
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.manifestBatch(d, 1L, dir,
        budgetTokens = 400L, epochCap = 2, seqLen = 16L, refreshEvery = 1,
        seed = 0L, nRanges = 8, sourceCol = "lang", idCol = "doc_id",
        textCol = "text"))
    assert(e2.getMessage.contains("different checkpoint lineage"))
    // ... while the served manifest stays the re-derived one (the fence
    // never lands on the manifest root — readers serve the newest
    // _SUCCESS version and an empty fence would read as a zero manifest)
    assert(rows(graft.streaming.StreamingOps.readTrainManifest(spark, dir)) ==
      rows(truth))
    // ... and the live stream's NEXT batch resumes over the fence
    graft.streaming.StreamingOps.manifestBatch(kept, 2L, dir,
      budgetTokens = 400L, epochCap = 2, seqLen = 16L, refreshEvery = 1,
      seed = 0L, nRanges = 8, sourceCol = "lang", idCol = "doc_id",
      textCol = "text")
    assert(graft.streaming.StreamingOps.readTrainManifest(spark, dir)
      .agg(count(lit(1))).collect()(0).getLong(0) > 0)
  }

  test("forgetFromChunkStore handles the leveled (streamed) layout; GC spans levels") {
    val dir = s"${tmpDir()}/cs"
    import graft.streaming.StreamingOps
    // batch 0: media 1 and 2 share content (chunks dedup to one address
    // set); batch 1: media 3 unique, media 4 repeats 1's content (novel
    // set empty for it — its recipes reference batch 0's chunks)
    val pad = "x" * 64
    val m = (id: Long, text: String) => (id, text.getBytes("UTF-8"))
    def land(rows: Seq[(Long, Array[Byte])], id: Long): Unit =
      StreamingOps.storeBatch(rows.toDF("media_id", "content"), id, dir,
        8, 16, "media_id", "content")
    land(Seq(m(1L, "alpha" + pad), m(2L, "alpha" + pad)), 0L)
    land(Seq(m(3L, "gamma" + pad + pad), m(4L, "alpha" + pad)), 1L)
    def digests() = rows(MultimodalOps.readChunkStore(spark, dir)
      .select(col("media_id"), md5(col("content")).as("d")))
    def truthOf(keep: Seq[(Long, Array[Byte])]) = rows(keep
      .toDF("media_id", "content")
      .select(col("media_id"), md5(col("content")).as("d")))
    // forget media 1: its content survives via 2 and 4 (cross-level
    // references), so NO chunk may be GC'd
    ForgetOps.forgetFromChunkStore(spark, dir, Seq(1L).toDF("media_id"))
    assert(digests() == truthOf(Seq(m(2L, "alpha" + pad),
      m(3L, "gamma" + pad + pad), m(4L, "alpha" + pad))))
    // forget 2 and 4: now the shared content is unreferenced — GC'd from
    // the level that stored it
    ForgetOps.forgetFromChunkStore(spark, dir, Seq(2L, 4L).toDF("media_id"))
    assert(digests() == truthOf(Seq(m(3L, "gamma" + pad + pad))))
    assert(spark.read.schema("addr STRING, chunk_bytes BINARY")
      .option("basePath", s"$dir/chunks").parquet(s"$dir/chunks")
      .join(
        spark.read.schema("media_id LONG, chunk_idx INT, addr STRING, __batch LONG")
          .option("basePath", s"$dir/recipes").parquet(s"$dir/recipes")
          .select(col("addr")), Seq("addr"), "left_anti")
      .isEmpty, "no orphan chunks survive the GC")
    // a stale checkpoint replaying batch 1 (which would re-land media 4's
    // recipes and re-store the GC'd content) refuses at the fence
    val e = intercept[IllegalArgumentException](
      land(Seq(m(3L, "gamma" + pad + pad), m(4L, "alpha" + pad)), 1L))
    assert(e.getMessage.contains("different checkpoint lineage"))
    // the GC'd content RE-ARRIVING from a surviving source is novel again
    // (the live stream's next batch, over the fence): stored and
    // reassemblable — the store's dedup truth tracks the surviving corpus
    land(Seq(m(9L, "alpha" + pad)), 2L)
    assert(digests() == truthOf(Seq(m(3L, "gamma" + pad + pad),
      m(9L, "alpha" + pad))))
    // rerunning a completed forget converges
    ForgetOps.forgetFromChunkStore(spark, dir, Seq(2L, 4L).toDF("media_id"))
    assert(digests() == truthOf(Seq(m(3L, "gamma" + pad + pad),
      m(9L, "alpha" + pad))))
  }

}
