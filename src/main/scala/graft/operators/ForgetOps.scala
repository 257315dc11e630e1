package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Levels

/** Composed "forget this document everywhere" — the compliance delete a
  * 100 TB pipeline runs routinely (reference delete semantics: A5
  * `CassandraEventStore.cs:126-146`, A7 `IndexByEventTypeStore.cs:63-83`,
  * composed per-table exactly as the reference's callers compose them).
  * The engine has a delete/rewrite primitive per artifact; this object
  * adds the per-derived-artifact faces the primitives don't cover and the
  * single audited pass that tombstones one id set across ALL of them:
  *
  *   - the versioned event/doc log ([[graft.sources.Generations.deleteAndPromote]])
  *   - the MinHash LSH index (partition-pruned rewrite, [[forgetFromLshIndex]])
  *   - the shingle-count span index (negative-count delta, [[forgetFromShingleIndex]])
  *   - the positional postings index ([[forgetFromPostingsIndex]])
  *   - the banded pHash video index ([[forgetFromPhashIndex]])
  *   - the cell-partitioned ANN stores (IVF raw / IVF-SQ8 codes,
  *     [[forgetFromCellIndex]] — home cells under the frozen centroids)
  *   - the content-addressed chunk store
  *     ([[MultimodalOps.deleteFromChunkStore]] — recipes first, GC second)
  *   - the k-NN graph ([[forgetFromKnnGraph]] — affected nodes recomputed)
  *   - the near-dup cluster assignment ([[forgetClusters]] — affected
  *     components re-closed, splits included)
  *   - a schedule sink's evidence + served manifest ([[forgetFromSchedule]])
  *
  * Scale contract: every face is DELTA-proportional — affected
  * directories are derived from the forgotten docs' OWN keys (their band
  * signatures, their terms, their frames), never by scanning the
  * artifact; the only corpus-sized work is the k-NN re-query of the
  * affected probe rows and the component re-closure of the affected
  * clusters, both bounded by the forgotten ids' blast radius.
  *
  * Correctness contract (the one-truth discipline): after a forget, every
  * artifact's readback must equal a from-scratch rebuild over the corpus
  * WITHOUT the ids — `q_forget_everywhere` gates exactly that diff, per
  * artifact, against the DuckDB-derived expected sizes.
  *
  * Crash ordering: every face is idempotent (anti-joins and overwrites of
  * affected directories; rerunning a forget with already-absent ids
  * rewrites the same survivors; the shingle face's negative delta lands
  * under a src tag derived from the id set itself, so a rerun's second
  * delta collapses in the (shingle, src) replay-dedup), so the recovery
  * story for a crash mid-pass is "rerun the whole forget" — ForgetSpec
  * drives a partial pass and proves the rerun converges. Every in-place
  * rewrite is a staged swap: whole levels through
  * [[Levels.stagedOverwrite]], named hive partitions through
  * [[Levels.rewritePartitions]]. Each writes the survivors to a hidden
  * staging BEFORE any target is touched and keeps that staging when it
  * fails, and the next pass over the same root installs it, so no crash
  * point loses survivor rows.
  *
  * Ids-only requests: the partition-pruned faces derive the affected
  * directories by RE-SIGNING the forgotten payloads, so a tombstone
  * frame that carries only ids (payload already purged upstream) is
  * refused loudly ([[requirePayload]]) — the alternatives are supplying
  * the payloads being erased or rebuilding the artifact from the
  * surviving corpus. */
object ForgetOps {

  /** Drop `ids` from a [[DedupOps.writeMinHashIndex]] layout — or from a
    * VERSIONED [[graft.streaming.StreamingOps.lshIndexStream]] sink, whose
    * `__batch=` levels each rewrite independently (one rewrite of the
    * whole root would flatten the level structure). Affected
    * `(band, bucket)` directories are derived by RE-SIGNING the forgotten
    * docs (the caller supplies them with text — a compliance pass holds
    * the payloads it is erasing), so the rewrite reads 1/(bands·buckets)
    * of the index per signature, never the whole artifact, and swaps
    * them in through [[Levels.rewritePartitions]] (an emptied directory
    * is dropped) — the [[graft.sources.Storage.deleteIndexAndRewrite]]
    * pattern. On a
    * streamed layout the pass ends with a lineage fence
    * ([[Levels.fence]]) so a stale-checkpoint restart cannot
    * resurrect forgotten rows by replaying its newest batch. */
  def forgetFromLshIndex(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4,
      nBuckets: Int = 64): Unit = {
    requirePayload(docs, textCol, "forgetFromLshIndex")
    DedupOps.assertLshMeta(spark, path, shingleK, nHashes, bands, nBuckets)
    val keys = DedupOps.bandedWithBucket(docs, idCol, textCol,
        shingleK, nHashes, bands, nBuckets)
      .select(col("band"), col("bucket")).distinct()
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSeq
    eachLevelPar(spark, Levels.dirsOrRoot(spark, path)) { root =>
      rewritePartitions(spark, root,
        keys.map { case (band, bucket) =>
          Seq("band" -> band, "bucket" -> bucket) },
        dropIds = docs.select(col(idCol).as("id")),
        joinCol = "id", sortCols = Seq("id"))
    }
    Levels.fence(spark, path)
  }

  /** Drop `ids` from a [[MultimodalOps.writePhashIndex]] layout (or a
    * versioned phashIndexStream sink — per-level, fenced, the
    * [[forgetFromLshIndex]] discipline) — affected `(band_ix, bucket)`
    * directories derived from the forgotten media's OWN frame hashes. */
  def forgetFromPhashIndex(spark: SparkSession, path: String,
      media: DataFrame, fps: Int = 4, k: Int = 8, nBuckets: Int = 64): Unit = {
    requirePayload(media, "content", "forgetFromPhashIndex")
    MultimodalOps.assertPhashMeta(spark, path, fps, k, nBuckets)
    val keys = MultimodalOps.bandedPhash(media, fps, k, nBuckets)
      .select(col("band_ix"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    eachLevelPar(spark, Levels.dirsOrRoot(spark, path)) { root =>
      rewritePartitions(spark, root,
        keys.map { case (bi, b) =>
          Seq("band_ix" -> bi.toString, "bucket" -> b.toString) },
        dropIds = media.select(col("media_id").as("media_id")),
        joinCol = "media_id", sortCols = Seq("media_id", "frame_ix"))
    }
    Levels.fence(spark, path)
  }

  /** Drop `ids` from a [[graft.operators.RetrievalOps.writePostingsIndex]]
    * (or postingsStream) layout: the affected `pt` directories come from
    * the forgotten docs' OWN terms; every `__batch=` level rewrites only
    * those directories, and the `_docs` length sidecar drops the ids'
    * rows level-by-level (each level is doc-count-slim). */
  def forgetFromPostingsIndex(spark: SparkSession, path: String,
      docs: DataFrame, nPt: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    requirePayload(docs, textCol, "forgetFromPostingsIndex")
    RetrievalOps.assertPostingsMeta(spark, path, nPt, "forgetFromPostingsIndex")
    val pts = docs
      .select(explode(graft.functions.TextFns.tokens(col(textCol))).as("tok"))
      .select(pmod(xxhash64(col("tok")), lit(nPt.toLong)).cast("int").as("pt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val ids = docs.select(col(idCol).cast("long").as("doc_id"))
    eachLevelPar(spark, Levels.dirs(spark, path)) { level =>
      rewritePartitions(spark, level,
        pts.map(pt => Seq("pt" -> pt.toString)),
        dropIds = ids, joinCol = "doc_id", sortCols = Seq("tok", "doc_id"))
    }
    // each `_docs` level is the only copy of its survivor rows
    purgeLevels(spark, s"$path/_docs", "doc_id LONG, dl LONG")(
      _.join(ids, Seq("doc_id"), "left_anti"))
    Levels.fence(spark, path, s"$path/_docs")
  }

  /** Subtract `docs` from a [[TextOps.writeShingleIndex]] layout by
    * appending a NEGATIVE-count delta to the `__batch=-1` base — the
    * streaming sink's own additive algebra, so the forget is delta-sized
    * (the forgotten docs' shingles only) and never rewrites existing
    * rows. The source tag is
    * derived from the FORGOTTEN ID SET itself (plus `passId` —
    * [[forgetSrc]]), so the face is IDEMPOTENT under the documented
    * "rerun the whole forget" recovery: a crashed-then-rerun pass (or an
    * at-least-once orchestration retry) lands a second delta whose
    * (shingle, src, cnt) rows are identical to the first, and
    * [[TextOps.readShingleCounts]]' (shingle, src) max-dedup collapses
    * the rerun into a no-op instead of double-subtracting. Distinct id
    * sets hash to distinct src tags, so two different forget passes (or
    * a forget and a real batch — real batches tag src >= -1) never
    * merge. Forgetting the SAME ids twice deliberately (the ids were
    * re-added in between) needs a bumped `passId` — with the default the
    * second pass is by design the first's no-op rerun. Shingles whose
    * corpus count reaches zero vanish at read time (readShingleCounts
    * drops zero-sum rows — a count of zero IS absence).
    *
    * Single-maintainer like every in-place face: run with any
    * shingleIndexStream quiesced — and with PROBES quiesced too: the
    * Append into the base is not atomic for concurrent readers, so a
    * probe racing the pass can observe a partial negative delta (counts
    * partially forgotten) until the append completes; committed state
    * before and after the pass is always consistent (ADVICE r20). The
    * delta lives in the BASE (below
    * every batch id), so the quiesced stream RESUMES legitimately at its
    * next batch id — the forget neither fences it out nor sits in the
    * frontier slot its per-batch Overwrite would destroy; a stale
    * checkpoint's replayed batch re-lands only its own deduped positive
    * partials, which the base delta still cancels (ForgetSpec drives the
    * resume and the replay). */
  def forgetFromShingleIndex(spark: SparkSession, path: String,
      docs: DataFrame, k: Int = 3, nPb: Int = 16, hashed: Boolean = true,
      idCol: String = "doc_id", textCol: String = "text",
      passId: Long = 0L): Unit = {
    requirePayload(docs, textCol, "forgetFromShingleIndex")
    TextOps.assertSpanMeta(spark, path, k, nPb = Some(nPb),
      hashed = Some(hashed))
    // The delta lands in the `__batch=-1` BASE, never at the
    // `__batch=max+1` frontier slot (ADVICE r19): the frontier is exactly
    // the batch id a quiesced shingleIndexStream resumes at, and its
    // per-batch Overwrite would destroy a forget delta parked there —
    // the forgotten counts would resurrect after the documented
    // quiesce→forget→resume flow. Level placement is semantically
    // irrelevant here: [[TextOps.readShingleCounts]] merges ALL levels'
    // source-tagged partials, deduped on (shingle, src), so the delta's
    // unique negative src survives both the read-side merge and
    // [[graft.streaming.StreamingOps.compactShingleIndex]]'s fold
    // wherever it sits. Append (not Overwrite) keeps existing base rows;
    // a crashed/rerun pass appends an IDENTICAL row set whose duplicates
    // collapse in the same (shingle, src) dedup — the idempotence
    // contract unchanged. No fence is needed: a stale checkpoint's
    // replayed batch re-lands exactly the positive partials it
    // originally landed (same src = batch id, deduped), which the base's
    // negative delta still cancels.
    TextOps.shinglePartialCounts(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        k, nPb, hashed, src = forgetSrc(docs, idCol, passId))
      .withColumn("cnt", -col("cnt"))
      .repartition(col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("pb").parquet(Levels.base(path))
  }

  /** The shingle forget's src tag: an order-independent digest of the
    * forgotten id set (sum + xor + count of per-id salted xxhash64 —
    * ONE agg job, a 1-row collect), mapped into the negative range below
    * -1 so it can never collide with the base level's src (-1) or a
    * stream batch's (>= 0). Deterministic across reruns by construction;
    * two distinct id sets colliding is a ~2^-63 event (documented,
    * accepted — same class as every content hash in the engine). */
  private[graft] def forgetSrc(ids: DataFrame, idCol: String,
      passId: Long): Long = {
    val r = ids
      .select(xxhash64(col(idCol).cast("string"), lit(passId)).as("__h"))
      // decimal sum: a long sum of 64-bit hashes overflows under ANSI
      .agg(sum(col("__h").cast("decimal(38,0)")).as("s"),
        expr("bit_xor(__h)").as("x"), count(lit(1)).as("c"))
      .collect()(0)
    val s = if (r.isNullAt(0)) 0L
      else r.getDecimal(0).toBigInteger.longValue() // wraps mod 2^64
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val mixed = java.lang.Long.rotateLeft(s, 17) ^
      java.lang.Long.rotateLeft(x, 43) ^ (r.getLong(2) * 0x9E3779B97F4A7C15L)
    -2L - (mixed & Long.MaxValue) % (Long.MaxValue - 2L)
  }

  /** Drop `ids` from a cell-partitioned ANN layout
    * ([[SimilarityOps.writeIvfIndex]] raw vectors or
    * [[SimilarityOps.writeSq8Index]] codes): the affected cell
    * directories are the forgotten vectors' own HOME cells, recomputed
    * from the FROZEN centroids (the persisted-index seed contract — the
    * same centroids every probe and landing uses), so the rewrite reads
    * 1/|cells| of the index per forgotten vector's cell and the result
    * equals a rebuild over the remaining vectors under those centroids
    * row-for-row (assignment and encoding are per-vector deterministic).
    * Probes after the forget can never return a forgotten id — its rows
    * are gone from the only directories that ever held them. */
  def forgetFromCellIndex(spark: SparkSession, path: String,
      vectors: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    SimilarityOps.assertSq8Meta(spark, path, centroids, "forgetFromCellIndex")
    forgetFromHomeCells(spark, path, vectors, centroids, idCol, vecCol,
      "forgetFromCellIndex")
  }

  /** [[forgetFromCellIndex]] for the [[SimilarityOps.writePqIndex]]
    * codes layout — the same home-cell rewrite under the frozen coarse
    * centroids (rows are (id, codes, cell) in both layouts; only the
    * geometry sidecar differs, asserted via the PQ `_meta.json`). The
    * codebooks play no part in the delete itself — cells are assigned by
    * the coarse centroids alone — but the caller supplies them so a
    * drifted (m, c, subDim) pass fails loudly like every PQ probe. */
  def forgetFromPqIndex(spark: SparkSession, path: String,
      vectors: DataFrame, centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    SimilarityOps.assertPqMeta(spark, path, centroids, codebooks,
      "forgetFromPqIndex")
    forgetFromHomeCells(spark, path, vectors, centroids, idCol, vecCol,
      "forgetFromPqIndex")
  }

  /** The shared home-cell rewrite behind the IVF/SQ8/PQ forgets: the
    * affected cell directories are the forgotten vectors' own homes
    * under the FROZEN centroids (per-vector deterministic, so the
    * readback equals a rebuild over the remaining vectors row-for-row). */
  private def forgetFromHomeCells(spark: SparkSession, path: String,
      vectors: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String, vecCol: String, face: String): Unit = {
    requirePayload(vectors, vecCol, face)
    val vecs = vectors.select(col(idCol).as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    val cells = SimilarityOps.assignCells(vecs, centroids)
      .select(col("cell")).distinct()
      .collect().map(_.get(0).toString).toSeq
    // a streamed sink (ivf/sq8/pqIndexStream) is `__batch=`-versioned —
    // rewrite each level's home cells; the flat batch layout is one root
    eachLevelPar(spark, Levels.dirsOrRoot(spark, path)) { root =>
      rewritePartitions(spark, root,
        cells.map(c => Seq("cell" -> c)),
        dropIds = vecs.select(col("id")), joinCol = "id", sortCols = Seq("id"))
    }
    Levels.fence(spark, path)
  }

  /** Forget `ids` from an exact k-NN graph: rows whose PROBE is an id
    * drop; rows that LIST an id as a neighbor are stale (the id may have
    * blocked a live neighbor from the top-k) and their probes re-query
    * the remaining corpus exactly ([[SimilarityOps.batchTopK]] — the same
    * deterministic (sim desc, id) ranking the builder used, so the result
    * equals a from-scratch rebuild row-for-row). Work is
    * delta-proportional: |affected probes| × corpus, never n². */
  def forgetFromKnnGraph(graph: DataFrame, embeddings: DataFrame,
      ids: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // graph rows: (vec_id = the probe, neighbor_id, sim, rank) — the
    // SimilarityOps.knnGraph contract
    val dead = ids.select(col(idCol).cast("long").as("__dead"))
      .localCheckpoint(true)
    val kept = graph
      .join(dead, col(idCol) === col("__dead"), "left_anti")
    val affectedProbes = kept
      .join(dead, col("neighbor_id") === col("__dead"), "left_semi")
      .select(col(idCol)).distinct()
    val untouched = kept.join(affectedProbes, Seq(idCol), "left_anti")
    val remaining = embeddings
      .join(dead, col(idCol) === col("__dead"), "left_anti")
    val requeried = SimilarityOps.batchTopK(
        remaining.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        remaining.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
          .join(affectedProbes.select(col(idCol).as("vec_id")),
            Seq("vec_id"), "left_semi"),
        k)
      .select(col("probe_id").as(idCol), col("vec_id").as("neighbor_id"),
        col("sim"), col("rank").cast("int").as("rank"))
    untouched
      .select(col(idCol), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .unionByName(requeried)
  }

  /** Forget `ids` from a PERSISTED
    * [[graft.streaming.StreamingOps.knnGraphStream]] store — the durable
    * twin of [[forgetFromKnnGraph]], covering both roots:
    *
    *  - `corpus/`: the dead vectors' rows leave their home-cell
    *    directories per level (ids-only by nature — their recorded `cell`
    *    column IS the home cell, read back as a two-column projection;
    *    no payload or re-assignment needed);
    *  - `edges/`: dead PROBES drop from every level (staged swaps —
    *    survivor row sets are the level's only copy), then every survivor
    *    probe that LISTED a dead neighbor re-queries the remaining corpus
    *    under the frozen centroids with the sink's own probe discipline
    *    (nProbe cells, floored cosine, (sim desc, id) ranking) and lands
    *    INSIDE the newest existing data level (that level's remaining
    *    rows for the affected probes are dropped first) — latest-wins
    *    resolution picks the corrections exactly as it picked the rows
    *    they supersede. The corrections deliberately do NOT occupy the
    *    `__batch=max+1` frontier slot: that is the batch id the quiesced
    *    stream resumes at, and its per-batch Overwrite would clobber a
    *    requery level there (resurrecting forgotten neighbors via the
    *    pre-forget rows its carried-candidates read resolves to). Both
    *    roots end with an explicit DATALESS fence at the frontier.
    *
    * After the pass, [[graft.streaming.StreamingOps.readKnnGraph]] equals
    * the batch [[SimilarityOps.knnGraph]] over the surviving vectors at
    * the same nProbe (the KnnStreamSpec equality, minus the ids): an
    * unaffected probe's top-k cannot change when no member left, and
    * affected probes are recomputed outright. Work is delta-proportional:
    * |affected probes| x probed-cell population, plus a column-pruned
    * (id, cell) scan to locate the dead rows' homes.
    *
    * Crash anywhere -> rerun converges: the corpus rewrite and level
    * drops are idempotent anti-joins, the corrected level swaps in
    * through staging ([[Levels.stagedOverwrite]] — a torn level can never win
    * latest-wins), and a completed pass's rerun finds nothing affected
    * and rewrites no level (the fences block stale replays —
    * knnGraphBatch guards every root before any write, and the resumed
    * live stream's next batch id equals the fence and legitimately
    * overwrites it). Single-maintainer: quiesce the graph stream;
    * ForgetSpec drives the legitimate resume and asserts no forgotten
    * id reappears. */
  def forgetFromKnnGraphStore(spark: SparkSession, path: String,
      ids: DataFrame, k: Int, nProbe: Int,
      centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id"): Unit = {
    graft.plans.GraftFunctions.register(spark)
    val corpusDir = s"$path/corpus"
    val edgesDir = s"$path/edges"
    val dead = ids.select(col(idCol).cast("long").as("__dead"))
      .localCheckpoint(true)
    val corpusDDL = "id LONG, v ARRAY<DOUBLE>, cell INT, __batch LONG"
    // heal before the cell scan, as forgetByScan does
    Levels.dirs(spark, corpusDir).foreach(Levels.healRewrite(spark, _))
    def corpusNow() = spark.read.schema(corpusDDL)
      .option("basePath", corpusDir).parquet(corpusDir)
    val cells = corpusNow().select(col("id"), col("cell"))
      .join(dead, col("id") === col("__dead"), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.get(0).toString).toSeq
    eachLevelPar(spark, Levels.dirs(spark, corpusDir)) { level =>
      rewritePartitions(spark, level, cells.map(c => Seq("cell" -> c)),
        dropIds = dead.select(col("__dead").as("id")), joinCol = "id",
        sortCols = Seq("id"))
    }
    purgeLevels(spark, edgesDir, EdgesDDL)(
      _.join(dead, col("vec_id") === col("__dead"), "left_anti"))
    // delta-bounded (the ids' blast radius) and consumed twice (the
    // emptiness probe + the requery join) — pin it so the resolved-graph
    // window runs once
    val affected = graft.streaming.StreamingOps.readKnnGraph(spark, path)
      .join(dead, col("neighbor_id") === col("__dead"), "left_semi")
      .select(col("vec_id").as("id")).distinct()
      .localCheckpoint(true)
    val remaining = corpusNow().select(col("id"), col("v"), col("cell"))
    // the sink's own probe discipline (knnGraphBatch's scored join):
    // affected probes x their nProbe cells against the surviving corpus
    val parts = spark.sessionState.conf.numShufflePartitions
    val probes = remaining.join(affected, Seq("id"), "left_semi")
      .select(col("id").as("qid"), col("v").as("qv"),
        explode(SimilarityOps.topCellsExpr(col("v"), centroids, nProbe))
          .as("cell"))
      .repartition(parts, col("qid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    val requeried = probes
      .join(remaining.select(col("cell"), col("id"), col("v")), Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), graft.functions.NumFns
        .floorAt(graft.plans.GraftFunctions.cosine(col("qv"), col("v")), 4)
        .as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("id").as("neighbor_id"),
        col("sim"), col("rank").cast("int").as("rank"))
    // nothing to re-query (a rerun of a completed pass, or ids nobody
    // listed) rewrites NO level at all; the fences below still block
    // stale replays on their own (knnGraphBatch guards every root before
    // any write)
    if (!affected.isEmpty) {
      // The corrected rows must NOT land at the frontier slot
      // __batch=max+1: that is exactly the batch id the quiesced stream
      // resumes at, and knnGraphBatch's per-batch Overwrite would clobber
      // the requery level — and its 'carried' candidates are built from
      // resolveKnnEdges(__batch < batchId), i.e. the pre-forget stale
      // rows below it — so forgotten vectors would resurrect in the
      // served graph after the documented quiesce→forget→resume flow.
      // Instead the corrected rows land INSIDE the newest existing DATA
      // level (that level's remaining rows for affected probes are
      // anti-joined away first, so the level holds ONE consistent row
      // set per probe): latest-wins resolution picks the corrections
      // exactly as it picked the rows they supersede, and the frontier
      // slot holds only the dataless fence the resumed stream may
      // legitimately overwrite.
      val (f, ep) = Levels.fs(spark, edgesDir)
      val newestData = Levels.ids(f, ep).reverse
        .find(id => Levels.hasData(f, new org.apache.hadoop.fs.Path(Levels.dir(edgesDir, id))))
      require(newestData.nonEmpty,
        s"forgetFromKnnGraphStore: affected probes exist but $edgesDir holds " +
          "no data level — corrupted store?")
      val newest = Levels.dir(edgesDir, newestData.get)
      Levels.stagedOverwrite(newest, spark.read.schema(EdgesDDL).parquet(newest)
        .join(affected.select(col("id").as("__aff")),
          col("vec_id") === col("__aff"), "left_anti")
        .unionByName(requeried))
    }
    // fences on BOTH roots: a stale checkpoint's replay of its newest
    // batch would overwrite the corrected level (edges) or re-land dead
    // rows from the replayed input (corpus) — each fence makes it refuse
    // loudly, while the live stream's next batch id equals the fence and
    // legitimately overwrites the dataless directory
    Levels.fence(spark, corpusDir, edgesDir)
  }

  /** Forget `ids` from a near-dup cluster assignment, splits included:
    * components containing an id re-close from the surviving pair list
    * (the caller passes pairs ALREADY excluding the ids — banded pair
    * truths for unrelated docs are unchanged by a delete), every other
    * component keeps its prior labels verbatim. Equal to a from-scratch
    * [[DedupOps.nearDupClustersStar]] over the surviving pairs because
    * labels are canonical min-ids: an untouched component closes to the
    * same labels, and an affected one is recomputed outright. Work is
    * O(affected components' edges), never O(all pairs). */
  def forgetClusters(prior: DataFrame, survivingPairs: DataFrame,
      ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val dead = ids.select(col(idCol).cast("long").as("__dead"))
    val affectedClusters = prior
      .join(dead, col("doc_id") === col("__dead"), "left_semi")
      .select(col("cluster_id")).distinct()
    val keep = prior
      .join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    val members = prior.join(affectedClusters, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    val affectedEdges = survivingPairs
      .join(members, col("id1") === col("doc_id"), "left_semi")
    DedupOps.nearDupClustersStar(affectedEdges).unionByName(keep)
  }

  /** Forget `ids` from a schedule sink ([[graft.streaming.StreamingOps]]'
    * `scheduleBatch` layout — `_docs/__batch=*` evidence +
    * `manifest/__batch=*` served versions): every evidence level drops
    * the ids' rows (evidence FIRST — at any crash point the served
    * manifest is at worst stale, never derived from evidence that still
    * remembers the ids after the pass claims success; each level swaps
    * through [[Levels.stagedOverwrite]], so no crash point loses survivor
    * evidence), then the NEWEST manifest version is re-derived from the
    * surviving evidence via the caller's `remanifest` (staged too — the
    * served version is never torn), and finally every OLDER manifest
    * version is vacuumed ([[graft.streaming.StreamingOps
    * .vacuumScheduleManifests]] down to the newest): superseded versions
    * are full snapshots that still remember the forgotten ids, so a
    * compliance pass that left them readable would not have erased
    * anything — the retention contract is that a completed forget leaves
    * exactly ONE served version, the re-derived newest. Version numbering
    * of that newest version is untouched, so the sink's checkpoint
    * lineage stays valid; a STALE-checkpoint replay of a committed batch
    * (whose delta would re-land forgotten evidence from the replayed
    * input) refuses at the evidence fence the pass lands, while the live
    * stream's next batch resumes over it. A crash between the
    * re-manifest and the vacuum leaves older versions readable until the
    * documented rerun — the window is the pass itself, never "forever". */
  def forgetFromSchedule(spark: SparkSession, path: String, ids: DataFrame,
      deltaDDL: String, remanifest: DataFrame => DataFrame): Unit = {
    val dead = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .localCheckpoint(true)
    purgeLevels(spark, s"$path/_docs", deltaDDL)(_.join(dead, Seq("doc_id"), "left_anti"))
    Levels.heal(spark, s"$path/manifest")
    val manifests = Levels.dirs(spark, s"$path/manifest")
    require(manifests.nonEmpty,
      s"forgetFromSchedule: no served manifest under $path/manifest")
    val newest = manifests.last
    val dataCols = org.apache.spark.sql.types.StructType.fromDDL(deltaDDL)
      .fieldNames.filterNot(_ == "doc_id").toSeq
    val corpus = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(s"$deltaDDL, __batch LONG"))
      .parquet(s"$path/_docs")
      .groupBy(col("doc_id"))
      .agg(max_by(struct(dataCols.map(col): _*),
        struct((col("__batch") +: dataCols.map(col)): _*)).as("__v"))
      .select(col("doc_id") +: dataCols.map(c => col(s"__v.$c").as(c)): _*)
    Levels.stagedOverwrite(newest, remanifest(corpus))
    graft.streaming.StreamingOps.vacuumScheduleManifests(spark, path,
      keepVersions = 1)
    // enforce the quiesce contract instead of assuming it: a stale
    // checkpoint replaying the NEWEST batch would re-land its delta from
    // the replayed input — resurrecting forgotten evidence if the ids
    // arrived in that batch. The evidence fence makes it refuse loudly
    // (scheduleBatch guards every root BEFORE any write, so one fenced
    // root blocks the whole batch); the live stream's next batch id
    // equals the fence and overwrites it. The manifest root is NOT
    // fenced — readLatestManifest serves the newest `_SUCCESS`-carrying
    // version, and a fence dir would read as an empty manifest.
    Levels.fence(spark, s"$path/_docs")
  }

  /** Forget `ids` from a [[graft.streaming.StreamingOps.curatedIngest]]
    * landing — BOTH sides: the landed document rows AND the `_para_index`
    * admission keys the ids contributed. Without the index side, a
    * forgotten document's admitted 8-byte paragraph keys would sit in the
    * index forever and identical content arriving later from a surviving
    * source would be silently dropped — the landing's dedup truth would
    * drift from "dedup against the surviving corpus".
    *
    * The forgotten ADMITTED keys are derived from the ids' own LANDED
    * `clean_text` (re-chunked — kept chunks are all exactly `chunkSize`
    * tokens except a doc's final one, so re-chunking the reassembled text
    * reproduces the admitted keys bit-exactly), NOT from the raw payload:
    * a raw-text key the id merely SHARED with an earlier admitter belongs
    * to the surviving corpus and must stay. This also makes the face
    * ids-only by nature — the landing itself holds the payload evidence.
    * Key removal is a partition-pruned [[rewritePartitions]] of the
    * touched `pb` directories per level; document removal is a
    * [[Levels.stagedOverwrite]] anti-join per level (no truncation window).
    *
    * Re-admission contract (the oracle row's law): after the forget, a
    * re-crawl that re-sends content whose every admitter was forgotten is
    * ADMITTED again, and the index converges to the same key set a
    * rebuild over (surviving ∪ re-crawl) produces.
    *
    * Single-maintainer: run with the ingest stream quiesced. The pass
    * ends by landing an EMPTY fence level at max+1 on both roots, so a
    * stale-checkpoint restart below the fence refuses loudly
    * (requireBatchLineage) instead of resurrecting forgotten rows by
    * replaying its newest batch; the live stream's NEXT batch id equals
    * the fence and legitimately overwrites it. Crash anywhere → rerun
    * (keys are re-derivable while the doc rows survive, and the doc purge
    * runs after the index rewrite; once the docs are purged a rerun's key
    * set is empty and only the fences remain to land). */
  def forgetFromCuratedLanding(spark: SparkSession, outDir: String,
      ids: DataFrame, chunkSize: Int = 8, nPb: Int = 64,
      idCol: String = "doc_id"): Unit = {
    val docsRoot = s"$outDir/docs"
    val idx = s"$outDir/_para_index"
    // a landing that never received a batch has nothing to forget (and
    // no docs directory to read)
    val docsPath = new org.apache.hadoop.fs.Path(docsRoot)
    if (!docsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(docsPath)) return
    ParamMeta.assertMatches(spark, idx,
      Seq("chunkSize" -> chunkSize.toLong, "nPb" -> nPb.toLong),
      "curated-landing parameters", "a fresh curatedIngest outDir")
    // heal any crashed fold FIRST: keys hidden in _compacting/_retired
    // leftovers would dodge the rewrite and resurface at the next fold
    graft.streaming.StreamingOps.compactParaIndex(spark, outDir)
    graft.streaming.StreamingOps.compactCuratedDocs(spark, outDir)
    Levels.heal(spark, docsRoot)
    val docsDDL = "doc_id LONG, clean_text STRING, n_kept LONG, n_dropped LONG"
    val dead = ids.select(col(idCol).cast("long").as("doc_id"))
      .localCheckpoint(true)
    val landed = spark.read
      .schema(s"$docsDDL, __batch LONG")
      .option("basePath", docsRoot).parquet(docsRoot)
      .join(dead, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("clean_text").as("text"))
    // eager: the rewrites below mutate the very directories this reads
    val keys = TextOps.chunkTokens(landed, chunkSize, chunkSize)
      .select(xxhash64(col("chunk_text")).as("__k")).distinct()
      .withColumn("pb", pmod(col("__k"), lit(nPb.toLong)).cast("int"))
      .localCheckpoint(true)
    val touched = keys.select(col("pb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    eachLevelPar(spark, Levels.dirs(spark, idx)) { level =>
      rewritePartitions(spark, level,
        touched.map(pb => Seq("pb" -> pb.toString)),
        dropIds = keys.select(col("__k")), joinCol = "__k",
        sortCols = Seq("__k"))
    }
    // docs purge stays AFTER the full index rewrite (the crash contract:
    // keys are re-derivable only while the doc rows survive)
    purgeLevels(spark, docsRoot, docsDDL)(_.join(dead, Seq("doc_id"), "left_anti"))
    // lineage fences on both roots (landing levels are always >= 0)
    Levels.fence(spark, idx, docsRoot)
  }

  /** Forget `ids` from a content-addressed chunk store of EITHER layout
    * generation: the flat [[MultimodalOps.writeChunkStore]] layout
    * delegates to [[MultimodalOps.deleteFromChunkStore]]; a LEVELED
    * [[graft.streaming.StreamingOps.chunkStoreIngest]] sink (which the
    * batch GC deliberately refuses) forgets per level — every recipes
    * level drops the ids' rows (staged swaps), then every chunks level
    * keeps only addresses some surviving recipe still references
    * (recipes FIRST: at any crash point the chunk set is a superset of
    * what live recipes need, the flat face's ordering argument), and
    * both roots take a lineage fence. A GC'd address whose content
    * later re-arrives is novel again and re-stores — the ingest's
    * anti-join reads the post-forget address set, so the store's dedup
    * truth tracks the SURVIVING corpus (the curated-landing argument).
    * Ids-only by nature (recipes are keyed by the id). Heals a crashed
    * compaction first — keys hidden in fold leftovers must not dodge
    * the rewrite. */
  def forgetFromChunkStore(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "media_id"): Unit = {
    if (Levels.dirs(spark, s"$path/recipes").isEmpty) {
      MultimodalOps.deleteFromChunkStore(spark, path, ids, idCol)
      return
    }
    graft.streaming.StreamingOps.compactChunkStore(spark, path)
    val dead = ids.select(col(ids.columns.head).cast("long").as(idCol))
      .localCheckpoint(true)
    purgeLevels(spark, s"$path/recipes", s"$idCol LONG, chunk_idx INT, addr STRING")(
      _.join(dead, Seq(idCol), "left_anti"))
    val live = spark.read
      .schema(s"$idCol LONG, chunk_idx INT, addr STRING, __batch LONG")
      .option("basePath", s"$path/recipes").parquet(s"$path/recipes")
      .select(col("addr")).distinct().localCheckpoint(true)
    purgeLevels(spark, s"$path/chunks", "addr STRING, chunk_bytes BINARY")(
      _.join(live, Seq("addr"), "left_semi"))
    Levels.fence(spark, s"$path/recipes", s"$path/chunks")
  }

  /** The EXPLICIT ids-only fallback for a hive-partitioned artifact —
    * when the erasure request's payload was already purged upstream, the
    * partition-pruned faces cannot re-sign it and [[requirePayload]]
    * refuses; this face instead derives the affected partitions from the
    * ARTIFACT ITSELF: a column-pruned (joinCol + partition columns)
    * projection scan semi-joined with the ids, then the same
    * [[rewritePartitions]] rewrite of only those directories. The scan
    * is the explicit, caller-chosen cost (at 100 TB it reads two slim
    * columns of every row group — parquet column pruning, no payloads);
    * everything after it is delta-proportional. Works on flat and
    * versioned (`__batch=`) layouts, fences streamed ones — the
    * [[forgetFromLshIndex]] discipline with a scan instead of a
    * signature. Equal to the payload-deriving face's result by
    * construction: both rewrite every directory that holds an id row.
    *
    * `partCols` must name the layout's hive partition columns in
    * directory order (e.g. `Seq("band", "bucket")` for an LSH index,
    * `Seq("cell")` for a cell store, `Seq("pt")` for postings levels). */
  def forgetByScan(spark: SparkSession, path: String, ids: DataFrame,
      joinCol: String, partCols: Seq[String],
      sortCols: Seq[String] = Seq.empty): Unit = {
    require(partCols.nonEmpty, "forgetByScan needs the hive partition columns")
    val rawDead = ids.select(col(ids.columns.head).as(joinCol))
    val sorts = if (sortCols.nonEmpty) sortCols else Seq(joinCol)
    // every level is checked — key width, null partitions — BEFORE the
    // first rewrite: a refusal on a later level must not leave the
    // earlier levels already rewritten
    val rewrites = Levels.dirsOrRoot(spark, path).flatMap { root =>
      // heal before the scan: a partition that a failed swap left only in
      // its staging would be missed by the scan, then healed in unforgotten
      Levels.healRewrite(spark, root)
      val (f, rootPath) = Levels.fs(spark, root)
      if (!f.exists(rootPath) || !f.listStatus(rootPath).exists(
          _.getPath.getName.startsWith(partCols.head + "="))) None
      else {
        val scanned = spark.read.parquet(root)
          .select((joinCol +: partCols).map(col): _*)
        // cast the ids to the ARTIFACT's join-column type before the
        // semi-join: an untyped caller frame (ids as INT against a LONG
        // column, or strings) would otherwise coerce both sides to a
        // common type — or null-join — and silently rewrite nothing.
        // WIDENING only: a narrowing integral cast silently wraps (LONG
        // id 2^32+5 against an INT-keyed artifact becomes 5) and could
        // match — and delete — an unrelated row, so refuse it loudly
        // like the null-partition guard below.
        val idType = rawDead.schema(joinCol).dataType
        val keyType = scanned.schema(joinCol).dataType
        def bits(dt: org.apache.spark.sql.types.DataType): Option[Int] = dt match {
          case org.apache.spark.sql.types.ByteType => Some(8)
          case org.apache.spark.sql.types.ShortType => Some(16)
          case org.apache.spark.sql.types.IntegerType => Some(32)
          case org.apache.spark.sql.types.LongType => Some(64)
          case _ => None
        }
        (bits(idType), bits(keyType)) match {
          case (Some(iw), Some(kw)) => require(iw <= kw,
            s"forgetByScan: the ids' type $idType is WIDER than the " +
              s"artifact's '$joinCol' type $keyType in $root — the " +
              "narrowing cast wraps (an out-of-range id could match an " +
              "unrelated row and delete it); pre-narrow the ids after " +
              "proving they fit, or rebuild the artifact with the wider key")
          case _ => ()
        }
        val dead = rawDead
          .select(col(joinCol).cast(keyType))
          .localCheckpoint(true)
        val affectedRows = scanned
          .join(dead, Seq(joinCol), "left_semi")
          .select(partCols.map(col): _*).distinct().collect()
        // a null partition value is a __HIVE_DEFAULT_PARTITION__
        // directory — rewritePartitions' literal pruning cannot address
        // it; refuse with the remedy instead of NPE-ing mid-pass
        affectedRows.foreach { r =>
          partCols.indices.foreach { i =>
            require(!r.isNullAt(i),
              s"forgetByScan: a row of '$joinCol' to forget lives under a " +
                s"NULL '${partCols(i)}' partition (__HIVE_DEFAULT_PARTITION__) " +
                s"in $root — null-keyed directories cannot be partition-pruned " +
                "by literal; rebuild the artifact from the surviving corpus " +
                "or repair the null partition first")
          }
        }
        val affected = affectedRows
          .map(r => partCols.indices.map(i =>
            partCols(i) -> r.get(i).toString): Seq[(String, String)]).toSeq
        Some((root, affected, dead))
      }
    }
    rewrites.foreach { case (root, affected, dead) =>
      rewritePartitions(spark, root, affected, dropIds = dead,
        joinCol = joinCol, sortCols = sorts)
    }
    Levels.fence(spark, path)
  }

  /** Persist the ATTESTATION of a completed composed forget pass — the
    * durable record a GDPR audit reads (records, not job logs): WHO/WHAT
    * via the id-set digest + id count, the per-artifact evidence
    * (n_after, n_diff) the pass computed, WHEN via a wall-clock stamp,
    * and the caller's parameters, under a monotone `__pass=<n>` version
    * directory at `root`. Completion discipline: the evidence parquet
    * lands first, the `_meta.json` sidecar last — the sidecar IS the
    * completion marker, so a pass that crashed mid-attestation leaves a
    * version [[readAttestation]] ignores (and the documented rerun
    * re-attests under the next pass id). Returns the pass id. */
  def writeAttestation(spark: SparkSession, root: String, ids: DataFrame,
      idCol: String, audit: Seq[(String, Long, Long)],
      params: Seq[(String, Long)] = Seq.empty): Long = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val passId = (if (f.exists(rootPath))
        f.listStatus(rootPath).map(_.getPath.getName)
          .filter(_.startsWith("__pass=")).map(_.stripPrefix("__pass=").toLong)
      else Array.empty[Long]).foldLeft(-1L)(math.max) + 1L
    val dir = s"$root/__pass=$passId"
    val nIds = ids.agg(count(lit(1))).collect()(0).getLong(0)
    import spark.implicits._
    audit.toDF("artifact", "n_after", "n_diff")
      .coalesce(1)
      .write.mode(SaveMode.ErrorIfExists).parquet(dir)
    ParamMeta.write(spark, dir, Seq(
      "pass_id" -> passId,
      "ids_digest" -> forgetSrc(ids, idCol, passId = 0L),
      "n_ids" -> nIds,
      "completed_at_ms" -> System.currentTimeMillis()) ++ params)
    passId
  }

  /** The newest COMPLETE attestation's per-artifact evidence (complete =
    * carries the `_meta.json` completion marker — a crashed pass's
    * partial version is invisible). Throws when no complete attestation
    * exists: "was this corpus ever erased?" must never silently read as
    * an empty audit. */
  def readAttestation(spark: SparkSession, root: String): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val complete = (if (f.exists(rootPath))
        f.listStatus(rootPath).map(_.getPath.getName)
          .filter(_.startsWith("__pass=")).map(_.stripPrefix("__pass=").toLong)
          .toSeq
      else Seq.empty[Long])
      .filter(p => ParamMeta.readText(spark, s"$root/__pass=$p").isDefined)
    require(complete.nonEmpty,
      s"readAttestation: no complete forget attestation under $root — " +
        "either no composed pass ever finished here, or the path is wrong")
    spark.read.parquet(s"$root/__pass=${complete.max}")
      .select(col("artifact"), col("n_after"), col("n_diff"))
  }

  /** Refuse an ids-only erasure request on a face that derives its
    * affected partitions by re-signing the forgotten payloads. Failing
    * here is the contract: silently proceeding would NPE deep in the
    * signature derivation, and guessing (a full artifact scan) would turn
    * a delta-proportional face into a corpus-sized one behind the
    * caller's back. */
  private def requirePayload(df: DataFrame, colName: String,
      face: String): Unit =
    require(df.columns.contains(colName),
      s"$face derives the affected partitions by re-signing the forgotten " +
        s"payloads, but the tombstone frame has no '$colName' column (an " +
        "ids-only erasure request — payload purged upstream?). Supply the " +
        "payloads being erased, use ForgetOps.forgetByScan (the explicit " +
        "column-pruned-scan fallback), or rebuild the artifact from the " +
        s"surviving corpus. Columns present: ${df.columns.mkString(", ")}")

  /** Run `f` once per level with the levels OVERLAPPED on a small pool
    * (optimization guide §2.6): a face's per-level rewrites touch
    * DISJOINT `__batch=` directories and share only read-only (pinned)
    * frames, so one level's straggler/commit tail back-fills with the
    * next level's tasks instead of idling the executors. Ordering
    * BETWEEN loops (e.g. recipes before chunks, index before docs) is
    * the caller's crash contract and stays sequential — only levels
    * within one loop overlap. Sequential fast path when <= 1 level
    * (flat layouts) via [[Par.run]]. */
  private def eachLevelPar(spark: SparkSession, levels: Seq[String])(
      f: String => Unit): Unit = {
    Par.run(spark, parallelism = 4)(levels.map(l => () => f(l)): _*)
    ()
  }

  /** Rewrite every level under `root` to `keep(level rows)` through
    * [[Levels.stagedOverwrite]] — each level is the only copy of its
    * survivor rows, so it swaps via staging, never truncates in place —
    * after healing a prior pass's crashed swap ([[Levels.heal]]). */
  private def purgeLevels(spark: SparkSession, root: String, ddl: String)(
      keep: DataFrame => DataFrame): Unit = {
    Levels.heal(spark, root)
    eachLevelPar(spark, Levels.dirs(spark, root)) { level =>
      Levels.stagedOverwrite(level, keep(spark.read.schema(ddl).parquet(level)))
    }
  }

  private val EdgesDDL = "vec_id LONG, neighbor_id LONG, sim DOUBLE, rank INT"

  /** The shared partition-pruned rewrite: the named hive partitions of
    * `root` minus the rows whose `joinCol` is in `dropIds`, through
    * [[Levels.rewritePartitions]]' staged swap. The forgotten ids are
    * delta-sized and broadcast, as a delete's tombstones are: the planner
    * then never sizes the rewrite's read, which would list every
    * partition directory of `root`. */
  private def rewritePartitions(spark: SparkSession, root: String,
      partitions: Seq[Seq[(String, String)]], dropIds: DataFrame,
      joinCol: String, sortCols: Seq[String]): Unit =
    Levels.rewritePartitions(spark, root, partitions, sortCols)(
      _.join(broadcast(dropIds.select(col(joinCol))), Seq(joinCol), "left_anti"))
}
