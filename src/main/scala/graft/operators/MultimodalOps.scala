package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (builder mandate §G): image/audio/video
  * treated as opaque `binary` columns with typed metadata.
  *
  * The real pipeline shape at 100 TB:
  *   binary parquet column -> repartition to decode-sized tasks ->
  *   per-partition batched decode (vectorized UDF / mapPartitions) ->
  *   feature columns.
  *
  * The decode itself is STUBBED (this container has no image/audio codecs):
  * `decodeStub` derives deterministic pseudo-features from the raw bytes.
  * Everything around it — schema, batch shape, partitioning, the
  * mapPartitions seam where a JNI/codec call would sit — is real and
  * tested. Swapping in a real decoder changes only the marked function.
  */
object MultimodalOps {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
  ))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", IntegerType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false),
    StructField("max_byte", IntegerType, nullable = false),
    StructField("entropy_proxy", DoubleType, nullable = false),
  ))

  /** Make a media table out of the documents fixture: utf-8 bytes stand in
    * for encoded frames. (Deterministic fake, clearly not a decoder.) */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text/fake").as("media_type"),
      to_binary(col("text"), lit("utf-8")).as("content"))

  /** ======= STUB: replace with a real codec call. =======
    * Deterministic per-blob pseudo-decode: byte-level stats standing in for
    * decoded-frame features. Runs per partition so a real implementation
    * can amortize codec init across the batch (the mapPartitions seam). */
  def decodeStub(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "content").rdd.mapPartitions { rows =>
      // a real decoder would initialize its codec context ONCE here
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val n = bytes.length
        val mean = if (n == 0) 0.0 else bytes.map(b => (b & 0xFF).toDouble).sum / n
        val mx = if (n == 0) 0 else bytes.map(_ & 0xFF).max
        val distinct = bytes.map(_ & 0xFF).distinct.length
        val entropyProxy = if (n == 0) 0.0 else distinct.toDouble / math.min(n, 256).toDouble
        Row(id, n, mean, mx, entropyProxy)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Declarative metadata extraction (no decode): runs fully in codegen. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("media_type"),
      octet_length(col("content")).as("byte_len"),
      md5(col("content")).as("content_md5"))

  /** ======= STUB: replace with a real image resize. =======
    * Deterministic "resize": truncate/pad the blob to `targetBytes` —
    * stands in for decode->scale->re-encode while keeping the schema and
    * batch shape (fixed-size binary features) real. */
  def resizeStub(media: DataFrame, targetBytes: Int): DataFrame =
    media.select(
      col("media_id"),
      col("media_type"),
      // binary rpad overload (zero-byte padding) — no string round trip,
      // arbitrary bytes survive
      call_function("rpad",
        col("content").substr(lit(1), lit(targetBytes)),
        lit(targetBytes), lit(Array[Byte](0))).as("content_resized"))

  /** Deterministic frame-sampling manifest — the "frame-sample" stage of
    * a video/audio pipeline as pure Spark plumbing (no codec: the
    * container is modeled as fixed-`frameBytes` frames, the stand-in for
    * a real demuxer's frame index exactly like [[decodeStub]] stands in
    * for a decoder): per media row with `nFrames = byte_len DIV
    * frameBytes` frames, sample `k' = min(k, nFrames)` frames at the
    * MIDPOINTS of k' equal strata — `frame_idx = ((2i+1)·nFrames) DIV
    * (2k')`, strictly increasing, never frame-0-biased — and emit the
    * loader plan plus the sliced frame payload digest:
    * `(media_id, frame_ix, frame_idx, byte_start, ts_ms, frame_md5)`
    * (`ts_ms = frame_idx·1000 DIV fps`). Map-only: a bounded ≤k explode
    * per row and a codegen substring/md5 — no exchange at any corpus
    * size; media shorter than one frame emits nothing. */
  def frameSampleManifest(
      media: DataFrame,
      frameBytes: Int,
      fps: Int,
      k: Int): DataFrame = {
    require(frameBytes >= 1, "frameBytes must be >= 1")
    require(fps >= 1, "fps must be >= 1")
    require(k >= 1, "k must be >= 1")
    media
      .select(col("media_id"), col("content"),
        expr(s"CAST(octet_length(content) AS LONG) DIV ${frameBytes}L").as("__nf"))
      .filter(col("__nf") > 0)
      .withColumn("__k", least(lit(k.toLong), col("__nf")))
      .withColumn("frame_ix", explode(expr("sequence(0L, __k - 1)")))
      .withColumn("frame_idx",
        expr("((2 * frame_ix + 1) * __nf) DIV (2 * __k)"))
      .select(
        col("media_id"),
        col("frame_ix"),
        col("frame_idx"),
        (col("frame_idx") * frameBytes.toLong).as("byte_start"),
        expr(s"(frame_idx * 1000L) DIV ${fps}L").as("ts_ms"),
        md5(col("content").substr(
          (col("frame_idx") * frameBytes.toLong + 1L).cast("int"),
          lit(frameBytes))).as("frame_md5"))
  }

  /** Cross-media frame-level dedup over [[frameSampleManifest]] digests:
    * frames whose sampled payload hashes collide across ≥ `minMedia`
    * DISTINCT media rows — the video/image dedup primitive (re-encoded
    * or re-muxed copies share frame content even when container bytes
    * differ; with real decode behind the stub seam this becomes
    * perceptual-frame dedup). One map-side-combined shuffle keyed on the
    * digest; output `(frame_md5, n_occurrences, n_media, first_media)`
    * sized by the duplicate set, never the corpus. */
  def frameDups(
      media: DataFrame,
      frameBytes: Int,
      fps: Int,
      k: Int,
      minMedia: Int = 2): DataFrame = {
    require(minMedia >= 2, "minMedia >= 2")
    frameSampleManifest(media, frameBytes, fps, k)
      .groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("media_id")).as("n_media"),
        min(col("media_id")).as("first_media"))
      .filter(col("n_media") >= minMedia.toLong)
  }

  /** Byte-level content-defined chunking of the binary payload — the
    * multimodal dedup primitive: chunk frames survive container
    * prepends/re-muxes that shift every fixed-offset frame (the token
    * twin with the full rationale is [[DedupOps.cdcChunks]]). Boundaries
    * come from the native O(n) rolling kernel
    * [[graft.plans.CdcBoundaries]]; chunk extraction is then a pure
    * codegen projection (boundary array -> [start, end) ranges ->
    * substring) — the whole pass is map-only, no exchange at any corpus
    * size. Media rows with NULL or empty payloads produce no chunks.
    * Output: (id, chunk_idx, chunk_bytes). */
  def cdcByteChunks(
      media: DataFrame,
      w: Int = 8,
      divisor: Int = 16,
      idCol: String = "media_id",
      binCol: String = "content"): DataFrame = {
    graft.plans.GraftFunctions.register(media.sparkSession)
    val bnds = graft.plans.GraftFunctions.cdcBoundaries(col(binCol), w, divisor)
    media
      .filter(octet_length(col(binCol)) > 0)
      .select(col(idCol), col(binCol),
        posexplode(zip_with(
          concat(array(lit(0)), bnds),
          concat(bnds, array(octet_length(col(binCol)))),
          (s, e) => struct(s.as("s"), e.as("e")))).as(Seq("chunk_idx", "r")))
      .select(col(idCol), col("chunk_idx"),
        call_function("substring",
          col(binCol), col("r.s") + 1, col("r.e") - col("r.s")).as("chunk_bytes"))
  }

  /** Corpus-wide byte-CDC duplication report ([[DedupOps.cdcChunkStats]]'s
    * binary twin): per media row, how many of its CDC chunks occur >= 2
    * times anywhere in the corpus. Occurrence identity is the chunk BYTES
    * themselves by default (both engines compare exact content — no hash
    * collision seam in the oracle); `hashed = true` ships the 8-byte
    * xxhash64 instead — the 100 TB mode. */
  def cdcByteStats(
      media: DataFrame,
      w: Int = 8,
      divisor: Int = 16,
      idCol: String = "media_id",
      binCol: String = "content",
      hashed: Boolean = false): DataFrame = {
    val chunks = cdcByteChunks(media, w, divisor, idCol, binCol)
      .withColumn("__key", if (hashed) xxhash64(col("chunk_bytes")) else col("chunk_bytes"))
    val occ = chunks.groupBy(col("__key")).agg(count(lit(1)).as("__occ"))
    chunks.join(occ, "__key")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("__occ") >= 2, true)).as("n_dup_chunks"))
  }

  /** Binary near-duplicate pairs by CDC chunk-set overlap — the media
    * dedup step that finds re-muxed / re-containered / prepended copies
    * of the same underlying payload, where whole-file digests see nothing
    * (one shifted byte changes every fixed-offset frame) but most CDC
    * chunk frames survive (the shift-resistance the byte-CDC specs pin).
    * A pair is reported when the Jaccard similarity of the two payloads'
    * DISTINCT chunk sets reaches `thresholdPct` / 100.
    *
    * Shape: per-payload distinct chunk sets -> chunk-keyed inverted-index
    * self-join (only keys present in >= 2 payloads generate pairs; the
    * join is EQUI on the chunk key, never all-pairs) -> per-pair
    * intersection counts -> set-size join -> integer cross-multiplied
    * threshold (`inter * 100 >= pct * union` — no FP division anywhere,
    * so the boundary cannot flip between engines; `jaccard_ppm` is an
    * integer DIV for the same reason).
    *
    * 100 TB notes: `hashed = true` ships 8-byte xxhash64 keys through the
    * self-join instead of chunk bytes (string mode exists for the oracle);
    * `maxDf` drops chunks shared by more than that many payloads before
    * pair generation — a boilerplate chunk present in a million files
    * would otherwise contribute ~10^12 candidate pairs (the standard
    * stop-chunk cap of inverted-index similarity joins; dropping a
    * universally-common chunk barely moves a high Jaccard). Set sizes are
    * computed BEFORE the cap so reported similarities stay true Jaccard
    * over the full chunk sets (capped-away intersections can only LOWER
    * a reported score, never inflate it — conservative in the dedup
    * direction). */
  def cdcNearDups(
      media: DataFrame,
      thresholdPct: Int = 50,
      w: Int = 8,
      divisor: Int = 16,
      maxDf: Option[Long] = None,
      idCol: String = "media_id",
      binCol: String = "content",
      hashed: Boolean = false): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100, "thresholdPct in [1, 100]")
    val sets = graft.operators.Checkpoints.pin(
      cdcByteChunks(media, w, divisor, idCol, binCol)
        .select(col(idCol).as("id"),
          (if (hashed) xxhash64(col("chunk_bytes")) else col("chunk_bytes")).as("__key"))
        .distinct(), reliable = false)
    val sizes = sets.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // document frequency per chunk key: pair generation only needs keys in
    // >= 2 payloads; maxDf is the stop-chunk cap
    val paired = sets.join(
      sets.groupBy(col("__key")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= lit(maxDf.getOrElse(Long.MaxValue)))
        .select(col("__key")),
      Seq("__key"), "left_semi")
    val inter = paired.select(col("__key"), col("id").as("media_a"))
      .join(paired.select(col("__key"), col("id").as("media_b")), Seq("__key"))
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("media_a"), col("n").as("n_a")), Seq("media_a"))
      .join(sizes.select(col("id").as("media_b"), col("n").as("n_b")), Seq("media_b"))
      .filter(col("inter") * 100 >= lit(thresholdPct) * (col("n_a") + col("n_b") - col("inter")))
      .select(col("media_a"), col("media_b"), col("inter"), col("n_a"), col("n_b"),
        expr("(inter * 1000000L) DIV (n_a + n_b - inter)").as("jaccard_ppm"))
  }

  /** Content-addressed chunk store — CDC dedup as STORAGE, not just a
    * report (the backup/VDO/object-dedup layout): every payload's CDC
    * chunks land once per distinct content under `path/chunks`
    * (sha-256-addressed), and each payload keeps only a RECIPE — its
    * ordered chunk-address list — under `path/recipes`. A corpus of
    * re-muxed/prepended duplicates stores each shared chunk once; the
    * recipes table is O(chunks) tiny rows. Writes: the chunker is
    * map-only ([[cdcByteChunks]]); the store side is one address-keyed
    * aggregate (bytes identical per address, so any-value is exact), the
    * recipe side a projection. Reassembly ([[readChunkStore]]) is one
    * address join + per-payload ordered byte concat — byte-exact
    * round-trip, oracle-gated end-to-end (g_chunk_store compares content
    * digests of the reassembled corpus against the originals). */
  def writeChunkStore(
      media: DataFrame,
      path: String,
      w: Int = 8,
      divisor: Int = 16,
      idCol: String = "media_id",
      binCol: String = "content"): Unit = {
    val chunks = cdcByteChunks(media, w, divisor, idCol, binCol)
      .withColumn("addr", sha2(col("chunk_bytes"), 256))
    chunks.select(col(idCol), col("chunk_idx"), col("addr"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .parquet(s"$path/recipes")
    chunks.groupBy(col("addr"))
      // all bytes under one address are identical (sha-256 addressing) —
      // max is a deterministic pick of that one value
      .agg(max(col("chunk_bytes")).as("chunk_bytes"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .parquet(s"$path/chunks")
  }

  /** Reassemble every payload from a [[writeChunkStore]] layout:
    * recipes join the chunk store on the address (the store side is the
    * DISTINCT chunk set — at high dedup ratios far smaller than the
    * corpus), then one per-payload ordered concat. Byte-exact by
    * construction. */
  def readChunkStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String = "media_id"): DataFrame = {
    val recipes = spark.read.parquet(s"$path/recipes")
    val store = spark.read.parquet(s"$path/chunks")
    recipes.join(store, "addr")
      .groupBy(col(idCol))
      .agg(
        aggregate(
          transform(
            array_sort(collect_list(struct(col("chunk_idx").as("i"), col("chunk_bytes").as("b")))),
            x => x.getField("b")),
          lit(Array.emptyByteArray),
          (acc, b) => concat(acc, b)).as("content"))
  }

  /** Delete payloads from a [[writeChunkStore]] layout and reclaim
    * unreferenced chunks — the reference-count GC every content-addressed
    * store needs (shared chunks survive as long as ANY recipe references
    * them). Two anti/semi joins, both keyed: recipes drop the deleted
    * ids, then the chunk store keeps only addresses the REWRITTEN recipes
    * still reference. Ordering is the safety argument: recipes shrink
    * first, chunks prune against the new recipes — at every crash point
    * the chunk set is a SUPERSET of what live recipes need, so kept
    * payloads always reassemble; a crash merely leaves orphans, and
    * rerunning (even with no deletes) is the orphan vacuum. Both
    * rewrites swap through staged siblings (Levels.stagedOverwrite),
    * so no crash point loses survivor rows either. Single-writer ⇒ the
    * plain-tier single-mutator contract
    * ([[graft.sources.Storage.deleteAndRewrite]]); a store that must
    * compose with concurrent readers goes through the Generations MVCC
    * tier like any other table. */
  def deleteFromChunkStore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deleteIds: DataFrame,
      idCol: String = "media_id"): Unit = {
    requireFlatStore(spark, path, "deleteFromChunkStore")
    // staged swaps, not in-place Overwrite: each directory is the only
    // copy of its survivor rows, and a same-dir Overwrite truncates at
    // job start — a driver crash mid-write would lose survivors (the
    // Levels.stagedOverwrite window). Heal first: a prior pass may
    // have crashed between truncation and install.
    graft.sources.Levels.heal(spark, path)
    graft.sources.Levels.stagedOverwrite(s"$path/recipes",
      spark.read.parquet(s"$path/recipes")
        .join(deleteIds.select(col(idCol)), Seq(idCol), "left_anti"))
    graft.sources.Levels.stagedOverwrite(s"$path/chunks",
      spark.read.parquet(s"$path/chunks")
        .join(spark.read.parquet(s"$path/recipes").select(col("addr")).distinct(),
          Seq("addr"), "left_semi"))
  }

  /** Append a new batch of payloads to an existing [[writeChunkStore]]
    * layout: recipes append; the chunk store receives only addresses it
    * does not already hold (one anti-join against the store — at high
    * dedup ratios the increment's novel-chunk set is a sliver of its
    * chunk count, which is the point of incremental CAS backup). Chunks
    * are appended BEFORE recipes: at every crash point recipes reference
    * only chunks that are already durable (the inverse window would leave
    * a recipe whose payload cannot reassemble); a chunks-landed/
    * recipes-lost crash leaves orphans, which [[deleteFromChunkStore]]'s
    * rerunnable vacuum reclaims. Duplicate APPENDS of the same media id
    * are the caller's contract, as for every id-keyed sink. */
  def appendToChunkStore(
      media: DataFrame,
      path: String,
      w: Int = 8,
      divisor: Int = 16,
      idCol: String = "media_id",
      binCol: String = "content"): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = media.sparkSession
    requireFlatStore(spark, path, "appendToChunkStore")
    val chunks = cdcByteChunks(media, w, divisor, idCol, binCol)
      .withColumn("addr", sha2(col("chunk_bytes"), 256))
      .localCheckpoint(true)
    chunks
      .groupBy(col("addr")).agg(max(col("chunk_bytes")).as("chunk_bytes"))
      .join(spark.read.parquet(s"$path/chunks").select(col("addr")), Seq("addr"), "left_anti")
      .write.mode(SaveMode.Append).parquet(s"$path/chunks")
    chunks.select(col(idCol), col("chunk_idx"), col("addr"))
      .write.mode(SaveMode.Append).parquet(s"$path/recipes")
  }

  /** The batch append/GC operators rewrite the FLAT [[writeChunkStore]]
    * layout in place; pointed at a LEVELED store (a
    * [[graft.streaming.StreamingOps.chunkStoreIngest]] sink with
    * `__batch=<id>` directories) they would land flat files beside the
    * level directories — breaking partition discovery for readers and,
    * worse, silently stepping outside the streaming sink's
    * idempotence/lineage discipline (the checkpoint-replay contract only
    * covers batch-id-derived directories). Refuse loudly instead; the
    * streamed store's maintenance is compactChunkStore + the sink's own
    * replay semantics. */
  private def requireFlatStore(
      spark: org.apache.spark.sql.SparkSession, path: String, op: String): Unit = {
    require(graft.sources.Levels.ids(spark, s"$path/recipes").isEmpty,
      s"$op: $path is a STREAMED chunk store (batch-id-derived levels) — " +
        "in-place batch maintenance would corrupt the streaming sink's " +
        "idempotence discipline; use compactChunkStore and the stream's own " +
        "replay semantics, or rebuild into a flat store first")
  }

  /** The shared 8×8 DCT-II basis — see
    * [[graft.plans.PHash64.DctBasis1024]] (the kernel owns it; the
    * oracle-SQL generator reads it from here so both engines embed the
    * SAME constants). */
  val DctBasis1024: Array[Long] = graft.plans.PHash64.DctBasis1024

  /** Perceptual frame hashes — the robustness [[frameDups]]' byte
    * digests lack: a re-encoded copy (same picture, perturbed bytes)
    * defeats an md5 but moves a DCT-domain hash only a few bits. Per
    * sampled frame (the [[frameSampleManifest]] midpoint strata;
    * 64-byte frames, the stub decode reading each slice as an 8×8 luma
    * block — the seam a real decoder replaces), the native
    * [[graft.plans.PHash64]] kernel: separable integer 8×8 DCT over the
    * shared quantized basis, 63 AC bits vs their lower median, packed
    * into a non-negative long. Map-only end to end: a bounded ≤k explode
    * and one codegen kernel call per frame — no exchange at any corpus
    * size. Output: `(media_id, frame_ix, frame_idx, phash)`. */
  def framePHash(media: DataFrame, fps: Int = 4, k: Int = 8): DataFrame = {
    require(fps >= 1 && k >= 1, "fps >= 1 and k >= 1")
    graft.plans.GraftFunctions.register(media.sparkSession)
    val fb = 64L // 8x8 = 64-byte frames: the kernel's fixed geometry
    media
      .select(col("media_id"), col("content"),
        expr(s"CAST(octet_length(content) AS LONG) DIV ${fb}L").as("__nf"))
      .filter(col("__nf") > 0)
      .withColumn("__k", least(lit(k.toLong), col("__nf")))
      .withColumn("frame_ix", explode(expr("sequence(0L, __k - 1)")))
      .withColumn("frame_idx", expr("((2 * frame_ix + 1) * __nf) DIV (2 * __k)"))
      .select(col("media_id"), col("frame_ix"), col("frame_idx"),
        graft.plans.GraftFunctions.phash64(
          col("content").substr(
            (col("frame_idx") * lit(fb) + lit(1L)).cast("int"), lit(fb.toInt)))
          .as("phash"))
  }

  /** Cross-media near-duplicate frames by pHash Hamming distance —
    * [[frameDups]]' perceptual twin, at scale: the 63-bit hash splits
    * into 7 bands of 9 bits, candidates pair on an EQUAL band
    * (pigeonhole: ≤ `maxDist` ≤ 6 differing bits touch ≤ 6 bands, so
    * every true pair shares at least one of the 7 — the banded-LSH
    * discipline, lossless here, never all-pairs), then the exact
    * `bit_count(xor)` filter keeps true near-duplicates across DISTINCT
    * media. Shuffle is candidate-sized (band-key equi-join); output
    * `(media_a, frame_a, media_b, frame_b, dist)` is duplicate-set-sized. */
  def framePhashPairs(media: DataFrame, fps: Int = 4, k: Int = 8,
      maxDist: Int = 3): DataFrame =
    bandedSelfPairs(bandCols(framePHash(media, fps, k)), maxDist)

  /** The banded self-join pair truth over an ALREADY-BANDED frame-hash
    * table `(media_id, frame_ix, phash, band_ix, band)` — shared by the
    * in-DAG pair finder and the persisted-index self-join, so the
    * pigeonhole-losslessness argument is proved once. */
  private def bandedSelfPairs(banded: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 6,
      "maxDist in [0, 6]: 7 bands are pigeonhole-complete only below 7 bits")
    val a = banded.select(col("band_ix"), col("band"),
      col("media_id").as("media_a"), col("frame_ix").as("frame_a"),
      col("phash").as("__ha"))
    val b = banded.select(col("band_ix"), col("band"),
      col("media_id").as("media_b"), col("frame_ix").as("frame_b"),
      col("phash").as("__hb"))
    a.join(b, Seq("band_ix", "band"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("frame_a"), col("media_b"), col("frame_b"),
        expr("CAST(bit_count(__ha ^ __hb) AS LONG)").as("dist"))
      .filter(col("dist") <= maxDist.toLong)
      .distinct()
  }

  /** Media-level near-duplicate verdicts from the frame-pair evidence —
    * the rollup a video-dedup pipeline actually acts on: two media are
    * near-duplicates when at least `minFrames` of their sampled frames
    * pair within `maxDist` pHash bits (one matching frame is noise; a
    * run of matching frames is a re-encoded copy or a shared segment).
    * Output is duplicate-set-sized: `(media_a, media_b, n_frame_pairs,
    * min_dist, aligned_frames, modal_offset)`. */
  def mediaPhashDups(media: DataFrame, fps: Int = 4, k: Int = 8,
      maxDist: Int = 3, minFrames: Int = 2,
      alignment: Boolean = true): DataFrame =
    mediaRollup(framePhashPairs(media, fps, k, maxDist), minFrames, alignment)

  /** The ≥ `minFrames` media-pair verdict over a `(media_a, frame_a,
    * media_b, frame_b, dist)` frame-pair list — shared by the in-DAG
    * face, the index self-join face, and the indexed-probe face (which
    * renames through it). Carries the temporal-alignment vote: per pair,
    * the modal frame-index offset `frame_a − frame_b` (ties → lowest
    * offset) and `aligned_frames`, how many frame pairs share it. A
    * re-encode matches at ONE consistent offset (aligned_frames ≈
    * n_frame_pairs); two different videos sharing a 2-frame intro
    * scatter across offsets (aligned_frames stays ~1) — the downstream
    * clustering can separate them without re-reading any bytes. Both
    * aggregations group the SAME (media_a, media_b[, offset]) keys, so
    * the exchange count stays one per rollup (the window re-sorts, never
    * re-shuffles). */
  private def mediaRollup(pairs: DataFrame, minFrames: Int,
      alignment: Boolean = true): DataFrame = {
    require(minFrames >= 1, "minFrames must be >= 1")
    // consumers that only act on WHICH pair clears the bar (the CC
    // clusterings feed ids into star components) skip the vote: one
    // partial-aggregated groupBy, no window sorts — hand column pruning,
    // since a filter on a window output can't be pruned by Catalyst
    if (!alignment)
      return pairs
        .groupBy(col("media_a"), col("media_b"))
        .agg(count(lit(1)).as("n_frame_pairs"), min(col("dist")).as("min_dist"))
        .filter(col("n_frame_pairs") >= minFrames.toLong)
    import org.apache.spark.sql.expressions.Window
    val byPair = Window.partitionBy(col("media_a"), col("media_b"))
    pairs
      .groupBy(col("media_a"), col("media_b"),
        (col("frame_a") - col("frame_b")).as("modal_offset"))
      .agg(count(lit(1)).as("aligned_frames"), min(col("dist")).as("__min_d"))
      .withColumn("n_frame_pairs", sum(col("aligned_frames")).over(byPair))
      .withColumn("min_dist", min(col("__min_d")).over(byPair))
      .withColumn("__rn", row_number().over(
        byPair.orderBy(col("aligned_frames").desc, col("modal_offset"))))
      .filter(col("__rn") === 1 && col("n_frame_pairs") >= minFrames.toLong)
      .select(col("media_a"), col("media_b"), col("n_frame_pairs"),
        col("min_dist"), col("aligned_frames"), col("modal_offset"))
  }

  /** [[mediaPhashDups]] with the frame hashes served from a persisted
    * index ([[writePhashIndex]] / a streamed sink): the corpus-internal
    * pair truth as a SELF-join of the banded index rows — the corpus is
    * never re-decoded or re-hashed (the index IS its hash state), which
    * is what lets an incremental clustering derive its prior assignment
    * without touching the corpus bytes. Same output contract as
    * mediaPhashDups. */
  def mediaPhashDupsFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxDist: Int = 3, minFrames: Int = 2,
      alignment: Boolean = true): DataFrame =
    mediaRollup(
      bandedSelfPairs(
        spark.read.parquet(indexPath)
          .select(col("media_id"), col("frame_ix"), col("phash"),
            col("band_ix"), col("band"))
          .distinct(), // fold-overlap duplicates of a streamed sink
        maxDist),
      minFrames, alignment)

  /** Banded pHash rows with the directory bucket attached — the row
    * shape the persisted pHash index lands (the
    * [[graft.operators.DedupOps.writeMinHashIndex]] bandedWithBucket
    * discipline): one row per (sampled frame, band), `band` = 9 bits of
    * the 63-bit hash, `bucket` = band mod `nBuckets` so the directory
    * fanout stays bounded at 7 × nBuckets regardless of band
    * cardinality. */
  private[graft] def bandedPhash(media: DataFrame, fps: Int, k: Int,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    bandCols(framePHash(media, fps, k))
      .withColumn("bucket", pmod(col("band"), lit(nBuckets.toLong)).cast("int"))
      .select(col("media_id"), col("frame_ix"), col("phash"),
        col("band_ix"), col("band"), col("bucket"))
  }

  /** The 7×9-bit band decomposition of a `phash` frame row — ONE
    * expression pair feeding both the index layout and the in-DAG pair
    * join, so the banded-losslessness proof can't drift between them. */
  private def bandCols(h: DataFrame): DataFrame =
    h.withColumn("band_ix", explode(expr("sequence(0, 6)")))
      .withColumn("band", expr("shiftright(phash, 9 * band_ix) & 511L"))

  /** Persist the banded pHash index of a corpus' sampled frames — the
    * video-dedup twin of [[graft.operators.DedupOps.writeMinHashIndex]]:
    * probes against a steady corpus should not re-hash it per increment.
    * Hive-partitioned by (band_ix, bucket) with one co-located shuffle
    * before the write (the small-file lesson recorded on the LSH
    * writer); `fps`/`k`/`nBuckets` pin in `_meta.json` — a probe sampled
    * or banded differently silently yields missing candidates, so
    * [[assertPhashMeta]] fails loudly instead. */
  def writePhashIndex(media: DataFrame, path: String, fps: Int = 4,
      k: Int = 8, nBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.SaveMode
    // meta BEFORE data (the phashBatch crash-window reasoning): a crash
    // between the two must leave a probe that fails LOUDLY (meta + no
    // parquet = unreadable), never a meta-less index whose parameter
    // assertion silently passes at any probe parameters. The don't-
    // clobber check is explicit because meta-first precludes the
    // DataFrameWriter's own ErrorIfExists (the sidecar creates the dir).
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(media.sparkSession.sparkContext.hadoopConfiguration)
    require(!f.exists(p),
      s"writePhashIndex: $path already exists — delete it to rebuild")
    writePhashMeta(media.sparkSession, path, fps, k, nBuckets)
    bandedPhash(media, fps, k, nBuckets)
      .repartition(col("band_ix"), col("bucket"))
      // Append, NOT Overwrite: Overwrite truncates the target directory
      // and would delete the sidecar just written; the require above
      // already guarantees a fresh directory, so Append == fresh write
      .write.mode(SaveMode.Append)
      .partitionBy("band_ix", "bucket").parquet(path)
  }

  private[graft] def writePhashMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, fps: Int, k: Int, nBuckets: Int): Unit =
    ParamMeta.write(spark, path,
      Seq("fps" -> fps.toLong, "k" -> k.toLong, "nBuckets" -> nBuckets.toLong))

  /** Assert the probe's sampling/banding parameters against the index's
    * `_meta.json` (no-op when absent — pre-sidecar indexes). */
  private[graft] def assertPhashMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, fps: Int, k: Int, nBuckets: Int): Unit =
    ParamMeta.assertMatches(spark, path,
      Seq("fps" -> fps.toLong, "k" -> k.toLong, "nBuckets" -> nBuckets.toLong),
      "pHash parameters", "writePhashIndex")

  /** [[mediaPhashDups]] with the corpus side served from a persisted
    * index ([[writePhashIndex]] or a
    * [[graft.streaming.StreamingOps.phashIndexStream]] sink — the
    * versioned `__batch=` layout reads back through the same root): the
    * increment's frames are hashed fresh (new data), the corpus is NOT
    * re-decoded or re-hashed — its banded hashes join on
    * (band_ix, bucket, band), candidate-sized, then the exact
    * `bit_count(xor)` filter and the ≥ `minFrames` rollup give the media
    * verdicts. Frame pairs are DISTINCT before the rollup, so duplicate
    * index rows (fold-overlap windows of the streamed sink) cannot
    * inflate the count. Output: `(media_new, media_corpus,
    * n_frame_pairs, min_dist, aligned_frames, modal_offset)` — the
    * [[mediaPhashDups]] rollup contract, alignment vote included. */
  def mediaPhashDupsIndexed(increment: DataFrame, indexPath: String,
      fps: Int = 4, k: Int = 8, maxDist: Int = 3, minFrames: Int = 2,
      nBuckets: Int = 64, alignment: Boolean = true): DataFrame = {
    require(maxDist >= 0 && maxDist <= 6,
      "maxDist in [0, 6]: 7 bands are pigeonhole-complete only below 7 bits")
    require(minFrames >= 1, "minFrames must be >= 1")
    val spark = increment.sparkSession
    assertPhashMeta(spark, indexPath, fps, k, nBuckets)
    val bi = bandedPhash(increment, fps, k, nBuckets)
      .select(col("band_ix"), col("bucket"), col("band"),
        col("media_id").as("media_new"), col("frame_ix").as("frame_new"),
        col("phash").as("__hn"))
    val bc = spark.read.parquet(indexPath)
      .select(col("band_ix"), col("bucket"), col("band"),
        col("media_id").as("media_corpus"),
        col("frame_ix").as("frame_corpus"), col("phash").as("__hc"))
    val pairs = bi.join(bc, Seq("band_ix", "bucket", "band"))
      .filter(col("media_new") =!= col("media_corpus"))
      .select(col("media_new"), col("frame_new"),
        col("media_corpus"), col("frame_corpus"),
        expr("CAST(bit_count(__hn ^ __hc) AS LONG)").as("dist"))
      .filter(col("dist") <= maxDist.toLong)
      .distinct()
    // ONE rollup (count + min-dist + alignment vote) for every face:
    // rename through the self-join shape so the contract is proved once
    val rolled = mediaRollup(
      pairs.select(col("media_new").as("media_a"), col("frame_new").as("frame_a"),
        col("media_corpus").as("media_b"), col("frame_corpus").as("frame_b"),
        col("dist")),
      minFrames, alignment)
    val out = rolled
      .withColumnRenamed("media_a", "media_new")
      .withColumnRenamed("media_b", "media_corpus")
    if (alignment)
      out.select(col("media_new"), col("media_corpus"),
        col("n_frame_pairs"), col("min_dist"),
        col("aligned_frames"), col("modal_offset"))
    else out.select(col("media_new"), col("media_corpus"),
      col("n_frame_pairs"), col("min_dist"))
  }

  /** Per-source release report for a MIXED (media-bearing) corpus — the
    * [[graft.operators.CurationOps.datasetCard]] discipline extended to
    * the multimodal columns a text card can't see: payload bytes, sampled
    * frames, the chunk-store dedup evidence (total vs distinct
    * content-addressed chunks — the dedup ratio is their quotient), and
    * the pHash cluster mass (media sitting in at least one ≥`minFrames`
    * near-duplicate pair — the mass a video dedup would collapse).
    *
    * Plan shape: one map-side-combined aggregate for the byte/frame
    * columns, the map-only CDC chunker + one (source-keyed) aggregate
    * for the chunk columns, and the banded pair join (candidate-sized,
    * never all-pairs) for the cluster mass — no corpus-wide window, no
    * driver state; bit-identical under any partitioning. Output: one row
    * per source. */
  def mediaCard(docs: DataFrame, fps: Int = 4, k: Int = 8, maxDist: Int = 3,
      minFrames: Int = 2, w: Int = 8, divisor: Int = 16): DataFrame = {
    val media = mediaWithSource(docs)
    val chunkRows = mediaChunkRows(media, w, divisor)
    val chunks = chunkRows.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("addr")).as("n_distinct_chunks"))
    val dupIds = mediaPhashDups(media, fps, k, maxDist, minFrames)
      .select(explode(array(col("media_a"), col("media_b"))).as("media_id"))
      .distinct()
    val mass = media.join(dupIds, Seq("media_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_phash_clustered"))
    mediaCardSelect(mediaByteSums(media, k)
      .join(chunks, Seq("source"), "left")
      .join(mass, Seq("source"), "left"))
  }

  /** The (media_id, source, content) frame the card faces share — doc_id
    * keyed, text-as-bytes (the stub-decode geometry). */
  private[graft] def mediaWithSource(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"), col("source"),
      to_binary(col("text"), lit("utf-8")).as("content"))

  /** The card's SUMMABLE per-source byte/frame tallies — shared by the
    * batch card and the streamed card's per-batch partials (long sums
    * fold associatively, so the streamed merge is bit-identical). */
  private[graft] def mediaByteSums(media: DataFrame, k: Int): DataFrame = {
    val fb = 64L
    media
      .withColumn("__nf", expr(s"CAST(octet_length(content) AS LONG) DIV ${fb}L"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        coalesce(sum(octet_length(col("content")).cast("long")), lit(0L))
          .as("n_bytes"),
        coalesce(sum(when(col("__nf") > 0, least(lit(k.toLong), col("__nf")))
          .otherwise(lit(0L))), lit(0L)).as("n_frames"))
  }

  /** One row per CDC chunk with its content address and source — the
    * card's dedup-evidence base, shared batch/streamed. */
  private[graft] def mediaChunkRows(media: DataFrame, w: Int,
      divisor: Int): DataFrame =
    cdcByteChunks(media, w, divisor)
      .withColumn("addr", sha2(col("chunk_bytes"), 256))
      .join(media.select(col("media_id"), col("source")), Seq("media_id"))
      .select(col("media_id"), col("source"), col("addr"))

  /** The card's final column face (left-join zeros) — ONE definition so
    * the streamed readback can't drift from the batch card. */
  private[graft] def mediaCardSelect(joined: DataFrame): DataFrame =
    joined.select(col("source"), col("n_media"), col("n_bytes"), col("n_frames"),
      coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
      coalesce(col("n_distinct_chunks"), lit(0L)).as("n_distinct_chunks"),
      coalesce(col("n_phash_clustered"), lit(0L)).as("n_phash_clustered"))

  /** Deterministic frame sampling stub: pick every `stride`-th chunk of
    * `chunk` bytes — the partition/batch shape of real frame extraction. */
  def sampleChunks(media: DataFrame, chunk: Int, stride: Int): DataFrame = {
    val nChunks = greatest(
      floor(octet_length(col("content")) / lit(chunk * stride)).cast("int"), lit(1))
    media.select(
      col("media_id"),
      posexplode(
        transform(
          sequence(lit(0), nChunks - 1),
          i => col("content").substr((i * lit(chunk * stride) + 1).cast("int"), lit(chunk))))
        .as(Seq("chunk_idx", "chunk_bytes")))
  }
}
