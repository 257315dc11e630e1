package graft

import org.apache.spark.sql.SparkSession

/** Corpus-level tuning knobs, read from the session conf under
  * `spark.graft.*`.
  *
  * The ANN / k-NN-graph family's constants — k, nProbe, refine, PQ (m, c),
  * IVF cell count and Lloyd iterations, the sampled-recall modulus — are
  * per-corpus decisions: the right nProbe for a 2k-vector fixture is not
  * the right nProbe for a 100 TB corpus. Hard-coding them in each query
  * would force a user to edit query code to sweep them; this seam lets
  * `spark-submit --conf spark.graft.knn.nprobe=32` (or
  * `spark.conf.set(...)` in a notebook) retune every registered query at
  * once, the same way `spark.sql.shuffle.partitions` retunes every
  * shuffle.
  *
  * Contract:
  *  - every call site passes its current constant as the DEFAULT, so an
  *    unset conf is byte-identical to the pre-seam behavior (the oracle
  *    gate runs with nothing set and must stay green);
  *  - values are validated eagerly (integer syntax + lower bound) so a
  *    typo fails the query at construction with the offending key named,
  *    not three stages deep with a Window on rank <= 0;
  *  - LOSSLESSNESS settings are NOT knobs: the probe-all arm a
  *    correctness gate runs at the oracle SFs is the truth the gate is
  *    defined by, so those arms stay pinned constants — only the
  *    production (reduced/approximate) arms read the conf.
  */
object GraftConf {
  private val Prefix = "spark.graft."

  /** Integer knob: conf value if set (validated), else `default`. */
  def int(spark: SparkSession, key: String, default: Int, min: Int = 1): Int =
    spark.conf.getOption(Prefix + key) match {
      case None => default
      case Some(raw) =>
        val v =
          try raw.trim.toInt
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$Prefix$key must be an integer, got '$raw'")
          }
        require(v >= min, s"$Prefix$key must be >= $min, got $v")
        v
    }

  /** Double knob in [lo, hi] — thresholds, floors. */
  def fraction(spark: SparkSession, key: String, default: Double,
      lo: Double = 0.0, hi: Double = 1.0): Double =
    spark.conf.getOption(Prefix + key) match {
      case None => default
      case Some(raw) =>
        val v =
          try raw.trim.toDouble
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$Prefix$key must be a number, got '$raw'")
          }
        require(v >= lo && v <= hi,
          s"$Prefix$key must be in [$lo, $hi], got $v")
        v
    }

  // The knob vocabulary (one place, so `grep spark.graft` finds the whole
  // surface). Call sites still pass their own defaults — a query whose
  // published oracle assumes k=5 defaults to 5 regardless of what other
  // queries default to.
  val KnnK = "knn.k" // neighbors per query in the k-NN graph family
  val KnnNProbe = "knn.nprobe" // IVF cells probed on the production arm
  val KnnRefine = "knn.refine" // ADC shortlist factor (top k·refine re-ranked)
  val DescentIters = "knn.descent.iters" // NN-descent rounds
  val PqM = "pq.m" // PQ subspaces (trained path)
  val PqC = "pq.c" // codewords per subspace (trained path)
  val IvfCells = "ivf.cells" // coarse-quantizer cell count (trained path)
  val IvfIters = "ivf.iters" // Lloyd iterations for IVF training
  val RecallSampleMod = "recall.samplemod" // bench-SF sampled-recall modulus
  val SemdedupThreshold = "semdedup.threshold" // SemDeDup drop-rule cosine
  val GraphBeam = "graph.beam" // beam width for graph-walk serving
  val GraphHops = "graph.hops" // hop budget for graph-walk serving
  // lexical retrieval (defaults = the Robertson/Lucene operating point)
  val Bm25K1 = "bm25.k1" // tf saturation shape (fraction knob, [0, 10])
  val Bm25B = "bm25.b" // length-normalization strength ([0, 1])
  val RetrievalK = "retrieval.k" // shortlist size for the lexical/hybrid arms
  val RrfK = "rrf.kconst" // RRF rank-smoothing constant (Cormack's 60)
  val PostingsNPt = "postings.npt" // pt directory fan-out for the postings index
  val KnMinCount = "kn.mincount" // Kneser–Ney <unk> vocabulary cut
  val LogitSteps = "logit.steps" // full-batch GD steps for the quality trainer
  // perceptual video dedup (pHash family). fps/k/nBuckets are SIGNED
  // into the persisted index's _meta.json by writePhashIndex, so a probe
  // retuned away from its index refuses loudly (assertPhashMeta) instead
  // of silently missing candidates; maxdist stays pigeonhole-lossless
  // only in [0, 6] (bandedSelfPairs enforces the ceiling at call time).
  val PhashFps = "phash.fps" // stub decode sampling rate (real-decoder seam)
  val PhashK = "phash.k" // max sampled frames per media
  val PhashMaxDist = "phash.maxdist" // Hamming radius for near-dup frames
  val PhashMinFrames = "phash.minframes" // frame pairs needed per media verdict
  val PhashBuckets = "phash.nbuckets" // persisted-index directory fan-out
  // streaming drains (AvailableNow rows). The trigger cap bounds how many
  // bytes one micro-batch ingests (without it a 100 TB backlog is ONE
  // batch); partmb sizes the drain's shuffle/state partitions to the
  // trigger volume; minparts is the task-granularity floor a stateful
  // drain keeps for intra-batch overlap even when the volume-derived
  // count is smaller (SparkEntry.drain derives n from these).
  val StreamTriggerMb = "stream.triggermb" // micro-batch byte cap (MiB)
  val StreamPartMb = "stream.partmb" // trigger bytes per stream partition (MiB)
  val StreamMinParts = "stream.minparts" // floor on the derived partition count

  // The DEFAULTS the static oracle SQL is generated from: the Spark side
  // reads the live conf, but SparkEntry.oracleSql has no session, so the
  // unrolled replays (logit descent CTEs, the KN <unk> cut) bake these
  // in. Running verification under a non-default conf therefore fails
  // LOUD (hash mismatch on every affected row) rather than wrong — keep
  // both sides reading these constants so the defaults can never drift
  // apart silently.
  val KnMinCountDefault = 2
  val LogitStepsDefault = 3
}
