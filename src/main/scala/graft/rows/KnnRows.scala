package graft
package rows

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SimilarityOps
import graft.sources.Tables
import graft.SparkEntry._

/** The k-NN graph rows of the driver contract: the IVF-routed graph
  * build and its incremental maintenance, the sampled recall gates,
  * NN-descent, the PQ codes-only paths, and beam-search serving. */
private[graft] object KnnRows {

  /** The IVF setup the k-NN rows share, over test table `embeddings` of
    * `dir`: the cell count and k from the GraftConf seam, the Lloyd
    * centroids, trained when the setup is made, and the sampled-recall
    * query predicate. */
  private final class Ivf(s: SparkSession, dir: String) {
    val e: DataFrame = Tables.embeddings(s, dir)
    val cells: Int = GraftConf.int(s, GraftConf.IvfCells, 16)
    val k: Int = GraftConf.int(s, GraftConf.KnnK, 5)
    val centroids: Seq[(Int, Seq[Double])] = SimilarityOps.ivfCentroids(e, k = cells,
      nIters = GraftConf.int(s, GraftConf.IvfIters, 2))
    val sample: Column => Column = recallSample(s, dir)

    /** Probe-all at the oracle SFs, so the graph is exactly brute force;
      * the production reduced-probe count at every other SF. */
    def nProbe: Int = if (oracleScale(dir)) cells else GraftConf.int(s, GraftConf.KnnNProbe, 4)

    /** The exact (probe-all) edges of the sampled queries, pinned: the
      * recall gates' truth. */
    def exactPin(): DataFrame = graft.operators.Checkpoints.pin(
      SimilarityOps.knnGraph(e, centroids, k = k, nProbe = cells,
        querySample = sample).select(col("vec_id"), col("neighbor_id")),
      reliable = false)

    /** The coarse, deliberately under-probed (2 cells) graph the descent
      * rows start from, pinned. */
    def coarsePin(): DataFrame = graft.operators.Checkpoints.pin(
      SimilarityOps.knnGraph(e, centroids, k = k, nProbe = 2), reliable = false)
  }

  /** The recall gates' one row: the hits of `approx` among the pinned
    * `exact` edges over the in-DAG denominator (a 1×1 cross join, no
    * driver-side count), as integer-exact fixed-point recall — never
    * float-divide a gate: a quotient landing exactly on a decile or floor
    * boundary must agree with the oracle's integer `//`. The decile is the
    * oracle-pinned drift tripwire; n_exact = 0 (empty corpus) degrades to
    * recall 0 instead of NaN. */
  private def recallGate(exact: DataFrame, approx: DataFrame, k: Int,
      floorPpm: Long): DataFrame = {
    val hits = exact.join(approx, Seq("vec_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val denom = exact.agg(
      countDistinct(col("vec_id")).as("n_queries"), count(lit(1)).as("n_exact"))
    hits.crossJoin(denom)
      .withColumn("recall_ppm", expr(
        "CASE WHEN n_exact > 0 THEN (hits * CAST(1000000 AS BIGINT)) div n_exact " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(lit(k).as("k"), col("n_queries"), col("n_exact"),
        expr("recall_ppm div 100000").cast("int").as("recall_decile"),
        lit(floorPpm / 1e6).as("recall_floor"),
        (col("recall_ppm") >= floorPpm).as("meets_floor"))
  }

  /** The descent gates' shared measurement frame: init and descended
    * recall vs the pinned sampled exact graph, integer-exact ppm
    * arithmetic (never float-divide a gate), deciles as the oracle-pinned
    * drift tripwire, `improved` as the structural monotonicity witness. */
  private def descentGate(
      exact: DataFrame, init: DataFrame, desc: DataFrame, k: Int): DataFrame = {
    def hitsOf(g: DataFrame, as: String) = exact.join(
        g.select(col("vec_id"), col("neighbor_id")),
        Seq("vec_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as(as))
    val denom = exact.agg(
      countDistinct(col("vec_id")).as("n_queries"), count(lit(1)).as("n_exact"))
    hitsOf(init, "init_hits").crossJoin(hitsOf(desc, "desc_hits")).crossJoin(denom)
      .withColumn("init_ppm", expr(
        "CASE WHEN n_exact > 0 THEN (init_hits * CAST(1000000 AS BIGINT)) div n_exact " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("desc_ppm", expr(
        "CASE WHEN n_exact > 0 THEN (desc_hits * CAST(1000000 AS BIGINT)) div n_exact " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(lit(k).as("k"), col("n_queries"), col("n_exact"),
        expr("init_ppm div 100000").cast("int").as("init_decile"),
        expr("desc_ppm div 100000").cast("int").as("desc_decile"),
        (col("desc_hits") >= col("init_hits")).as("improved"),
        (col("desc_ppm") >= 500000L).as("meets_floor"))
  }

  /** Full replay of [[SimilarityOps.prototypePrune]] under the fixture
    * centroids: cell argmax, own-centroid fixed-point score, per-cell
    * counts, per-cell hardest-first rank, the integer keep rule. */
  private lazy val prototypePruneOracleSql: String = {
    val centCos = fixtureCosSql("v", "cc_")
    val ccCols = (1 to KmFixtureK).map(c => s"cc_$c").mkString(", ")
    val cellCase = s"${fixtureCellSql("cc_")} AS cell"
    val protoCase = (1 until KmFixtureK).map(c => s"WHEN $c THEN cc_$c")
      .mkString("CASE cell ", " ", s" ELSE cc_$KmFixtureK END")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cz AS (SELECT vec_id,
       |    $centCos
       |  FROM v),
       |b AS (SELECT vec_id, $ccCols, $cellCase FROM cz),
       |s AS (SELECT vec_id, cell,
       |    CAST(floor(($protoCase) * 1000000) AS BIGINT) AS proto_ppm
       |  FROM b),
       |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS cn FROM s GROUP BY cell),
       |r AS (SELECT s.vec_id, s.cell, s.proto_ppm, n.cn,
       |    row_number() OVER (PARTITION BY s.cell ORDER BY s.proto_ppm ASC, s.vec_id) AS rk
       |  FROM s JOIN n ON n.cell = s.cell)
       |SELECT vec_id, cell, proto_ppm, (rk * 100 <= cn * 60) AS kept
       |FROM r ORDER BY vec_id""".stripMargin
  }

  /** Shared by g_knn_descent and g_knn_descent_pq. */
  private lazy val oracleSqlKnnDescent: String =
    """SELECT 5 AS k,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_queries,
      |  CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_exact,
      |  3 AS init_decile, 5 AS desc_decile,
      |  true AS improved, true AS meets_floor""".stripMargin

  /** Sampled-recall query predicate (the policy's second half): the
    * oracle SFs measure on the mod-4 sample their pinned counts/deciles
    * assume; bench SFs keep the same statistical protocol at a coarser
    * mod-16 sample — the gate's verification granularity is an oracle-SF
    * concern, the bench tracks the production-shaped plan. The bench-SF
    * modulus is a [[GraftConf]] knob (`spark.graft.recall.samplemod`);
    * the oracle-SF modulus is pinned — the published counts assume it. */
  private def recallSample(s: SparkSession, dir: String): Column => Column = {
    val m =
      if (oracleScale(dir)) 4
      else GraftConf.int(s, GraftConf.RecallSampleMod, 16)
    id => id % m === 0
  }

  /** Full replay of [[SimilarityOps.graphSearch]] from the brute-force
    * graph with the hop loop unrolled (nHops = 2, beam = 8, k = 5, probes
    * = mod-10 members, entries = mod-50 seeds, self-matches excluded):
    * hop 0 scores every (query, entry) pair; each hop expands the
    * current top-8 beam through the graph's out-edges, discards
    * already-visited candidates (NOT EXISTS against the accumulated
    * visited set), scores only the fresh frontier; the answer is the
    * per-query top-5 of everything visited MINUS the query's own corpus
    * row (the walk routes through self — sim 1.0 tops every beam — but
    * the answer excludes it). Identical floored-cosine / id-tie ordering
    * as the engine at every cut. */
  private lazy val graphSearchOracleSql: String = {
    val cos = (a: String, b: String) =>
      s"floor((list_dot_product($a, $b) / " +
        s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))) " +
        s"* 10000) / 10000"
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |             ${cos("a.v", "b.v")} AS sim
       |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
       |g AS (SELECT vec_id, neighbor_id FROM (
       |        SELECT vec_id, neighbor_id,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
       |        FROM p) WHERE rnk <= 5),
       |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id % 10 = 0),
       |ent AS (SELECT vec_id AS id FROM v WHERE vec_id % 50 = 0),
       |s0 AS (SELECT q.qid, ent.id, ${cos("q.qv", "w.v")} AS sim
       |       FROM q CROSS JOIN ent JOIN v w ON w.vec_id = ent.id),
       |b0 AS (SELECT qid, id FROM (
       |        SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |        FROM s0) WHERE rn <= 8),
       |c1 AS (SELECT DISTINCT b0.qid, g.neighbor_id AS id
       |       FROM b0 JOIN g ON g.vec_id = b0.id
       |       WHERE NOT EXISTS (SELECT 1 FROM s0
       |                         WHERE s0.qid = b0.qid AND s0.id = g.neighbor_id)),
       |s1 AS (SELECT c1.qid, c1.id, ${cos("q.qv", "w.v")} AS sim
       |       FROM c1 JOIN q ON q.qid = c1.qid JOIN v w ON w.vec_id = c1.id),
       |vis1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
       |b1 AS (SELECT qid, id FROM (
       |        SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
       |        FROM vis1) WHERE rn <= 8),
       |c2 AS (SELECT DISTINCT b1.qid, g.neighbor_id AS id
       |       FROM b1 JOIN g ON g.vec_id = b1.id
       |       WHERE NOT EXISTS (SELECT 1 FROM vis1
       |                         WHERE vis1.qid = b1.qid AND vis1.id = g.neighbor_id)),
       |s2 AS (SELECT c2.qid, c2.id, ${cos("q.qv", "w.v")} AS sim
       |       FROM c2 JOIN q ON q.qid = c2.qid JOIN v w ON w.vec_id = c2.id),
       |vis2 AS (SELECT * FROM vis1 UNION ALL SELECT * FROM s2)
       |SELECT qid AS vec_id, id AS neighbor_id, sim, CAST(rank AS INT) AS rank
       |FROM (SELECT qid, id, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rank
       |      FROM vis2 WHERE id <> qid)
       |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin
  }

  // --- the fixture-PQ SQL fragments only the k-NN PQ replays use
  // (knnPqOracleSql, graphSearchPqOracleSql); the shared ones sit in
  // SparkEntry ---
  /** per-row fixed-point LUT dots `l_{s}_{cid}` (the row as a query) */
  private def pqLutDotsSql(dim: Int): String = {
    val subDim = dim / PqM
    (for { s <- 0 until PqM; (cid, w) <- fixturePqCodebooks(dim)(s) } yield
      s"CAST(floor(list_dot_product(v[${s * subDim + 1}:${(s + 1) * subDim}], ${pqArr(w)})" +
        s" * 1000000) AS BIGINT) AS l_${s}_$cid")
      .mkString(",\n    ")
  }
  /** the literal reconstruction-norm table `nn_{s}_{cid}` */
  private def pqNrmColsSql(dim: Int): String =
    (for { s <- 0 until PqM; (cid, w) <- fixturePqCodebooks(dim)(s) } yield
      s"CAST(floor(list_dot_product(${pqArr(w)}, ${pqArr(w)}) * 1000000) AS BIGINT) AS nn_${s}_$cid")
      .mkString(",\n    ")
  /** ADC numerator: Σ_s the candidate's code dispatched into the query's LUT */
  private def pqSdSumSql: String =
    (0 until PqM).map { s =>
      val arms = (1 until PqC).map(c => s"WHEN $c THEN l_${s}_$c").mkString(" ")
      s"(CASE nc_$s $arms ELSE l_${s}_$PqC END)"
    }.mkString("\n     + ")
  /** ADC denominator: the candidate's reconstruction squared norm */
  private def pqSnSumSql: String =
    (0 until PqM).map { s =>
      val arms = (1 until PqC).map(c => s"WHEN $c THEN nn_${s}_$c").mkString(" ")
      s"(CASE nc_$s $arms ELSE nn_${s}_$PqC END)"
    }.mkString("\n     + ")

  /** Full replay of [[SimilarityOps.graphSearchPq]] under the fixture
    * codebooks: the [[graphSearchOracleSql]] walk with every scoring
    * stage swapped for ADC — per-row codes (8 argmax CASEs), per-query
    * fixed-point LUTs, the literal norm table, beam cuts ordered by the
    * ADC quotient (exact integer sums, one double division — bit-stable
    * across engines), the per-query ADC top-(k·refine) shortlist
    * (self excluded BEFORE the cut, as in the engine), and the exact
    * floored-cosine re-rank that produces the answer. */
  private lazy val graphSearchPqOracleSql: String = {
    val dim = 64
    val cos = (a: String, b: String) =>
      s"floor(${pqCosA(a, b)} * 10000) / 10000"
    val lutCols = (for { s <- 0 until PqM; cid <- 1 to PqC } yield s"l_${s}_$cid")
      .mkString(", ")
    val ncCols = (0 until PqM).map(s => s"code_$s AS nc_$s").mkString(", ")
    def scoreCte(name: String, candCte: String): String =
      s"""$name AS (
         |  SELECT c.qid, c.id,
         |    CAST(${pqSdSumSql} AS DOUBLE) / sqrt(CAST(${pqSnSumSql} AS DOUBLE)) AS adc
         |  FROM $candCte c
         |    JOIN ql q ON q.qid = c.qid
         |    JOIN bn n ON n.vec_id = c.id,
         |    nrm)""".stripMargin
    def beamCte(name: String, visCte: String): String =
      s"""$name AS (SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS rn
         |    FROM $visCte) WHERE rn <= 8)""".stripMargin
    def expandCte(name: String, beam: String, vis: String): String =
      s"""$name AS (SELECT DISTINCT $beam.qid, g.neighbor_id AS id
         |  FROM $beam JOIN g ON g.vec_id = $beam.id
         |  WHERE NOT EXISTS (SELECT 1 FROM $vis
         |                    WHERE $vis.qid = $beam.qid AND $vis.id = g.neighbor_id))""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |             ${cos("a.v", "b.v")} AS sim
       |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
       |g AS (SELECT vec_id, neighbor_id FROM (
       |        SELECT vec_id, neighbor_id,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rnk
       |        FROM p) WHERE rnk <= 5),
       |cz AS (SELECT vec_id, v,
       |    ${pqCwCosSql(dim)},
       |    ${pqLutDotsSql(dim)}
       |  FROM v),
       |b AS (SELECT vec_id,
       |    $pqCodeCasesSql
       |  FROM cz),
       |bn AS (SELECT vec_id, $ncCols FROM b),
       |nrm AS (SELECT
       |    ${pqNrmColsSql(dim)}),
       |ql AS (SELECT vec_id AS qid, $lutCols FROM cz WHERE vec_id % 10 = 0),
       |ent AS (SELECT vec_id AS id FROM v WHERE vec_id % 50 = 0),
       |c0 AS (SELECT ql.qid, ent.id FROM ql CROSS JOIN ent),
       |${scoreCte("s0", "c0")},
       |${beamCte("b0", "s0")},
       |${expandCte("c1", "b0", "s0")},
       |${scoreCte("s1", "c1")},
       |vis1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
       |${beamCte("b1", "vis1")},
       |${expandCte("c2", "b1", "vis1")},
       |${scoreCte("s2", "c2")},
       |vis2 AS (SELECT * FROM vis1 UNION ALL SELECT * FROM s2),
       |short AS (SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS rn
       |    FROM vis2 WHERE id <> qid) WHERE rn <= 20),
       |re AS (SELECT sh.qid AS vec_id, sh.id AS neighbor_id,
       |    ${cos("a.v", "c.v")} AS sim
       |  FROM short sh JOIN v a ON a.vec_id = sh.qid JOIN v c ON c.vec_id = sh.id),
       |rk AS (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM re)
       |SELECT vec_id, neighbor_id, sim, CAST(rank AS INT) AS rank
       |FROM rk WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin
  }

  /** Full replay of [[SimilarityOps.knnGraphPq]] under the fixture
    * centroids + codebooks: cell argmax and probe ranking (the pruned
    * [[pqOracleSql]] patterns, here per-row since every vector is a
    * query), the 8 per-subspace code argmaxes, the per-query ADC LUT
    * (floor(list_dot_product(q_s, codeword)·1e6) BIGINTs — the
    * [[pqOracleSql]] LUT discipline, per row instead of per one query),
    * the literal reconstruction-norm table, the ADC-cosine
    * top-(k·refine) shortlist (integer sums, one double division — the
    * identical primitive sequence as the engine), and the floored-cosine
    * exact re-rank. */
  private def knnPqOracleSql: String = {
    val dim = 64
    val centCos = fixtureCosSql("v", "cc_")
    val cwCos = pqCwCosSql(dim)
    val lutDots = pqLutDotsSql(dim)
    val nrmCols = pqNrmColsSql(dim)
    val cellCase = s"${fixtureCellSql("cc_")} AS cell"
    val codeCases = pqCodeCasesSql
    val lutCols = (for { s <- 0 until PqM; cid <- 1 to PqC } yield s"l_${s}_$cid")
      .mkString(", ")
    val cellUnion = (1 to KmFixtureK)
      .map(cid => s"SELECT vec_id, $cid AS cid, cc_$cid AS cc FROM cz")
      .mkString(" UNION ALL\n      ")
    val sdSum = pqSdSumSql
    val snSum = pqSnSumSql
    val ncCols = (0 until PqM).map(s => s"n.code_$s AS nc_$s").mkString(", ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cz AS (SELECT vec_id, v,
       |    $centCos,
       |    $cwCos,
       |    $lutDots
       |  FROM v),
       |b AS (SELECT vec_id,
       |    $cellCase,
       |    $codeCases
       |  FROM cz),
       |nrm AS (SELECT
       |    $nrmCols),
       |pc AS (
       |  SELECT vec_id AS qid, cid AS cell FROM (
       |    SELECT vec_id, cid, cc,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM ($cellUnion))
       |  WHERE rn <= 2),
       |sc AS (
       |  SELECT p.qid, n.vec_id AS id,
       |    CAST($sdSum AS DOUBLE)
       |      / sqrt(CAST($snSum AS DOUBLE)) AS adc
       |  FROM pc p
       |    JOIN (SELECT vec_id, $lutCols FROM cz) q ON q.vec_id = p.qid
       |    JOIN (SELECT vec_id, cell, $ncCols FROM b n) n ON n.cell = p.cell
       |      AND n.vec_id <> p.qid,
       |    nrm),
       |short AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS rn
       |    FROM sc)
       |  WHERE rn <= 20),
       |re AS (
       |  SELECT sh.qid AS vec_id, sh.id AS neighbor_id,
       |    floor(${pqCosA("a.v", "c.v")} * 10000) / 10000 AS sim
       |  FROM short sh JOIN v a ON a.vec_id = sh.qid JOIN v c ON c.vec_id = sh.id),
       |rk AS (SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM re)
       |SELECT vec_id, neighbor_id, sim, CAST(rank AS INT) AS rank
       |FROM rk WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(

    // ---- k-NN graphs: build, recall, descent, serving -----------------
    QueryDef("g_knn_graph", oracleSqlKnnBruteForce) { (s, dir) =>
      // corpus-wide k-NN graph through IVF
      // cells. At the ORACLE SFs this runs the probe-all setting:
      // candidates meet through the cell equi-join (map-only assignment
      // both sides), so probing every cell makes the graph EXACTLY brute
      // force — the losslessness gate (the brute-force oracle certifies
      // cell routing loses no edge). At bench SFs the same query runs the
      // production reduced-probe setting (the quadratic-truth budget
      // policy, SURVEY §2.8): BENCH then tracks the plan a 100 TB user
      // runs, and the approximate regime stays gated by g_knn_recall.
      // Corpus-level knobs (cells, Lloyd iters, k, production nProbe) read
      // the GraftConf seam; the oracle arm's probe count is CELLS — i.e.
      // probe-all stays probe-all whatever the cell count is tuned to.
      val ivf = new Ivf(s, dir)
      SimilarityOps.knnGraph(ivf.e, ivf.centroids, k = ivf.k, nProbe = ivf.nProbe)
        .orderBy(col("vec_id"), col("rank"))
    },

    QueryDef("g_knn_recall",
      // the approximate side routes through DATA-DERIVED centroids (Lloyd
      // k=16×2 — not SQL-replayable), so the oracle pins what IS
      // deterministic: the sampled-query counts, the measured recall's
      // decile (the drift tripwire — an empirical constant at the oracle
      // SFs, verified equal at sf0.001 and sf0.01), and the floor gate
      """SELECT 5 AS k,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_queries,
        |  CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_exact,
        |  8 AS recall_decile, CAST(0.75 AS DOUBLE) AS recall_floor,
        |  true AS meets_floor""".stripMargin) { (s, dir) => // k-NN graph recall in the approximate
      // regime: edges found probing 8/16 cells vs the brute-force graph,
      // asserted >= the floor, over the SAMPLED query set (vec_id % 4 = 0
      // — the standard sampled-recall protocol; the exact side costs
      // (n/4)·n instead of n²). The exact graph is PINNED so the
      // left-semi probe and the denominator read one materialization (no
      // driver-side count(), no double execution), and the denominator is
      // computed in-DAG via a 1×1 broadcast cross join. recall_decile is
      // the floored decile of the measured recall — an oracle-pinned
      // drift tripwire (measured 0.86-0.89 at the oracle SFs, so decile 8
      // flips the hash row red well before the 0.75 floor boolean would).
      // n_exact = 0 (empty corpus) degrades to recall 0 / meets_floor
      // false instead of NaN.
      val ivf = new Ivf(s, dir)
      // the exact-truth pin and the production-probe side are independent
      // materializations over the same centroids — overlap them (guide
      // §2.6, operators.Par); the approx pin also keeps the final
      // hits+denominator job from re-deriving the probe-8 scored join
      val pins = graft.operators.Par.run(s, parallelism = 2)(
        () => ivf.exactPin(),
        () => graft.operators.Checkpoints.pin(
          SimilarityOps.knnGraph(ivf.e, ivf.centroids, k = ivf.k,
            nProbe = GraftConf.int(s, GraftConf.KnnNProbe, 8),
            querySample = ivf.sample).select(col("vec_id"), col("neighbor_id")),
          reliable = false))
      recallGate(pins(0), pins(1), ivf.k, floorPpm = 750000L)
    },

    QueryDef("g_knn_incr",
      // the merge identity makes incremental maintenance EXACT at
      // probe-all, so the truth is the same brute-force graph over the
      // unioned corpus — the split into old/new is invisible to it
      oracleSqlKnnBruteForce) { (s, dir) => // incremental k-NN graph maintenance:
      // a batch of new embeddings (vec_id % 5 = 0) folds into the old
      // corpus's graph — new queries score against the whole corpus
      // through the cells, OLD queries score against the NEW arrivals
      // only (delta-proportional work), the base edges ride along as
      // pre-scored candidates, one union + top-k window. The merge
      // identity top-k(A∪B) = top-k(top-k(A)∪B) makes this EXACT, so at
      // probe-all the result is the brute-force graph over the unioned
      // corpus — the same oracle truth as g_knn_graph (and PqSpec pins
      // incremental == rebuild at reduced probes too). Centroids are
      // frozen from the OLD corpus — the persisted-index seed contract.
      val e = Tables.embeddings(s, dir)
      val old = e.filter(col("vec_id") % 5 =!= 0)
      val fresh = e.filter(col("vec_id") % 5 === 0)
      val cells = GraftConf.int(s, GraftConf.IvfCells, 16)
      val k = GraftConf.int(s, GraftConf.KnnK, 5)
      val centroids = SimilarityOps.ivfCentroids(old, k = cells,
        nIters = GraftConf.int(s, GraftConf.IvfIters, 2))
      val nP = if (oracleScale(dir)) cells else GraftConf.int(s, GraftConf.KnnNProbe, 4)
      val base = SimilarityOps.knnGraph(old, centroids, k = k, nProbe = nP)
      SimilarityOps.knnGraphIncremental(base, old, fresh, centroids, k = k, nProbe = nP)
        .orderBy(col("vec_id"), col("rank"))
    },

    QueryDef("g_prototype_prune", prototypePruneOracleSql) { (s, dir) => // prototypicality pruning
      // (Sorscher et al. 2022): keep the 60% HARDEST (least prototypical)
      // examples per cluster — cell argmax + own-centroid cosine in one
      // projection, a broadcast k-row count frame, one window per cell;
      // the integer keep rule (rank·100 ≤ n·60) is engine-exact. Fixture
      // centroids make every stage oracle-replayable.
      SimilarityOps.prototypePrune(Tables.embeddings(s, dir),
          fixtureCentroids(64), keepPct = 60, keepHardest = true)
        .orderBy(col("vec_id"))
    },

    QueryDef("g_semdedup_knn",
      // the graph-routed drop rule replayed from the brute-force top-5:
      // kept iff no earlier neighbor among the top-5 clears the
      // threshold; dup_of = the smallest such earlier neighbor
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |             floor((list_dot_product(a.v, b.v) /
        |                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
        |                   * 10000) / 10000 AS sim
        |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p),
        |l AS (SELECT vec_id, min(neighbor_id) AS dup_of
        |      FROM r WHERE rank <= 5 AND neighbor_id < vec_id AND sim >= 0.35
        |      GROUP BY vec_id)
        |SELECT v.vec_id, (l.dup_of IS NULL) AS kept, l.dup_of
        |FROM v LEFT JOIN l ON l.vec_id = v.vec_id
        |ORDER BY v.vec_id""".stripMargin) { (s, dir) => // SemDeDup routed through the k-NN
      // graph — the paper's actual deployment shape (kNN then threshold):
      // the drop rule becomes a filter + keyed min over n·k edge rows,
      // no pair scan at all. Probe-all makes the graph's top-5 exact, so
      // the oracle replays the identical rule from brute force; reduced
      // probes at bench SFs under-drop only (policy; spec pins validity).
      val ivf = new Ivf(s, dir)
      val edges = SimilarityOps.knnGraph(ivf.e, ivf.centroids, k = ivf.k, nProbe = ivf.nProbe)
      SimilarityOps.semanticDedupKnn(ivf.e, edges,
          threshold = GraftConf.fraction(s, GraftConf.SemdedupThreshold, 0.35))
        .orderBy(col("vec_id"))
    },

    QueryDef("g_knn_descent",
      // iterative refinement is not SQL-replayable; the oracle pins the
      // deterministic counts and BOTH measured deciles (the operator's
      // value is the init→descended gap) plus the monotonicity and floor
      // booleans
      oracleSqlKnnDescent) { (s, dir) => // NN-descent refinement: a COARSE
      // cheap init (nProbe 2/16 — deliberately under-probed) plus two
      // general-neighborhood descent rounds, measured on the sampled
      // brute-force truth. The oracle pins both deciles: init 3 (0.38),
      // descended 5 (0.57 at both oracle SFs) — the operator's value IS
      // the gap, and `improved` is the in-DAG monotonicity witness
      // (descent keeps old edges in the candidate pool, so it can never
      // lose a hit). Candidate volume per round is n·(2k)², corpus-pair
      // independent — recall bought without raising nProbe.
      val ivf = new Ivf(s, dir)
      // the exact-truth pin and the coarse-init pin are independent
      // eager materializations over the same centroids — overlap them
      // (guide §2.6, operators.Par). Re-measured in r21 after the r20
      // driver flagged this row 0.81 vs r19: on idle full-bench
      // methodology the overlapped form is 4.43 s vs 6.63 s sequential
      // (docs/bench_r21_idle.json vs bench_r20_idle.json), and a 5-rep
      // A/B of both shapes agrees (5.45 vs 6.20/6.68 min-of-5) — the
      // driver's regression was r19-record noise, so the overlap stays.
      val pins = graft.operators.Par.run(s, parallelism = 2)(
        () => ivf.exactPin(), () => ivf.coarsePin())
      val (exact, init) = (pins(0), pins(1))
      val desc = SimilarityOps.nnDescend(ivf.e, init, k = ivf.k,
        nIters = GraftConf.int(s, GraftConf.DescentIters, 2))
      descentGate(exact, init, desc, ivf.k)
    },

    QueryDef("g_knn_descent_pq",
      // same pinned-decile discipline as g_knn_descent; that BOTH rows pin
      // the SAME deciles (init 3 → descended 5) is itself the claim: the
      // refine=2 ADC-pruned, codes-scored descent climbs exactly as far
      // as full-precision descent at decile granularity
      oracleSqlKnnDescent) { (s, dir) => // descent-on-codes: the same
      // coarse nProbe=2 init and the same two general-neighborhood
      // rounds, but each round's n·(2k)² proposals are ADC-scored against
      // the PINNED codes frame (trained m=16 c=16 codebooks — m ints per
      // proposal instead of d doubles) and only the per-query top-(k·2)
      // shortlist gets the exact cosine that enters the merge. The merged
      // graph stays exact-similarity-ordered, so `improved` is still a
      // structural witness. The oracle pins the deterministic counts and
      // both measured deciles (trained state is deterministic — drift
      // means the path changed): the value claimed is that an
      // AGGRESSIVELY pruned (refine=2) codes-scored descent still climbs
      // from the same init the full-precision gate starts at.
      val ivf = new Ivf(s, dir)
      // three independent eager chains — the PQ codebook training (its
      // own Lloyd loop, centroid-independent), the exact-truth pin and
      // the coarse-init pin — overlapped (guide §2.6); Any-typed because
      // the chains return different shapes
      val chains = graft.operators.Par.run[Any](s, parallelism = 3)(
        () => SimilarityOps.trainPqCodebooksJoint(ivf.e,
          m = GraftConf.int(s, GraftConf.PqM, 16),
          c = GraftConf.int(s, GraftConf.PqC, 16), nIters = 3),
        () => ivf.exactPin(), () => ivf.coarsePin())
      val codebooks = chains(0).asInstanceOf[Seq[Seq[(Int, Seq[Double])]]]
      val exact = chains(1).asInstanceOf[DataFrame]
      val init = chains(2).asInstanceOf[DataFrame]
      val desc = SimilarityOps.nnDescendPq(ivf.e, init, codebooks, k = ivf.k,
        nIters = GraftConf.int(s, GraftConf.DescentIters, 2),
        refine = GraftConf.int(s, GraftConf.KnnRefine, 2))
      descentGate(exact, init, desc, ivf.k)
    },

    QueryDef("g_knn_pq", knnPqOracleSql) { (s, dir) => // the k-NN graph's 100 TB scoring path:
      // ADC over PQ codes — the query stays raw and carries its per-query
      // fixed-point LUT (floor(dot(q_s, codeword)·1e6) longs, one map-only
      // graft_dot projection); the neighbor side is the codes-only index
      // frame; per candidate the score is the cosine of the query against
      // the neighbor's reconstruction (integer LUT + norm-table sums, one
      // double division); exact cosine re-rank of the per-query ADC
      // top-20. Fixture centroids + codebooks (shared deterministic
      // state, the g_sim_ivfpq discipline) make every stage — cell
      // argmax, probe ranking, 8 code argmaxes, the 32-entry LUT and norm
      // tables, the shortlist window, the floored-cosine re-rank —
      // replayable by the DuckDB oracle, so the full codes-only pipeline
      // is hash-gated end to end at the production setting (nProbe 2/4):
      // no quadratic truth anywhere in this row. Deliberately NOT
      // GraftConf-wired: the static oracle SQL replays this exact fixture
      // geometry (PqM/PqC/k/nProbe/refine are baked into its CTEs), so
      // these are replay constants, not tuning knobs — the trained-path
      // twin g_knn_pq_recall is where the knobs live.
      val e = Tables.embeddings(s, dir)
      SimilarityOps.knnGraphPq(e, fixtureCentroids(64), fixturePqCodebooks(64),
          k = 5, nProbe = 2, refine = 4)
        .orderBy(col("vec_id"), col("rank"))
    },

    QueryDef("g_knn_pq_recall",
      // trained codebooks/centroids are not SQL-replayable; the oracle
      // pins the deterministic sampled-query counts and the measured
      // recall's decile (trainPqCodebooks/ivfCentroids are deterministic,
      // so the decile is an exact constant at the oracle SFs, not noise)
      """SELECT 5 AS k,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_queries,
        |  CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0) AS BIGINT) AS n_exact,
        |  8 AS recall_decile, CAST(0.70 AS DOUBLE) AS recall_floor,
        |  true AS meets_floor""".stripMargin) { (s, dir) => // measured recall of the PRODUCTION
      // codes-only graph — data-derived IVF routing (Lloyd k=16×2) and
      // data-TRAINED codebooks (trainPqCodebooks m=16 c=16, the real
      // deployment where codebooks fit the corpus) at nProbe 8/16,
      // refine 16 — vs the full-precision brute-force truth for the
      // sampled queries (vec_id % 4 = 0; the exact side is pinned once
      // for the semi-join and the in-DAG denominator). Trained state is
      // not SQL-replayable, so the oracle pins the deterministic counts
      // and the measured recall's decile (0.805-0.822 here → decile 8 at
      // both oracle SFs — k-means is deterministic, so drift means the
      // path changed) plus the 0.70 floor gate against the 0.86 routing
      // ceiling g_knn_recall pins.
      val ivf = new Ivf(s, dir)
      // codebook training (centroid-independent Lloyd loop) and the
      // exact-truth pin are independent eager chains — overlapped
      // (guide §2.6); Any-typed because the chains return different shapes
      val chains = graft.operators.Par.run[Any](s, parallelism = 2)(
        () => SimilarityOps.trainPqCodebooksJoint(ivf.e,
          m = GraftConf.int(s, GraftConf.PqM, 16),
          c = GraftConf.int(s, GraftConf.PqC, 16), nIters = 3),
        () => ivf.exactPin())
      val codebooks = chains(0).asInstanceOf[Seq[Seq[(Int, Seq[Double])]]]
      val exact = chains(1).asInstanceOf[DataFrame]
      val approx = SimilarityOps.knnGraphPq(ivf.e, ivf.centroids, codebooks,
          k = ivf.k, nProbe = GraftConf.int(s, GraftConf.KnnNProbe, 8),
          refine = GraftConf.int(s, GraftConf.KnnRefine, 16), querySample = ivf.sample)
        .select(col("vec_id"), col("neighbor_id"))
      recallGate(exact, approx, ivf.k, floorPpm = 700000L)
    },

    QueryDef("g_graph_search", graphSearchOracleSql) { (s, dir) =>
      // the SERVING path: a query batch
      // answered by beam search over the persisted k-NN graph — per query
      // per hop ≤ beam·k candidates meet the corpus through equi-joins
      // (never a corpus scan, never cellPop-sized probes). Probes are the
      // mod-10 member sample (self-matches excluded), entries the mod-50
      // navigation seeds (bounded broadcast). At the oracle SFs the graph
      // is probe-all == brute force, so the whole walk — entry scoring,
      // beam cuts, frontier anti-joins, final ranks — is hash-replayed by
      // DuckDB with the two hops unrolled; at bench SFs the same walk runs
      // over the production reduced-probe graph (quadratic-truth policy).
      val ivf = new Ivf(s, dir)
      val e = ivf.e
      // pin the graph: graphSearch's per-hop frontier pins would
      // otherwise re-derive the whole scored-join + window knnGraph
      // subtree once per hop (cross-job plans share no ReusedExchange)
      val graph = graft.operators.Checkpoints.pin(
        SimilarityOps.knnGraph(e, ivf.centroids, k = ivf.k, nProbe = ivf.nProbe),
        reliable = false)
      SimilarityOps.graphSearch(graph, e,
          probes = e.filter(col("vec_id") % 10 === 0),
          entry = e.filter(col("vec_id") % 50 === 0).select(col("vec_id")),
          k = ivf.k, beam = GraftConf.int(s, GraftConf.GraphBeam, 8),
          nHops = GraftConf.int(s, GraftConf.GraphHops, 2),
          excludeSelf = true, probeIdCol = "vec_id")
        .orderBy(col("vec_id"), col("rank"))
    },

    QueryDef("g_graph_search_pq", graphSearchPqOracleSql) { (s, dir) =>
      // codes-only serving: the same
      // walk as g_graph_search but every scoring touch during the hops
      // reads the pinned codes frame (m ints) against the probe's pinned
      // fixed-point LUT; beam cuts order by the ADC quotient; only the
      // final per-query ADC top-(k·refine) shortlist joins the raw
      // vectors for the exact answer. At 100 TB the raw corpus is k·refine
      // point lookups per query — the walk itself never reads it. Fixture
      // codebooks (the g_knn_pq discipline) make EVERY stage — 8 code
      // argmaxes, per-probe LUTs, norm table, ADC beams, frontier
      // anti-joins, shortlist cut, floored-cosine re-rank — DuckDB-
      // replayable, so the full codes-serving pipeline is hash-gated end
      // to end; walk geometry (beam 8, hops 2, refine 4, k 5) is baked
      // into the replay, so like g_knn_pq this row is deliberately not
      // GraftConf-wired.
      val ivf = new Ivf(s, dir)
      val e = ivf.e
      // pin the graph (the g_graph_search rationale: one derivation,
      // not one per hop)
      val graph = graft.operators.Checkpoints.pin(
        SimilarityOps.knnGraph(e, ivf.centroids, k = 5, nProbe = ivf.nProbe),
        reliable = false)
      SimilarityOps.graphSearchPq(graph, e,
          probes = e.filter(col("vec_id") % 10 === 0),
          entry = e.filter(col("vec_id") % 50 === 0).select(col("vec_id")),
          codebooks = fixturePqCodebooks(64),
          k = 5, beam = 8, nHops = 2, refine = 4,
          excludeSelf = true, probeIdCol = "vec_id")
        .orderBy(col("vec_id"), col("rank"))
    },
  )
}
