package graft

/** Plan-shape regression guards: these queries' scale story depends on
  * predicates reaching the parquet scan and small sides broadcasting —
  * assert it so a refactor can't silently regress the physical plan
  * (the round-1 pushdown bug: filters on a derived micros column pushed
  * only IsNotNull). Also guarded here: the streaming rows' source scoping,
  * which must stream a table whatever its on-disk shape. */
class PlanRegressionSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_ts_range pushes the time range into the scan as long bounds") {
    val p = plan("q_ts_range")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThanOrEqual(ts,"),
      s"time range not pushed:\n$p")
  }

  test("q_ts_range_derived pushes synthesized raw bounds (DerivedLongBounds)") {
    // the rule must be registered the way driver-owned sessions get it
    graft.GraftSession.prepare(spark)
    val p = plan("q_ts_range_derived")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThanOrEqual(ts,"),
      s"derived time range not pushed:\n$p")
  }

  test("q_load_aggregate pushes the aggregate-id equality into the scan") {
    val p = plan("q_load_aggregate")
    assert(p.contains("EqualTo(user_id,7)"), s"id filter not pushed:\n$p")
  }

  test("q_index_join broadcasts the index side") {
    val p = plan("q_index_join")
    assert(p.contains("BroadcastHashJoin"), s"index join not broadcast:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"), s"et filter not pushed:\n$p")
  }

  test("q1_pricing pushes the shipdate bound and aggregates partially") {
    val p = plan("q1_pricing")
    assert(p.contains("LessThanOrEqual(l_shipdate,"), s"shipdate not pushed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, // partial + final
      s"no partial aggregation:\n$p")
  }

  test("q_semi_join stays a semi join with pushed filters") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"), s"semi join lost:\n$p")
    assert(p.contains("EqualTo(event_type,error)"), s"et filter not pushed:\n$p")
  }

  test("q19 pushes its per-table DNF projections into both scans") {
    // formatted explain: the simple plan string truncates PushedFilters
    val p = SparkEntry.queries("q19_disjunctive")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the OR-of-ANDs spans both tables; Catalyst must still push the
    // single-table projections of the disjunction into each parquet scan
    assert(p.contains("EqualTo(p_brand,Brand#12)"), s"part-side DNF not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"), s"lineitem-side DNF not pushed:\n$p")
  }

  test("q17 decorrelated threshold keeps partial aggregation") {
    val p = plan("q17_small_qty")
    assert(p.contains("EqualTo(p_brand,Brand#23)"), s"brand filter not pushed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q_top2_per_user pushes the rank limit below the sort (WindowGroupLimit)") {
    // Spark's rank-limit pushdown keeps only k rows per key on BOTH sides
    // of the window exchange — at 100 TB the difference between shuffling
    // k rows per aggregate and shuffling the corpus
    val p = plan("q_top2_per_user")
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed below the window:\n$p")
  }

  test("g_para_dedup_incr flags corpus membership in one shuffle — no join") {
    // the union-window formulation: increment passages + corpus keys
    // through ONE exchange keyed on the paragraph, presence = partition
    // max, first-occurrence = corpus-last row_number. A refactor back to
    // any join form re-ships the corpus per join (measured: identical
    // corpus subtrees get NO exchange reuse, even under AQE)
    val p = plan("g_para_dedup_incr")
    assert(!p.contains("Join"), s"membership flag became a join:\n$p")
    assert("Window".r.findAllIn(p).size == 2, s"expected the two window passes:\n$p")
    // union-window exchange + reassembly agg exchange + final sort range
    // exchange and nothing else
    assert("Exchange".r.findAllIn(p).size <= 3, s"extra shuffles crept in:\n$p")
  }

  test("g_sim_ivf_indexed reads the persisted layout through cell partition filters") {
    // the whole point of writeIvfIndex's partitionBy(cell): a probe query
    // must list/read only its probe-cell directories, not scan the corpus
    val p = plan("g_sim_ivf_indexed")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"probe-cell filter not a partition filter:\n$p")
  }

  test("runtime bloom-filter pruning injects might_contain on the fact scan") {
    // At 100 TB the win of a selective dim join is filtering fact rows
    // BEFORE the join shuffle: Spark's runtime row-level filter builds a
    // bloom filter from the dim side and injects might_contain into the
    // fact scan stage. The feature is size-gated; pin that the engine's
    // plans are eligible by lowering the thresholds and asserting the
    // injection happens for a canonical selective-dim join.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // bloom injection targets shuffle joins (a broadcast join already
      // filters at the join); at test scale everything would broadcast,
      // so force the 100 TB shuffle-join shape
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val sel = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val p = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        s"bloom runtime filter not injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("PQ family plans stay exchange-free projections + top-k") {
    // the PQ scale story IS the plan shape: encode and ADC are map-only,
    // the cell filter prunes, and nothing shuffles before the final
    // TakeOrdered reduction. An Exchange appearing here means a refactor
    // broke the projection-only property.
    Seq("g_sim_pq", "g_sim_ivfpq").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Exchange"), s"$n grew an exchange:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$n lost the top-k reduction:\n$p")
    }
    // the persisted probe prunes directories and reads codes only
    val p = plan("g_sim_pq_indexed")
    assert(!p.contains("Exchange"), s"indexed scan grew an exchange:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"cell directory pruning lost:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("embedding"),
      s"the codes-only scan should never see a vector column:\n$p")
  }

  test("compressed scans (SQ8 / binary sketch): top-k reductions, no cartesian") {
    // candidate generation is a map-only kernel projection feeding a
    // TakeOrdered reduction; the re-rank joins an 80-row shortlist back to
    // the raw store — nothing here may plan a cartesian product, and losing
    // the TakeOrdered means the shortlist cut became a full sort
    Seq("g_sim_sq8", "g_sim_hamming", "g_sim_ivfsq8").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a CartesianProduct:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$n lost the top-k reduction:\n$p")
    }
    // the persisted SQ8 probe prunes cell directories; the only vector
    // read is the re-rank's raw-store join (the index scan is codes-only)
    val p = plan("g_sim_sq8_indexed")
    assert(p.contains("PartitionFilters") && p.contains("cell"),
      s"sq8 cell directory pruning lost:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"indexed scan lost the top-k:\n$p")
  }

  test("retrieval rerankers: maxsim is a map-only top-k; mmr picks stay bounded products") {
    // MaxSim is a single fused-kernel projection + TakeOrdered — the same
    // zero-exchange shape as the brute cosine scan
    val pm = plan("g_maxsim")
    assert(!pm.contains("Exchange"), s"g_maxsim grew an exchange:\n$pm")
    assert(pm.contains("TakeOrderedAndProject"), s"g_maxsim lost the top-k reduction:\n$pm")
    // MMR's pool x selected products are bounded broadcasts (<= pool x k
    // rows) — BNLJ is the documented class; a CartesianProduct is not
    val pr = plan("g_mmr_select")
    assert(!pr.contains("CartesianProduct"), s"g_mmr_select plans a CartesianProduct:\n$pr")
  }

  test("entry / q_index_join / q_semi_join carry no broadcast hints") {
    // Policy (round-2 verdict #1): the index side of C1/C2 is unbounded at
    // 100 TB — a hard broadcast() hint is honored regardless of size and
    // OOMs on a hot event type. These plans must rely on size estimation +
    // AQE only. A ResolvedHint in the analyzed plan, or a join hint
    // surviving into the optimized plan, fails this test.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    def assertHintFree(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$label: broadcast/join hint present: $hints")
      val joinHints = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j.hint
      }
      assert(joinHints.isEmpty, s"$label: join hint in optimized plan: $joinHints")
    }
    assertHintFree("entry", SparkEntry.entry(spark))
    Seq("q_index_join", "q_semi_join").foreach { n =>
      assertHintFree(n, SparkEntry.queries(n)(spark, dir))
    }
  }

  test("no driver-side count() in any query builder") {
    // Policy (round-11 verdict #2): a .count() inside a query builder is
    // an eager driver action that forces its input to execute once for
    // the scalar and again for the plan that uses it (g_knn_recall's
    // 34s), and the anti-pattern scales with the input, unlike the
    // sanctioned bounded driver state (one query vector via head(),
    // k·d centroids, probed-bucket lists, eager pins). Denominators
    // belong in-DAG: agg + 1×1 cross join.
    val rowsDir = java.nio.file.Paths.get("src/main/scala/graft/rows")
    val files = java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala") +:
      rowsDir.toFile.listFiles().filter(_.getName.endsWith(".scala")).map(_.toPath).toSeq
    assert(files.size > 1, s"no row files under $rowsDir")
    files.foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(!src.contains(".count()"),
        s"${f.getFileName} contains a .count() — compute scalars in-DAG instead")
    }
  }

  test("knn graph family: equi-join candidate generation, no cartesian product") {
    Seq("g_knn_graph", "g_knn_pq", "g_knn_recall", "g_knn_pq_recall",
        "g_graph_search", "g_knn_descent_pq", "g_graph_search_pq").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n plans a CartesianProduct — cell routing must stay an equi-join " +
          "(the 1×1 recall denominator join is BNLJ, not cartesian)")
    }
  }

  test("q_stream_counters and q_stream_index stream a multi-file events.parquet directory") {
    // the same rows as a Spark-written directory of part files: a source
    // scoped by a file-name glob matches no part file and drains nothing
    val multi = tmpDir()
    graft.sources.Tables.table(spark, dir, "events").repartition(4)
      .write.parquet(s"$multi/events.parquet")
    val parts = new java.io.File(s"$multi/events.parquet").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts >= 3, s"$parts part files")
    Seq("q_stream_counters", "q_stream_index").foreach { n =>
      def rows(d: String) = SparkEntry.queries(n)(spark, d).collect().map(_.toString).sorted.toSeq
      val single = rows(dir)
      assert(single.nonEmpty, s"$n drained no rows from the single-file table")
      assert(rows(multi) == single, s"$n over the directory table")
    }
  }
}
