package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-shape audit over named SparkEntry queries: prints the exchange /
  * broadcast / cartesian / nested-loop / sort-merge counts of each
  * executed plan — the quick scale-smell check (a CartesianProduct or an
  * unexpected SortMergeJoin where a broadcast was intended shows up as a
  * count, without reading full explain output). [[ExplainAudit]] is the
  * companion that prints the full formatted plans once a count here
  * looks wrong.
  *
  * PIN-AWARE: `Checkpoints.pin` is an eager localCheckpoint, so the
  * final plan starts AT the checkpoint and the audit would otherwise
  * never see what a pin already executed (an accidental cartesian inside
  * a pinned frame would sail through the "zero cartesians" invariant).
  * Every pinned subplan is therefore collected via
  * [[graft.operators.Checkpoints.observePins]] and counted alongside the
  * final plan (`pins=` reports how many subplans were folded in).
  *
  * Cartesians split into sanctioned / unsanctioned: the two
  * definition-truth cross products (the exact-arm policy — quadratic
  * truth runs only at the oracle SFs) are whitelisted BY NAME with the
  * expected count of the product in EITHER planned form (CartesianProduct
  * or BroadcastNestedLoopJoin — Catalyst picks by broadcastability), and
  * any drift from that count flags; on every other query any
  * CartesianProduct flags. A flagged row makes the process exit 1, so
  * the audit gates in CI without stdout parsing.
  *
  * `window_global=` counts the `Window` nodes with an empty partition
  * spec ([[globalWindows]]): each moves all its input rows to one task.
  * It is reported, not flagged, until each site is proven bounded.
  *
  * Usage: runMain graft.tools.PlanAudit q_index_join g_dedup_minhash ...
  * (no args = all queries; SPARK_GRAFT_SF_DIR overrides the fixture dir.)
  */
object PlanAudit {

  /** The policy-sanctioned definition-truth cross products, by query and
    * expected count: crossMaxCosine's exact decontamination arm
    * (SimilarityOps) and the bitext exact arm. Catalyst plans the SAME
    * definitional `crossJoin` as CartesianProduct when both sides are
    * large or as BroadcastNestedLoopJoin when one side fits the broadcast
    * threshold (it does at the oracle SFs), so the sanction counts the
    * product in EITHER planned form (`cart + bnlj`). Drift in ANY
    * direction flags: an extra product must not hide behind the
    * sanctioned one, and a missing one means the whitelist no longer
    * describes the plan (update it deliberately, don't let it rot). */
  private val SanctionedProducts: Map[String, Int] = Map(
    "g_decontam_semantic" -> 1,
    "g_bitext_margin" -> 1)

  private val SortOrderList = """.*\b(ASC|DESC) NULLS (FIRST|LAST)""".r

  /** The number of `Window` nodes in plan string `plan` whose partition
    * spec is empty. A node prints its window expressions, its partition
    * spec and its order spec as bracketed lists and leaves an empty list
    * out, so a global window prints one list, or two of which the second
    * is sort orders. */
  private[graft] def globalWindows(plan: String): Int =
    """(?<![A-Za-z])Window \[""".r.findAllMatchIn(plan).count { m =>
      val lists = bracketLists(plan, m.end - 1)
      lists.size == 1 || (lists.size == 2 && SortOrderList.matches(lists(1)))
    }

  /** The contents of the `, `-separated bracketed lists that start at
    * `plan(from)`, up to the end of that line. */
  private def bracketLists(plan: String, from: Int): Seq[String] = {
    val lists = Seq.newBuilder[String]
    var i = from
    var more = true
    while (more) {
      val start = i
      var depth = 0
      while (i < plan.length && plan(i) != '\n' && (i == start || depth > 0)) {
        plan(i) match {
          case '[' | '(' => depth += 1
          case ']' | ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      lists += plan.substring(start + 1, i - 1)
      more = depth == 0 && plan.startsWith(", [", i)
      i += 2
    }
    lists.result()
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.prepare(spark)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    var badRows = 0
    for (q <- names) {
      val pinned = scala.collection.mutable.ArrayBuffer.empty[String]
      val finalPlan = graft.operators.Checkpoints.observePins(p => pinned += p) {
        graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      }
      val plans = finalPlan +: pinned.toSeq
      def n(p: String) = plans.map(pl => p.r.findAllIn(pl).length).sum
      val cart = n("CartesianProduct")
      val bnlj = n("BroadcastNestedLoopJoin")
      val bad = SanctionedProducts.get(q) match {
        // whitelisted: the definitional product must appear exactly
        // `expected` times, in either planned form — both directions flag
        case Some(expected) => cart + bnlj != expected
        // everywhere else a CartesianProduct is an unsanctioned scale
        // smell; BNLJ alone is legitimate (non-equi join with a bounded
        // broadcast side) and is reported but not flagged
        case None => cart > 0
      }
      if (bad) badRows += 1
      println(s"PLAN $q exchanges=${n("Exchange")} broadcast=${n("BroadcastExchange")}" +
        s" cartesian=$cart bnlj=$bnlj sortmerge=${n("SortMergeJoin")}" +
        s" pins=${pinned.size} window_global=${plans.map(globalWindows).sum}" +
        (if (bad) " FLAGGED" else ""))
    }
    println(s"AUDIT flagged_rows=$badRows")
    spark.stop()
    if (badRows > 0) sys.exit(1)
  }
}
