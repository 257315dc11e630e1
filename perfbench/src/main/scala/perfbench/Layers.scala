package perfbench

/** Per-layer numbers of a traced phase, attributed to the ops whose wall
  * window contains each job's and query execution's start. */
object Layers {

  def summarize(ops: Seq[Op], tableFiles: String => Long): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val (jobs, stages, qes, spans) = Trace.synchronized {
      (Trace.jobs.toSeq, Trace.stages.toMap, Trace.qes.toSeq, Trace.spans.toSeq)
    }
    def inOp(ms: Long) = ops.exists(o => ms >= o.startMs && ms <= o.endMs)
    val opJobs = jobs.filter(j => inOp(j.startMs))
    val opStages = opJobs.flatMap(_.stages).distinct.flatMap(stages.get)
    val opQes = qes.filter(q => inOp(q.startMs))
    val opIds = ops.map(_.id).toSet
    val opSpans = spans.filter(s => opIds(s.op))
    val self = Trace.selfNs(opSpans)
    def layerMsPerOp(layer: String): Double = Stats.median(ops.map { o =>
      opSpans.filter(s => s.op == o.id && s.layer == layer).map(s => self(s.id)).sum / 1e6
    })
    val gaps = ops.map { o =>
      val busy = Stats.unionLength(Trace.jobIntervals(o.startMs, o.endMs))
      math.max(0L, (o.endMs - o.startMs) - busy).toDouble
    }
    val wall = ops.map(o => (o.endMs - o.startMs).toDouble).sum
    val skews = opStages.filter(_.durations.size >= 2).map { s =>
      val med = Stats.median(s.durations.map(_.toDouble).toSeq)
      if (med > 0) s.durations.max / med else 1.0
    }
    val filesRead = opQes.map(_.filesRead).sum.toDouble
    val scans = ops.map(o => tableFiles(o.kind)).sum.toDouble
    Map(
      "sources.call_ms" -> layerMsPerOp("sources"),
      "sources.listing_jobs_per_op" -> opJobs.count(_.desc.startsWith("Listing leaf files")) / n,
      "sources.files_read_per_op" -> filesRead / n,
      "sources.file_prune_ratio" -> (if (scans > 0) 1.0 - filesRead / scans else 0.0),
      "sources.bytes_read_per_op" -> opStages.map(_.inputBytes).sum / n,
      "plans.analysis_ms" -> opQes.map(_.analysisMs).sum / n,
      "plans.optimization_ms" -> opQes.map(_.optimizationMs).sum / n,
      "plans.planning_ms" -> opQes.map(_.planningMs).sum / n,
      "plans.build_ms" -> layerMsPerOp("plans"),
      "operators.jobs_per_op" -> opJobs.size / n,
      "operators.stages_per_op" -> opStages.size / n,
      "operators.tasks_per_op" -> opStages.map(_.tasks).sum / n,
      "operators.executor_run_ms" -> opStages.map(_.runMs).sum / n,
      "operators.executor_cpu_ms" -> opStages.map(_.cpuNs).sum / 1e6 / n,
      "operators.shuffle_write_bytes" -> opStages.map(_.shuffleWrite).sum / n,
      "operators.shuffle_read_bytes" -> opStages.map(_.shuffleRead).sum / n,
      "operators.spill_bytes" -> opStages.map(_.spill).sum / n,
      "operators.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "driver.gap_ms" -> Stats.median(gaps),
      "driver.gap_share" -> (if (wall > 0) gaps.sum / wall else 0.0))
  }
}
