package graft.perfbench

/** Per-layer metrics of a traced run, averaged per traced pass, plus each
  * op's self time by layer, the tracing overhead and the two codec-share
  * predictions. Layers a workload does not exercise report 0. */
object Layers {
  /** Every per-layer metric name with its unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "bv.decode_ns_per_arc" -> "ns/arc", "bv.encode_ns_per_arc" -> "ns/arc",
    "bv.outdegree_ns_per_node" -> "ns/node", "bv.load_ms" -> "ms",
    "bv.decode_share" -> "ratio", "bv.encode_share" -> "ratio",
    "scan_arcs_per_s" -> "arcs/s", "write_arcs_per_s" -> "arcs/s", "bits_per_link" -> "bits/arc",
    "sources.nodes_decoded" -> "count", "sources.arcs_decoded" -> "count",
    "sources.arc_yield" -> "ratio", "sources.scan_tasks" -> "count",
    "sources.scan_task_skew" -> "ratio", "sources.shards_opened" -> "count",
    "sources.write_tasks" -> "count", "sources.write_task_max_s" -> "s",
    "sources.write_shuffle_bytes" -> "bytes",
    "hadoop.splits" -> "count", "hadoop.scan_arcs_per_s" -> "arcs/s",
    "spark.plan_ms" -> "ms", "spark.exec_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.tasks_failed" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_busy_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "graph.jobs_per_op" -> "count", "graph.s_per_job" -> "s",
    "stream.batches" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.get_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.state_rows" -> "count", "harness.sweep_ms" -> "ms", "trace.overhead" -> "ratio")

  /** Predicted shares from the pre-benchmark probes: encoding ≈ 75% of a
    * sink write, decoding ≈ 25% of a full DSv2 scan. A prediction holds
    * when the measured share is within 0.15 of it. */
  val predictedEncodeShare = 0.75
  val predictedDecodeShare = 0.25

  def compute(wl: Workload, trace: Trace, cores: Int,
      passTimes: Seq[(Int, Boolean, Double)], gcPerTracedPass: Seq[Double],
      codec: Map[String, Double], runs: Seq[OpRun],
      workloadMetrics: Map[String, Double]): Map[String, Any] = {
    val aggs = trace.ops.toSeq
    val tracedPasses = passTimes.filter(_._2)
    val t = math.max(1, tracedPasses.size).toDouble
    def perPass(f: OpAgg => Double): Double = aggs.map(f).sum / t
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val untraced = runs.filter(!_.traced)
    def opMedian(op: String): Double = med(untraced.filter(_.op == op).map(_.seconds))
    val work = runs.filter(_.traced).map(r => (r.pass, r.op) -> r.work).toMap
    val spanById = trace.spans.map(s => s.id -> s).toMap
    val kids = trace.spans.groupBy(_.parent)
    def covered(s: Span, kind: String): Long = Spans.covered(s.startNs, s.endNs,
      kids.getOrElse(s.id, Nil).filter(_.kind == kind).map(c => (c.startNs, c.endNs)).toSeq)
    def opSpan(a: OpAgg): Option[Span] = spanById.get(a.spanId)

    val slices = aggs.filter(_.op == "scan_slice")
    val scans = { val f = aggs.filter(_.op == "scan_full"); if (f.nonEmpty) f else aggs.filter(_.scanTaskS.nonEmpty) }
    val writes = aggs.filter(a => a.op.startsWith("write_") || a.op == "transpose")
    def finalStage(a: OpAgg): Seq[Double] =
      if (a.lastStageTaskS.isEmpty) Nil else a.lastStageTaskS(a.lastStageTaskS.keys.max).toSeq
    val graphOps = aggs.filter(_.op.startsWith("graph_"))
    val hadoop = aggs.filter(_.op == "hadoop_edges")
    val arcs = wl.facts.get("arcs").map(_.toString.toDouble).getOrElse(0.0)
    val cpuShare = (nsPerArc: Double, wall: Double) =>
      if (wall <= 0 || arcs == 0) 0.0 else nsPerArc * arcs / cores / 1e9 / wall
    val decodeShare = wl match {
      case _: BvScan => cpuShare(codec.getOrElse("bv.decode_ns_per_arc", 0.0), opMedian("scan_full"))
      case _ => 0.0
    }
    val encodeShare = wl match {
      case _: BvWrite => cpuShare(codec.getOrElse("bv.encode_ns_per_arc", 0.0), opMedian("write_zeta"))
      case _ => 0.0
    }
    val tracedPassS = med(tracedPasses.map(_._3))
    val untracedPassS = med(passTimes.filter(!_._2).map(_._3))
    val taskBusyS = perPass(_.taskBusyNs / 1e9)

    val m: Map[String, Double] = codec ++ workloadMetrics ++ Map(
      "bv.decode_share" -> decodeShare,
      "bv.encode_share" -> encodeShare,
      "sources.nodes_decoded" -> perPass(_.bvNodes.toDouble),
      "sources.arcs_decoded" -> perPass(_.bvArcs.toDouble),
      "sources.arc_yield" -> {
        val decoded = slices.map(_.bvArcs).sum.toDouble
        if (decoded == 0) 0.0 else slices.map(a => work.getOrElse((a.pass, a.op), 0L)).sum / decoded
      },
      "sources.scan_tasks" -> med(scans.map(_.scanTaskS.size.toDouble)),
      "sources.scan_task_skew" -> med(scans.filter(_.scanTaskS.nonEmpty)
        .map(a => a.scanTaskS.max / math.max(1e-3, Stats.median(a.scanTaskS.toSeq)))),
      "sources.shards_opened" -> graft.sources.BvGraphCache.coldOpens.get().toDouble,
      "sources.write_tasks" -> med(writes.map(a => finalStage(a).size.toDouble)),
      "sources.write_task_max_s" -> med(writes.map(a => (0.0 +: finalStage(a)).max)),
      "sources.write_shuffle_bytes" -> writes.map(_.shuffleWrite.toDouble).sum / t,
      "hadoop.splits" -> med(hadoop.map(_.tasks.toDouble)),
      "hadoop.scan_arcs_per_s" -> (if (hadoop.isEmpty) 0.0 else arcs / opMedian("hadoop_edges")),
      "spark.plan_ms" -> perPass(_.planMs),
      "spark.exec_s" -> perPass(_.execNs / 1e9),
      "spark.jobs" -> perPass(_.jobs.toDouble),
      "spark.stages" -> perPass(_.stages.toDouble),
      "spark.tasks" -> perPass(_.tasks.toDouble),
      "spark.tasks_failed" -> perPass(_.tasksFailed.toDouble),
      "spark.driver_gap_s" -> perPass(a => opSpan(a).map(s => s.durNs - covered(s, "job")).getOrElse(0L) / 1e9),
      "spark.task_busy_s" -> taskBusyS,
      "spark.slot_util" -> (if (tracedPassS > 0) taskBusyS / (tracedPassS * cores) else 0.0),
      "spark.gc_s" -> (if (gcPerTracedPass.isEmpty) 0.0 else gcPerTracedPass.sum / gcPerTracedPass.size),
      "spark.shuffle_write_bytes" -> perPass(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perPass(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perPass(_.spill.toDouble),
      "graph.jobs_per_op" -> (if (graphOps.isEmpty) 0.0 else graphOps.map(_.jobs).sum.toDouble / graphOps.size),
      "graph.s_per_job" -> {
        val jobs = graphOps.map(_.jobs).sum
        if (jobs == 0) 0.0 else graphOps.flatMap(opSpan).map(_.durNs).sum / 1e9 / jobs
      },
      "stream.batches" -> perPass(_.batches.toDouble),
      "stream.trigger_ms" -> perPass(_.streamMs("triggerExecution")),
      "stream.add_batch_ms" -> perPass(_.streamMs("addBatch")),
      "stream.get_batch_ms" -> perPass(_.streamMs("getBatch")),
      "stream.query_planning_ms" -> perPass(_.streamMs("queryPlanning")),
      "stream.wal_commit_ms" -> perPass(_.streamMs("walCommit")),
      "stream.commit_offsets_ms" -> perPass(_.streamMs("commitOffsets")),
      "stream.state_rows" -> perPass(_.stateRows.values.sum.toDouble),
      "harness.sweep_ms" -> med(untraced.map(_.sweepMs)),
      "trace.overhead" -> (if (untracedPassS > 0) tracedPassS / untracedPassS else 0.0))

    // self time by layer along each op: harness sweep, driver (op span not
    // covered by a job), scheduler (job span not covered by a stage) and
    // stage execution; medians over the op's traced executions
    val selfByOp = aggs.groupBy(_.op).map { case (op, as) =>
      val rows = as.flatMap(a => opSpan(a).map { s =>
        val jobs = kids.getOrElse(s.id, Nil).filter(_.kind == "job")
        (a.sweepNs / 1e9, (s.durNs - covered(s, "job")) / 1e9,
          jobs.map(j => j.durNs - covered(j, "stage")).sum / 1e9,
          jobs.map(j => covered(j, "stage")).sum / 1e9)
      })
      op -> Map("harness_sweep_s" -> med(rows.map(_._1)), "driver_self_s" -> med(rows.map(_._2)),
        "scheduler_self_s" -> med(rows.map(_._3)), "stage_s" -> med(rows.map(_._4)))
    }
    val predictions = wl match {
      case _: BvScan => Map("decode_share" -> Map("predicted" -> predictedDecodeShare,
        "measured" -> decodeShare, "held" -> (math.abs(decodeShare - predictedDecodeShare) <= 0.15)))
      case _: BvWrite => Map("encode_share" -> Map("predicted" -> predictedEncodeShare,
        "measured" -> encodeShare, "held" -> (math.abs(encodeShare - predictedEncodeShare) <= 0.15)))
      case _ => Map.empty
    }
    Map("metrics" -> units.map { case (k, u) => k -> Map("value" -> m.getOrElse(k, 0.0), "unit" -> u) }.toMap,
      "traced_passes" -> tracedPasses.size,
      "overhead" -> Map("traced_pass_s" -> tracedPassS, "untraced_pass_s" -> untracedPassS),
      "self_time_by_op" -> selfByOp,
      "predictions" -> predictions)
  }
}
