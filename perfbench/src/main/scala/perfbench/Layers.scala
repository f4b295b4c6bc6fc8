package perfbench

/** Per-layer metrics and spans of one traced op, from what the tracer saw
  * at graft's public boundaries. Names follow graft's modules: `codec`,
  * `functions`, `operators`, `sources`, `query` (the Spark engine under the
  * op), `streaming` and `entries`. */
object Layers {
  private val MB = 1048576.0

  /** The pipeline stage a masking job belongs to, from its call site:
    * graft's mask stage, the ParquetLoad write, or a view publish (the
    * extract before the mask stage, the summary after it). */
  def pipelineStage(callSite: String, maskSeen: Boolean): String =
    if (callSite.contains("graft.operators.MaskTransform")) "mask"
    else if (callSite.contains("DataFrameWriter")) "load"
    else if (!maskSeen) "extract"
    else "summary"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def forOp(opId: String, w: Workload, item: String, t: OpTracer, out: OpOutput,
            startMs: Double, endMs: Double, wall: Double, cores: Int,
            cachedLeft: Int): (Map[String, Double], Seq[Span]) = {
    val jobs = t.jobs.values.toSeq.sortBy(_.startMs)
    val masking = w.isInstanceOf[MaskPipeline]
    var maskSeen = false
    val stageOf: Map[Int, String] = jobs.map { j =>
      val s = if (masking) pipelineStage(j.callSite, maskSeen) else s"entries.$item"
      if (s == "mask") maskSeen = true
      j.id -> s
    }.toMap
    def jobSeconds(stage: String) =
      jobs.filter(j => stageOf(j.id) == stage).map(j => (j.endMs - j.startMs) / 1000.0).sum
    def total(f: JobStats => Double) = jobs.map(f).sum

    // spans: the op, the stages or query it timed from outside, the jobs
    val root = Span(opId, "", w.name, "op", startMs, endMs)
    val outer = out.spans.map { case (n, s, e) => Span(s"$opId/$n", opId, n, "stage", s, e) }
    val derived = if (!masking) Nil else jobs.groupBy(j => stageOf(j.id)).toSeq.map { case (st, js) =>
      Span(s"$opId/$st", opId, s"operators.$st", "stage",
        js.map(_.startMs).min.toDouble, js.map(_.endMs).max.toDouble)
    }
    val jobSpans = jobs.map { j =>
      val parent = if (masking) s"$opId/${stageOf(j.id)}" else s"$opId/entries.$item"
      Span(s"$opId/job-${j.id}", parent, s"job.${stageOf(j.id)}", "job",
        j.startMs.toDouble, j.endMs.toDouble, j.callSite)
    }

    val kdfCalls = CodecCounters.calls.sum.toDouble
    val kdfBusy = CodecCounters.nanos.sum / 1e9
    val cells = w.maskedCells.toDouble
    val runS = total(_.runMs) / 1000.0
    val maskRunS = jobs.filter(j => stageOf(j.id) == "mask").map(_.runMs).sum / 1000.0
    val jobUnionS = covered(jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)), startMs, endMs) / 1000.0

    val prog = t.progress.toSeq
    val ops = prog.map(_.stateOperators.toSeq)
    def maxOver(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      (0.0 +: ops.map(_.map(f).sum)).max

    val base = Map(
      "codec.kdf_calls" -> kdfCalls,
      "codec.kdf_busy_s" -> kdfBusy,
      "codec.kdf_ms_per_call" -> (if (kdfCalls > 0) kdfBusy * 1000 / kdfCalls else 0.0),
      "functions.masked_cells" -> cells,
      "functions.memo_hit_ratio" -> (if (cells > 0) 1.0 - kdfCalls / cells else 0.0),
      "functions.non_kdf_core_s" -> (if (masking) maskRunS - kdfBusy else 0.0),
      "operators.parse_ms" -> out.spans.collectFirst { case ("parse", s, e) => e - s }.getOrElse(0.0),
      "operators.extract_s" -> jobSeconds("extract"),
      "operators.mask_s" -> jobSeconds("mask"),
      "operators.load_s" -> jobSeconds("load"),
      "sources.read_mb" -> total(_.readBytes) / MB,
      "sources.write_mb" -> total(_.writeBytes) / MB,
      "sources.files_written" -> t.filesWritten.toDouble,
      "query.jobs" -> jobs.length.toDouble,
      "query.stages" -> total(_.stages),
      "query.tasks" -> total(_.tasks),
      "query.shuffle_write_mb" -> total(_.shuffleWriteBytes) / MB,
      "query.shuffle_read_mb" -> total(_.shuffleReadBytes) / MB,
      "query.spill_mb" -> total(_.spillBytes) / MB,
      "query.executor_run_s" -> runS,
      "query.executor_cpu_s" -> total(_.cpuNs) / 1e9,
      "query.gc_s" -> total(_.gcMs) / 1000.0,
      "query.driver_gap_s" -> (wall - jobUnionS),
      "query.core_utilization" -> runS / (wall * cores),
      "query.cached_rdds_left" -> cachedLeft.toDouble,
      "streaming.batches" -> prog.length.toDouble,
      "streaming.input_rows" -> prog.map(_.numInputRows.toDouble).sum,
      "streaming.state_rows" -> maxOver(_.numRowsTotal.toDouble),
      "streaming.state_mb" -> maxOver(_.memoryUsedBytes / MB),
      "streaming.state_partitions" -> maxOver(_.numShufflePartitions.toDouble),
      "streaming.commit_ms" -> ops.map(_.map(_.commitTimeMs.toDouble).sum).sum,
      "streaming.batch_ms" -> prog.map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.doubleValue).getOrElse(0.0)).sum)
    val entries = if (masking) Map.empty[String, Double] else Map(
      s"entries.$item.wall_s" -> wall,
      s"entries.$item.jobs" -> jobs.length.toDouble,
      s"entries.$item.shuffle_write_mb" -> total(_.shuffleWriteBytes) / MB,
      s"entries.$item.executor_cpu_s" -> total(_.cpuNs) / 1e9)
    (base ++ entries, root +: (outer ++ derived ++ jobSpans))
  }
}
