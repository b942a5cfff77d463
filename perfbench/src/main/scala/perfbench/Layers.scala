package perfbench

import scala.collection.mutable
import org.apache.spark.sql.streaming.StreamingQueryProgress
import Main.{Call, Pass, layerOf}

/** Spans of a run and the per-layer metrics computed from them. Layers use
  * the engine's module names: `streaming` (Replayer, Streams, *Processor),
  * `queries` (relational and Graph loops), `llm`, `core` (ConfScope and
  * checkpoints) and `scheduler` (Spark's jobs and tasks under all of them). */
object Layers {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private def batchStartMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def mb(bytes: Double): Double = bytes / 1048576.0

  /** Spans of one call: call → {build, write}; the stream's micro-batches
    * under build; with a job log, every job under its micro-batch (matched
    * by stream run id and batch id) or under the phase it started in. */
  def callSpans(c: Call, firstId: Int, parent: Int, jl: Option[JobLog]): Seq[Span] = {
    val layer = layerOf(c.query)
    var id = firstId
    def next(): Int = { id += 1; id - 1 }
    val callId = next()
    val buildId = next()
    val writeId = next()
    val out = mutable.ArrayBuffer(
      Span(callId, parent, s"call:${c.query}", layer, c.startMs, c.endMs,
           Map("tenant" -> c.tenant.toDouble, "pass" -> c.pass.toDouble)),
      Span(buildId, callId, "build", layer, c.startMs, c.builtMs),
      Span(writeId, callId, "write", layer, c.builtMs, c.endMs))
    val batches = c.progress.map { p =>
      val s = batchStartMs(p)
      val sp = Span(next(), buildId, s"microbatch:${p.batchId}", "streaming",
        s, s + dur(p, "triggerExecution"),
        Map("input_rows" -> p.numInputRows.toDouble,
            "add_batch_ms" -> dur(p, "addBatch"),
            "query_planning_ms" -> dur(p, "queryPlanning"),
            "wal_commit_ms" -> dur(p, "walCommit")))
      out += sp
      (p.runId.toString, p.batchId.toString) -> sp.id
    }.toMap
    jl.foreach(_.forTag(c.tag).foreach { j =>
      val par = batches.getOrElse((j.runId, j.batchId),
        if (j.startMs < c.builtMs) buildId else writeId)
      val a = j.agg
      out += Span(next(), par, s"job:${j.id}", "scheduler", j.startMs, j.endMs,
        Map("tasks" -> a.tasks.toDouble, "task_cpu_ms" -> a.cpuNs / 1e6,
            "stages" -> j.stages.size.toDouble))
    })
    out.toSeq
  }

  /** All spans of a run: run → pass → call → … (jobs only for the traced
    * pass, whose job log is given). */
  def spans(runStart: Double, runEnd: Double, passes: Seq[Pass],
            jl: Option[JobLog]): Seq[Span] = {
    val out = mutable.ArrayBuffer(Span(0, -1, "run", "bench", runStart, runEnd))
    passes.foreach { p =>
      val pid = out.size
      out += Span(pid, 0, s"pass:${p.kind}#${p.index}", "bench", p.startMs, p.endMs,
                  Map("cpu_s" -> p.cpuS))
      p.calls.foreach { c =>
        out ++= callSpans(c, out.size, pid, if (p.kind == "traced") jl else None)
      }
    }
    out.toSeq
  }

  def spanJson(s: Span): Map[String, Any] =
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)

  /** Per-layer metrics. Stream throughput and micro-batch latency come from
    * the untraced timed passes; everything else from the traced pass. */
  def metrics(traced: Pass, timed: Seq[Pass], jl: JobLog, cores: Int): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def isStream(c: Call) = layerOf(c.query) == "streaming"

    val timedStream = timed.flatMap(_.calls).filter(isStream)
    val wall = timedStream.map(_.wallS).sum
    m("streaming.events_per_s") =
      if (wall > 0) timedStream.flatMap(_.progress).map(_.numInputRows).sum / wall else 0.0
    val trigger = timedStream.flatMap(_.progress).map(dur(_, "triggerExecution"))
    m("streaming.microbatch_ms_p50") = Intervals.quantile(trigger, 0.5)
    m("streaming.microbatch_ms_p90") = Intervals.quantile(trigger, 0.9)

    val sp = traced.calls.foldLeft(Vector.empty[Span]) { (acc, c) =>
      acc ++ callSpans(c, acc.size, -1, Some(jl))
    }
    val self = Intervals.selfMs(sp)
    def layerSelf(l: String) = sp.filter(_.layer == l).map(s => self(s.id)).sum

    val streams = traced.calls.filter(isStream)
    val progs = streams.flatMap(_.progress)
    def sumDur(keys: String*) = progs.map(p => keys.map(dur(p, _)).sum).sum
    val empty = progs.count(_.numInputRows == 0)
    m("streaming.microbatches") = progs.size
    m("streaming.empty_microbatches") = empty
    m("streaming.data_microbatch_frac") =
      if (progs.isEmpty) 0.0 else (progs.size - empty).toDouble / progs.size
    m("streaming.query_planning_ms") = sumDur("queryPlanning")
    m("streaming.add_batch_ms") = sumDur("addBatch")
    m("streaming.wal_commit_ms") = sumDur("walCommit")
    m("streaming.commit_offsets_ms") = sumDur("commitOffsets")
    m("streaming.source_ms") = sumDur("latestOffset", "getBatch")
    val byBatch = sp.filter(_.name.startsWith("microbatch:")).map { b =>
      b -> sp.filter(j => j.parent == b.id && j.layer == "scheduler")
    }
    val jobMs = byBatch.map { case (b, js) =>
      Intervals.covered(js.map(j => (j.startMs, j.endMs)), b.startMs, b.endMs)
    }.sum
    m("streaming.add_batch_job_ms") = jobMs
    m("streaming.add_batch_unattributed_ms") = math.max(0.0, m("streaming.add_batch_ms") - jobMs)
    m("streaming.driver_self_ms") = layerSelf("streaming")
    val ops = progs.flatMap(_.stateOperators)
    m("streaming.state_commit_ms") = ops.map(_.commitTimeMs).sum.toDouble
    // state size at the end of each stream: its last progress
    val last = progs.groupBy(_.runId).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)
    m("streaming.state_rows") = last.map(_.numRowsTotal).sum.toDouble
    m("streaming.state_bytes") = last.map(_.memoryUsedBytes).sum.toDouble
    m("streaming.late_rows_dropped") = ops.map(_.numRowsDroppedByWatermark).sum.toDouble

    val known = Main.StreamQueries ++ Main.AnalyticsQueries
    for (layer <- Seq("streaming", "queries", "llm")) {
      known.filter(layerOf(_) == layer).foreach { q =>
        m(s"$layer.${q}_s") = traced.calls.filter(_.query == q).map(_.wallS).sum
      }
    }
    for (layer <- Seq("queries", "llm")) {
      val cs = traced.calls.filter(c => layerOf(c.query) == layer)
      val jobs = cs.flatMap(c => jl.forTag(c.tag))
      val aggs = jobs.map(_.agg)
      m(s"$layer.plan_ms") = cs.map(_.planMs).sum
      m(s"$layer.jobs") = jobs.size
      m(s"$layer.stages") = jobs.map(_.stages.size).sum
      m(s"$layer.tasks") = aggs.map(_.tasks).sum.toDouble
      m(s"$layer.task_cpu_ms") = aggs.map(_.cpuNs).sum / 1e6
      m(s"$layer.gc_ms") = aggs.map(_.gcMs).sum.toDouble
      m(s"$layer.shuffle_read_mb") = mb(aggs.map(_.shuffleReadB).sum.toDouble)
      m(s"$layer.shuffle_write_mb") = mb(aggs.map(_.shuffleWriteB).sum.toDouble)
      m(s"$layer.spill_mb") = mb(aggs.map(_.spillB).sum.toDouble)
      m(s"$layer.exchanges") = cs.map(_.exchanges).sum
      m(s"$layer.driver_self_ms") = layerSelf(layer)
    }
    m("core.cached_blocks_mb") =
      (0.0 +: traced.calls.filter(c => Main.LoopQueries(c.query)).map(_.cachedMb)).max

    val allJobs = traced.calls.flatMap(c => jl.forTag(c.tag))
    val passMs = traced.endMs - traced.startMs
    m("scheduler.task_busy_frac") = allJobs.map(_.agg.busyMs).sum / (passMs * cores)
    m("scheduler.sched_delay_ms") = allJobs.map(_.agg.schedDelayMs).sum
    if (traced.calls.map(_.tenant).distinct.size > 1) {
      def busy(t: Int) = traced.calls.filter(_.tenant == t)
        .flatMap(c => jl.forTag(c.tag)).map(j => (j.startMs, j.endMs))
      val (a, b) = (busy(0), busy(1))
      val both = Intervals.covered(a, traced.startMs, traced.endMs) +
        Intervals.covered(b, traced.startMs, traced.endMs) -
        Intervals.covered(a ++ b, traced.startMs, traced.endMs)
      m("scheduler.tenant_overlap_frac") = both / passMs
    }
    m.toMap
  }
}
