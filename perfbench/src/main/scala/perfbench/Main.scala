package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.{Harness, SparkEntry}
import graft.core.Tables
import graft.streaming.Replayer

/** The repository benchmark's JVM side. Drives the engine only through its
  * public entry points (`SparkEntry.queries(name)(session, dir)` followed by
  * a `noop` write, the action `Harness.timeOnce` times) and writes one
  * result record plus the span trace to `--out`. `perfbench/run.py` builds
  * this, runs it, applies the DuckDB oracle gate and prints the result.
  *
  * Protocol of one run: session start; three set-ups (fresh tmpdir, child
  * session, table registration, replay-fixture derivation); one warm-up
  * pass that writes every query's output for the oracle gate; timed
  * `noop` passes until `--seconds` have passed (at least one); with
  * `--trace 1`, one more pass with the job/task and planning listeners on.
  * Every pass runs its queries in list order: a per-seed order moved pass
  * times by up to 20% through JIT and cache history alone, which would hide
  * regressions of that size. The seed acts through the generated inputs. */
object Main {
  val StreamQueries = Seq("s11_chained", "s10_window_topn", "s8_funnel")
  val AnalyticsQueries = Seq("a1_pricing", "w1_rank", "g4_bfs", "l10_minhash_lsh")
  /** Queries that loop on the driver with `localCheckpoint`. */
  val LoopQueries = Set("g4_bfs")
  /** Replay fixtures the stream queries read (derived during set-up). */
  val Fixtures = Seq("clean", "dup")

  /** Client threads of a workload, each with its own query list. */
  def tenants(workload: String): Seq[Seq[String]] = workload match {
    case "stream-replay" | "stream-replay-10x" => Seq(StreamQueries)
    case "analytics" => Seq(AnalyticsQueries)
    case "mixed" => Seq(StreamQueries, AnalyticsQueries)
    case w => throw new IllegalArgumentException(s"unknown workload '$w'")
  }

  def layerOf(q: String): String =
    if (q.startsWith("s")) "streaming" else if (q.startsWith("l")) "llm" else "queries"

  /** One query call: build (`SparkEntry.queries`) then the write. */
  final case class Call(query: String, tenant: Int, pass: Int, tag: String,
                        startMs: Double, builtMs: Double, endMs: Double,
                        progress: Seq[StreamingQueryProgress],
                        planMs: Double, exchanges: Int, cachedMb: Double,
                        error: Option[String]) {
    def wallS: Double = (endMs - startMs) / 1000
  }

  final case class Pass(index: Int, kind: String, startMs: Double,
                        endMs: Double, cpuS: Double, calls: Seq[Call]) {
    def wallS: Double = (endMs - startMs) / 1000
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = cpuBean.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val out = Paths.get(a("out"))
    val ts = tenants(workload)
    new Run(workload, seed, seconds, trace, data, out, ts, a.getOrElse("commit", "unknown")).go()
  }

  final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  data: String, out: Path, ts: Seq[Seq[String]], commit: String) {
    private val runStart = Clock.nowMs
    private val spark: SparkSession = Harness.session(checksumFreeFs = true)
    private val sc = spark.sparkContext
    private val sessionS = (Clock.nowMs - runStart) / 1000
    private val cores = sc.defaultParallelism
    private var callSeq = 0
    private var jobLog: Option[JobLog] = None

    private def canary(): Double =
      Harness.timeOnce(spark.range(0L, 16L * 1024 * 1024, 1L, 32)
        .select(bit_xor(xxhash64(col("id"))).as("h")))

    private def context(canaryS: Double): Map[String, Any] = {
      val rt = Runtime.getRuntime
      Map("nproc" -> rt.availableProcessors, "cores" -> cores, "commit" -> commit,
        "heap_max_mb" -> rt.maxMemory / 1048576.0,
        "heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0,
        "canary_s" -> canaryS, "epoch_ms" -> Clock.nowMs)
    }

    /** One set-up: a fresh tmpdir (fixture root), a child session, the
      * table registration with its schema checks, and the replay fixtures. */
    private def setupOnce(i: Int): Double = {
      val t0 = Clock.nowMs
      val tmp = Files.createDirectories(out.resolve(s"tmp$i"))
      System.setProperty("java.io.tmpdir", tmp.toString)
      val child = spark.newSession()
      Tables.registerAll(child, data)
      if (ts.flatten.exists(layerOf(_) == "streaming"))
        Fixtures.foreach(Replayer.ensure(child, data, _))
      (Clock.nowMs - t0) / 1000
    }

    private def call(q: String, tenant: Int, pass: Int, sink: Option[Path]): Call = {
      val tag = synchronized { callSeq += 1; s"perfbench-$callSeq" }
      val child = spark.newSession()
      val progress = new ProgressLog
      child.streams.addListener(progress)
      val plans = if (jobLog.isDefined) Some(new PlanLog) else None
      plans.foreach(child.listenerManager.register)
      sc.addJobTag(tag)
      val start = Clock.nowMs
      var built = start
      val error = try {
        val df: DataFrame = SparkEntry.queries(q)(child, data)
        built = Clock.nowMs
        sink match {
          case None => df.write.mode("overwrite").format("noop").save()
          case Some(p) => df.write.mode("overwrite").parquet(p.toString)
        }
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val end = Clock.nowMs
      sc.removeJobTag(tag)
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      child.streams.removeListener(progress)
      plans.foreach(child.listenerManager.unregister)
      val prog = progress.all
      // a stream call that saw no input timed a memoized result
      val guard =
        if (error.isEmpty && layerOf(q) == "streaming" && !prog.exists(_.numInputRows > 0))
          Some("no micro-batch with input rows: the call read a memoized result")
        else None
      val cachedMb = if (jobLog.isDefined)
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0 else 0.0
      Call(q, tenant, pass, tag, start, built, end, prog,
        plans.map(_.planMs).getOrElse(0.0), plans.map(_.exchanges).getOrElse(0),
        cachedMb, error.orElse(guard))
    }

    /** One pass: every tenant runs its list once, on its own thread; the
      * pass ends when the last tenant finishes. */
    private def pass(index: Int, kind: String, sink: Option[Path]): Pass = {
      val c0 = cpuS
      val t0 = Clock.nowMs
      def runTenant(t: Int): Seq[Call] =
        ts(t).map(q => call(q, t, index, sink.map(_.resolve(q))))
      val calls =
        if (ts.size == 1) runTenant(0)
        else {
          val results = new Array[Seq[Call]](ts.size)
          val threads = ts.indices.map { t =>
            val th = new Thread(() => results(t) = runTenant(t), s"perfbench-tenant-$t")
            th.start(); th
          }
          threads.foreach(_.join())
          results.toSeq.flatten
        }
      Pass(index, kind, t0, Clock.nowMs, cpuS - c0, calls)
    }

    /** Heap in use after full GCs. The pauses let Spark's ContextCleaner
      * drop the shuffles and broadcasts the first GC made unreachable, so
      * the figure does not depend on when the cleaner thread last ran. */
    private def heapRetainedMb(): Double = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    def go(): Unit = {
      Files.createDirectories(out)
      val setups = (1 to 3).map(setupOnce)
      val setupS = sessionS + Intervals.median(setups)

      val outputs = Files.createDirectories(out.resolve("outputs"))
      val warm = Seq(pass(0, "warmup", Some(outputs)))
      // after the warm-up, so the canary's own code is JIT-warm as in Bench
      val ctxStart = context(canary())
      val timed = mutable.ArrayBuffer[Pass]()
      val t0 = Clock.nowMs
      while (timed.isEmpty || Clock.nowMs - t0 < seconds * 1000)
        timed += pass(warm.size + timed.size, "timed", None)
      val heapMb = heapRetainedMb()

      val traced = if (trace) {
        val jl = new JobLog
        sc.addSparkListener(jl)
        jobLog = Some(jl)
        val p = pass(warm.size + timed.size, "traced", None)
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        sc.removeSparkListener(jl)
        jobLog = None
        Some((p, jl))
      } else None

      val ctxEnd = context(canary())
      val passes = warm ++ timed ++ traced.map(_._1)
      val calls = passes.flatMap(_.calls)
      val endToEnd = Map(
        "setup_s" -> setupS,
        "pass_s" -> Intervals.median(timed.map(_.wallS).toSeq),
        "heap_retained_mb" -> heapMb)
      val perLayer = traced.map { case (p, jl) =>
        Layers.metrics(p, timed.toSeq, jl, cores) ++ Map(
          "run.canary_start_s" -> ctxStart("canary_s").asInstanceOf[Double],
          "run.canary_end_s" -> ctxEnd("canary_s").asInstanceOf[Double],
          "run.warmup_s" -> warm.map(_.wallS).sum,
          // per layer, not end to end: JIT work after one warm-up made its
          // spread over ten seeds 0.25 on analytics
          "run.cpu_s_per_pass" -> Intervals.median(timed.map(_.cpuS).toSeq),
          "trace.overhead_frac" -> (p.wallS / Intervals.median(timed.map(_.wallS).toSeq) - 1),
          "trace.listener_ms" -> jl.callbackNs / 1e6)
      }.getOrElse(Map.empty)

      val oracle = ts.flatten.distinct.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      Json.write(outputs.resolve("oracle_sql.json"), oracle)
      val errors = calls.filter(_.error.isDefined)
        .map(c => s"${c.query}@pass${c.pass}" -> c.error.get).toMap
      Json.write(out.resolve("result.json"), Map(
        "workload" -> workload, "seed" -> seed,
        "attempted" -> calls.size, "failed" -> errors.size, "errors" -> errors,
        "outputs" -> warm.head.calls.filter(_.error.isEmpty).map(_.query),
        "end_to_end" -> endToEnd, "per_layer" -> perLayer,
        "context" -> Map("start" -> ctxStart, "end" -> ctxEnd,
          "setup_s" -> setups, "session_s" -> sessionS,
          "timed_passes" -> timed.size)))
      Json.write(out.resolve("trace.json"),
        Map("workload" -> workload, "seed" -> seed,
            "spans" -> Layers.spans(runStart, Clock.nowMs, passes, traced.map(_._2))
              .map(Layers.spanJson)))
      spark.stop()
    }
  }
}
