package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Timing of one op execution in a timed pass. */
final case class OpRun(pass: Int, op: String, seconds: Double, work: Long,
    sweepMs: Double, error: Option[String], traced: Boolean)

/** Benchmark JVM: builds a workload's inputs, runs one untimed warm-up
  * pass, then round(seconds / secondsPerPass) timed passes (one client
  * thread, one op at a time, a full cache sweep before each op), and
  * writes the run's record as JSON to `--record`.
  *
  * With `--trace 1` at least five passes run: one untraced, then
  * untraced and traced in an ABBA pattern, so that most of the warm-up
  * drift falls on untraced passes on both sides. The traced passes carry
  * Spark listeners and spans and feed the per-layer metrics; the ratio of
  * the two kinds' median pass times is the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val cores = opt("cores").toInt
    val launchMs = opt("launch-ms").toLong
    val pyBuildS = opt.get("build-s").map(_.split(",").map(_.toDouble).toSeq).getOrElse(Nil)

    val probeStart = cpuProbe()
    val spark = session(cores, opt("work"))
    val ctx = Ctx(spark, seed, cores, opt("work"), opt("tables"), opt("dump"))
    val wl = Workload(workloadName, ctx)
    val readyS = (System.currentTimeMillis() - launchMs) / 1000.0

    val builds = if (pyBuildS.nonEmpty) pyBuildS else (0 until 3).map(i => timeS(wl.build(i)))
    val prepareS = timeS(wl.prepare())
    val runner = new Runner(() => graft.Caches.hardSweep(spark))
    val warmup = mutable.ArrayBuffer.empty[OpRun]
    val warmupS = timeS(wl.ops.foreach(op => warmup += runner.run(op, -1, None)))
    val setupS = readyS + Stats.median(builds) + prepareS + warmupS

    val trace = new Trace(spark)
    val runId = trace.newId()
    val runT0 = System.nanoTime()
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val passTimes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val gcPerTracedPass = mutable.ArrayBuffer.empty[Double]
    Heap.afterFullGcMb()
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val passes = math.max(if (traceOn) 5 else 1, math.round(seconds / wl.secondsPerPass).toInt)
    for (pass <- 0 until passes) {
      val traced = traceOn && (pass % 4 == 2 || pass % 4 == 3)
      if (traced) trace.attach()
      val passId = trace.newId()
      val gc0 = gcMs()
      val p0 = System.nanoTime()
      val rs = wl.order(pass).map(op => runner.run(op, pass, if (traced) Some(trace -> passId) else None))
      val p1 = System.nanoTime()
      if (traced) {
        trace.detach()
        trace.span(runId, "pass", s"pass $pass", p0, p1, passId)
        gcPerTracedPass += (gcMs() - gc0) / 1000.0
      }
      runs ++= rs
      passTimes += ((pass, traced, rs.map(_.seconds).sum))
      heapMb += Heap.afterFullGcMb() // and the next pass starts from a collected heap
    }
    val peakHeapMb = heapMb.max
    trace.span(0L, "run", workloadName, runT0, System.nanoTime(), runId)

    val codec: Map[String, Double] =
      if (!traceOn) Map.empty
      else wl match {
        case w: BvScan => Codec.probe(w.shardBase0)
        case w: BvWrite => Codec.probe(w.zetaShard0)
        case _ => Map.empty
      }
    val probeEnd = cpuProbe()

    val timed = runs.filter(!_.traced)
    val lat = timed.map(_.seconds).toSeq
    val (tailP, tailV) = Stats.tail(lat)
    val untracedPass = passTimes.filter(!_._2).map(_._3).toSeq
    val passS = Stats.median(untracedPass)
    def opMedian(op: String): Double = Stats.median(timed.filter(_.op == op).map(_.seconds).toSeq)
    val facts = wl.facts
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS -> "s"),
      "pass_s" -> (passS -> "s"),
      "op_p50_s" -> (Stats.median(lat) -> "s"),
      "op_tail_s" -> (tailV -> "s"),
      "peak_heap_mb" -> (peakHeapMb -> "MB"))
    val perOpWork = wl match {
      case w: BvScan => Map("scan_arcs_per_s" -> (facts("arcs").asInstanceOf[Long] / opMedian("scan_full")))
      case w: BvWrite => Map("write_arcs_per_s" -> (facts("arcs").asInstanceOf[Long] / opMedian("write_zeta")),
        "bits_per_link" -> w.bitsPerLink())
      case _ => Map.empty[String, Double]
    }

    val layers = if (traceOn) Layers.compute(wl, trace, cores, passTimes.toSeq,
      gcPerTracedPass.toSeq, codec, runs.toSeq, perOpWork) else Map.empty[String, Any]

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "seed" -> seed, "cpus" -> cores,
      "run_seconds" -> seconds, "trace" -> traceOn,
      "attempted" -> runner.attempted, "failed" -> runner.failures.size,
      "ops_failed_ratio" -> runner.failures.size.toDouble / math.max(1, runner.attempted),
      "failures" -> runner.failures.toSeq,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> perOpWork,
      "n" -> lat.size, "passes" -> untracedPass.size,
      "op_tail_percentile" -> tailP,
      "setup" -> Map("jvm_to_session_s" -> readyS, "input_builds_s" -> builds,
        "prepare_s" -> prepareS, "warmup_pass_s" -> warmupS,
        "warmup_op_s" -> warmup.map(r => r.op -> r.seconds).toMap),
      "cpu_probe_s" -> Map("start" -> probeStart, "end" -> probeEnd),
      "facts" -> facts,
      "op_median_s" -> timed.map(_.op).distinct.map(o => o -> opMedian(o)).toMap,
      "pass_s_all" -> passTimes.map { case (p, t, s) => Map("pass" -> p, "traced" -> t, "s" -> s) },
      "op_runs" -> runs.map(r => Map("pass" -> r.pass, "op" -> r.op, "s" -> r.seconds,
        "work" -> r.work, "sweep_ms" -> r.sweepMs, "traced" -> r.traced)),
      "per_layer" -> layers)
    if (traceOn) record("spans") = trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ns" -> (s.startNs - runT0), "dur_ns" -> s.durNs))
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("record")), Json(record))
    System.err.println(s"[perfbench] $workloadName seed=$seed passes=${passTimes.size} " +
      s"pass_s=$passS failed=${runner.failures.size}")
    runner.failures.take(10).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
  }

  def timeS(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** The bench session config: AQE with coalescing, graft's extensions,
    * UTC, nanos-as-long parquet timestamps, streaming state-store
    * maintenance pushed past any op, shuffle partitions = cores, and
    * spill under the run's own directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread CPU yardstick (100M mix64 steps), taken at the
    * start and end of every run so two records can be compared for box
    * drift. Not a metric. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) { h ^= h >>> 27; h *= 0x94D049BB133111EBL; h ^= h >>> 31; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42L) println("") // keeps the loop live
    s
  }
}

/** Runs ops one at a time, each after `sweep` (untimed), and counts
  * every op that throws or fails its output check as failed. */
final class Runner(sweep: () => Unit) {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def run(op: Op, pass: Int, trace: Option[(Trace, Long)]): OpRun = {
    val tSweep = System.nanoTime()
    sweep()
    val t0 = System.nanoTime()
    val agg = trace.map { case (t, _) => t.begin(op.name, pass) }
    val (done, err0) =
      try { val d = op.body(pass); (Some(d), None) }
      catch { case e: Exception => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val t1 = System.nanoTime()
    for ((t, parent) <- trace; a <- agg) {
      a.sweepNs = t0 - tSweep
      t.end(a, parent, t0, t1)
    }
    val err = err0.orElse(done.flatMap(d =>
      try d.check() catch { case e: Exception => Some(s"check failed: $e") }))
    attempted += 1
    err.foreach(e => failures += s"${op.name} (pass $pass): $e")
    OpRun(pass, op.name, (t1 - t0) / 1e9, done.map(_.work).getOrElse(0L),
      (t0 - tSweep) / 1e6, err, trace.nonEmpty)
  }
}

/** Heap in use after a full collection, summed over the heap pools'
  * `MemoryPoolMXBean.getCollectionUsage` (which a full collection updates
  * for every pool). */
object Heap {
  def afterFullGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
