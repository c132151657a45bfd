package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters of one traced op execution, filled by the listeners. */
final class OpAgg(val op: String, val pass: Int, val spanId: Long) {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var taskBusyNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bvNodes = 0L
  var bvArcs = 0L
  /** Run time (s) of every task that decoded BV data (scan tasks). */
  val scanTaskS = mutable.ArrayBuffer.empty[Double]
  /** Run time (s) of every task of the op's final stage. */
  val lastStageTaskS = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  var planMs = 0.0
  var execNs = 0L
  var batches = 0
  val streamMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val stateRows = mutable.Map.empty[String, Long]
  var sweepNs = 0L
}

/** In-memory trace of a run: spans (run → pass → op → Spark job → stage)
  * and per-op counters from Spark's SparkListener,
  * QueryExecutionListener and StreamingQueryListener. Ops run one at a
  * time and the listener bus is drained after each, so every event
  * belongs to the op that is current when it is delivered. Listeners are
  * attached only while a traced pass runs. */
final class Trace(spark: SparkSession) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpAgg]
  @volatile private var cur: OpAgg = null
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)] // job -> (span id, start)
  private val stageJob = mutable.Map.empty[Int, Long] // stage -> job span id
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  /** epoch ms → the nanoTime clock the harness spans use. */
  private val msToNs: Long => Long = {
    val base = System.nanoTime() - System.currentTimeMillis() * 1000000L
    ms => ms * 1000000L + base
  }

  def newId(): Long = ids.incrementAndGet()
  def span(parent: Long, kind: String, name: String, t0: Long, t1: Long,
      id: Long = newId()): Long = synchronized {
    spans += Span(id, parent, kind, name, t0, t1); id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val id = newId()
      jobSpan(e.jobId) = (id, msToNs(e.time))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
      if (cur != null) cur.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        val parent = if (cur != null) cur.spanId else 0L
        span(parent, "job", s"job ${e.jobId}", t0, msToNs(e.time), id)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        for (t0 <- si.submissionTime; t1 <- si.completionTime)
          span(stageJob.getOrElse(si.stageId, 0L), "stage", s"stage ${si.stageId}",
            msToNs(t0), msToNs(t1))
        if (cur != null) {
          cur.stages += 1
          stageTasks.remove(si.stageId).foreach(ts => cur.lastStageTaskS(si.stageId) = ts)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = cur
      if (a == null) return
      a.tasks += 1
      if (!e.taskInfo.successful) a.tasksFailed += 1
      val m = e.taskMetrics
      val runS = e.taskInfo.duration / 1000.0
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += runS
      if (m != null) {
        a.taskBusyNs += m.executorRunTime * 1000000L
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      var decoded = false
      e.taskInfo.accumulables.foreach { acc =>
        val v = acc.update match { case Some(x: Long) => x; case _ => 0L }
        acc.name match {
          case Some("BV nodes decoded") => a.bvNodes += v; decoded = true
          case Some("BV arcs decoded") => a.bvArcs += v
          case _ =>
        }
      }
      if (decoded) a.scanTaskS += runS
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val a = cur
      if (a == null) return
      a.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      a.execNs += durationNs
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val a = cur
      if (a == null) return
      val p = e.progress
      a.batches += 1
      p.durationMs.asScala.foreach { case (k, v) => a.streamMs(k) += v.toDouble }
      a.stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Start attributing events to a new execution of `op`. */
  def begin(op: String, pass: Int): OpAgg = {
    val a = new OpAgg(op, pass, newId())
    cur = a
    spark.sparkContext.setJobGroup(s"op-${a.spanId}", op)
    a
  }

  /** Close the op: deliver its pending events, then record its span. */
  def end(a: OpAgg, parent: Long, t0: Long, t1: Long): Unit = {
    BenchBus.drain(spark.sparkContext)
    cur = null
    spark.sparkContext.clearJobGroup()
    span(parent, "op", a.op, t0, t1, a.spanId)
    synchronized { ops += a }
  }
}
