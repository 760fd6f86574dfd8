package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchInternals
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * and Spark's own epoch-millisecond job times share one axis.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** One traced interval: the op root or one of its phases. */
final case class Span(id: Long, parent: Long, op: String, name: String, startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Spark-side counters for one op, filled by [[OpListener]] from the
  * jobs whose `perfbench.op` local property names the op.
  */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  /** (submitted, ended) epoch ms of every finished job */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** job submission to its first task launch, ms */
  val schedDelays = mutable.ArrayBuffer.empty[Long]
}

/** Attributes Spark work to benchmark ops. The client thread sets the
  * `perfbench.op` local property before it calls into graft; Spark
  * copies local properties onto every job that thread (or a broadcast
  * or subquery thread acting for it) submits, so attribution holds with
  * several concurrent clients.
  */
final class OpListener extends SparkListener {
  private val counters = mutable.HashMap.empty[String, SparkCounters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val firstTask = mutable.HashMap.empty[Int, Long]
  private var files = 0L

  private def of(op: String): SparkCounters = counters.getOrElseUpdate(op, new SparkCounters)

  def forOp(op: String): SparkCounters = synchronized(counters.getOrElse(op, new SparkCounters))
  def writtenFiles: Long = synchronized(files)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey))).getOrElse("")
    jobStart(e.jobId) = (op, e.time)
    e.stageIds.foreach { s =>
      stageOp(s) = op
      stageJob(s) = e.jobId
    }
    of(op).jobs += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach(j => if (!firstTask.contains(j)) firstTask(j) = e.taskInfo.launchTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => of(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (op, submitted) =>
      val c = of(op)
      c.jobSpans += ((submitted, e.time))
      firstTask.get(e.jobId).foreach(t => c.schedDelays += math.max(0L, t - submitted))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates =>
      val n = u.accumUpdates.collect {
        case (id, v) if PerfbenchInternals.accumulatorName(id).contains("number of written files") => v
      }.sum
      if (n != 0) synchronized(files += n)
    case _ =>
  }
}

/** Facts the client thread records around one traced op, beside its
  * spans: Catalyst phase times of the final query, and for
  * single-client workloads the codegen and write deltas and the RDDs
  * the op left persisted.
  */
final case class OpNotes(
    phasesMs: Map[String, Long],
    codegenCompiles: Long = -1,
    codegenNs: Long = -1,
    filesWritten: Long = -1,
    rddsLeft: Int = -1,
)

/** The traced run's state: spans in memory, the op listener, and
  * per-op notes. Written out once, when the run ends.
  */
final class Trace(val spark: SparkSession) {
  val listener = new OpListener
  spark.sparkContext.addSparkListener(listener)
  val spans = new ConcurrentLinkedQueue[Span]()
  val notes = new java.util.concurrent.ConcurrentHashMap[String, OpNotes]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def span[T](op: String, name: String, id: Long, parent: Long)(body: => T): T = {
    val start = Clock.nowUs
    try body
    finally spans.add(Span(id, parent, op, name, start, Clock.nowUs))
  }

  def drain(): Unit = PerfbenchInternals.drainListenerBus(spark.sparkContext)

  /** Ends the traced window: every event delivered, listener detached. */
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
  }

  def spansOf: Map[String, Seq[Span]] = spans.asScala.toSeq.groupBy(_.op)
}

object Trace {
  val OpKey = "perfbench.op"

  def codegen(): (Long, Long) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
