package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the id of the span
  * that caused it (-1 for a pass); every span of one pass shares `pass`. */
final case class Span(id: Int, parent: Int, pass: Int, op: String, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"parent":$parent,"pass":$pass,"op":"$op","name":"$name",""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"start_ms":$startMs,"end_ms":$endMs}"""
}

/** In-memory span recorder. Spans nest through an explicit stack; nothing
  * is written until the run ends. When `active` is false every call is a
  * plain pass-through, so untraced passes pay nothing. */
final class Tracer {
  var active = false
  private var pass = -1
  private var op = ""
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]

  def beginPass(p: Int): Unit = { pass = p; stack = Nil }
  def setOp(o: String): Unit = op = o

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled when the span closes
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, pass, op, name, s0, System.nanoTime(),
          m0, System.currentTimeMillis())
      }
    }

  def ofPass(p: Int): Seq[Span] = spans.iterator.filter(s => s != null && s.pass == p).toSeq
}

/** Executed-stage counters from the scheduler's events, plus streaming
  * progress, which Spark posts on the same bus (so drains on child
  * sessions are seen too). Job and stage submissions keep their times so
  * the benchmark can attribute them to its own spans afterwards. */
final class ExecCounters extends SparkListener {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = new AtomicLong
  val batches, batchMs = new AtomicLong
  /** (submission ms, 1) per job and (submission ms, task count) per stage. */
  val jobStarts = ArrayBuffer.empty[Long]
  val stageStarts = ArrayBuffer.empty[(Long, Int)]
  val batchDurations = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    synchronized { jobStarts += e.time }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageStarts += ((e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
      e.stageInfo.numTasks))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      batches.incrementAndGet()
      batchMs.addAndGet(p.progress.batchDuration)
      synchronized { batchDurations += p.progress.batchDuration }
    case _ => ()
  }

  def snapshot: Map[String, Double] = Map(
    "exec.jobs" -> jobs.get.toDouble,
    "exec.stages" -> stages.get.toDouble,
    "exec.tasks" -> tasks.get.toDouble,
    "exec.failed_tasks" -> failedTasks.get.toDouble,
    "exec.task_s" -> taskMs.get / 1e3,
    "exec.cpu_s" -> cpuNs.get / 1e9,
    "exec.gc_s" -> gcMs.get / 1e3,
    "exec.shuffle_read_mb" -> shuffleRead.get / 1e6,
    "exec.shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "exec.spill_mb" -> spill.get / 1e6,
    "exec.input_mb" -> input.get / 1e6,
    "streaming.batches" -> batches.get.toDouble,
    "streaming.drain_s" -> batchMs.get / 1e3)

  def jobsBetween(fromMs: Long, toMs: Long): Int = synchronized {
    jobStarts.count(t => t >= fromMs && t <= toMs)
  }
  def stageTasksBetween(fromMs: Long, toMs: Long): Int = synchronized {
    stageStarts.iterator.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2).sum
  }
}

/** Plan-phase times of every Dataset action, from the planning tracker. */
final class PlanPhases extends QueryExecutionListener {
  val analysisMs, optimizerMs, planningMs = new AtomicLong
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizerMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
    ()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)

  def snapshot: Map[String, Double] = Map(
    "plan.analysis_ms" -> analysisMs.get.toDouble,
    "plan.optimizer_ms" -> optimizerMs.get.toDouble,
    "plan.planning_ms" -> planningMs.get.toDouble)
}

/** Host-level readings: process CPU, peak RSS and CPU steal. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** `VmHWM` of this JVM, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Peak use of the heap pools since the JVM started, in MB: what the
    * heap held at its fullest, which VmHWM hides once the heap has grown. */
  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Machine-wide steal since boot, in seconds (USER_HZ = 100). */
  def stealSeconds: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().collectFirst {
      case l if l.startsWith("cpu ") => l.trim.split("\\s+")(8).toDouble / 100
    }.getOrElse(0.0)
    finally src.close()
  }
}
