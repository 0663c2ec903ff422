package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the id of the enclosing span, -1 at top. */
final case class Span(id: Int, name: String, parent: Int, round: Int,
                      startMs: Long, endMs: Long, seconds: Double)

/** Spans around the harness's calls into the program. Every call is
  * timed; the span records are kept (in memory, written when the run
  * ends) only when tracing is on. */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var round: Int = -1
  /** CPU seconds of the whole JVM (every thread: the caller, Spark's
    * task threads, GC and JIT) during the span that ended last. */
  var lastCpuS: Double = 0.0

  def spans: Seq[Span] = buf.toSeq

  /** Runs `f` as span `name`; returns its value and its seconds. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val cpu0 = Main.processCpuS()
    val t0 = System.nanoTime()
    try {
      val a = f
      val secs = (System.nanoTime() - t0) / 1e9
      lastCpuS = Main.processCpuS() - cpu0
      if (enabled) buf += Span(id, name, parent, round, ms0, System.currentTimeMillis(), secs)
      (a, secs)
    } catch {
      case e: Throwable =>
        if (enabled)
          buf += Span(id, name + "!failed", parent, round, ms0, System.currentTimeMillis(),
            (System.nanoTime() - t0) / 1e9)
        throw e
    } finally stack = stack.tail
  }
}

/** Spark and Catalyst events seen by the traced run's listeners, with
  * their times, so that they can be cut into rounds afterwards. The
  * time spent in the callbacks is the tracing's own overhead. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Planning]()
  val busyNs = new java.util.concurrent.atomic.AtomicLong()

  private def busy(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNs.addAndGet(System.nanoTime() - t0)
    ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy(jobStarts.add((e.jobId, e.time)))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy(jobEnds.add((e.jobId, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    busy(stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.peakExecutionMemory))
  }

  private def planning(qe: QueryExecution): Unit = busy {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    plans.add(Planning(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planning(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Layer metrics of the events inside the window [t0, t1] (epoch ms);
    * `busy` are the harness's timed calls in that window, against which
    * the wall time with no Spark job running is measured. */
  def layer(t0: Long, t1: Long, busy: Seq[(Long, Long)]): Map[String, Double] = {
    def in(t: Long) = t >= t0 && t <= t1
    val ts = tasks.asScala.filter(t => in(t.finishMs)).toSeq
    val ps = plans.asScala.filter(p => in(p.startMs)).toSeq
    val ends = jobEnds.asScala.toMap
    val jobs = jobStarts.asScala.filter(j => in(j._2)).toSeq
    val intervals = jobStarts.asScala.toSeq.map { case (id, s) => (s, ends.getOrElse(id, t1)) }
    val mb = 1024.0 * 1024.0
    Map(
      "catalyst.executions" -> ps.size.toDouble,
      "catalyst.analysis_s" -> ps.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> ps.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> ps.map(_.planningMs).sum / 1e3,
      "driver.no_job_s" -> busy.map { case (a, b) => (b - a) - covered(a, b, intervals) }.sum / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.asScala.count(in).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.input_mb" -> ts.map(_.input).sum / mb,
      "spark.peak_task_mem_mb" -> ts.map(_.peakMem).maxOption.getOrElse(0L) / mb)
  }

  /** Milliseconds of [a, b] covered by the union of `iv`. */
  private def covered(a: Long, b: Long, iv: Seq[(Long, Long)]): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object SparkEvents {
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        input: Long, peakMem: Long)
  final case class Planning(startMs: Long, analysisMs: Long, optimizationMs: Long,
                            planningMs: Long)
}
