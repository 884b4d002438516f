package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a timed call into one layer. `parent` is 0 for a
  * root span; spans of one request share `req` (-1 when not a request).
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the timed run), `apply` only runs the
  * body. Enabled (the traced run), each call records a span whose parent is
  * the innermost open span on the calling thread. Spans are written out
  * once, at the end of the run.
  */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[A](name: String, req: Long = -1)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, req, name, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Records a span measured elsewhere (for example by the load generator,
    * which already holds both timestamps).
    */
  def record(name: String, req: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), 0L, req, name, startNs, endNs))

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    done.forEach(s => b += s)
    b.result().sortBy(_.id)
  }
}

/** Tracing overhead measured on the traced work itself. After one
  * untimed warm-up, a workload's replay runs four times in the order
  * untraced, traced, traced, untraced, so a linear drift lands on both
  * sides alike; only the traced runs record spans.
  */
object Replays {
  def abba(ctx: Ctx, replay: Int => Spans => Unit): ListMap[String, Seq[Double]] = {
    val off = new Spans(false)
    replay(0)(off)
    val times = Seq(false, true, true, false).zipWithIndex.map { case (traced, i) =>
      val t0 = System.nanoTime()
      replay(i + 1)(if (traced) ctx.spans else off)
      (traced, Ctx.secs(t0))
    }
    ListMap("plain_s" -> times.filterNot(_._1).map(_._2),
      "traced_s" -> times.filter(_._1).map(_._2))
  }
}

/** Engine counts from a `SparkListener`: jobs, stages, tasks, single-task
  * stages, executor CPU, shuffle write and spill.
  */
final class EngineCounters extends SparkListener {
  val jobs, stages, singleTaskStages, tasks = new LongAdder
  val executorCpuNs, shuffleWriteBytes, spillBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.increment()
    if (e.stageInfo.numTasks == 1) singleTaskStages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      executorCpuNs.add(m.executorCpuTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum,
    "single_task_stages" -> singleTaskStages.sum, "tasks" -> tasks.sum,
    "executor_cpu_ns" -> executorCpuNs.sum,
    "shuffle_write_bytes" -> shuffleWriteBytes.sum,
    "spill_bytes" -> spillBytes.sum)
}

/** SQL counts from a `QueryExecutionListener`: rows read by file scans of
  * finished actions (summed over the final adaptive plan, query stages
  * included).
  */
final class QueryCounters extends QueryExecutionListener {
  val rowsScanned = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rowsScanned.add(scanRows(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanRows).sum
  }

  def snapshot(): Map[String, Long] = Map("rows_scanned" -> rowsScanned.sum)
}

/** Host-side noise record: steal ticks from `/proc/stat`, JVM GC time and
  * peak resident memory.
  */
object Host {
  def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")(8).toLong).getOrElse(0L)
    finally src.close()
  }

  def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { b =>
      t += math.max(0L, b.getCollectionTime)
    }
    t
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
