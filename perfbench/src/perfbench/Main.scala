package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the run's arguments, the
  * recorders, and the raw result it fills in. JSON objects in the result
  * are `ListMap`s, so their keys keep their order.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val cpus: Int) {
  val spans = new Spans(trace)
  val engine = new EngineCounters
  val sql = new QueryCounters
  val out = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[ListMap[String, Any]]
  var attempted = 0L
  var failed = 0L
  private val t0 = System.nanoTime()
  private val timeline = mutable.LinkedHashMap.empty[String, Double]

  private var liveHeapBase = -1L
  private var liveHeapPeak = -1L

  private def liveHeap(): Long = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Live heap after a full collection, which later checkpoints subtract:
    * taken once the session has started. Workloads write their inputs to
    * disk and keep no large copy in memory; the search workload, which
    * keeps a brute-force gallery copy and its query JPEGs, takes it again
    * once those exist.
    */
  def liveHeapBaseline(): Unit = liveHeapBase = liveHeap()

  /** Live heap after a full collection, kept as a running peak. Called
    * outside timed work: once the measured rounds or passes are done (a
    * full collection between rounds shrank the heap and slowed the next
    * round), or after the search service's load and its lake phase.
    */
  def liveHeapCheckpoint(): Unit = {
    require(liveHeapBase >= 0, "liveHeapBaseline() must come first")
    liveHeapPeak = math.max(liveHeapPeak, liveHeap())
  }

  /** Peak checkpoint over the baseline: what the workload's calls into
    * graft keep alive.
    */
  def liveHeapGrowthMb: Double = (liveHeapPeak - liveHeapBase) / 1048576.0

  /** Marks the end of a stage of the run, in seconds since the session. */
  def mark(stage: String): Unit = timeline += stage -> Ctx.secs(t0)

  def marks: collection.Map[String, Double] = timeline

  /** Record a correctness check. A failed check fails the run; the runner
    * still writes the result so the failure can be read.
    */
  def check(name: String, ok: Boolean, detail: Any): Unit = {
    checks += ListMap("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"CHECK FAILED: $name: $detail")
  }

  def checkList: Seq[ListMap[String, Any]] = checks.toSeq

  /** Engine counters once every posted listener event has been delivered. */
  def counts(): Map[String, Long] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    engine.snapshot() ++ sql.snapshot()
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Ctx {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file>`. Starts a local session sized by the JVM's
  * processor count, runs one workload and writes its raw result as JSON.
  * Any exception propagates and ends the JVM with a non-zero status.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(work))

    val stealAt0 = Host.stealTicks()
    val gcAt0 = Host.gcMs()
    val wall0 = System.nanoTime()
    val (spark, sessionS) = Ctx.time {
      val s = graft.GraftSession.builder(cpus.toString)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local")
        // the status store keeps a bounded window of jobs, stages and
        // queries, so the live heap does not grow with the run's job count
        .config("spark.ui.retainedJobs", "20")
        .config("spark.ui.retainedStages", "20")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.sql.streaming.ui.retainedQueries", "5")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", work, cpus)
    spark.sparkContext.addSparkListener(ctx.engine)
    spark.listenerManager.register(ctx.sql)
    ctx.liveHeapBaseline()

    ctx.out("workload") = workload
    ctx.out("seed") = ctx.seed
    ctx.out("seconds") = ctx.seconds
    ctx.out("trace") = ctx.trace
    ctx.out("cpus") = cpus
    ctx.out("max_heap_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
    ctx.out("session_s") = sessionS

    workload match {
      case "ingest_video" => Ingest.run(ctx)
      case "search_local" => Search.run(ctx)
      case "curate_corpus" => Curate.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }

    ctx.out("engine") = ctx.counts()
    ctx.out("host") = ListMap(
      "wall_s" -> Ctx.secs(wall0),
      "steal_ticks" -> (Host.stealTicks() - stealAt0),
      "jvm_gc_ms" -> (Host.gcMs() - gcAt0),
      "rss_peak_mb" -> Host.rssPeakMb(),
      "live_heap_growth_mb" -> ctx.liveHeapGrowthMb)
    ctx.out("attempted") = ctx.attempted
    ctx.out("failed") = ctx.failed
    ctx.out("checks") = ctx.checkList
    ctx.out("timeline") = ctx.marks
    ctx.out("spans") = ctx.spans.all.map(s => Array[Any](
      s.id, s.parent, s.req, s.name, s.startNs, s.endNs))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(a("out")).toFile, ctx.out)
    spark.stop()
  }
}
