package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.multimodal.ImageOps
import graft.operators.{IvfIndex, Sq8, VectorMetric}
import graft.serving.SearchService
import graft.sources.ModelStore

/** `search_local`: open-loop `POST /search` of JPEG bytes to a
  * [[SearchService]] in the reference's serving shape (ivf_sq8, inner
  * product, nlist 128, nprobe 10, top-15, rate limiter opened). The gallery starts just under
  * the driver-resident tier's row budget, so requests are answered from the
  * in-process snapshot with no Spark job. After the local phases one
  * `appendAndRefresh` pushes the gallery over the budget: the service drops
  * to the distributed partition-pruned plan over its `indexDir` layout, and
  * a short lake phase runs there while a thread keeps appending fixed-size
  * batches. The end-to-end metrics are the driver tier's; the lake tier's
  * figures are reported beside them and traced per layer.
  */
object Search {
  val Anchors = 256
  val TopK = 15
  val NList = 128
  val NProbe = 10
  /** The reference serves inner product only, as does the service by
    * default. The anchor-first check fails on it: IVF cells are assigned by
    * L2 distance but probed by raw inner product with the centroid, so an
    * anchor's own cell can fall outside the 10 probed.
    */
  val Metric: VectorMetric = VectorMetric.Ip
  /** The driver-tier row budget: a quarter of the service's 200k default,
    * so both tiers fit one run's time budget. The cell budget is the
    * default.
    */
  val MaxLocalIndex = 50000
  val MaxLocalCells: Long = 32L << 20
  val Gallery = 45000
  /** The batch that moves the gallery over the row budget. */
  val TransitionRows = 10000
  val RefRate = 150.0
  /** Rungs about 20% apart, each at least RungSeconds long: at 300 req/s
    * that is 600 requests, 30 of them past the p95 the rung is judged by.
    */
  val Ladder = Seq(300.0, 360, 430, 520, 620)
  val RungSeconds = 2.0
  val P95LimitMs = 25.0
  val RecallFloor = 0.5
  val LakeRate = 3.0
  val LakeAnchors = 8
  val AppendRows = 1000
  val AppendPeriodS = 3.0

  private val IdPattern = "\"id\":(\\d+)".r

  def ids(resp: String): Seq[Long] = IdPattern.findAllMatchIn(resp).map(_.group(1).toLong).toSeq

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val sp = ctx.spans

    // ---- inputs: anchor frames, their descriptors, filler, query pool
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    def parallel[A](n: Int)(f: Int => A): IndexedSeq[A] = pool.invokeAll((0 until n).map { i =>
      (() => f(i)): Callable[A]
    }.asJava).asScala.map(_.get()).toIndexedSeq
    // anchor rows are described with the service's own query-side
    // descriptor, so an unperturbed anchor query equals its gallery row
    val jpegs = parallel(Anchors)(Gen.anchor(seed, _))
    val queries = jpegs ++ parallel(Anchors)(Gen.perturbed(seed, _))
    val described = parallel(Anchors)(i => Gen.normalize(ImageOps.intensityDescriptor(jpegs(i), 8)))
    // ids past the gallery feed the appends
    val filler = new Gen.Filler(seed, described.toArray, Gallery + TransitionRows + 100L * AppendRows)
    val gallery = mutable.ArrayBuffer.empty[Array[Float]] ++= described
    gallery ++= parallel(Gallery - Anchors)(i => filler(Anchors + i))
    pool.shutdown()
    val galleryDir = ctx.dir("search/gallery")
    described.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
      .unionByName(spark.range(Anchors, Gallery).map(id => (id, filler(id))).toDF("id", "vec"))
      .repartition(ctx.cpus)
      .write.mode("overwrite").parquet(galleryDir)
    val order = {
      val r = Gen.rng(seed, 6, 0)
      Array.fill(4096)(r.nextInt(queries.length))
    }
    ctx.out("inputs") = ListMap(
      "gallery_vectors" -> Gallery, "anchors" -> Anchors, "dim" -> Gen.Dim,
      "filler_scene_size" -> Gen.SceneSize, "max_local_index" -> MaxLocalIndex,
      "gallery_over_max_local_index" -> Gallery.toDouble / MaxLocalIndex,
      "lake_gallery_over_max_local_index" -> (Gallery + TransitionRows).toDouble / MaxLocalIndex,
      "gallery_cells_over_max_local_cells" -> Gallery.toDouble * Gen.Dim / MaxLocalCells,
      "query_pool" -> queries.length, "ref_rate" -> RefRate, "ladder" -> Ladder,
      "p95_limit_ms" -> P95LimitMs, "recall_floor" -> RecallFloor, "lake_rate" -> LakeRate,
      "append_rows" -> AppendRows, "append_period_s" -> AppendPeriodS)
    // again, now that the brute-force gallery copy and the queries exist
    ctx.liveHeapBaseline()
    ctx.mark("inputs")

    // ---- setup: the service load (IVF fit, SQ8 fit, index layout and write)
    val table = spark.read.parquet(galleryDir)
    val indexDir = ctx.dir("search/index")
    var ivfModel: IvfIndex.Model = null
    def service(modelDir: Option[String]) = new SearchService(table, "vec", "id", topK = TopK,
      maxReqPerSec = 1000000, mode = "ivf_sq8", metric = Metric.name, nlist = NList,
      nprobe = NProbe, indexDir = Some(indexDir), maxLocalIndex = MaxLocalIndex,
      modelDir = modelDir)
    val (svc, loadS) = Ctx.time {
      if (!ctx.trace) service(None)
      else {
        // traced: the same load decomposed into its layer calls; the
        // service then boots from the fitted models
        val (assigned, ivf) = sp("operators.ivf_build_s")(IvfIndex.build(table, "vec", NList))
        val sq8 = sp("operators.sq8_fit_s")(Sq8.fit(table, "vec"))
        ivfModel = ivf
        val models = ctx.dir("search/models")
        ModelStore.saveIvf(spark, ivf, s"$models/ivf")
        ModelStore.saveSq8(spark, sq8, s"$models/sq8")
        sp("sources.index_write_s")(IvfIndex.write(
          Sq8.encode(assigned, "vec", sq8, "__codes").select("id", "__codes", "cluster_id"),
          ctx.dir("search/index-replay")))
        service(Some(models))
      }
    }
    ctx.out("load_s") = loadS
    ctx.liveHeapCheckpoint()
    ctx.mark("load")
    val port = svc.start(0)
    val load = new LoadGen(port, ctx.cpus)
    val valid: String => Boolean = r => ids(r).size == TopK
    def body(i: Int): Array[Byte] = queries(order(i % order.length))
    val phases = mutable.ArrayBuffer.empty[Phase]
    // open-loop requests are counted as attempts by the runner, from `phases`
    def phase(p: Phase): Phase = { phases += p; p }
    val refreshes = mutable.ArrayBuffer.empty[Double]
    def append(from: Long, rows: Int): Unit = {
      val t0 = System.nanoTime()
      // one batch arrives as one partition
      sp("serving.refresh_s")(svc.appendAndRefresh(
        spark.range(from, from + rows, 1, 1).map(id => (id, filler(id))).toDF("id", "vec")))
      refreshes += Ctx.secs(t0)
    }

    // Anchor queries on `cpus` connections against the benchmark's own
    // brute-force top-15 over `rows`; checks each unperturbed anchor comes
    // back first and the tier's Spark job count.
    def verify(tier: String, checked: Seq[Int], rows: IndexedSeq[Array[Float]],
               jobsOk: (Long, Int) => Boolean): Double = {
      val before = ctx.counts()
      val conns = new ThreadLocal[Conn]
      val opened = new java.util.concurrent.ConcurrentLinkedQueue[Conn]
      val pool = Executors.newFixedThreadPool(ctx.cpus)
      val results = try pool.invokeAll(checked.map { qi =>
        (() => {
          if (conns.get() == null) { conns.set(new Conn(port)); opened.add(conns.get()) }
          val (code, resp) = conns.get().post("/search", queries(qi))
          (qi, code, ids(resp), bruteTop(rows, ImageOps.intensityDescriptor(queries(qi), 8), TopK))
        }): Callable[(Int, Int, Seq[Long], Seq[Long])]
      }.asJava).asScala.map(_.get()).toSeq
      finally { pool.shutdown(); opened.forEach(_.close()) }
      val jobs = ctx.counts()("jobs") - before("jobs")
      ctx.attempted += results.size
      ctx.failed += results.count { case (_, code, got, _) => code != 200 || got.size != TopK }
      val anchors = results.filter(_._1 < Anchors)
      val misses = anchors.collect { case (qi, _, got, truth) if !got.headOption.contains(qi.toLong) =>
        s"anchor $qi got ${got.take(3).mkString("/")} truth ${truth.take(3).mkString("/")}" }
      ctx.check(s"$tier: unperturbed anchors return their source frame first", misses.isEmpty,
        (s"${anchors.size - misses.size} of ${anchors.size}" +: misses).mkString("; "))
      ctx.check(s"$tier: Spark jobs per request", jobsOk(jobs, results.size),
        s"$jobs jobs for ${results.size} requests")
      results.map { case (_, _, got, truth) => got.count(truth.toSet.contains).toDouble / TopK }
        .sum / results.size
    }

    val s = ctx.seconds
    try {
      // ---- driver tier
      val recall = verify("driver tier", (0 until Anchors).flatMap(i => Seq(i, Anchors + i)),
        gallery.toIndexedSeq, (jobs, _) => jobs == 0)
      ctx.out("recall15") = recall
      ctx.check("driver tier: recall@15 floor", recall >= RecallFloor,
        f"recall@15 $recall%.4f over ${2 * Anchors} queries, floor $RecallFloor")
      ctx.mark("checks")
      // warm-up right before the timed phases: the first second after the
      // checks' brute-force scoring ran measurably slower
      load.run("warmup", RefRate, 1.0, body, valid)
      ctx.mark("warmup")
      if (!ctx.trace) {
        phase(load.run("ref", RefRate, 0.3 * s, body, valid))
        val rung = math.max(RungSeconds, 0.7 * s / Ladder.size)
        Ladder.foreach(r => phase(load.run("rung", r, rung, body, valid)))
      } else {
        val c0 = ctx.counts()
        val sent = phase(load.run("ref", RefRate, 0.3 * s, body, valid,
          (i, t0, t1) => sp.record("serving.http_rtt_ms", i, t0, t1))).sendNs.count(_ >= 0)
        ctx.out("jobs_per_request_local") = (ctx.counts()("jobs") - c0("jobs")).toDouble / sent
        // direct calls into each serving layer, one request at a time
        ctx.out("replays") = Replays.abba(ctx, i => sp => (0 until 64).foreach { j =>
          val bytes = body(j)
          val req = 1000000L + 64 * i + j
          sp("serving.search_ms", req)(svc.search(bytes))
          sp("serving.request", req) {
            val q = sp("multimodal.describe_us", req)(ImageOps.intensityDescriptor(bytes, 8))
            sp("operators.rank_centroids_us", req)(
              IvfIndex.rankCentroids(ivfModel, q.map(_.toDouble).toSeq, Metric, NProbe))
            val rows = sp("serving.search_vector_ms", req)(svc.searchVector(q))
            sp("serving.to_json_us", req)(svc.toJson(rows))
          }
        })
      }
      ctx.mark("driver tier")

      // ---- lake tier: one batch past the budget, then reads beside appends
      append(Gallery, TransitionRows)
      gallery ++= (Gallery until Gallery + TransitionRows).map(filler(_))
      verify("lake tier", (0 until LakeAnchors).flatMap(i => Seq(i, Anchors + i)),
        gallery.toIndexedSeq, (jobs, n) => jobs >= n)
      @volatile var stop = false
      var searchable = 0
      var appends = 0
      val writer = new Thread(() => {
        while (!stop) {
          val t0 = System.nanoTime()
          val from = Gallery + TransitionRows + appends.toLong * AppendRows
          append(from, AppendRows)
          val probe = from + AppendRows / 2
          if (svc.searchVector(filler(probe)).exists(_.getLong(0) == probe)) searchable += 1
          appends += 1
          val rest = AppendPeriodS - Ctx.secs(t0)
          if (rest > 0 && !stop) Thread.sleep((rest * 1000).toLong)
        }
      })
      // the first half runs with no writer, so the per-request engine
      // counts are the requests' own; the second half reads beside appends
      def lake() = phase(load.run("lake", LakeRate, 0.15 * s, body, valid,
        (i, t0, t1) => sp.record("serving.http_rtt_lake_ms", i, t0, t1)))
      val c0 = ctx.counts()
      val quiet = lake()
      val c1 = ctx.counts()
      writer.start()
      lake()
      stop = true
      writer.join()
      val sent = quiet.sendNs.count(_ >= 0).toDouble
      ctx.out("lake_counts") = ListMap(
        "jobs" -> (c1("jobs") - c0("jobs")), "tasks" -> (c1("tasks") - c0("tasks")),
        "rows_scanned" -> (c1("rows_scanned") - c0("rows_scanned")),
        "requests" -> sent, "appends" -> appends)
      if (ctx.trace)
        (0 until 8).foreach(j => sp("serving.search_vector_lake_ms", 2000000L + j)(
          svc.searchVector(ImageOps.intensityDescriptor(body(j), 8))))
      ctx.liveHeapCheckpoint()
      ctx.mark("lake tier")
      ctx.out("refresh_s") = refreshes.toSeq
      ctx.check("lake tier: appended rows are searchable after appendAndRefresh",
        appends > 0 && searchable == appends, s"$searchable of $appends appended probes found")
      val bytes = Files.walk(Paths.get(indexDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).sum
      ctx.out("index_bytes_per_vector") =
        bytes.toDouble / (Gallery + TransitionRows + appends.toLong * AppendRows)
    } finally {
      load.close()
      svc.stop()
    }
    ctx.out("phases") = phases.map(_.toMap).toSeq
  }

  /** Exact top-k gallery ids by inner product with `q` (ties by smaller id). */
  def bruteTop(gallery: IndexedSeq[Array[Float]], q: Array[Float], k: Int): Seq[Long] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < gallery.length) {
      val g = gallery(i)
      var s = 0.0
      var d = 0
      while (d < g.length) { s += g(d).toDouble * q(d); d += 1 }
      heap.enqueue((s, i.toLong))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }
}
