package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.multimodal.{AviMjpeg, BitSampling, ImageOps}
import graft.operators.TemporalDedup
import graft.streaming.IngestPipeline
import org.apache.spark.sql.functions._

/** `ingest_video`: seeded MJPEG-AVI clips dropped into a fresh watch dir
  * per round, turned into the parquet frames table by one availableNow
  * streaming query. Throughput is source frames per wall second over the
  * measured rounds; each round's wall time is one latency sample.
  */
object Ingest {
  val Clips = 12
  val ClipSeconds = 12
  val WindowSec = 2.0 // loader.js:205-208
  val Lookback = 24
  /** About one warm round's wall time on 4 cores. */
  val RoundSeconds = 2.0
  val WarmupRounds = 6

  /** Frame times the extractor assigns to an `n`-frame clip written at
    * `Gen.Fps`: (time rounded to 4 decimals, source frame index). A port of
    * the extractor's resampling onto the 12 fps grid, from the AVI header's
    * whole-microsecond frame period.
    */
  def frameTimes(n: Int): Seq[(Double, Int)] = {
    val us = 1000000L / Gen.Fps
    val native = 1e6 / us
    val raw =
      if (native <= Gen.Fps) (0 until n).map(i => (i * us / 1e6, i))
      else {
        val m = math.floor((n - 1) * us / 1e6 * Gen.Fps).toInt + 1
        (0 until m).map { k =>
          val t = k.toDouble / Gen.Fps
          (t, math.min(n - 1, math.round(t * native).toInt))
        }
      }
    raw.map { case (t, i) => (math.rint(t * 1e4) / 1e4, i) }
  }

  /** The kept-set rule of `loader.js:202-212`, ported: scanning one video's
    * frames in time order, a frame is dropped iff one of the last 24 kept
    * frames lies less than 2 s earlier and has the same content key.
    */
  def keptCount(frames: Seq[(Double, Int)]): Int = {
    val kept = mutable.ArrayDeque.empty[(Double, Int)]
    var n = 0
    frames.foreach { case (t, key) =>
      if (!kept.exists { case (pt, pk) => t - pt < WindowSec && pk == key }) {
        if (kept.size == Lookback) kept.removeHead()
        kept.append((t, key))
        n += 1
      }
    }
    n
  }

  /** Generates the seeded clips and writes them as AVI files under `src`;
    * returns the kept-frame count the port expects per round. Nothing of
    * the clips stays in memory.
    */
  private def writeClips(ctx: Ctx, src: String): Int = {
    val nFrames = ClipSeconds * Gen.Fps
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    val clips = try pool.invokeAll((0 until Clips).map { i =>
      (() => Gen.clip(ctx.seed, i, nFrames)): Callable[Gen.Clip]
    }.asJava).asScala.map(_.get()).toIndexedSeq
    finally pool.shutdown()
    val bytes = clips.zipWithIndex.map { case (c, i) =>
      val avi = AviMjpeg.write(c.frames.toSeq, Gen.Fps, Gen.Width, Gen.Height)
      Files.write(Paths.get(src, f"clip$i%02d.mp4"), avi)
      avi.length.toLong
    }.sum
    val picks = frameTimes(nFrames)
    val expectedKept = clips.map(c => keptCount(picks.map { case (t, i) => (t, c.contentId(i)) })).sum
    val sourceFrames = Clips * nFrames
    ctx.out("inputs") = ListMap(
      "clips" -> Clips, "clip_seconds" -> ClipSeconds, "fps" -> Gen.Fps,
      "width" -> Gen.Width, "height" -> Gen.Height,
      "source_frames_per_round" -> sourceFrames,
      "extracted_frames_per_round" -> picks.size * Clips,
      "static_frame_share" -> clips.map(_.static.count(identity)).sum.toDouble / sourceFrames,
      "expected_kept_per_round" -> expectedKept,
      "bytes_per_round" -> bytes)
    expectedKept
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val src = ctx.dir("ingest/src")
    val expectedKept = writeClips(ctx, src)
    val sourceFrames = Clips * ClipSeconds * Gen.Fps
    ctx.mark("inputs")
    // each video in a directory of its own, named as the video id
    def drop(root: String): String = {
      val watch = Paths.get(root, "watch")
      (0 until Clips).foreach { i =>
        val d = watch.resolve(f"v$i%02d")
        Files.createDirectories(d)
        Files.copy(Paths.get(src, f"clip$i%02d.mp4"), d.resolve(f"clip$i%02d.mp4"))
      }
      watch.toString
    }

    val samples = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var k = 0
    // One round: drop the clips, start the query, wait for it to finish,
    // then (untimed) count the committed frames against the port.
    def round(measured: Boolean): Unit = {
      val root = ctx.dir(s"ingest/r$k")
      k += 1
      val watch = drop(root)
      val frames = s"$root/frames"
      val t0 = System.nanoTime()
      def ingest(): Double = {
        val q = IngestPipeline.start(spark, watch, frames, s"$root/checkpoint", "in",
          extractor = IngestPipeline.defaultExtractor, availableNow = true)
        val s = Ctx.secs(t0)
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        s
      }
      val startS = ingest()
      val wall = Ctx.secs(t0)
      val kept = spark.read.parquet(frames).count()
      ctx.attempted += Clips
      if (kept != expectedKept) ctx.failed += Clips
      ctx.check(s"round $k kept frames", kept == expectedKept,
        s"kept $kept, port of the loader rule expects $expectedKept")
      if (measured) samples += ListMap("wall_s" -> wall, "start_s" -> startS,
        "source_frames" -> sourceFrames, "kept" -> kept)
    }

    // warm-up: round times fall by about half over the first several
    // rounds (JIT, first-query and codegen costs)
    (0 until WarmupRounds).foreach(_ => round(measured = false))
    ctx.mark("warmup")
    // a fixed number of rounds per run, one per RoundSeconds of --seconds:
    // round times still drift down for a few rounds after the warm-up, so a
    // time-boxed loop would average a different stretch of that drift
    val rounds = math.max(2, math.round(ctx.seconds / RoundSeconds).toInt)
    (0 until rounds).foreach(_ => round(measured = true))
    ctx.liveHeapCheckpoint()
    if (ctx.trace) {
      val watch = s"${ctx.work}/ingest/r${k - 1}/watch"
      ctx.out("replays") = Replays.abba(ctx, i => replay(ctx, i, src, watch))
    }
    ctx.mark("rounds")
    ctx.out("rounds") = samples.toSeq
  }

  /** Replay of one round, layer by layer, with spans recorded by `sp`: the
    * container parse and the per-frame descriptor and hash calls on the
    * driver, then the pipeline's stages run one at a time as batch jobs.
    */
  private def replay(ctx: Ctx, i: Int, src: String, watch: String)(sp: Spans): Unit = {
    val spark = ctx.spark
    val avis = (0 until Clips).map(c => Files.readAllBytes(Paths.get(src, f"clip$c%02d.mp4")))
    val parsed = avis.map(b => sp("multimodal.avi_parse_ms")(AviMjpeg.parse(b)).get)
    parsed.take(2).foreach(_.frames.foreach { f =>
      val d = sp("multimodal.describe_us")(ImageOps.intensityDescriptor(f, 8))
      sp("multimodal.bitsampling_us")(BitSampling.hexCodes(d))
    })
    val counts = sp("ingest.replay") {
      val media = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.mp4").option("recursiveFileLookup", "true")
        .load(watch)
        .select(
          element_at(split(col("path"), "/"), -2).as("imdb_id"),
          element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      val extracted = IngestPipeline.extractFrames(media, IngestPipeline.defaultExtractor).cache()
      val framesIn = sp("streaming.extract_s")(extracted.count())
      val vec = IngestPipeline.vectorize(extracted, "in").cache()
      sp("streaming.vectorize_s")(vec.count())
      val deduped = TemporalDedup.dedup(vec, Seq("imdb_id", "file_name"), "time", "hi",
        WindowSec, Lookback).cache()
      val kept = sp("operators.temporal_dedup_s")(deduped.count())
      sp("sources.frames_write_s")(
        deduped.write.partitionBy("algo").parquet(ctx.dir(s"ingest/replay$i") + "/frames"))
      Seq(extracted, vec, deduped).foreach(_.unpersist())
      (framesIn, kept)
    }
    ctx.out("layer_counts") = ListMap(
      "streaming.frames_in" -> counts._1,
      "operators.temporal_dedup_kept_ratio" -> counts._2.toDouble / counts._1)
  }
}
