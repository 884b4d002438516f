package graft
package gates

import graft.streaming.IngestPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

trait StreamingGates extends GateFamily {
  private val streamGateActive = new java.util.concurrent.atomic.AtomicBoolean(false)

  // State-store provider for the streaming gates. Measured head-to-head
  // at sf0.1 (scaling.json "stream_state", quiet host, steal 111): a wash
  // at this state size — RocksDB 8.77 s vs HDFS-map 9.29 s summed over
  // the four gates, i.e. the floor is micro-batch machinery, not the
  // provider. RocksDB is pinned because it costs nothing here AND is the
  // provider that survives a 100 TB keyspace (state lives off-heap, the
  // in-heap map OOMs once per-partition state outgrows the executor);
  // ScalingBench overrides this to measure both.
  private[graft] val streamStateProvider =
    new java.util.concurrent.atomic.AtomicReference[String](
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** W2 session windows (30-min inactivity gap) via Spark's built-in
    * `session_window` — the merge-on-overlap windowing family w1's
    * tumbling windows don't cover, and the batch shape of the streaming
    * sessionization the same expression gives under `readStream`.
    * Boundary semantics: a Spark session window is [start, last+gap), so
    * an event arriving EXACTLY gap after the previous opens a NEW session
    * — the gaps-and-islands oracle flags new sessions with `>=`.
    */
  val w2SessionWindow = gate("w2_session_window",
      // gaps-and-islands sessionization; >= matches Spark's exclusive
      // session end (an event exactly gap after the last opens a new one)
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |y AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM y)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM z GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"sw.start".as("session_start"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** Run a bounded stream (AvailableNow) to a memory sink and return the
    * sink table — the shared machinery of the streaming gate rows
    * (e2s/w1s/w2s/i1).
    *
    * Stateful-operator parallelism is pinned to 8 for the run: each
    * micro-batch commits one state store per shuffle partition — a FIXED
    * cost regardless of data volume — and the gate streams are one small
    * file (a real deployment sizes this to sustained stream volume; the
    * value is pinned into the checkpoint at first start either way).
    *
    * The pin mutates the SESSION-global shuffle.partitions and restores it
    * after; that is only correct because gate queries run sequentially
    * (Verify and Bench execute one query at a time). The guard makes the
    * assumption explicit: a concurrent second stream gate would race the
    * restore and leak 8 partitions into unrelated plans (ADVICE r9 #4),
    * so reentry fails fast instead.
    */
  private[gates] def runStreamGate(
      s: SparkSession, df: org.apache.spark.sql.Dataset[_], name: String): DataFrame = {
    require(streamGateActive.compareAndSet(false, true),
      "stream gate helper is not reentrant (it pins session-global shuffle.partitions)")
    try {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val clogKey =
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prevProv = s.conf.getOption(provKey)
      val prevClog = s.conf.getOption(clogKey)
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set(provKey, streamStateProvider.get)
      // RocksDB commits a full snapshot upload per store per micro-batch
      // by default; changelog checkpointing commits the (tiny) changelog
      // instead and defers snapshots to the maintenance thread — the
      // documented production posture for frequent small commits, and at
      // the gates' 8 stores × 2+ batches the snapshot upload is pure
      // fixed cost (guide §1.2: stage-shape first — this is the state
      // analog of shuffling fewer bytes)
      if (streamStateProvider.get.contains("RocksDB"))
        s.conf.set(clogKey, "true")
      try {
        val q = df.writeStream
          .format("memory").queryName(name).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProv match {
          case Some(p) => s.conf.set(provKey, p)
          case None    => s.conf.unset(provKey)
        }
        prevClog match {
          case Some(p) => s.conf.set(clogKey, p)
          case None    => s.conf.unset(clogKey)
        }
      }
    } finally streamGateActive.set(false)
    s.table(name)
  }

  /** Stage a single-file testdata table as a stream-source DIRECTORY (a
    * bare file path fails basePath inference) — a real deployment's ingest
    * drop directory (A1/A6) is exactly this shape. Returns the stage
    * directory path.
    */
  private def stageForStream(s: SparkSession, d: String, tableFile: String): String =
    Fixtures.staged(s, s"stream_${tableFile.stripSuffix(".parquet")}", d, tableFile) { out =>
      val stage = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/$tableFile"), stage.resolve(tableFile))
      out
    }

  /** W2s — w2's sessionization EXECUTED AS A STREAM: the stateful-MERGE
    * window case w1s's fixed windows don't cover (sessions grow and fuse
    * as events arrive across micro-batches; Spark merges overlapping
    * session state per key). Append mode emits a session exactly once,
    * when the watermark passes its end (last event + 30-min gap) — at
    * which point its state is dropped, so state is bounded by OPEN
    * sessions, not stream length. Oracle = w2's batch session derivation
    * restricted to sessions the final watermark closed.
    */
  val w2sStreamSession = gate("w2s_stream_session",
      // w2's batch sessions restricted to those the stream's final watermark
      // closed (session end = last event + 30-min gap; watermark = max ts −
      // 10 min) — append mode emits exactly those.
      """WITH x AS (SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
        |y AS (SELECT user_id, ts,
        |  CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM x),
        |z AS (SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM y)
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM z GROUP BY user_id, sid
        |HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(s, d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        $"sw.start".cast("timestamp_ntz").as("session_start"), $"n_events")
    runStreamGate(s, agg, "w2s_stream_session_sink")
      .orderBy($"user_id", $"session_start")
  }

  /** Tumbling-window time aggregation (streaming-shaped, batch checked). */
  val w1TimeWindow = gate("w1_time_window",
      """SELECT date_trunc('hour', ts) AS w, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"w", $"event_type")
  }

  /** W3 — SLIDING (hopping) windows, the third window shape next to w1's
    * tumbling and w2's session windows: 30-minute windows every 10
    * minutes, so each event lands in 3 overlapping windows. Spark's
    * `window(ts, len, hop)` explodes the assignment scan-side — the
    * shuffle then carries (window, type) groups exactly like a tumbling
    * agg, ×(len/hop); the oracle reproduces the epoch-aligned hop
    * arithmetic with a generate_series.
    */
  val w3SlidingWindow = gate("w3_sliding_window",
      // the oracle re-derives the epoch-aligned hop indexes: an event at tus
      // is in hop k iff k·hop > tus − len and k·hop ≤ tus
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
        |h AS (SELECT event_type, unnest(generate_series(
        |        (tus - 1800000000) // 600000000 + 1,
        |        tus // 600000000)) AS k FROM e)
        |SELECT make_timestamp(k * 600000000) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "30 minutes", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("window_start"), $"event_type", $"n")
      .orderBy($"window_start", $"event_type")
  }

  /** W1s — w1's tumbling-window aggregation EXECUTED AS A STREAM: the
    * events file replayed through a file-stream source, watermarked 10
    * minutes, `window($"ts", "1 hour")` aggregation in APPEND mode (each
    * window row emitted exactly once, when the watermark passes its end —
    * the at-scale contract: state for a window is dropped the moment it
    * finalizes, so state size is bounded by windows-in-flight, not stream
    * length). The oracle is w1's batch SQL restricted to windows the
    * final watermark (max ts − 10 min) closed — hash-equality proves the
    * stream's incremental state machine computes the batch answer.
    */
  val w1sStreamWindow = gate("w1s_stream_window",
      // w1's batch answer restricted to the windows the stream's final
      // watermark (max ts − 10 min) closed — append mode emits exactly those.
      """SELECT date_trunc('hour', ts) AS w, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(s, d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    // the same nanos→micros truncation Tables.events applies, but kept as
    // plain TIMESTAMP: withWatermark rejects TIMESTAMP_NTZ; the UTC
    // session makes the instant and the naive wall-clock coincide, and the
    // output window start is cast back to NTZ for the oracle compare
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(dec($"value")).cast("double").as("sum_value"))
      .select($"win.start".cast("timestamp_ntz").as("w"), $"event_type", $"n", $"sum_value")
    runStreamGate(s, agg, "w1s_stream_window_sink")
      .orderBy($"w", $"event_type")
  }

  /** W3s — w3's SLIDING windows EXECUTED AS A STREAM, completing the
    * streaming window family (w1s tumbling, w2s session): 30-minute
    * windows every 10 minutes under a 10-minute watermark, APPEND mode.
    * Each event updates THREE window states scan-side (the overlap
    * factor); a window row is emitted exactly once when the watermark
    * passes its end and its state drops — so state is bounded by
    * windows-in-flight × overlap, not stream length. The oracle replays
    * w3's epoch-aligned hop assignment restricted to watermark-closed
    * windows — hash-equality proves the overlapping-window state machine
    * computes the batch answer.
    */
  val w3sStreamSliding = gate("w3s_stream_sliding",
      // w3's hop assignment restricted to watermark-closed windows (end <=
      // max ts - 10 min) — the windows append mode emitted exactly once
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus FROM events),
        |h AS (SELECT event_type, unnest(generate_series(
        |        (tus - 1800000000) // 600000000 + 1,
        |        tus // 600000000)) AS k FROM e)
        |SELECT make_timestamp(k * 600000000) AS window_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM h
        |WHERE make_timestamp(k * 600000000) + INTERVAL 30 MINUTE
        |  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    val rawSchema = Tables.table(s, d, "events").schema // cached — no inference job
    val stage = stageForStream(s, d, "events.parquet")
    val raw = s.readStream.schema(rawSchema).parquet(stage)
    val ev =
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw.withColumn("ts", $"ts".cast("timestamp"))
    val agg = ev.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "30 minutes", "10 minutes").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"win.start".cast("timestamp_ntz").as("window_start"),
        $"event_type", $"n")
    runStreamGate(s, agg, "w3s_stream_sliding_sink")
      .orderBy($"window_start", $"event_type")
  }

  /** Stage the i1 media fixture: one MJPEG-AVI per seed document (the 6
    * smallest doc_ids of the SF), laid out `watch/tt<id>/vid<id>.mp4` —
    * the reference watcher's `<imdbId>/<fileName>` tree (`watcher.js:22-29`).
    * Video `id` has `16 + 8·(id % 3)` frames at 8 fps (native ≤ the
    * extractor's 12 fps grid, so container timestamps — exact multiples
    * of 0.125 — survive to the output). Frame `i` is a JPEG whose top row
    * of 8×8 cells spells the bits of `i` (each cell is exactly one JPEG
    * block: solid black/white blocks decode near-exactly, so distinct i →
    * distinct descriptor, robustly); every `i % 4 == 3` frame REUSES
    * frame `i−1`'s bytes, planting the temporal duplicates the C3 dedup
    * must drop.
    */
  private def stageI1Media(s: SparkSession, d: String): String =
    Fixtures.staged(s, "i1_media", d, "documents.parquet") { out =>
      val root = java.nio.file.Paths.get(out)
      val ids = Tables.documents(s, d).select(col("doc_id"))
        .orderBy(col("doc_id")).limit(6).collect().map(_.getLong(0))
      ids.foreach { id =>
        val nf = (16 + 8 * (id % 3)).toInt
        def jpeg(i: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(
            64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = img.createGraphics()
          g2.setColor(java.awt.Color.BLACK)
          g2.fillRect(0, 0, 64, 64)
          g2.setColor(java.awt.Color.WHITE)
          (0 until 8).foreach { j =>
            if (((i >> j) & 1) == 1) g2.fillRect(j * 8, 0, 8, 8)
          }
          g2.dispose()
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", baos)
          baos.toByteArray
        }
        val uniq = scala.collection.mutable.Map.empty[Int, Array[Byte]]
        val frames = (0 until nf).map { i =>
          val src = if (i % 4 == 3) i - 1 else i
          uniq.getOrElseUpdate(src, jpeg(src))
        }
        val avi = graft.multimodal.AviMjpeg.write(frames, 8, 64, 64)
        val dir = root.resolve(s"tt$id")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve(s"vid$id.mp4"), avi)
      }
      out
    }

  /** I1 — the reference's WHOLE REASON TO EXIST as one driver-checked gate
    * row (r9 missing #4): the SURVEY §3.1/3.2 ingest lifecycle executed
    * END-TO-END through [[graft.streaming.IngestPipeline.start]] — a
    * binaryFile STREAM over the staged media tree (A1 watch), in-JVM
    * MJPEG-AVI frame decode (A15), real descriptor + hash-code extraction
    * on every frame (A16), vectorize/normalize/keys (B7-B11), temporal
    * kept-set dedup (C3), and the algo-partitioned frames-lake append
    * (A10), exactly-once via the file-source checkpoint. The oracle
    * derives the expected kept frames from the fixture's generating
    * formula with a generate_series — every planted `i % 4 == 3`
    * duplicate must be dropped BY THE REAL DESCRIPTOR PATH (equal bytes →
    * equal `hi` within the 2 s window) and every distinct frame kept, so
    * a regression anywhere in the chain (container walk, decode,
    * descriptor, dedup ordering, sink) breaks the hash.
    */
  val i1IngestLifecycle = gate("i1_ingest_lifecycle",
      // the fixture's generating formula re-derived: video id has
      // 16+8*(id%3) frames at 8 fps; every i%4==3 frame duplicates i-1's
      // bytes and must be dropped by the kept-set dedup; duration = last
      // frame's timecode (computed before dedup). Exact doubles: every
      // timecode is a multiple of 0.125.
      """WITH v AS (SELECT doc_id, 16 + 8 * (doc_id % 3) AS nf
        |  FROM documents ORDER BY doc_id LIMIT 6),
        |f AS (SELECT doc_id, nf, unnest(range(nf)) AS i FROM v)
        |SELECT 'tt' || CAST(doc_id AS VARCHAR) AS imdb_id,
        |  'vid' || CAST(doc_id AS VARCHAR) || '.mp4' AS file_name,
        |  i::DOUBLE / 8.0 AS time,
        |  (nf - 1)::DOUBLE / 8.0 AS duration
        |FROM f WHERE i % 4 <> 3
        |ORDER BY imdb_id, time""".stripMargin) { (s, d) =>
    import s.implicits._
    val watch = stageI1Media(s, d)
    val base = java.nio.file.Paths.get(Fixtures.dir(s, "i1_out", d))
    Fixtures.deleteDir(base) // fresh lake + checkpoint per run: append sink must not double
    val frames = base.resolve("frames").toString
    val ckpt = base.resolve("ckpt").toString
    val q = IngestPipeline.start(s, watch, frames, ckpt, algo = "in",
      extractor = IngestPipeline.defaultExtractor, availableNow = true)
    q.awaitTermination()
    s.read.parquet(frames)
      .select($"imdb_id", $"file_name", $"time",
        $"duration".cast("double").as("duration"))
      .orderBy($"imdb_id", $"time")
  }
}
