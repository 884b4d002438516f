package graft
package gates

import graft.functions.VectorFunctions._
import graft.operators.{AnnSearch, IvfIndex, Pq, TemporalDedup, VectorMetric}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

trait IngestVectorGates extends GateFamily {
  /** B1 extension filter (watcher.js:25-29 analog). */
  val b1ExtFilter = gate("b1_ext_filter",
      """SELECT doc_id, source FROM documents
        |WHERE right(source, 1) IN ('0','1','2','3') ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .where(substring($"source", -1, 1).isin("0", "1", "2", "3"))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** B2 path → (head, tail) projection (watcher.js:22-23). */
  val b2PathProject = gate("b2_path_project",
      """WITH p AS (SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS path FROM documents)
        |SELECT doc_id, string_split(path,'/')[1] AS head, string_split(path,'/')[-1] AS tail
        |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", concat_ws("/", $"source", $"doc_id").as("path"))
      .select($"doc_id",
        element_at(split($"path", "/"), 1).as("head"),
        element_at(split($"path", "/"), -1).as("tail"))
      .orderBy($"doc_id")
  }

  /** B3 whitelist predicate (hasher.js:28-49). */
  val b3Whitelist = gate("b3_whitelist",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
        |WHERE event_type IN ('click','view','error') GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .where($"event_type".isin("click", "view", "error"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** B4 regex numeric extract (hasher.js:93-99 pts_time analog). */
  val b4RegexExtract = gate("b4_regex_extract",
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        regexp_extract($"props", "\"k\":\\s*([0-9]+)", 1).cast("long").as("k"))
      .orderBy($"event_id")
  }

  /** B7 hex→int parse (loader.js:110-117): 3-hex-digit codes from md5. */
  val b7HexParse = gate("b7_hex_parse",
      """SELECT doc_id, CAST(('0x' || substring(md5(text),1,3)) AS BIGINT) AS hex_val
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        conv(substring(md5($"text"), 1, 3), 16, 10).cast("long").as("hex_val"))
      .orderBy($"doc_id")
  }

  /** B8 L2 normalization (loader.js:120-128). */
  val b8L2Normalize = gate("b8_l2_normalize",
      """WITH n AS (SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nn
        |  FROM embeddings)
        |SELECT vec_id, round(nn, 6) AS norm, round(embedding[1]::DOUBLE / nn, 6) AS e1
        |FROM n ORDER BY vec_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", l2Norm($"embedding").as("n"))
      .select($"vec_id",
        round($"n", 6).as("norm"),
        round(element_at($"embedding", 1).cast("double") / $"n", 6).as("e1"))
      .orderBy($"vec_id")
  }

  /** B9 char-code-sum primary key (loader.js:131-143). */
  val b9CharcodeKey = gate("b9_charcode_key",
      """SELECT doc_id, CAST(list_sum(list_transform(string_split(source,''), x -> ord(x))) AS BIGINT) AS pk
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", charCodeSum($"source").as("pk"))
      .orderBy($"doc_id")
  }

  /** B10 composite hash_id build (loader.js:241). */
  val b10HashId = gate("b10_hash_id",
      """SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) || '/' || printf('%.2f', n_chars::DOUBLE) AS hash_id
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        concat_ws("/", $"source", $"doc_id",
          format_string("%.2f", $"n_chars".cast("double"))).as("hash_id"))
      .orderBy($"doc_id")
  }

  /** B11 per-entity max broadcast onto rows (loader.js:200,244). */
  val b11DurationWindow = gate("b11_duration_window",
      """SELECT event_id, user_id, max(ts) OVER (PARTITION BY user_id) AS user_max_ts
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val w = Window.partitionBy($"user_id")
    Tables.events(s, d)
      .select($"event_id", $"user_id", max($"ts").over(w).as("user_max_ts"))
      .orderBy($"event_id")
  }

  /** B12 MD5 content hash (searcher.js:146-149). */
  val b12Md5 = gate("b12_md5",
      "SELECT doc_id, md5(text) AS digest FROM documents ORDER BY doc_id") { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", md5($"text").as("digest"))
      .orderBy($"doc_id")
  }

  /** B13 magic-byte type sniff (searcher.js:151-155) — hex-prefix CASE. */
  val b13MagicSniff = gate("b13_magic_sniff",
      """SELECT doc_id, CASE WHEN substring(md5(text),1,1) IN ('0','1','2','3') THEN 'png'
        |WHEN substring(md5(text),1,1) IN ('4','5','6','7') THEN 'jpg' ELSE 'other' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        when(substring(md5($"text"), 1, 1).isin("0", "1", "2", "3"), "png")
          .when(substring(md5($"text"), 1, 1).isin("4", "5", "6", "7"), "jpg")
          .otherwise("other").as("kind"))
      .orderBy($"doc_id")
  }

  // JSONL/CSV/ORC mirrors of the documents table — like the bucketed
  // tables, a layout job outside the timed read path.
  private def ensureTextFormat(s: SparkSession, d: String, fmt: String): String =
    Fixtures.staged(s, s"${fmt}_docs", d, "documents.parquet") { out =>
      val w = Tables.documents(s, d).write.mode("overwrite")
      fmt match {
        case "json" => w.json(out)
        case "orc"  => w.orc(out)
        // escape=quote (RFC 4180 doubling) + header; multiLine on the read
        // side handles embedded newlines in text. nullValue is pinned to a
        // sentinel that cannot collide with document text, so an empty
        // STRING field roundtrips as "" instead of silently becoming null
        // on read (ADVICE r9 #1 — the default maps both to "")
        case "csv" =>
          // the sentinel's no-collision claim is an INVARIANT of the
          // corpus, not of CSV — enforce it where the mirror is written
          // (ADVICE r9 #1 follow-up): a field that IS the literal \N
          // would roundtrip to NULL
          val collisions = Tables.documents(s, d)
            .where(col("text") === "\\N" || col("lang") === "\\N" ||
              col("source") === "\\N")
            .limit(1).count()
          require(collisions == 0,
            "csv mirror: a document field equals the \\N null sentinel")
          w.option("header", "true").option("escape", "\"")
            .option("nullValue", "\\N").csv(out)
      }
      out
    }

  /** B15 JSONL ingest roundtrip — the lake's interchange format beside
    * parquet and the reference's xz-XML: documents written as JSON lines,
    * read back through the schema'd json source, hash-identical to the
    * parquet original (JSON escaping is lossless). The write is a
    * session-cached layout job; the timed query is the schema'd read a
    * 100 TB JSONL drop directory would pay.
    */
  val b15JsonlRoundtrip = gate("b15_jsonl_roundtrip",
      // Roundtrip identity: the format conversion must lose nothing — the
      // oracle reads the ORIGINAL parquet rows.
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id") { (s, d) =>
    import s.implicits._
    val dir = ensureTextFormat(s, d, "json")
    s.read.schema(Tables.documents(s, d).schema).json(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** B16 CSV ingest roundtrip — same contract for the CSV source, with
    * the quoting corner cases live: RFC 4180 escape-by-doubling and
    * multiLine for embedded newlines in the text column.
    */
  val b16CsvRoundtrip = gate("b16_csv_roundtrip", b15JsonlRoundtrip.oracle) { (s, d) =>
    import s.implicits._
    val dir = ensureTextFormat(s, d, "csv")
    s.read.schema(Tables.documents(s, d).schema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .option("nullValue", "\\N").option("emptyValue", "")
      .csv(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** B17 ORC ingest roundtrip — the second columnar lake format beside
    * parquet (the Hive-ecosystem interchange a shared lake actually sees):
    * documents mirrored to ORC (session-cached layout job) and read back
    * through the native vectorized ORC source, hash-identical to the
    * parquet original. Columnar→columnar, so pushdown/pruning semantics
    * carry over unchanged — the row proves the engine's source surface
    * isn't parquet-monogamous.
    */
  val b17OrcRoundtrip = gate("b17_orc_roundtrip", b15JsonlRoundtrip.oracle) { (s, d) =>
    import s.implicits._
    val dir = ensureTextFormat(s, d, "orc")
    s.read.schema(Tables.documents(s, d).schema).orc(dir)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** C1 sort by timecode (hasher.js:154-159). */
  val c1SortLimit = gate("c1_sort_limit",
      "SELECT event_id, ts FROM events ORDER BY ts, event_id LIMIT 100") { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id", $"ts")
      .orderBy($"ts", $"event_id")
      .limit(100)
  }

  /** C3 temporal kept-set dedup — EXACT reference semantics
    * (loader.js:202-212); not SQL-expressible, rows-only check. Events per
    * user ordered by ts, key = event_type, 600 s window, 24-kept lookback.
    */
  val c3TemporalDedup = gate("c3_temporal_dedup",
      // Exact kept-set semantics (loader.js:202-212) as a recursive CTE: each
      // iteration advances every group by one time-ordered row, carrying the
      // last-24-kept (t, k) buffer as a list-of-structs column.
      """WITH RECURSIVE ordered AS (
        |  SELECT user_id, event_id, event_type AS k,
        |         epoch_us(ts) / 1000000.0 AS t,
        |         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |),
        |gsz AS (SELECT user_id, max(rn) AS n FROM ordered GROUP BY user_id),
        |rec AS (
        |  SELECT o.user_id, o.rn,
        |         [struct_pack(t := o.t, k := o.k)] AS kept,
        |         [o.event_id] AS out_ids
        |  FROM ordered o WHERE o.rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn,
        |         CASE WHEN dup THEN r.kept
        |              ELSE list_slice(list_append(r.kept, struct_pack(t := o.t, k := o.k)),
        |                              greatest(len(r.kept) + 1 - 24 + 1, 1), len(r.kept) + 1) END,
        |         CASE WHEN dup THEN r.out_ids ELSE list_append(r.out_ids, o.event_id) END
        |  FROM rec r JOIN ordered o ON o.user_id = r.user_id AND o.rn = r.rn + 1,
        |  LATERAL (SELECT len(list_filter(r.kept, e -> (o.t - e.t) < 600.0 AND e.k = o.k)) > 0 AS dup) d
        |),
        |final AS (
        |  SELECT r.user_id, r.out_ids FROM rec r JOIN gsz g ON r.user_id = g.user_id AND r.rn = g.n
        |)
        |SELECT unnest(out_ids) AS event_id FROM final ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // project to the dedup-relevant columns BEFORE the scan: the kept-set
    // pass leaves Tungsten (rdd.mapPartitions), so every extra column pays
    // row-materialization cost
    val ev = Tables.events(s, d)
      .withColumn("t", unix_micros($"ts".cast("timestamp")) / 1e6)
      .select($"user_id", $"t", $"event_type", $"event_id")
    TemporalDedup.dedup(ev, Seq("user_id"), "t", "event_type", 600.0,
        tiebreakCols = Seq("event_id"))
      .select($"event_id").orderBy($"event_id")
  }

  /** C3' seen-set window variant (SQL-expressible; divergence documented in
    * SURVEY §7.4.1). Integer-microsecond math for cross-engine exactness.
    */
  val c3WindowDedup = gate("c3_window_dedup",
      """SELECT event_id FROM (
        |  SELECT event_id, epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id) AS dt
        |  FROM events) t
        |WHERE dt IS NULL OR dt >= 600000000 ORDER BY event_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d)
      .withColumn("tus", unix_micros($"ts".cast("timestamp")))
    TemporalDedup.dedupSeenSet(ev, Seq("user_id"), "tus", "event_type", 600e6,
        tiebreakCols = Seq("event_id"))
      .select($"event_id").orderBy($"event_id")
  }

  /** C4 max/sum aggregate per entity (loader.js:200). */
  val c4MaxAgg = gate("c4_max_agg",
      """SELECT user_id, max(ts) AS max_ts, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max($"ts").as("max_ts"), count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"user_id")
  }

  /** C5 fixed-size chunking (loader.js:233-255). Global ordinals come from
    * the distributed two-pass [[graft.operators.GlobalRank]] — a global
    * `row_number()` window would funnel every event through ONE partition.
    */
  val c5Chunking = gate("c5_chunking",
      """WITH r AS (SELECT event_id, CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 1000.0) AS BIGINT) AS chunk FROM events)
        |SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM r GROUP BY chunk ORDER BY chunk""".stripMargin) { (s, d) =>
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_id")
    graft.operators.GlobalRank.withGlobalIndex(ev, Seq($"event_id"), "rank")
      .select($"event_id", floor($"rank" / 1000.0).cast("long").as("chunk"))
      .groupBy($"chunk")
      .agg(count(lit(1)).as("n"), min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"chunk")
  }

  /** C8 exact ANN top-15 by inner product (searcher.js:99-110) — the
    * reference's core serving query; query vector = embedding of vec_id 0.
    */
  val c8AnnExact = gate("c8_ann_exact",
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-L2 exact nearest-15 by SQUARED L2 distance — the Milvus
    * `MetricType.L2` half of the metric surface the reference leaves at IP
    * (searcher.js:104). Same serving shape as [[c8AnnExact]] (scored scan →
    * TakeOrderedAndProject), ordered ASCENDING; the score is the native
    * codegen'd `fast_l2sq` sequential fold, bit-matched by the oracle's
    * list fold.
    */
  val c8AnnL2 = gate("c8_ann_l2",
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)))::DOUBLE AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw ASC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15,
        VectorMetric.L2)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-COS exact top-15 by cosine — the third Milvus metric; IP over the
    * row norm × query norm, same sequential-double-fold parity argument as
    * the e5 cosine-pairs oracle.
    */
  val c8AnnCos = gate("c8_ann_cos",
      """WITH q AS (SELECT embedding AS qv,
        |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS qn
        |  FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE
        |    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))::DOUBLE)
        |       * (SELECT qn FROM q)) AS score_raw
        |  FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(score_raw, 6) AS score FROM s
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    AnnSearch.exactTopK(e.where($"vec_id" =!= 0), "embedding", "vec_id", q, 15,
        VectorMetric.Cosine)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-BATCH — [[AnnSearch.batchTopK]], the offline-eval / nightly
    * re-rank shape: EVERY query vector scored against the base in ONE lake
    * scan (a per-query loop of exact scans is how a 100 TB lake dies). The
    * query batch broadcasts; each base partition folds its rows into
    * per-query O(k) heaps (`topk_ids`), so the single shuffle carries
    * #partitions × #queries × k pairs, never the scored cross product.
    * Output is (qid, rank, vec_id) — rank 0-based best-first, ties
    * (score DESC, id ASC) — the exact order the oracle's window replays.
    * The queries frame deliberately keeps the base's own `embedding`
    * column name: the pre-join minimal projections (ADVICE r12) make the
    * name overlap legal.
    */
  val c8BatchTopK = gate("c8_batch_topk",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |s AS (SELECT q.qid, e.vec_id,
        |  list_sum(list_transform(list_zip(e.embedding, q.qv),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3),
        |r AS (SELECT qid, vec_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, vec_id) - 1 AS BIGINT) AS rank
        |  FROM s)
        |SELECT qid, rank, vec_id FROM r WHERE rank < 15
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val base = e.where($"vec_id" >= 3)
    val queries = e.where($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding")
    AnnSearch.batchTopK(base, "embedding", "vec_id", queries, "qid", "embedding", 15)
  }

  /** C8-BATCH-IVF-DET — [[AnnSearch.batchTopKIvf]] under the hash gate
    * with the deterministic axis-block model: every query ranks the
    * centroids IN THE PLAN (same score + stable index tie-break as the
    * driver-side `rankCentroids`), explodes to its nprobe=3 probe
    * clusters, and the probe set broadcast-equi-joins the assigned base —
    * the batched, equi-join form of [[c8AnnIvfDet]]'s per-query prune.
    * The oracle replays in-SQL centroid ranking (per-query window over
    * the 8 block sums), first-max assignment, the per-cluster candidate
    * restriction, and the heap order.
    */
  val c8BatchIvfDet = gate("c8_batch_ivf_det",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |qb AS (SELECT qid, qv,
        |  [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT qid, cl FROM (
        |  SELECT qid, CAST(block AS INT) AS cl,
        |    row_number() OVER (PARTITION BY qid ORDER BY bs DESC, block ASC) AS rk
        |  FROM (SELECT qid, unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb))
        |  WHERE rk <= 3),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings WHERE vec_id >= 3),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |sc AS (SELECT pr.qid, c.vec_id,
        |  list_sum(list_transform(list_zip(c.embedding, q.qv),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score
        |  FROM cl c JOIN pr ON c.cluster = pr.cl JOIN q ON q.qid = pr.qid),
        |r AS (SELECT qid, vec_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, vec_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, vec_id FROM r WHERE rank < 15
        |ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val dim = e.select(size($"embedding")).head().getInt(0)
    val model = axisBlockIvfModel(dim)
    val indexed = IvfIndex.assign(e.where($"vec_id" >= 3), "embedding", model)
    val queries = e.where($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding")
    AnnSearch.batchTopKIvf(indexed, model, "embedding", "vec_id", "cluster_id",
      queries, "qid", "embedding", 15, nprobe = 3)
  }

  /** C8-DET — the IVF prune+probe pipeline UNDER THE HASH GATE (VERDICT
    * r10 #2): the same [[IvfIndex.assign]] → [[IvfIndex.rankCentroids]] →
    * prune → exact-top-k machinery as [[c8AnnIvf]], but with sd1's
    * deterministic equal-norm axis-block centroids (centroid j is 1 on
    * dims 8j..8j+7, 0 elsewhere, so ‖c‖² = 8 for all j and `assign`'s
    * argmin ‖v−c‖² = argmax block-sum — a pure function of the row the
    * oracle replays in SQL). Every stage the KMeans rows exercise —
    * streaming-insert assignment expression, driver-side centroid ranking
    * (ip desc, stable index tie-break), the `cluster_id IN` prune, and
    * the probed top-k — is hash-checked end-to-end; the KMeans rows keep
    * proving the learned-centroid path with recall sidecars.
    */
  /** The deterministic equal-norm axis-block IVF model shared by the three
    * det-ANN gate rows: centroid j is 1 on dims [j·(dim/8), (j+1)·(dim/8)),
    * 0 elsewhere — ‖c‖² is equal for all j, so `assign`'s argmin ‖v−c‖²
    * reduces to argmax block-sum, a pure row function the oracles replay.
    * (Requires 8 | dim; the gate tables are dim=64.)
    */
  private[graft] def axisBlockIvfModel(dim: Int): IvfIndex.Model = {
    require(dim % 8 == 0, s"axis-block model needs 8 | dim, got $dim")
    val w = dim / 8
    IvfIndex.Model(Array.tabulate(8)(j =>
      Array.tabulate(dim)(i => if (i / w == j) 1.0 else 0.0)))
  }

  val c8AnnIvfDet = gate("c8_ann_ivf_det",
      // deterministic IVF: the oracle replays assignment (argmax block sum =
      // argmin ‖v−c‖² for equal-norm axis-block centroids), centroid ranking
      // (query block sums desc, block index tie-break), the nprobe=3 prune,
      // and the probed exact top-15 — the whole pipeline, not just the scan
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM embeddings WHERE vec_id <> 0),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |sc AS (SELECT vec_id,
        |  list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |    x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE AS score_raw
        |  FROM cl WHERE cluster IN (SELECT cl FROM pr))
        |SELECT vec_id, round(score_raw, 6) AS score FROM sc
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val indexed = IvfIndex.assign(e.where($"vec_id" =!= 0), "embedding", model)
    IvfIndex.search(indexed, model, "embedding", "vec_id", q, 15, nprobe = 3)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  // Incrementally-GROWN IVF lake fixture: 4/5 of the base vectors written
  // as the partitioned lake under the axis-block model (the nightly
  // build), the remaining 1/5 assign-appended under the SAME fixed
  // centroids ([[IvfIndex.appendToLake]] — the delta-sized daily job, no
  // refit, no lake rewrite). The gate row times the PROBE over the
  // at-rest grown lake.
  private def ensureIvfAppendLake(s: SparkSession, d: String): String =
    Fixtures.staged(s, "ivf_append", d, "embeddings.parquet") { dir =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val model = axisBlockIvfModel(e.select(size($"embedding")).head().getInt(0))
      IvfIndex.write(IvfIndex.assign(
        e.where($"vec_id" =!= 0 && $"vec_id" % 5 =!= 1), "embedding", model), dir)
      IvfIndex.appendToLake(
        e.where($"vec_id" =!= 0 && $"vec_id" % 5 === 1), "embedding", model, dir)
      dir
    }

  /** C8-IVF-APPEND — incremental index maintenance under c8_ann_ivf_det's
    * oracle VERBATIM (the e2i/r5 one-oracle-two-plans trick): the lake
    * was built from 4/5 of the vectors and GROWN by [[graft.operators
    * .IvfIndex.appendToLake]] (assign-only insert under the fixed
    * centroids — the daily job whose cost is the delta, closing the
    * build/maintenance split behind r2's linear build decade), and the
    * nprobe-pruned probe over the grown lake must hash-match the
    * replay over ALL vectors. The probe's `cluster_id IN` filter is
    * partition pruning over base and delta files alike.
    */
  val c8AnnIvfAppend = gate("c8_ann_ivf_append",
      // c8_ann_ivf_det's oracle VERBATIM: the engine plan probes a lake
      // grown by assign-only appendToLake under the same fixed centroids,
      // and the grown lake must answer exactly like assign-over-everything
      c8AnnIvfDet.oracle) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val indexed = s.read.parquet(ensureIvfAppendLake(s, d))
    IvfIndex.search(indexed, model, "embedding", "vec_id", q, 15, nprobe = 3)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-SQ8-DET — the reference's ACTUAL serving plan (Milvus IVF_SQ8,
    * searcher.js:99-110) fully composed UNDER THE HASH GATE: deterministic
    * axis-block IVF assignment + centroid ranking + nprobe prune
    * ([[c8AnnIvfDet]]'s machinery) feeding the SQ8 byte_dot ADC score
    * ([[c7Sq8Ann]]'s KMeans-free codec) — prune and codec value-checked IN
    * COMPOSITION, not just separately. Reuses c7's session-cached
    * fit+encode, so the timed work is assignment + prune + byte_dot.
    */
  val c8AnnIvfSq8Det = gate("c8_ann_ivfsq8_det",
      // IVF_SQ8 composed: c8_ann_ivf_det's deterministic prune CTEs scope
      // c7_sq8_ann's quantized scoring — the reference's serving plan
      // value-checked end to end
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |bs AS (SELECT vec_id, embedding,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM v),
        |cl AS (SELECT vec_id, embedding, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs),
        |u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
        |  FROM cl WHERE cluster IN (SELECT cl FROM pr)),
        |stats AS (SELECT pos, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx FROM (
        |  SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM v) GROUP BY pos),
        |w AS (SELECT pos, mn, greatest((mx - mn) / 255.0, 1e-12) AS sc,
        |    greatest((mx - mn) / 255.0, 1e-12) * (SELECT qv FROM q)[pos]::DOUBLE AS wq,
        |    mn * (SELECT qv FROM q)[pos]::DOUBLE AS bq FROM stats),
        |b AS (SELECT list_sum(list(bq ORDER BY pos)) AS bias FROM w),
        |terms AS (SELECT u.vec_id, u.pos,
        |    least(255, greatest(0, CAST(floor((u.x::DOUBLE - w.mn) / w.sc + 0.5) AS BIGINT))) * w.wq AS t
        |  FROM u JOIN w USING (pos)),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY pos)) + (SELECT bias FROM b) AS score_raw
        |  FROM terms GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val (enc, sq8) = graft.operators.Sq8.fitEncodeCached(s, s"$d#sq8",
      e.where($"vec_id" =!= 0), "embedding")
    val probed = IvfIndex.rankCentroids(model, q, VectorMetric.Ip, 3)
    val indexed = IvfIndex.assign(enc, "embedding", model)
      .where($"cluster_id".isin(probed.toIndexedSeq: _*))
    AnnSearch.topK(
      indexed.select($"vec_id",
        graft.operators.Sq8.score($"codes", sq8, q).as("score")),
      "vec_id", VectorMetric.Ip, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8-PQ-DET — the LAST quantized codec under the hash gate: Milvus
    * IVF_PQ (the high-compression sibling of the reference's IVF_SQ8,
    * loader.js:332-334) composed end-to-end with value equality. Same
    * deterministic axis-block IVF prune as [[c8AnnIvfDet]]; the PQ half
    * uses [[Pq.gridFit]]'s grid codebooks (constant-vector centroids on a
    * per-subspace min/max grid of subvector means), under which the REAL
    * machinery — [[Pq.encodeVec]]'s per-subspace argmin, the query-LUT
    * build, and the codegen'd `byte_lut_sum` ADC kernel — is a pure
    * function of the data the oracle replays fold-for-fold in SQL. The
    * KMeans-codebook row ([[c7PqAnn]]) keeps proving the learned path with
    * recall sidecars; this row proves the pipeline's VALUES. Encode comes
    * from [[Pq.gridFitEncodeCached]] — a periodic build, so the timed query
    * is assignment + prune + ADC, the serving shape.
    */
  val c8AnnIvfPqDet = gate("c8_ann_ivfpq_det",
      // IVF_PQ composed, deterministic grid codebooks: the oracle rebuilds
      // the per-subspace level grid (min/max of subvector means over the
      // FULL fit set), replays encodeVec's argmin (sequential squared-diff
      // fold, first-wins tie via ORDER BY dd, c), the IVF nprobe=3 prune,
      // and byte_lut_sum's ADC sum (per-subspace level·q fold, then the
      // j-ordered outer fold) — every fold in the engine's order
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |qb AS (SELECT [list_sum(list_transform(qv[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(qv[57:64], x -> x::DOUBLE))] AS s FROM q),
        |pr AS (SELECT CAST(block AS INT) AS cl FROM (
        |   SELECT unnest(s) AS bs, unnest(generate_series(0, 7)) AS block FROM qb)
        |   ORDER BY bs DESC, block ASC LIMIT 3),
        |v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |bs AS (SELECT vec_id,
        |  [list_sum(list_transform(embedding[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(embedding[57:64], x -> x::DOUBLE))] AS s
        |  FROM v),
        |keep AS (SELECT vec_id FROM (
        |   SELECT vec_id, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster FROM bs)
        |   WHERE cluster IN (SELECT cl FROM pr)),
        |sub AS (SELECT vec_id, j, list_slice(embedding, j*8+1, j*8+8) AS sv
        |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) js),
        |mu AS (SELECT vec_id, j,
        |  list_sum(list_transform(sv, x -> x::DOUBLE)) / 8.0 AS mean FROM sub),
        |st AS (SELECT j, min(mean) AS mn, max(mean) AS mx FROM mu GROUP BY j),
        |lv AS (SELECT j, c, mn + (c * (mx - mn)) / 15.0 AS level
        |  FROM st CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS c) cs),
        |dist AS (SELECT s2.vec_id, s2.j, l.c, l.level,
        |  list_sum(list_transform(s2.sv, x -> (x::DOUBLE - l.level) * (x::DOUBLE - l.level))) AS dd
        |  FROM sub s2 JOIN keep USING (vec_id) JOIN lv l USING (j)),
        |codes AS (SELECT vec_id, j, level FROM (
        |   SELECT vec_id, j, level, row_number() OVER (PARTITION BY vec_id, j ORDER BY dd ASC, c ASC) AS rn
        |   FROM dist) WHERE rn = 1),
        |lutv AS (SELECT c2.vec_id, c2.j,
        |  list_sum(list_transform(list_slice((SELECT qv FROM q), c2.j*8+1, c2.j*8+8),
        |    x -> c2.level * x::DOUBLE)) AS t
        |  FROM codes c2),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY j)) AS score_raw
        |  FROM lutv GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val model = axisBlockIvfModel(q.length)
    val (enc, pq) = Pq.gridFitEncodeCached(s, s"$d#pqdet",
      e.where($"vec_id" =!= 0), "embedding", m = 8, ksub = 16)
    val probed = IvfIndex.rankCentroids(model, q, VectorMetric.Ip, 3)
    val indexed = IvfIndex.assign(enc, "embedding", model)
      .where($"cluster_id".isin(probed.toIndexedSeq: _*))
    AnnSearch.topK(
      indexed.select($"vec_id", Pq.score($"pq_codes", pq, q).as("score")),
      "vec_id", VectorMetric.Ip, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** B5 positional (ordinal) zip join — the reference's only join
    * (hasher.js:101-112): i-th element of one ordered list paired with the
    * i-th of another.
    */
  val b5PositionalZip = gate("b5_positional_zip",
      """WITH o AS (SELECT * FROM (SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) AS INT) AS pos FROM orders) t WHERE pos <= 20),
        |p AS (SELECT * FROM (SELECT p_partkey, CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS pos FROM part) t WHERE pos <= 20)
        |SELECT o.pos AS pos, o_orderkey, p_partkey FROM o JOIN p ON o.pos = p.pos ORDER BY pos""".stripMargin) { (s, d) =>
    import s.implicits._
    // Top-20 per side via TakeOrderedAndProject (distributed per-partition
    // top-k + merge), then a bounded array zip — no global window, and the
    // only driver-sized object is the 20-element array.
    val o20 = Tables.orders(s, d).orderBy($"o_orderkey").limit(20)
      .agg(sort_array(collect_list($"o_orderkey")).as("os"))
    val p20 = Tables.part(s, d).orderBy($"p_partkey").limit(20)
      .agg(sort_array(collect_list($"p_partkey")).as("ps"))
    o20.crossJoin(p20)
      .select(posexplode(arrays_zip($"os", $"ps")).as(Seq("i", "z")))
      .select(($"i" + 1).cast("int").as("pos"),
        $"z.os".as("o_orderkey"), $"z.ps".as("p_partkey"))
      .orderBy($"pos")
  }

  /** C7 IVF coarse-quantization build (loader.js:327-336, nlist analog) —
    * KMeans is not oracle-expressible → rows-only check; recall is covered
    * by the ScalaTest suite.
    */
  val c7IvfCluster = gate("c7_ivf_cluster", None) { (s, d) =>
    import s.implicits._
    val (assigned, _) = IvfIndex.buildCached(s, s"$d#all",
      Tables.embeddings(s, d), "embedding", 16)
    assigned.select($"vec_id", $"cluster_id".cast("int").as("cluster_id"))
      .orderBy($"vec_id")
  }

  /** The c7b oracle: [[operators.QuantKmeans.fit]]'s quantized Lloyd
    * loop unrolled (nlist 8, 3 iterations). Per iteration: a correlated
    * argmin over the centroid table using the IDENTICAL distance
    * expression (‖c‖² − 2·(v·c), both sequential folds over grid/exact
    * values — bit-equal in any IEEE engine, so the argmin needs no
    * tolerance), then per-(cluster, dim) exact-decimal sums of
    * grid-quantized components with the mean rounded by EXACT INTEGER
    * half-away arithmetic in HUGEINT ([[operators.QuantKmeans
    * .gridMeanExact]]'s formula verbatim — r19: a double-division mean
    * lands ON half-grid points where the engines' round conventions
    * diverge); memberless clusters keep their previous centroid via the
    * LEFT JOIN COALESCE. Init = the 8
    * vectors with the smallest (md5-hash60(id), id), components
    * gridded. MATERIALIZED per stage (the t13 CTE-inlining lesson).
    */
  private lazy val duckQuantKmeansReplay: String = {
    def iter(k: Int): String = {
      val prev = s"cent${k - 1}"
      s"""a$k AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, (
         |      SELECT c.cid FROM $prev c
         |      ORDER BY list_sum(list_transform(c.cv, x -> x * x)) -
         |        2.0 * list_sum(list_transform(list_zip(e.embedding, c.cv),
         |          p -> p[1]::DOUBLE * p[2])),
         |        c.cid
         |      LIMIT 1) AS cl
         |  FROM emb e),
         |u$k AS MATERIALIZED (
         |  SELECT cid, dim, CAST(CASE WHEN su >= 0
         |      THEN (2 * su + n) // (2 * n)
         |      ELSE -((2 * (-su) + n) // (2 * n)) END AS DOUBLE) / 1e6 AS m
         |  FROM (
         |    SELECT cl AS cid, CAST(i - 1 AS BIGINT) AS dim,
         |      CAST(SUM(CAST(round(embedding[i]::DOUBLE, 6)
         |          AS DECIMAL(38,6))) * 1000000 AS HUGEINT) AS su,
         |      CAST(COUNT(*) AS HUGEINT) AS n
         |    FROM a$k, unnest(generate_series(1, len(embedding))) AS t(i)
         |    GROUP BY 1, 2)),
         |cent$k AS MATERIALIZED (
         |  SELECT l.cid, list(COALESCE(u.m, l.prev) ORDER BY l.dim) AS cv
         |  FROM (SELECT c.cid, CAST(i - 1 AS BIGINT) AS dim, c.cv[i] AS prev
         |        FROM $prev c, unnest(generate_series(1, len(c.cv))) AS t(i)) l
         |  LEFT JOIN u$k u ON u.cid = l.cid AND u.dim = l.dim
         |  GROUP BY l.cid)""".stripMargin
    }
    val iters = (1 to 3).map(iter).mkString(",\n")
    s"""WITH
       |emb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
       |cent0 AS MATERIALIZED (
       |  SELECT cid, cv FROM (
       |    SELECT row_number() OVER (ORDER BY
       |        ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |        CAST(vec_id AS VARCHAR)) - 1 AS cid,
       |      list_transform(embedding, x -> round(x::DOUBLE, 6)) AS cv
       |    FROM emb) WHERE cid < 8),
       |$iters
       |SELECT c.cid AS cluster_idx, CAST(i - 1 AS BIGINT) AS dim_idx,
       |  c.cv[i] AS c
       |FROM cent3 c, unnest(generate_series(1, len(c.cv))) AS t(i)
       |ORDER BY cluster_idx, dim_idx""".stripMargin
  }

  /** C7b — the DETERMINISTIC coarse-quantizer build under the HASH gate
    * ([[operators.QuantKmeans.fit]]): 3 quantized Lloyd iterations,
    * nlist 8, over the embeddings table — every centroid component a
    * decimal-grid point, init and argmin engine-portable — emitted as
    * (cluster_idx, dim_idx, c) scalars. MLlib's KMeans (c7) stays the
    * default trainer and stays rows-only (its float reductions are
    * order-dependent by construction); this row is the reproducible
    * twin that puts the IVF build's ALGORITHM — assignment expression,
    * mean updates, empty-cluster handling — under the hard signal, the
    * t29b/t13 discipline applied to the index family.
    */
  val c7bKmeansDet = gate("c7b_kmeans_det",
      // c7b: the quantized-KMeans loop replay (see duckQuantKmeansReplay)
      duckQuantKmeansReplay) { (s, d) =>
    import s.implicits._
    operators.QuantKmeans.fit(
        Tables.embeddings(s, d), "vec_id", "embedding", nlist = 8, iters = 3)
      .zipWithIndex.flatMap { case (cv, ci) =>
        cv.zipWithIndex.map { case (v, di) => (ci.toLong, di.toLong, v) }
      }.toSeq
      .toDF("cluster_idx", "dim_idx", "c")
      .orderBy("cluster_idx", "dim_idx")
  }

  /** C8' IVF nprobe-pruned ANN (searcher.js:99-110 approximate path) —
    * rows-only (approximate by design; recall measured in tests and dumped
    * by Verify as recall.json). The index comes from [[IvfIndex.buildCached]]
    * — construction is a periodic job (SURVEY §3.2), so the timed query is
    * the nprobe SEARCH, the thing searcher.js:99-110 measures.
    */
  val c8AnnIvf = gate("c8_ann_ivf", None) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (assigned, model) = IvfIndex.buildCached(s, s"$d#q0",
      e.where($"vec_id" =!= 0), "embedding", 16)
    IvfIndex.search(assigned, model, "embedding", "vec_id", q, 15, nprobe = 4)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C8'' the OPTIMIZER-path ANN: the SAME top-15 as [[c8AnnIvf]], but the
    * user writes only the declarative exact query — `ORDER BY
    * fast_dot(embedding, q) DESC LIMIT 15` over the indexed table — and
    * [[graft.plans.IvfTopKRewrite]] injects the nprobe cluster prune at
    * optimization time ([[graft.plans.IvfRegistry]] opt-in). The gate
    * EXECUTES the query while registered, then `require`s the injected
    * `cluster_id IN` filter in the optimized plan: if the rewrite ever
    * stops firing, this row errors instead of silently serving the exact
    * scan. Result equality with the explicit [[IvfIndex.search]] path is
    * pinned in Sq8Spec; approximate by construction → rows-only check,
    * like c8_ann_ivf. The 15-row collect is the serving envelope size
    * (SearchService does the same); registration is cleared before
    * returning so no other query's plan is ever touched.
    */
  val c8AnnRewrite = gate("c8_ann_rewrite", None) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (assigned, model) = IvfIndex.buildCached(s, s"$d#q0",
      e.where($"vec_id" =!= 0), "embedding", 16)
    graft.plans.IvfRegistry.register(model, nprobe = 4)
    try {
      val df = assigned
        .select($"vec_id",
          graft.functions.VectorFunctions.fastDot($"embedding", typedlit(q)).as("score"))
        .orderBy(desc("score"), $"vec_id")
        .limit(15)
      val fired = df.queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists {
            case org.apache.spark.sql.catalyst.expressions.In(a, _) =>
              a.references.exists(_.name == "cluster_id")
            case org.apache.spark.sql.catalyst.expressions.InSet(a, _) =>
              a.references.exists(_.name == "cluster_id")
            case _ => false
          }
        case _ => false
      }
      require(fired, "IvfTopKRewrite did not inject the nprobe cluster prune " +
        s"into:\n${df.queryExecution.optimizedPlan}")
      val rows = df.collect() // 15 rows — the serving envelope
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .select($"vec_id", round($"score", 6).as("score"))
        .orderBy(desc("score"), $"vec_id")
    } finally graft.plans.IvfRegistry.clear()
  }

  /** C7'' SQ8 scalar-quantized ANN (loader.js:332-334 IVF_SQ8's SQ8 half)
    * — approximate by construction → rows-only; error bound + recall
    * asserted in Sq8Spec. Fit + encode come from [[Sq8.fitEncodeCached]] —
    * a periodic job like the IVF and PQ builds, so the timed query is the
    * byte_dot search.
    */
  val c7Sq8Ann = gate("c7_sq8_ann",
      // SQ8 is KMeans-FREE — fit (per-dim min/max), encode (clamped affine
      // round; floor(x+0.5) mirrors JVM Math.round for the nonnegative
      // domain), and the byte_dot w=scale⊙q + bias score are all pure
      // functions of the data, so the "approximate" codec row is actually
      // ORACLE-CHECKABLE: approximate vs the float exact scan, bit-exact vs
      // this SQL replay of the quantized pipeline itself
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
        |u AS (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM v),
        |st AS (SELECT pos, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx FROM u GROUP BY pos),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |w AS (SELECT pos, mn, greatest((mx - mn) / 255.0, 1e-12) AS s,
        |    greatest((mx - mn) / 255.0, 1e-12) * (SELECT qv FROM q)[pos]::DOUBLE AS wq,
        |    mn * (SELECT qv FROM q)[pos]::DOUBLE AS bq FROM st),
        |b AS (SELECT list_sum(list(bq ORDER BY pos)) AS bias FROM w),
        |terms AS (SELECT u.vec_id, u.pos,
        |    least(255, greatest(0, CAST(floor((u.x::DOUBLE - w.mn) / w.s + 0.5) AS BIGINT))) * w.wq AS t
        |  FROM u JOIN w USING (pos)),
        |sco AS (SELECT vec_id, list_sum(list(t ORDER BY pos)) + (SELECT bias FROM b) AS score_raw
        |  FROM terms GROUP BY vec_id)
        |SELECT vec_id, round(score_raw, 6) AS score FROM sco
        |ORDER BY score_raw DESC, vec_id LIMIT 15""".stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (enc, model) = graft.operators.Sq8.fitEncodeCached(s, s"$d#sq8",
      e.where($"vec_id" =!= 0), "embedding")
    graft.operators.Sq8.searchTopK(enc, "codes", "vec_id", model, q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** C7''' PQ (product-quantized) ANN — the high-compression codec of
    * Milvus's IVF_PQ family (Jégou TPAMI'11; the reference's index family
    * at loader.js:332-334). m=8 byte codes per 64-dim vector (32×), ADC
    * scoring through the codegen'd byte_lut_sum kernel. Approximate by
    * construction → rows-only; ADC-exactness + recall asserted in PqSpec;
    * measured recall dumped by Verify into recall.json. Codebook fit +
    * encode come from [[Pq.fitEncodeCached]] — a periodic job, so the
    * timed query is the ADC search.
    */
  val c7PqAnn = gate("c7_pq_ann", None) { (s, d) =>
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val (enc, model) = Pq.fitEncodeCached(s, s"$d#pq",
      e.where($"vec_id" =!= 0), "embedding", m = 8, ksub = 16)
    Pq.searchTopK(enc, "pq_codes", "vec_id", model, q, 15)
      .select($"vec_id", round($"score", 6).as("score"))
  }

  /** V1 per-label embedding centroids (class prototypes / embedding-drift
    * baseline) via the native `vector_sum` TypedImperativeAggregate — ONE
    * double[dim] of state per label with map-side partial aggregation,
    * where the posexplode alternative shuffles dim× the corpus and needs a
    * second shuffle to re-assemble vectors.
    */
  val v1LabelCentroid = gate("v1_label_centroid",
      """WITH u AS (SELECT label,
        |    unnest(embedding) AS val,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings)
        |SELECT label, CAST(pos - 1 AS INT) AS dim,
        |  round(sum(val::DOUBLE) / count(*), 6) AS value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY label, pos ORDER BY label, dim""".stripMargin) { (s, d) =>
    import s.implicits._
    // centroid exploded to (label, dim, value) rows — the driver's oracle
    // harness tuple-sorts result frames and cannot hash array cells, so the
    // gate shape is scalar-per-row; the array form is one collect_list away
    Tables.embeddings(s, d)
      .groupBy($"label")
      .agg(call_function("vector_sum", $"embedding").as("vs"),
        count(lit(1)).as("n"))
      .select($"label", $"n",
        posexplode(transform($"vs", x => round(x / $"n", 6))))
      .select($"label", $"pos".as("dim"), $"col".as("value"), $"n")
      .orderBy($"label", $"dim")
  }
}
