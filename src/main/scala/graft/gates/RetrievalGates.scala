package graft
package gates

import graft.operators.{AnnSearch, IvfIndex, VectorMetric}
import org.apache.spark.sql.{DataFrame, SparkSession}

trait RetrievalGates extends GateFamily { this: IngestVectorGates =>
  /** The r-family's chunk+embed stage — [[graft.operators.ChunkEmbed]]
    * at its defaults (t9's L=50/S=40 windows, dim=64 feature-hashed
    * bag-of-words). Apply AFTER the branch's doc filter so the predicate
    * reaches the parquet scan.
    */
  private def hashedChunkEmb(df: DataFrame): DataFrame =
    graft.operators.ChunkEmbed.embed(df)

  /** R1 — retrieval-corpus build + search composed end to end: the
    * [[hashedChunkEmb]] corpus served through [[AnnSearch.batchTopK]]
    * (cosine, k=5) with the first three documents' chunks as the query
    * batch — the RAG build-and-retrieve loop as ONE driver-checked plan
    * (the DuckDB oracle replays chunking, hashing, embedding, and the
    * batched heap order end to end).
    */
  val r1RetrievalTopK = gate("r1_retrieval_topk",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 40)) AS s FROM toks WHERE len(w) > 0),
        |ch AS (SELECT doc_id * 100000 + CAST(s / 40 AS BIGINT) AS cid,
        |  w[s + 1 : least(s + 50, len(w))] AS ct FROM st),
        |tok AS (SELECT cid, unnest(ct) AS t FROM ch),
        |bs AS (SELECT cid, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT cid, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT cid, b, sum(sgn) AS v FROM bs GROUP BY cid, b),
        |grid AS (SELECT c.cid, r.j FROM (SELECT DISTINCT cid FROM ch) c
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.cid, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.cid = g.cid AND s.b = g.j GROUP BY g.cid),
        |en AS (SELECT cid, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm FROM emb),
        |sc AS (SELECT q.cid AS qid, b.cid,
        |  CASE WHEN b.nrm > 0 AND q.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(b.e, q.e), x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE
        |      / (b.nrm * q.nrm)
        |  ELSE 0.0 END AS score
        |  FROM (SELECT * FROM en WHERE cid >= 300000) b
        |  CROSS JOIN (SELECT * FROM en WHERE cid < 300000) q),
        |r AS (SELECT qid, cid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, cid) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, cid FROM r WHERE rank < 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val queries = hashedChunkEmb(docs.where($"doc_id" < 3))
      .select($"cid".as("qid"), $"emb")
    // spread the freshly-built corpus before the broadcast scoring
    // product: AQE coalesces the embed aggregate to ONE partition
    // (embedding-sized map bytes) and the |chunks|×|queries| scoring ran
    // serially (a measured 1.3–2.2 s single-task stage, r19); the serving
    // path's cached index keeps batchTopK exchange-free, so the spread
    // belongs at this build-side call, not in the operator
    AnnSearch.batchTopK(
      operators.Spread.byCols(
        hashedChunkEmb(docs.where($"doc_id" >= 3)), Seq($"cid")),
      "emb", "cid", queries, "qid", "emb", 5, VectorMetric.Cosine)
  }

  /** R2 — r1's retrieval corpus served through the BATCHED IVF path
    * ([[AnnSearch.batchTopKIvf]]): the hashed chunk embeddings are
    * axis-block-assigned (the deterministic 8-cluster model over the
    * derived dim=64 space), every query chunk ranks the centroids
    * in-plan under cosine, and the probe set equi-joins the assigned
    * chunk lake — the scaled form of chunked retrieval, end-to-end from
    * raw text to pruned top-k under one oracle. nprobe=3 of nlist=8: the
    * oracle replays the probe restriction exactly, so this row
    * value-checks that the PRUNED result is what pruning says it is (not
    * that it equals r1's exact scan — IVF is approximate by design).
    */
  val r2RetrievalIvf = gate("r2_retrieval_ivf",
      // r2 replays r1's embedding CTEs, then the IVF machinery in SQL. The
      // axis-block centroids share one norm (sqrt 8), so the engine's cosine
      // centroid rank c·q/‖c‖ orders — and ties — exactly like the raw block
      // sum: the probe window needs no norm division.
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 1, 40)) AS s FROM toks WHERE len(w) > 0),
        |ch AS (SELECT doc_id * 100000 + CAST(s / 40 AS BIGINT) AS cid,
        |  w[s + 1 : least(s + 50, len(w))] AS ct FROM st),
        |tok AS (SELECT cid, unnest(ct) AS t FROM ch),
        |bsg AS (SELECT cid, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT cid, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT cid, b, sum(sgn) AS v FROM bsg GROUP BY cid, b),
        |grid AS (SELECT c.cid, r.j FROM (SELECT DISTINCT cid FROM ch) c
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.cid, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.cid = g.cid AND s.b = g.j GROUP BY g.cid),
        |en AS (SELECT cid, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm,
        |  [list_sum(list_transform(e[1:8], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[9:16], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[17:24], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[25:32], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[33:40], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[41:48], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[49:56], x -> x::DOUBLE)),
        |   list_sum(list_transform(e[57:64], x -> x::DOUBLE))] AS s FROM emb),
        |pr AS (SELECT qid, cl FROM (
        |  SELECT cid AS qid, CAST(block AS INT) AS cl,
        |    row_number() OVER (PARTITION BY cid ORDER BY bs DESC, block ASC) AS rk
        |  FROM (SELECT cid, unnest(s) AS bs, unnest(generate_series(0, 7)) AS block
        |        FROM en WHERE cid < 300000))
        |  WHERE rk <= 3),
        |cl AS (SELECT cid, e, nrm, CAST(list_indexof(s, list_max(s)) - 1 AS INT) AS cluster
        |  FROM en WHERE cid >= 300000),
        |sc AS (SELECT pr.qid, c.cid,
        |  CASE WHEN c.nrm > 0 AND q.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(c.e, q.e),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (c.nrm * q.nrm)
        |  ELSE 0.0 END AS score
        |  FROM cl c JOIN pr ON c.cluster = pr.cl JOIN en q ON q.cid = pr.qid),
        |r AS (SELECT qid, cid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, cid) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, cid FROM r WHERE rank < 5 ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val model = axisBlockIvfModel(64)
    val docs = Tables.documents(s, d)
    val indexed = IvfIndex.assign(
      hashedChunkEmb(docs.where($"doc_id" >= 3)), "emb", model)
    val queries = hashedChunkEmb(docs.where($"doc_id" < 3))
      .select($"cid".as("qid"), $"emb")
    AnnSearch.batchTopKIvf(indexed, model, "emb", "cid", "cluster_id",
      queries, "qid", "emb", 5, nprobe = 3, VectorMetric.Cosine)
  }

  /** R3 — BM25 keyword retrieval ([[graft.operators.Bm25.topK]]): the
    * sparse half of the retrieval surface beside r1/r2's dense path. The
    * first three documents query the rest of the corpus; top-10 by the
    * full BM25 formula (k1=1.2, b=0.75, Lucene idf), scored through the
    * inverted-index equi-join and the term-ordered sequential fold, so
    * the oracle replays every step including the 1e-6 rounding grain and
    * the (score DESC, id) tie-break.
    */
  val r3Bm25TopK = gate("r3_bm25_topk",
      // BM25 replayed step by step: postings/df/length stats, Lucene idf,
      // the (1.2+1.0) sum left unfolded so both engines round it identically,
      // the tfn quotient parenthesized exactly like the engine's column tree,
      // term-ordered sequential fold, 1e-6 rounding, (score DESC, id) window
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id >= 3),
        |q AS (SELECT doc_id AS qid, string_split(text, ' ') AS w FROM documents WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, doc_id, score FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" >= 3).select($"doc_id", $"text")
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    graft.api.CorpusRecipe(corpus)
      .bm25TopK(q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  // Persisted BM25 store fixture, "yesterday" fit+saved, "today" appendStore'd — the periodic
  // jobs a durable index pays for; the r5 gate row times the PLANNED
  // PROBE over the at-rest artifact (pushed In(term) lake scan).
  private def ensureBm25Store(s: SparkSession, d: String): String =
    Fixtures.staged(s, "bm25_store", d, "documents.parquet") { dir =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val old = docs.where($"doc_id" >= 3 && $"doc_id" % 5 =!= 0)
        .select($"doc_id", $"text")
      val delta = docs.where($"doc_id" >= 3 && $"doc_id" % 5 === 0)
        .select($"doc_id", $"text")
      graft.operators.Bm25.save(
        graft.operators.Bm25.fit(old, "doc_id", "text"), dir)
      graft.operators.Bm25.appendStore(s, dir, delta, "text")
      // the post-append maintenance job runs too, so the gate row probes
      // the COMPACTED lake — save → append → compact → load → search all
      // under r3's oracle verbatim (the e2i trick, zero new oracle risk)
      graft.operators.Bm25.compactStore(s, dir)
      dir
    }

  /** R5 — incremental BM25 index maintenance under r3's oracle, on the
    * PERSISTED artifact: the corpus splits into a "yesterday" lake
    * (fit + [[graft.operators.Bm25.save]]) and a "today" delta
    * ([[graft.operators.Bm25.appendStore]] — delta-sized parquet append
    * to the postings lake, swap-rewritten dictionary + stats), and the
    * search over the loaded MERGED store must hash-match the
    * full-recompute oracle. df/dl/n are integer-exact, so the merged
    * store is value-identical to fit-over-union — this row is the e2i of
    * the retrieval family, and its probe scans the at-rest lake through
    * the pushed `In(term)` filter (PlanAuditSpec pins the plan shape).
    */
  val r5Bm25Incremental = gate("r5_bm25_incremental",
      // r3's oracle VERBATIM: the engine path is fit(yesterday) +
      // append(today) + searchIndex, and the merged index must answer
      // exactly like the full recompute this SQL performs
      r3Bm25TopK.oracle) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    val ix = graft.operators.Bm25.load(s, ensureBm25Store(s, d))
    graft.operators.Bm25.searchIndex(ix, q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  // Tombstoned-store fixture: the FULL corpus fit+saved (the nightly
  // job), then every doc_id ≡ 3 (mod 7) deleted via tombstoneStore (the
  // correction job) — postings lake untouched, dfs/stats decremented,
  // ids in tombstones/.
  private def ensureBm25DeleteStore(s: SparkSession, d: String): String =
    Fixtures.staged(s, "bm25_del", d, "documents.parquet") { dir =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      graft.operators.Bm25.save(
        graft.operators.Bm25.fit(
          docs.where($"doc_id" >= 3).select($"doc_id", $"text"),
          "doc_id", "text"), dir)
      graft.operators.Bm25.tombstoneStore(s, dir,
        docs.where($"doc_id" >= 3 && $"doc_id" % 7 === 3).select($"doc_id"))
      dir
    }

  /** R6 — BM25 document DELETION under the corrected-corpus oracle: the
    * store was fit over the FULL corpus, then [[graft.operators.Bm25
    * .tombstoneStore]] removed every doc_id ≡ 3 (mod 7) — a delta-sized
    * correction (dictionary/stats decrement + a tombstone set; the
    * postings lake is untouched until compaction) — and the probe over
    * the loaded store must hash-match a full refit on the corpus WITHOUT
    * those documents (r3's oracle with the deletion folded into its
    * corpus filter). This is the path a 100 TB corpus takes for
    * takedowns/corrections instead of a week-long refit.
    */
  val r6Bm25Delete = gate("r6_bm25_delete",
      // r3's oracle with the deletion folded into the corpus filter: the
      // engine path is fit(full) + tombstoneStore(doc_id ≡ 3 mod 7) +
      // searchIndex over the loaded store, and the tombstoned store must
      // answer exactly like a full refit on the corrected corpus
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id >= 3 AND doc_id % 7 <> 3),
        |q AS (SELECT doc_id AS qid, string_split(text, ' ') AS w FROM documents WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM sc)
        |SELECT qid, rank, doc_id, score FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    val ix = graft.operators.Bm25.load(s, ensureBm25DeleteStore(s, d))
    graft.operators.Bm25.searchIndex(ix, q, "qid", "text", 10)
      .orderBy($"qid", $"rank")
  }

  /** R4 — hybrid retrieval: [[r3Bm25TopK]]'s sparse ranks fused with the
    * dense hashed-embedding ranks (document-grain [[graft.operators
    * .ChunkEmbed.docEmbed]] served through `batchTopK` cosine) by
    * reciprocal-rank fusion ([[graft.operators.Bm25.rrf]], c=60) — the
    * production retrieval shape: keyword match and embedding similarity
    * each contribute 1/(60+rank+1) and the fused top-10 is what serves.
    * Both rankers' top-20 lists and the fusion replay exactly in SQL.
    */
  val r4HybridRrf = gate("r4_hybrid_rrf",
      // r3's sparse CTEs (top-20) + the sd2-style doc-grain embedding CTEs
      // under r1's cosine/heap-order window (top-20), fused by RRF: each
      // ranker contributes 1/(60+rank+1), summed in ranker order
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |corpus AS (SELECT doc_id, w FROM toks WHERE doc_id >= 3),
        |q AS (SELECT doc_id AS qid, w FROM toks WHERE doc_id < 3),
        |post AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM corpus) GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(w) AS dl FROM corpus),
        |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(len(w))::DOUBLE / count(*) AS avgdl FROM corpus),
        |qt AS (SELECT DISTINCT qid, term FROM (SELECT qid, unnest(w) AS term FROM q)),
        |cand AS (SELECT qt.qid, p.doc_id, p.term,
        |  ln(1.0 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5)) *
        |    ((p.tf * (1.2 + 1.0)) / (p.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) AS c
        |  FROM qt JOIN post p ON qt.term = p.term
        |  JOIN dfs ON p.term = dfs.term
        |  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN st),
        |ssc AS (SELECT qid, doc_id, round(list_sum(list(c ORDER BY term)), 6) AS score
        |  FROM cand GROUP BY qid, doc_id),
        |sr AS (SELECT qid, doc_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM ssc),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
        |bsg AS (SELECT doc_id, hv % 64 AS b,
        |  CASE WHEN (hv // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok)),
        |sums AS (SELECT doc_id, b, sum(sgn) AS v FROM bsg GROUP BY doc_id, b),
        |grid AS (SELECT d.doc_id, r.j FROM (SELECT DISTINCT doc_id FROM tok) d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) r),
        |emb AS (SELECT g.doc_id, list(coalesce(s.v, 0.0) ORDER BY g.j) AS e
        |  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.j GROUP BY g.doc_id),
        |en AS (SELECT doc_id, e,
        |  sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE))::DOUBLE) AS nrm FROM emb),
        |dsc AS (SELECT qv.doc_id AS qid, b.doc_id,
        |  CASE WHEN b.nrm > 0 AND qv.nrm > 0 THEN
        |    list_sum(list_transform(list_zip(b.e, qv.e),
        |      x -> x[1]::DOUBLE * x[2]::DOUBLE))::DOUBLE / (b.nrm * qv.nrm)
        |  ELSE 0.0 END AS score
        |  FROM (SELECT * FROM en WHERE doc_id >= 3) b
        |  CROSS JOIN (SELECT * FROM en WHERE doc_id < 3) qv),
        |dr AS (SELECT qid, doc_id, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id) - 1 AS BIGINT) AS rank FROM dsc),
        |u AS (SELECT qid, doc_id, 0 AS src, 1.0 / (60 + rank + 1.0) AS c FROM sr WHERE rank < 20
        |  UNION ALL
        |  SELECT qid, doc_id, 1, 1.0 / (60 + rank + 1.0) FROM dr WHERE rank < 20),
        |f AS (SELECT qid, doc_id, list_sum(list(c ORDER BY src)) AS rrf FROM u GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, rrf, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) - 1 AS BIGINT) AS rank FROM f)
        |SELECT qid, rank, doc_id, rrf FROM r WHERE rank < 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" >= 3).select($"doc_id", $"text")
    val q = docs.where($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    graft.api.CorpusRecipe(corpus)
      .hybridTopK(q, "qid", "text", k = 10, fetchK = 20)
      .orderBy($"qid", $"rank")
  }
}
