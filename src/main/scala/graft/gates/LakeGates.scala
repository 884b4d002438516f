package graft
package gates

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

trait LakeGates extends GateFamily {
  /** M1 export-shard manifest — the artifact a training job consumes: a
    * deterministic md5-draw shard assignment (engine-portable, like the
    * [[Sampling]] draws) plus per-shard document count, token mass, and an
    * order-independent content fingerprint (bit_xor of per-doc 60-bit text
    * hashes — O(1) aggregate state; a concat-then-hash manifest would
    * collect a shard's docs into one task). Re-running the manifest months
    * later, on any engine, must reproduce it bit-for-bit — that is the
    * audit trail for "which data did this run train on".
    */
  val m1ShardManifest = gate("m1_shard_manifest",
      """SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  bit_xor(('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
    import s.implicits._
    val shard = expr(
      "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8")
    Tables.documents(s, d)
      .select(shard.as("shard"), $"text")
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens($"text")).cast("long")).as("n_tokens"),
        expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))").as("fp"))
      .orderBy($"shard")
  }

  // Range-clustered documents mirror + its file-stats manifest — the
  // layout + manifest are periodic jobs like the bucketed tables; the gate
  // times the PLANNED READ they pay for.
  private def ensureRangedDocs(s: SparkSession, d: String): (String, DataFrame) =
    Fixtures.staged(s, "ranged_docs", d, "documents.parquet") { out =>
      import s.implicits._
      Tables.documents(s, d)
        .repartitionByRange(8, $"doc_id").sortWithinPartitions($"doc_id")
        .write.mode("overwrite").parquet(out)
      // localCheckpoint: the manifest is tiny and re-read per planning call
      (out, graft.sources.ManifestIndex.build(s, out, "doc_id").localCheckpoint())
    }

  // the z-ordered mirror + its manifest, the m6 row's layout fixture
  private def ensureZOrderedDocs(s: SparkSession, d: String): (String, DataFrame) =
    Fixtures.staged(s, "zorder_docs", d, "documents.parquet") { out =>
      graft.sources.ZOrder.layout(
        Tables.documents(s, d), out, "doc_id", "n_chars", bits = 16, nFiles = 8)
      (out, graft.sources.ZOrder
        .buildManifest(s, out, "doc_id", "n_chars").localCheckpoint())
    }

  /** M5 — the Morton curve itself ([[graft.sources.ZOrder.zvalue]]),
    * value-checked: interleave (doc_id mod 1024, n_chars mod 1024) into a
    * 20-bit z-value per document. Pure codegen'd bit arithmetic — the
    * oracle replays the identical shift/mask fold in SQL, so hash equality
    * proves the curve both engines would lay files along.
    */
  val m5Zvalue = gate("m5_zvalue",
      // the same shift/mask interleave as the engine, folded over the bit
      // positions; disjoint OR terms sum without carries, so + replays |
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(0, 9), i ->
        |    ((((doc_id % 1024) >> i) & 1) << (2*i)) +
        |    ((((n_chars % 1024) >> i) & 1) << (2*i + 1))
        |  )) AS BIGINT) AS z
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        graft.sources.ZOrder.zvalue($"doc_id" % 1024, $"n_chars" % 1024,
          bits = 10).as("z"))
      .orderBy($"doc_id")
  }

  /** M6 — z-ordered box read ([[graft.sources.ZOrder.boxRead]]): m2's
    * manifest-planned file skipping on TWO dimensions at once. The lake is
    * rewritten clustered along the z-curve of (doc_id, n_chars) — each
    * file a contiguous curve segment — and a (doc_id, n_chars) box query
    * plans from the 2-D manifest and scans only intersecting files. The
    * oracle is the plain two-range predicate over the source, so hash
    * equality proves curve layout + manifest planning lose no rows;
    * ZOrderSpec pins that BOTH dimensions actually prune files (the
    * single-sort lake prunes only one).
    */
  val m6ZorderBox = gate("m6_zorder_box",
      // z-curve layout + 2-D manifest planning lose no rows vs the plain box
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 2600 AND n_chars BETWEEN 200 AND 400
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val (dir, manifest) = ensureZOrderedDocs(s, d)
    graft.sources.ZOrder
      .boxRead(s, dir, manifest, "doc_id", "n_chars",
        loA = 100L, hiA = 2600L, loB = 200L, hiB = 400L)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** M2 manifest-planned range read ([[graft.sources.ManifestIndex]]): a
    * doc_id range query served by consulting a per-file min/max manifest
    * and scanning ONLY the intersecting files of the range-clustered lake
    * — the Iceberg/Delta-style file skipping that beats even pushed
    * filters at 100 TB, where listing + footer reads dominate cold range
    * queries. The oracle is the plain predicate over the source table, so
    * hash-equality proves planning from stats loses no rows;
    * ManifestIndexSpec pins that the file list actually shrinks.
    */
  /** M3 — corpus snapshot diff ([[graft.operators.SnapshotDiff]]): the
    * audit between two lake versions. "After" is derived deterministically
    * from the source — doc_id%17==0 removed, doc_id%13==0 text-amended,
    * doc_id%19==0 re-added under an offset id — and the diff reports
    * exactly the added/removed/changed ids. Each side joins as (id,
    * md5 digest) projected at the scan; the one full-outer shuffle never
    * carries document bodies.
    */
  val m3CorpusDiff = gate("m3_corpus_diff",
      """WITH b AS (SELECT doc_id, md5(concat_ws(chr(31),
        |    CASE WHEN text IS NULL THEN '0' ELSE '1' || text END,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS h FROM documents),
        |a0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text, source
        |  FROM documents WHERE doc_id % 17 <> 0),
        |a1 AS (SELECT doc_id + 1000000 AS doc_id, text, source FROM documents WHERE doc_id % 19 = 0),
        |a AS (SELECT doc_id, md5(concat_ws(chr(31),
        |    CASE WHEN text IS NULL THEN '0' ELSE '1' || text END,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1' || source END)) AS h
        |  FROM (SELECT * FROM a0 UNION ALL SELECT * FROM a1)),
        |d AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN b.h <> a.h THEN 'changed' END AS status
        |  FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id)
        |SELECT doc_id, status FROM d WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val before = Tables.documents(s, d)
    val after = before.where($"doc_id" % 17 =!= 0)
      .withColumn("text",
        when($"doc_id" % 13 === 0, concat($"text", lit(" v2"))).otherwise($"text"))
      .unionByName(before.where($"doc_id" % 19 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000))
    graft.operators.SnapshotDiff
      .diff(before, after, "doc_id", Seq("text", "source"))
      .orderBy($"doc_id")
  }

  /** M4 — CDC changelog apply ([[graft.operators.CdcMerge]]): MERGE INTO
    * against the documents snapshot. Two deterministic batches exercise
    * every path — seq 1 deletes doc_id%23==0 and amends doc_id%11==0;
    * seq 2 re-inserts doc_id%46==0 (delete-then-insert lives), deletes
    * doc_id%33==0 (update-then-delete dies), and inserts brand-new keys
    * at doc_id%29==0 + 2e6. Within a batch the delete arm wins where arms
    * overlap, so (key, seq) stays unique and the oracle can replay
    * last-writer-wins with a plain seq-desc window. Scale shape: the
    * changelog reduces with a map-side max_by then broadcasts as a LEFT
    * ANTI join — the snapshot side never shuffles (CdcMergeSpec pins the
    * plan).
    */
  /** The m4/m7 two-batch changelog, derived from the snapshot itself so
    * the oracle replays the construction: batch 1 deletes %23, updates
    * %11; batch 2 re-inserts %46, deletes %33, inserts new keys %29+2e6.
    */
  private def cdcFixtureLog(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val nulls = lit(null).cast("string")
    val b1 = docs.where($"doc_id" % 23 === 0 || $"doc_id" % 11 === 0)
      .select($"doc_id", lit(1L).as("seq"),
        when($"doc_id" % 23 === 0, lit("D")).otherwise(lit("U")).as("op"),
        when($"doc_id" % 23 === 0, nulls)
          .otherwise(concat($"text", lit(" u1"))).as("text"),
        when($"doc_id" % 23 === 0, nulls).otherwise($"source").as("source"))
    val b2 = docs.where($"doc_id" % 46 === 0 || $"doc_id" % 33 === 0)
      .select($"doc_id", lit(2L).as("seq"),
        when($"doc_id" % 46 === 0, lit("I")).otherwise(lit("D")).as("op"),
        when($"doc_id" % 46 === 0, concat($"text", lit(" back")))
          .otherwise(nulls).as("text"),
        when($"doc_id" % 46 === 0, $"source").otherwise(nulls).as("source"))
    val ins = docs.where($"doc_id" % 29 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), lit(2L).as("seq"),
        lit("I").as("op"), concat($"text", lit(" new")).as("text"), $"source")
    b1.unionByName(b2).unionByName(ins)
  }

  val m4CdcApply = gate("m4_cdc_apply",
      // the changelog construction replayed, then last-writer-wins as a
      // seq-desc window ((key, seq) is unique by the batch arms' priorities),
      // then anti-join + union — the same merge shape as the engine
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 1, 'U', text || ' u1', source
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 23 <> 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'I', text || ' back', source
        |  FROM documents WHERE doc_id % 46 = 0
        |  UNION ALL
        |  SELECT doc_id, 2, 'D', NULL, NULL
        |  FROM documents WHERE doc_id % 33 = 0 AND doc_id % 46 <> 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 2, 'I', text || ' new', source
        |  FROM documents WHERE doc_id % 29 = 0),
        |lat AS (SELECT doc_id, op, text, source FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |  FROM ch) WHERE rn = 1),
        |keep AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  LEFT JOIN lat ON d.doc_id = lat.doc_id WHERE lat.doc_id IS NULL),
        |ups AS (SELECT doc_id, text, source FROM lat WHERE op <> 'D')
        |SELECT doc_id, text, source
        |FROM (SELECT * FROM keep UNION ALL SELECT * FROM ups)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    graft.operators.CdcMerge
      .apply(docs, cdcFixtureLog(docs), "doc_id", "seq", "op",
        Seq("text", "source"))
      .orderBy($"doc_id")
  }

  /** M7 time travel — the lake "as of" sequence 1: [[m4CdcApply]]'s merge
    * with the log truncated to the first batch (`CdcMerge.readMerged`'s
    * `asOfSeq` plan — the cutoff filters the changelog scan, the snapshot
    * side is untouched). Batch 2's re-inserts, deletes, and new keys must
    * all be invisible; the oracle replays the seq≤1 state independently.
    */
  val m7TimeTravel = gate("m7_time_travel",
      // the seq<=1 prefix of m4's changelog: batch 1 is one row per key, so
      // last-writer-wins is the batch itself — batch 2 must be invisible
      """WITH lat AS (
        |  SELECT doc_id, 'D' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 'U', text || ' u1', source
        |  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 23 <> 0),
        |keep AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  LEFT JOIN lat ON d.doc_id = lat.doc_id WHERE lat.doc_id IS NULL),
        |ups AS (SELECT doc_id, text, source FROM lat WHERE op <> 'D')
        |SELECT doc_id, text, source
        |FROM (SELECT * FROM keep UNION ALL SELECT * FROM ups)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text", $"source")
    graft.operators.CdcMerge
      .apply(docs, cdcFixtureLog(docs).where($"seq" <= 1L),
        "doc_id", "seq", "op", Seq("text", "source"))
      .orderBy($"doc_id")
  }

  val m2ManifestRange = gate("m2_manifest_range",
      // manifest-planned file skipping loses no rows vs the plain predicate
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 100 AND 260 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val (dir, manifest) = ensureRangedDocs(s, d)
    graft.sources.ManifestIndex.rangeRead(s, dir, manifest, "doc_id", 100L, 260L)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }
}
