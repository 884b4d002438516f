package graft

import graft.operators.{AnnSearch, IvfIndex, VectorMetric}
import org.apache.spark.sql.functions._

/** Scaling datapoints past the gate SF (VERDICT r11 #5): every 100 TB
  * claim in SURVEY rests on plan SHAPE audited at ≤ 0.1 SF — this measures
  * the heaviest bench rows at a 10× corpus, the CAPPED rows again at a
  * 100× corpus (two decades: a growth exponent, not just one ratio), and
  * the ANN serve path (exact scan vs partition-pruned IVF probe) across
  * three decades of embedding count. Results land in `scaling.json`,
  * which [[Bench]] embeds into bench_detail.json under the `scaling` key
  * — a 100× pass inside the driver's per-round bench budget would blow
  * it, so this is run manually (`runMain graft.ScalingBench`).
  *
  * Corpus construction: 10 deterministic copies of the sf0.1 documents
  * table. Copy `i` offsets `doc_id` by `i·10⁸` and suffixes every token
  * with `_r{i}` — the token sets (and therefore shingle sets) of different
  * copies are DISJOINT, so each copy carries the original's full
  * near-duplicate structure without manufacturing cross-copy duplicates:
  * pair counts, candidate volumes and cluster counts all scale ×10, the
  * "10 independent shards" model of a 10× corpus. (A plain replication
  * would make every copy an exact token-set duplicate of its source —
  * documents draw from a 31-token vocabulary — and pair output would grow
  * ×100 by construction of the test data, not by any engine property.)
  *
  * Interpretation guide, from the sf0.1 plan audits: e2/e8/p3 are
  * row-local scans + capped-bucket shuffles → expect ≈ linear. e4/e4d are
  * salted inverted indexes whose candidate volume is Σ_t df_t·smallCap →
  * linear in df once tokens are past the salt threshold (every token is,
  * at both SFs, on this vocabulary). Super-linear growth on any row is a
  * finding, not noise — it means a stage the audit called bounded is not.
  */
object ScalingBench {

  private val Offset = 100000000L

  private def deleteDir(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(java.nio.file.Files.delete(_))

  /** Materialize `copies`× the source documents table under `outDir`
    * (idempotent via a `_done` marker; deterministic bytes).
    */
  private[graft] def ensureScaled(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, outDir: String, copies: Int): String = {
    val root = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.exists(root.resolve("_done"))) {
      deleteDir(root)
      java.nio.file.Files.createDirectories(root)
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      // the "disjoint shards" construction rests on id-offsetting: a source
      // id at or above Offset would collide across copies and silently
      // corrupt the scaling ratios (ADVICE r12) — one cheap agg guards it
      val bounds = docs.agg(
        min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head
      require(!bounds.isNullAt(1) && bounds.getLong(1) < Offset && bounds.getLong(0) >= 0L,
        s"ensureScaled needs doc_id in [0, $Offset) for disjoint copies; " +
          s"source has [${bounds.get(0)}, ${bounds.get(1)}]")
      val reps = (0 until copies).map { i =>
        if (i == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(i * Offset))
          .withColumn("text",
            expr(s"array_join(transform(split(text, ' '), w -> concat(w, '_r$i')), ' ')"))
      }
      reps.reduce(_.unionByName(_)).repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      java.nio.file.Files.createFile(root.resolve("_done"))
    }
    outDir
  }

  /** [[ensureScaled]] for LARGE copy counts: identical row semantics
    * (offset ids, `_r{i}` token suffixes, copy 0 verbatim) built with
    * `crossJoin(range(copies))` — a 1000-way union would blow the
    * analyzer, the crossJoin keeps the plan one node wide (lesson from
    * the embeddings fixture below).
    */
  private[graft] def ensureScaledX(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, outDir: String, copies: Int): String = {
    val root = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.exists(root.resolve("_done"))) {
      deleteDir(root)
      java.nio.file.Files.createDirectories(root)
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      val bounds = docs.agg(
        min(col("doc_id")).cast("long"), max(col("doc_id")).cast("long")).head
      require(!bounds.isNullAt(1) && bounds.getLong(1) < Offset && bounds.getLong(0) >= 0L,
        s"ensureScaledX needs doc_id in [0, $Offset) for disjoint copies; " +
          s"source has [${bounds.get(0)}, ${bounds.get(1)}]")
      docs.crossJoin(spark.range(copies.toLong).select(col("id").as("__copy")))
        .select(
          (col("doc_id") + col("__copy") * lit(Offset)).as("doc_id"),
          when(col("__copy") === 0, col("text")).otherwise(
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit("_r"), col("__copy").cast("string"))), " "))
            .as("text"))
        .repartition(128)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      java.nio.file.Files.createFile(root.resolve("_done"))
    }
    outDir
  }

  /** Materialize `copies`× the embeddings table under `outDir`, in BOTH
    * the plain lake layout (`embeddings.parquet`) and the IVF layout
    * (`ivf/`, partitioned by `cluster_id` under the deterministic
    * axis-block model) — the serve-path scaling fixture. Copies repeat
    * the source VECTORS verbatim with offset ids: identical bytes change
    * nothing about scan or probe COST, which is the measured quantity
    * here (recall semantics live on the clustered RecallSpec fixture,
    * not this one). `crossJoin(range(copies))` keeps the plan one node
    * wide at any copy count — a 1000-way union would not.
    */
  private[graft] def ensureScaledEmb(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, outDir: String, copies: Int): String = {
    val root = java.nio.file.Paths.get(outDir)
    if (!java.nio.file.Files.exists(root.resolve("_done"))) {
      deleteDir(root)
      java.nio.file.Files.createDirectories(root)
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val bounds = emb.agg(
        min(col("vec_id")).cast("long"), max(col("vec_id")).cast("long")).head
      require(!bounds.isNullAt(1) && bounds.getLong(1) < Offset && bounds.getLong(0) >= 0L,
        s"ensureScaledEmb needs vec_id in [0, $Offset) for disjoint copies; " +
          s"source has [${bounds.get(0)}, ${bounds.get(1)}]")
      val scaled = emb
        .crossJoin(spark.range(copies.toLong).select(col("id").as("__copy")))
        .select((col("vec_id") + col("__copy") * lit(Offset)).as("vec_id"),
          col("embedding"))
        .repartition(32)
      scaled.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val model = Queries.axisBlockIvfModel(dim)
      // the assignment is the periodic index-build job's cost, paid here
      // at fixture-build time — the timed probe reads the layout only
      IvfIndex.write(
        IvfIndex.assign(
          spark.read.parquet(s"$outDir/embeddings.parquet"), "embedding", model),
        s"$outDir/ivf")
      java.nio.file.Files.createFile(root.resolve("_done"))
    }
    outDir
  }

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    import com.fasterxml.jackson.databind.node.ObjectNode
    // already-recorded datapoints are kept verbatim (re-running the
    // 8-minute e4d to add one row would be pure waste); delete
    // scaling.json to re-measure from scratch
    val prior: Option[com.fasterxml.jackson.databind.JsonNode] = try {
      val p = java.nio.file.Paths.get("scaling.json")
      if (java.nio.file.Files.exists(p))
        Some(om.readTree(java.nio.file.Files.readAllBytes(p)))
      else None
    } catch { case _: Throwable => None }
    def keptQuery(n: String): Option[ObjectNode] =
      prior.flatMap(p => Option(p.get("queries"))).flatMap(q => Option(q.get(n)))
        .collect { case o: ObjectNode => o.deepCopy() }

    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      Bench.materialize(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    def r2(d: Double): Double = math.rint(d * 100) / 100
    def r3(d: Double): Double = math.rint(d * 1000) / 1000

    val sf1 = ensureScaled(spark, sf01, "target/scaling/sf1.0", copies = 10)
    val sf10 = ensureScaled(spark, sf01, "target/scaling/sf10", copies = 100)
    // e4c rides along as e4d's capped twin: the SAME Zipf corpus where
    // e4d's full index pays the head-token O(df²) (measured 51× at 10×),
    // the prefix-filter caps are the scale path — the pair is the measured
    // form of SURVEY's capped-vs-uncapped contrast
    // m4/u2 joined in round 14: the CDC merge's claim is that only the
    // changelog shuffles (wall should track the snapshot scan ≈ linearly);
    // u2's is one hash shuffle on the QI key. r3: the BM25 index build
    // (postings + df groupBys) is the linear part; the copies are
    // token-disjoint so the copy-0 queries probe a CONSTANT posting set —
    // wall tracking the build, not the corpus×query product, is the claim
    // f1/r2 joined in round 15 (VERDICT r14 #3): f1's claim is q-gram
    // blocking + the Gravano count filter keep candidates linear in the
    // probe (doc-grain) side — `source` repeats verbatim across copies so
    // the build side stays CONSTANT while candidates grow with the corpus;
    // r2's is the dense-retrieval pipeline (chunk → hash-embed → IVF
    // assign → pruned probe) is scan-shaped end to end — the copy-0 query
    // chunks probe a constant nprobe fraction, so wall tracks the
    // embed+assign, never corpus×queries
    // t21 joined in round 16: the trigram LM's claim is that the model IS
    // its count tables — fit is three map-side-combined aggregations and
    // score five equi-joins against them, all corpus-scaled and scan-
    // shaped, so wall should track the corpus ≈ linearly with no
    // super-linear term anywhere (the copies are token-disjoint, so the
    // count tables grow linearly while per-position join fan-out stays 1)
    // x4 joined in round 16: the training-sequence materialization's
    // claim is that packing is scan-shaped — the tokenize leg is
    // vocabulary-sized (distinct words segment once), the manifest's
    // prefix sum and the chunk groupBy are one pass each over doc/chunk
    // grains, so wall should track the corpus ≈ linearly
    // r17 additions: t30 is the absolute-discounting VIEW (7 joins + two
    // type-count aggs over the same count tables — claim: linear like
    // t21); t28 is the unigram E-step (distinct words scale with the
    // token-disjoint copies, so the vocabulary-collapsed claim shows as
    // linear wall); t29 is the full EM fit (vocabulary-scaled driver
    // loop — one decade bounds it, the loop count grows with log of the
    // seed size)
    // r18: t29b (chained quantized EM — vocabulary-collapsed like t28),
    // t29c (one prune on top — driver loop over the vocabulary only) and
    // t33 (sampled export — scan-shaped like t32/x4) join the ladder;
    // t29's entry was deleted from scaling.json for this run so the fit
    // re-measures under the r18 exact-DECIMAL E-step aggregation (O(1)
    // per-group state replacing the collect_list word arrays)
    // r19: t29d (the FULL quantized trainer — seed + floored EM + prune
    // loop) joins both decades; like t29b its per-round aggregation state
    // is vocabulary-collapsed, so wall should stay near-flat as the
    // token-disjoint copies grow the corpus but not the template vocab
    import Queries._
    val names10 = Seq(e2MinhashPairs, e4JaccardPairs, e4cJaccardZipf,
      e4dJaccardZipfExact, e8DedupCluster, p3CorpusRecipe, m4CdcApply,
      u2KAnonymity, r3Bm25TopK, f1FuzzyJoin, r2RetrievalIvf, t12BpePairs,
      t21NgramLm, x4PackTokenIds, t30NgramAbsDiscount, t28UnigramEstep,
      t29UnigramFit, t29bUnigramEm2, t29cUnigramPrune, t29dUnigramQuantFit,
      t33UnigramSampledIds).map(_.name)
    // c7b (QuantKmeans) is NOT in the ladder: the copies fixture carries
    // only the document-side tables, and the index family's decade story
    // is already owned by the ann/ivf_maintenance sections (build grows
    // linearly, append/probe flat) — c7b's per-iteration work is the
    // same assignment scan those sections measure
    // second decade, CAPPED rows only: these are the designated 100 TB
    // plans, and two decades turn one ratio into a growth exponent.
    // e4/e4d stay at one decade on purpose — e4d is the documented
    // uncapped CONTRAST row (39× at 10×; a 100× run is hours of measuring
    // a plan SURVEY already calls unscalable), and e4's uncapped-df salted
    // index is superseded by e4c's prefix caps as the Zipf scale path.
    val names100 = Set(e2MinhashPairs, e4cJaccardZipf, e8DedupCluster,
      p3CorpusRecipe, m4CdcApply, u2KAnonymity, r3Bm25TopK, f1FuzzyJoin,
      r2RetrievalIvf, t12BpePairs, t21NgramLm, x4PackTokenIds,
      t30NgramAbsDiscount, t28UnigramEstep, t29bUnigramEm2,
      t29dUnigramQuantFit, t33UnigramSampledIds).map(_.name)
    // build the ANN fixtures BEFORE the steal window opens (r13
    // self-review #2): the emb10000 build writes ~16 GB of parquet, and a
    // steal count spanning fixture IO can no longer flag a
    // steal-contaminated MEASUREMENT — the one thing the field is for
    val annScales = Seq(1, 10, 100, 1000, 10000)
    // ...but only when a section that reads them (ann, ivf_maintenance)
    // is actually going to be measured: the emb10000 fixture alone is
    // ~16 GB of parquet, and a run that re-measures nothing emb-backed
    // (every section kept from scaling.json) would otherwise rebuild the
    // whole ladder just to skip it
    val embSectionsKept = Seq("ann", "ivf_maintenance")
      .forall(s => prior.flatMap(p => Option(p.get(s))).isDefined)
    if (!embSectionsKept)
      annScales.foreach(c =>
        ensureScaledEmb(spark, sf01, s"target/scaling/emb$c", c))

    val steal0 = Bench.stealTicks()
    val queries = om.createObjectNode()
    names10.foreach { n =>
      val kept0 = keptQuery(n)
      val node = kept0 match {
        case Some(o) =>
          println(s"[scaling] $n: 10x kept from existing scaling.json")
          o
        case None =>
          run(n, sf01) // warm: JIT + codegen, same discipline as Bench
          val t01 = (0 until 2).map(_ => run(n, sf01)).min
          System.gc() // enter the 10× run clean (Bench.reclaim discipline)
          // min-of-2 on the scaled side too (r12 self-review): a single
          // run is hostage to this host's steal storms, and a
          // storm-inflated numerator would read as phantom super-linear
          // growth — the exact misreading the guide warns against
          val t1 = (0 until 2).map(_ => run(n, sf1)).min
          println(f"[scaling] $n: sf0.1 ${t01}%.2f s -> 10x ${t1}%.2f s (ratio ${t1 / t01}%.2f)")
          val o = om.createObjectNode()
          o.put("sf01_s", r2(t01)); o.put("sf1_s", r2(t1)); o.put("ratio", r2(t1 / t01))
          o
      }
      if (names100.contains(n) && !node.has("sf10_s")) {
        // only the kept branch arrives with a cold plan; a fresh
        // measurement just warmed and timed this query at sf0.1
        if (kept0.isDefined) run(n, sf01)
        System.gc()
        val t10 = (0 until 2).map(_ => run(n, sf10)).min
        val t01 = node.get("sf01_s").asDouble()
        println(f"[scaling] $n: 100x ${t10}%.2f s (ratio100 ${t10 / t01}%.2f)")
        node.put("sf10_s", r2(t10)); node.put("ratio100", r2(t10 / t01))
      }
      queries.set[ObjectNode](n, node)
    }

    // ANN serve path across three decades: the same query, exact scan of
    // the plain lake vs nprobe/nlist partition-pruned probe of the IVF
    // layout. The claim under test is the 100 TB serving story itself —
    // scan wall grows with the corpus, probe wall grows only with the
    // probed fraction (plus the constant job floor that dominates both at
    // the small end).
    val ann = prior.flatMap(p => Option(p.get("ann")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        val q = spark.read.parquet(s"$sf01/embeddings.parquet")
          .where(col("vec_id") === 0).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble)
        val model = Queries.axisBlockIvfModel(q.length)
        val nprobe = 2
        val ranked = IvfIndex.rankCentroids(model, q, VectorMetric.Ip, nprobe)
          .toIndexedSeq
        val o = om.createObjectNode()
        o.put("nlist", model.centroids.length); o.put("nprobe", nprobe)
        o.put("dim", q.length)
        val pts = o.putArray("points")
        // four decades: the last point (20M vectors, ~8 GB) is where scan
        // cost finally clears the local job floor and the scan-vs-probe
        // separation becomes unambiguous
        annScales.foreach { c =>
          val dir = ensureScaledEmb(spark, sf01, s"target/scaling/emb$c", c)
          val plain = spark.read.parquet(s"$dir/embeddings.parquet")
          val lake = spark.read.parquet(s"$dir/ivf")
          val rows = plain.count()
          def time(df: => org.apache.spark.sql.DataFrame): Double = {
            val t0 = System.nanoTime()
            Bench.materialize(df)
            (System.nanoTime() - t0) / 1e9
          }
          def exact() = AnnSearch.exactTopK(plain, "embedding", "vec_id", q, 15)
          def probe() = AnnSearch.exactTopK(
            lake.where(col("cluster_id").isin(ranked: _*)),
            "embedding", "vec_id", q, 15)
          time(exact()); val te = (0 until 2).map(_ => time(exact())).min
          time(probe()); val tp = (0 until 2).map(_ => time(probe())).min
          println(f"[scaling] ann x$c: rows=$rows exact ${te}%.3f s probe ${tp}%.3f s")
          val pt = pts.addObject()
          pt.put("scale", c); pt.put("rows", rows)
          pt.put("exact_s", r3(te)); pt.put("probe_s", r3(tp))
        }
        o
      }

    // Stream state-store floor experiment (VERDICT r13 #5): the four
    // streaming gates, measured under BOTH providers at sf0.1 — the
    // HDFS-backed in-heap map vs RocksDB (off-heap, the 100 TB-keyspace
    // provider). The gates' state is tiny, so this measures the per-store
    // per-micro-batch FLOOR each provider charges; the winner is pinned as
    // Queries.streamStateProvider's default. Kept verbatim like every
    // other section — delete scaling.json to re-measure.
    val streamState = prior.flatMap(p => Option(p.get("stream_state")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        val rows = Seq(w1sStreamWindow, w2sStreamSession, w3sStreamSliding,
          e2sStreamPairs).map(_.name)
        val providers = Seq(
          "hdfs" -> ("org.apache.spark.sql.execution.streaming.state." +
            "HDFSBackedStateStoreProvider"),
          "rocksdb" -> ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"))
        val o = om.createObjectNode()
        val prev = Queries.streamStateProvider.get
        try providers.foreach { case (tag, cls) =>
          Queries.streamStateProvider.set(cls)
          val po = o.putObject(tag)
          rows.foreach { n =>
            run(n, sf01) // warm: provider classes load, codegen compiles
            val t = (0 until 2).map(_ => run(n, sf01)).min
            println(f"[scaling] stream_state $tag $n: ${t}%.2f s")
            po.put(n, r2(t))
          }
        } finally Queries.streamStateProvider.set(prev)
        o
      }

    // BM25 probe decades (the r13→r15 standing `weak`, closed this
    // round): the `In(term)` scan prune's claim is probe IO ∝ the query
    // batch's terms, not the lake. Token-disjoint copies grow the
    // PERSISTED postings lake while the copy-0 query batch's 31 terms
    // stay a constant sliver of its vocabulary, so the pruned probe
    // should hold ~flat while the unpruned plan (termPruneMax=0 — the
    // broadcast-join-only shape the pre-r15 code ran) reads the lake.
    // The skipping mechanism is parquet's per-row-group dictionary/stat
    // filtering against the pushed In: each term-hash file holds a small
    // sorted term subset, so a file whose dictionary misses every query
    // term is never decoded. That granularity is numFiles — at 8 files
    // every file holds query terms and nothing skips (the first
    // measurement of this section, kept honest here), so numFiles grows
    // with the lake exactly as a real deployment's would (a 100 TB lake
    // is tens of thousands of row groups). The 1000× decade plays the
    // role of ANN's 20 M-row point: the lake size where scan cost clears
    // the local job floor and the separation is unambiguous. Store build
    // (fit + save, the periodic job) is paid at fixture-build time; the
    // timed quantity is load + searchIndex only.
    val bm25Probe = prior.flatMap(p => Option(p.get("bm25_probe")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        import graft.operators.Bm25
        val o = om.createObjectNode()
        val pts = o.putArray("points")
        val sf1000 = ensureScaledX(spark, sf01, "target/scaling/sf1000", 1000)
        val storeFiles = Map(1 -> 8, 10 -> 16, 100 -> 64, 1000 -> 256)
        Seq((1, sf01), (10, sf1), (100, sf10), (1000, sf1000)).foreach {
          case (c, dir) =>
          val store = s"target/scaling/bm25store$c"
          val done = java.nio.file.Paths.get(s"$store/_bench_done")
          if (!java.nio.file.Files.exists(done)) {
            deleteDir(java.nio.file.Paths.get(store))
            val docs = spark.read.parquet(s"$dir/documents.parquet")
            Bm25.save(Bm25.fit(
              docs.where(col("doc_id") >= 3), "doc_id", "text"), store,
              numFiles = storeFiles(c))
            java.nio.file.Files.createFile(done)
          }
          val ix = Bm25.load(spark, store)
          val q = spark.read.parquet(s"$dir/documents.parquet")
            .where(col("doc_id") < 3) // the gate rows' own query batch
            .select(col("doc_id").as("qid"), col("text"))
          def time(df: => org.apache.spark.sql.DataFrame): Double = {
            val t0 = System.nanoTime()
            Bench.materialize(df)
            (System.nanoTime() - t0) / 1e9
          }
          def pruned() = Bm25.searchIndex(ix, q, "qid", "text", 10)
          def full() = Bm25.searchIndex(ix, q, "qid", "text", 10,
            termPruneMax = 0)
          time(pruned()); val tp = (0 until 2).map(_ => time(pruned())).min
          time(full()); val tf = (0 until 2).map(_ => time(full())).min
          val rows = ix.postings.count()
          println(f"[scaling] bm25_probe x$c: postings=$rows pruned ${tp}%.3f s full ${tf}%.3f s")
          val pt = pts.addObject()
          pt.put("scale", c); pt.put("postings_rows", rows)
          pt.put("pruned_s", r3(tp)); pt.put("full_s", r3(tf))
        }
        o
      }

    // IVF build-vs-maintenance decades (VERDICT r15 #4): r2's 100×
    // ratio is dominated by the index BUILD (linear in the corpus by
    // design — every vector is assigned once), while the daily job is
    // [[IvfIndex.appendToLake]]: assign-only insert of the delta under
    // the FIXED served centroids. build_s = assign+write of the full
    // partitioned lake; append_s = assign+append of a CONSTANT
    // 2000-vector delta into that lake (min-of-2). The claim this
    // section pins: build grows ~linearly with the corpus, append stays
    // flat at the delta's size plus the job floor, and serving rides the
    // `ann` section's flat probe curve — the build/maintain/probe
    // three-way split a 100 TB dense-retrieval corpus budgets, the way
    // `bm25_probe` pins it for sparse.
    val ivfMaint = prior.flatMap(p => Option(p.get("ivf_maintenance")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        import graft.operators.IvfIndex
        val o = om.createObjectNode()
        val pts = o.putArray("points")
        val emb0 = spark.read.parquet(s"$sf01/embeddings.parquet")
        val model = Queries.axisBlockIvfModel(
          emb0.select(size(col("embedding"))).head.getInt(0))
        // constant delta: the sf0.1 vectors under collision-free ids
        val delta = emb0.select(
          (col("vec_id") + lit(5000000000L)).as("vec_id"), col("embedding"))
        // warm the assign+write path once (JIT + codegen + committer
        // classes) so the smallest decade isn't a cold-JVM artifact —
        // the first measurement of this section read 3.5 s at x10 vs
        // 1.9 s at x1000, all of it warm-up
        IvfIndex.write(IvfIndex.assign(emb0, "embedding", model),
          "target/scaling/ivfmaint_warm")
        deleteDir(java.nio.file.Paths.get("target/scaling/ivfmaint_warm"))
        // the 10000× decade (20M rows, ~8 GB) plays the same role as the
        // ann section's last point: below it the 32-core local job floor
        // hides the build's linear scan+write and all three decades read
        // ~2 s — the separation needs a lake big enough to clear the floor
        Seq(10, 100, 1000, 10000).foreach { c =>
          val src = s"target/scaling/emb$c/embeddings.parquet"
          val lake = s"target/scaling/ivfmaint$c"
          deleteDir(java.nio.file.Paths.get(lake))
          val t0 = System.nanoTime()
          IvfIndex.write(
            IvfIndex.assign(spark.read.parquet(src), "embedding", model), lake)
          val build = (System.nanoTime() - t0) / 1e9
          def appendOnce(): Double = {
            val t1 = System.nanoTime()
            IvfIndex.appendToLake(delta, "embedding", model, lake)
            (System.nanoTime() - t1) / 1e9
          }
          appendOnce() // warm the append plan like every other section
          val append = (0 until 2).map(_ => appendOnce()).min
          val rows = spark.read.parquet(src).count()
          println(f"[scaling] ivf_maintenance x$c: rows=$rows build ${build}%.2f s append ${append}%.2f s")
          val pt = pts.addObject()
          pt.put("scale", c); pt.put("rows", rows)
          pt.put("build_s", r2(build)); pt.put("append_s", r2(append))
          // unlike the emb$c fixtures these lakes are never re-read
          // (kept sections skip the whole measurement) — ~9 GB of dead
          // parquet per run otherwise (self-review r16 #6)
          deleteDir(java.nio.file.Paths.get(lake))
        }
        o
      }

    // Driver-local BPE training decades: fitLocal's claim is that the
    // K-merge loop over the COLLECTED vocabulary runs at memory speed
    // with incremental pair maintenance — so wall should grow with the
    // vocabulary (the init pass + touched-word rewrites), not with
    // K × job-scheduling overhead like the distributed fit (t12's
    // measured per-iteration cost × K). Synthetic vocabulary in the
    // bpe_apply shape (base-26 ids over a-z, tripled), freq = id%7+1,
    // 2000 merges — production-order K the Column-fold could never hold.
    val bpeTrain = prior.flatMap(p => Option(p.get("bpe_train")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        val o = om.createObjectNode()
        val pts = o.putArray("points")
        Seq(100000, 1000000).foreach { v =>
          import spark.implicits._
          // no call-site materialization needed: fitLocal persists its
          // projection internally, so guard-count and collect share one
          // run of this cheap spark.range plan
          val vocab = spark.range(v.toLong).as[Long].map { i =>
            val s = java.lang.Long.toString(i, 26).map { c =>
              if (c <= '9') ('a' + (c - '0')).toChar else ('k' + (c - 'a')).toChar
            }
            (s * 3, i % 7 + 1)
          }.toDF("word", "freq")
          val t0 = System.nanoTime()
          val merges = graft.operators.BpeTrain.fitLocal(vocab, 2000)
          val w = (System.nanoTime() - t0) / 1e9
          println(f"[scaling] bpe_train vocab=$v merges=${merges.length} wall ${w}%.2f s")
          val pt = pts.addObject()
          pt.put("vocab_rows", v); pt.put("merges_learned", merges.length)
          pt.put("wall_s", r2(w))
        }
        o
      }

    // WordPiece production-K training decade — the same driver-local
    // shape as bpe_train (vocabulary-collapsed input, incremental counts
    // + stale-entry heap), with the heavier likelihood bookkeeping
    // (symbol-count-dependent scores rescore every pair touching the
    // three symbols a merge moves)
    val wpTrain = prior.flatMap(p => Option(p.get("wordpiece_train")))
      .collect { case o: ObjectNode => o.deepCopy() }
      .getOrElse {
        val o = om.createObjectNode()
        val pts = o.putArray("points")
        Seq(100000, 1000000).foreach { v =>
          import spark.implicits._
          val vocab = spark.range(v.toLong).as[Long].map { i =>
            val s = java.lang.Long.toString(i, 26).map { c =>
              if (c <= '9') ('a' + (c - '0')).toChar else ('k' + (c - 'a')).toChar
            }
            (s * 3, i % 7 + 1)
          }.toDF("word", "freq")
          val t0 = System.nanoTime()
          val merges = graft.operators.WordPiece.fitLocal(vocab, 2000)
          val w = (System.nanoTime() - t0) / 1e9
          println(f"[scaling] wordpiece_train vocab=$v merges=${merges.length} wall ${w}%.2f s")
          val pt = pts.addObject()
          pt.put("vocab_rows", v); pt.put("merges_learned", merges.length)
          pt.put("wall_s", r2(w))
        }
        o
      }

    val stealD = Bench.stealTicks() - steal0
    val root = om.createObjectNode()
    // per-decade copy counts — one hard-coded "copies" field misdescribed
    // the sf10/ann entries it sat above (r13 self-review #4)
    root.put("copies_sf1", 10)
    root.put("copies_sf10", 100)
    root.put("rows_sf01", spark.read.parquet(s"$sf01/documents.parquet").count())
    root.put("rows_sf1", spark.read.parquet(s"$sf1/documents.parquet").count())
    root.put("rows_sf10", spark.read.parquet(s"$sf10/documents.parquet").count())
    root.put("steal_ticks", stealD)
    root.put("construction",
      "token-disjoint copies (doc_id offset + per-copy token suffix); sf10 = 100 copies")
    root.set[ObjectNode]("queries", queries)
    root.set[ObjectNode]("ann", ann)
    root.set[ObjectNode]("bm25_probe", bm25Probe)
    root.set[ObjectNode]("ivf_maintenance", ivfMaint)
    root.set[ObjectNode]("bpe_train", bpeTrain)
    root.set[ObjectNode]("wordpiece_train", wpTrain)
    root.set[ObjectNode]("stream_state", streamState)
    val json = om.writeValueAsString(root)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("scaling.json"), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
