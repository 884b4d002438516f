package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.api.CorpusRecipe
import graft.operators.TextDedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `curate_corpus`: a seeded corpus with planted exact duplicates,
  * near-duplicate clusters and junk, run through the `CorpusRecipe` chain
  * scoreQuality → gate → exactDedup → nearDedup → scrubPii → countTokens
  * and written to parquet. Each pass's wall time is one latency sample;
  * throughput is input documents per wall second.
  */
object Curate {
  val Docs = 20000
  val QualityGate = 0.6
  val CollapseFloor = 0.9
  // nearDedup's defaults: 8 MinHash functions over 3-word shingles, 4 bands
  val K = 8
  val ShingleK = 3
  val Bands = 4
  /** About one warm pass's wall time on 4 cores. */
  val PassSeconds = 4.0
  val WarmupPasses = 3

  def recipe(df: DataFrame): CorpusRecipe =
    CorpusRecipe(df, "doc_id", "text").scoreQuality().gate(col("quality") >= QualityGate)
      .exactDedup()

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpusDir = ctx.dir("curate/corpus")
    val c = writeCorpus(ctx, corpusDir)
    val exactReps = c.exactGroups.map(_.min).toSet
    val exactDropped = c.exactGroups.flatMap(g => g.filterNot(_ == g.min)).toSet
    ctx.out("inputs") = ListMap(
      "docs" -> Docs,
      "unique_share" -> c.unique.size.toDouble / Docs,
      "junk_share" -> c.junk.size.toDouble / Docs,
      "exact_groups" -> c.exactGroups.size,
      "exact_duplicate_share" -> exactDropped.size.toDouble / Docs,
      "near_clusters" -> c.nearClusters.size,
      "near_duplicate_share" -> c.nearClusters.map(_.size).sum.toDouble / Docs,
      "quality_gate" -> QualityGate, "collapse_floor" -> CollapseFloor)
    ctx.mark("inputs")
    val samples = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    var k = 0
    def pass(measured: Boolean): Unit = {
      val out = ctx.dir(s"curate/out$k")
      k += 1
      val t0 = System.nanoTime()
      recipe(spark.read.parquet(corpusDir)).nearDedup(K, ShingleK, Bands).scrubPii().countTokens()
        .frame.write.mode("overwrite").parquet(out)
      val wall = Ctx.secs(t0)
      verify(ctx, c, exactReps, exactDropped, spark.read.parquet(out))
      if (measured) samples += ListMap("wall_s" -> wall, "docs" -> Docs)
    }

    // warm-up: pass times fall by almost half over the first several
    // passes (JIT and first-job costs)
    (0 until WarmupPasses).foreach(_ => pass(measured = false))
    ctx.mark("warmup")
    // a fixed number of passes per run, one per PassSeconds of --seconds
    // (pass times still drift down after the warm-up; see Ingest)
    val passes = math.max(2, math.round(ctx.seconds / PassSeconds).toInt)
    (0 until passes).foreach(_ => pass(measured = true))
    ctx.liveHeapCheckpoint()
    if (ctx.trace) {
      var pairs = Array.empty[Row]
      ctx.out("replays") = Replays.abba(ctx,
        _ => sp => pairs = replay(ctx, spark.read.parquet(corpusDir), sp))
      layerCounts(ctx, spark.read.parquet(corpusDir), pairs)
    }
    ctx.mark("passes")
    ctx.out("passes") = samples.toSeq
  }

  /** Generates the seeded corpus and writes it as parquet to `dir`;
    * returns its planted structure without the texts, which stay on disk.
    */
  private def writeCorpus(ctx: Ctx, dir: String): Gen.Corpus = {
    import ctx.spark.implicits._
    val c = Gen.corpus(ctx.seed, Docs)
    c.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      .repartition(ctx.cpus).write.mode("overwrite").parquet(dir)
    c.copy(texts = Array.empty)
  }

  private def verify(ctx: Ctx, c: Gen.Corpus, exactReps: Set[Int], exactDropped: Set[Int],
                     out: DataFrame): Unit = {
    val rows = out.select(col("doc_id"), col("text")).collect()
    val survivors = rows.map(_.getLong(0).toInt).toSet
    val missingUnique = c.unique.count(i => !survivors(i))
    val missingReps = exactReps.count(i => !survivors(i))
    val leakedDups = exactDropped.count(survivors)
    val leakedJunk = c.junk.count(survivors)
    val collapsed = c.nearClusters.count(g => g.filter(survivors) == Seq(g.min))
    val collapse = collapsed.toDouble / c.nearClusters.size
    val unscrubbed = rows.count(r => r.getString(1).contains("@example.org"))
    ctx.attempted += 1
    val ok = missingUnique == 0 && missingReps == 0 && leakedDups == 0 && leakedJunk == 0 &&
      collapse >= CollapseFloor && unscrubbed == 0
    if (!ok) ctx.failed += 1
    ctx.out("near_collapse") = collapse
    ctx.check(s"pass ${ctx.attempted} survivors", ok,
      s"unique missing $missingUnique, exact reps missing $missingReps, exact copies kept " +
        s"$leakedDups, junk kept $leakedJunk, near clusters collapsed $collapsed of " +
        s"${c.nearClusters.size} (floor $CollapseFloor), unscrubbed e-mails $unscrubbed")
  }

  /** Replay of one pass's layers with spans recorded by `sp`: the recipe
    * chain's build (and the Spark jobs it runs before any action), then the
    * near-dedup stage's MinHash signatures and LSH band pairs over the
    * gated corpus. Returns the candidate pairs.
    */
  private def replay(ctx: Ctx, corpus: DataFrame, sp: Spans): Array[Row] = {
    val j0 = ctx.counts()("jobs")
    sp("api.recipe_build_ms") {
      recipe(corpus).nearDedup(K, ShingleK, Bands).scrubPii().countTokens()
    }
    ctx.out("jobs_during_build") = ctx.counts()("jobs") - j0
    val gated = recipe(corpus).frame.cache()
    gated.count()
    sp("operators.minhash_sig_s")(
      TextDedup.minhashSignatures(gated, "text", "doc_id", K, ShingleK)
        .write.format("noop").mode("overwrite").save())
    val pairs = sp("operators.band_pairs_s")(
      TextDedup.minhashBandPairs(gated, "text", "doc_id", K, ShingleK, Bands).collect())
    gated.unpersist()
    pairs
  }

  /** Candidate pair count, and the share of pairs whose true shingle
    * Jaccard similarity (computed here, on the driver) reaches 0.5.
    */
  private def layerCounts(ctx: Ctx, corpus: DataFrame, pairs: Array[Row]): Unit = {
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(i: Long): Set[String] =
      texts(i).split(" ").sliding(ShingleK).map(_.mkString(" ")).toSet
    val verified = pairs.count { r =>
      val a = shingles(r.getLong(0)); val b = shingles(r.getLong(1))
      (a & b).size.toDouble / (a | b).size >= 0.5
    }
    ctx.out("layer_counts") = ListMap(
      "operators.candidate_pairs" -> pairs.length,
      "operators.verified_pair_ratio" -> (if (pairs.isEmpty) 0.0 else verified.toDouble / pairs.length))
  }
}
