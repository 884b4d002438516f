package graft.api

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{LineDedup, QualityClassifier, Sampling, SequencePack, Spread, TextDedup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The user-facing recipe builder: composes the engine's curation
  * operators — language-ID, quality and Gopher repetition gates, exact
  * and near dedup, deterministic sampling, token budgets — into ONE lazy
  * DataFrame plan, so a user of the reference pipeline can express the
  * end-to-end corpus recipe without writing Spark.
  *
  * Every step appends the SAME expressions the corresponding gate row
  * runs (t1 language pick, t2 quality, t5 repetition signals, e1 exact
  * dedup, s2 budget): Catalyst's CollapseProject fuses the chained
  * `withColumn`s into the scan projection and the combined `gate` filter
  * runs BEFORE the first shuffle — a recipe plans exactly like the
  * hand-written p-series queries. The p3 gate row builds its pre-budget
  * stages through this API, so the DuckDB oracle checks the builder
  * end-to-end every round.
  *
  * Laziness contract: every step except [[tokenBudget]] and
  * [[scrubSharedPassages]] only composes the plan (the scrub's checkpoints
  * run the upstream shuffle stages, see there). `tokenBudget` delegates
  * to [[Sampling.tokenBudget]], which runs its pass-1 job eagerly and
  * rebuilds the frame behind an analysis barrier — gate and project
  * BEFORE budgeting (the step order the builder's API makes natural).
  */
final class CorpusRecipe private (
    val frame: DataFrame, idCol: String, textCol: String) {

  private def next(df: DataFrame) = new CorpusRecipe(df, idCol, textCol)
  private def toks = tokens(col(textCol))

  /** Pin parallelism ahead of per-row scoring compute (the t5/p3 rule:
    * interpreted-HOF signals cost ~1 ms/doc — don't leave their
    * parallelism to the scan's split count).
    */
  def spread(): CorpusRecipe = next(Spread.byCols(frame, Seq(col(idCol))))

  /** t1's stopword-argmax language pick as a column. */
  def scoreLanguage(out: String = "pred"): CorpusRecipe =
    next(frame.withColumn(out, languagePick(toks)))

  /** t2's quality score (rounded like the gate rows). */
  def scoreQuality(out: String = "quality"): CorpusRecipe =
    next(frame.withColumn(out, round(qualityScore(col(textCol)), 6)))

  /** t11's LEARNED quality gate ([[graft.operators.QualityClassifier]]):
    * score with a fitted/loaded model (row-local — the weights fold into
    * the scan as one literal) and keep rows at or above `threshold`. The
    * model comes from the periodic labeling job via
    * [[graft.sources.ModelStore.loadQuality]].
    *
    * Null-text POLICY (ADVICE r12): null text scores a null logit, and
    * this gate DROPS it — a row the quality model cannot score does not
    * pass a quality gate. The drop is spelled out in the predicate
    * (isNotNull, not a null-propagating comparison) so the policy reads
    * from the plan. Contrast [[decontaminateWith]], which KEEPS null-text
    * rows: absent text cannot be contaminated, but it also cannot be
    * known-good.
    */
  def filterQuality(model: QualityClassifier.Model,
                    threshold: Double = 0.0,
                    scoreOut: String = "q_logit"): CorpusRecipe =
    next(frame
      .withColumn(scoreOut, QualityClassifier.logitCol(col(textCol), model))
      .where(col(scoreOut).isNotNull && col(scoreOut) >= threshold))

  /** t5's Gopher repetition signals. */
  def scoreRepetition(
      dupOut: String = "dup_frac", topOut: String = "top2"): CorpusRecipe =
    next(frame
      .withColumn(dupOut, round(dupTokenFrac(toks), 6))
      .withColumn(topOut, round(topNgramFrac(toks, 2), 6)))

  /** Whitespace token count (the budget unit). */
  def countTokens(out: String = "n_tok"): CorpusRecipe =
    next(frame.withColumn(out, size(toks).cast("long")))

  // the TOKENIZER-AWARE count steps share one join-back: the operator's
  // (id, n) table left-joins onto the frame with 0 for rows that produced
  // no tokens (empty/whitespace-only text — the budget they contribute),
  // so every row survives and the downstream budget draws see the same
  // corpus the gates passed
  private def joinCounts(counts: DataFrame, nCol: String,
                         out: String): CorpusRecipe = {
    require(!frame.columns.contains(out),
      s"token-count output column '$out' already exists on the frame — " +
        "pick another name")
    next(frame
      .join(counts.select(col(idCol), col(nCol).as(out)), Seq(idCol), "left")
      .withColumn(out, coalesce(col(out), lit(0L))))
  }

  /** t15's BPE token count as a column ([[graft.operators.BpeTrain
    * .tokenCounts]]) — the budget unit a BPE-tokenized training run
    * actually pays, under the model's own pre-tokenization discipline.
    */
  def countTokensBpe(model: graft.operators.BpeTrain.BpeModel,
                     out: String = "n_tok"): CorpusRecipe =
    joinCounts(graft.operators.BpeTrain.tokenCounts(
      frame.select(col(idCol), col(textCol)), idCol, textCol, model),
      "bpe_tokens", out)

  /** t25's WordPiece token count as a column ([[graft.operators
    * .WordPiece.tokenCounts]]) — UNK words count their single token.
    */
  def countTokensWp(pieces: Seq[String],
                    unk: String = graft.operators.WordPiece.Unk,
                    out: String = "n_tok"): CorpusRecipe =
    joinCounts(graft.operators.WordPiece.tokenCounts(
      frame.select(col(idCol), col(textCol)), idCol, textCol, pieces, unk),
      "wp_tokens", out)

  /** The unigram-LM token count as a column ([[graft.operators
    * .UnigramTok.tokenCounts]]) — Viterbi-segmented, `<unk>` words
    * count one.
    */
  def countTokensUnigram(pieces: Seq[(String, Double)],
                         unk: String = graft.operators.UnigramTok.Unk,
                         out: String = "n_tok"): CorpusRecipe =
    joinCounts(graft.operators.UnigramTok.tokenCounts(
      frame.select(col(idCol), col(textCol)), idCol, textCol, pieces, unk),
      "ug_tokens", out)

  /** Combined filter over the scored columns — keep this ONE gate before
    * any dedup/budget step so the filter fuses below the first shuffle.
    */
  def gate(keep: Column): CorpusRecipe = next(frame.where(keep))

  /** e1's exact dedup: one canonical row per distinct text, keeper =
    * min id; `carry` columns survive as their group minimum. The text
    * column stays in the frame (it IS the group key) so text-dependent
    * steps — nearDedup, countTokens, a later score — still compose after
    * dedup; unused columns prune away if the recipe never reads them.
    */
  def exactDedup(carry: String*): CorpusRecipe = {
    val aggs = min(col(idCol)).as(idCol) +: carry.map(c => min(col(c)).as(c))
    next(frame.groupBy(col(textCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: col(textCol) +: carry.map(col): _*))
  }

  /** e2+e8's near dedup: MinHash-LSH candidate pairs → connected
    * components → keep each cluster's min-id representative. The pair
    * path is the capped/salted [[TextDedup.minhashBandPairs]] machinery.
    */
  def nearDedup(k: Int = 8, shingleK: Int = 3, bands: Int = 4): CorpusRecipe = {
    val pairs = TextDedup.minhashBandPairs(frame, textCol, idCol, k, shingleK, bands)
    val reps = graft.operators.ConnectedComponents
      .minLabel(frame.select(col(idCol)), pairs, "d1", "d2")
      .where(col("cluster") === col(idCol))
      .select(col(idCol))
    next(frame.join(reps, Seq(idCol), "left_semi"))
  }

  /** t6's PII scrub applied IN PLACE: emails, dotted-quad IPs, and phone
    * numbers replaced by typed placeholders. A row-local regexp chain —
    * composes into the scan projection, no shuffle.
    */
  def scrubPii(): CorpusRecipe =
    next(frame.withColumn(textCol, TextFunctions.scrubPii(col(textCol))))

  /** e9's benchmark decontamination: DROP every document sharing at least
    * one `shingleK`-token shingle with `bench` (which must expose the same
    * id/text column names). The bench shingle set is eval-suite-sized →
    * broadcast into the corpus-side probe; the corpus text itself never
    * shuffles — only the (small) contaminated-id set reaches the anti-join.
    */
  /** `approx = true` serves [[TextDedup.contaminationBloom]] — the bench
    * shingle set folded into one Bloom filter instead of a broadcast hash
    * build (the 100 TB form when the eval suite's distinct shingles stop
    * fitting a broadcast). No false negatives ever — contamination cannot
    * survive; false positives over-drop at ≈ shingles/doc × fpp.
    */
  def decontaminate(bench: DataFrame, shingleK: Int = 5, approx: Boolean = false,
      expectedItems: Long = 1L << 20, fpp: Double = 1e-6): CorpusRecipe = {
    val bad =
      (if (approx)
        TextDedup.contaminationBloom(frame, bench, textCol, idCol, shingleK,
          expectedItems, fpp)
      else TextDedup.contamination(frame, bench, textCol, idCol, shingleK))
        .select(col(idCol))
    next(frame.join(bad, Seq(idCol), "left_anti"))
  }

  /** [[decontaminate]] against a PREBUILT bench filter — the artifact
    * workflow: the filter is built once per bench release
    * ([[TextDedup.benchShingleBloom]]), persisted via
    * [[graft.sources.ModelStore.saveBloom]], and every corpus job gates
    * rows with [[TextDedup.contaminatedCol]] — genuinely ONE corpus scan
    * and no join (e9c's row-local form; the aggregate probe would scan the
    * corpus twice here, once for the probe and once as the anti-join
    * side). A null artifact (empty bench) is a no-op.
    */
  def decontaminateWith(benchFilter: Array[Byte],
      shingleK: Int = 5): CorpusRecipe =
    next(frame.where(
      !TextDedup.contaminatedCol(col(textCol), shingleK, benchFilter)))

  /** u1's RefinedWeb mixing rule: keep at most `k` documents per
    * registered domain of `urlCol`, selected by the deterministic md5 draw
    * (draw ascending, id tie-break — the same keeper order as [[sample]]).
    * The cap is the bounded-heap `topk_ids` aggregate (≤ k ids per domain
    * per map task cross one shuffle), NEVER a per-domain ranking window —
    * a mega-domain must not sort in one task. Requires a LONG id column
    * and the graft session extensions (topk_ids).
    */
  def capPerDomain(urlCol: String, k: Int): CorpusRecipe = {
    val kept = frame
      .select(col(idCol), registeredDomain(col(urlCol)).as("__dom"),
        (-conv(Sampling.drawHex(col(idCol)), 16, 10).cast("double")).as("__nd"))
      .groupBy(col("__dom"))
      .agg(expr(s"topk_ids(__nd, $idCol, $k)").as("__ids"))
      .select(explode(col("__ids")).as(idCol))
    next(frame.join(kept, Seq(idCol), "left_semi"))
  }

  /** e11's exact substring scrub (Lee et al. 2021): `k`-token passages
    * shared by ≥ 2 documents are removed and the text column REBUILT from
    * the surviving tokens. Documents reduced to nothing survive with empty
    * text — chain a `gate(length(col("text")) > 0)` to drop them.
    */
  def scrubSharedPassages(k: Int = 8): CorpusRecipe = {
    // pin the recipe frame ONCE at the scrub boundary: passageScrub
    // references its input twice (the token pass and the n_tot scan) and
    // the rebuild joins the frame a third time — in a composed recipe
    // (p5: boilerplate-drop → normalize → scrub) each reference re-ran
    // the whole upstream chain (r19; the pinned set is corpus-sized, the
    // same posture as passageScrub's own internal checkpoints).
    // eager=false (ADVICE r19) defers only the RESULT stage: under AQE the
    // lazy checkpoint still runs every upstream shuffle stage when the
    // recipe is composed — on sf0.001, pinning p5's boilerplate-drop →
    // normalize frame runs 5 jobs at composition, and the whole scrub step
    // 8 (passageScrub's own pins add 3). It still truncates lineage and
    // dedupes the three references.
    val pinned = frame.localCheckpoint(eager = false)
    val cleaned = TextDedup.passageScrub(pinned, textCol, idCol, k)
      .select(col(idCol), col("clean_text"))
    next(pinned.drop(textCol).join(cleaned, Seq(idCol))
      .withColumnRenamed("clean_text", textCol))
  }

  /** l1's line-level boilerplate removal IN PLACE: lines appearing in ≥
    * `minDocs` documents are dropped corpus-wide (broadcast blocklist,
    * row-local clean; text order preserved).
    */
  def dropBoilerplateLines(minDocs: Int, sep: String = "\n"): CorpusRecipe = {
    val cleaned = LineDedup.removeBoilerplate(frame, idCol, textCol, sep, minDocs)
      .select(col(idCol), col("clean_text"))
    next(frame.drop(textCol).join(cleaned, Seq(idCol))
      .withColumnRenamed("clean_text", textCol))
  }

  /** Row-local text normalization (lowercase, whitespace collapse,
    * newline→space before token-level steps, …): `f` rewrites the text
    * column in place — a scan-fused projection, no shuffle.
    */
  def normalize(f: Column => Column): CorpusRecipe =
    next(frame.withColumn(textCol, f(col(textCol))))

  /** s1's deterministic stratified sample (md5-draw, engine-portable). */
  def sample(
      stratumCol: String, rates: Map[String, Double],
      defaultRate: Double = 0.0): CorpusRecipe =
    next(Sampling.stratified(frame, idCol, stratumCol, rates, defaultRate))

  /** s2's exact per-stratum token budget (greedy md5-draw prefix; the
    * distributed two-pass prefix sum — EAGER, see class doc).
    *
    * `approx = true` swaps in [[Sampling.tokenBudgetByRate]] — the 100 TB
    * form (VERDICT r10 #9): one totals aggregation + a scan-local rate
    * filter instead of the two-pass prefix sum; lands NEAR the budget in
    * expectation rather than exactly at it (CorpusRecipeSpec pins the
    * tolerance), never over by more than one stratum's natural variance.
    */
  def tokenBudget(
      stratumCol: String, tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long = 0L, approx: Boolean = false): CorpusRecipe =
    next(
      if (approx)
        Sampling.tokenBudgetByRate(frame, idCol, stratumCol, tokenCol, budgets, defaultBudget)
      else
        Sampling.tokenBudget(frame, idCol, stratumCol, tokenCol, budgets, defaultBudget))

  /** s4's target-mixture budget ([[Sampling.mixtureBudget]]): state the
    * desired per-stratum SHARES and one total; the total scales down to
    * the binding stratum so proportions stay exact, then s2's exact
    * prefix cut applies (EAGER like [[tokenBudget]]). Strata not in
    * `shares` are dropped — a mixture spec is a whitelist.
    */
  def mixTo(
      stratumCol: String, tokenCol: String, shares: Map[String, Double],
      totalTokens: Long): CorpusRecipe =
    next(Sampling.mixtureBudget(frame, idCol, stratumCol, tokenCol, shares, totalTokens))

  /** s6's temperature rebalance ([[Sampling.temperatureMix]]): q ∝ p^α
    * sampling shares realized as deterministic per-stratum keep-rates —
    * the no-hand-written-shares twin of [[mixTo]].
    */
  def rebalance(stratumCol: String, alpha: Double,
                totalDocs: Long): CorpusRecipe =
    next(Sampling.temperatureMix(frame, idCol, stratumCol, alpha, totalDocs))

  /** s7's epoch-style upsampling ([[Sampling.upsample]]) — the mixture
    * knob that samples UP: weight w replicates a stratum's rows floor(w)
    * times plus a deterministic-draw fractional copy. A TERMINAL — the
    * output grain is (id, epoch), no longer one row per document, so it
    * ends the recipe like the pack/profile steps do.
    */
  def upsample(weights: Map[String, Double], stratumCol: String = "source",
               defaultWeight: Double = 1.0): DataFrame =
    Sampling.upsample(frame, idCol, stratumCol, weights, defaultWeight)

  /** u2's k-anonymity suppression ([[graft.operators.Anonymize
    * .kSuppress]]): drop rows whose quasi-identifier combination has
    * fewer than k members — the joint-distribution complement of
    * [[scrubPii]]'s in-text regexes.
    */
  def kAnonymize(qi: Seq[Column], k: Long): CorpusRecipe =
    next(graft.operators.Anonymize.kSuppress(frame, qi, k))

  /** s3's deterministic train/val/test assignment as a column
    * ([[Sampling.splitLabel]]): the md5 draw cut at cumulative fractions —
    * scan-local, engine-portable, and stable under corpus growth. Chain a
    * `gate(col(out) === "train")` to keep one side.
    */
  def split(
      fractions: Seq[(String, Double)],
      restLabel: String,
      out: String = "split"): CorpusRecipe =
    splitBy(col(idCol), fractions, restLabel, out)

  /** [[split]] keyed on an arbitrary LEAKAGE UNIT instead of the row id
    * (s5's semantics): pass the near-dup cluster label, the registered
    * domain, or any grouping column — every row sharing the key draws the
    * SAME split, so that unit can never straddle train and eval (the
    * split-level contamination a row-keyed draw cannot prevent). Key on a
    * stable unit: cluster-keyed assignment re-draws a group when later
    * arrivals merge its clusters, so cut leak-free splits on the
    * post-dedup frozen corpus.
    */
  def splitBy(
      key: Column,
      fractions: Seq[(String, Double)],
      restLabel: String,
      out: String = "split"): CorpusRecipe =
    next(frame.withColumn(out,
      Sampling.splitLabel(key, fractions, restLabel)))

  /** x1's concat-then-chunk sequence packing ([[SequencePack
    * .packManifest]]) — a TERMINAL step: the curated corpus becomes the
    * per-document packing manifest (token offset + chunk range in
    * `ctxLen`-token context windows, md5-draw order). EAGER like
    * [[tokenBudget]] (two-pass prefix sum behind an analysis barrier) —
    * gate and dedup BEFORE packing.
    */
  def packManifest(tokenCol: String, ctxLen: Long,
                   sepPerDoc: Boolean = false): DataFrame =
    SequencePack.packManifest(frame, idCol, tokenCol, ctxLen, sepPerDoc)

  /** r1/r2's retrieval-corpus build ([[graft.operators.ChunkEmbed]]) — a
    * TERMINAL step: the curated corpus becomes (cid, emb) chunk
    * embeddings (L-token windows, stride S, dim-bucket feature-hashed
    * bag-of-words), ready for [[graft.operators.AnnSearch.batchTopK]] /
    * `batchTopKIvf` or an [[graft.operators.IvfIndex]] build. Curate
    * (gate, dedup, scrub) BEFORE chunking — the embedding inherits
    * whatever text reaches it.
    */
  def chunkEmbed(dim: Int = 64, chunkLen: Int = 50, stride: Int = 40): DataFrame =
    graft.operators.ChunkEmbed.embed(frame, idCol, textCol, dim, chunkLen, stride)

  /** BM25 top-k over the curated corpus ([[graft.operators.Bm25.topK]]) —
    * the sparse TERMINAL beside [[chunkEmbed]]'s dense one: the recipe's
    * gates/dedup/scrub decide what is searchable, then the query batch
    * retrieves through the inverted-index equi-join (r3's shape).
    */
  def bm25TopK(queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    graft.operators.Bm25.topK(frame, idCol, textCol,
      queries, qidCol, qtextCol, k, k1, b)

  /** Hybrid retrieval TERMINAL (r4's shape): [[bm25TopK]]'s sparse ranks
    * fused with dense doc-grain hashed-embedding cosine ranks by
    * reciprocal-rank fusion — each ranker's top-`fetchK` lists fuse to a
    * final top-`k`. The fusion sees only the truncated lists; nothing
    * corpus-sized leaves the rankers.
    */
  def hybridTopK(queries: DataFrame, qidCol: String, qtextCol: String,
                 k: Int, fetchK: Int = 20, dim: Int = 64): DataFrame = {
    val sparse = bm25TopK(queries, qidCol, qtextCol, fetchK)
    val dense = graft.operators.AnnSearch.batchTopK(
      graft.operators.ChunkEmbed.docEmbed(frame, idCol, textCol, dim),
      "emb", idCol,
      graft.operators.ChunkEmbed.docEmbed(queries, qidCol, qtextCol, dim),
      qidCol, "emb", fetchK, graft.operators.VectorMetric.Cosine)
    graft.operators.Bm25.rrf(Seq(sparse, dense), qidCol, idCol, "rank", k)
  }

  /** t21's trigram Stupid-Backoff LM score as a column
    * ([[graft.operators.NgramLm.score]]): average negative log score per
    * trigram position under a fitted/loaded count model — the
    * perplexity-flavored quality signal a CCNet-style pipeline gates on.
    * The model comes from the periodic count-build job via
    * [[graft.operators.NgramLm.load]]. LEFT-joined back on the id, so the
    * recipe keeps every row: documents with fewer than three tokens have
    * no trigram positions and carry a null score, as does any document
    * containing a token the model never saw (the OOV marker — see the
    * operator's scaladoc); a gate deciding their fate spells it out, the
    * [[filterQuality]] null-policy discipline.
    */
  def scoreLm(model: graft.operators.NgramLm.Model,
              out: String = "lm_nll", minCount: Long = 1L): CorpusRecipe = {
    // a join adds a column; unlike the withColumn scorers it cannot
    // replace one — an existing `out` would ride along as an ambiguous
    // duplicate that only explodes downstream, so refuse it here
    require(!frame.columns.contains(out),
      s"scoreLm output column '$out' already exists on the frame — " +
        "pick another name")
    val scored = graft.operators.NgramLm
      .score(frame.select(col(idCol), col(textCol)), idCol, textCol,
        model, minCount)
      .select(col(idCol), col("nll").as(out))
    next(frame.join(scored, Seq(idCol), "left"))
  }

  /** x4's training-sequence materialization — the TERMINAL that closes
    * the pipeline: the curated corpus tokenizes under a trained BPE model
    * ([[graft.operators.BpeTrain.tokenIds]] — byte-level required for the
    * deterministic id table) and the id sequences pack into exact
    * `ctxLen`-token context windows in md5-draw order
    * ([[SequencePack.packTokenIds]]), `sepId` marking each document
    * boundary. EAGER like [[packManifest]] (the offset prefix-sum runs at
    * call time) — gate, dedup, and scrub BEFORE this; the windows inherit
    * whatever text reaches them. NOTE (ADVICE r16): with `sepId` set the
    * packing runs over separator-INCLUSIVE counts (tokens + 1 per
    * non-empty doc) — build the audit trail with
    * [[packManifest]]`(tokenCol, ctxLen, sepPerDoc = true)`, which
    * advances offsets at the same grain.
    */
  def packTokenIds(model: graft.operators.BpeTrain.BpeModel, ctxLen: Long,
                   sepId: Option[Long] = None): DataFrame =
    SequencePack.packTokenIds(
      graft.operators.BpeTrain.tokenIds(frame, idCol, textCol, model),
      idCol, ctxLen, sepId)

  /** x2's doc-intact greedy packing ([[SequencePack.packNoSplit]]) — the
    * TERMINAL twin of [[packManifest]] for runs where documents must not
    * straddle context windows; packs in `shardDocs`-sized md5-draw-order
    * shards (bins never span shards). Lazy plan, but the rank pass prices
    * like a shuffle — gate and dedup BEFORE packing.
    */
  def packNoSplit(tokenCol: String, ctxLen: Long, shardDocs: Int = 1024): DataFrame =
    SequencePack.packNoSplit(frame, idCol, tokenCol, ctxLen, shardDocs)

  /** Corpus vocabulary top-k — a TERMINAL reporting step over the curated
    * corpus (the heavy-hitter scan tokenizer/BPE training starts from),
    * served by the `freq_items` Misra–Gries sketch (t10a): one O(cap)
    * summary per partition instead of a (vocab × partitions)-row shuffle.
    * Counts are exact while the corpus vocabulary stays within `cap`;
    * beyond it they are lower bounds within n/cap with every token above
    * that frequency guaranteed present (FreqItems scaladoc).
    */
  def vocabulary(k: Int, cap: Int = 1 << 17, approx: Boolean = true): DataFrame =
    if (approx)
      frame.select(explode(toks).as("token"))
        .where(length(col("token")) > 0)
        .agg(expr(s"freq_items(token, $cap)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.token").as("token"), col("e.n").as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(k)
    else
      // exact twin (t10's shape): a (vocab × tasks)-row shuffle the sketch
      // exists to avoid — for when exact counts matter more than shuffle
      frame.select(explode(toks).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(k)

  /** Corpus profile — a TERMINAL one-row reporting step: document count,
    * distinct-text count, token mass, and token-count percentiles — the
    * numbers a mixing/budget decision starts from. `approx = true` (the
    * 100 TB default) serves the twins: HLL `approx_count_distinct`
    * (±~2.3% standard error at the default precision) and the t-digest
    * `approx_percentile` — both O(1) state per partition where the exact
    * forms hold a distinct-set / value-map per group.
    */
  def profile(tokenCol: Column, approx: Boolean = true): DataFrame = {
    val ps = array(lit(0.5), lit(0.9), lit(0.99))
    if (approx)
      frame.agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col(textCol)).as("n_distinct_texts"),
        sum(tokenCol.cast("long")).as("n_tokens"),
        approx_percentile(tokenCol.cast("double"), ps, lit(10000)).as("tok_quantiles"))
    else
      frame.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col(textCol)).as("n_distinct_texts"),
        sum(tokenCol.cast("long")).as("n_tokens"),
        percentile(tokenCol.cast("double"), ps).as("tok_quantiles"))
  }

  /** Final projection, ending the recipe. */
  def select(cols: Column*): DataFrame = frame.select(cols: _*)
}

object CorpusRecipe {
  def apply(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): CorpusRecipe =
    new CorpusRecipe(df, idCol, textCol)
}
