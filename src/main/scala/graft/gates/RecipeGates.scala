package graft
package gates

import graft.functions.TextFunctions._
import graft.operators.{ConnectedComponents, Sampling, SequencePack, TextDedup}
import org.apache.spark.sql.functions._

trait RecipeGates extends GateFamily { this: DedupGates with TokenizerGates =>
  /** P3's pre-budget stages (gates → exact dedup), exposed so PlanAuditSpec
    * can audit the filter-below-dedup-shuffle shape directly: the final
    * recipe runs these through [[Sampling.tokenBudget]], whose two-pass
    * prefix sum is an analysis barrier (`createDataFrame`) that hides this
    * subtree from the returned frame's plan.
    */
  private[graft] val p3Deduped: Q = (s, d) => {
    import s.implicits._
    // Built through the user-facing recipe API (graft.api.CorpusRecipe):
    // the p3 gate row is the end-to-end oracle check OF that API. Spread
    // before the gates pins parallelism for the interpreted-HOF signals
    // (same rule as t5); CollapseProject fuses the score columns into one
    // projection and the combined gate runs below the dedup shuffle
    // (PlanAuditSpec pins both).
    graft.api.CorpusRecipe(Tables.documents(s, d))
      .spread()
      .scoreLanguage("pred")
      .scoreQuality("quality")
      .scoreRepetition("dup_frac", "top2")
      .countTokens("n_tok")
      .gate($"pred" === "en" && $"quality" >= 0.5 &&
        $"dup_frac" <= 0.6 && $"top2" <= 0.1)
      .exactDedup("n_tok")
      .frame
      .select($"doc_id", $"n_tok", lit("all").as("blk"))
  }

  /** U1 — RefinedWeb-style URL curation: host extraction → www-strip →
    * registered-domain projection → per-domain document cap (the "no more
    * than k docs per domain" mixing rule). URLs are synthesized
    * deterministically from doc_id (same discipline as t6's PII: the gate
    * must prove the extraction+cap FIRES). Every stage before the cap is a
    * scan-local regexp projection; the cap itself is the bounded-heap
    * top-k aggregate ([[graft.functions.TopKIds]], ranked by the md5 draw
    * ascending via a negated score) — NOT a `row_number` window, whose
    * per-domain sort is exactly the skew trap a mega-domain (one host with
    * 10⁹ documents) springs at 100 TB. The heap ships ≤ k ids per domain
    * per map task through the one aggregation shuffle; nothing ever sorts
    * a whole domain.
    */
  val u1DomainCap = gate("u1_domain_cap",
      // the oracle re-synthesizes the same URLs and re-runs the identical
      // RE2-subset regexes + md5-draw-ranked window
      """WITH u AS (SELECT doc_id,
        |  'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
        |  'u' || CAST(doc_id % 7 AS VARCHAR) || '.site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
        |  '/page/' || CAST(doc_id AS VARCHAR) || '?ref=' || source AS url FROM documents),
        |h AS (SELECT doc_id,
        |  regexp_extract(regexp_replace(regexp_extract(url, '^[a-z]+://([^/?]+)', 1), '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS domain FROM u),
        |r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk FROM h)
        |SELECT doc_id, domain, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val url = concat(lit("https://"),
      when($"doc_id" % 4 === 0, "www.").otherwise(""),
      lit("u"), $"doc_id" % 7, lit("."),
      lit("site"), $"doc_id" % 23, lit("."),
      when($"doc_id" % 3 === 0, "com").when($"doc_id" % 3 === 1, "org").otherwise("net"),
      lit("/page/"), $"doc_id", lit("?ref="), $"source")
    Tables.documents(s, d)
      .select($"doc_id", url.as("url"))
      .select($"doc_id", registeredDomain($"url").as("domain"),
        // numeric draw; negated so topk_ids' (score DESC, id ASC) order is
        // (draw ASC, doc_id ASC) — the exact row_number order the oracle runs
        (-conv(Sampling.drawHex($"doc_id"), 16, 10).cast("double")).as("__nd"))
      .groupBy($"domain")
      .agg(expr("topk_ids(__nd, doc_id, 5)").as("ids"))
      .select($"domain", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"doc_id", $"domain", ($"pos" + 1).cast("long").as("rk"))
      .orderBy($"doc_id")
  }

  /** S1 deterministic stratified sample — training-data mixing weights per
    * language (en .5, zh .3, rest .1) decided by a pure function of the
    * row id ([[Sampling.stratified]]: first 8 hex chars of md5(doc_id) vs
    * a per-stratum threshold). The SAME rows fall out of any engine given
    * the recipe — the oracle proves it by re-running the draw in DuckDB —
    * and the plan is a scan-local filter: no RNG, no shuffle, no
    * partitioning dependence.
    */
  val s1StratifiedSample = gate("s1_stratified_sample",
      // the oracle re-runs the engine's deterministic draw from scratch:
      // md5's hex form is engine-independent, so the SAME rows must fall out
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'zh' THEN '4ccccccd' ELSE '1999999a' END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.stratified(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.3), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** S9 fixed-k per-stratum draw ([[Sampling.fixedKPerStratum]]): exactly
    * 5 docs per language by the engine-portable md5 draw — the balanced
    * eval-set / count-capped mixing primitive s1's RATE form cannot
    * express. The oracle replays the ranked window verbatim.
    */
  val s9FixedKSample = gate("s9_fixed_k_sample",
      // the ranked-window replay of the fixed-k draw: same md5 order key,
      // same doc_id tie-break, rank <= k per language stratum
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Sampling.fixedKPerStratum(Tables.documents(s, d), "doc_id", "lang", 5)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** S2 exact token-budget mix — the data-mixing step after sampling: per
    * language, admit documents in deterministic md5-draw order while the
    * running whitespace-token total stays within the language's budget
    * ([[Sampling.tokenBudget]]; greedy prefix, reproducible anywhere). The
    * budget is a distributed two-pass prefix sum over a (stratum, draw, id)
    * range partitioning — no per-stratum window sort, no single-partition
    * stage for any stratum shape; [[Sampling.tokenBudgetByRate]] is the
    * scan-local in-expectation twin when even the two passes are too much.
    */
  val s2TokenBudget = gate("s2_token_budget",
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c
        |WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 1000 ELSE 500 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", size(tokens($"text")).cast("long").as("n_tok"))
    Sampling.tokenBudget(docs, "doc_id", "lang", "n_tok",
        Map("en" -> 3000L, "zh" -> 1000L), defaultBudget = 500L)
      .orderBy($"doc_id")
  }

  /** S10 — the token budget enforced in the unit a trainer actually
    * pays: TOKENIZER-TRUE counts ([[graft.api.CorpusRecipe
    * .countTokensBpe]] under the LOADED space-discipline BPE artifact —
    * t15's counts as a recipe column) drive s2's exact per-language
    * prefix cut ([[graft.api.CorpusRecipe.tokenBudget]]). Whitespace
    * counts (s2) overstate what a BPE model spends on long words and
    * understate sub-word splits; budgeting in model tokens is the
    * composition a real data-mixing job runs. The oracle composes t15's
    * count replay with s2's cumulative-window cut — both already proven
    * independently, here proven COMPOSED.
    */
  val s10BpeTokenBudget = gate("s10_bpe_token_budget",
      // s10 composes t15's BPE count replay (replace-chain merge apply over
      // distinct words, whitespace split) with s2's per-language cumulative
      // prefix cut — the budget unit swaps from whitespace to model tokens
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cw AS (SELECT doc_id, word FROM w WHERE len(word) > 0),
        |wf AS (SELECT DISTINCT word FROM cw),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    regexp_replace(word, '(.)', '\1' || chr(31), 'g'),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM wf),
        |n AS (SELECT word,
        |  CAST(len(string_split(rtrim(s, chr(31)), chr(31))) AS BIGINT) AS n
        |  FROM seg),
        |bt AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok
        |  FROM cw JOIN n USING (word) GROUP BY doc_id),
        |d AS (SELECT doc_id, lang, COALESCE(bt.n_tok, 0) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents LEFT JOIN bt USING (doc_id)),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c
        |WHERE cum <= CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 1000 ELSE 500 END
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s, d)}/space")
    graft.api.CorpusRecipe(
        Tables.documents(s, d).select($"doc_id", $"lang", $"text"))
      .countTokensBpe(model, out = "n_tok")
      .tokenBudget("lang", "n_tok",
        Map("en" -> 3000L, "zh" -> 1000L), defaultBudget = 500L)
      .frame.select($"doc_id", $"lang", $"n_tok")
      .orderBy($"doc_id")
  }

  /** S4 target-mixture budget ([[Sampling.mixtureBudget]]): the user
    * states SHARES per language and one total; per-stratum budgets fall
    * out, scaled down to the binding constraint so proportions stay exact
    * (at this fixture's sf0.01 the zh stratum binds and is admitted
    * whole; at sf0.1 the requested total binds — both branches are
    * deterministic and the oracle recomputes them in SQL).
    */
  val s4MixtureBudget = gate("s4_mixture_budget",
      // achievable/budgets recomputed in SQL with the same double division +
      // floor the engine uses; shares forced to DOUBLE (a bare 0.5 in VALUES
      // would be DECIMAL and round differently)
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |tot AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t FROM d GROUP BY lang),
        |shr AS (SELECT * FROM (VALUES
        |    ('en', 0.5::DOUBLE), ('zh', 0.2::DOUBLE), ('de', 0.15::DOUBLE),
        |    ('es', 0.1::DOUBLE), ('fr', 0.05::DOUBLE)) s(lang, share)),
        |ach AS (SELECT least(30000, CAST(min(floor(t / share)) AS BIGINT)) AS a
        |  FROM tot JOIN shr USING (lang)),
        |b AS (SELECT shr.lang, CAST(floor(share * a) AS BIGINT) AS budget FROM shr, ach),
        |c AS (SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY draw, doc_id) AS cum FROM d)
        |SELECT doc_id, lang, n_tok FROM c JOIN b USING (lang)
        |WHERE cum <= budget ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", size(tokens($"text")).cast("long").as("n_tok"))
    Sampling.mixtureBudget(docs, "doc_id", "lang", "n_tok",
        Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.15, "es" -> 0.1, "fr" -> 0.05),
        totalTokens = 30000L)
      .orderBy($"doc_id")
  }

  /** S6 temperature mixture ([[Sampling.temperatureMix]]): q_s ∝ p_s^0.5
    * rebalancing toward 3000 documents. The two SFs exercise DIFFERENT
    * binding branches — at sf0.01 the fr stratum saturates (rate 1.0, the
    * target scales down to its capacity); at sf0.1 the 3000-doc target
    * binds. The oracle replays every float step: sqrt weights, the
    * lang-ordered sequential weight fold, the capacity min, and the
    * 32-bit draw threshold.
    */
  val s6TemperatureMix = gate("s6_temperature_mix",
      // every float step of temperatureMix replayed: sqrt weights (IEEE
      // correctly rounded, unlike pow — why the engine routes alpha=0.5
      // through sqrt), the lang-ORDERED sequential weight fold, the capacity
      // min, and the floor(x+0.5) 32-bit draw cut; the rate>=1 arm mirrors
      // thresholdHex's keep-all short-circuit for the saturated stratum
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
        |w AS (SELECT lang, n,
        |  sqrt(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) AS w FROM c, tot),
        |den AS (SELECT list_sum(list(w ORDER BY lang)) AS dn FROM w),
        |q AS (SELECT lang, n, w / dn AS q FROM w, den),
        |cap AS (SELECT least(CAST(3000 AS DOUBLE),
        |  min(CAST(n AS DOUBLE) / q)) AS t FROM q),
        |r AS (SELECT lang, n,
        |  least(CAST(1.0 AS DOUBLE), t * q / CAST(n AS DOUBLE)) AS rate FROM q, cap),
        |thr AS (SELECT lang, rate,
        |  least(CAST(floor(rate * 4294967296.0 + 0.5) AS BIGINT), 4294967295) AS thr
        |  FROM r)
        |SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
        |WHERE rate >= 1.0 OR
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < thr
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Sampling.temperatureMix(
        Tables.documents(s, d).select($"doc_id", $"lang"),
        "doc_id", "lang", alpha = 0.5, totalDocs = 3000L)
      .orderBy($"doc_id")
  }

  /** S8 seeded training-order shuffle: the deterministic global
    * permutation every training run ends with. The order key is
    * md5(seed ++ id) — the same engine-portable draw the s1/s3 sampling
    * rows use, so any engine recomputes the identical order — and the
    * rank is [[GlobalRank.withGlobalIndex]]'s two-pass range-shuffle +
    * per-partition zipWithIndex: no single-partition window at any
    * corpus size. A new epoch's order is a new seed, not a new
    * algorithm; doc_id tie-breaks the 8-hex key so collisions stay
    * deterministic.
    */
  val s8ShuffleOrder = gate("s8_shuffle_order",
      // the same md5 order key, ranked by one window (the oracle runs at
      // oracle scale; the engine's rank is the two-pass GlobalRank)
      """WITH k AS (SELECT doc_id,
        |  substring(md5('ep1-' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
        |  FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
        |    AS shuffle_rank, doc_id, shuffle_key
        |FROM k ORDER BY shuffle_rank""".stripMargin) { (s, d) =>
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      substring(md5(concat(lit("ep1-"), col("doc_id").cast("string"))), 1, 8)
        .as("shuffle_key"))
    operators.GlobalRank.withGlobalIndex(
        keyed, Seq(col("shuffle_key"), col("doc_id")), "shuffle_rank")
      .select(col("shuffle_rank"), col("doc_id"), col("shuffle_key"))
      .orderBy("shuffle_rank")
  }

  /** S7 epoch upsampling ([[Sampling.upsample]] through the recipe
    * terminal): the data-recipe weights {src0→2.5, src1→3.0, src2→0.25,
    * src3→0} — scarce sources run extra epochs, src3 is dropped, the
    * fractional copies fall to the deterministic "epoch|id" draw. Output
    * grain is (doc_id, epoch); the oracle replays floor/threshold and the
    * per-row copy explode exactly.
    */
  val s7EpochMix = gate("s7_epoch_mix",
      // upsample replayed: per-source (floor, frac-threshold) literals —
      // thresholdHex(0.5)=80000000, (0.25)=40000000, integer/zero fracs
      // never draw — the seeded "epoch|id" md5 cut, and the copy explode
      """WITH c AS (SELECT doc_id, source,
        |  (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3
        |     WHEN 'src2' THEN 0 WHEN 'src3' THEN 0 ELSE 1 END)
        |  + (CASE WHEN substring(md5('epoch|' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |       (CASE source WHEN 'src0' THEN '80000000'
        |          WHEN 'src2' THEN '40000000' ELSE '00000000' END)
        |     THEN 1 ELSE 0 END) AS copies
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
        |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin) { (s, d) =>
    import s.implicits._
    graft.api.CorpusRecipe(Tables.documents(s, d).select($"doc_id", $"source"))
      .upsample(Map("src0" -> 2.5, "src1" -> 3.0, "src2" -> 0.25,
        "src3" -> 0.0))
      .orderBy($"doc_id", $"epoch")
  }

  /** U2 k-anonymity suppression ([[graft.operators.Anonymize.kSuppress]]):
    * drop documents whose (lang, source, length-bucket) quasi-identifier
    * combination has fewer than 5 members — rare joint values are what
    * re-identify, t6's regex scrub can't see them. Both branches live at
    * both SFs (58 kept / 442 dropped at sf0.01; 4532 / 468 at sf0.1).
    * One hash shuffle on the QI key; the group count never buffers rows.
    */
  val u2KAnonymity = gate("u2_k_anonymity",
      // the window count over the QI key, then the >= k gate
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    count(*) OVER (PARTITION BY lang, source, n_chars // 100) AS n
        |  FROM documents)
        |WHERE n >= 5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    graft.operators.Anonymize
      .kSuppress(
        Tables.documents(s, d).select($"doc_id", $"lang", $"source", $"n_chars"),
        Seq($"lang", $"source", floor($"n_chars" / 100)), k = 5L)
      .orderBy($"doc_id")
  }

  /** S3 deterministic train/val/test split ([[Sampling.splitLabel]]): the
    * md5 draw cut at 0.9/0.95 — scan-local, engine-reproducible, and
    * STABLE under corpus growth (a doc's split never changes when other
    * docs arrive, the eval-contamination guarantee a per-run random split
    * cannot give).
    */
  val s3SplitAssign = gate("s3_split_assign",
      // thresholds are thresholdHex(0.9)/(0.95): floor-rounded 32-bit cuts of
      // the unit interval, fixed-width lowercase hex => lexicographic compare
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        Sampling.splitLabel($"doc_id",
          Seq("train" -> 0.9, "val" -> 0.05), "test").as("split"))
      .orderBy($"doc_id")
  }

  /** S5 LEAKAGE-FREE split: the md5 split draw is keyed on the NEAR-DUP
    * CLUSTER (e8's minhash-LSH connected components), not the row — every
    * member of a duplicate cluster lands in the SAME split, so
    * near-identical documents can never straddle train and eval. This is
    * the split-level contamination a row-keyed split (s3) cannot prevent
    * (Lee et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better" §4 measures exactly this train/test overlap), and it costs
    * one expression over labels the dedup pass already computed. Honest
    * trade vs s3: assignment is stable only while the CLUSTERS are stable
    * — a new arrival that merges two clusters re-draws the merged group
    * (inherent to any leakage-unit split; run it on the post-dedup frozen
    * corpus, which is where splits are cut anyway).
    */
  val s5LeakfreeSplit = gate("s5_leakfree_split",
      // e8's recursive-CTE cluster oracle feeding s3's md5 cut, keyed on the
      // CLUSTER id — the oracle proves both the labels and the draw key
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |cc AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster FROM reach GROUP BY a)
        |SELECT doc_id, cluster,
        |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
        |       WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    dedupClusters(s, d)
      .select($"doc_id", $"cluster",
        Sampling.splitLabel($"cluster",
          Seq("train" -> 0.9, "val" -> 0.05), "test").as("split"))
      .orderBy($"doc_id")
  }

  /** X1 sequence-packing manifest ([[SequencePack.packManifest]]):
    * documents concatenated in deterministic md5-draw order and cut into
    * 2048-token context windows; per doc, its global token offset and
    * chunk range. The offset is a distributed two-pass prefix sum — the
    * `sum() OVER (ORDER BY draw)` form the oracle uses would serialize
    * the corpus through one task (the empty-partition-spec window trap
    * PlanAuditSpec rejects).
    */
  val x1PackManifest = gate("x1_pack_manifest",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |c AS (SELECT doc_id, tokens,
        |    CAST(COALESCE(sum(tokens) OVER (ORDER BY draw, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM t WHERE tokens > 0)
        |SELECT doc_id, tokens, tok_offset,
        |  tok_offset // 2048 AS first_chunk,
        |  (tok_offset + tokens - 1) // 2048 AS last_chunk,
        |  (tok_offset + tokens - 1) // 2048 - tok_offset // 2048 + 1 AS n_chunks
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
    SequencePack.packManifest(docs, "doc_id", "n_tok", 2048L)
      .orderBy($"doc_id")
  }

  /** X2 doc-intact packing manifest ([[SequencePack.packNoSplit]]): the
    * other packing policy — no document split across context windows; docs
    * that miss the remainder open a new window. Sequential-greedy is a
    * chain, so the operator packs fixed 64-doc SHARDS independently (bins
    * never span shards, waste ≤ one open window per shard); the per-shard
    * fold is an `aggregate` HOF over the shard's sorted doc array. The
    * oracle replays the identical recurrence as a recursive CTE.
    */
  val x2PackNosplit = gate("x2_pack_nosplit",
      // x2 replays packNoSplit's greedy recurrence as a recursive CTE: the
      // anchor is each shard's first doc (always bin 0, off 0 — the fold's
      // fill=ctx sentinel), the recursive step carries (fill, bin) doc by doc
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents),
        |r AS (SELECT doc_id, tokens,
        |    (row_number() OVER (ORDER BY draw, doc_id) - 1) AS idx
        |  FROM t WHERE tokens > 0),
        |s AS (SELECT doc_id, tokens, idx // 64 AS shard,
        |    row_number() OVER (PARTITION BY idx // 64 ORDER BY idx) AS rn
        |  FROM r),
        |step AS (
        |  SELECT shard, rn, doc_id, tokens,
        |    CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off, tokens AS fill
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.shard, s.rn, s.doc_id, s.tokens,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |    CASE WHEN p.fill + s.tokens > 2048 THEN s.tokens ELSE p.fill + s.tokens END
        |  FROM s JOIN step p ON s.shard = p.shard AND s.rn = p.rn + 1)
        |SELECT doc_id, tokens, shard, bin, off FROM step ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tok"))
    SequencePack.packNoSplit(docs, "doc_id", "n_tok", 2048L, 64)
      .orderBy($"doc_id")
  }

  /** X4 training-sequence materialization ([[SequencePack.packTokenIds]]):
    * the step after x1's audit trail — emit the context windows
    * THEMSELVES. t19's per-doc BPE token ids (the loaded byte-level
    * model) lay end to end in the manifest's md5-draw order with an
    * end-of-text separator (id 260 — one past the 4-merge model's
    * 256+4-entry vocab, the GPT-2 boundary discipline) after each
    * document, cut into 512-token windows: `(chunk_id, n_tokens,
    * input_ids)`, every chunk full except the corpus's last. The oracle
    * composes t19's id replay with x1's offset window and groups by
    * `gp // 512`, building each window with a position-ordered `list()`
    * — the whole tensor content is under the hash, not a digest of it.
    *
    * GATE-ROW GRAIN (VERDICT r16 #1): the operator returns `input_ids:
    * array<bigint>` — the tensor a trainer loads — but the driver's
    * pandas comparator cannot sort/hash array cells, so the gate row
    * flattens the window to a space-joined scalar (`array_join`) on BOTH
    * sides. Same content under the hash (every id, in order), driver-
    * comparable type; callers get the array from the operator itself.
    */
  val x4PackTokenIds = gate("x4_pack_token_ids",
      // x4 composes t19's token-id replay with x1's offset window: ids per
      // doc (byte-level BPE under the map literals generated from the
      // engine's own tables), one separator id 260 appended per doc, md5-
      // draw prefix offsets, then windows assembled with a position-ordered
      // list() — the full tensor content under the hash
      (s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |w AS (SELECT doc_id, regexp_extract_all(text,
        |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\r\\f\\p{L}\\p{N}]+') AS ws FROM d),
        |wp AS (SELECT doc_id, i AS wpos, ws[i] AS word
        |  FROM w, unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE len(ws[i]) > 0),
        |wf AS (SELECT DISTINCT word FROM wp),
        |bs AS (SELECT word, upper(hex(encode(word))) AS h FROM wf),
        |sy AS (SELECT word, list_transform(generate_series(1, length(h)//2),
        |    i -> $duckByteRemap[substr(h, (i-1)*2+1, 2)][1]) AS cs FROM bs),
        |seg AS (SELECT word,
        |  replace(replace(replace(replace(
        |    array_to_string(list_transform(cs, x -> x || chr(31)), ''),
        |    't' || chr(31) || 'h' || chr(31), 'th' || chr(31)),
        |    'th' || chr(31) || 'e' || chr(31), 'the' || chr(31)),
        |    'g' || chr(31) || 'g' || chr(31), 'gg' || chr(31)),
        |    'a' || chr(31) || 'r' || chr(31), 'ar' || chr(31)) AS s
        |  FROM sy),
        |tok AS (SELECT word, string_split(rtrim(s, chr(31)), chr(31)) AS toks FROM seg),
        |tk AS (SELECT word, j AS tpos, toks[j] AS token
        |  FROM tok, unnest(generate_series(1, len(toks))) AS u(j)),
        |jj AS (SELECT wp.doc_id, wp.wpos, tk.tpos, tk.token
        |  FROM wp JOIN tk USING (word)),
        |pid AS (SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
        |  CAST($duckVocabMap[token][1] AS BIGINT) AS token_id FROM jj),
        |al AS (SELECT * FROM pid UNION ALL
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS pos,
        |    CAST(260 AS BIGINT) AS token_id FROM pid GROUP BY doc_id),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM al GROUP BY doc_id),
        |o AS (SELECT doc_id, CAST(COALESCE(sum(n) OVER (ORDER BY draw, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM cnt),
        |g AS (SELECT al.doc_id, o.tok_offset + al.pos AS gp, al.token_id
        |  FROM al JOIN o USING (doc_id))
        |SELECT gp // 512 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  array_to_string(list(token_id ORDER BY gp), ' ') AS input_ids
        |FROM g GROUP BY 1 ORDER BY 1""").stripMargin) { (s, d) =>
    import s.implicits._
    val model = graft.sources.ModelStore.loadBpe(s, s"${ensureBpeModels(s, d)}/gpt2b")
    // materialize ONCE before packing: packTokenIds executes its input
    // lineage twice (count build + join side, r20 — the production shape
    // writes ids to a lake first), and the BPE segmentation is the
    // expensive half of this row (measured 2.3 s → ~1.2 s, r19)
    val ids = operators.BpeTrain.tokenIds(
      Tables.documents(s, d).where($"doc_id" % 10 === 0), "doc_id", "text", model)
      .localCheckpoint()
    SequencePack.packTokenIds(ids, "doc_id", 512L, sepId = Some(260L))
      .select($"chunk_id", $"n_tokens",
        array_join($"input_ids".cast("array<string>"), " ").as("input_ids"))
      .orderBy($"chunk_id")
  }

  /** P3 — the END-TO-END pre-training data recipe as ONE declarative plan:
    * language-ID → quality gate → Gopher repetition gates (t5's signals)
    * → exact dedup → deterministic token-budget selection. Every scalar
    * gate (langid scores, quality, dup/top-2-gram fractions, token count)
    * fuses into the scan projection and the combined filter runs BEFORE
    * the first shuffle, so at 100 TB the dedup groupBy carries only the
    * multiply-gated survivor slice; the budget stage is
    * [[Sampling.tokenBudget]]'s distributed two-pass prefix sum over the
    * deduped survivors — no single-partition stage even though the recipe
    * budgets ONE stratum (the constant-stratum window trap this replaced).
    */
  val p3CorpusRecipe = gate("p3_corpus_recipe",
      // p1's langid+quality CTEs + t5's repetition CTEs + exact dedup + s2's
      // budget window, composed into the full recipe
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text, w,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |g AS (SELECT doc_id, text, w, n_tokens,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality,
        |  CASE WHEN len(w) >= 2 THEN list_transform(list_zip(w[1:len(w)-1], w[2:]), z -> z[1] || ' ' || z[2]) ELSE [] END AS g2
        |  FROM c),
        |rep AS (SELECT doc_id, text, n_tokens, pred, quality,
        |  round(CASE WHEN len(w) = 0 THEN 0 ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END, 6) AS dup_frac,
        |  round(CASE WHEN len(g2) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x))))::DOUBLE / len(g2) END, 6) AS top2
        |  FROM g),
        |clean AS (SELECT doc_id, text, n_tokens FROM rep
        |  WHERE pred = 'en' AND quality >= 0.5 AND dup_frac <= 0.6 AND top2 <= 0.1),
        |ded AS (SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tok FROM clean GROUP BY text),
        |cum AS (SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS cum FROM ded)
        |SELECT doc_id, n_tok FROM cum WHERE cum <= 2000 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    Sampling.tokenBudget(p3Deduped(s, d), "doc_id", "blk", "n_tok", Map("all" -> 2000L))
      .select($"doc_id", $"n_tok")
      .orderBy($"doc_id")
  }

  /** P4 — the FULL RefinedWeb/C4-style curation recipe through the
    * user-facing [[graft.api.CorpusRecipe]] builder, covering the steps p3
    * does not (r9 advice): synthetic PII and URLs attached (t6/u1's
    * construction discipline, so every stage provably FIRES) → PII scrub →
    * benchmark decontamination (e9's bench split) → exact dedup carrying
    * the keeper's url → per-domain cap (u1's md5-draw keeper order) →
    * token count. The scrub is a row-local regexp chain fused into the
    * scan projection; decontamination broadcasts the bench shingle set;
    * the dedup groupBy is the first corpus shuffle; the cap ships ≤ k ids
    * per domain through the bounded-heap aggregate. The oracle recomputes
    * the ENTIRE chain in SQL, so the builder's composition — step order,
    * column plumbing, keeper semantics — is driver-checked end-to-end,
    * not just each operator in isolation.
    */
  val p4CurationRecipe = gate("p4_curation_recipe",
      // the full curation-recipe chain recomputed in SQL: t6's scrub ∘ e9's
      // decontamination ∘ e1's dedup ∘ u1's capped-domain keeper order
      """WITH base AS (SELECT doc_id,
        |  text || (CASE WHEN doc_id % 3 = 0 THEN ' contact User' || doc_id || '@Example.COM' ELSE '' END) ||
        |         (CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END) ||
        |         (CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END) AS text,
        |  'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
        |  'u' || CAST(doc_id % 7 AS VARCHAR) || '.site' || CAST(doc_id % 23 AS VARCHAR) || '.' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'com' WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) ||
        |  '/page/' || CAST(doc_id AS VARCHAR) || '?ref=' || source AS url
        |  FROM documents WHERE doc_id % 10 <> 0),
        |scrub AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d-]{7,}\d', '<PHONE>', 'g') AS text, url FROM base),
        |ch AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM scrub))),
        |bh AS (SELECT DISTINCT ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(w)-4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0))),
        |bad AS (SELECT DISTINCT ch.doc_id FROM ch JOIN bh ON ch.h = bh.h),
        |keep AS (SELECT s.* FROM scrub s LEFT JOIN bad b ON s.doc_id = b.doc_id WHERE b.doc_id IS NULL),
        |ded AS (SELECT min(doc_id) AS doc_id, text, min(url) AS url FROM keep GROUP BY text),
        |dom AS (SELECT doc_id, text,
        |  regexp_extract(regexp_replace(regexp_extract(url, '^[a-z]+://([^/?]+)', 1), '^www\.', ''), '([^.]+\.[^.]+)$', 1) AS domain FROM ded),
        |rk AS (SELECT doc_id, text, domain, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk FROM dom)
        |SELECT doc_id, domain, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  md5(text) AS text_md5
        |FROM rk WHERE rk <= 5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val url = concat(lit("https://"),
      when($"doc_id" % 4 === 0, "www.").otherwise(""),
      lit("u"), $"doc_id" % 7, lit("."),
      lit("site"), $"doc_id" % 23, lit("."),
      when($"doc_id" % 3 === 0, "com").when($"doc_id" % 3 === 1, "org").otherwise("net"),
      lit("/page/"), $"doc_id", lit("?ref="), $"source")
    val piiText = concat($"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" contact User"), $"doc_id", lit("@Example.COM"))).otherwise(lit("")),
      when($"doc_id" % 5 === 0,
        concat(lit(" from 10.0."), ($"doc_id" % 256).cast("string"), lit(".7"))).otherwise(lit("")),
      when($"doc_id" % 7 === 0,
        concat(lit(" call +1-555-01"), lpad(($"doc_id" % 100).cast("string"), 2, "0"))).otherwise(lit("")))
    val docs = Tables.documents(s, d)
    val corpus = docs.where($"doc_id" % 10 =!= 0)
      .select($"doc_id", piiText.as("text"), url.as("url"))
    val bench = docs.where($"doc_id" % 10 === 0).select($"doc_id", $"text")
    graft.api.CorpusRecipe(corpus)
      .scrubPii()
      .decontaminate(bench, shingleK = 5)
      .exactDedup("url")
      .capPerDomain("url", 5)
      .countTokens("n_tok")
      .frame
      .select($"doc_id", registeredDomain($"url").as("domain"),
        $"n_tok", md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** P5 — the recipe steps p4 leaves spec-only (VERDICT r10 #5), composed
    * through [[graft.api.CorpusRecipe]]: l1's planted boilerplate chrome →
    * [[graft.api.CorpusRecipe.dropBoilerplateLines]] (broadcast blocklist,
    * row-local clean) → newline→space [[graft.api.CorpusRecipe.normalize]]
    * (so the token-level scrub sees one token stream) →
    * [[graft.api.CorpusRecipe.scrubSharedPassages]] (e11's exact substring
    * scrub, counted DF, never pair-expanded) → empty-doc gate → token
    * count. The oracle replays the ENTIRE chain — blocklist, rebuild,
    * shingle coverage, anti-join, rebuild again — so the step ORDER and
    * the clean-text column plumbing between the two rebuilds is what's
    * hash-checked, not each operator alone.
    */
  val p5ScrubRecipe = gate("p5_scrub_recipe",
      // the full l1-blocklist → newline-flatten → e11-passage-scrub chain
      // replayed in SQL: what's checked is the composition (clean text of
      // step 1 feeding the shingle pass of step 2), not each step alone
      """WITH src AS (SELECT doc_id, concat_ws(chr(10),
        |    'h ' || doc_id, text,
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today' END,
        |    CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved by the site' END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'click here to read more' END) AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM src),
        |ex AS (SELECT DISTINCT doc_id, unnest(lines) AS line FROM ls),
        |freq AS (SELECT line FROM ex GROUP BY line HAVING count(*) >= 10),
        |fl AS (SELECT coalesce(list(line), []) AS bad FROM freq),
        |cl AS (SELECT doc_id, replace(array_to_string(
        |    list_filter(lines, x -> NOT list_contains(bad, x)), chr(10)), chr(10), ' ') AS text
        |  FROM ls, fl),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM cl),
        |tok AS (SELECT doc_id, unnest(w) AS t, generate_subscripts(w, 1) - 1 AS pos FROM toks),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
        |         i -> {'pos': i-1, 's': w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]}),
        |         recursive := true) FROM toks WHERE len(w) >= 8),
        |sh AS (SELECT doc_id, pos, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h FROM bg),
        |dfq AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM sh GROUP BY h) WHERE nd >= 2),
        |cov AS (SELECT DISTINCT sh.doc_id, unnest(generate_series(sh.pos, sh.pos + 7)) AS cpos
        |        FROM sh JOIN dfq USING (h)),
        |kept AS (SELECT t.doc_id, t.pos, t.t FROM tok t LEFT JOIN cov
        |         ON t.doc_id = cov.doc_id AND t.pos = cov.cpos WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, array_to_string(list(t ORDER BY pos), ' ') AS ct FROM kept GROUP BY doc_id)
        |SELECT doc_id, CAST(len(string_split(ct, ' ')) AS BIGINT) AS n_tok,
        |  md5(ct) AS text_md5
        |FROM agg WHERE len(ct) > 0 ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val src = Tables.documents(s, d).select($"doc_id",
      concat_ws("\n",
        concat(lit("h "), $"doc_id"),
        $"text",
        when($"doc_id" % 2 === 0, "subscribe to our newsletter today"),
        when($"doc_id" % 3 === 0, "all rights reserved by the site"),
        when($"doc_id" % 5 === 0, "click here to read more")).as("text"))
    graft.api.CorpusRecipe(src)
      .dropBoilerplateLines(minDocs = 10)
      .normalize(c => regexp_replace(c, "\n", " "))
      .scrubSharedPassages(k = 8)
      .gate(length($"text") > 0)
      .countTokens("n_tok")
      .frame
      .select($"doc_id", $"n_tok", md5($"text").as("text_md5"))
      .orderBy($"doc_id")
  }

  /** X3 — the end-to-end TRAINING EXPORT composition (VERDICT r10 #6):
    * corpus in, training shards out, as one driver-checked row. The chain
    * a real user runs: token count → deterministic train/val/test split
    * ([[Sampling.splitLabel]]) → keep train → concat-then-chunk packing
    * manifest ([[SequencePack.packManifest]], the two-pass prefix sum) →
    * 64-chunk export shards with per-shard document count, token mass,
    * chunk range, and the m1-style order-independent bit_xor content
    * fingerprint. What this checks that x1/s3/m1 alone cannot: the split's
    * survivor set feeds the pack's draw order, the pack's offsets feed the
    * shard cut, and the fingerprint aggregates the same documents the
    * offsets placed there — the cross-operator column plumbing.
    */
  val x3TrainingExport = gate("x3_training_export",
      // split survivors -> draw-ordered prefix-sum offsets -> 512-token
      // chunks -> 64-chunk shards with m1's bit_xor content fingerprint
      """WITH t AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'),
        |c AS (SELECT doc_id, text, tokens,
        |    CAST(COALESCE(sum(tokens) OVER (ORDER BY draw, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM t WHERE tokens > 0),
        |m AS (SELECT doc_id, text, tokens,
        |    tok_offset // 512 AS first_chunk,
        |    (tok_offset + tokens - 1) // 512 AS last_chunk
        |  FROM c)
        |SELECT first_chunk // 64 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
        |  min(first_chunk) AS min_chunk,
        |  max(last_chunk) AS max_chunk,
        |  bit_xor(('0x' || substring(md5(text), 1, 15))::BIGINT) AS fp
        |FROM m GROUP BY 1 ORDER BY shard""".stripMargin) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val manifest = graft.api.CorpusRecipe(docs)
      .countTokens("n_tok")
      .split(Seq("train" -> 0.9, "val" -> 0.05), "test")
      .gate($"split" === "train")
      .packManifest("n_tok", 512L)
    manifest.join(docs, "doc_id")
      .groupBy(($"first_chunk" / 64).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"tokens").as("n_tokens"),
        min($"first_chunk").as("min_chunk"),
        max($"last_chunk").as("max_chunk"),
        expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint))").as("fp"))
      .orderBy($"shard")
  }

  /** P2 — the full training-data corpus pipeline as ONE declarative plan:
    * language-ID → quality gate → MinHash-LSH near-dup pairs → connected
    * components → one representative (min doc_id) per near-dup cluster,
    * with the cluster size it stands for. The scoring expressions fuse
    * into the scan projection and the filter runs BEFORE the sketch, so at
    * 100 TB the shingle/minhash stages — the pipeline's dominant cost —
    * only ever see the surviving clean-English slice; dedup then rides the
    * skew-safe band-pair machinery and the driver-finished CC. Exact
    * dedup is subsumed: identical texts share a signature, bucket, and
    * cluster. Hash-matched against a composed DuckDB oracle (p1's filter
    * CTEs + e2's sketch + e8's recursive-CTE closure).
    */
  val p2CorpusDedup = gate("p2_corpus_dedup",
      // p1's langid+quality filter CTEs + e2's minhash sketch + e8's
      // recursive-CTE transitive closure, composed: one representative
      // (min doc_id) per near-dup cluster of the clean-English slice
      """WITH RECURSIVE s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |q AS (SELECT doc_id, text,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
        |  FROM c),
        |clean AS (SELECT doc_id, text FROM q WHERE pred = 'en' AND quality >= 0.5),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM clean),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM toks),
        |hp AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h1,
        |               ('0x' || substring(md5(s), 17, 14))::BIGINT AS h2 FROM sh),
        |sig AS (SELECT doc_id, j, min((h1 + j * h2) & 1152921504606846975) AS minh
        |  FROM hp CROSS JOIN generate_series(0, 7) g(j) GROUP BY doc_id, j),
        |wide AS (SELECT doc_id,
        |  max(CASE WHEN j=0 THEN minh END) AS m0, max(CASE WHEN j=1 THEN minh END) AS m1,
        |  max(CASE WHEN j=2 THEN minh END) AS m2, max(CASE WHEN j=3 THEN minh END) AS m3,
        |  max(CASE WHEN j=4 THEN minh END) AS m4, max(CASE WHEN j=5 THEN minh END) AS m5,
        |  max(CASE WHEN j=6 THEN minh END) AS m6, max(CASE WHEN j=7 THEN minh END) AS m7
        |  FROM sig GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(CAST(m0 AS VARCHAR) || ',' || CAST(m1 AS VARCHAR)) AS bsig FROM wide
        |  UNION ALL SELECT doc_id, 1, md5(CAST(m2 AS VARCHAR) || ',' || CAST(m3 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 2, md5(CAST(m4 AS VARCHAR) || ',' || CAST(m5 AS VARCHAR)) FROM wide
        |  UNION ALL SELECT doc_id, 3, md5(CAST(m6 AS VARCHAR) || ',' || CAST(m7 AS VARCHAR)) FROM wide),
        |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |edges AS (SELECT d1 AS ea, d2 AS eb FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM clean
        |  UNION
        |  SELECT r.a, e.eb FROM reach r JOIN edges e ON r.b = e.ea),
        |cl AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
        |SELECT CAST(cluster AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS cluster_size
        |FROM cl GROUP BY cluster ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val pred = languagePick(tokens($"text"))
    val clean = Tables.documents(s, d)
      .select($"doc_id", $"text", pred.as("pred"),
        round(qualityScore($"text"), 6).as("quality"))
      .where($"pred" === "en" && $"quality" >= 0.5)
      .select($"doc_id", $"text")
    val pairs = TextDedup.minhashBandPairs(clean, "text", "doc_id", 8, 3, 4)
    ConnectedComponents.minLabel(clean.select($"doc_id"), pairs, "d1", "d2")
      .groupBy($"cluster")
      .agg(count(lit(1)).as("cluster_size"))
      .select($"cluster".as("doc_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** P1 corpus clean — the flagship training-data composition: language-ID
    * (t1's heuristic) → quality gate (t2's score ≥ 0.5) → exact dedup (e1's
    * min-id-per-text), one declarative plan. Catalyst fuses the langid +
    * quality expressions into the scan projection and the dedup groupBy is
    * the only shuffle; the filter runs BEFORE it, so at 100 TB the shuffle
    * carries only the surviving (clean, English) slice.
    */
  val p1CorpusClean = gate("p1_corpus_clean",
      // t1's langid CASE + t2's quality formula + e1's dedup, composed
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS np FROM documents),
        |c AS (SELECT doc_id, text,
        |  len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS s_en,
        |  len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein','zu','mit'))) AS s_de,
        |  len(list_filter(w, t -> t IN ('el','la','de','y','es','un','en','que'))) AS s_es,
        |  len(list_filter(w, t -> t IN ('le','la','de','et','est','un','en','que'))) AS s_fr,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  np::DOUBLE / greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
        |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and','to','in','is','it'))) AS BIGINT)::DOUBLE / greatest(len(w)::DOUBLE, 1.0) AS sw_ratio
        |  FROM s),
        |q AS (SELECT doc_id, text,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred,
        |  round(((CASE WHEN n_tokens::DOUBLE >= 5 AND n_tokens::DOUBLE <= 2000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.0 END)
        |    + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
        |  FROM c)
        |SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_count, min(quality) AS quality
        |FROM q WHERE pred = 'en' AND quality >= 0.5
        |GROUP BY text ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val pred = languagePick(tokens($"text"))
    Tables.documents(s, d)
      .select($"doc_id", $"text", pred.as("pred"),
        round(qualityScore($"text"), 6).as("quality"))
      .where($"pred" === "en" && $"quality" >= 0.5)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("dup_count"),
        min($"quality").as("quality"))
      .select($"doc_id", $"dup_count", $"quality")
      .orderBy($"doc_id")
  }
}
