package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Concat-then-chunk sequence packing — the step between a curated corpus
  * and a token-level training run: documents are laid end to end in a
  * deterministic pseudo-random order (the [[Sampling.drawHex]] md5 draw,
  * the "global shuffle" training prep wants) and the concatenation is cut
  * into fixed `ctxLen`-token context windows. The manifest records, per
  * document, its global token offset and the chunk range it lands in —
  * the audit trail that says exactly which context window(s) any document
  * trained in, bit-reproducible on any engine (the x1 gate row's DuckDB
  * oracle recomputes it).
  *
  * Scale shape: the global token offset is the [[GlobalRank]] two-pass
  * prefix-sum pattern extended from counting to summing (the
  * [[Sampling.tokenBudget]] machinery without strata): range-partition by
  * (draw, id) — a total order, uniformly spread because the draw is
  * uniform — sort within partitions, collect ONE long per partition
  * (the partition's token subtotal), broadcast the prefix offsets, and
  * emit offsets in a second pass over the SAME shuffle files. No
  * single-partition window anywhere; a
  * `sum().over(Window.orderBy(draw))` here would serialize the corpus
  * through one task — Spark's own WindowExec warning, the 100 TB trap
  * PlanAuditSpec rejects across the whole gate surface.
  *
  * EAGERNESS AND LINEAGE: like [[Sampling.tokenBudget]], pass 1 runs at
  * call time and the result is rebuilt via `createDataFrame` — an
  * analysis barrier; filter/project BEFORE calling.
  */
object SequencePack {

  /** Per-document packing manifest: `(idCol, tokens, tok_offset,
    * first_chunk, last_chunk, n_chunks)`, where `tok_offset` is the sum of
    * tokens over all documents strictly earlier in (draw, id) order and
    * chunks are `ctxLen`-sized cuts of the concatenation. Documents with
    * `tokenCol <= 0` are dropped (they occupy no window).
    *
    * `sepPerDoc = true` audits a [[packTokenIds]] run with `sepId` set
    * (ADVICE r16 — the manifest-agreement GRAIN contract, made automatic
    * instead of caller-supplied): offsets advance by `tokens + 1` per
    * document (the separator each doc appends), while `tokens` and the
    * `[first_chunk, last_chunk]` range keep describing the document's
    * OWN ids — the separator is boundary bookkeeping, not trained doc
    * content, so the chunk range a trainer audits must not include it.
    */
  def packManifest(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      ctxLen: Long,
      sepPerDoc: Boolean = false): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    val sepW = if (sepPerDoc) 1L else 0L
    val spark = df.sparkSession
    val drawName = "__sp_draw"
    val base = df
      .select(col(idCol), col(tokenCol).cast("long").as("tokens"))
      .where(col("tokens") > 0)
      .withColumn(drawName, Sampling.drawHex(col(idCol)))
    val n = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val sorted = base
      .repartitionByRange(n, col(drawName), col(idCol))
      .sortWithinPartitions(col(drawName), col(idCol))
    val ti = sorted.schema.fieldIndex("tokens")
    val rdd = sorted.rdd // ONE conversion — both jobs share the shuffle
    // pass 1: one token subtotal per partition (#partitions longs)
    val subtotals: Array[(Int, Long)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(ti) + sepW)
      Iterator.single((pid, s))
    }.collect()
    val offsets: Array[Long] = subtotals.sortBy(_._1).map(_._2)
      .scanLeft(0L)(_ + _).dropRight(1)
    val bOff = spark.sparkContext.broadcast(offsets)
    // pass 2: running offset within each partition, seeded from the prefix
    val ii = sorted.schema.fieldIndex(idCol)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bOff.value(pid)
      it.map { r =>
        val tokens = r.getLong(ti)
        val off = cum
        cum += tokens + sepW
        val first = off / ctxLen
        val last = (off + tokens - 1) / ctxLen
        Row(r.get(ii), tokens, off, first, last, last - first + 1)
      }
    }
    val schema = new StructType()
      .add(df.schema(idCol))
      .add("tokens", LongType, nullable = false)
      .add("tok_offset", LongType, nullable = false)
      .add("first_chunk", LongType, nullable = false)
      .add("last_chunk", LongType, nullable = false)
      .add("n_chunks", LongType, nullable = false)
    spark.createDataFrame(out, schema)
  }

  /** Materialize the actual fixed-length TRAINING SEQUENCES from a
    * token-id table — the step after [[packManifest]]'s audit trail: where
    * the manifest says which window each document lands in, this emits the
    * windows themselves, `(chunk_id, n_tokens, input_ids)` with
    * `input_ids` the `ctxLen` token ids of that context window in
    * training order. Input is the [[BpeTrain.tokenIds]] grain — one row
    * per (doc, position) with columns `(idCol, pos, token_id)`, `pos`
    * DENSE 0-based within each document (the tokenIds contract; a gapped
    * position column would silently misalign every later document's
    * tokens). Documents are laid end to end in the same deterministic
    * md5-draw order as [[packManifest]] — the two outputs describe ONE
    * packing, so a manifest row's `[first_chunk, last_chunk]` is exactly
    * where this function put that document's ids (spec-pinned) —
    * PROVIDED the manifest was computed at the same token grain: with
    * `sepId` set, this function packs SEPARATOR-INCLUSIVE counts
    * (tokens + 1 per non-empty document), so an external manifest built
    * from plain per-doc token counts (the documented countTokens path)
    * points at the wrong chunks for every later document. For a
    * sep-packed run, pass `sepPerDoc = true` to [[packManifest]] — it
    * advances offsets at the same separator-inclusive grain while the
    * chunk range keeps describing the document's own ids (ADVICE r16 —
    * the agreement is a GRAIN contract; the flag makes it automatic).
    *
    * `sepId` optionally appends one separator token after EACH document's
    * ids before packing (the GPT-2 end-of-text discipline — a trained
    * model needs the boundary mark to reset context); documents with no
    * id rows contribute nothing, separator included (they occupy no
    * window, matching the manifest's `tokens > 0` contract). Every chunk
    * is exactly `ctxLen` tokens except the corpus's last, which carries
    * the remainder — `n_tokens` lets the trainer drop or pad it
    * explicitly rather than this operator deciding.
    *
    * Scale shape: one doc-grain count, the manifest's two-pass prefix sum
    * (no single-partition window), one doc-keyed equi-join of offsets
    * back to the id rows, and one groupBy on chunk_id whose per-group
    * state is bounded by `ctxLen` structs — nothing corpus-sized on the
    * driver, nothing skewed beyond the chunk grain itself. The per-chunk
    * array assembles via sort_array over (pos_in_chunk, id) structs, so
    * the output is bit-identical under any partitioning. The `ids`
    * LINEAGE EXECUTES TWICE — once into the doc-grain count (the
    * manifest side) and once on the join side — so when it is an
    * expensive plan (a fresh [[BpeTrain.tokenIds]] over raw text),
    * materialize it to a lake (the production shape: the tokenizer run
    * writes ids once, packing reads them) or persist it first; a plain
    * parquet scan pays only a second read.
    */
  def packTokenIds(
      ids: DataFrame,
      idCol: String,
      ctxLen: Long,
      sepId: Option[Long] = None): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    require(!Set("pos", "token_id", "chunk_id", "n_tokens", "input_ids",
      "tokens", "tok_offset")(idCol),
      s"idCol '$idCol' collides with packTokenIds' internal/output columns")
    val base = ids.select(col(idCol), col("pos").cast("long").as("pos"),
      col("token_id").cast("long").as("token_id"))
    // Doc-grain id counts computed ONCE (r19 leftover: the old shape ran
    // the ids lineage 4× — once for the sep-row groupBy, once through the
    // sep-union into the manifest's counts, twice more implied on the
    // join side — because Catalyst re-executes shared subtrees per
    // branch). The count table is (id, long) — document-grain, the
    // smallest frame in the operator — and the lazy localCheckpoint pins
    // it for packManifest's (already eager, see class doc) pass-1 job, so
    // the sep rows and the manifest BOTH read the pinned copy: ids now
    // executes exactly twice (count build + join side), the documented
    // floor for this contract. Under AQE the lazy checkpoint defers only
    // its result stage: composing it runs the count's shuffle stage at
    // once (1 job on sf0.001; packTokenIds runs 4 jobs at composition).
    val cnt = base.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val (withSep, counts) = sepId match {
      case Some(sid) =>
        val pinned = cnt.localCheckpoint(eager = false)
        (base.unionByName(
          pinned.select(col(idCol), col("__n").as("pos"),
            lit(sid).cast("long").as("token_id"))),
          pinned.select(col(idCol), (col("__n") + 1L).as("__n")))
      case None => (base, cnt)
    }
    val offsets = packManifest(counts, idCol, "__n", ctxLen)
      .select(col(idCol), col("tok_offset"))
    withSep.join(offsets, idCol)
      .select((col("tok_offset") + col("pos")).as("__g"), col("token_id"))
      // longs stay longs: `div` is exact integer division (a `/` here
      // would route through double and lose exactness past 2^53 tokens —
      // a 100 TB corpus is ~10^13 tokens, uncomfortably close)
      .select(expr(s"CAST(__g DIV $ctxLen AS BIGINT)").as("chunk_id"),
        (col("__g") % ctxLen).as("__p"), col("token_id"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        transform(array_sort(collect_list(struct(col("__p"), col("token_id")))),
          x => x.getField("token_id")).as("input_ids"))
      .select(col("chunk_id"), col("n_tokens"), col("input_ids"))
  }

  /** Document-INTACT greedy packing — the other standard packing policy
    * beside [[packManifest]]'s concat-then-chunk: no document is ever split
    * across context windows; a doc that doesn't fit the current window's
    * remainder opens a new one (the remainder is padding). A doc longer
    * than `ctxLen` gets a window of its own (truncation is a separate,
    * explicit step — silent truncation here would corrupt the audit trail).
    *
    * Greedy packing is a sequential recurrence (each doc's bin depends on
    * every earlier remainder), so a corpus-wide chain cannot parallelize.
    * The production answer is SHARDED packing: documents are laid out in
    * the deterministic [[Sampling.drawHex]] md5-draw order (same global
    * shuffle as [[packManifest]]), cut into fixed `shardDocs`-sized shards
    * by the [[GlobalRank]] two-pass rank, and each shard packs its own bins
    * independently — embarrassingly parallel, bins never span shards, and
    * the waste is bounded by one open window per shard. Within a shard the
    * fold runs as an `aggregate` higher-order function over the shard's
    * sorted doc array, so the whole operator is one rank pass + one
    * shuffle, no driver loop, no window-without-partition.
    *
    * Sizing `shardDocs`: group state is `shardDocs` structs, but the HOF
    * fold rebuilds its accumulator array per element — O(shardDocs²)
    * struct copies per shard — so keep shards at ~10^3 docs (the waste,
    * ≤ one open window per shard, is already ≈0.1% there; quadrupling the
    * shard buys ~nothing and pays 16× the fold).
    *
    * Returns `(idCol, tokens, shard, bin, off)`: bin is the within-shard
    * window ordinal, off the doc's token offset inside its window.
    * Deterministic for a given (corpus, ctxLen, shardDocs) — the x2 gate
    * row's DuckDB oracle replays the same recurrence as a recursive CTE.
    */
  def packNoSplit(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      ctxLen: Long,
      shardDocs: Int): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive, got $ctxLen")
    require(shardDocs > 0, s"shardDocs must be positive, got $shardDocs")
    val base = df
      .select(col(idCol), col(tokenCol).cast("long").as("tokens"))
      .where(col("tokens") > 0)
      .withColumn("__draw", Sampling.drawHex(col(idCol)))
    val ranked = GlobalRank
      .withGlobalIndex(base, Seq(col("__draw"), col(idCol)), "__idx")
      .withColumn("shard", (col("__idx") / shardDocs).cast("long"))
    // the struct carries the id column's ORIGINAL type (ADVICE r10 #1):
    // the old cast-to-bigint silently nulled string/UUID doc ids (or threw
    // under ANSI mode), diverging from packManifest's type preservation
    val idSql = df.schema(idCol).dataType.sql
    val rowsT = s"array<struct<id:$idSql,tokens:bigint,bin:bigint,off:bigint>>"
    // fill starts at ctxLen so the first doc always "overflows" into bin 0
    // at off 0 — the same sentinel the oracle's rn=1 anchor encodes
    val init = struct(
      lit(ctxLen).as("fill"), lit(-1L).as("bin"),
      expr(s"CAST(array() AS $rowsT)").as("rows"))
    def step(acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) = {
      val over = acc("fill") + x("tokens") > lit(ctxLen)
      val bin = when(over, acc("bin") + 1L).otherwise(acc("bin"))
      val off = when(over, lit(0L)).otherwise(acc("fill"))
      val fill = when(over, x("tokens")).otherwise(acc("fill") + x("tokens"))
      struct(fill.as("fill"), bin.as("bin"),
        concat(acc("rows"), array(struct(
          x("id").as("id"), x("tokens").as("tokens"),
          bin.as("bin"), off.as("off")))).as("rows"))
    }
    ranked
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(struct(
        col("__idx"), col(idCol).as("id"), col("tokens")))).as("docs"))
      .select(col("shard"),
        aggregate(col("docs"), init, step, acc => acc("rows")).as("rows"))
      .select(col("shard"), explode(col("rows")).as("r"))
      .select(col("r.id").as(idCol), col("r.tokens").as("tokens"),
        col("shard"), col("r.bin").as("bin"), col("r.off").as("off"))
  }
}
