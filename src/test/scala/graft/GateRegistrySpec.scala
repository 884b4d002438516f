package graft

import graft.gates.Gate
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The gate registry is derived from the `Gate` values; these checks catch
  * a row dropped, renamed or left without its oracle when rows move
  * between family files. Pure registry checks — no Spark session.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val byName = Queries.gates.map(g => g.name -> g).toMap

  test("gate names are distinct and equal bench_bands.json's key set") {
    val names = Queries.gates.map(_.name)
    assert(names.distinct.size == names.size)
    val bands = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("bench_bands.json")).fieldNames().asScala.toSet
    assert(bands.size == 164)
    assert(names.toSet == bands)
    assert(SparkEntry.queries.keySet == bands)
  }

  test("exactly the six no_oracle rows have no oracle") {
    val noOracle = Queries.gates.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle == Set("c7_ivf_cluster", "c7_pq_ann", "c8_ann_ivf",
      "c8_ann_rewrite", "e7_hll_distinct", "t29_unigram_fit"))
    assert(SparkEntry.oracleSql.size == 158)
  }

  test("alias and twin rows carry their twin's oracle string") {
    val twins = Seq(
      "b16_csv_roundtrip" -> "b15_jsonl_roundtrip",
      "b17_orc_roundtrip" -> "b15_jsonl_roundtrip",
      "c8_ann_ivf_append" -> "c8_ann_ivf_det",
      "e2s_stream_pairs" -> "e2_minhash_pairs",
      "e4d_jaccard_zipf_exact" -> "e4c_jaccard_zipf",
      "e8b_cluster_star" -> "e8_dedup_cluster",
      "e9b_contamination_bloom" -> "e9_contamination",
      "r5_bm25_incremental" -> "r3_bm25_topk",
      "t10a_vocab_sketch" -> "t10_vocab_topk",
      "t14a_bpe_segment_scalable" -> "t14_bpe_segment",
      "t14b_bpe_segment_loaded" -> "t14_bpe_segment",
      "t15b_bpe_counts_loaded" -> "t15_bpe_token_counts",
      "t19b_bpe_ids_gpt2txt" -> "t19_bpe_token_ids",
      "t22_ngram_lm_store" -> "t21_ngram_lm",
      "t23_ngram_lm_append" -> "t21_ngram_lm",
      "t24b_wordpiece_loaded" -> "t24_wordpiece_segment",
      "t24c_wordpiece_bert_vocab" -> "t24_wordpiece_segment",
      "t27b_unigram_sp_vocab" -> "t27_unigram_segment")
    twins.foreach { case (row, twin) =>
      val (a, b) = (byName(row).oracle, byName(twin).oracle)
      assert(a.isDefined && b.isDefined, s"$row / $twin")
      assert(a.get eq b.get, s"$row must reference $twin's oracle, not a copy")
    }
  }

  test("a duplicate gate name fails the registry build") {
    val g = Gate("x", (s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException](Gate.byName(Seq(g, g.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("duplicate gate names: x"))
  }
}
