package graft

import graft.gates._

/** The engine's query corpus: one entry per operator in SURVEY.md §2 plus
  * the §2.E training-data-pipeline extensions, each over the driver's
  * synthetic tables with a DuckDB-checkable oracle (SparkEntry.oracleSql).
  * Each row is one [[gates.Gate]] value in its family trait under
  * `graft.gates`; the registry and the oracle map below are derived from
  * those values.
  *
  * Cross-engine determinism rules used throughout (so hash-compare passes):
  *  - money/decimal aggregates: cast to DECIMAL(18,2) before SUM (exact,
  *    order-independent), cast the result to DOUBLE;
  *  - integer aggregates: CAST(SUM(..) AS BIGINT) on the oracle side
  *    (DuckDB widens BIGINT sums to HUGEINT);
  *  - float folds (dot products, norms): sequential left-to-right DOUBLE
  *    accumulation on both sides — bit-identical — then ROUND(.., 6);
  *  - every query ends in a total ORDER BY.
  */
object Queries
    extends IngestVectorGates with RelationalGates with StreamingGates
    with DedupGates with RetrievalGates with LakeGates with TokenizerGates
    with RecipeGates {

  private val byName = Gate.byName(gates)

  /** name → query function. */
  val all: Map[String, Q] = byName.map { case (n, g) => n -> g.build }

  /** name → DuckDB oracle SQL; a row without one gets the rows-only check. */
  val oracle: Map[String, String] =
    byName.collect { case (n, Gate(_, _, Some(sql))) => n -> sql }
}
