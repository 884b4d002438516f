package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** One gate row: its registry name, the query over an sf dir, and the
  * DuckDB SQL whose result the query's output must hash-match (None → the
  * rows-only check). A row that re-drives another row's answer through a
  * second plan (a loaded artifact, a foreign vocab format, a streaming or
  * incremental path) passes that row's `oracle` instead of a copy of its
  * text: one oracle, two engine plans.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {
  def apply(s: SparkSession, d: String): DataFrame = build(s, d)
}

object Gate {
  /** name → gate; fails on a duplicate name. */
  def byName(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}

/** Base of the gate-family traits mixed into [[graft.Queries]]: every
  * `gate(...)` call registers its row, so the registry and the oracle map
  * are derived from the gate values themselves, in definition order.
  * Family traits initialize before `Queries`' own body, so by the time
  * `Queries.all` is built every row has registered.
  */
trait GateFamily {
  type Q = (SparkSession, String) => DataFrame

  private val registered = scala.collection.mutable.ArrayBuffer.empty[Gate]

  /** Every row the mixed-in families define. */
  private[graft] final def gates: Seq[Gate] = registered.toSeq

  protected final def gate(name: String, oracle: String)(build: Q): Gate =
    gate(name, Some(oracle))(build)

  protected final def gate(name: String, oracle: Option[String])(build: Q): Gate = {
    val g = Gate(name, build, oracle)
    registered += g
    g
  }

  // money sums: DECIMAL(18,2) before SUM, exact and order-independent
  protected val Dec = "decimal(18,2)"
  protected def dec(c: Column): Column = c.cast(Dec)
  protected def one: Column = lit(1).cast(Dec)
}
