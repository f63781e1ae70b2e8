package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine operation: a Spark query over a table dir plus, when
  * the semantics are ANSI-SQL-expressible, a DuckDB oracle query over the
  * same parquet tables. Operations without an oracle get the driver's
  * weaker rows-only check.
  *
  * Constructors:
  *   - [[Op.sql]]: one SQL text is both; Spark runs it through
  *     [[Tables.sql]], DuckDB as written. A plain query over the tables
  *     takes this form.
  *   - `Op(name, oracle) { (s, d) => ... }`: a hand-built DataFrame for a
  *     mechanism the text lacks (a sketch, a fixpoint, a salted join, an
  *     incremental merge, a dialect gap); the oracle proves it equal to
  *     the plain query.
  *   - [[Op.noOracle]]: a DataFrame with a rows-only check.
  *
  * Column-name contract: the Spark result and the oracle result MUST use
  * identical column names (the driver sorts columns by name before hashing).
  */
final case class Op(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Op {
  def apply(name: String, oracle: String)(
      q: (SparkSession, String) => DataFrame): Op =
    Op(name, q, Some(oracle))

  /** The Spark query of an [[Op.sql]] entry: `text` over a table dir. */
  final case class Sql(text: String)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = Tables.sql(s, d, text)
  }

  def sql(name: String, text: String): Op = Op(name, Sql(text), Some(text))

  def noOracle(name: String)(q: (SparkSession, String) => DataFrame): Op =
    Op(name, q, None)
}
