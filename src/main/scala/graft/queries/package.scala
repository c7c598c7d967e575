package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** A registry entry: the query over the base tables in `dir`. */
  type Build = (SparkSession, String) => DataFrame

  /** A registry entry that is its SQL text: the base tables registered
    * as views over `dir`, then the text through [[Engine.sql]], the one
    * path from text to result that DuckDB's side of the oracle takes
    * too; in [[Engine.withGraft]] of the caller's session. */
  final case class SqlQuery(text: String) extends Build {
    def apply(s: SparkSession, dir: String): DataFrame = {
      val spark = Engine.withGraft(s)
      Engine.registerAll(spark, dir)
      Engine.sql(spark, text)
    }
  }

  def sqlQuery(text: String): SqlQuery = SqlQuery(text)

  /** A module's registry: its hand builds, and every other entry of
    * `sql` (name → text) as that text. */
  def registry(hand: Map[String, Build], sql: Map[String, String]): Map[String, Build] =
    hand ++ (sql -- hand.keySet).map { case (name, text) => name -> sqlQuery(text) }
}
