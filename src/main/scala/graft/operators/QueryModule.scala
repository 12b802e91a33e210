package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A family of named catalog queries plus their DuckDB oracle SQL.
  *
  * A query is a DataFrame program or, where Catalyst compiles its
  * oracle text to the same plan, that text itself:
  * `name -> SqlProgram(oracles(name))` (so `oracles` is defined before
  * `queries`).
  *
  * `queries` keys and `oracles` keys line up; a query key absent from
  * `oracles` gets the driver's weaker rows-only check (reserved for
  * operators whose semantics are not ANSI-SQL-expressible, e.g. hash
  * sketches). Every oracle-checked query must end in a total ORDER BY
  * (or be a single row) so the driver's in-order hash compare is
  * deterministic, and every computed/aggregate column must carry the
  * same alias in both the program and the SQL.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
