package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, its Spark body and the DuckDB SQL that
  * the oracle gate compares it with. Each query object lists its queries
  * as `specs`; `Queries.specs` flattens them into the registry that
  * `SparkEntry` serves.
  */
final case class QuerySpec(name: String, run: QuerySpec.Q, oracle: String)

object QuerySpec {
  /** A query body: (session, testdata directory) => result. */
  type Q = (SparkSession, String) => DataFrame
}
