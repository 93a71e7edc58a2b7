package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark plan builder plus (usually) an
  * exactly-equivalent DuckDB SQL oracle over the same parquet tables.
  *
  * Determinism contract (driver hash-compares values):
  *  - every query ends with a total ORDER BY mirrored in the oracle;
  *  - every double output is round()ed;
  *  - every timestamp output is formatted to a string;
  *  - DuckDB integer aggregates are cast to BIGINT (sum(int) is HUGEINT there).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
