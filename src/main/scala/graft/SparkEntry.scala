package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2 re-expressed
  * Spark-natively over the driver's parquet test tables; `oracleSql`
  * holds the equivalent DuckDB SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q5-shaped 5-way join + aggregation. */
  def entry(spark: SparkSession): DataFrame =
    Relational.joinMulti(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextOps.queries ++ CatalogQueries.queries ++
      Extended.queries ++ Multimodal.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (non-SQL-expressible ops,
    * e.g. HLL sketches / xxhash64 signatures) get a weaker rows-only
    * check. */
  def oracleSql: Map[String, String] =
    RelationalOracles.oracles ++ TextOps.oracles ++ CatalogQueries.oracles ++
      Extended.oracles ++ Multimodal.oracles
}
