package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.VectorSearch
import graft.queries.QueryRegistry

/** Entry-point contract: the flagship `entry` query, and the declared
  * queries and their DuckDB oracles keyed by name. Both maps are views
  * of [[graft.queries.QueryRegistry]], where each query is declared
  * next to its oracle. Float policy: distances are computed in float64
  * with strictly left-to-right accumulation on both sides (Spark
  * `aggregate` fold ≡ left-associative SQL `+` chain), so hashes match
  * bit-for-bit. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.knnExactDf(corpus, query, k = 10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.specs.map(q => q.name -> q.build).toMap

  /** For each key in [[queries]], equivalent SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.specs.map(q => q.name -> q.oracleSql()).toMap
}
