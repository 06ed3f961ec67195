package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: `build` returns its deterministic, fully ordered
  * DataFrame over a table directory (`(spark, sfDir)`), and `oracle` is
  * the DuckDB SQL that computes the same answer over the same parquet
  * tables, with the same column names (the compare sorts columns by name
  * before hashing). Each family object lists its queries as `entries`;
  * `SparkEntry.queries` and `SparkEntry.oracleSql` are derived from them.
  */
final case class NamedQuery(name: String, build: (SparkSession, String) => DataFrame, oracle: String)
