package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query; each SQL-expressible one carries an equivalent DuckDB oracle
  * (same column names/aliases on both sides — the driver's compare
  * sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship query: the full decode-map pipeline (reference topology
    * M1/M4 re-expressed) on sf0.001; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftExtensions.setup(spark)
    Registry.all.find(_.name == "p01_decode_full").get
      .fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        GraftExtensions.setup(s)
        q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (audio decode internals, distributed float means) → driver records
    * a weaker rows-only check for those.
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
