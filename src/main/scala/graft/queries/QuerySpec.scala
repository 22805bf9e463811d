package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query and its DuckDB oracle, paired by construction:
  * `run(spark, sfDir)` builds the Spark plan over the corpus dir's
  * parquet tables, and `oracle(sfDir)` is the SQL that replays it over
  * the same tables. The oracle takes the dir because the
  * artifact-backed queries (t12 weights, v7 centroids, v12/v15
  * codebooks) read parquet that their run persisted under a
  * dir-keyed path. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String => String)
