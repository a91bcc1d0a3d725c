package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/**
 * Bucketed-table helpers: pre-shuffle a table ONCE at write time so every
 * subsequent equi-join/aggregation on the bucket key is exchange-free.
 *
 * At 100 TB this is the difference between shuffling the fact table on
 * every query and never shuffling it at all: two tables bucketed into the
 * same count on the join key sort-merge-join with ZERO Exchange operators
 * (asserted in BucketingSpec), because Spark trusts the on-disk hash
 * layout. Bucket count is a layout contract — pick it for the target
 * cluster's parallelism (tasks = buckets for bucket-local stages) and
 * keep it stable across tables that join together.
 */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table (parquet). The
    * pre-repartition aligns task hashing with bucket hashing so each
    * bucket lands in ONE file — which keeps file counts flat (tasks ×
    * buckets files otherwise) and is the precondition for the legacy
    * sorted-scan ordering flag should a deployment enable it (Spark 3.1+
    * re-sorts bucket scans by default; the Exchange is still elided). */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCols: Seq[String], nBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(nBuckets, bucketCols.map(df.col): _*)
      .write
      .mode(mode)
      .format("parquet")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
}
