package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generic exactly-once parquet sink for arbitrary streaming frames — the
  * [[Manifest]] protocol over a single `data` table, without the
  * validation-specific route views of [[ExactlyOnceSink]]. Used by the
  * streaming curation, quality and ANN pipelines.
  */
final class ManifestSink(outDir: String) extends Serializable {

  private val manifest = new Manifest(outDir, "data")

  def isCommitted(batchId: Long): Boolean = manifest.isCommitted(batchId)

  /** Idempotent per-batch write: data lands under `data/batch_id=N`, the
    * commit marker is published after the write completes — a torn write
    * leaves files but no marker, and the replay overwrites.
    */
  def writeBatch(df: DataFrame, batchId: Long): Unit =
    manifest.writeOnce(batchId)(df.write.mode("overwrite").parquet(_))

  /** Committed-only view with a `batch_id` column. */
  def read(spark: SparkSession): DataFrame =
    manifest.read(spark).getOrElse(spark.emptyDataFrame)
}
