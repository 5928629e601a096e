package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once routing sink for `foreachBatch`.
  *
  * The reference emits to `valid_data` / `blacklists` / `webdata` via three
  * independent producers with NO transactional coupling — a blacklist send
  * failure is even swallowed (TopologyProducer.java:286-290); the north rule
  * upgrades this to exactly-once. Layout: one `decisions` table per batch;
  * routes are committed views. Each micro-batch writes only
  * `decisions/batch_id=<id>/` under the [[Manifest]] protocol (in prod an
  * Iceberg append with the same batchId manifest), and `valid` /
  * `rejected` / `webdata` / `metrics` are projections of its committed
  * batches at read time.
  */
final class ExactlyOnceSink(outDir: String) extends Serializable {

  private val manifest = new Manifest(outDir, "decisions")

  def isCommitted(batchId: Long): Boolean = manifest.isCommitted(batchId)

  def committedBatches(): Set[Long] = manifest.committedBatches()

  /** Write one decision micro-batch. Safe to call twice with the same id.
    *
    * ONE write job, the only execution of the micro-batch plan: a
    * foreachBatch DataFrame re-executes its whole plan per action —
    * including any upstream STATEFUL operator, so a second action would
    * recompute the dedup state op and double-count its watermark-drop
    * metrics. The routes are filters at read time, not physical
    * partitions: a decision-PARTITIONED write pays a dynamic-partition
    * sort of the full-text rows (16 s on a 16.8M-row batch).
    * `partition_id` is the writing task's partition, the lineage key of
    * the `metrics` view. Dictionary encoding is off: high-entropy
    * message text only burns CPU before the encoder falls back
    * (15.1 s → 11.7 s on a 16.8M-row batch).
    */
  def writeBatch(decisions: DataFrame, batchId: Long): Unit =
    manifest.writeOnce(batchId) { dir =>
      decisions.withColumn("partition_id", spark_partition_id())
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .parquet(dir)
    }

  /** Committed-only view of one output kind: `decisions` (the table
    * itself), or the `valid` / `rejected` / `webdata` routes (the
    * reference's topic payloads) and the per-`(batch_id, partition_id)`
    * `metrics` lineage counts. Parquet column pruning and filter pushdown
    * make the projections cheap.
    */
  def read(spark: SparkSession, kind: String): DataFrame =
    manifest.read(spark).fold(spark.emptyDataFrame) { df =>
      val isValid = col("decision") === "valid"
      val isRejected = col("decision") === "rejected"
      kind match {
        case "decisions" => df
        case "valid" => df.filter(isValid).select("conv_id", "turn_idx", "role",
          "tool", "ts", "text", "reason", "promoted", "batch_id")
        case "rejected" => df.filter(isRejected).select("conv_id", "turn_idx",
          "role", "tool", "ts", "reason", "uuid", "batch_id")
        case "webdata" => df.select(col("conv_id"), col("turn_idx"),
          explode(col("webdata")).as("payload"), col("batch_id"))
        case "metrics" => df.groupBy("batch_id", "partition_id")
          .agg(
            sum(when(isValid, 1L).otherwise(0L)).as("rows_validated"),
            sum(when(isRejected, 1L).otherwise(0L)).as("rows_rejected"),
            min("ts").as("ts_min"), max("ts").as("ts_max"))
          .select("partition_id", "rows_validated", "rows_rejected",
            "ts_min", "ts_max", "batch_id")
        case other => throw new IllegalArgumentException(s"unknown sink output '$other'")
      }
    }
}
