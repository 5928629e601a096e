package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The exactly-once manifest protocol every graft sink is built on (the
  * Iceberg-append contract rebuilt on plain parquet, SURVEY.md §7.6):
  *
  *  1. a micro-batch writes one table directory `table/batch_id=<id>/`
  *     (Hive-style partition dir, so readers get `batch_id` for free) with
  *     mode=overwrite → a torn write is repaired by the replay;
  *  2. after the write lands, a `_commits/<id>` marker is moved into place
  *     atomically; a replayed batch (post-restart) sees the marker and
  *     SKIPS — idempotent under Spark's at-least-once foreachBatch;
  *  3. readers see committed batches only.
  *
  * At cluster scale the marker dir lives on the same object store as the
  * table; one tiny file per micro-batch.
  */
final class Manifest(outDir: String, table: String) extends Serializable {

  private def marker(batchId: Long) = Paths.get(s"$outDir/_commits/$batchId")

  def isCommitted(batchId: Long): Boolean = Files.exists(marker(batchId))

  /** Published batch ids; `.tmp_<id>` leftovers of a crash mid-publish are not. */
  def committedBatches(): Set[Long] = names(s"$outDir/_commits")
    .filter(_.forall(_.isDigit)).map(_.toLong).toSet

  /** Idempotent per-batch write: `write` receives the batch directory and
    * the marker is published once it returns; a committed batch is a no-op.
    */
  def writeOnce(batchId: Long)(write: String => Unit): Unit = {
    if (isCommitted(batchId)) return // replay after restart → no-op
    write(s"$outDir/$table/batch_id=$batchId")
    publish(batchId)
  }

  /** Atomic publish: write a temp file, then ATOMIC_MOVE into _commits. */
  private def publish(batchId: Long): Unit = {
    Files.createDirectories(Paths.get(s"$outDir/_commits"))
    val tmp = Paths.get(s"$outDir/_commits/.tmp_$batchId")
    Files.write(tmp, batchId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, marker(batchId), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Committed-only view of the table with a long `batch_id` column; None
    * while no committed batch holds a data file.
    */
  def read(spark: SparkSession): Option[DataFrame] = {
    val present = names(s"$outDir/$table").filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).toSet
    val committed = committedBatches()
    // Exclude the UNCOMMITTED partitions, not include the committed ones:
    // the committed set grows with stream LIFETIME (10^5 micro-batches =
    // a 10^5-literal isin that blows up plan size and analysis time),
    // while uncommitted = torn/in-flight batches — bounded by concurrent
    // writers (usually 0–1) no matter how long the stream has run.
    // batch_id is a directory-partition column, so the filter prunes at
    // file listing.
    val uncommitted = present -- committed
    // Schema comes from ONE committed batch dir (the newest that holds a
    // data file), then is passed explicitly: schema INFERENCE over the
    // whole table dir would sample footers of torn files in uncommitted
    // dirs and could throw — violating "readers see committed batches
    // only" before the partition filter ever runs.
    val schemaDir = (present & committed).toSeq.sorted.reverseIterator
      .map(id => s"$outDir/$table/batch_id=$id")
      .find(d => names(d).exists(n => !n.startsWith("_") && !n.startsWith(".")))
      .getOrElse(return None)
    val schema = spark.read.parquet(schemaDir).schema
    val all = spark.read.schema(schema.add("batch_id", "long"))
      .parquet(s"$outDir/$table")
    Some(if (uncommitted.isEmpty) all
      else all.filter(!col("batch_id").isin(uncommitted.toSeq: _*)))
  }

  private def names(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty else d.list().toSeq
  }
}
