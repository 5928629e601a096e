package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen
import graft.sink.ExactlyOnceSink
import graft.validate.ValidationPipeline

/** Contracts of the validation routing sink: the column list and order of
  * every route read, row-equality with [[ValidationPipeline.routes]],
  * committed-only reads over a torn batch directory, and one write job per
  * micro-batch.
  */
class SinkSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  private lazy val dec: DataFrame = ValidationPipeline.decide(spark,
    TranscriptGen.turnsDs(spark, 40, 10, 0).toDF(), TranscriptGen.catalog).toDF()
    .localCheckpoint()

  /** The column list of each route read, in order — the sink's public contract. */
  private val contract = Map(
    "valid" -> Seq("conv_id", "turn_idx", "role", "tool", "ts", "text", "reason",
      "promoted", "batch_id"),
    "rejected" -> Seq("conv_id", "turn_idx", "role", "tool", "ts", "reason", "uuid",
      "batch_id"),
    "webdata" -> Seq("conv_id", "turn_idx", "payload", "batch_id"),
    "metrics" -> Seq("partition_id", "rows_validated", "rows_rejected", "ts_min",
      "ts_max", "batch_id"))

  private def sameRows(got: DataFrame, want: DataFrame): Boolean =
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty

  test("route reads keep their column contract and equal ValidationPipeline.routes") {
    val out = tmp("contract")
    val sink = new ExactlyOnceSink(out)
    sink.writeBatch(dec, 5L)
    for ((kind, cols) <- contract)
      assert(sink.read(spark, kind).columns.toSeq == cols, kind)

    val (v, r, w) = ValidationPipeline.routes(dec)
    assert(v.count() > 0 && r.count() > 0 && w.count() > 0, "fixture must exercise every route")
    for ((kind, want) <- Seq("valid" -> v, "rejected" -> r, "webdata" -> w)) {
      val got = sink.read(spark, kind)
      assert(got.filter(col("batch_id") =!= 5L).isEmpty, kind)
      assert(sameRows(got.drop("batch_id"), want), s"$kind differs from routes")
    }

    val m = sink.read(spark, "metrics")
    val tot = m.agg(sum("rows_validated"), sum("rows_rejected")).head()
    assert(tot.getLong(0) == v.count() && tot.getLong(1) == r.count())
    assert(m.count() == m.select("batch_id", "partition_id").distinct().count(),
      "one metrics row per (batch_id, partition_id)")
    assert(m.filter(col("ts_min") > col("ts_max")).isEmpty)
  }

  test("torn-file read: an uncommitted batch holding a non-parquet file stays invisible") {
    val out = tmp("torn_file")
    val sink = new ExactlyOnceSink(out)
    sink.writeBatch(dec, 5L)
    val before = contract.keys.map(k => k -> sink.read(spark, k).count()).toMap
    // batch 4 sorts before batch 5 in any listing order: a reader that
    // infers its schema from the first file it finds opens the torn one
    val torn = Paths.get(s"$out/decisions/batch_id=4")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000-torn.snappy.parquet"), "PAR1\u0015\u0000trunc".getBytes("UTF-8"))
    assert(!sink.isCommitted(4L))
    for (kind <- contract.keys.toSeq :+ "decisions") {
      val got = sink.read(spark, kind)
      assert(got.filter(col("batch_id") =!= 5L).isEmpty, kind)
      if (kind != "decisions") assert(got.count() == before(kind), kind)
    }
    assert(sink.read(spark, "decisions").count() == dec.count())
  }

  test("writeBatch runs the batch plan once, in one job, into one data directory") {
    val out = tmp("one_job")
    val sink = new ExactlyOnceSink(out)
    val evals = spark.sparkContext.longAccumulator("decisions_plan_rows")
    val probe = udf { (s: String) => evals.add(1L); s }.asNondeterministic()
    val counted = dec.withColumn("conv_id", probe(col("conv_id")))
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.set(0)
      sink.writeBatch(counted, 0L)
      org.apache.spark.GraftListenerBus.drain(sc)
      assert(jobs.get() == 1, s"writeBatch ran ${jobs.get()} jobs")
    } finally sc.removeSparkListener(listener)
    assert(evals.value == dec.count(), "the decisions plan ran more than once")
    sink.writeBatch(counted, 1L)

    val root = Paths.get(out)
    val dataDirs = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p.getParent).toString).toSet
    assert(dataDirs == Set("decisions/batch_id=0", "decisions/batch_id=1"), dataDirs)
    val top = Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet
    assert(top == Set("decisions", "_commits"), top)
  }
}
