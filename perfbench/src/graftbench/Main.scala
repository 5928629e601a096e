package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.fixtures.TranscriptGen
import graft.model.{Schemas, Turn}
import graft.sink.{ExactlyOnceSink, ManifestSink}
import graft.streaming.{DedupState, StreamCuration, StreamValidate}
import graft.validate.ValidationPipeline

/** One workload run in its own JVM:
  *
  *   set-up (session, seeded inputs, one untimed warm-up query)
  *   → timed drains until `--seconds` of drain time have accumulated, each
  *     followed by an untimed read-back and output check
  *   → with `--trace 1`, the same drains again with listeners attached,
  *     then replays of each layer call in isolation.
  *
  * Writes `result.json` (and, traced, `spans.jsonl` and `layers.txt`) into
  * `--work`; the launcher prints them.
  */
object Main {

  /** Wider than any generated backlog's event-time span: no turn is ever
    * late and no state times out inside a run, so the batch path is an
    * exact reference for the committed outputs.
    */
  val Watermark = "3650 days"
  /** Files per backlog. A backlog drain takes all of them in one trigger. */
  val BacklogFiles = 16

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val work = new File(o("work")).getAbsolutePath
    val run = new Run(o("seed").toLong, o("seconds").toDouble, o.get("trace").contains("1"), work)
    val result = workload match {
      case "validate_backlog" => run.turnBacklog(withDedup = false)
      case "dedup_backlog" => run.turnBacklog(withDedup = true)
      case "live_tail" => run.liveTail()
      case "curation_stream" => run.curation()
      case other => sys.error(s"unknown workload $other")
    }
    val tmp = Paths.get(work, "result.json.tmp")
    Files.write(tmp, result.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(work, "result.json"), StandardCopyOption.ATOMIC_MOVE)
    run.spark.stop()
  }
}

/** Order-independent content digest of a frame: row count and the sum of
  * per-row 64-bit hashes.
  */
final case class Digest(n: Long, h: java.math.BigDecimal)

object Digest {
  def of(df: DataFrame, cols: Seq[String]): Digest =
    if (df.columns.isEmpty) Digest(0L, java.math.BigDecimal.ZERO)
    else {
      val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
      Digest(r.getLong(0), r.getDecimal(1))
    }
}

/** What one drain (or one live run) measured. */
final case class Drain(seconds: Double, items: Long, latMs: Seq[Double], lateMs: Double,
    readS: Double, attempted: Long, failed: Long, bytes: Long, files: Long, gcS: Double,
    shuffleBytes: Long)

final class Run(seed: Long, seconds: Double, traced: Boolean, work: String) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  val cores: Int = Runtime.getRuntime.availableProcessors
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.driver.bindAddress", "127.0.0.1")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  import spark.implicits._

  private val tracer = new Tracer(enabled = traced, runId = s"${new File(work).getName}")
  private var excludedMs = 0.0 // input generation and reference building, kept out of setup_s
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%8.2f s  $msg")
  private def untimedSetup[A](what: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally {
      excludedMs += (System.nanoTime() - t) / 1e6
      log(f"$what: ${(System.nanoTime() - t) / 1e9}%.3f s (not billed to setup_s)")
    }
  }

  // ----------------------------------------------------------------- helpers

  private def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getAbsolutePath
  }
  private def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def secs(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }

  /** file name → batch id, from the file source's log in the checkpoint. */
  private def fileBatches(ck: String): Map[String, Long] = {
    val d = new File(s"$ck/sources/0")
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Option(d.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.util.Using.resource(scala.io.Source.fromFile(f))(_.getLines().toVector))
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong)).toMap
  }
  /** batch id → time its `_commits` marker was written (epoch ms). */
  private def commitTimes(out: String): Map[Long, Double] =
    Option(new File(s"$out/_commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong ->
        Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS) / 1e3).toMap
  private def latencies(ck: String, out: String, due: Map[String, Double]): Seq[Double] = {
    val fb = fileBatches(ck); val ct = commitTimes(out)
    due.toSeq.map { case (f, t) => ct(fb(f)) - t }
  }
  private def outputBytes(out: String): (Long, Long) = {
    val s = Files.walk(Paths.get(out))
    try {
      val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toVector
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }
  /** Atomically moves staged files into `inputDir`; returns how late (ms)
    * the last move completed against its due time, the call itself.
    */
  private def releaseAll(files: Seq[Path], inputDir: String): Double = {
    val n0 = System.nanoTime()
    files.foreach(Inputs.release(_, inputDir))
    (System.nanoTime() - n0) / 1e6
  }
  private def unrelease(files: Seq[Path], inputDir: String): Unit = files.foreach { f =>
    Files.move(Paths.get(inputDir, f.getFileName.toString), f, StandardCopyOption.ATOMIC_MOVE) }

  @volatile private var drainSpan = 0L
  @volatile private var streamScope = "stream" // "replay" while replaying layer calls
  private val pc = new ProgressCollector(tracer, () => drainSpan, () => streamScope, cores)
  private val sc = new ShuffleCollector

  /** Runs `body` with the progress and task listeners attached. */
  private def listened[A](body: => A): A = {
    spark.streams.addListener(pc)
    spark.sparkContext.addSparkListener(sc)
    try body
    finally {
      Thread.sleep(500) // both listener buses deliver asynchronously
      spark.streams.removeListener(pc)
      spark.sparkContext.removeSparkListener(sc)
    }
  }

  /** Copies `files` into `to` (fresh names, increasing mtimes), for a
    * warm-up that must not consume the measured inputs.
    */
  private def copies(files: Seq[Path], to: String): Seq[Path] = files.zipWithIndex.map { case (f, j) =>
    val c = Paths.get(to, f"w-$j%05d.parquet")
    Files.copy(f, c)
    c.toFile.setLastModified(f.toFile.lastModified)
    c
  }

  // -------------------------------------------------------- turn workloads

  private val turnCols = Seq("conv_id", "turn_idx", "role", "tool", "ts", "text", "decision",
    "reason", "uuid", "promoted", "webdata")
  private val routeCols = Map(
    "valid" -> Seq("conv_id", "turn_idx", "role", "tool", "ts", "text", "reason", "promoted"),
    "rejected" -> Seq("conv_id", "turn_idx", "role", "tool", "ts", "reason", "uuid"),
    "webdata" -> Seq("conv_id", "turn_idx", "payload"))

  /** The batch path over the same input: `ValidationPipeline.decide` over
    * `DedupState.dedupBatch`, and the digests of its three routes.
    */
  final class TurnRef(inputDir: String) {
    val input: DataFrame = spark.read.schema(Schemas.transcript).parquet(inputDir)
    val decisions: DataFrame = ValidationPipeline.decide(spark,
      DedupState.dedupBatch(spark, input.as[Turn]).toDF(), TranscriptGen.catalog).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    private val (v, r, w) = ValidationPipeline.routes(decisions)
    val digests: Map[String, Digest] = Map(
      "valid" -> Digest.of(v, routeCols("valid")),
      "rejected" -> Digest.of(r, routeCols("rejected")),
      "webdata" -> Digest.of(w, routeCols("webdata")))
    val decided: Long = digests("valid").n + digests("rejected").n
    lazy val inputRows: Long = input.count()
    lazy val nullDistinct: Long = DedupState.dedupBatch(spark, input.as[Turn])
      .filter($"text".isNull).count()
  }

  /** Reads every committed route back through `ExactlyOnceSink.read`
    * (timed, median of `reads` reads) and, given a reference, compares each with it. Returns (read
    * seconds, failed turns, committed turns).
    */
  private def readAndCheck(out: String, ref: Option[TurnRef], reads: Int): (Double, Long, Long) = {
    val sink = new ExactlyOnceSink(out)
    var got = Map.empty[String, Digest]
    var metricsRow: org.apache.spark.sql.Row = null
    val readS = Stats.median((1 to reads).map(_ => secs {
      got = routeCols.map { case (k, cols) => k -> Digest.of(sink.read(spark, k), cols) }
      metricsRow = sink.read(spark, "metrics")
        .agg(sum("rows_validated"), sum("rows_rejected")).head()
    }))
    val committed = got("valid").n + got("rejected").n
    val failed = ref.fold(0L) { ref =>
      val agree = routeCols.keys.forall(k => got(k) == ref.digests(k)) &&
        metricsRow.getLong(0) == ref.digests("valid").n &&
        metricsRow.getLong(1) == ref.digests("rejected").n
      if (agree) 0L
      else {
        // on a mismatch, count per turn on the decisions table: lost,
        // duplicated, wrongly decided and unexpected turns (at least 1)
        val c = sink.read(spark, "decisions").groupBy("conv_id", "turn_idx")
          .agg(count(lit(1)).as("n"), min(xxhash64(turnCols.map(col): _*)).as("h"),
            max(xxhash64(turnCols.map(col): _*)).as("h2"))
        val r = ref.decisions.select($"conv_id", $"turn_idx", xxhash64(turnCols.map(col): _*).as("rh"))
        val row = c.join(r, Seq("conv_id", "turn_idx"), "full_outer").agg(
          sum(when($"n".isNull, 1L).otherwise(0L)),
          sum(when($"n" > 1, $"n" - 1).otherwise(0L)),
          sum(when($"n".isNotNull && $"rh".isNotNull && ($"h" =!= $"rh" || $"h2" =!= $"rh"), 1L)
            .otherwise(0L)),
          sum(when($"rh".isNull, 1L).otherwise(0L))).head()
        math.max(1L, (0 until 4).map(i => if (row.isNullAt(i)) 0L else row.getLong(i)).sum)
      }
    }
    (readS, failed, committed)
  }

  private def turnDrain(inputDir: String, staged: Seq[Path], withDedup: Boolean, ref: Option[TurnRef],
      tag: String, sc: Option[ShuffleCollector]): Drain = {
    val out = s"$work/$tag/out"
    val ck = s"$work/$tag/ck"
    val cfg = StreamValidate.Config(inputDir, out, ck, withDedup = withDedup,
      watermark = Watermark, maxFilesPerTrigger = BacklogFiles, availableNow = true)
    val gc0 = gcS
    val sh0 = sc.map(_.writeBytes.get).getOrElse(0L)
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    val drained = tracer.span("engine.drain") {
      drainSpan = tracer.currentId
      val late = releaseAll(staged, inputDir)
      val q = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
      q.awaitTermination()
      q.stop()
      late
    }
    val sec = (System.nanoTime() - n0) / 1e9
    val gc = gcS - gc0
    unrelease(staged, inputDir)
    val lat = latencies(ck, out, staged.map(_.getFileName.toString -> t0).toMap)
    val (readS, failed, committed) = readBack(readAndCheck(out, ref, reads = 1))
    val (bytes, files) = outputBytes(out)
    rm(s"$work/$tag")
    Drain(sec, committed, lat, drained, readS, ref.fold(committed)(_.decided), failed, bytes, files, gc,
      sc.map(_.writeBytes.get - sh0).getOrElse(0L))
  }

  /** Repeats `drain` until `seconds` of drain time have accumulated, and
    * at least three times: drains still speed up from the first to the
    * third, so a run whose count depended on the time alone would mix
    * medians of two and of three drains.
    * Traced, the drains run untraced, traced, traced, untraced… (at least
    * two of each), and the untraced ones are the baseline for the tracing
    * overhead. Returns (untraced, traced) drains.
    */
  private def timedLoop(drain: (Int, Option[ShuffleCollector]) => Drain): (Vector[Drain], Vector[Drain]) = {
    val plain = Vector.newBuilder[Drain]
    val withTrace = Vector.newBuilder[Drain]
    var total = 0.0
    var i = 0
    while (total < seconds || i < (if (traced) 4 else 3)) {
      val on = traced && (i % 4 == 1 || i % 4 == 2) // ABBA: balances the warming trend
      tracer.recording = on
      val d = if (on) listened(drain(i, Some(sc))) else drain(i, None)
      tracer.recording = false
      (if (on) withTrace else plain) += d
      total += d.seconds
      i += 1
      log(f"drain $i${if (on) " (traced)" else ""}: ${d.seconds}%.3f s, ${d.items} items, " +
        f"read ${d.readS}%.3f s, failed ${d.failed}")
    }
    (plain.result(), withTrace.result())
  }

  private def overhead(plain: Seq[Double], withTrace: Seq[Double]): Double =
    Stats.median(withTrace) / Stats.median(plain) - 1

  /** About 57,000 turns (with replays) in 16 files. */
  val BacklogConvs = 5000L

  def turnBacklog(withDedup: Boolean): String = {
    val (staged, summary) = untimedSetup("inputs")(Inputs.turns(spark, seed, 1, BacklogConvs,
      BacklogFiles, replay = withDedup, dir("stage")))
    val input = dir("input")
    // warm-up: one untimed drain of the same size, with its read-back, over
    // copies of the files (a smaller one left the first timed drain ~20 %
    // slower than the next)
    turnDrain(input, copies(staged, dir("stage_warm")), withDedup, None, "warm", None)
    val setupS = (System.currentTimeMillis() - jvmStartMs - excludedMs) / 1e3
    log(f"set-up done: setup_s $setupS%.3f")
    val ref = new TurnRef(dir("stage"))
    log("reference built")
    val (drains, tdrains) = timedLoop((i, sc) =>
      turnDrain(input, staged, withDedup, Some(ref), s"d$i", sc))
    if (!traced) return result(drains, endToEnd(setupS, drains, d => d.items / d.seconds), summary)

    val layer = streamLayer(pc, sc, tdrains) ++ turnReplays(input, staged, ref, pc, withDedup) ++
      docReplays(None) ++ Map(
        "trace.overhead_share" -> overhead(drains.map(_.seconds), tdrains.map(_.seconds)),
        "state.dup_drop_ratio" -> dupDropRatio(ref, tdrains.head.items, summary))
    traceResult(drains, tdrains, layer, summary)
  }

  /** Replays removed ÷ planted, from the committed counts (1.0 when none
    * were planted and none removed).
    */
  private def dupDropRatio(ref: TurnRef, committed: Long, summary: Inputs.Summary): Double = {
    val planted = math.round(summary.shares("replayed") * summary.rows)
    val removed = ref.inputRows - committed - ref.nullDistinct
    if (planted == 0) (if (removed == 0) 1.0 else 0.0) else removed.toDouble / planted
  }

  // --------------------------------------------------------------- live_tail

  val LiveRate = 1000 // turns per second, well under saturation
  val LiveFilesPerS = 20

  private def liveRun(staged: Seq[Path], ref: Option[TurnRef], tag: String,
      sc: Option[ShuffleCollector]): Drain = {
    val in = dir(s"$tag/in")
    val out = s"$work/$tag/out"
    val ck = s"$work/$tag/ck"
    val cfg = StreamValidate.Config(in, out, ck, withDedup = true, watermark = Watermark,
      maxFilesPerTrigger = 1000000, availableNow = false)
    val gc0 = gcS
    val sh0 = sc.map(_.writeBytes.get).getOrElse(0L)
    val interval = 1000.0 / LiveFilesPerS
    var q: StreamingQuery = null
    val due = new Array[Double](staged.size)
    val late = new Array[Double](staged.size)
    tracer.span("engine.live") {
      drainSpan = tracer.currentId
      q = StreamValidate.start(spark, cfg, TranscriptGen.catalog)
      Thread.sleep(1500) // let the idle query reach its first empty trigger
      val t0 = System.currentTimeMillis() + 100.0
      val n0 = System.nanoTime() + 100000000L
      // the one generator thread: open loop, releases on schedule regardless
      val gen = new Thread(() => staged.indices.foreach { j =>
        due(j) = t0 + j * interval
        val wait = n0 + (j * interval * 1e6).toLong - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        Inputs.release(staged(j), in)
        late(j) = (System.nanoTime() - n0) / 1e6 - j * interval
      }, "generator")
      gen.start(); gen.join()
      val names = staged.map(_.getFileName.toString)
      val deadline = System.currentTimeMillis() + 90000L
      def done: Boolean = {
        val fb = fileBatches(ck); val ct = commitTimes(out)
        names.forall(n => fb.get(n).exists(ct.contains))
      }
      while (!done) {
        if (System.currentTimeMillis() > deadline || !q.isActive)
          throw new IllegalStateException(s"live run $tag did not commit every released file",
            q.exception.orNull)
        Thread.sleep(20)
      }
      q.stop()
    }
    val gc = gcS - gc0
    val dueMap = staged.map(_.getFileName.toString).zip(due).toMap
    val lat = latencies(ck, out, dueMap)
    val commits = commitTimes(out).toSeq.sortBy(_._1)
    log(s"$tag batches committed at +ms: " +
      commits.map { case (b, t) => f"$b:${t - due.head}%.0f" }.mkString(" "))
    val span = commitTimes(out).values.max - due.head
    val (readS, failed, committed) = readBack(readAndCheck(out, ref, reads = if (ref.isEmpty) 1 else 3))
    val (bytes, files) = outputBytes(out)
    rm(s"$work/$tag")
    Drain(span / 1e3, committed, lat, late.max, readS, ref.fold(committed)(_.decided), failed, bytes,
      files, gc, sc.map(_.writeBytes.get - sh0).getOrElse(0L))
  }

  def liveTail(): String = {
    def gen(salt: Long, s: Double, name: String) = {
      val files = math.max(4, (s * LiveFilesPerS).round.toInt)
      val convs = math.max(1L, (LiveRate * s / 10.5).round)
      Inputs.turns(spark, seed, salt, convs, files, replay = true, dir(name))
    }
    val (staged, summary) = untimedSetup("inputs")(gen(1, seconds, "stage"))
    val (tStaged, tSummary) =
      if (traced) untimedSetup("inputs")(gen(3, seconds, "stage_t")) else (Nil, summary)
    // warm-up: two seconds of the same schedule over copies of the first
    // files, so the timed run starts after a few batches' JIT and state warm-up
    liveRun(copies(staged.take(2 * LiveFilesPerS), dir("stage_warm")), None, "warm", None)
    val setupS = (System.currentTimeMillis() - jvmStartMs - excludedMs) / 1e3
    log(f"set-up done: setup_s $setupS%.3f")
    // staged files are consumed by the release, so the reference reads a copy
    val refDir = dir("ref")
    staged.foreach(f => Files.copy(f, Paths.get(refDir, f.getFileName.toString)))
    val ref = new TurnRef(refDir)
    val drains = Vector(liveRun(staged, Some(ref), "live", None))
    val e2e = endToEnd(setupS, drains, d => d.items / d.seconds)
    if (!traced) return result(drains, e2e, summary)

    val tRefDir = dir("ref_t")
    tStaged.foreach(f => Files.copy(f, Paths.get(tRefDir, f.getFileName.toString)))
    val tRef = new TurnRef(tRefDir)
    tracer.recording = true
    val tdrains = Vector(listened(liveRun(tStaged, Some(tRef), "live_t", Some(sc))))
    tracer.recording = false
    val layer = streamLayer(pc, sc, tdrains) ++
      turnReplays(tRefDir, Nil, tRef, pc, withDedup = true) ++ docReplays(None) ++ Map(
        "trace.overhead_share" -> overhead(drains.head.latMs, tdrains.head.latMs),
        "state.dup_drop_ratio" -> dupDropRatio(tRef, tdrains.head.items, tSummary))
    traceResult(drains, tdrains, layer, summary)
  }

  // --------------------------------------------------------- curation_stream

  private val docCols = Seq("doc_id", "lang_pred", "ws_tokens")

  final class DocRef(inputDir: String) {
    val input: DataFrame = spark.read.parquet(inputDir)
    val survivors: DataFrame = graft.ops.Curation.curateMinhash(input.drop("ts"))
    val digest: Digest = Digest.of(survivors, docCols)
    val docs: Long = input.count()
  }

  private def curationDrain(inputDir: String, staged: Seq[Path], ref: Option[DocRef], tag: String,
      sc: Option[ShuffleCollector]): Drain = {
    val out = s"$work/$tag/out"
    val ck = s"$work/$tag/ck"
    val cfg = StreamCuration.Config(inputDir, out, ck, maxFilesPerTrigger = BacklogFiles,
      availableNow = true)
    val gc0 = gcS
    val sh0 = sc.map(_.writeBytes.get).getOrElse(0L)
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    val late = tracer.span("engine.drain") {
      drainSpan = tracer.currentId
      val late = releaseAll(staged, inputDir)
      val q = StreamCuration.start(spark, cfg)
      q.awaitTermination()
      q.stop()
      late
    }
    val sec = (System.nanoTime() - n0) / 1e9
    val gc = gcS - gc0
    unrelease(staged, inputDir)
    val lat = latencies(ck, out, staged.map(_.getFileName.toString -> t0).toMap)
    var got: Digest = null
    val readS = readBack(secs {
      got = Digest.of(StreamCuration.readSurvivors(spark, out), docCols)
    })
    val failed = ref.fold(0L) { ref =>
      if (got == ref.digest) 0L
      else {
        val mine = StreamCuration.readSurvivors(spark, out).select(docCols.map(col): _*)
        val theirs = ref.survivors.select(docCols.map(col): _*)
        math.max(1L, mine.exceptAll(theirs).count() + theirs.exceptAll(mine).count())
      }
    }
    val (bytes, files) = outputBytes(out)
    rm(s"$work/$tag")
    val docs = ref.fold(0L)(_.docs)
    Drain(sec, docs, lat, late, readS, docs, failed, bytes, files, gc,
      sc.map(_.writeBytes.get - sh0).getOrElse(0L))
  }

  val CurationBase = 1500
  val CurationReplicas = 2

  def curation(): String = {
    val (staged, summary) = untimedSetup("inputs")(Inputs.docs(spark, seed, 1, CurationBase, CurationReplicas,
      BacklogFiles, dir("stage")))
    val input = dir("input")
    curationDrain(input, copies(staged, dir("stage_warm")), None, "warm", None)
    val setupS = (System.currentTimeMillis() - jvmStartMs - excludedMs) / 1e3
    log(f"set-up done: setup_s $setupS%.3f")
    val ref = new DocRef(dir("stage"))
    val (drains, tdrains) = timedLoop((i, sc) => curationDrain(input, staged, Some(ref), s"d$i", sc))
    if (!traced) return result(drains, endToEnd(setupS, drains, d => d.items / d.seconds), summary)

    val layer0 = streamLayer(pc, sc, tdrains)
    // the turn-side figures come from a small seeded turn set: one dedup
    // drain for the replay ratio, then the validate/sink replays
    val (tStaged, tSummary) = Inputs.turns(spark, seed, 4, 5000L, 8, replay = true, dir("stage_t"))
    val tRef = new TurnRef(dir("stage_t"))
    val tInput = dir("input_t")
    val dedupDrain = turnDrain(tInput, tStaged, withDedup = true, Some(tRef), "dedup_t", None)
    val layer = layer0 ++
      turnReplays(tInput, tStaged, tRef, pc, withDedup = true) ++
      docReplays(Some(dir("stage"))) ++ Map(
        "trace.overhead_share" -> overhead(drains.map(_.seconds), tdrains.map(_.seconds)),
        "state.dup_drop_ratio" -> dupDropRatio(tRef, dedupDrain.items, tSummary))
    traceResult(drains, tdrains, layer, summary)
  }

  // ---------------------------------------------------------------- replays

  /** Median of three timed calls, each in its own span. */
  private def replay(name: String, reps: Int = 3, scanS: Double = 0.0)(body: => Unit): Double = {
    Stats.median((1 to reps).map { _ =>
      val t0 = System.currentTimeMillis().toDouble
      val s = secs(body)
      // the scan of the call's input, measured by its own replay, as a
      // child span so that the layer's self time is net of it
      val id = tracer.add(tracer.currentId, name, t0, t0 + s * 1e3)
      if (scanS > 0) tracer.add(id, "source.scan", t0, t0 + math.min(scanS, s) * 1e3)
      s
    })
  }

  /** Runs a drain's read-back in a `sink.read` span of the "read" scope. */
  private def readBack[A](body: => A): A = {
    tracer.scope = "read"
    try tracer.span("sink.read")(body) finally tracer.scope = "stream"
  }

  /** Runs `body` with its spans recorded in the "replay" scope. */
  private def replays(body: => Map[String, Double]): Map[String, Double] = {
    tracer.scope = "replay"
    streamScope = "replay"
    tracer.recording = true
    try body finally { tracer.scope = "stream"; streamScope = "stream"; tracer.recording = false }
  }

  /** Each validate/sink layer call in isolation on `inputDir`'s turns.
    * `decide_s` and `write_batch_s` are net of the scan of their input.
    */
  private def turnReplays(inputDir: String, staged: Seq[Path], ref: TurnRef, pc: ProgressCollector,
      withDedup: Boolean): Map[String, Double] = replays {
    if (staged.nonEmpty) staged.foreach(Inputs.release(_, inputDir))
    def raw = spark.read.schema(Schemas.transcript).parquet(inputDir)
    val scan = replay("source.scan")(noop(raw))
    val decide = replay("validate.decideFast", scanS = scan)(noop(
      ValidationPipeline.decideFast(spark, raw, TranscriptGen.catalog).toDF()))
    val decDir = s"$work/replay/decisions"
    ValidationPipeline.decideFast(spark, raw, TranscriptGen.catalog).toDF()
      .write.mode("overwrite").parquet(decDir)
    val decScan = replay("source.scan_decisions")(noop(spark.read.parquet(decDir)))
    var k = 0
    val write = replay("sink.writeBatch", scanS = decScan) {
      k += 1
      new ExactlyOnceSink(s"$work/replay/sink$k").writeBatch(spark.read.parquet(decDir), 0L)
    }
    // single-threaded per-turn costs of the two hot calls of decideFast
    val sample = raw.filter($"text".isNotNull).limit(100000).as[Turn].collect()
    val cat = TranscriptGen.catalog
    var sink = 0L
    val parseNs = Stats.median((1 to 5).map { _ => tracer.span("validate.parse") {
      val t = System.nanoTime()
      sample.foreach(s => if (graft.validate.JsonParse.parseEnvelope(
        graft.validate.JsonParse.tidy(s.text)) != null) sink += 1)
      (System.nanoTime() - t).toDouble / sample.length
    }})
    val parsed = sample.map { s =>
      val tidied = graft.validate.JsonParse.tidy(s.text)
      graft.model.ParsedTurn(s.conv_id, s.turn_idx, s.role, tidied, s.tool, s.ts,
        graft.validate.JsonParse.parseEnvelope(tidied))
    }
    val evalNs = Stats.median((1 to 5).map { _ => tracer.span("validate.eval") {
      val t = System.nanoTime()
      parsed.foreach(p => if (graft.validate.Evaluator.evalTurn(p, cat, true).decision == "valid") sink += 1)
      (System.nanoTime() - t).toDouble / parsed.length
    }})
    // a stream without a state operator gets its state figures from a
    // DedupState.dedup replay over the same input into a noop sink
    val stateFromReplay = if (withDedup) Map.empty[String, Double] else {
      val before = pc.all.size
      listened(tracer.span("state.dedup_replay") {
        drainSpan = tracer.currentId
        val src = spark.readStream.schema(Schemas.transcript)
          .option("maxFilesPerTrigger", BacklogFiles).parquet(inputDir)
        val q = DedupState.dedup(spark, src.as[Turn], Watermark).toDF().writeStream
          .format("noop").option("checkpointLocation", s"$work/replay/dedup_ck")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(); q.stop()
      })
      stateMetrics(pc.all.drop(before))
    }
    if (staged.nonEmpty) unrelease(staged, inputDir)
    rm(s"$work/replay")
    val d = ref.digests
    val dec = ref.decided.toDouble
    Map(
      "source.scan_s" -> scan,
      "validate.decide_s" -> (decide - scan),
      "validate.parse_ns_per_turn" -> parseNs,
      "validate.eval_ns_per_turn" -> evalNs,
      "validate.valid_share" -> d("valid").n / dec,
      "validate.rejected_share" -> d("rejected").n / dec,
      "validate.webdata_rows" -> d("webdata").n.toDouble,
      "sink.write_batch_s" -> (write - decScan)) ++ stateFromReplay
  }

  /** Kernel, curation-state and manifest-sink calls in isolation on a
    * document set (the workload's own, or a small seeded one).
    */
  private def docReplays(docsDir: Option[String]): Map[String, Double] = replays {
    val d = docsDir.getOrElse {
      Inputs.docs(spark, seed, 5, 2000, 4, 8, dir("stage_docs")); dir("stage_docs")
    }
    def docs = spark.read.parquet(d)
    val scan = replay("source.scan_docs")(noop(docs.select("doc_id", "text")))
    val sh = graft.ops.Dedup.shingles(col("text"), 3)
    val minhash = replay("kernels.minhash_sig", scanS = scan)(noop(docs.select(
      graft.functions.SketchExpr.minhash_sig(sh, 64).as("m"))))
    val lang = replay("kernels.langPred", scanS = scan)(noop(docs.select(
      graft.ops.TextMetrics.langPred(col("text")).as("l"))))
    // the bucket-state operator only runs on a stream: AvailableNow into noop
    var k = 0
    val verdicts = replay("curation.verdicts", reps = 1, scanS = scan) {
      k += 1
      val src = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(d)
      val q = StreamCuration.verdicts(spark, src, StreamCuration.Config("", "", "")).toDF()
        .writeStream.format("noop").option("checkpointLocation", s"$work/replay/cur_ck$k")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
    }
    val ref = new DocRef(d)
    val survDir = s"$work/replay/survivors"
    ref.survivors.withColumn("ts", lit(new java.sql.Timestamp(0L)))
      .write.mode("overwrite").parquet(survDir)
    val survScan = replay("source.scan_survivors")(noop(spark.read.parquet(survDir)))
    val manifest = replay("sink.manifest_writeBatch", scanS = survScan) {
      k += 1
      new ManifestSink(s"$work/replay/msink$k").writeBatch(spark.read.parquet(survDir), 0L)
    }
    rm(s"$work/replay")
    Map(
      "kernels.minhash_sig_s" -> (minhash - scan),
      "kernels.lang_pred_s" -> (lang - scan),
      "curation.verdicts_s" -> (verdicts - scan),
      "curation.drop_ratio" -> (1.0 - ref.digest.n.toDouble / ref.docs),
      "sink.manifest_write_s" -> (manifest - survScan))
  }

  // ---------------------------------------------------------------- metrics

  private def stateMetrics(ps: Vector[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val ops = ps.map(_.stateOperators.toVector)
    val commits = ops.map(_.map(_.commitTimeMs).sum.toDouble)
    Map(
      "state.update_ms" -> ops.map(_.map(_.allUpdatesTimeMs).sum).sum.toDouble,
      "state.commit_ms" -> commits.sum,
      "state.commit_ms_median" -> (if (commits.isEmpty) 0.0 else Stats.median(commits)),
      "state.rows_total" -> ops.lastOption.map(_.map(_.numRowsTotal).sum).getOrElse(0L).toDouble,
      "state.memory_bytes" -> ops.map(_.map(_.memoryUsedBytes).sum).foldLeft(0L)(_ max _).toDouble,
      "state.dropped_late_rows" -> ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
  }

  /** Per-layer figures of the traced drains, from the progress events and
    * task metrics. Per-drain sums are medians over the drains.
    */
  private def streamLayer(pc: ProgressCollector, sc: ShuffleCollector,
      ds: Vector[Drain]): Map[String, Double] = {
    Thread.sleep(500) // let the listener bus deliver the last events
    val ps = pc.all.filter(_.durationMs.containsKey("addBatch"))
    def phase(k: String) = ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)
    val stateful = ps.filter(_.stateOperators.nonEmpty)
    val perDrain = ds.size.toDouble
    val lat = ds.flatMap(_.latMs)
    Map(
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> Stats.tail(lat),
      "source.list_ms" -> Stats.median(ps.map(p =>
        (p.durationMs.getOrDefault("latestOffset", 0L) + p.durationMs.getOrDefault("getBatch", 0L)).toDouble)),
      "source.backlog_turns_max" -> ps.map(_.numInputRows.toDouble).max,
      "source.generator_late_ms" -> ds.map(_.lateMs).max,
      "engine.batches" -> ps.size / perDrain,
      "engine.add_batch_ms" -> Stats.median(phase("addBatch")),
      "engine.query_planning_ms" -> Stats.median(phase("queryPlanning")),
      "engine.wal_commit_ms" -> Stats.median(phase("walCommit")),
      "engine.commit_offsets_ms" -> Stats.median(phase("commitOffsets")),
      "engine.trigger_ms_p95" -> Stats.pct(phase("triggerExecution"), 95),
      "shuffle.write_bytes" -> Stats.median(ds.map(_.shuffleBytes.toDouble)),
      "shuffle.task_skew" -> sc.skew,
      "sink.bytes_per_turn" -> Stats.median(ds.map(d => d.bytes.toDouble / d.items)),
      "sink.files" -> Stats.median(ds.map(_.files.toDouble)),
      "sink.read_s" -> Stats.median(ds.map(_.readS)),
      "jvm.gc_s" -> Stats.median(ds.map(_.gcS))) ++
      (if (stateful.isEmpty) Map.empty else stateMetrics(stateful).map {
        case (k, v) if k == "state.update_ms" || k == "state.commit_ms" => k -> v / perDrain
        case kv => kv
      })
  }

  private def peakRssMb: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))

  private def endToEnd(setupS: Double, ds: Vector[Drain], rate: Drain => Double): Map[String, Double] =
    Map(
      "setup_s" -> setupS,
      "items_per_s" -> Stats.median(ds.map(rate)),
      "read_s" -> Stats.median(ds.map(_.readS)))

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def result(ds: Vector[Drain], e2e: Map[String, Double], s: Inputs.Summary): String = {
    val lat = ds.flatMap(_.latMs)
    s"""{"attempted":${ds.map(_.attempted).sum},"failed":${ds.map(_.failed).sum},""" +
      s""""drains":${ds.size},"latency_samples":${lat.size},""" +
      s""""latency_p50_ms":${Stats.median(lat)},"latency_tail_pct":${Stats.tailPct(lat.size)},""" +
      s""""latency_tail_ms":${Stats.tail(lat)},"input":${s.json},""" +
      s""""metrics":${json(e2e + ("peak_rss_mb" -> peakRssMb))}}"""
  }

  /** Writes the spans and the per-layer self-time table (stream and
    * replay scopes, beside the untraced and traced drain times), and
    * returns the per-layer result.
    */
  private def traceResult(plain: Vector[Drain], withTrace: Vector[Drain], layer: Map[String, Double],
      s: Inputs.Summary): String = {
    Files.write(Paths.get(work, "spans.jsonl"), tracer.jsonLines.toSeq.asJava)
    val self = tracer.selfTimeMs
    val scopes = self.groupMapReduce(_._1._1)(_._2)(_ + _)
    val untraced = Stats.median(plain.map(_.seconds))
    val traced = Stats.median(withTrace.map(_.seconds))
    val head = f"untraced median drain $untraced%.3f s (${plain.size}), traced $traced%.3f s " +
      f"(${withTrace.size}), tracing overhead ${layer("trace.overhead_share") * 100}%.1f %%"
    val table = (head +: "scope   layer        self_ms  share_of_scope" +:
      self.toSeq.sortBy { case ((sc, _), ms) => (sc, -ms) }.map { case ((sc, l), ms) =>
        f"$sc%-7s $l%-10s $ms%9.1f  ${ms / scopes(sc)}%6.3f" }).mkString("\n")
    Files.write(Paths.get(work, "layers.txt"), table.getBytes(StandardCharsets.UTF_8))
    val ds = plain ++ withTrace
    val lat = ds.flatMap(_.latMs)
    s"""{"attempted":${ds.map(_.attempted).sum},"failed":${ds.map(_.failed).sum},""" +
      s""""drains":${ds.size},"latency_samples":${lat.size},"input":${s.json},""" +
      s""""metrics":${json(layer)}}"""
  }
}
