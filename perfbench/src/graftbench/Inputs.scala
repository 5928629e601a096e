package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.fixtures.TranscriptGen

/** Seeded input generation. Everything here runs during set-up and is not
  * billed to `setup_s`; the program under test only ever sees the parquet
  * files written here.
  *
  * The seed selects the conversation index offset, which turns are
  * replayed, the order of rows inside each file, and (for documents) the
  * word draws and replica tokens. Each generated set is summarised by an
  * order-independent digest plus the measured shares of the properties the
  * program's behaviour depends on, so a change to the generator shows up as
  * a changed workload rather than as a speed-up.
  */
object Inputs extends Serializable {

  val TurnsPerConv = 10

  /** Summary of one generated input set. */
  final case class Summary(rows: Long, digest: Long, shares: Map[String, Double]) {
    def json: String = {
      val sh = shares.toSeq.sortBy(_._1).map { case (k, v) => f""""$k":$v%.5f""" }
      s"""{"rows":$rows,"digest":"${java.lang.Long.toHexString(digest)}",""" +
        s""""shares":{${sh.mkString(",")}}}"""
    }
  }

  private def seedMix(seed: Long, salt: Long): Long = TranscriptGen.mix(seed * 1000003L + salt)

  /** `stage` holds one `file=j` directory per output file (a
    * partitioned write with a few tasks, each writing many small files);
    * moves each one's single part file to `stage/<prefix>-0000j.parquet`
    * with strictly increasing modification times (the file source orders
    * a backlog by mtime) and removes everything else.
    */
  private def finishFiles(stage: String, prefix: String, files: Int): Seq[Path] = {
    val base = System.currentTimeMillis() - 3600000L
    val out = (0 until files).map { j =>
      val part = new File(stage, s"file=$j").listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file for file=$j, found ${part.length}")
      val to = Paths.get(stage, f"$prefix-$j%05d.parquet")
      Files.move(part.head.toPath, to)
      to.toFile.setLastModified(base + j * 1000L)
      to
    }
    new File(stage).listFiles().filter(f => f.isDirectory || f.getName.startsWith("_") ||
      f.getName.startsWith(".")).foreach(f => rmTree(f.toPath))
    out
  }

  private def rmTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
    finally s.close()
  }

  /** Turns from `TranscriptGen.makeTurn` for `convs` conversations starting
    * at a seed-chosen conversation offset (below 10^5 conversations, so the
    * event-time span stays under a year), plus a 5 % hot-conversation tail,
    * spread over `files` files in conversation order (the hot tail round
    * robin). With `replay`, about 10 % of the turns are written a second
    * time into one of the next two files. Rows inside a file are in a
    * seeded random order, so turns arrive out of order. Each file is built
    * by its own task, without a shuffle.
    */
  def turns(spark: SparkSession, seed: Long, salt: Long, convs: Long, files: Int,
      replay: Boolean, stage: String): (Seq[Path], Summary) = {
    import spark.implicits._
    val base = (1L + java.lang.Long.remainderUnsigned(seedMix(seed, salt), 900L)) * 100L
    val grid = convs * TurnsPerConv
    val hot = grid / 20
    val nConvs = base + convs
    val mixSeed = seedMix(seed, salt + 1)
    // position p → global turn index; grid rows fill the files in order,
    // the hot tail goes round robin
    def index(p: Long): Long =
      if (p < grid) base * TurnsPerConv + p else nConvs * TurnsPerConv + (p - grid)
    def positions(f: Int): Iterator[Long] =
      Iterator.range((f * grid + files - 1) / files, ((f + 1) * grid + files - 1) / files) ++
        Iterator.iterate(grid + f)(_ + files).takeWhile(_ < grid + hot)
    def replayTarget(f: Int, i: Long): Int = {
      val h = TranscriptGen.mix(i ^ mixSeed)
      if (replay && java.lang.Long.remainderUnsigned(h >>> 8, 10L) == 0L) f + 1 + (h >>> 20 & 1L).toInt
      else -1
    }
    val replays = spark.sparkContext.longAccumulator("replays")
    spark.sparkContext.parallelize(0 until files, math.min(files, 4)).flatMap { f =>
      val own = positions(f).map(index)
      val replayed = Seq(f - 1, f - 2).filter(_ >= 0).iterator
        .flatMap(g => positions(g).map(index).filter(i => replayTarget(g, i) == f))
        .map { i => replays.add(1L); i }
      (own.map(i => (TranscriptGen.mix(i ^ mixSeed), i)) ++
        replayed.map(i => (TranscriptGen.mix(TranscriptGen.mix(i ^ mixSeed)), i)))
        .toVector.sortBy(_._1).iterator
        .map { case (_, i) => (f, TranscriptGen.makeTurn(i, nConvs, TurnsPerConv, hot)) }
    }.toDF("file", "t").select(col("file"), col("t.*"))
      .write.mode("overwrite").partitionBy("file").parquet(stage)
    val written = spark.read.parquet(stage).drop("file")
    val conv = regexp_extract(col("conv_id"), "CONV_(\\d+)", 1).cast("long")
    val expectTs = timestamp_seconds(lit(TranscriptGen.BaseEpoch) + conv * 300L + col("turn_idx") * 7L)
    val r = written.agg(count(lit(1)),
      sum(xxhash64(written.columns.map(col): _*).cast("decimal(38,0)")),
      sum(when(conv === 0L, 1L).otherwise(0L)),
      sum(when(col("ts") =!= expectTs, 1L).otherwise(0L)),
      sum(when(col("text").startsWith("garbage payload"), 1L).otherwise(0L)),
      sum(when(col("text").isNull, 1L).otherwise(0L))).head()
    val n = r.getLong(0).toDouble
    val summary = Summary(r.getLong(0), r.getDecimal(1).longValue, Map(
      "hot" -> r.getLong(2) / n, "late" -> r.getLong(3) / n,
      "replayed" -> replays.value / n,
      "garbage" -> r.getLong(4) / n, "null_text" -> r.getLong(5) / n))
    (finishFiles(stage, "f", files), summary)
  }

  private val Vocab = Array("spark", "stream", "batch", "query", "table", "row", "column",
    "filter", "join", "group", "window", "state", "sink", "source", "value", "key", "hash",
    "merge", "sort", "scan", "order", "part", "line", "vector", "data", "fast", "slow",
    "big", "small", "agg", "customer", "commit", "offset", "shuffle", "watermark", "turn",
    "token", "route", "check", "schema")
  private val Stop = Map(
    "en" -> Array("the", "a", "and", "of", "to", "in", "is", "it"),
    "de" -> Array("der", "die", "das", "und", "ist", "mit"),
    "fr" -> Array("le", "la", "les", "et", "est", "dans"))

  /** Documents: `base` seeded word-sequence documents (about 60 % with
    * English stopwords, 20 % with German or French ones, 20 % with none;
    * 5 % shorter than the 3-token gate), of which 5 % are exact copies
    * (case and spacing changed) and 10 % near copies (one word in ten
    * changed) of an earlier document. The set is replicated `replicas`
    * times the way `graft.Bench.stressCorpus` does it (ids + k·10^7, every
    * third word replaced by a seeded replica token) and written in id order
    * over `files` files with one constant event time, so the stream ingests
    * in id order and no bucket ever times out.
    */
  def docs(spark: SparkSession, seed: Long, salt: Long, base: Int, replicas: Int, files: Int,
      stage: String): (Seq[Path], Summary) = {
    import spark.implicits._
    val s0 = seedMix(seed, salt)
    val token = f"xr${java.lang.Long.remainderUnsigned(s0, 1000000L)}%06d"
    def r(i: Long, k: Long): Long = TranscriptGen.mix(s0 ^ (i * 131L + k))
    def rnd(i: Long, k: Long, n: Int): Int = java.lang.Long.remainderUnsigned(r(i, k), n.toLong).toInt
    def fresh(i: Long): String = {
      val len = if (rnd(i, 1, 20) == 0) 1 + rnd(i, 2, 2) else 5 + rnd(i, 2, 50)
      val lang = rnd(i, 3, 10) match {
        case x if x < 6 => "en"; case 6 => "de"; case 7 => "fr"; case _ => ""
      }
      (0 until len).map { w =>
        if (lang.nonEmpty && rnd(i, 100 + w, 4) == 0) { val s = Stop(lang); s(rnd(i, 500 + w, s.length)) }
        else Vocab(rnd(i, 1000 + w, Vocab.length))
      }.mkString(" ")
    }
    val texts = new Array[String](base)
    val kinds = new Array[Int](base) // 0 fresh, 1 exact copy, 2 near copy
    for (i <- 0 until base) {
      val kind = if (i < 10) 0 else rnd(i, 4, 20) match { case 0 => 1; case 1 | 2 => 2; case _ => 0 }
      kinds(i) = kind
      texts(i) = kind match {
        case 0 => fresh(i)
        case 1 => "  " + texts(rnd(i, 5, i)).toUpperCase + " "
        case _ =>
          texts(rnd(i, 5, i)).split(" ").zipWithIndex.map { case (w, j) =>
            if (j % 10 == 3) s"mut${rnd(i, 6, 1000)}" else w }.mkString(" ")
      }
    }
    val perFile = math.max(1, (base.toLong * replicas + files - 1) / files)
    val rows = for (k <- 0 until replicas; i <- 0 until base) yield {
      val id = k * 10000000L + i
      val text = if (k == 0) texts(i) else texts(i).trim.toLowerCase.split("\\s+").zipWithIndex
        .map { case (w, j) => if (j % 3 == 0) s"$token$k" else w }.mkString(" ")
      ((k.toLong * base + i) / perFile).toInt -> (id, text)
    }
    val ts = new java.sql.Timestamp(TranscriptGen.BaseEpoch * 1000L)
    rows.map { case (f, (id, t)) => (f, id, t, ts) }.toDF("file", "doc_id", "text", "ts")
      .repartition(math.min(files, 4), col("file")).sortWithinPartitions("file", "doc_id")
      .write.mode("overwrite").partitionBy("file").parquet(stage)
    val digest = rows.map { case (_, (id, t)) =>
      TranscriptGen.mix(id ^ scala.util.hashing.MurmurHash3.stringHash(t).toLong) }.sum
    val n = rows.size.toDouble
    val summary = Summary(rows.size, digest, Map(
      "exact_copy" -> kinds.count(_ == 1) / base.toDouble,
      "near_copy" -> kinds.count(_ == 2) / base.toDouble,
      "short" -> rows.count(_._2._2.trim.split("\\s+").length < 3) / n))
    (finishFiles(stage, "d", files), summary)
  }

  /** Moves a staged file into the source directory atomically. */
  def release(file: Path, inputDir: String): Unit =
    Files.move(file, Paths.get(inputDir, file.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
}
