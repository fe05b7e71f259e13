package graft.perf

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.core.Tables
import graft.llm.{LangDocEvent, Publish, StreamingCorpusPrep, TextQueries}

/** The pinned serving tables of the LM gate, trained on documents.parquet,
  * as local frames for the stream and as maps for the check. */
final case class LmTables(model: DataFrame, stats: DataFrame, cutoffs: DataFrame,
    mc: Map[(String, String), Long], st: Map[String, (Long, Long)],
    co: Map[String, (Option[Double], Option[Double])]) {

  /** (n_tokens, nll, bucket) recomputed in plain Scala from the pinned
    * tables, the way CurateE2ESpec does, independent of the stream code. */
  def expected(lang: String, text: String): (Long, Double, String) = {
    val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
    val (n, v) = st(lang)
    val sq = toks.map { t =>
      val c = mc.getOrElse((lang, t), 0L)
      math.round(-math.log((c + 0.5) / (n + 0.5 * v)) * 1e6)
    }.sum
    val nll = sq.toDouble / (1e6 * toks.size)
    val (c1, c2) = co(lang)
    (toks.size.toLong, nll,
      if (c1.exists(nll <= _)) "head" else if (c2.exists(nll <= _)) "middle" else "tail")
  }
}

object LmTables {
  def train(spark: SparkSession, data: String): LmTables = {
    val ref = Tables.documents(spark, data).select("doc_id", "lang", "text")
    val (model, stats) = TextQueries.lmModelFrames(ref)
    val cutoffs = TextQueries.lmCutoffsDF(TextQueries.lmScoreDF(ref))
    def pin(df: DataFrame): (DataFrame, Array[Row]) = {
      val rows = df.collect()
      (spark.createDataFrame(rows.toSeq.asJava, df.schema), rows)
    }
    val (m, mr) = pin(model)
    val (s, sr) = pin(stats)
    val (c, cr) = pin(cutoffs)
    spark.catalog.clearCache()
    LmTables(m, s, c,
      mr.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      sr.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
      cr.map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap)
  }
}

/** Seeded document generator. Row `v` is clean, quality-gate junk (8%),
  * an exact duplicate of one of the 8 rows before it (10%), or late: its
  * event time is 60 s before it was due, far behind the 5 s watermark
  * (4%). A duplicate copies a clean row's text and language; every clean
  * text carries a token unique to its row, so texts never collide. */
final class Gen(seed: Long) extends Serializable {
  import Gen._

  private def h(v: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + v * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(v: Long, salt: Long, n: Int): Int = java.lang.Math.floorMod(h(v, salt), n.toLong).toInt

  def kind(v: Long): Int = pick(v, 1, 100) match {
    case u if u < 8 => Junk
    case u if u < 18 => Dup
    case u if u < 22 => Late
    case _ => Clean
  }

  /** The row whose text `v` carries: itself, or a clean row before it. */
  def content(v: Long): Long =
    if (kind(v) != Dup) v
    else {
      val o = v - 1 - pick(v, 2, 8)
      if (o >= 0 && kind(o) == Clean) o else v
    }

  def lang(c: Long): String = Langs(pick(c, 3, Langs.size))

  def text(c: Long): String = {
    val n = 12 + pick(c, 4, 12)
    val start = pick(c, 5, Words.size)
    val step = 1 + pick(c, 6, Words.size - 1) // Words.size is prime: n distinct words
    (s"d$c" +: (0 until n).map(i => Words((start + i * step) % Words.size))).mkString(" ")
  }

  def event(v: Long, dueMs: Long): LangDocEvent = kind(v) match {
    case Junk => LangDocEvent(v, dueMs, lang(v), Seq.fill(12)(Words(pick(v, 7, Words.size))).mkString(" "))
    case k =>
      val c = content(v)
      LangDocEvent(v, if (k == Late) dueMs - LateMs else dueMs, lang(c), text(c))
  }
}

object Gen {
  val Clean = 0; val Junk = 1; val Dup = 2; val Late = 3
  val LateMs = 60000L
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
  // 37 words (a prime count), none a stopword, 3 to 8 letters
  val Words: IndexedSeq[String] = IndexedSeq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
    "column", "join", "small", "customer", "query", "order", "group", "stream", "filter", "big",
    "vector", "index", "cache", "shuffle", "stage", "task", "plan", "sink", "source", "state")
}

/** curate_stream: a seeded document stream through
  * `StreamingCorpusPrep.curateStream` into `Publish.publishStream`.
  *
  * Closed loop first: a `rate-micro-batch` source feeds fixed-size batches
  * back to back; capacity is rows per second over the batches after the
  * warm-up. Then an open loop: a generator thread offers rows at a fixed
  * rate, about half that capacity, on a 100 ms schedule, stamping each
  * with the time it was due, into a MemoryStream read under a 500 ms
  * trigger. (The `rate` source
  * releases rows in whole-second steps and does not expose its start time,
  * so the due time of a row could not be recovered from its output.) A
  * row's latency runs from when it became emittable, its window end plus
  * the watermark delay, to the commit of the batch that published it.
  * Both phases' outputs are checked against the generator. */
object CurateWorkload {
  val RowsPerBatch = 4000
  val WarmupBatches = 3
  val MinMeasuredBatches = 8
  /** Offered rate of the open loop: about half the capacity measured on a
    * 4-core host (3000 to 3700 rows/s). Fixed, so that latency is compared
    * at the same load across commits. */
  val OpenLoopRowsPerS = 1500.0
  /** Measured batches a traced run traces: the fourth and fifth, once state
    * eviction has begun; the untraced ones around them give the tracing
    * overhead. */
  val TracedBatches: Range = WarmupBatches + 3 until WarmupBatches + 5
  val Delay = "5 seconds"
  val DelayMs = 5000L
  /** Per-document re-aggregation window. Short, so that rows become
    * emittable every 100 ms and the latency percentiles rest on many
    * windows rather than on a few whole-second ones. */
  val WindowMs = 100L
  val StartTs = 1700000000000L
  /** Rows due in the open loop's first 3 s are warm-up: its first batches
    * run up to 1.6 times as long as the later ones. */
  val LatencyWarmupMs = 3000L

  def run(setup: Setup): Outcome = {
    val o = setup.o
    val spark = setup.spark
    val lm = setup.lm.get
    val gen = new Gen(o.seed)
    val failures = mutable.ArrayBuffer.empty[String]
    val tracer = setup.tracer

    // closed loop
    val capDir = o.work.resolve("stream/capacity")
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerBatch).option("numPartitions", o.cores)
      .option("startTimestamp", StartTs).option("advanceMillisPerBatch", 1000)
      .load()
    import spark.implicits._
    val capDocs = src.select(col("value"), col("timestamp")).as[(Long, java.sql.Timestamp)]
      .map { case (v, t) => gen.event(v, t.getTime) }
    val capStart = Clock.nowMs
    val capQ = publish(lm, capDocs, capDir).start()
    val capSeconds = o.seconds * 0.5
    var measureFrom = -1.0
    while (capQ.isActive && (completed(capQ) < WarmupBatches + MinMeasuredBatches ||
        Clock.nowMs - measureFrom < capSeconds * 1000)) {
      val done = completed(capQ)
      if (measureFrom < 0 && done >= WarmupBatches) measureFrom = Clock.nowMs
      tracer.foreach { t =>
        if (done == TracedBatches.start) t.attach()
        // detach once the last traced batch's progress has reached the tracer
        if (done > TracedBatches.last && t.attached &&
            t.progress.asScala.exists(_.batchId == TracedBatches.last)) { Thread.sleep(100); t.detach() }
      }
      Thread.sleep(5)
    }
    capQ.stop()
    failIfStopped(capQ, failures)
    val capProgress = progresses(capQ)
    val measured = capProgress.filter(_.batchId >= WarmupBatches)
    val capWallMs = if (measured.isEmpty) 1.0 else endMs(measured.last) - startMs(measured.head)
    val capacity = measured.map(_.numInputRows).sum / (capWallMs / 1000)
    val coldS = capProgress.find(_.batchId == WarmupBatches - 1).map(p => (endMs(p) - capStart) / 1000)
      .getOrElse(0.0)
    val capCheck = check(spark, gen, lm, capDir, capProgress, (v: Long) => StartTs + (v / RowsPerBatch) * 1000)
    failures ++= capCheck.failures

    // open loop
    val rate = OpenLoopRowsPerS
    val latDir = o.work.resolve("stream/latency")
    val mem = MemoryStream[LangDocEvent](spark, o.cores)
    val latQ = publish(lm, mem.toDS(), latDir).trigger(Trigger.ProcessingTime(500)).start()
    val t0 = System.currentTimeMillis() + 200
    def due(v: Long): Long = t0 + math.round(v * 1000 / rate)
    var sent = 0L
    val pool = Executors.newSingleThreadScheduledExecutor()
    pool.scheduleAtFixedRate(() => {
      val target = math.floor((System.currentTimeMillis() - t0) * rate / 1000).toLong
      if (target > sent) {
        mem.addData((sent until target).map(v => gen.event(v, due(v))))
        sent = target
      }
    }, 0, 100, TimeUnit.MILLISECONDS)
    // rows due in the `latSeconds` after the warm-up are the samples; keep
    // offering until the watermark has closed all their windows
    val latSeconds = o.seconds * 0.5
    val sampleEnd = t0 + LatencyWarmupMs + (latSeconds * 1000).toLong
    val deadline = sampleEnd + 20000
    while (latQ.isActive && System.currentTimeMillis() < deadline &&
        Option(latQ.lastProgress).forall(p => watermarkMs(p) < sampleEnd + WindowMs)) Thread.sleep(20)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    val dueRows = math.floor((System.currentTimeMillis() - t0) * rate / 1000)
    latQ.stop()
    failIfStopped(latQ, failures)
    val latProgress = progresses(latQ)
    val latCheck = check(spark, gen, lm, latDir, latProgress, due)
    failures ++= latCheck.failures
    val commitMs = latProgress.map(p => p.batchId -> endMs(p)).toMap
    // (window end, latency) of each sampled row
    val latSamples = latCheck.published.collect {
      case (v, batch) if gen.kind(v) != Gen.Late && due(v) >= t0 + LatencyWarmupMs &&
          due(v) < sampleEnd && commitMs.contains(batch) =>
        val wend = (Math.floorDiv(due(v), WindowMs) + 1) * WindowMs
        (wend, commitMs(batch) - (wend + DelayMs))
    }
    val latMs = latSamples.map(_._2)

    val trig = measured.map(p => p.durationMs.get("triggerExecution").toDouble / 1000)
    val e2e = Map(
      "cold_lap_s" -> coldS,
      "warm_lap_s" -> Stats.median(trig),
      "capacity_per_s" -> capacity,
      "latency_p50_ms" -> Stats.quantile(latMs, 0.5),
      "latency_p90_ms" -> Stats.quantile(latMs, 0.9))
    val samples = Map("cold_lap_s" -> 1, "warm_lap_s" -> trig.size, "capacity_per_s" -> measured.size,
      "latency_p50_ms" -> latMs.size, "latency_p90_ms" -> latMs.size)
    val perLayer = tracer.map { t =>
      val tracedPs = t.progress.asScala.toSeq.filter(p => TracedBatches.contains(p.batchId))
      val untracedPs = measured.filter(p => !TracedBatches.contains(p.batchId))
      val (files, bytes) = sinkSize(capDir)
      tracedPs.foreach(p => batchSpans(t, p))
      Layers.planAndExec(t, o.cores, math.max(tracedPs.size, 1),
        tracedPs.map(p => (startMs(p), endMs(p))), None) ++
        Layers.stream(tracedPs, files, bytes,
          math.max(0.0, dueRows - latProgress.map(_.numInputRows).sum)) ++
        Layers.overhead(tracedPs.map(p => p.durationMs.get("triggerExecution").toDouble / 1000),
          untracedPs.map(p => p.durationMs.get("triggerExecution").toDouble / 1000))
    }.getOrElse(Map.empty)
    Outcome(e2e, samples, perLayer, capCheck.attempted + latCheck.attempted, failures.toSeq,
      Map("stream_rate_rows_per_s" -> rate, "stream_batches" -> capProgress.size,
        "capacity_batch_ms" -> capProgress.map(_.durationMs.get("triggerExecution").toLong),
        "latency_windows" -> latSamples.map(_._1).distinct.size,
        "latency_batches" -> latProgress.size, "rows_offered" -> sent, "rows_due" -> dueRows))
  }

  private def publish(lm: LmTables, docs: org.apache.spark.sql.Dataset[LangDocEvent], dir: Path) =
    Publish.publishStream(
      StreamingCorpusPrep.curateStream(docs, lm.model, lm.stats, lm.cutoffs, Delay,
        s"$WindowMs milliseconds"),
      dir.resolve("data").toString, dir.resolve("checkpoint").toString)

  private def completed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)

  /** One progress per batch. A trigger that finds no new data also reports
    * progress, under the id of a batch that has not run yet; the batch's own
    * report is the one with its rows (the last one when none has rows). */
  private def progresses(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.groupBy(_.batchId).values
      .map(ps => ps.reverse.maxBy(_.numInputRows)).toSeq.sortBy(_.batchId)

  private def failIfStopped(q: StreamingQuery, failures: mutable.ArrayBuffer[String]): Unit =
    q.exception.foreach(e => failures += s"stream ${q.id}: ${e.getMessage}".take(300))

  def startMs(p: StreamingQueryProgress): Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + p.durationMs.get("triggerExecution").toDouble

  private def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)

  /** Published rows of one phase (doc id -> micro-batch) and the rows
    * that failed the check. */
  final case class Checked(published: Seq[(Long, Long)], attempted: Long, failures: Seq[String])

  /** Every accepted row whose window the final watermark closed is
    * published exactly once per distinct text (one survivor per duplicate
    * group), no junk row and no row behind the watermark is published, and
    * every published row carries the text, language and (n_tokens, nll,
    * bucket) recomputed in plain Scala. A batch drops a row as late when its
    * event time is behind the watermark of the batch before it (the
    * late-event watermark of stateful operators), so late rows of the first
    * batches are accepted. */
  def check(spark: SparkSession, gen: Gen, lm: LmTables, dir: Path,
      ps: Seq[StreamingQueryProgress], due: Long => Long): Checked = {
    val failures = mutable.ArrayBuffer.empty[String]
    val offered = ps.map(_.numInputRows).sum
    // (first row, row after last, late-event watermark) of each batch
    val ends = ps.scanLeft(0L)(_ + _.numInputRows)
    val lateWm = 0L +: ps.map(watermarkMs)
    val ranges = ps.indices.map(i => (ends(i), ends(i + 1), lateWm(i)))
    def accepted(v: Long): Boolean = gen.kind(v) match {
      case Gen.Junk => false
      case Gen.Late => ranges.find(r => r._1 <= v && v < r._2).exists(r => gen.event(v, due(v)).timestamp >= r._3)
      case _ => true
    }
    val watermark = ps.lastOption.map(watermarkMs).getOrElse(0L)
    val fileBatch = sinkFileBatches(dir.resolve("data"))
    val rows = if (fileBatch.isEmpty) Array.empty[Row] else
      spark.read.parquet(dir.resolve("data").toString)
        .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"), col("nll"), col("bucket"),
          org.apache.spark.sql.functions.input_file_name().as("f")).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (v, rs) =>
      if (rs.length > 1) failures += s"doc $v published ${rs.length} times"
      val r = rs.head
      val k = if (v < 0 || v >= offered) -1 else gen.kind(v)
      if (k == -1) failures += s"doc $v was never offered"
      else if (!accepted(v)) failures += s"${if (k == Gen.Junk) "junk" else "late"} doc $v published"
      else {
        val c = gen.content(v)
        val want = lm.expected(gen.lang(c), gen.text(c))
        val got = (r.getLong(3), r.getDouble(4), r.getString(5))
        if (r.getString(1) != gen.lang(c) || r.getString(2) != gen.text(c) || got != want)
          failures += s"doc $v published ($got) != expected $want"
      }
    }
    // survivors: per text, the accepted rows carrying it
    val groups = (0L until offered).filter(accepted).groupBy(gen.content)
    groups.foreach { case (c, members) =>
      val closed = members.forall { v =>
        val ts = gen.event(v, due(v)).timestamp
        (Math.floorDiv(ts, WindowMs) + 1) * WindowMs <= watermark - WindowMs
      }
      val n = members.count(byDoc.contains)
      if (n > 1) failures += s"text of doc $c published $n times"
      else if (closed && n == 0) failures += s"survivor of doc $c missing"
    }
    val published = rows.toSeq.map(r => r.getLong(0) ->
      fileBatch.getOrElse(baseName(r.getString(6)), -1L))
    Checked(published, offered, failures.toSeq)
  }

  /** Sink file name -> the micro-batch whose commit-log entry added it. */
  private def sinkFileBatches(data: Path): Map[String, Long] = {
    val log = data.resolve("_spark_metadata")
    if (!Files.isDirectory(log)) return Map.empty
    val entries = Files.list(log).iterator().asScala.toSeq
      .flatMap(p => scala.util.Try(p.getFileName.toString.stripSuffix(".compact").toLong).toOption.map(_ -> p))
      .sortBy(_._1)
    val pathRe = "\"path\":\"([^\"]+)\"".r
    val seen = mutable.Map.empty[String, Long]
    entries.foreach { case (batch, p) =>
      pathRe.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).foreach { m =>
        val name = baseName(m.group(1))
        if (!seen.contains(name)) seen(name) = batch
      }
    }
    seen.toMap
  }

  private def baseName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)

  private def sinkSize(dir: Path): (Long, Long) = {
    val files = Files.walk(dir.resolve("data")).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** One span per traced micro-batch, with its phases laid end to end in
    * the order a micro-batch runs them. */
  private def batchSpans(t: Tracer, p: StreamingQueryProgress): Unit = {
    val id = t.nextId()
    t.add(Span(id, 0, s"batch ${p.batchId}", "streaming", startMs(p), endMs(p),
      Map("rows" -> p.numInputRows)))
    var at = startMs(p)
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { ph =>
        val d = Option(p.durationMs.get(ph)).map(_.toDouble).getOrElse(0.0)
        if (d > 0) t.add(Span(t.nextId(), id, ph, "streaming", at, at + d))
        at += d
      }
  }
}
