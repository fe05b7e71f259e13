package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Measured streaming-rate parity (BASELINE.md "streaming parity": sustain
  * ≥100 rec/s/partition through the reference topologies with 1 s windows).
  *
  * The reference generator emits 100 readings/s/partition
  * (`util/SensorSource.scala:48-64`, 10 sensors × 100 ms sleep); earlier
  * rounds argued the rate-source emulators meet that by construction. This
  * spec MEASURES it: the W1 pipeline (sensor rate source → 5 s watermark →
  * 1 s tumbling windows → memory sink, update mode) runs at 25× the
  * reference rate and sustained throughput is computed from the engine's
  * own progress stream over ≥10 s of steady state, then written to
  * `target/stream-rate/STREAM_RATE.json` so the number is a record, not an
  * assertion in a log. The committed `STREAM_RATE_*.json` at the repo root
  * are copies refreshed on purpose, so a test run leaves tracked files
  * alone.
  *
  * Methodology: the first progress entry absorbs codegen/state-store
  * warmup and is excluded; sustained rate = Σ numInputRows of subsequent
  * entries / their timestamp span. The assert floor is the BASELINE target
  * (100 rec/s/partition); the measured value at 25× headroom documents the
  * actual capacity margin on local[4].
  */
class ThroughputSpec extends SparkSpec {

  private val scratch = collection.mutable.Buffer.empty[Path]

  /** A fresh checkpoint or output dir under `target/throughput-spec/`,
    * deleted when its test ends. */
  private def scratchDir(tag: String): String = {
    val base = Files.createDirectories(Paths.get("target", "throughput-spec"))
    val dir = Files.createTempDirectory(base.toAbsolutePath, tag)
    scratch += dir
    dir.toString
  }

  /** Deletes the test's dirs; a clean-up error is reported, never turned
    * into the test's outcome. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally {
      scratch.foreach(deleteTree(_, attempts = 5))
      scratch.clear()
    }

  /** A stopped query's state-store maintenance can still be writing a
    * snapshot into its checkpoint (seen as a `DirectoryNotEmptyException`
    * on `state/0/0`), so a failed pass waits a second and walks again. */
  private def deleteTree(dir: Path, attempts: Int): Unit =
    try Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq).reverse
      .foreach(Files.deleteIfExists(_))
    catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
      if (attempts > 1) { Thread.sleep(1000); deleteTree(dir, attempts - 1) }
      else System.err.println(s"[throughput-spec] could not delete $dir: $e")
    }

  /** Shared measurement harness: run `q` until SOME trailing ≥10 s window
    * of post-warmup progress sustains the floor, write that window as the
    * artifact, assert the 100 rec/s/partition floor.
    *
    * The floor is evaluated on the most recent ≥11 s TRAILING window, not
    * the full history, and re-sampled until the deadline: when the whole
    * `sbt test` suite shares the host's cores, an early window can be
    * contention-starved and recover seconds later — a transient dip must
    * not red a green pipeline, but a genuine regression still fails
    * because no sustained window ever reaches the target. */
  private def measureRate(q: org.apache.spark.sql.streaming.StreamingQuery,
      numPartitions: Int, offeredPerSec: Int, pipeline: String,
      artifact: String): Unit =
    try {
      // must fit inside SparkSpec's 120 s per-test limit with room for
      // setup (the scaled serves stage an index first)
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      def dataProgress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
        Instant.parse(p.timestamp).toEpochMilli
      // trailing window: the shortest suffix of steady entries spanning
      // ≥11 s; each entry's rows arrived between its predecessor's
      // timestamp and its own, so rows count from entry lo+1 onward
      def trailing: Option[(Double, Double, Long)] = {
        val steady = dataProgress.drop(1) // entry 0 pays codegen/state warmup
        if (steady.size < 2) return None
        var lo = steady.size - 2
        def span(i: Int): Double = (ms(steady.last) - ms(steady(i))) / 1000.0
        while (lo > 0 && span(lo) < 11.0) lo -= 1
        if (span(lo) < 11.0) None
        else {
          val totalRows = steady.drop(lo + 1).map(_.numInputRows).sum
          Some((totalRows / span(lo), span(lo), totalRows))
        }
      }
      var best: Option[(Double, Double, Long)] = None
      var done = false
      while (!done && System.nanoTime() < deadline) {
        trailing.foreach { t =>
          if (best.forall(_._1 < t._1)) best = Some(t)
          if (t._1 / numPartitions >= 100.0) done = true
        }
        if (!done) Thread.sleep(500)
      }
      assert(best.nonEmpty, "never reached 10s of steady-state progress")
      val (rate, span, totalRows) = best.get
      val perPartition = rate / numPartitions
      import graft.core.Json.decimal
      graft.core.Json.writeFile(s"target/stream-rate/$artifact", graft.core.StreamRate(
        pipeline, numPartitions, offeredPerSec, decimal(rate, 1), decimal(perPartition, 1),
        100, decimal(span, 1), totalRows))
      info(s"sustained $rate rows/s over $span s ($perPartition rows/s/partition)")
      assert(perPartition >= 100.0,
        s"no trailing window sustained 100 rec/s/partition before the deadline " +
          s"(best $perPartition over $span s, $totalRows rows)")
    } finally {
      q.stop()
    }

  test("W1 pipeline sustains >=100 rec/s/partition over >=10s (measured)") {
    val numPartitions = 4
    val perPartitionRate = 2500 // 25x the 100 rec/s/partition target
    val readings = SensorSources.sensorStream(
      spark, numPartitions = numPartitions,
      readingsPerSecondPerPartition = perPartitionRate)
    val ckpt = scratchDir("rate_ckpt")
    val q = EventTimePipelines.windowedAvg(readings, size = "1 second")
      .writeStream.format("memory").queryName("rate_w1")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "sensor rate source -> 5s watermark -> 1s tumbling windows -> memory sink (update)",
      "STREAM_RATE.json")
  }

  test("LM gate sustains >=100 docs/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // reference corpus → model/stats/cutoffs, the batch-side training pass
    val vocab = (0 until 50).map(i => f"w$i%02d")
    val ref = (1L to 200L).map { i =>
      (i, "en", (0 until 12).map(j => vocab(((i * 7 + j * 13) % 50).toInt)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val scored = graft.llm.TextQueries.lmScoreDF(ref)
    val (model, stats) = graft.llm.TextQueries.lmModelFrames(ref)
    val cutoffs = graft.llm.TextQueries.lmCutoffsDF(scored)
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("doc_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        lit("en").as("lang"),
        expr(s"array_join(transform(sequence(0, 11), " +
          s"j -> element_at($vocabArr, cast((value * 7 + j * 13) % 50 as int) + 1)), ' ')")
          .as("text"))
    val ckpt = scratchDir("rate_lm_ckpt")
    val q = graft.llm.StreamingCorpusPrep.lmScoreStream(
        docs, model, stats, cutoffs, delay = "5 seconds")
      .writeStream.format("memory").queryName("rate_lm")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "doc rate source -> tokenize -> static model join -> 5s watermark -> windowed rebuild -> memory sink (append)",
      "STREAM_RATE_LM.json")
  }

  test("banded near-dup guard sustains >=100 docs/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // value-derived ~110-char texts: mostly unique docs (the guard's
    // steady-state regime — near-dup bursts are the exception, uniqueness
    // the rule), every row paying the full rolling-hash + simhash + 4-band
    // route + bucket-state verify cost
    val vocab = (0 until 64).map(i => f"tok$i%02d")
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("doc_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr(s"array_join(transform(sequence(0, 15), " +
          s"j -> element_at($vocabArr, cast((value * 11 + j * 17) % 64 as int) + 1)), ' ')")
          .as("text"))
      .as[graft.llm.DocEvent](org.apache.spark.sql.Encoders.product[graft.llm.DocEvent])
    val ckpt = scratchDir("rate_neardup_ckpt")
    val q = graft.llm.StreamingDedup.dedupNearBandedStream(docs, delayMs = 5000L)
      .writeStream.format("memory").queryName("rate_neardup")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "doc rate source -> simhash -> 4-band bucket FMGWS (banded-Hamming verify, watermark-pruned state) -> memory sink (append)",
      "STREAM_RATE_NEARDUP.json")
  }

  test("multimodal signature guard sustains >=100 assets/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 assets/s/partition target
    // value-derived 64-bit signatures (two 32-bit halves, the phash /
    // audio-fp shape): mostly-unique signatures — the guard's steady-state
    // regime — every row paying the 4-band route + bucket-state verify.
    // Signatures (not payloads) are what the guard moves at scale: the
    // decode+hash mapPartitions stage runs upstream (its cost is the batch
    // decode queries' own measured surface).
    val assets = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("asset_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr("(hash(value) & 4294967295)").cast("long").as("hash_hi"),
        expr("(hash(value * 31 + 7) & 4294967295)").cast("long").as("hash_lo"))
      .as[graft.llm.StreamingDedup.SigEvent](
        org.apache.spark.sql.Encoders.product[graft.llm.StreamingDedup.SigEvent])
    val ckpt = scratchDir("rate_mm_ckpt")
    val q = graft.llm.StreamingDedup.dedupNearBandedSigStream(assets, delayMs = 5000L)
      .writeStream.format("memory").queryName("rate_mm")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "asset-signature rate source -> 4x16-bit band route -> bucket FMGWS (full-sig Hamming<=6 verify, watermark-pruned state) -> memory sink (append)",
      "STREAM_RATE_MM.json")
  }

  test("frame-sequence video guard sustains >=100 videos/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    val numPartitions = 4
    val perPartitionRate = 500 // 5x the 100 videos/s/partition target
    // value-derived 4-frame hash sequences (the mm_gif_pairs shape): each
    // video explodes to 4 frames x 4 bands = 16 state-routed rows, so the
    // guard does 16x the per-row work of the signature guard — rate is
    // measured in VIDEOS (input rows), the unit the target speaks in.
    // Signatures only, decode upstream (the FrameSeqEvent contract).
    val videos = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("asset_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr("transform(sequence(0, 3), i -> " +
          "(hash(value * 7 + i) & 4294967295) | " +
          "shiftleft(hash(value * 13 + i) & 4294967295, 32))").as("frames"))
      .as[graft.llm.StreamingDedup.FrameSeqEvent](
        org.apache.spark.sql.Encoders.product[graft.llm.StreamingDedup.FrameSeqEvent])
    val ckpt = scratchDir("rate_fseq_ckpt")
    val q = graft.llm.StreamingDedup.dedupNearFrameSeqStream(videos, delayMs = 5000L)
      .writeStream.format("memory").queryName("rate_fseq")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "video frame-hash rate source -> per-frame 4x16-bit band route keyed (frame,band,value) -> bucket FMGWS (aligned-frame Hamming<=6 verify, watermark-pruned state) -> memory sink (append)",
      "STREAM_RATE_FRAMESEQ.json")
  }

  test("VAD segment stream sustains >=100 windows/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 windows/s/partition target
    // value-derived recordings of 32 windows each, 3-in-4 voiced: every
    // recording exercises the buffered fold, run splits, and the close
    // timer; energies (not payloads) are what a VAD stream moves at scale
    val wins = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") / 32).cast("long").as("doc_id"),
        (col("value") % 32).cast("long").as("w"),
        when(col("value") % 4 < 3, lit(20000L)).otherwise(lit(100L)).as("energy"),
        unix_millis(col("timestamp")).as("timestamp"))
      .as[graft.llm.AudioWinEvent]
    val ckpt = scratchDir("rate_vad_ckpt")
    val q = graft.llm.StreamingSegments.activitySegmentsStream(wins, delay = "5 seconds")
      .writeStream.format("memory").queryName("rate_vad")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "window-energy rate source -> 5s watermark -> keyed buffered VAD fold (run split on silence/gap, event-time close) -> memory sink (append)",
      "STREAM_RATE_VAD.json")
  }

  test("sessionizer sustains >=100 events/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // 1000 concurrent users: keyed-state fan-out is realistic, and every
    // event lands in an open session (the watermark keeps them buffered ~5s
    // — the stateful hot path, not the empty-state path)
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") % 1000).as("user_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        lit("view").as("event_type"))
      .as[UserEvent]
    val ckpt = scratchDir("rate_sess_ckpt")
    val q = SessionStream.sessionStream(events, delay = "5 seconds")
      .writeStream.format("memory").queryName("rate_sess")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "event rate source -> 5s watermark -> keyed session machine (1000 users) -> memory sink (append)",
      "STREAM_RATE_SESSIONS.json")
  }

  test("CUSUM alarm stream sustains >=100 day-rows/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // 100 keyed metric series; baseline mu = 50 per key, so incoming
    // counts (value % 100) oscillate around the mean and the CUSUM state
    // machine does real clamp/accumulate/reset work on every row
    val baseline = (0 until 100).map(t => (s"t$t", 500L, 10L))
      .toDF("event_type", "tot", "m").localCheckpoint()
    val days = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(concat(lit("t"), (col("value") % 100).cast("string")).as("event_type"),
        (col("value") / 100).cast("long").as("day_idx"),
        (col("value") % 100).cast("long").as("c"))
      .as[DayCount]
    val ckpt = scratchDir("rate_cusum_ckpt")
    val q = AnomalyStream.cusumAlarmStream(days, baseline, slack = 5L, h = 200L)
      .writeStream.format("memory").queryName("rate_cusum")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "day-count rate source -> 100-key pinned baseline join -> scaled-integer CUSUM state machine -> memory sink (append)",
      "STREAM_RATE_CUSUM.json")
  }

  test("DSIR gate sustains >=100 docs/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // batch-side training pass: two language slices over a shared vocab
    val vocab = (0 until 50).map(i => f"w$i%02d")
    val ref = (1L to 200L).map { i =>
      (i, if (i % 3 == 0L) "de" else "en",
        (0 until 12).map(j => vocab(((i * 7 + j * 13) % 50).toInt)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val lr = graft.llm.TextQueries.dsirLrDF(graft.llm.TextQueries.dsirFeaturesDF(ref))
      .localCheckpoint() // pin the trained table; serving must not retrain per batch
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("doc_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        lit("en").as("lang"),
        expr(s"array_join(transform(sequence(0, 11), " +
          s"j -> element_at($vocabArr, cast((value * 7 + j * 13) % 50 as int) + 1)), ' ')")
          .as("text"))
      .as[graft.llm.LangDocEvent]
    val ckpt = scratchDir("rate_dsir_ckpt")
    val q = graft.llm.StreamingCorpusPrep.dsirScoreStream(docs, lr, delay = "5 seconds")
      .writeStream.format("memory").queryName("rate_dsir")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "doc rate source -> tokenize/hash -> pinned 64-row ratio join -> 5s watermark -> per-doc integer sum -> memory sink (append)",
      "STREAM_RATE_DSIR.json")
  }

  test("ANN serving sustains >=100 queries/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 200 // 2x the 100 target: every query runs a full index probe
    val corpus = sf("sf0.001")
    // adopt/build the index BEFORE serving starts — an index build is a
    // corpus-version event, not a serving cost
    graft.llm.SimilarityQueries.stagePqIndex(spark, corpus)
    val dims = 64
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") + 1000000L).as("query_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr(s"transform(sequence(0, ${dims - 1}), " +
          "j -> cast((value % 97) * 0.01 + j * 0.001 as float))").as("embedding"))
      .as[graft.llm.QueryVec]
    val served = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = scratchDir("rate_ann_ckpt")
    val q = graft.llm.StreamingAnnServe.serve(queries, corpus,
        trigger = Some(Trigger.ProcessingTime("500 milliseconds")),
        checkpoint = Some(ckpt)) { df =>
      served.addAndGet(df.count())
    }
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "query rate source -> staged IVF-PQ index probe per micro-batch (foreachBatch) -> top-k",
      "STREAM_RATE_ANN.json")
    assert(served.get() > 0, "the sink saw top-k results")
  }

  test("SCALED ANN serving sustains >=100 queries/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 200 // 2x the 100 target: every query routes three-level + probes
    val corpus = sf("sf0.001")
    // adopt/build the SCALED index BEFORE serving starts — an index build
    // is a corpus-version event, not a serving cost
    graft.llm.SimilarityQueries.stagePqIndexScaled(spark, corpus)
    val dims = 64
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") + 1000000L).as("query_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr(s"transform(sequence(0, ${dims - 1}), " +
          "j -> cast((value % 97) * 0.01 + j * 0.001 as float))").as("embedding"))
      .as[graft.llm.QueryVec]
    val served = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = scratchDir("rate_anns_ckpt")
    val q = graft.llm.StreamingAnnServe.serveScaled(queries, corpus, None,
        trigger = Some(Trigger.ProcessingTime("500 milliseconds")),
        checkpoint = Some(ckpt)) { df =>
      served.addAndGet(df.count())
    }
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "query rate source -> staged SCALED (k ∝ N) index: three-level route + cell ADC per micro-batch -> top-k",
      "STREAM_RATE_ANN_SCALED.json")
    assert(served.get() > 0, "the sink saw top-k results")
  }

  test("SCALED WIDE RE-RANK ANN serving sustains >=100 queries/s/partition over >=10s (measured)") {
    // the recall tier above the single-cell scaled serve (VERDICT r8 #4):
    // multiprobe route + pooled ADC + exact shortlist re-rank. Same query
    // source and offered rate as the single-cell test, so the artifact pair
    // (STREAM_RATE_ANN_SCALED vs STREAM_RATE_ANN_RERANK) IS the measured
    // serve-path cost delta of the recall upgrade.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 200
    val corpus = sf("sf0.001")
    graft.llm.SimilarityQueries.stagePqIndexScaled(spark, corpus)
    val dims = 64
    val queries = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") + 2000000L).as("query_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        expr(s"transform(sequence(0, ${dims - 1}), " +
          "j -> cast((value % 97) * 0.01 + j * 0.001 as float))").as("embedding"))
      .as[graft.llm.QueryVec]
    val served = new java.util.concurrent.atomic.AtomicLong(0L)
    val ckpt = scratchDir("rate_annr_ckpt")
    val q = graft.llm.StreamingAnnServe.serveScaledRerank(queries, corpus, None,
        trigger = Some(Trigger.ProcessingTime("500 milliseconds")),
        checkpoint = Some(ckpt)) { df =>
      served.addAndGet(df.count())
    }
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "query rate source -> staged SCALED index: multiprobe route + pooled ADC + exact top-C re-rank per micro-batch -> top-k",
      "STREAM_RATE_ANN_RERANK.json")
    assert(served.get() > 0, "the sink saw top-k results")
  }

  test("curate trio E2E sustains >=100 docs/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 500 // 5x the target: the full trio runs per doc
    // batch-side training pass (the lm gate's pinned tables)
    val vocab = (0 until 50).map(i => f"w$i%02d")
    val ref = (1L to 200L).map { i =>
      (i, "en", (0 until 12).map(j => vocab(((i * 7 + j * 13) % 50).toInt)).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val scored = graft.llm.TextQueries.lmScoreDF(ref)
    val (model, stats) = graft.llm.TextQueries.lmModelFrames(ref)
    val cutoffs = graft.llm.TextQueries.lmCutoffsDF(scored)
    val vocabArr = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select(col("value").as("doc_id"),
        unix_millis(col("timestamp")).as("timestamp"),
        lit("en").as("lang"),
        // distinct text per doc id -> the dedup stage keeps every doc and
        // its per-hash state does real inserts (the hot path, not drops)
        expr(s"concat(array_join(transform(sequence(0, 11), " +
          s"j -> element_at($vocabArr, cast((value * 7 + j * 13) % 50 as int) + 1)), ' '), " +
          s"' d', cast(value as string))").as("text"))
      .as[graft.llm.LangDocEvent]
    val outDir = scratchDir("rate_e2e_out") + "/data"
    val ckpt = scratchDir("rate_e2e_ckpt")
    val q = graft.llm.Publish.publishStream(
        graft.llm.StreamingCorpusPrep.curateStream(
          docs, model, stats, cutoffs, delay = "5 seconds"),
        outDir, ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "doc rate source -> quality gate -> watermarked exact dedup -> pinned LM bucket -> exactly-once lang-partitioned parquet publish",
      "STREAM_RATE_E2E.json")
    assert(spark.read.parquet(outDir).count() > 0, "published rows landed")
  }

  test("SCD2 maintainer sustains >=100 spend-rows/s/partition over >=10s (measured)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numPartitions = 4
    val perPartitionRate = 1000 // 10x the 100 rec/s/partition target
    // 1000 users; one synthetic "day" per wall-clock second, so the
    // watermark (2-day delay) finalizes days ~2 s behind the stream and
    // the fold+emit path runs CONTINUOUSLY (varying cents force frequent
    // tier changes) — not just the pending-buffer path
    val rows = spark.readStream.format("rate")
      .option("rowsPerSecond", (perPartitionRate * numPartitions).toString)
      .option("numPartitions", numPartitions.toString).load()
      .select((col("value") % 1000).as("user_id"),
        // modulo keeps day_idx * dayMs inside the µs timestamp range
        // (epoch-seconds raw would overflow); wrap period ~116 days — a
        // 30 s run never sees it
        ((unix_millis(col("timestamp")) / 1000L) % 10000000L).cast("long").as("day_idx"),
        (col("value") % 20000L).as("cents"))
      .as[StreamingScd2.SpendRow]
    val ckpt = scratchDir("rate_scd2_ckpt")
    val q = StreamingScd2.scd2Stream(rows, watermarkDelay = "2 days")
      .writeStream.format("memory").queryName("rate_scd2")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    measureRate(q, numPartitions, perPartitionRate * numPartitions,
      "spend rate source -> 2-day watermark -> keyed SCD2 segment machine (1000 users) -> memory sink (append)",
      "STREAM_RATE_SCD2.json")
  }
}
