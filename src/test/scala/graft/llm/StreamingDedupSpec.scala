package graft.llm

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

class StreamingDedupSpec extends SparkSpec {

  test("streaming exact dedup drops in-watermark duplicates, frees state after") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.dedupExactStream(mem.toDS(), "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("sd_out").outputMode("append").start()

    mem.addData(DocEvent(1L, 1000L, "hello"), DocEvent(2L, 1500L, "world"))
    q.processAllAvailable()
    mem.addData(DocEvent(3L, 2000L, "hello")) // duplicate within watermark: dropped
    q.processAllAvailable()
    // jump event time far ahead: watermark passes hello's eviction point
    mem.addData(DocEvent(4L, 200000L, "advance"))
    q.processAllAvailable()
    mem.addData(DocEvent(5L, 201000L, "advance2")) // extra batch applies the watermark
    q.processAllAvailable()
    mem.addData(DocEvent(6L, 202000L, "hello")) // state evicted: re-emitted as new
    q.processAllAvailable()
    val ids = spark.table("sd_out").as[Long].collect().toSet
    q.stop()
    assert(ids == Set(1L, 2L, 4L, 5L, 6L),
      s"doc 3 must dedup against doc 1; doc 6 arrives after eviction: $ids")
  }

  test("streaming near-dup dedup suppresses same-signature docs via row-local simhash") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "sleepy cats watch from a warm windowsill in the late afternoon sun"
    // find a one-char edit that provably keeps the simhash (a single edit
    // flips only ~5 gram instances; most leave every bit-weight's sign
    // alone, but which do is data-dependent — verify in batch, then
    // stream). 60 signature bits make any single candidate less likely to
    // keep all signs than 32 did, so search edits of several words; the
    // whole candidate batch is scored in ONE query.
    val targets = Seq("windowsill", "afternoon", "seventeen", "sleepy", "quick")
    val candidates = for {
      w <- targets; c <- 'a' to 'z'
      v = base.replace(w, w.dropRight(1) + c) if v != base
    } yield v
    val sigs = (base +: candidates).toDF("text")
      .selectExpr("text", "simhash_sig(rolling_hash(text, 5)) AS s")
      .as[(String, Long)].collect().toMap
    val baseSig = sigs(base)
    val variant = candidates.find(v => sigs(v) == baseSig)
      .getOrElse(fail("no same-signature one-char variant found"))
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.dedupNearStream(mem.toDS(), "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("snd_out").outputMode("append").start()
    mem.addData(
      DocEvent(1L, 1000L, base),
      DocEvent(2L, 1500L, variant),
      DocEvent(3L, 1600L, "completely different content about spark and flink engines"))
    q.processAllAvailable()
    val ids = spark.table("snd_out").as[Long].collect().toSet
    q.stop()
    assert(ids == Set(1L, 3L), s"near-identical doc 2 must be suppressed: $ids")
  }

  test("BANDED near-dup guard suppresses a one-char variant the exact-signature guard misses (VERDICT r6 #6)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "sleepy cats watch from a warm windowsill in the late afternoon sun"
    // find a one-char edit whose simhash DIFFERS (the exact-sig guard
    // passes it) but sits within Hamming <= 3 (batch dd_simhash pairs it)
    // — the exact gap dedupNearStream documents. Scored in ONE batch query.
    val targets = Seq("windowsill", "afternoon", "seventeen", "sleepy", "quick", "brown")
    val candidates = for {
      w <- targets; c <- 'a' to 'z'
      v = base.replace(w, w.dropRight(1) + c) if v != base
    } yield v
    val sigs = (base +: candidates).toDF("text")
      .selectExpr("text", "simhash_sig(rolling_hash(text, 5)) AS s")
      .as[(String, Long)].collect().toMap
    val baseSig = sigs(base)
    def ham(v: String) = java.lang.Long.bitCount(sigs(v) ^ baseSig)
    val variant = candidates.find(v => ham(v) >= 1 && ham(v) <= 3)
      .getOrElse(fail("no 1..3-Hamming one-char variant found"))
    // precondition pinning the gap: different exact signature (misses the
    // dropDuplicates guard), within the banded guard's Hamming envelope —
    // and the pigeonhole: <=3 flipped bits leave >=1 of the 4 bands equal
    assert(sigs(variant) != baseSig && ham(variant) <= 3)
    assert((0 until 4).exists(b =>
      ((sigs(variant) >> (15 * b)) & 0x7fff) == ((baseSig >> (15 * b)) & 0x7fff)),
      "variant must share a band with base")
    val far = "completely different content about spark engines and streaming " +
      "state stores with nothing shared beyond stopwords"
    assert(java.lang.Long.bitCount(
      sigs.getOrElse(far, Seq(far).toDF("text")
        .selectExpr("simhash_sig(rolling_hash(text, 5))").as[Long].head) ^ baseSig) > 3,
      "control doc must be far in Hamming space")

    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.dedupNearBandedStream(mem.toDS(), delayMs = 10000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.BandVerdict], _: Long) =>
        val ids = StreamingDedup.nearBandedSurvivors(b.toDF())
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        survivors.synchronized { survivors ++= ids }; ()
      }.start()
    mem.addData(DocEvent(1L, 1000L, base))
    q.processAllAvailable()
    // in-window: the variant lands in a DIFFERENT exact signature but
    // shares a band -> full-sig verify (Hamming<=3) suppresses it; the far
    // doc may or may not share a band, but the verify lets it through; the
    // too-short-to-shingle doc BYPASSES the guard as an automatic survivor
    // (an ingest guard must not silently drop what it cannot judge)
    mem.addData(DocEvent(2L, 1500L, variant), DocEvent(3L, 1600L, far),
      DocEvent(7L, 1700L, "hi"))
    q.processAllAvailable()
    // advance the watermark past the window: bucket state prunes/evicts
    mem.addData(DocEvent(4L, 300000L, "advance the watermark with this row"))
    q.processAllAvailable()
    mem.addData(DocEvent(5L, 301000L, "and apply it with another one"))
    q.processAllAvailable()
    // a re-arrival of the variant AFTER eviction is new again — the same
    // windowed-knowledge trade every ingest guard here makes
    mem.addData(DocEvent(6L, 302000L, variant))
    q.processAllAvailable()
    q.stop()
    assert(survivors.toSet == Set(1L, 3L, 4L, 5L, 6L, 7L),
      s"variant (2) suppressed in-window, short doc (7) bypasses, " +
        s"re-admit after eviction: $survivors")
  }

  test("BANDED guard hot bucket: a >GuardBucketCap flood stays suppressed and the guard still discriminates (VERDICT r7 #7)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while seventeen " +
      "sleepy cats watch from a warm windowsill in the late afternoon sun"
    val far = "completely different content about spark engines and streaming " +
      "state stores with nothing shared beyond stopwords"
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.dedupNearBandedStream(mem.toDS(), delayMs = 600000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.BandVerdict], _: Long) =>
        val ids = StreamingDedup.nearBandedSurvivors(b.toDF())
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        survivors.synchronized { survivors ++= ids }; ()
      }.start()
    // the flood: GuardBucketCap + 6 identical docs land in the SAME four
    // band buckets — each bucket's kept list caps at the 64 newest, so the
    // per-doc verify scan is O(64), not O(flood)
    val n = StreamingDedup.GuardBucketCap + 6
    mem.addData((0 until n).map(i =>
      DocEvent(100L + i, 1000L + i * 10L, base)): _*)
    q.processAllAvailable()
    // post-flood arrivals: another copy must STILL be suppressed (the
    // newest 64 retained signatures include its match) and an unrelated
    // doc must still pass — the cap bounds the scan, not the verdicts
    mem.addData(DocEvent(900L, 3000L, base), DocEvent(901L, 3100L, far))
    q.processAllAvailable()
    q.stop()
    assert(survivors.count(id => id >= 100L && id < 100L + n) == 1,
      s"exactly one flood survivor: $survivors")
    assert(!survivors.contains(900L), "post-flood duplicate must stay suppressed under the cap")
    assert(survivors.contains(901L), "the guard must still admit unrelated content")
  }

  test("diffStream's last emission per key equals the batch dd_corpus_diff classes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // synthetic corpus following the batch fixture's derivation rules
    val n = 40
    def text(i: Int) = s"document body number $i with unique content token ${i * 7}"
    val tmp = java.nio.file.Files.createTempDirectory("diff_twin").toString
    (0 until n).map(i => (i.toLong, text(i), "en", s"src${i % 3}", text(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val batch = graft.SparkEntry.queries("dd_corpus_diff")(spark, tmp)
      .select("doc_id", "change_class").as[(Long, String)].collect().toMap

    // replay: snapshot A (ts 1000) then snapshot B (ts 2000, rev2 edits on
    // doc_id % 5 = 0, tombstones for B's deletions doc_id % 10 = 3)
    val mem = MemoryStream[DocUpsert]
    val q = StreamingDedup.diffStream(mem.toDS())
      .writeStream.format("memory").queryName("diff_twin_out").outputMode("append").start()
    mem.addData((0 until n).filter(_ % 10 != 7)
      .map(i => DocUpsert(i.toLong, 1000L, Some(text(i)))): _*)
    q.processAllAvailable()
    mem.addData((0 until n).map { i =>
      if (i % 10 == 3) DocUpsert(i.toLong, 2000L, None)
      else DocUpsert(i.toLong, 2000L,
        Some(if (i % 5 == 0) text(i) + " [rev2]" else text(i)))
    }: _*)
    q.processAllAvailable()
    val last = spark.table("diff_twin_out").as[DiffEvent].collect()
      .groupBy(_.doc_id).map { case (id, evs) => id -> evs.maxBy(_.timestamp).change_class }
    q.stop()
    assert(last == batch,
      s"stream's final classification must equal the batch snapshot diff\n" +
        s"only-in-stream: ${(last.toSet -- batch.toSet).toSeq.sortBy(_._1)}\n" +
        s"only-in-batch:  ${(batch.toSet -- last.toSet).toSeq.sortBy(_._1)}")
  }

  test("diffStream TTL evicts idle keys (re-crawl classifies as added); unknown tombstones are silent") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocUpsert]
    val q = StreamingDedup.diffStream(mem.toDS(), ttlMs = 5000L, watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("diff_ttl_out").outputMode("append").start()
    mem.addData(
      DocUpsert(1L, 1000L, Some("alpha")),
      DocUpsert(9L, 1000L, None)) // tombstone for a never-seen doc: no emission
    q.processAllAvailable()
    mem.addData(DocUpsert(1L, 2000L, Some("alpha beta"))) // changed
    q.processAllAvailable()
    // advance event time far past 2000 + ttl: key 1 evicted by its timer
    mem.addData(DocUpsert(2L, 60000L, Some("advance")))
    q.processAllAvailable()
    mem.addData(DocUpsert(3L, 61000L, Some("advance2"))) // extra batch applies the watermark
    q.processAllAvailable()
    mem.addData(DocUpsert(1L, 62000L, Some("alpha beta"))) // same content, but state evicted
    q.processAllAvailable()
    val evs = spark.table("diff_ttl_out").as[DiffEvent].collect()
      .map(e => (e.doc_id, e.timestamp, e.change_class)).toSet
    q.stop()
    assert(!evs.exists(_._1 == 9L), s"unknown tombstone must emit nothing: $evs")
    assert(evs.contains((1L, 1000L, "added")) && evs.contains((1L, 2000L, "changed")), s"$evs")
    assert(evs.contains((1L, 62000L, "added")),
      s"post-TTL re-crawl must classify as added (state evicted), got: $evs")
  }

  test("SIG guard: a one-pixel image variant is suppressed in-stream, a distinct image admitted (VERDICT r8 #6)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // REAL decode + hash chain: the signatures the guard consumes are the
    // exact ones the batch phash pipeline computes (Multimodal.ahash over
    // a JDK-decoded BMP) — the spec exercises decode -> hash -> guard, not
    // synthetic bit patterns
    def hashOf(img: java.awt.image.BufferedImage): (Long, Long) = Multimodal.ahash(img)
    def decode(bytes: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val base = decode(Multimodal.makeBmp(16, 16, 5L))
    val (bhi, blo) = hashOf(base)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // one-pixel variant: push single pixels to white until the aHash moves
    // by 1..MmNearHamming bits — a DIFFERENT signature (misses any
    // exact-key guard) inside the banded guard's Hamming envelope
    val variant = (0 until 256).iterator.map { i =>
      val v = decode(Multimodal.makeBmp(16, 16, 5L))
      v.setRGB(i % 16, i / 16, 0xFFFFFF)
      v
    }.find { v =>
      val d = ham(hashOf(v), (bhi, blo))
      d >= 1 && d <= StreamingDedup.MmNearHamming
    }.getOrElse(fail("no one-pixel variant moved the aHash by 1..6 bits"))
    val (vhi, vlo) = hashOf(variant)
    // distinct image: a different generator seed, verified far in Hamming
    val (fhi, flo) = (6L to 99L).iterator
      .map(s => hashOf(decode(Multimodal.makeBmp(16, 16, s))))
      .find(h => ham(h, (bhi, blo)) > StreamingDedup.MmNearHamming)
      .getOrElse(fail("no far image found"))
    // the variant shares >=1 of the 4 16-bit bands with the base (the
    // route precondition — at Hamming <=3 it is pigeonhole-guaranteed)
    assert((0 until 4).exists { b =>
      def chunk(hi: Long, lo: Long) =
        if (b < 2) (hi >> (16 * b)) & 65535L else (lo >> (16 * (b - 2))) & 65535L
      chunk(vhi, vlo) == chunk(bhi, blo)
    }, "variant must share a band with base")

    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[StreamingDedup.SigEvent]
    val q = StreamingDedup.dedupNearBandedSigStream(mem.toDS(), delayMs = 10000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.BandVerdict], _: Long) =>
        val ids = StreamingDedup.sigSurvivors(b.toDF())
          .select("asset_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        survivors.synchronized { survivors ++= ids }; ()
      }.start()
    mem.addData(StreamingDedup.SigEvent(1L, 1000L, bhi, blo))
    q.processAllAvailable()
    // in-window: the one-pixel variant verifies at full-sig Hamming <=6 and
    // is suppressed; the distinct image passes the verify even if a band
    // collides
    mem.addData(StreamingDedup.SigEvent(2L, 1500L, vhi, vlo),
      StreamingDedup.SigEvent(3L, 1600L, fhi, flo))
    q.processAllAvailable()
    // advance the watermark past the window: bucket state prunes/evicts
    mem.addData(StreamingDedup.SigEvent(4L, 300000L, 12345L, 67890L))
    q.processAllAvailable()
    mem.addData(StreamingDedup.SigEvent(5L, 301000L, 54321L, 9876L))
    q.processAllAvailable()
    // a re-arrival of the variant AFTER eviction is new again — the same
    // windowed-knowledge trade every ingest guard here makes
    mem.addData(StreamingDedup.SigEvent(6L, 302000L, vhi, vlo))
    q.processAllAvailable()
    q.stop()
    assert(survivors.toSet == Set(1L, 3L, 4L, 5L, 6L),
      s"variant (2) suppressed in-window, distinct (3) admitted, " +
        s"re-admit after eviction (6): $survivors")
  }

  test("FRAME guard: a temporally-shifted GIF near-dup is suppressed in-stream by the half-alignable rule (VERDICT r9 #7)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // REAL decode + per-frame hash chain: the exact signatures the batch
    // mm_gif_pairs pipeline computes (Multimodal.ahash over every
    // JDK-decoded GIF frame), packed hi<<32|lo per the guard contract
    def gifHashes(bytes: Array[Byte]): Array[Long] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
        try {
          reader.setInput(iis)
          (0 until reader.getNumImages(true)).map { i =>
            val (hi, lo) = Multimodal.ahash(reader.read(i))
            (hi << 32) | lo
          }.toArray
        } finally reader.dispose()
      } finally iis.close()
    }
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = gifHashes(Multimodal.makeGif(10, 10, 4, 7L))
    assert(base.length == 4)
    // a distinct GIF: every ALIGNED frame pair beyond the Hamming envelope
    // (so zero aligned near frames — unambiguously far)
    val far = (100L to 299L).iterator
      .map(s => gifHashes(Multimodal.makeGif(10, 10, 4, s)))
      .find(f => f.indices.forall(i =>
        ham(f(i), base(i)) > StreamingDedup.MmNearHamming))
      .getOrElse(fail("no all-frames-far GIF found"))
    // second and third far GIFs, each aligned-far from base, far, and
    // each other — the two mosaics below must only be near what they are
    // PLANTED to be near (not via shared filler frames)
    def findFar(seeds: Iterator[Long], others: Seq[Array[Long]]): Array[Long] =
      seeds.map(s => gifHashes(Multimodal.makeGif(10, 10, 4, s)))
        .find(f => others.forall(o => f.indices.forall(i =>
          ham(f(i), o(i)) > StreamingDedup.MmNearHamming)))
        .getOrElse(fail("no all-frames-far GIF found"))
    val far2 = findFar((300L to 599L).iterator, Seq(base, far))
    val far3 = findFar((600L to 899L).iterator, Seq(base, far, far2))
    // half-alignable boundary cases, synthesized from REAL frame hashes:
    // 2 of 4 aligned near frames meets (4+1) div 2 = 2; 1 of 4 does not
    val halfNear = Array(base(0), base(1), far2(2), far2(3))
    val oneNear = Array(base(0), far3(1), far3(2), far3(3))

    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[StreamingDedup.FrameSeqEvent]
    val q = StreamingDedup.dedupNearFrameSeqStream(mem.toDS(), delayMs = 10000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.FrameHit], _: Long) =>
        val ids = StreamingDedup.frameSeqSurvivors(b.toDF())
          .select("asset_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        survivors.synchronized { survivors ++= ids }; ()
      }.start()
    mem.addData(StreamingDedup.FrameSeqEvent(1L, 1000L, base))
    q.processAllAvailable()
    // the SAME video re-encoded/re-crawled 1.5 s later (temporal shift in
    // ARRIVAL): all 4 aligned frames within Hamming — suppressed; the far
    // GIF admitted; the 2-of-4 mosaic exactly meets the half rule —
    // suppressed; the 1-of-4 mosaic stays under it — admitted
    mem.addData(StreamingDedup.FrameSeqEvent(2L, 2500L, base),
      StreamingDedup.FrameSeqEvent(3L, 2600L, far),
      StreamingDedup.FrameSeqEvent(4L, 2700L, halfNear),
      StreamingDedup.FrameSeqEvent(5L, 2800L, oneNear))
    q.processAllAvailable()
    // advance the watermark far past the window: state prunes/evicts
    mem.addData(StreamingDedup.FrameSeqEvent(6L, 300000L,
      Array.fill(4)(0x0123456789abcdefL)))
    q.processAllAvailable()
    mem.addData(StreamingDedup.FrameSeqEvent(7L, 301000L,
      Array.fill(4)(0x0f0f0f0f0f0f0f0fL)))
    q.processAllAvailable()
    // post-eviction re-arrival of the base sequence is new again — the
    // windowed-knowledge trade every ingest guard makes
    mem.addData(StreamingDedup.FrameSeqEvent(8L, 302000L, base))
    q.processAllAvailable()
    q.stop()
    assert(survivors.toSet == Set(1L, 3L, 5L, 6L, 7L, 8L),
      s"re-encode (2) and half-mosaic (4) suppressed; far (3) and 1-of-4 " +
        s"(5) admitted; re-admit after eviction (8): $survivors")
  }
}
