package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A document event on the ingest stream. */
case class DocEvent(doc_id: Long, timestamp: Long, text: String)

/** An upsert/tombstone event on the corpus-versioning stream: `text = None`
  * is a deletion tombstone for the doc_id. */
case class DocUpsert(doc_id: Long, timestamp: Long, text: Option[String])

/** One classified corpus change emitted by [[StreamingDedup.diffStream]]. */
case class DiffEvent(doc_id: Long, timestamp: Long, change_class: String)

/** Streaming exact dedup for a document ingest pipeline: the streaming twin
  * of `dd_exact` (graft.llm.DedupQueries).
  *
  * `dropDuplicatesWithinWatermark` keys state on the content hash and lets
  * the event-time watermark bound it: a duplicate arriving within the delay
  * is dropped; once the watermark passes a hash's eviction point its state
  * is freed and a much-later recurrence is treated as new. That trade-off
  * (bounded state, windowed uniqueness) is exactly what a 100 TB/day ingest
  * needs — global-forever uniqueness would grow state without bound and is
  * the batch job's (`dd_exact`) responsibility instead.
  */
object StreamingDedup {

  def dedupExactStream(docs: Dataset[DocEvent], delay: String = "10 seconds"): DataFrame =
    docs.toDF()
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming NEAR-dup suppression — possible only because the simhash
    * signature is a row-local projection (`simhash_sig`, see
    * `graft/functions/SigExpressions.scala`): the aggregate-based signature
    * formulation would need a per-doc groupBy, which a streaming plan
    * can't interpose before dedup. Here each document folds to its 32-bit
    * simhash in the projection and `dropDuplicatesWithinWatermark` keys
    * state on the signature: near-identical texts (which by simhash's
    * design collide exactly) are suppressed within the watermark. Hamming
    * tolerance beyond exact signature equality stays the batch job's
    * responsibility (`dd_simhash` verifies with bit_count(xor)); this is
    * the standard ingest-side guard in front of it. */
  def dedupNearStream(docs: Dataset[DocEvent], delay: String = "10 seconds",
      shingleLen: Int = 5): DataFrame = {
    docs.toDF()
      .filter(length(col("text")) >= shingleLen)
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("simhash", expr(s"simhash_sig(rolling_hash(text, $shingleLen))"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** One per-(doc, band) verdict row of [[dedupNearBandedStream]]'s first
    * stage: `near` = an earlier in-window doc within Hamming ≤
    * [[NearHamming]] shares this band. `text` rides on band 0 only, so the
    * doc's bytes cross the bucket shuffle once, not [[NearBands]]×. */
  case class BandVerdict(doc_id: Long, timestamp: Long, band: Int,
      near: Boolean, text: Option[String])

  /** Per-bucket state of [[dedupNearBandedStream]]: the (signature,
    * event-time) pairs seen in this band bucket within the watermark
    * window — pruned on every invocation and by the TTL timer, so the
    * bucket holds only signatures a future ON-TIME row could still pair
    * with. */
  case class BandBucketState(sigs: Seq[Long], ts: Seq[Long])

  /** dd_simhash's banded-Hamming geometry, mirrored from the batch side:
    * 60-bit simhash, [[NearBands]] bands × 15 bits, near ⇔ Hamming ≤
    * [[NearHamming]]. 4 bands pigeonhole-guarantee that any pair within
    * Hamming 3 shares ≥1 band — recall 1.0 vs the batch pair join on the
    * same window. */
  val NearBands = 4
  val NearHamming = 3

  /** Per-bucket in-window signature cap for [[dedupNearBandedStream]] —
    * the streaming mirror of the batch band cap (DedupQueries.maxBucket,
    * same 64): the per-doc verify scan is O(bucket size), so a HOT bucket
    * under a wide watermark would otherwise degrade every arriving doc to
    * O(in-window bucket population). Capping at the 64 NEWEST in-window
    * signatures bounds the scan at O(64) per (doc, band); the batch cap
    * argument carries over — a band bucket past 64 docs is a degenerate
    * family (near-identical flood or adversarial collision), and a true
    * near-dup still holds its [[NearBands]] independent band chances.
    * Recency is the right retention for an ingest guard: the newest
    * signatures are the ones the next arrivals are near. */
  val GuardBucketCap = 64

  /** Streaming BANDED near-dup guard — the in-stream twin of the batch
    * `dd_simhash` pair join, closing the gap [[dedupNearStream]] documents:
    * exact-signature keying suppresses only simhash COLLISIONS, so a
    * one-char variant landing one bit away passes that guard while batch
    * dd_simhash (Hamming ≤ 3) would pair it. Here the mm_phash_pairs /
    * dd_simhash band pattern runs INSIDE keyed state:
    *
    *   1. each doc folds to its 60-bit simhash row-locally (`simhash_sig`),
    *      explodes to [[NearBands]] (band, 15-bit value) rows, and each row
    *      routes to its band BUCKET — `flatMapGroupsWithState` keyed on
    *      (band, value), the LSH shuffle as state partitioning;
    *   2. a bucket holds the signatures seen within the watermark window;
    *      an arriving row's verdict is "∃ stored sig with
    *      bit_count(xor) ≤ [[NearHamming]]" (full-signature verify, never
    *      band-equality alone — a band collision at Hamming 10 must NOT
    *      suppress), then its own sig is stored (store-all: a suppressed
    *      doc still suppresses LATER variants of itself — chains collapse
    *      to their first element, the window-transitive closure);
    *   3. a doc survives iff NONE of its band rows found a near sig —
    *      reassembled by [[nearBandedSurvivors]], a per-micro-batch BATCH
    *      aggregation (all [[NearBands]] rows of a doc are emitted in the
    *      doc's own micro-batch, so the reduce never spans batches and
    *      needs no second stateful operator).
    *
    * State bound: one (long, long) pair per in-window doc per band —
    * 4×16 B/doc over the watermark window, independent of stream length —
    * AND at most [[GuardBucketCap]] pairs per bucket (the batch band cap
    * mirrored: a hot bucket keeps its 64 newest in-window signatures, so
    * the per-doc verify scan is O(64) even under a wide watermark);
    * rows older than the watermark prune on every bucket invocation and an
    * event-time TTL timer (the P4 pattern, watermark-clamped) clears idle
    * buckets entirely. Bucket key space is 4×2^15 — parallelism scales to
    * any cluster. Like every ingest guard here, Hamming tolerance BEYOND
    * the window stays the batch job's responsibility. */
  def dedupNearBandedStream(docs: Dataset[DocEvent], delayMs: Long = 10000L,
      shingleLen: Int = 5): Dataset[BandVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // docs too short to shingle BYPASS the guard as automatic survivors
    // (band -1, no state touched) — an ingest guard must not silently DROP
    // data it cannot judge. (dedupNearStream's filter-out is that older
    // operator's documented envelope; this one closes it.)
    val shorts = docs.toDF()
      .filter(length(col("text")) < shingleLen)
      .select(col("doc_id"), col("timestamp"), lit(-1).as("band"),
        lit(false).as("near"), col("text"))
      .as[BandVerdict]
    val bandCols = (0 until NearBands).map(b =>
      struct(lit(b).as("band"),
        expr(s"cast(shiftright(simhash, ${15 * b}) & 32767 as int)").as("bval")))
    val banded = docs.toDF()
      .filter(length(col("text")) >= shingleLen)
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("simhash", expr(s"simhash_sig(rolling_hash(text, $shingleLen))"))
      .withWatermark("ts", s"$delayMs milliseconds")
      .select(col("doc_id"), col("timestamp"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"), col("text"), col("ts"))
      .select(col("doc_id"), col("timestamp"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"),
        when(col("bb.band") === 0, col("text")).as("text"),
        col("ts")) // the watermark column must reach the stateful operator
      .as[(Long, Long, Long, Int, Int, Option[String], java.sql.Timestamp)]
    bandedGuardCore(banded, NearHamming, delayMs).unionByName(shorts)
  }

  /** The banded-Hamming FMGWS core shared by the text ([[dedupNearBandedStream]])
    * and signature ([[dedupNearBandedSigStream]]) guards: keyed on
    * (band, band-value), a bucket holds the in-window 64-bit signatures,
    * each arrival verifies against them at full-signature Hamming ≤
    * `maxHamming`, and state is watermark-pruned, [[GuardBucketCap]]-capped
    * by event time, and TTL-cleared. Input rows are
    * (id, timestamp, sig, band, bval, payload, ts) with `ts` the
    * watermarked column. */
  private def bandedGuardCore(
      banded: Dataset[(Long, Long, Long, Int, Int, Option[String], java.sql.Timestamp)],
      maxHamming: Int, delayMs: Long): Dataset[BandVerdict] = {
    import banded.sparkSession.implicits._
    banded.groupByKey { case (_, _, _, band, bval, _, _) => (band, bval) }
      .flatMapGroupsWithState[BandBucketState, BandVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[BandBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            val st = state.getOption.getOrElse(BandBucketState(Nil, Nil))
            // prune: a sig older than the watermark can't pair with any
            // future on-time row — the window-uniqueness trade
            var kept = st.sigs.zip(st.ts).filter(_._2 >= wm)
            val out = Seq.newBuilder[BandVerdict]
            rows.toSeq.sortBy(r => (r._2, r._1)).foreach {
              case (docId, ts, sig, band, _, text, _) =>
                val near = kept.exists { case (s, _) =>
                  java.lang.Long.bitCount(s ^ sig) <= maxHamming }
                out += BandVerdict(docId, ts, band, near, text)
                // hot-bucket bound: keep the GuardBucketCap NEWEST sigs BY
                // EVENT TIME — state entries are appended across batches, so
                // a late-but-in-watermark row can land AFTER newer-ts
                // entries; positional takeRight would then evict a newer
                // signature while keeping an older one (ADVICE r8). The
                // sort is O(cap log cap) on an almost-sorted 64-entry list.
                kept = (kept :+ (sig, ts)).sortBy(_._2).takeRight(GuardBucketCap)
            }
            state.update(BandBucketState(kept.map(_._1), kept.map(_._2)))
            // TTL: clear the bucket once the watermark passes its newest
            // sig (clamped above the current watermark — the r4 timer rule)
            state.setTimeoutTimestamp(
              math.max(kept.map(_._2).max + delayMs, wm + 1L))
            out.result().iterator
          }
      }
  }

  /** The multimodal band geometry, mirrored from the batch pair joins
    * (`MultimodalQueries.bandedHammingPairsDF`): 64-bit signature as two
    * 32-bit halves, 4 bands × 16 bits, near ⇔ total Hamming ≤
    * [[MmNearHamming]]. Like the batch side, 4 bands under Hamming 6 is a
    * recall TRADE, not a pigeonhole guarantee (that would need 7 bands) —
    * near-identical media land within Hamming ~2 in practice, where ≥1
    * shared band IS guaranteed, and the batch job behind the guard closes
    * whatever the window policy admits. */
  val MmNearHamming = 6

  /** An asset ingest event carrying its 64-bit perceptual signature as the
    * batch side's two 32-bit halves (phash `ImageHash`, audio
    * energy-envelope fp, a video keyframe hash — any
    * [[graft.llm.Multimodal]] signature). The guard moves SIGNATURES only:
    * at 100 TB the payload bytes live in object storage and must never
    * ride an LSH shuffle — callers hash upstream (the decode `mapPartitions`)
    * and re-fetch survivors by id. */
  case class SigEvent(asset_id: Long, timestamp: Long, hash_hi: Long, hash_lo: Long)

  /** Streaming banded near-dup guard over ANY 64-bit signature — the
    * in-stream twin of the batch `mm_phash_dedup` / `mm_audio_dedup` pair
    * joins, and the multimodal counterpart of [[dedupNearBandedStream]]
    * (VERDICT r8 #6): image/audio/video ingest gets the same in-window
    * suppression text has. Each asset's signature explodes to 4
    * (band, 16-bit value) rows routed to band buckets
    * (`flatMapGroupsWithState` keyed on (band, value) — the LSH shuffle as
    * state partitioning); an arrival is `near` iff a stored in-window
    * signature verifies at FULL-signature Hamming ≤ `maxHamming` (band
    * equality alone never suppresses); survivors reassemble per micro-batch
    * via [[sigSurvivors]]. State bound: ≤ [[GuardBucketCap]] (long, long)
    * pairs per bucket over the watermark window, watermark-pruned +
    * TTL-cleared — identical to the text guard's envelope. */
  def dedupNearBandedSigStream(assets: Dataset[SigEvent], delayMs: Long = 10000L,
      maxHamming: Int = MmNearHamming): Dataset[BandVerdict] = {
    val spark = assets.sparkSession
    import spark.implicits._
    // the batch band split (b<2 from the hi half, else lo), then the two
    // halves pack into ONE state long — both are 32-bit values, so
    // bit_count(hi1^hi2) + bit_count(lo1^lo2) = bit_count(packed1^packed2)
    val bandCols = (0 until 4).map { b =>
      val src = if (b < 2) s"shiftright(hash_hi, ${16 * b})"
        else s"shiftright(hash_lo, ${16 * (b - 2)})"
      struct(lit(b).as("band"), expr(s"cast($src & 65535 as int)").as("bval"))
    }
    val banded = assets.toDF()
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("sig", expr("shiftleft(hash_hi, 32) | hash_lo"))
      .withWatermark("ts", s"$delayMs milliseconds")
      .select(col("asset_id"), col("timestamp"), col("sig"),
        explode(array(bandCols: _*)).as("bb"), col("ts"))
      .select(col("asset_id"), col("timestamp"), col("sig"),
        col("bb.band").as("band"), col("bb.bval").as("bval"),
        lit(null).cast("string").as("text"),
        col("ts")) // the watermark column must reach the stateful operator
      .as[(Long, Long, Long, Int, Int, Option[String], java.sql.Timestamp)]
    bandedGuardCore(banded, maxHamming, delayMs)
  }

  /** Per-micro-batch reassembly of [[dedupNearBandedSigStream]]'s verdicts
    * (run INSIDE `foreachBatch`, same contract as [[nearBandedSurvivors]]):
    * the surviving (asset_id, timestamp) keys — ids only, payloads are
    * re-fetched by the caller (see [[SigEvent]]). */
  def sigSurvivors(batch: DataFrame): DataFrame =
    batch.groupBy(col("doc_id").as("asset_id"), col("timestamp"))
      .agg(max(col("near")).as("suppressed"))
      .filter(!col("suppressed"))
      .select("asset_id", "timestamp")

  /** A video ingest event carrying its per-frame 64-bit perceptual hashes
    * in temporal order (each frame's aHash halves packed `hi<<32 | lo`).
    * Signatures only — the [[SigEvent]] stance: decode + per-frame aHash
    * happen upstream in the decode `mapPartitions`; payload bytes never
    * ride the LSH shuffle. A frameless asset (empty array) never reaches
    * the guard's keyed state and must be admitted upstream, the way the
    * text guard bypasses un-shingleable docs. */
  case class FrameSeqEvent(asset_id: Long, timestamp: Long, frames: Array[Long])

  /** One stage-1 emission of [[dedupNearFrameSeqStream]]: the arriving
    * asset's (frame_idx, band) row; when a stored in-window asset's
    * SAME-INDEX frame verified at full-hash Hamming ≤ maxHamming it names
    * that asset (`other_id`, `other_nf`), otherwise `other_id = -1` (the
    * presence row every asset emits so [[frameSeqSurvivors]] sees it). */
  case class FrameHit(asset_id: Long, timestamp: Long, nf: Int,
      frame_idx: Int, other_id: Long, other_nf: Int)

  /** Per-bucket state of the frame guard: in-window (sig, ts, asset_id,
    * nf) quadruples, [[GuardBucketCap]]-bounded by event time. */
  case class FrameBucketState(sigs: Seq[Long], ts: Seq[Long],
      ids: Seq[Long], nfs: Seq[Int])

  /** Streaming FRAME-SEQUENCE near-dup guard — the in-stream twin of the
    * batch `mm_gif_pairs` rule (VERDICT r9 #7), closing video ingest the
    * way [[dedupNearBandedSigStream]] closed image/audio: a later video is
    * near an in-window earlier one iff the count of temporally ALIGNED
    * near frames (same frame index, full-hash Hamming ≤ `maxHamming`)
    * reaches half the shorter sequence — `(min(nf1, nf2) + 1) div 2`, the
    * batch HAVING clause verbatim.
    *
    * Shape: each frame's 64-bit hash explodes to 4 (band, 16-bit value)
    * rows keyed on **(frame_idx, band, value)** — the batch `vbands` join
    * key (`x.f = y.f AND x.b = y.b AND x.chunk = y.chunk`) as state
    * partitioning, so only same-index frames ever meet, exactly like the
    * batch pair join. A bucket verifies at full-hash Hamming (band
    * equality alone never matches) and emits per-pair frame hits; the
    * half-alignable verdict is a per-micro-batch reassembly
    * ([[frameSeqSurvivors]]) because it needs the hit count across ALL of
    * an asset's frames — all of which land in the same micro-batch, so no
    * cross-batch pair state exists. State bound: ≤ [[GuardBucketCap]]
    * quadruples per (frame_idx × 4 × 2^16) bucket over the watermark
    * window, watermark-pruned + TTL-cleared — the shared guard envelope.
    * Hamming tolerance or frame alignment beyond the window stays the
    * batch job's (`mm_gif_pairs`) responsibility. */
  def dedupNearFrameSeqStream(assets: Dataset[FrameSeqEvent],
      delayMs: Long = 10000L, maxHamming: Int = MmNearHamming)
      : Dataset[FrameHit] = {
    val spark = assets.sparkSession
    import spark.implicits._
    // the 4×16-bit chunking of the packed hash is the same PARTITION of
    // the 64 bits as the batch's per-half split (band labels permute; the
    // key includes the label so routing is consistent), and
    // bit_count(p1 ^ p2) = bit_count(hi1^hi2) + bit_count(lo1^lo2)
    val banded = assets.toDF()
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("nf", size(col("frames")))
      .withWatermark("ts", s"$delayMs milliseconds")
      .select(col("asset_id"), col("timestamp"), col("nf"), col("ts"),
        posexplode(col("frames")).as(Seq("f", "sig")))
      .withColumn("b", explode(expr("sequence(0, 3)")))
      .select(col("asset_id"), col("timestamp"), col("nf"),
        col("f").cast("int").as("f"), col("sig"), col("b").cast("int").as("b"),
        expr("cast(shiftright(sig, 16 * b) & 65535 as int)").as("bval"),
        col("ts")) // the watermark column must reach the stateful operator
      .as[(Long, Long, Int, Int, Long, Int, Int, java.sql.Timestamp)]
    banded.groupByKey { case (_, _, _, f, _, b, bval, _) => (f, b, bval) }
      .flatMapGroupsWithState[FrameBucketState, FrameHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[FrameBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            val st = state.getOption.getOrElse(FrameBucketState(Nil, Nil, Nil, Nil))
            var kept = st.sigs.indices.map(i =>
              (st.sigs(i), st.ts(i), st.ids(i), st.nfs(i)))
              .filter(_._2 >= wm).toList
            val out = Seq.newBuilder[FrameHit]
            rows.toSeq.sortBy(r => (r._2, r._1)).foreach {
              case (id, tsm, nf, f, sig, _, _, _) =>
                val hits = kept.filter { case (s, _, oid, _) =>
                  oid != id && java.lang.Long.bitCount(s ^ sig) <= maxHamming }
                if (hits.isEmpty) out += FrameHit(id, tsm, nf, f, -1L, 0)
                else hits.foreach { case (_, _, oid, onf) =>
                  out += FrameHit(id, tsm, nf, f, oid, onf) }
                // newest-by-event-time cap, the bandedGuardCore rule
                kept = ((sig, tsm, id, nf) :: kept).sortBy(_._2)
                  .takeRight(GuardBucketCap)
            }
            state.update(FrameBucketState(kept.map(_._1), kept.map(_._2),
              kept.map(_._3), kept.map(_._4)))
            state.setTimeoutTimestamp(
              math.max(kept.map(_._2).max + delayMs, wm + 1L))
            out.result().iterator
          }
      }
  }

  /** Per-micro-batch reassembly of [[dedupNearFrameSeqStream]]'s frame
    * hits (run INSIDE `foreachBatch`, the [[sigSurvivors]] contract): a
    * frame pair found via several bands counts ONCE (the batch `vnearf`
    * DISTINCT), aligned-near-frame counts apply the half-of-shorter rule
    * per candidate pair, and an asset survives iff NO earlier in-window
    * asset reached the bar. Returns surviving (asset_id, timestamp) —
    * ids only; payloads re-fetch by id ([[SigEvent]] stance). */
  def frameSeqSurvivors(batch: DataFrame): DataFrame = {
    val suppressed = batch.filter(col("other_id") >= 0)
      .select("asset_id", "nf", "frame_idx", "other_id", "other_nf")
      .distinct()
      .groupBy("asset_id", "nf", "other_id", "other_nf")
      .agg(count(lit(1)).as("n_near"))
      .filter(col("n_near") >= expr("(least(nf, other_nf) + 1) div 2"))
      .select("asset_id").distinct()
    batch.select("asset_id", "timestamp").distinct()
      .join(suppressed, Seq("asset_id"), "left_anti")
  }

  /** Per-micro-batch reassembly of [[dedupNearBandedStream]]'s verdicts —
    * run it INSIDE `foreachBatch` (all of a doc's band rows land in the
    * same batch, so this is a complete per-doc reduce with no cross-batch
    * state): the surviving [[DocEvent]]s, i.e. docs none of whose bands
    * found an earlier in-window near signature. */
  def nearBandedSurvivors(batch: DataFrame): DataFrame =
    batch.groupBy("doc_id", "timestamp")
      .agg(max(col("near")).as("suppressed"),
        first(col("text"), ignoreNulls = true).as("text"))
      .filter(!col("suppressed"))
      .select("doc_id", "timestamp", "text")

  /** Per-key state of [[diffStream]]: the last content hash (None after a
    * tombstone) and the newest event time seen (drives the TTL timer). */
  case class DiffState(hash: Option[String], maxSeen: Long)

  /** Streaming corpus-versioning diff — the online twin of the batch
    * `dd_corpus_diff` snapshot audit: classify each upsert against the
    * key's last-seen content hash as `added` (never seen / seen only as a
    * tombstone), `changed` (hash differs), `unchanged` (hash equal), or
    * `removed` (tombstone for a live doc). A tombstone for an unknown
    * doc_id emits nothing — the batch twin has no row for it either.
    *
    * Replaying snapshot A then snapshot B (tombstones for B's deletions)
    * and keeping each key's LAST emission reproduces the batch query's
    * classification exactly — spec-pinned (`StreamingDedupSpec`).
    *
    * State is one 32-char hash per live doc_id: constant bytes per key, so
    * total state tracks the live-corpus key count, not the stream length.
    * `ttlMs > 0` bounds even that under key churn: an event-time timer
    * (the P4 pattern, watermark-clamped) evicts keys idle for ttlMs, after
    * which a re-crawled doc classifies as `added` again — the same
    * windowed-knowledge trade `dedupExactStream` makes. Rows within a
    * micro-batch process in (ts, tombstone-last) order so an upsert and
    * its same-ts deletion resolve deterministically. */
  def diffStream(ups: Dataset[DocUpsert], ttlMs: Long = 0L,
      watermarkDelay: String = "10 seconds"): Dataset[DiffEvent] = {
    val spark = ups.sparkSession
    import spark.implicits._
    val routed =
      if (ttlMs <= 0L) ups
      else ups.toDF() // EventTimeTimeout needs a watermark
        .withColumn("ets", timestamp_millis(col("timestamp")))
        .withWatermark("ets", watermarkDelay)
        .as[DocUpsert]
    val timeout =
      if (ttlMs <= 0L) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    routed.groupByKey(_.doc_id)
      .flatMapGroupsWithState[DiffState, DiffEvent](OutputMode.Append, timeout) {
        (id, rows, state: GroupState[DiffState]) =>
          if (ttlMs > 0L && state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(DiffState(None, Long.MinValue))
            val out = Seq.newBuilder[DiffEvent]
            rows.toSeq.sortBy(r => (r.timestamp, r.text.isEmpty)).foreach { r =>
              (r.text, st.hash) match {
                case (Some(t), prev) =>
                  val h = md5Hex(t)
                  val cls =
                    if (prev.isEmpty) "added"
                    else if (prev.contains(h)) "unchanged"
                    else "changed"
                  out += DiffEvent(id, r.timestamp, cls)
                  st = DiffState(Some(h), math.max(st.maxSeen, r.timestamp))
                case (None, Some(_)) =>
                  out += DiffEvent(id, r.timestamp, "removed")
                  st = DiffState(None, math.max(st.maxSeen, r.timestamp))
                case (None, None) => // tombstone for an unknown doc: no-op
                  st = st.copy(maxSeen = math.max(st.maxSeen, r.timestamp))
              }
            }
            state.update(st)
            // watermark-clamped timer: see asofEnrich — an all-late batch
            // must not arm a timer at-or-below the current watermark
            if (ttlMs > 0L) state.setTimeoutTimestamp(
              math.max(st.maxSeen + ttlMs, state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** Hex MD5 matching Spark's `md5()` / DuckDB's `md5()` (lowercase hex of
    * the UTF-8 bytes) — keeps the stream's hash comparable with the batch
    * twin's. */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}
