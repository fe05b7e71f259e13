package graft.llm

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming corpus sketches — the ingest-side twins of the batch
  * dashboard queries (`tx_vocab` exact top-k, the HLL cardinality
  * envelope in CurationSpec).
  *
  * A raw `groupBy(token).count()` on an unbounded ingest stream keeps one
  * state row PER DISTINCT TOKEN — vocabulary grows with the corpus, so
  * that plan's state is unbounded. The Misra-Gries summary bounds state at
  * k counters per shard BY CONSTRUCTION and still guarantees every token
  * with frequency > n/k survives with estimate in [true − n/k, true] —
  * exactly the "what's flooding my crawl right now" dashboard contract.
  */
object StreamingSketch {

  /** One sketch entry: `est` is a LOWER bound on the token's true count in
    * `shard`; `ver` is the per-shard state version (emissions from the
    * latest micro-batch carry the shard's max ver). */
  case class TokenHH(shard: Int, token: String, est: Long, ver: Long)

  /** Misra-Gries state: at most k counters + a monotone version. */
  case class MG(counts: Map[String, Long], ver: Long)

  /** Streaming heavy hitters over the token stream of a document ingest.
    *
    * Tokens shard by a stable token hash (same token always lands in the
    * same shard, so per-shard counts are globally meaningful), and one
    * [[MG]] summary per shard runs the classic algorithm: increment a
    * tracked counter, adopt the token if a slot is free, else decrement
    * every counter by one and discard (evicting zeros). State is k entries
    * per shard — CONSTANT in the stream length; `shards` scales throughput
    * (each shard's updates are single-threaded per micro-batch), k buys
    * accuracy (error ≤ n_shard/k).
    *
    * Emitted in Update mode: each batch re-emits the shard's current
    * sketch with a bumped `ver`; consumers read the max-`ver` emission per
    * shard (spec shows the pattern). */
  /** Global top-k over a table of [[TokenHH]] emissions (e.g. a memory or
    * parquet sink fed by [[heavyHitters]]): tokens are partitioned by
    * shard (the same token never lands in two shards), so the union of
    * each shard's LATEST emission needs no cross-shard counter merge —
    * rank by estimate and take k. Estimates are MG lower bounds. */
  def topTokens(emissions: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    emissions
      .withColumn("maxv", max("ver").over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")))
      .filter(col("ver") === col("maxv"))
      .orderBy(col("est").desc, col("token"))
      .limit(k)
      .select("token", "est", "shard")
  }

  /** One sample entry: docs with the k smallest `h` per shard survive. */
  case class SampleRow(shard: Int, doc_id: Long, h: String, ver: Long)

  /** Bottom-k state: the k smallest (h, doc_id) seen, plus a version. */
  case class BK(rows: Seq[(String, Long)], ver: Long)

  /** Streaming deterministic reservoir — the ingest twin of `tx_sample`:
    * a bounded, REPRODUCIBLE sample of an unbounded stream. Instead of the
    * classic randomized reservoir, each doc gets a content-independent
    * hash rank (`md5('samp:' || doc_id)`, the tx_sample/tx_shuffle key
    * stance) and each shard keeps the k hash-smallest docs — bottom-k
    * sketches are exactly mergeable and the result is a pure FUNCTION OF
    * THE SET of docs seen: arrival order, batching, and restarts cannot
    * change it (the spec pins exact equality with the batch bottom-k).
    * State is k rows per shard, constant in stream length; a global
    * size-k sample is the bottom-k of the union of shard emissions. */
  def sampleStream(docs: Dataset[DocEvent], k: Int = 8, shards: Int = 4): Dataset[SampleRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.toDF()
      .select(col("doc_id"), md5(concat(lit("samp:"), col("doc_id"))).as("h"))
      .select(col("doc_id"), col("h"),
        pmod(hash(col("doc_id")), lit(shards)).cast("int").as("shard"))
      .as[(Long, String, Int)]
    keyed.groupByKey(_._3)
      .flatMapGroupsWithState[BK, SampleRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val st = state.getOption.getOrElse(BK(Seq.empty, 0L))
          val merged = (st.rows.iterator ++ rows.map(r => (r._2, r._1)))
            .toSeq.distinct.sorted.take(k)
          val ver = st.ver + 1
          state.update(BK(merged, ver))
          merged.iterator.map { case (h, id) => SampleRow(shard, id, h, ver) }
      }
  }

  /** One KMV emission: the shard's current bottom-k token hashes. */
  case class KmvRow(shard: Int, h: Long, ver: Long)

  /** Bottom-k-hashes state + version. */
  case class KV(rows: Seq[Long], ver: Long)

  /** Streaming KMV distinct-token sketch — the ingest twin of
    * `tx_kmv_distinct` (how many distinct tokens has this crawl produced
    * so far, without a per-token state row): each shard keeps the k
    * SMALLEST distinct `md5_long60('kmv:' || token)` values — the same
    * hash key as the batch sketch, so the streaming and batch estimates
    * are the SAME number on the same token set. Bottom-k sketches are
    * exactly mergeable and order-free: the result is a pure function of
    * the token SET (arrival order, batching, restarts can't change it —
    * the sampleStream proof pattern, spec-pinned against the batch
    * sketch). State = k longs per shard, constant in stream length;
    * tokens shard BY HASH so each shard's bottom-k is a uniform
    * sub-sketch and [[kmvEstimate]] merges them into the global estimate. */
  def kmvStream(docs: Dataset[DocEvent], k: Int = 16, shards: Int = 4): Dataset[KmvRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashes = docs.toDF()
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      .select(expr("md5_long60(concat('kmv:', token))").as("h"))
      .select(col("h"), pmod(col("h"), lit(shards)).cast("int").as("shard"))
      .as[(Long, Int)]
    hashes.groupByKey(_._2)
      .flatMapGroupsWithState[KV, KmvRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val st = state.getOption.getOrElse(KV(Seq.empty, 0L))
          val merged = (st.rows.iterator ++ rows.map(_._1))
            .toSeq.distinct.sorted.take(k)
          val ver = st.ver + 1
          state.update(KV(merged, ver))
          merged.iterator.map(h => KmvRow(shard, h, ver))
      }
  }

  /** Global distinct estimate from [[kmvStream]] emissions: latest `ver`
    * per shard, union the shard bottom-k's, global bottom-k, then the
    * tx_kmv_distinct estimator (k−1)·D/h_k over the 60-bit domain. */
  def kmvEstimate(emissions: org.apache.spark.sql.DataFrame, k: Int): Long = {
    val hs = emissions
      .withColumn("maxv", max("ver").over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")))
      .filter(col("ver") === col("maxv"))
      .select("h").distinct()
      .orderBy("h").limit(k)
      .collect().map(_.getLong(0))
    require(hs.length == k, s"need at least k=$k distinct hashes, saw ${hs.length}")
    math.round((k - 1) * 1152921504606846976.0 / hs.max)
  }

  def heavyHitters(docs: Dataset[DocEvent], k: Int = 8, shards: Int = 4): Dataset[TokenHH] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.toDF()
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
      .select(col("token"), pmod(hash(col("token")), lit(shards)).cast("int").as("shard"))
      .as[(String, Int)]
    toks.groupByKey(_._2)
      .flatMapGroupsWithState[MG, TokenHH](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          val st = state.getOption.getOrElse(MG(Map.empty, 0L))
          val m = scala.collection.mutable.HashMap[String, Long](st.counts.toSeq: _*)
          rows.foreach { case (t, _) =>
            m.get(t) match {
              case Some(c) => m(t) = c + 1
              case None if m.size < k => m(t) = 1L
              case None =>
                m.mapValuesInPlace((_, c) => c - 1)
                m.filterInPlace((_, c) => c > 0)
            }
          }
          val ver = st.ver + 1
          state.update(MG(m.toMap, ver))
          m.iterator.map { case (t, c) => TokenHH(shard, t, c, ver) }
      }
  }
}
