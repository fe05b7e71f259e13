package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The corpus-prep pipeline (llm_corpus_prep, L20) as a STREAMING job —
  * the ingest-side flavor of the batch composition: quality gate → exact
  * dedup → chunking, over a document event stream.
  *
  * Every stage is streaming-native by construction:
  *   - the quality gate is a pure projection (TextQueries.withQualityKeep),
  *     so it rides the stream unchanged;
  *   - exact dedup is `dropDuplicatesWithinWatermark` on the content hash —
  *     state bounded by the event-time watermark (windowed uniqueness; the
  *     global-forever pass stays the batch job's responsibility);
  *   - chunking is a stateless explode.
  *
  * NEAR-dup cluster keeper selection is deliberately absent: it needs the
  * candidate self-join + connected components, a multi-pass batch shape.
  * The ingest guard for that is `StreamingDedup.dedupNearStream` (row-local
  * simhash signature equality); the full clustering runs downstream on the
  * staged table (PipelineQueries.llm_cluster_stage).
  */
/** Document ingest event carrying a language tag (the lm-gate stream shape;
  * [[DocEvent]] is the untagged flavor the dedup/prep streams use). */
case class LangDocEvent(doc_id: Long, timestamp: Long, lang: String, text: String)

object StreamingCorpusPrep {

  /** (doc_id, ts, chunk_idx, chunk_hash) for surviving documents. */
  def prepStream(docs: Dataset[DocEvent], delay: String = "10 seconds"): DataFrame =
    TextQueries.withQualityKeep(docs.toDF())
      .filter(col("keep") === 1).drop("keep")
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("pos",
        explode(expr(s"sequence(1, greatest(length(text), 1), ${TextQueries.chunkStep})")))
      .select(col("doc_id"), col("ts"),
        expr(s"cast((pos - 1) div ${TextQueries.chunkStep} as bigint)").as("chunk_idx"),
        expr(s"md5(substring(text, pos, ${TextQueries.chunkLen}))").as("chunk_hash"))

  /** Online LM quality gate — tx_lm_score's ingest twin, and the CCNet
    * SERVING shape: the unigram model, smoothing stats, and tercile cutoffs
    * are trained batch-side on the reference corpus
    * (`TextQueries.lmModelFrames` / `lmCutoffsDF` — the exact batch chain),
    * then every incoming doc is scored online and bucketed against the
    * STATIC cutoffs. Ranks are a corpus concept; a stream can't re-rank the
    * past, so serving pins the cut POINTS — which is precisely how CCNet
    * deploys its perplexity terciles.
    *
    * Shape: explode (stateless) → stream-static left join against the
    * vocab-sized model (Spark broadcasts the static side; no stream state)
    * → per-doc windowed re-agg under the watermark (state = in-flight
    * window, bounded) → cutoff comparison carried through the agg via
    * `first` (the cutoff table is lang-sized and joined BEFORE the agg, so
    * no stream-static join sits downstream of a stateful operator). Scoring
    * arithmetic is `TextQueries.lmContribSql` with tf = 1 per occurrence —
    * the scaled-long sum is order-free, so per-occurrence streaming sums
    * equal the batch tf-weighted sums bit for bit. Tie envelope (SPEC-
    * PINNED on both cut points — see "LM gate tie-at-cutoff" in
    * StreamingCorpusPrepSpec): a doc whose nll lands EXACTLY on a cut
    * point buckets to the better tier online, whereas the batch rank may
    * push its doc_id-tiebroken twin down one — the one divergence
    * pinned-cutoff serving admits. */
  def lmScoreStream(docs: DataFrame, model: DataFrame, stats: DataFrame,
      cutoffs: DataFrame, delay: String = "10 seconds",
      window: String = "1 second"): DataFrame =
    docs
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("lang"), col("ts"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      .join(stats, "lang")
      .join(model.select(col("lang"), col("tok"), col("c").as("mc")),
        Seq("lang", "tok"), "left")
      .join(cutoffs, Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("ts"), col("c1"), col("c2"),
        expr(TextQueries.lmContribSql("1L")).as("q"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum("q").as("sq"),
        first("c1").as("c1"), first("c2").as("c2"))
      .withColumn("nll", expr("cast(sq as double) / (1e6 * n_tokens)"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        expr("CASE WHEN c1 IS NOT NULL AND nll <= c1 THEN 'head' " +
          "WHEN c2 IS NOT NULL AND nll <= c2 THEN 'middle' ELSE 'tail' END").as("bucket"))

  /** The serving trio composed END TO END as ONE streaming query —
    * quality gate → watermarked exact dedup → online LM bucket — emitting
    * publish-ready rows (doc_id, lang, text, n_tokens, nll, bucket) that
    * [[Publish.publishStream]] lands exactly-once lang-partitioned. The
    * production ingest shape: one checkpoint, one watermark domain, no
    * intermediate handoff sink between the stages.
    *
    * Spark-side structure: the quality gate is a pure projection; the
    * dedup is `dropDuplicatesWithinWatermark` on the content hash
    * (stateful #1); the LM stage tokenizes, stream-static joins the
    * pinned model/stats/cutoffs (broadcast, stateless), and re-aggregates
    * per doc under the SAME watermark (stateful #2) — chained stateful
    * operators in append mode, which Structured Streaming supports when
    * both share one event-time domain. `text` rides the token explode so
    * the aggregate can re-emit it (`first`) for the publish stage —
    * publish needs the payload; production would carry a doc pointer
    * instead if payloads were large. Bucket semantics are
    * [[lmScoreStream]]'s pinned-cutoff serving, tie envelope included. */
  def curateStream(docs: Dataset[LangDocEvent], model: DataFrame,
      stats: DataFrame, cutoffs: DataFrame, delay: String = "10 seconds",
      window: String = "1 second"): DataFrame =
    TextQueries.withQualityKeep(docs.toDF())
      .filter(col("keep") === 1).drop("keep")
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("lang"), col("ts"), col("text"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      .join(stats, "lang")
      .join(model.select(col("lang"), col("tok"), col("c").as("mc")),
        Seq("lang", "tok"), "left")
      .join(cutoffs, Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("ts"), col("text"),
        col("c1"), col("c2"), expr(TextQueries.lmContribSql("1L")).as("q"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"), col("lang"))
      .agg(first("text").as("text"), count(lit(1)).as("n_tokens"),
        sum("q").as("sq"), first("c1").as("c1"), first("c2").as("c2"))
      .withColumn("nll", expr("cast(sq as double) / (1e6 * n_tokens)"))
      .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"), col("nll"),
        expr("CASE WHEN c1 IS NOT NULL AND nll <= c1 THEN 'head' " +
          "WHEN c2 IS NOT NULL AND nll <= c2 THEN 'middle' ELSE 'tail' END").as("bucket"))

  /** Online boilerplate-line scrub — tx_line_dedup's ingest twin: the
    * boilerplate set (lines whose corpus document-frequency reached the
    * threshold) is built batch-side on the reference corpus
    * (`TextQueries.boilerSetDF`, result-sized), and every incoming doc is
    * re-segmented, membership-joined, and REBUILT online. Corpus df is a
    * corpus concept — a stream cannot know a line's future frequency, so
    * serving pins the batch-built set, exactly like the lm gate pins its
    * tercile cutoffs (and CCNet-style pipelines deploy line filters).
    *
    * Shape: row-local segmentation (the shared batch transform) →
    * stream-static left join against the boiler set (no stream state) →
    * watermark-bounded per-doc rebuild agg using the SAME aggregate
    * expressions as the batch rebuild — output rows are bit-identical to
    * `tx_line_dedup` for any doc whose lines all carry their batch df. */
  def lineScrubStream(docs: Dataset[DocEvent], boiler: DataFrame,
      delay: String = "10 seconds", window: String = "1 second"): DataFrame =
    TextQueries.lineSegmentsDF(
        docs.toDF().withColumn("ts", timestamp_millis(col("timestamp")))
          .withWatermark("ts", delay)
          .select("doc_id", "ts", "text"))
      .join(boiler, Seq("lh"), "left")
      .withColumn("is_b", coalesce(col("is_b"), lit(false)))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(TextQueries.lineRebuildAggs.head, TextQueries.lineRebuildAggs.tail: _*)
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        expr("n_removed * 1.0D / n_lines").as("removed_frac"),
        col("clean_hash"))

  /** Streaming decontamination gate — tx_decontam_bloom's ingest twin: the
    * benchmark gram set rides along as a serialized bloom filter (built
    * batch-side, bounded by the eval suite), and every incoming doc is
    * flagged IN ITS OWN ROW: token 4-grams fold to the house 60-bit hash
    * and probe the bloom inside one projection — zero state, zero shuffle,
    * no watermark needed. Contract: `n_hits = 0` is DEFINITIVE clean (blooms
    * have no false negatives); `n_hits > 0` means "quarantine for the exact
    * batch-side verify" (false-positive rate = the build's fpp). The gram
    * loop runs as an interpreted higher-order function — acceptable on a
    * per-doc gate (~hundreds of probes/doc); the batch twin keeps the
    * codegen explode form for the full-corpus pass. */
  def decontamStream(docs: Dataset[DocEvent], bloomBytes: Array[Byte],
      gram: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    // function name derives from the bloom's content: two concurrent
    // streams gating on different eval suites in one session must not
    // fight over a shared registry slot
    val probeFn = "graft_stream_bloom_probe_" +
      (java.util.Arrays.hashCode(bloomBytes) & Int.MaxValue)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      probeFn,
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        exprs.head),
      "built-in")
    docs.toDF()
      .withColumn("toks", expr(s"regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .withColumn("n_hits", expr(
        s"""size(filter(
           |  transform(
           |    CASE WHEN size(toks) >= $gram THEN sequence(1, size(toks) - ${gram - 1}) ELSE array() END,
           |    i -> ${LlmHash.sparkH(s"array_join(slice(toks, i, $gram), ' ')")}),
           |  gh -> $probeFn(gh)))""".stripMargin))
      .select(col("doc_id"), col("timestamp"), col("n_hits").cast("long").as("n_hits"),
        (col("n_hits") > 0).as("quarantine"))
  }

  /** Streaming novelty gate — tx_novelty's ingest twin in the
    * batch-train/stream-serve family (the decontamStream shape pointed the
    * other way): the CORPUS's distinct word-3-gram universe rides along as
    * a serialized bloom (built batch-side from
    * `TextQueries.wordGramHashes`), and each incoming doc is scored in its
    * own row — distinct grams probed in one projection, novelty = the
    * share that MISS. Zero state, zero shuffle, no watermark.
    *
    * Contract: bloom false positives make a truly-novel gram look known,
    * so the estimate is a LOWER bound on novelty (conservative for a
    * "only ingest novel content" gate: it admits slightly less, never
    * garbage); novelty_permille = 1000 is definitive (every gram missed —
    * blooms have no false negatives), and a doc already in the corpus
    * scores exactly 0. Docs under 3 tokens score 0 over 0 grams. */
  def noveltyStream(docs: Dataset[DocEvent], bloomBytes: Array[Byte]): DataFrame = {
    val spark = docs.sparkSession
    val probeFn = "graft_stream_novelty_probe_" +
      (java.util.Arrays.hashCode(bloomBytes) & Int.MaxValue)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      probeFn,
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        exprs.head),
      "built-in")
    docs.toDF()
      .withColumn("toks", expr(s"regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
      .withColumn("ghs", expr(
        s"""array_distinct(transform(
           |  CASE WHEN size(toks) >= 3 THEN sequence(1, size(toks) - 2) ELSE array() END,
           |  i -> ${LlmHash.sparkH("array_join(slice(toks, i, 3), ' ')")}))""".stripMargin))
      .withColumn("n_grams", expr("cast(size(ghs) as bigint)"))
      .withColumn("n_novel", expr(s"cast(size(filter(ghs, gh -> NOT $probeFn(gh))) as bigint)"))
      .select(col("doc_id"), col("timestamp"), col("n_grams"), col("n_novel"),
        expr("cast(floor(n_novel * 1000.0D / greatest(n_grams, 1)) as bigint)")
          .as("novelty_permille"))
  }

  /** Online DSIR gate — tx_dsir's ingest twin: the 64-row bucket→log-ratio
    * table is trained batch-side on the reference corpus
    * (`TextQueries.dsirLrDF`) and PINNED, exactly like the lm gate pins
    * its cutoffs — importance ratios are a corpus concept a stream cannot
    * know. Every incoming doc is tokenized with the shared regex, hashed
    * into the same buckets, stream-static joined to the ratio table
    * (constant-size, broadcast), and summed per doc under the watermark.
    * The scaled-long sum is order-free, so a streamed doc's score equals
    * its batch `tx_dsir` score bit for bit against the same table
    * (spec-pinned). The pinned table is DENSE over all buckets
    * (`dsirLrDF`'s range spine), so a streamed token hashing into a
    * bucket the training corpus never touched gets the add-one smoothed
    * prior ln((traw+B)/(ttgt+B)) — not a silent 0 (spec-pinned). State =
    * in-flight windows only; empty docs score 0 through the
    * explode_outer/coalesce path like the batch left join. */
  def dsirScoreStream(docs: Dataset[LangDocEvent], lr: DataFrame,
      delay: String = "10 seconds", window: String = "1 second"): DataFrame = {
    docs.toDF()
      .withColumn("ts", timestamp_millis(col("timestamp")))
      .withWatermark("ts", delay)
      .select(col("doc_id"), col("lang"), col("ts"),
        explode_outer(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      .withColumn("b", expr( // null tok (empty doc) -> null b -> lr misses
        s"md5_long60(concat('dsir:', tok)) % ${TextQueries.dsirB}"))
      .join(broadcast(lr), Seq("b"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"), col("lang"))
      .agg(sum(coalesce(col("lr"), lit(0L))).as("score_micro"))
      .select(col("doc_id"), col("lang"), col("score_micro"))
  }

  /** Streaming dataset-card counters — the live half of `llm_dataset_card`
    * (L103): per-source running doc count, token total, and quality-gate
    * pass count, refined every micro-batch in UPDATE mode. The quality
    * gate and token count are the batch card's own projections
    * (`withQualityKeep`, the shared tokenizer regex), so the counters a
    * closed stream reports equal the batch card's columns on the same
    * rows (spec-pinned).
    *
    * State = one row of three longs per SOURCE — source-cardinality
    * bounded, no watermark needed (a card is a running total, not a
    * window). The batch card's language spread and exact-dup exposure are
    * deliberately absent: dup tracking needs per-content-hash state (the
    * dedup streams' job) and top-language is a rank over completed
    * counts; the streaming card serves the monotone counters a live
    * ingest dashboard polls. */
  def cardStream(docs: Dataset[SourceDocEvent]): DataFrame =
    TextQueries.withQualityKeep(docs.toDF())
      .withColumn("n_tok",
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_tok"), lit(0L))).as("total_tokens"),
        sum("keep").as("quality_pass_docs"))

  /** Live packing-efficiency counters — tx_pack_report's ingest half (the
    * cardStream stance: running totals in UPDATE mode, no watermark): each
    * doc contributes its token count and its per-length ceil(t/L) sequence
    * count; state = one row of three longs per candidate LENGTH (4 keys).
    * All integer arithmetic, so a closed stream's counters equal the batch
    * report's columns on the same docs exactly — the utilization quotient
    * is derived by the consumer from the emitted exact integers, just as
    * the batch query derives it. */
  def packReportStream(docs: Dataset[DocEvent]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ls = broadcast(Seq(256L, 512L, 1024L, 2048L).toDF("seq_len"))
    docs.toDF()
      .withColumn("t",
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)"))
      .join(ls) // 4-literal-row constant
      .withColumn("n_seq", expr("(coalesce(t, 0L) + seq_len - 1) div seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("t"), lit(0L))).as("total_tokens"),
        sum("n_seq").as("n_seqs"))
  }
}

/** Source-tagged document ingest event (the dataset-card stream shape). */
case class SourceDocEvent(doc_id: Long, timestamp: Long, source: String, text: String)
