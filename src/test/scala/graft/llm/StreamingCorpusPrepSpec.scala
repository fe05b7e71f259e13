package graft.llm

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamingCorpusPrepSpec extends SparkSpec {

  test("streaming corpus prep: quality-gates, dedups, and chunks an ingest stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // good doc: 40 distinct 5-char tokens (passes every rule), ~1200 chars
    // after repetition → 3 chunks at step 400
    val vocab = (0 until 100).map(i => f"tok${i}%02da")
    val good = (vocab ++ vocab).mkString(" ") // 200 tokens, uniq_r = 0.5
    val short = "too short to pass" // n_tokens < 10 → dropped
    val mem = MemoryStream[DocEvent]
    val q = StreamingCorpusPrep.prepStream(mem.toDS())
      .writeStream.format("memory").queryName("scp_out").outputMode("append").start()
    mem.addData(
      DocEvent(1L, 1000L, good),
      DocEvent(2L, 1100L, short), // quality-dropped
      DocEvent(3L, 1200L, good)) // exact dup of doc 1 within watermark
    q.processAllAvailable()
    val rows = spark.table("scp_out")
      .select("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val expectedChunks = (good.length - 1) / TextQueries.chunkStep + 1
    assert(rows.map(_._1) == Set(1L), s"only the first good doc survives: $rows")
    assert(rows == (0 until expectedChunks).map(i => (1L, i.toLong)).toSet,
      s"doc 1 must emit $expectedChunks chunks: $rows")
  }

  test("streaming LM gate scores and buckets exactly like the batch scorer") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two languages; "en" docs are the tx_lm_score spec corpus (distinct
    // nll values, so the rank terciles and the cutoff comparison agree);
    // doc 41 is eval-held-out → fully OOV → must gate 'tail' online too
    val corpus = Seq(
      (1L, "en", "the the the the the the"),
      (2L, "en", "the cat sat on the mat"),
      (3L, "en", "the dog ran to the cat"),
      (4L, "en", "cat dog mat sun moon star"),
      (5L, "en", "sun moon star the dog mat"),
      (6L, "en", "on to ran sat sun moon"),
      (41L, "en", "zyx wvu tsr qpo nml kji"),
      (7L, "de", "der hund und die katze"),
      (8L, "de", "die katze und der vogel extra"),
      (9L, "de", "vogel hund katze der die und"))
    val batchDocs = corpus.toDF("doc_id", "lang", "text")
    val scored = TextQueries.lmScoreDF(batchDocs)
    val want = scored.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    // batch-trained serving tables
    val (model, stats) = TextQueries.lmModelFrames(batchDocs)
    val cutoffs = TextQueries.lmCutoffsDF(scored)

    val mem = MemoryStream[LangDocEvent]
    val q = StreamingCorpusPrep.lmScoreStream(
        mem.toDS().toDF(), model, stats, cutoffs)
      .writeStream.format("memory").queryName("lm_out").outputMode("append").start()
    mem.addData(corpus.zipWithIndex.map { case ((id, lang, text), i) =>
      LangDocEvent(id, 1000L + 100L * i, lang, text) }: _*)
    q.processAllAvailable()
    // advance the watermark past every scoring window to flush append mode
    mem.addData(LangDocEvent(999L, 100000L, "en", "sentinel"))
    q.processAllAvailable()
    val got = spark.table("lm_out").filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    q.stop()
    assert(got.keySet == want.keySet, s"every doc scored once: ${got.keySet}")
    got.foreach { case (id, (nTok, nll, bucket)) =>
      assert(nTok == want(id)._1, s"doc $id n_tokens")
      assert(nll == want(id)._2, s"doc $id: stream nll $nll != batch ${want(id)._2}")
      assert(bucket == want(id)._3, s"doc $id: stream bucket $bucket != batch ${want(id)._3}")
    }
    assert(got(41L)._3 == "tail", "OOV held-out doc gates to tail online")
  }

  test("LM gate tie-at-cutoff: a doc landing EXACTLY on a cut point buckets to the better tier online") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Planted ties: docs 2=3 are identical (same nll) and straddle the
    // head/middle RANK boundary; docs 4=5 are token-permutations (same
    // nll) and straddle middle/tail. Token counts order the nll values:
    // doc1 all-"the" (c=10) < docs 2/3 (mix 10,4,4) < docs 4/5 (all c=2)
    // < doc6 (all c=1). Batch ranks break the ties by doc_id, pushing
    // docs 3 and 5 down a tier; the pinned cutoffs c1/c2 EQUAL the tie
    // nll values, and the stream's `nll <= c` comparison admits both —
    // so online, the tied doc gets the BETTER tier. This is the one
    // divergence pinned-cutoff serving admits, pinned here on both cut
    // points.
    val corpus = Seq(
      (1L, "en", "the the the the the the"),
      (2L, "en", "the cat sat the cat sat"),
      (3L, "en", "the cat sat the cat sat"),
      (4L, "en", "dog ran mat sun moon star"),
      (5L, "en", "sun moon star dog ran mat"),
      (6L, "en", "qq ww ee rr tt yy"))
    val batchDocs = corpus.toDF("doc_id", "lang", "text")
    val scored = TextQueries.lmScoreDF(batchDocs)
    val want = scored.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    // fixture sanity: exact nll ties, ranks split them across tiers
    assert(want(2L)._1 == want(3L)._1 && want(4L)._1 == want(5L)._1,
      s"planted ties must have identical nll: $want")
    assert(want(2L)._2 == "head" && want(3L)._2 == "middle", s"head/middle tie: $want")
    assert(want(4L)._2 == "middle" && want(5L)._2 == "tail", s"middle/tail tie: $want")
    val (model, stats) = TextQueries.lmModelFrames(batchDocs)
    val cutoffs = TextQueries.lmCutoffsDF(scored)
    // the cutoffs ARE the tie values (max nll of the better tier)
    val cRow = cutoffs.filter(col("lang") === "en").head
    assert(cRow.getDouble(1) == want(2L)._1 && cRow.getDouble(2) == want(4L)._1,
      s"cut points must equal the tie nll values: $cRow")

    val mem = MemoryStream[LangDocEvent]
    val q = StreamingCorpusPrep.lmScoreStream(mem.toDS().toDF(), model, stats, cutoffs)
      .writeStream.format("memory").queryName("lm_tie_out").outputMode("append").start()
    mem.addData(corpus.zipWithIndex.map { case ((id, lang, text), i) =>
      LangDocEvent(id, 1000L + 100L * i, lang, text) }: _*)
    q.processAllAvailable()
    mem.addData(LangDocEvent(999L, 100000L, "en", "sentinel"))
    q.processAllAvailable()
    val got = spark.table("lm_tie_out").filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getString(4)))).toMap
    q.stop()
    // nll agrees bit for bit everywhere; the TIED docs bucket one tier UP
    got.foreach { case (id, (nll, _)) => assert(nll == want(id)._1, s"doc $id nll") }
    assert(got(3L)._2 == "head", s"tie at c1 buckets head online: ${got(3L)}")
    assert(got(5L)._2 == "middle", s"tie at c2 buckets middle online: ${got(5L)}")
    // and the un-tied docs keep their batch tiers
    assert(got(1L)._2 == "head" && got(2L)._2 == "head" &&
      got(4L)._2 == "middle" && got(6L)._2 == "tail", s"untied tiers: $got")
  }

  test("streaming line scrub rebuilds docs exactly like the batch line dedup") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the tx_line_dedup spec corpus: "footer" df=3 (boilerplate), "pair"
    // df=2 (survives), doc 6 is all-boilerplate → empty rebuild online too
    val footer = "visit our site for more"
    val pair = "two docs share this line"
    val a = "alpha beta gamma delta epsilon"
    val b = "one two three four five"
    val c = "red green blue cyan magenta"
    val corpus = Seq(
      (1L, s"$a $footer $pair"), (2L, s"$footer $b"), (3L, s"$c $footer"),
      (4L, s"$pair $b"), (5L, a), (6L, footer))
    val batchDocs = corpus.toDF("doc_id", "text")
    val want = TextQueries.lineDedupDF(batchDocs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    val boiler = TextQueries.boilerSetDF(
      TextQueries.lineSegmentsDF(batchDocs.select("doc_id", "text")))

    val mem = MemoryStream[DocEvent]
    val q = StreamingCorpusPrep.lineScrubStream(mem.toDS(), boiler)
      .writeStream.format("memory").queryName("ls_out").outputMode("append").start()
    mem.addData(corpus.zipWithIndex.map { case ((id, text), i) =>
      DocEvent(id, 1000L + 100L * i, text) }: _*)
    q.processAllAvailable()
    mem.addData(DocEvent(999L, 100000L, "sentinel closes the windows"))
    q.processAllAvailable()
    val got = spark.table("ls_out").filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    q.stop()
    assert(got == want, s"stream rebuild must equal the batch rebuild:\n$got\nvs\n$want")
  }

  test("streaming decontamination quarantines docs sharing eval 4-grams, in-row") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // batch-side bloom over the eval suite's token-4-gram hashes (the
    // tx_decontam_bloom build, tiny fpp so the clean doc can't collide)
    val evalDocs = Seq("the secret eval answer is forty two").toDF("text")
    val eg = evalDocs
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
      .select(explode(expr("sequence(1, size(toks) - 3)")).as("i"), col("toks"))
      .select(expr(LlmHash.sparkH("array_join(slice(toks, i, 4), ' ')")).as("gh"))
      .distinct()
    val bloom = eg.stat.bloomFilter("gh", 1000L, 0.0001)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }

    val mem = MemoryStream[DocEvent]
    val q = StreamingCorpusPrep.decontamStream(mem.toDS(), bytes)
      .writeStream.format("memory").queryName("dc_out").outputMode("append").start()
    mem.addData(
      DocEvent(1L, 1000L, "totally unrelated clean text about nothing special"),
      DocEvent(2L, 1100L, "a doc leaking the secret eval answer is forty two verbatim"),
      DocEvent(3L, 1200L, "tiny")) // fewer tokens than a 4-gram
    q.processAllAvailable()
    val rows = spark.table("dc_out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    q.stop()
    assert(!rows(1L)._2 && rows(1L)._1 == 0, s"clean doc passes: $rows")
    assert(rows(2L)._2 && rows(2L)._1 >= 1, s"leaking doc quarantined: $rows")
    assert(!rows(3L)._2, s"sub-gram doc is definitively clean: $rows")
  }

  test("streaming novelty gate: corpus docs score 0, new content scores high, quotes in between") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val corpusText = (0 until 30).map(i => s"known$i corpus$i fact$i").mkString(" ")
    val corpus = Seq((100L, corpusText)).toDF("doc_id", "text")
    // batch-side bloom over the corpus's distinct word-3-gram universe
    // (tiny fpp so the fully-novel doc can't collide in this spec)
    val bloom = TextQueries.wordGramHashes(corpus).stat.bloomFilter("gh", 1000L, 0.0001)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }

    val novelText = (0 until 30).map(i => s"fresh$i unseen$i idea$i").mkString(" ")
    // half corpus quote, half new content
    val mixedText = corpusText.split(" ").take(45).mkString(" ") + " " +
      novelText.split(" ").take(45).mkString(" ")
    val mem = MemoryStream[DocEvent]
    val q = StreamingCorpusPrep.noveltyStream(mem.toDS(), bytes)
      .writeStream.format("memory").queryName("nv_out").outputMode("append").start()
    mem.addData(
      DocEvent(1L, 1000L, corpusText), // verbatim corpus doc
      DocEvent(2L, 1100L, novelText),  // fully new content
      DocEvent(3L, 1200L, mixedText),  // half-quoted
      DocEvent(4L, 1300L, "two words")) // under 3 tokens: 0 grams
    q.processAllAvailable()
    val rows = spark.table("nv_out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    q.stop()
    assert(rows(1L)._3 == 0L, s"a doc already in the corpus scores exactly 0: $rows")
    assert(rows(2L)._3 == 1000L,
      s"fully new content misses every probe (no false negatives => definitive): $rows")
    assert(rows(3L)._3 > 200L && rows(3L)._3 < 800L,
      s"half-quoted doc lands between: $rows")
    assert(rows(4L)._1 == 0L && rows(4L)._3 == 0L, s"sub-gram doc: 0 over 0 grams: $rows")
  }

  test("streaming card counters equal the batch card's columns on the same rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // a passing doc (>= 10 diverse tokens) and a failing one per source
    def good(i: Int) = (0 until 15).map(j => s"alpha$i$j beta$i$j").mkString(" ")
    val docs = Seq(
      SourceDocEvent(1L, 1000L, "s0", good(1)),
      SourceDocEvent(2L, 1100L, "s0", "too short"),
      SourceDocEvent(3L, 1200L, "s1", good(3)),
      SourceDocEvent(4L, 1300L, "s1", good(4)),
      SourceDocEvent(5L, 1400L, "s1", "tiny"))
    val mem = MemoryStream[SourceDocEvent]
    val q = StreamingCorpusPrep.cardStream(mem.toDS())
      .writeStream.format("memory").queryName("card_out").outputMode("update").start()
    mem.addData(docs.take(2): _*)
    q.processAllAvailable()
    mem.addData(docs.drop(2): _*)
    q.processAllAvailable()
    // update mode re-emits refined rows; the LAST row per source is current
    val last = spark.table("card_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.last }
    q.stop()
    val want = docs.toDF("doc_id", "timestamp", "source", "text")
      .transform(TextQueries.withQualityKeep)
      .withColumn("n_tok",
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"),
        sum("keep").as("quality_pass_docs"))
      .collect().map(r => r.getString(0) -> ((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(last == want, s"stream: $last\nbatch: $want")
    assert(last("s0")._2 == 2 && last("s1")._2 == 3, s"doc counts: $last")
    assert(last("s0")._4 == 1 && last("s1")._4 == 2, s"quality pass counts: $last")
  }

  test("streaming packing counters equal the batch report's integers on stream close") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val texts = Seq(
      (1L, ("w " * 300).trim),   // 300 tokens: straddles 256, fits 512
      (2L, ("w " * 600).trim),   // 600: 3 seqs at 256, 2 at 512
      (3L, "a b c"),             // tiny
      (4L, ""))                  // zero tokens -> 0 seqs at every length
    val mem = MemoryStream[DocEvent]
    val q = StreamingCorpusPrep.packReportStream(mem.toDS())
      .writeStream.format("memory").queryName("pack_out").outputMode("complete").start()
    mem.addData(DocEvent(1L, 1000L, texts(0)._2), DocEvent(4L, 1100L, texts(3)._2))
    q.processAllAvailable()
    mem.addData(DocEvent(2L, 1200L, texts(1)._2), DocEvent(3L, 1300L, texts(2)._2))
    q.processAllAvailable()
    val got = spark.table("pack_out")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    q.stop()
    // batch twin: the tx_pack_report integers on the same docs
    val docs = texts.toDF("doc_id", "text")
    val want = docs.select(
        expr("cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) as bigint)").as("t"))
      .crossJoin(Seq(256L, 512L, 1024L, 2048L).toDF("seq_len"))
      .withColumn("n_seq", expr("(t + seq_len - 1) div seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("total_tokens"), sum("n_seq").as("n_seqs"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"stream $got != batch $want")
    assert(got(256L)._3 == 2 + 3 + 1 + 0, s"ceil counts at 256: $got")
  }

  test("streaming DSIR gate scores exactly like the batch scorer on the pinned table") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // reference corpus: en docs share a token universe, de docs another,
    // doc 5 straddles, doc 6 is empty (must score exactly 0 both sides)
    val corpus = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "alpha gamma delta epsilon"),
      (3L, "de", "zett omega psi chi phi"),
      (4L, "de", "omega zett chi psi psi psi"),
      (5L, "de", "alpha omega"),
      (6L, "en", ""))
    val batchDocs = corpus.toDF("doc_id", "lang", "text")
    val want = TextQueries.dsirScoreDF(batchDocs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // en-only tokens score positive, de-only negative, by construction
    assert(want(1L)._2 > 0 && want(3L)._2 < 0 && want(6L)._2 == 0L, s"fixture sanity: $want")

    val lr = TextQueries.dsirLrDF(TextQueries.dsirFeaturesDF(batchDocs))
    val mem = MemoryStream[LangDocEvent]
    val q = StreamingCorpusPrep.dsirScoreStream(mem.toDS(), lr)
      .writeStream.format("memory").queryName("dsir_out").outputMode("append").start()
    // shuffled multi-batch arrival
    mem.addData(LangDocEvent(4L, 1400L, "de", corpus(3)._3),
      LangDocEvent(1L, 1100L, "en", corpus(0)._3))
    q.processAllAvailable()
    mem.addData(LangDocEvent(6L, 1600L, "en", corpus(5)._3),
      LangDocEvent(3L, 1300L, "de", corpus(2)._3),
      LangDocEvent(5L, 1500L, "de", corpus(4)._3),
      LangDocEvent(2L, 1200L, "en", corpus(1)._3))
    q.processAllAvailable()
    mem.addData(LangDocEvent(999L, 100000L, "en", "sentinel")) // flush append
    q.processAllAvailable()
    val got = spark.table("dsir_out").filter(col("doc_id") =!= 999L)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    q.stop()
    assert(got == want, s"stream: $got\nbatch: $want")
  }

  test("DSIR ratio table is dense: a streamed token in an untouched bucket gets the smoothed prior") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // tiny training corpus: touches FEW of the 64 buckets, leaving most
    // untouched; traw=3 (en) tokens, ttgt=3 → prior lr for an absent
    // bucket is round(ln((0+1)*(3+64)/((0+1)*(3+64)))*1e6) = 0 when
    // traw==ttgt, so train with one non-en token to make the prior
    // NONZERO and observable: traw=4, ttgt=3 → ln(68/67)·1e6 = 14815.
    val train = Seq((1L, "en", "alpha beta gamma"), (2L, "de", "zett")).toDF("doc_id", "lang", "text")
    val lr = TextQueries.dsirLrDF(TextQueries.dsirFeaturesDF(train))
    val rows = lr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == TextQueries.dsirB, s"lr table not dense: ${rows.size} rows")
    val prior = math.round(math.log(68.0 / 67.0) * 1e6)
    val trained = TextQueries.dsirFeaturesDF(train).select("b").distinct()
      .as[Long].collect().toSet
    val untouched = (0L until TextQueries.dsirB.toLong).filterNot(trained)
    assert(untouched.forall(b => rows(b) == prior),
      s"untouched buckets should carry the smoothed prior $prior: " +
        untouched.map(b => b -> rows(b)).toMap)
    // and the streaming gate actually assigns that prior: find a token
    // hashing to an untouched bucket and stream a one-token doc of it
    val tok = Iterator.from(0).map(i => s"unseen$i").find { t =>
      val b = spark.sql(s"SELECT md5_long60(concat('dsir:', '$t')) % ${TextQueries.dsirB}")
        .head.getLong(0)
      untouched.contains(b)
    }.get
    val mem = MemoryStream[LangDocEvent]
    val q = StreamingCorpusPrep.dsirScoreStream(mem.toDS(), lr)
      .writeStream.format("memory").queryName("dsir_dense_out").outputMode("append").start()
    mem.addData(LangDocEvent(1L, 1000L, "en", tok))
    q.processAllAvailable()
    mem.addData(LangDocEvent(999L, 100000L, "en", "sentinel"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dsir_dense_out").filter(col("doc_id") === 1L)
      .select("score_micro").as[Long].head()
    assert(got == prior, s"unseen-bucket doc scored $got, want the smoothed prior $prior")
  }
}
