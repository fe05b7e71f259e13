package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Adversarial-input coverage: the synthetic corpus is well-behaved, so
  * these edges never hit the oracle gate — empty text, single chars,
  * NULL text, non-ASCII, and a repeated-char mega-doc go through the
  * factored operator bodies and the custom Expressions directly. The
  * contract under test: nothing throws, NULL text behaves like an absent
  * doc (null-propagating projections, explode of null = zero rows), and
  * degenerate docs produce empty-not-wrong outputs. */
class HostileInputSpec extends SparkSpec {

  private def hostileDocs = {
    import spark.implicits._
    Seq[(Long, String)](
      (0L, ""),                                   // empty (and a query doc: 0 % 41 == 0)
      (1L, "a"),                                  // shorter than every gram length
      (2L, "ünïcödé 🦜 words wörds"), // non-ASCII + surrogate pair
      (3L, "z" * 2000),                           // mega run of one char
      (4L, "normal words here normal words"),
      (5L, null)                                  // NULL text
    ).toDF("doc_id", "text")
  }

  test("custom Expressions: null propagates, degenerate inputs yield empty arrays") {
    val out = hostileDocs.select(col("doc_id"),
        expr("rolling_hash(text, 8)").as("rh"),
        expr("md5_grams(text, 8)").as("mg"),
        expr("winnow(rolling_hash(text, 8), 16)").as("wn"),
        expr("hash_hist(rolling_hash(text, 3))").as("hh"),
        expr("minhash_sigs(rolling_hash(text, 5))").as("mh"),
        expr("simhash_sig(rolling_hash(text, 5))").as("sh"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(5L).isNullAt(1) && out(5L).isNullAt(2) && out(5L).isNullAt(3),
      "NULL text propagates through the Expression chain")
    assert(out(0L).getSeq[Long](1).isEmpty && out(1L).getSeq[Long](1).isEmpty,
      "texts shorter than the gram length hash to empty arrays")
    assert(out(0L).getSeq[Long](3).isEmpty, "winnow of an empty gram array is empty")
    // the mega-doc's grams are all identical: one histogram bucket, and a
    // well-defined signature
    assert(out(3L).getMap[Long, Long](4).size == 1)
    assert(out(3L).getSeq[Long](5).length == 16)
  }

  test("minhash/LSH chain: degenerate docs drop out, identical mega-docs still pair") {
    import spark.implicits._
    val docs = hostileDocs.union(Seq((6L, "z" * 2000)).toDF("doc_id", "text"))
    val mh = DedupQueries.minhashSigs(docs)
    val ids = mh.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(0L) && !ids.contains(1L) && !ids.contains(5L),
      s"empty/too-short/null docs produce no signature row: $ids")
    val pairs = DedupQueries.lshPairs(mh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 6L)), s"identical mega-docs must band-collide: $pairs")
  }

  test("newest queries end-to-end on a planted degenerate table dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hostile_sf")
    dir.toFile.deleteOnExit()
    // documents: the hostile set + a planted frequent pair so tx_pmi has
    // exactly one survivor of its min-count floor
    hostileDocs
      .withColumn("lang", expr("CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0L)).cast("long"))
      .union(Seq((6L, (0 until 6).map(i => s"alpha beta u$i").mkString(" "), "en", "s1", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: a zero-variance cell (identical vectors), an n<3 cell,
    // and a 4-vector cell with one far-off member
    val base = Array.fill(64)(0.5f)
    val far = Array.fill(64)(5.0f)
    (Seq((10L, base, 0), (11L, base, 0), (12L, base, 0), (13L, base, 0),
      (20L, base, 1), (21L, far, 1),
      (30L, base, 2), (31L, base, 2), (32L, base, 2), (33L, far, 2)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // events: EMPTY — every ev_* query must yield empty, not throw
    Seq.empty[(Long, Long, Long, String, Double, String)]
      .toDF("event_id", "tsl", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("tsl"))).drop("tsl")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val q = graft.SparkEntry.queries
    // PMI: only the planted pair clears the floor, with its exact count
    val pmi = q("tx_pmi")(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(pmi.toSeq == Seq("alpha beta" -> 6L), s"pmi: ${pmi.toSeq}")
    // outliers: zero-variance and n<3 cells flag nothing; and in the
    // 4-vector cell the far member is a single outlier among identical
    // peers, so z² = n−1 = 3 < 9 — the single-outlier identity (the
    // ev_anomaly boundary) says even it must NOT flag
    val ol = q("sim_outlier")(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getInt(3)))
    assert(ol.length == 10, s"all vectors emitted: ${ol.length}")
    assert(ol.forall(_._2 == 0), s"no cell can clear z>3 here: ${ol.filter(_._2 == 1).toSeq}")
    // empty events: every event-analytics query is empty, none throws
    for (name <- Seq("ev_funnel", "ev_retention", "ev_sessions", "ev_attribution",
        "ev_paths", "ev_anomaly", "ev_changepoint", "ev_scd2", "ev_ltv",
        "ev_tier_snapshot"))
      assert(q(name)(spark, dir.toString).collect().isEmpty, s"$name not empty")
    // triangle audit on the degenerate embeddings: the 4 identical vectors
    // in cell 0 form a mutual K4 (4 triangles of 3 each -> every member in
    // 3, coefficient 1), the 2-vector cell can't form a wedge — and
    // nothing throws on zero-distance ties
    val tri = q("sim_triangles")(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(tri.size == 10, s"all vectors emitted: ${tri.size}")
    for (v <- Seq(10L, 11L, 12L, 13L))
      assert(tri(v) == ((3L, 1.0)), s"K4 member $v: ${tri(v)}")
    for (v <- Seq(20L, 21L))
      assert(tri(v)._1 == 0L, s"2-cell has no wedge: $v ${tri(v)}")
    // mixture apply: the keep decision is a pure doc_id-hash-vs-band rule
    // (text-independent — a NULL-text doc keeps iff its key clears its
    // language's band, same as the oracle); nothing throws, and every
    // kept row is self-consistent with its band
    val mix = q("tx_mix_apply")(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(mix.nonEmpty, "tokened languages must produce bands")
    assert(mix.forall { case (_, key, band) => key < band && band <= 1000000L },
      s"kept rows must clear their band: ${mix.toSeq}")

    // readability: NULL and empty text read as zero-count docs (lix 0,
    // sentence floor 1), never NULL rows; the mega-run is ONE long word
    // (lix = 1/1 + 100·1/1 = 101)
    val rd = q("tx_readability")(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(rd(5L) == ((0L, 0L, 1L, 0.0)), s"null text: ${rd(5L)}")
    assert(rd(0L) == ((0L, 0L, 1L, 0.0)), s"empty text: ${rd(0L)}")
    assert(rd(3L) == ((1L, 1L, 1L, 101.0)), s"mega-run: ${rd(3L)}")

    // silhouette on this geometry: cell 0's members sit ON their centroid
    // (s = 1 everywhere); cell 1's base member is nearer cell 0's centroid
    // than its own mixed one (integer b < a -> misfit); in cell 2 ALL
    // members are pulled off-centroid by the far outlier and each has a
    // purer foreign centroid nearer than its own — every member misfits
    val sil = q("sim_silhouette")(spark, dir.toString).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(sil(0) == ((4L, 0L, 1.0)), s"tight cell: ${sil(0)}")
    assert(sil(1)._1 == 2L && sil(1)._2 == 1L, s"mixed 2-cell: ${sil(1)}")
    assert(sil(2)._1 == 4L && sil(2)._2 == 4L, s"polluted cell: ${sil(2)}")

    // k-distance density: the 2-vector cell has no 3rd neighbor (honest
    // NULL slots); in cell 2 every member's 3rd neighbor is across the
    // base/far gap, so all quantiles equal the planted D
    val den = q("sim_density")(spark, dir.toString).collect()
      .map(r => r.getInt(0) -> r).toMap
    val D = 64L * 45000L * 45000L // pqScale=1e4: q(0.5f)=5000, q(5f)=50000
    assert(den(0).getLong(3) == 0L && den(0).getLong(5) == 0L, s"${den(0)}")
    assert(den(1).getLong(2) == 2L && den(1).isNullAt(3), s"${den(1)}")
    assert(den(2).getLong(3) == D && den(2).getLong(4) == D &&
      den(2).getLong(5) == D, s"${den(2)}")
  }

  test("snapshot diff, novelty, and pagerank survive the degenerate corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hostile_sf2")
    dir.toFile.deleteOnExit()
    hostileDocs
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0L)).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = Array.fill(64)(0.5f)
    val far = Array.fill(64)(5.0f)
    (Seq((10L, base, 0), (11L, base, 0), (12L, base, 0), (13L, base, 0), // zero-variance cell
      (20L, base, 1), (21L, far, 1),                                     // 2-vector cell
      (40L, base, 3)))                                                   // SINGLETON cell: no edges
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val q = graft.SparkEntry.queries

    // diff: doc 3 is the removed slot; empty-text doc 0 (doc_id % 5 = 0)
    // picks up the rev2 edit -> changed; NULL text hashes to NULL on both
    // snapshots, and NULL <> NULL is NULL -> the CASE falls through to
    // 'unchanged' (absent-doc semantics, same in both engines)
    val diff = q("dd_corpus_diff")(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(diff.size == 6, s"every doc classified: $diff")
    assert(diff(3L) == "removed" && diff(0L) == "changed" && diff(5L) == "unchanged", s"$diff")

    // novelty: only docs with >= 3 tokens appear; their grams are unique
    // here so each scores the full 1000 permille
    val nov = q("tx_novelty")(spark, dir.toString).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(nov.keySet == Set(2L, 4L), s"degenerate docs drop out of novelty: $nov")
    assert(nov.values.forall(_ == 1000L), s"all-unique grams score 1000: $nov")

    // pagerank: every vector emitted incl. the singleton (dangling node at
    // the 150000 base after round 1 — no in-edges can ever reach it);
    // total mass never exceeds the initial 1e6 per node
    val pr = q("sim_pagerank")(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr.size == 7, s"all vectors ranked: $pr")
    assert(pr(40L) == 150000L, s"singleton cell settles at the teleport base: ${pr(40L)}")
    assert(pr.values.forall(_ >= 150000L) && pr.values.sum <= 7L * 1000000L, s"$pr")
  }

  test("bm25 and BPE bodies survive a hostile corpus incl. an empty query doc") {
    // doc 0 (the only query doc) is EMPTY: zero query terms, so bm25
    // must return zero rows rather than throw
    assert(TextQueries.bm25DF(hostileDocs).collect().isEmpty)
    val (merges, state) = TextQueries.bpeTrain(hostileDocs)
    assert(merges.collect().length == 3, "training still learns merges from the sane docs")
    val s = state.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s(0L) == "" && s(3L) == "z" * 2000, "degenerate docs pass through unmerged")
    assert(s(5L) == null || s(5L) == "", "null text stays inert in the merge chain")
  }

  test("round-5 mining operators survive degenerate corpora") {
    import spark.implicits._

    // KMV over a corpus with zero tokens: no language row, no crash
    val empty = Seq((0L, "", "aa"), (1L, null.asInstanceOf[String], "aa"))
      .toDF("doc_id", "text", "lang")
    assert(TextQueries.kmvDistinctDF(empty).collect().isEmpty)

    // stratified sample: a 1-doc stratum keeps its doc (ceil(10% of 1) = 1)
    val one = Seq((7L, "xx", "solo")).toDF("doc_id", "lang", "source")
    val kept = TextQueries.stratifiedSampleDF(one).collect()
    assert(kept.length == 1 && kept.head.getLong(0) == 7L)

    // hard negatives: an all-same-label corpus has NO negatives — empty, not wrong
    val mono = Seq((0L, Array(1f, 2f, 3f), 0), (1L, Array(1f, 2f, 3.1f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(SimilarityQueries.hardNegativesDF(mono).collect().isEmpty)

    // diverse top-k with fewer candidates than topK returns what exists
    val tiny = Seq((0L, Array(1f, 2f, 3f), 0), (1L, Array(1f, 2f, 3.1f), 1))
      .toDF("vec_id", "embedding", "label")
    assert(SimilarityQueries.diverseTopkDF(tiny).collect().length == 1)

    // RFM with a single user: the only member of every tercile is the best
    val solo = Seq((1L, 5L, 100L), (1L, 6L, 50L)).toDF("user_id", "day_idx", "cents")
    val rfm = graft.batch.FunnelQueries.rfmDF(solo).collect()
    assert(rfm.length == 1 && rfm.head.getInt(rfm.head.fieldIndex("rfm_code")) == 333)

    // best-of-cluster over no clusters is empty
    assert(DedupQueries.bestOfClusterDF(
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
      Seq((1L, 10L)).toDF("doc_id", "n_chars")).collect().isEmpty)

    // zero-sample WAV decodes to zero windows, not a crash
    val z = Multimodal.decodeAudio(
      Seq(MediaAsset(1L, Multimodal.makeWav(Array.empty[Int], 8000))).toDS()).collect()
    assert(z.head.n_samples == 0L && z.head.n_windows == 0L && z.head.peak == 0L)
  }

  test("soft weights, DSIR, fertility, and mutual-kNN components survive degenerate corpora") {
    import spark.implicits._

    // component machinery on an EMPTY edge set: empty labels, no crash
    assert(DedupQueries.componentsOf(
      Seq.empty[(Long, Long)].toDF("d1", "d2"), "spec_empty").collect().isEmpty)

    // soft weights with an empty component table: every doc is a
    // weight-1 singleton (the no-duplicates corpus)
    val plain = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
    val w = PipelineQueries.softWeightsDF(plain,
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")).collect()
    assert(w.length == 2 && w.forall(r => r.getLong(1) == 1L && r.getDouble(2) == 1.0))

    // DSIR on an all-target corpus: p_tgt == p_raw bucket for bucket, so
    // every log-ratio is ln(1) and every score — including the empty and
    // NULL-text docs — is exactly 0
    val mono = Seq((0L, "en", "alpha beta gamma"), (1L, "en", ""),
      (2L, "en", null.asInstanceOf[String])).toDF("doc_id", "lang", "text")
    val ds = TextQueries.dsirScoreDF(mono).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ds == Map(0L -> 0L, 1L -> 0L, 2L -> 0L), s"$ds")

    // fertility + mutual-kNN components end-to-end on a degenerate dir
    val dir = java.nio.file.Files.createTempDirectory("hostile_sf3")
    dir.toFile.deleteOnExit()
    hostileDocs
      .withColumn("lang", expr("CASE WHEN doc_id <= 2 THEN 'aa' ELSE 'bb' END"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0L)).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = Array.fill(64)(0.5f)
    val far = Array.fill(64)(5.0f)
    (Seq((10L, base, 0), (11L, base, 0), (12L, base, 0), (13L, base, 0), // zero-variance cell
      (20L, base, 1), (21L, far, 1),                                     // 2-vector cell
      (40L, base, 3)))                                                   // singleton cell
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val q = graft.SparkEntry.queries

    // fertility: degenerate docs contribute 0 pieces; the quotient floor
    // keeps an all-degenerate language finite instead of dividing by 0
    val fert = q("tx_fertility")(spark, dir.toString).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getDouble(4)))).toMap
    assert(fert.keySet == Set("aa", "bb"), s"$fert")

    // mutual kNN over the degenerate cells: the zero-variance clique is
    // one component of size 4 (all pairwise distances 0 — ties broken by
    // id stay mutual), the 2-vector cell pairs mutually by construction,
    // and the singleton cell self-roots with size 1
    val comp = q("sim_components")(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(comp(10L) == ((10L, 4L)) && comp(13L) == ((10L, 4L)), s"$comp")
    assert(comp(20L) == ((20L, 2L)) && comp(21L) == ((20L, 2L)), s"$comp")
    assert(comp(40L) == ((40L, 1L)), s"singleton self-roots: $comp")
  }

  test("round-7 surfaces: zero-vector routing is deterministic; unicode doc rides the banded guard") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // routeToCells with a ZERO vector: the r7 cosine router needed a
    // zero-norm guard (vn = 0 divided by zero and ANSI mode KILLED the
    // maintenance stream — reproduced before the guard landed); the
    // quantized-L2 router (the ADVICE-r7 serve-rule unification) has no
    // division at all — a zero vector scores plain L2 like any other and
    // an exact inter-centroid tie resolves by the (dist, label) order.
    // Centroids 0 and 1 are EQUIDISTANT from the zero vector (±1 mirrored)
    // — the tie must deterministically pick label 0.
    val cents = Seq(
      (0, Array.fill(4)(10000L)), (1, Array.fill(4)(-10000L)),
      (2, Array.fill(4)(30000L)))
      .toDF("label", "carr")
    val vecs = Seq(
      (1L, 0L, Array.fill(4)(0.0f)),            // zero vector
      (2L, 0L, Array(3.0f, 3.0f, 3.0f, 3.0f)))  // plain vector
      .toDF("vec_id", "timestamp", "embedding")
    val routed = StreamingAnnServe.routeToCells(vecs, cents)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(routed(1L) == 0, s"zero vector tie-routes to the lowest label: $routed")
    assert(routed(2L) == 2, s"plain vector routes to its nearest centroid: $routed")
    val again = StreamingAnnServe.routeToCells(vecs, cents)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(routed == again, s"zero-vector routing must be stable: $routed vs $again")

    // the banded guard on a non-ASCII doc: rolling_hash folds CODEPOINTS,
    // so unicode text shingles fine; an exact re-send within the window is
    // suppressed, the original survives
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[DocEvent]
    val q = StreamingDedup.dedupNearBandedStream(mem.toDS(), delayMs = 10000L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.BandVerdict], _: Long) =>
        val ids = StreamingDedup.nearBandedSurvivors(b.toDF())
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect()
        survivors.synchronized { survivors ++= ids }; ()
      }.start()
    val uni = "日本語のテキストと emoji 🚀 が混ざった文書です — ce document contient du texte accentué"
    mem.addData(DocEvent(1L, 1000L, uni))
    q.processAllAvailable()
    mem.addData(DocEvent(2L, 1500L, uni)) // exact unicode re-send: suppressed
    q.processAllAvailable()
    q.stop()
    assert(survivors.toSet == Set(1L), s"unicode original survives, re-send suppressed: $survivors")
  }
}
