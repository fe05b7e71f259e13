package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupSpec extends SparkSpec {

  /** n docs that all share one minhash signature (per `tag`) — the
    * stopword-bucket shape: every band bucket holds all n docs. */
  private def mhDF(n: Int, tag: Long): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => tag * 1000 + i).toDF("doc_id")
      .select(col("doc_id") +:
        (0 until 16).map(j => lit(tag * 100 + j).as(s"m$j")): _*)
  }

  test("LSH band buckets above the cap are dropped; small buckets still pair") {
    // 100 identical signatures => 4 band buckets of 100 docs, all over
    // maxBucket: the self-join must see NONE of them (uncapped it would
    // emit 100*99/2 = 4950 pairs — quadratic in the bucket)
    assert(DedupQueries.maxBucket < 100)
    assert(DedupQueries.lshPairs(mhDF(100, tag = 1)).count() == 0)
    // 5 identical signatures => bucket under the cap: all 10 pairs emitted
    assert(DedupQueries.lshPairs(mhDF(5, tag = 2)).count() == 10)
    // mixed: the mega-bucket must not suppress the small one's pairs
    val mixed = mhDF(100, tag = 3).union(mhDF(5, tag = 4))
    assert(DedupQueries.lshPairs(mixed).count() == 10)
  }

  test("dedup chain carries no broadcast hints on data-dependent tables") {
    // regression pin for the round-2 scale defect: per-doc `sizes`, the
    // cluster table, and pre-filter LSH `pairs` were force-broadcast —
    // correct at sf0.1, an executor/driver OOM on a dup-heavy 100 TB
    // corpus. The build sides must be AQE's runtime choice, i.e. the
    // analyzed plans contain NO ResolvedHint at all.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    def assertNoHints(name: String, df: DataFrame): Unit = {
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$name must leave build sides to AQE, found: $hints")
    }
    for (q <- Seq("dd_jaccard", "dd_minhash_lsh"))
      assertNoHints(q, graft.SparkEntry.queries(q)(spark, sf("sf0.001")))
    // the prep's cluster join (the third formerly-hinted site) — checked
    // with a stub comp table so the plan-only test doesn't execute the
    // eager clustering loop that building the real comp would run
    val stubComp = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    assertNoHints("llm_corpus_prep",
      PipelineQueries.prepDF(spark, sf("sf0.001"), stubComp))
  }

  test("clustersDF leaves no cached RDDs behind (long-lived session hygiene)") {
    // the clustering loop persists signatures/candidates/edges/sym for its
    // own eager materialization; its result is localCheckpoint-truncated,
    // so every stage cache must be dropped by the time it returns — a
    // staged pipeline or notebook session must not leak per-corpus caches
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    DedupQueries.clustersDF(spark, sf("sf0.001")).write
      .format("noop").mode("overwrite").save()
    // localCheckpoint RDDs are persistent by design; they are reclaimed by
    // GC via the cleaner, not unpersist — exclude them from the leak check
    // (isCheckpointed is true for a materialized local checkpoint; the
    // loop's count() materialized every one)
    val leaked = sc.getPersistentRDDs.filter { case (id, rdd) =>
      !before.contains(id) && !rdd.isCheckpointed
    }
    assert(leaked.isEmpty,
      s"stage caches survived clustersDF: ${leaked.values.map(_.toString)}")
  }

  test("planted near-dup pairs survive the capped LSH chain (recall harness)") {
    import spark.implicits._
    // 20 planted near-dup pairs (one-word edit on a 25-word doc ⇒ shingle
    // Jaccard ≈ 0.9) among 60 independent decoys. Texts come from per-doc
    // PRNGs (fixed seeds), so the whole chain is DETERMINISTIC: the
    // asserted recall bound is a pinned value, not a flaky estimate. The
    // theoretical per-pair hit rate at J≈0.9 with 4×4 banding is
    // 1-(1-J⁴)⁴ ≈ 0.98, so ≥0.8 over 20 pairs has a wide margin while
    // still failing loudly if banding, the cap, or the signature fold
    // regress.
    val vocab = {
      val r = new scala.util.Random(7)
      (0 until 200).map(_ => (0 until 8).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    }
    def doc(seed: Int): Seq[String] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(25)(vocab(rng.nextInt(vocab.length)))
    }
    val planted = (0 until 20).flatMap { p =>
      val base = doc(p)
      Seq((p * 2L, base.mkString(" ")),
        (p * 2L + 1L, base.updated(12, "zzzzz").mkString(" ")))
    }
    val decoys = (0 until 60).map(k => (1000L + k, doc(1000 + k).mkString(" ")))
    val docs = (planted ++ decoys).toDF("doc_id", "text")
    val pairs = DedupQueries.lshPairs(DedupQueries.minhashSigs(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(p => (p * 2L, p * 2L + 1L)).toSet
    val recall = expected.count(pairs.contains).toDouble / expected.size
    assert(recall >= 0.8,
      s"recall $recall; missing planted pairs: ${expected -- pairs}")
    // precision sanity: independent decoys must not flood the candidates
    val falseCands = pairs.filterNot(expected)
    assert(falseCands.size <= 5, s"unexpected candidate pairs: $falseCands")
  }

  test("planted near-dup pairs survive the 60-bit simhash band chain (recall harness)") {
    import spark.implicits._
    // One-word edit on a 200-word doc (~0.5% of gram instances): the
    // simhash angle theta ~ 0.1 rad gives an expected Hamming of
    // 60*theta/pi ~ 2 — inside the <=3 emit threshold, and any pair at
    // Hamming <=3 is pigeonhole-GUARANTEED a clean band of the four. The
    // fixed per-doc PRNG seeds make every signature deterministic, so the
    // asserted recall is a pinned value. Regression target: the r5
    // widening (32->60 bits, threshold 2->3) must keep real near-dups
    // detectable, not just keep buckets sparse.
    val vocab = {
      val r = new scala.util.Random(11)
      (0 until 400).map(_ => (0 until 8).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    }
    def doc(seed: Int): Seq[String] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(200)(vocab(rng.nextInt(vocab.length)))
    }
    val planted = (0 until 20).flatMap { p =>
      val base = doc(p)
      Seq((p * 2L, base.mkString(" ")),
        (p * 2L + 1L, base.updated(97, "zzzzz").mkString(" ")))
    }
    val decoys = (0 until 40).map(k => (1000L + k, doc(1000 + k).mkString(" ")))
    val docs = (planted ++ decoys).toDF("doc_id", "text")
    val pairs = DedupQueries.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 20).map(p => (p * 2L, p * 2L + 1L)).toSet
    val recall = expected.count(pairs.contains).toDouble / expected.size
    assert(recall >= 0.8,
      s"recall $recall; missing planted pairs: ${expected -- pairs}")
    // precision: independent 200-word decoys are ~90 deg apart — a decoy
    // pair within Hamming 3 of 60 bits would be a collapsed signature
    val falseCands = pairs.filterNot(expected)
    assert(falseCands.isEmpty, s"unexpected candidate pairs: $falseCands")
  }

  test("soft-dedup weights: each duplicated content carries total mass 1") {
    import spark.implicits._
    // cluster {1,2,3} rooted at 1, pair {10,11} rooted at 10, singleton 20
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val got = PipelineQueries.softWeightsDF(docs, comp)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 1.0 / 3), (2L, 3L, 1.0 / 3), (3L, 3L, 1.0 / 3),
      (10L, 2L, 0.5), (11L, 2L, 0.5), (20L, 1L, 1.0)))
    // the defining invariant: summed weight per cluster (and per
    // singleton) is exactly 1 — the sampler sees each content once
    val mass = got.groupBy(_._2).map { case (_, g) => g.map(_._3).sum }
    assert(mass.forall(m => math.abs(m - math.round(m)) < 1e-12))
  }

  test("dd_edit: substitution-complete pigeonhole, verify rejects >2, indel shift is the envelope") {
    import spark.implicits._
    // 64-char base split into the operator's 22/21/21 parts
    val base = "a" * 22 + "b" * 21 + "c" * 21
    def sub(s: String, at: Int, ch: Char) = s.updated(at, ch)
    val docs = Seq(
      (1L, base),
      (2L, base),                                        // identical -> dist 0
      (3L, sub(sub(base, 0, 'x'), 1, 'x')),              // 2 subs in ONE part
      // one substitution in EACH part: dist 3, no part matches -> no cand
      (4L, sub(sub(sub(base, 0, 'x'), 25, 'x'), 50, 'x')),
      // delete first char + append: TRUE edit distance 2, but every part
      // shifts — the documented indel envelope misses it
      (5L, base.drop(1) + "z"),
      // 3 subs all inside part 1: parts 2,3 still match (candidate IS
      // generated) but levenshtein = 3 -> verify rejects
      (6L, sub(sub(sub(base, 0, 'x'), 1, 'x'), 2, 'x'))
    ).toDF("doc_id", "text")
    val got = DedupQueries.editPairsDF(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // note (3,6): docs 3 and 6 differ only at position 2 — a genuine
    // distance-1 pair; doc 6 vs 1/2 (distance 3) is verify-rejected
    assert(got == Map((1L, 2L) -> 0, (1L, 3L) -> 2, (2L, 3L) -> 2, (3L, 6L) -> 1),
      s"pairs: $got")
    // and the envelope is real: doc 5 is genuinely within distance 2
    val d5 = docs.filter($"doc_id" === 5L)
      .select(expr("rpad(substring(text,1,64),64,'~')")).as[String].head()
    val d1 = base
    val dist = spark.range(1)
      .select(levenshtein(lit(d1), lit(d5)).as("d")).head().getInt(0)
    assert(dist == 2, s"planted indel pair really is distance 2, got $dist")
  }
}
