package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Specs for the round-3 curation operators: SemDeDup (dd_semantic),
  * PII scrubbing (tx_pii), and char-entropy scoring (tx_entropy). */
class CurationSpec extends SparkSpec {

  test("dd_semantic: identical vectors in a cell collapse to the min id; cells isolate") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (i % 7 + 1).toFloat)
    val w = Array.tabulate(64)(i => (if (i % 2 == 0) 1f else -1f) * (i + 1))
    // cell 0: three copies of v (10, 11, 12) + one orthogonal-ish w (13);
    // cell 1: another copy of v (20) — must NOT pair across cells
    val emb = Seq(
      (10L, v, 0), (11L, v, 0), (12L, v, 0), (13L, w, 0), (20L, v, 1)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityQueries.semDedupDF(emb)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(out(10L) == ((1, -1L)), "lowest id in the duplicate group is kept")
    assert(out(11L) == ((0, 10L)) && out(12L) == ((0, 10L)),
      "higher-id copies drop to the min-id keeper")
    assert(out(13L)._1 == 1, "dissimilar vector in the same cell survives")
    assert(out(20L)._1 == 1, "identical vector in ANOTHER cell is untouched")
  }

  test("dd_contain: a quoted doc pairs one-way into its container; unrelated docs do not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contain_sf")
    dir.toFile.deleteOnExit()
    def sent(seed: Int, n: Int) =
      (0 until n).map(i => s"w${seed}x$i token${seed * 31 + i}").mkString(" ")
    val quoted = sent(1, 40)                          // the short source doc
    val container = sent(2, 30) + " " + quoted + " " + sent(3, 30) // quotes it wholesale
    val unrelated = sent(4, 60)
    Seq((1L, quoted), (2L, container), (3L, unrelated))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = graft.SparkEntry.queries("dd_contain")(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair.contains((1L, 2L)),
      s"the quoted doc must be detected inside its container: ${pairs.toSeq}")
    assert(byPair((1L, 2L)) >= 0.8, s"containment must clear the 4/5 gate: ${pairs.toSeq}")
    assert(!byPair.contains((2L, 1L)),
      s"the container is NOT contained in the (much shorter) quote: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc pairs with nothing: ${pairs.toSeq}")
  }

  test("tx_interleave: every stride-order prefix holds each source near its proportional share") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("interleave_sf")
    dir.toFile.deleteOnExit()
    // 30 docs from s_big, 10 from s_small — proportional interleave should
    // hold s_small near m/4 in every prefix of length m
    val docs = (0 until 30).map(i => (i.toLong, s"big doc $i", "s_big")) ++
      (0 until 10).map(i => (100L + i, s"small doc $i", "s_small"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ordered = graft.SparkEntry.queries("tx_interleave")(spark, dir.toString)
      .orderBy("stride_key", "source", "doc_id")
      .collect().map(_.getString(1))
    assert(ordered.length == 40)
    for (m <- 4 to 40) {
      val small = ordered.take(m).count(_ == "s_small")
      val ideal = m / 4.0
      assert(math.abs(small - ideal) <= 1.5,
        s"prefix $m: s_small share $small vs ideal $ideal — a run of one source leaked through")
    }
  }

  test("tx_mix_apply: downsample-only — the max-rate language keeps every doc") {
    val sfDir = sf("sf0.001")
    val kept = graft.SparkEntry.queries("tx_mix_apply")(spark, sfDir).cache()
    val bands = kept.select("lang", "band").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bands.values.forall(_ <= 1000000L), s"band over the full range: $bands")
    assert(bands.values.exists(_ < 1000000L), s"no language downsampled: $bands")
    val full = bands.collect { case (l, 1000000L) => l }.toSet
    assert(full.nonEmpty, s"planner must leave one language at rate 1.0: $bands")
    // the rate-1.0 language keeps its entire doc population
    val docs = graft.core.Tables.documents(spark, sfDir)
      .filter(col("lang").isin(full.toSeq: _*)).count()
    val keptFull = kept.filter(col("lang").isin(full.toSeq: _*)).count()
    assert(keptFull == docs, s"rate-1.0 language dropped docs: $keptFull of $docs")
    kept.unpersist()
  }

  test("tx_pii: injected PII is counted and scrubbed; untouched docs hash to md5(text)") {
    val sfDir = sf("sf0.001")
    val out = graft.SparkEntry.queries("tx_pii")(spark, sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
    val joined = out.join(docs, "doc_id").cache()
    // doc_id % 3 == 0 docs got exactly one injected email, and it's gone
    val emailDocs = joined.filter(col("doc_id") % 3 === 0)
    assert(emailDocs.count() > 0)
    assert(emailDocs.filter(col("n_email") =!= 1).count() == 0)
    // untouched docs: zero counts, zero redacted chars, clean == text
    val untouched = joined.filter(
      col("doc_id") % 3 =!= 0 && col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 0)
    assert(untouched.count() > 0)
    assert(untouched.filter(
      col("n_email") =!= 0 || col("n_phone") =!= 0 || col("n_ip") =!= 0 ||
      col("chars_redacted") =!= 0 || col("clean_hash") =!= col("text_hash")).count() == 0)
    // scrubbed docs: the placeholder is shorter than any injected PII run
    assert(joined.filter(col("n_email") + col("n_phone") + col("n_ip") > 0)
      .filter(col("chars_redacted") <= 0).count() == 0)
    joined.unpersist()
  }

  test("sim_ivfpq: ADC top-k is well-formed and cell-confined") {
    import spark.implicits._
    val sfDir = sf("sf0.001")
    val out = graft.SparkEntry.queries("sim_ivfpq")(spark, sfDir).cache()
    val nQueries = graft.core.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).count()
    // every query returns up to k rows, distances are non-negative ints
    assert(out.count() > 0 && out.count() <= nQueries * 5)
    assert(out.filter(col("adist") < 0).count() == 0)
    assert(out.groupBy("query_id").count().filter(col("count") > 5).count() == 0)
    // a query never reports itself
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // IVF contract: all of a query's neighbors come from ONE cell
    val cells = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("neighbor_id"), col("label"))
    assert(out.join(cells, "neighbor_id")
      .groupBy("query_id").agg(countDistinct("label").as("nc"))
      .filter(col("nc") > 1).count() == 0)
    out.unpersist()
  }

  test("tx_source_cap: two-level top-k equals the direct window on a mega-source") {
    import spark.implicits._
    // one 1000-doc mega-source (the skew case the two-level form exists
    // for) + one small source; both forms must select the same docs
    val docs = ((0L until 1000L).map(i => (i, "mega")) ++
      (2000L until 2003L).map(i => (i, "tiny"))).toDF("doc_id", "source")
    val fast = TextQueries.sourceCapDF(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val direct = TextQueries.sourceCapDirectDF(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fast == direct)
    assert(fast.count(_._2 == "mega") == 15 && fast.count(_._2 == "tiny") == 3)
  }

  test("tx_decontam_bloom: the bloom probe is IN the plan and the result is exact") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val sfDir = sf("sf0.001")
    val df = graft.SparkEntry.queries("tx_decontam_bloom")(spark, sfDir)
    // plan pin: the prefilter must ride the scan as a BloomFilterMightContain
    // expression — if it silently falls out, the query degrades to the
    // unfiltered semi-join and the 100 TB story is gone
    val probes = df.queryExecution.analyzed.flatMap(_.expressions).flatMap(
      _.collect { case b: BloomFilterMightContain => b })
    assert(probes.nonEmpty, "bloom probe missing from the analyzed plan")
    // exactness: bloom is prefilter-only — result equals the plain semi-join
    val exact = graft.SparkEntry.queries("tx_decontam")(spark, sfDir)
      .filter(col("n_contam") > 0).select("doc_id", "n_contam")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bloom == exact)
  }

  test("PII scrub is a pure projection: lifts to a stream unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val q = mem.toDS()
      .select(col("doc_id"), col("text").as("raw"))
      .withColumn("clean", expr(TextQueries.scrubSparkSql))
      .writeStream.format("memory").queryName("pii_stream").outputMode("append").start()
    mem.addData(
      DocEvent(1L, 1000L, "mail me at jo.doe@corp.example.org please"),
      DocEvent(2L, 1100L, "call 555-123-4567 or visit 10.1.2.3 today"),
      DocEvent(3L, 1200L, "nothing sensitive here"))
    q.processAllAvailable()
    val out = spark.table("pii_stream")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    q.stop()
    assert(out(1L) == "mail me at <EMAIL> please")
    assert(out(2L) == "call <PHONE> or visit <IP> today")
    assert(out(3L) == "nothing sensitive here")
  }

  test("HLL vocab sketch: approx_count_distinct within 5% of exact") {
    // the sketch path for corpus cardinality dashboards — at 100 TB the
    // exact distinct is a full shuffle of the token column, the HLL sketch
    // is a constant-size mergeable aggregate; this pins its error envelope
    val toks = graft.core.Tables.documents(spark, sf("sf0.01"))
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("token"))
    val exact = toks.distinct().count().toDouble
    val approx = toks.agg(approx_count_distinct("token", 0.02)).head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx $approx vs exact $exact")
  }

  test("tx_bpe learns the expected merges; overlapping pairs merge greedily") {
    import spark.implicits._
    // 'x y' appears 4 times — doc 1's 'x y x y' chain merges BOTH
    // occurrences greedily left-to-right. Round 2 ties 'q r' and the new
    // 'x~y z' at 2 → lexicographic tie-break picks 'q r'; round 3 learns
    // the recursive 'x~y z'.
    val docs = Seq(
      (1L, "x y x y z"),
      (2L, "x y z q r"),
      (3L, "x y q r")
    ).toDF("doc_id", "text")
    val out = TextQueries.bpeMergesDF(docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out(0) == ((1, "x y", "x~y", 4L)), s"got ${out(0)}")
    assert(out(1) == ((2, "q r", "q~r", 2L)), s"got ${out(1)}")
    assert(out(2) == ((3, "x~y z", "x~y~z", 2L)), s"got ${out(2)}")
  }

  test("tx_entropy matches a Scala-side recompute on sample docs") {
    val sfDir = sf("sf0.001")
    val out = graft.SparkEntry.queries("tx_entropy")(spark, sfDir)
      .filter(col("doc_id") < 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val texts = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 5).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts) {
      val n = text.length.toDouble
      val ent = text.groupBy(identity).values.map(_.length)
        .map(c => -(c / n) * (math.log(c / n) / math.log(2))).sum
      val (nChars, got) = out(id)
      assert(nChars == text.length)
      assert(math.abs(got - ent) < 1e-3, s"doc $id: $got vs $ent")
    }
  }

  test("tx_bm25: a doc matching every query term outranks a single-term match") {
    import spark.implicits._
    // doc 0 is the eval/query doc (0 % 41 == 0); doc 1 repeats every query
    // term, doc 3 shares one term, doc 2 shares none (must be absent)
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta alpha beta gamma delta"),
      (2L, "zig zag zip zap"),
      (3L, "alpha zig zag pop")
    ).toDF("doc_id", "text")
    val out = TextQueries.bm25DF(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(_._1 == 0L), "only doc 0 issues a query")
    val byDoc = out.map(t => t._2 -> t._3).toMap
    assert(byDoc.contains(1L) && byDoc.contains(3L), s"both overlapping docs retrieved: $byDoc")
    assert(!byDoc.contains(2L), "zero-overlap doc must not appear")
    assert(!byDoc.contains(0L), "the query doc itself is excluded")
    assert(byDoc(1L) > byDoc(3L), s"full match outranks single term: $byDoc")
  }

  test("tx_len_quantiles: approx_percentile scale path brackets the exact discrete quantiles") {
    val sfDir = sf("sf0.001")
    val exact = graft.SparkEntry.queries("tx_len_quantiles")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    // the 100 TB path: constant-memory mergeable sketch instead of the
    // per-group sort — must land within the p40..p60 / p80..p95 exact
    // rank envelope of the discrete operator it replaces
    val env = graft.core.Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(
        expr("approx_percentile(n_chars, array(0.5D, 0.9D), 1000)").as("ap"),
        expr("percentile_disc(0.40D) WITHIN GROUP (ORDER BY n_chars)").as("lo50"),
        expr("percentile_disc(0.60D) WITHIN GROUP (ORDER BY n_chars)").as("hi50"),
        expr("percentile_disc(0.80D) WITHIN GROUP (ORDER BY n_chars)").as("lo90"),
        expr("percentile_disc(0.95D) WITHIN GROUP (ORDER BY n_chars)").as("hi90"))
      .collect()
    assert(env.nonEmpty)
    env.foreach { r =>
      val lang = r.getString(0)
      val ap = r.getSeq[Long](1).map(_.toDouble)
      val (lo50, hi50, lo90, hi90) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(ap(0) >= lo50 && ap(0) <= hi50,
        s"$lang approx p50 ${ap(0)} outside [$lo50, $hi50]")
      assert(ap(1) >= lo90 && ap(1) <= hi90,
        s"$lang approx p90 ${ap(1)} outside [$lo90, $hi90]")
      // and the exact operator's own p50/p90 sit inside the same envelope
      assert(exact(lang)._1 >= lo50 && exact(lang)._1 <= hi50)
      assert(exact(lang)._2 >= lo90 && exact(lang)._2 <= hi90)
    }
  }

  test("tx_bm25: seeded random corpora match an independent Scala reference") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new scala.util.Random(seed)
      // 11 docs (ids 0..10, so only doc 0 queries) keeps every candidate
      // inside the top-10 emission — the cross-check then cannot depend on
      // a rank boundary, only on scores
      val docs = (0L to 10L).map(i =>
        i -> Seq.fill(rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val got = TextQueries.bm25DF(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

      // independent reference (plain Scala collections, same quantization)
      val tok = "[a-z0-9]+".r
      val tf = docs.map { case (id, t) =>
        id -> tok.findAllIn(t.toLowerCase).toVector.groupBy(identity)
          .map { case (w, g) => w -> g.size.toLong }
      }.toMap.filter(_._2.nonEmpty)
      val dl = tf.map { case (id, m) => id -> m.values.sum }
      val dfq = tf.values.flatMap(_.keys).groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      val nDocs = dl.size.toLong
      val avgdl = dl.values.sum.toDouble / nDocs
      val queries = docs.filter(_._1 % 41 == 0).map { case (id, t) =>
        id -> tok.findAllIn(t.toLowerCase).toVector.take(8).distinct
      }
      val want = (for {
        (qid, qts) <- queries
        (did, m) <- tf if did != qid
        shared = qts.filter(m.contains) if shared.nonEmpty
      } yield {
        val sq = shared.map { w =>
          val c = math.log(1.0 + (nDocs - dfq(w) + 0.5) / (dfq(w) + 0.5)) *
            (m(w) * 2.2) / (m(w) + 1.2 * (0.25 + 0.75 * dl(did) / avgdl))
          BigDecimal(c * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
        (qid, did) -> sq.toDouble / 1000000
      }).toMap
      assert(got.keySet == want.keySet, s"seed $seed: pair sets differ")
      got.foreach { case (k2, v) =>
        assert(math.abs(v - want(k2)) < 1e-5, s"seed $seed $k2: $v vs ${want(k2)}")
      }
    }
  }

  test("tx_line_dedup: planted boilerplate line is removed everywhere, text rebuilt in order") {
    import spark.implicits._
    // 5-word lines by construction. The "footer" line appears in docs
    // 1, 2, 3 (df = 3 = threshold) at different positions; the "pair"
    // line appears only in docs 1 and 4 (df = 2 — must survive).
    val footer = "visit our site for more"
    val pair = "two docs share this line"
    val a = "alpha beta gamma delta epsilon"
    val b = "one two three four five"
    val c = "red green blue cyan magenta"
    val docs = Seq(
      (1L, s"$a $footer $pair"),        // footer mid-doc
      (2L, s"$footer $b"),              // footer first
      (3L, s"$c $footer"),              // footer last
      (4L, s"$pair $b"),                // df=2 line only
      (5L, a),                          // untouched
      (6L, footer)                      // ONLY boilerplate → empty rebuild
    ).toDF("doc_id", "text")
    val out = TextQueries.lineDedupDF(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((3L, 1L, h(s"$a $pair"))), "mid-doc removal stitches the rest")
    assert(out(2L) == ((2L, 1L, h(b))) && out(3L) == ((2L, 1L, h(c))),
      "removal works at every position")
    assert(out(4L) == ((2L, 0L, h(s"$pair $b"))), "df=2 line survives (below threshold)")
    assert(out(5L) == ((1L, 0L, h(a))), "doc with unique lines is untouched")
    assert(out(6L) == ((1L, 1L, h(""))), "all-boilerplate doc rebuilds to empty text")
  }

  test("tx_lm_score: OOV eval doc lands in tail, common-token doc in head; nll matches a Scala recompute") {
    import spark.implicits._
    // lang "en", 7 docs. Training slice = doc_id % 41 != 0, so doc 41 is
    // held out: its tokens never train and are fully OOV → worst (highest)
    // smoothed nll → 'tail'. Doc 1 repeats the most common token → best
    // nll → 'head'. Docs 2..6 fill the terciles (7 docs: head=1-3,
    // middle=4-5, tail=6-7 by rank).
    val docs = Seq(
      (1L, "en", "the the the the the the"),
      (2L, "en", "the cat sat on the mat"),
      (3L, "en", "the dog ran to the cat"),
      (4L, "en", "cat dog mat sun moon star"),
      (5L, "en", "sun moon star the dog mat"),
      (6L, "en", "on to ran sat sun moon"),
      (41L, "en", "zyx wvu tsr qpo nml kji")
    ).toDF("doc_id", "lang", "text")
    val out = TextQueries.lmScoreDF(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(out.size == 7)
    // independent reference: train counts over docs != 41, add-1/2 smoothing,
    // per-token -ln quantized to 6-dp longs, tf-weighted long sum
    val train = docs.collect().filter(_.getLong(0) % 41 != 0)
      .flatMap(_.getString(2).split(" ")).groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    val n = train.values.sum.toDouble
    val v = train.size.toDouble
    def nllOf(text: String): Double = {
      val toks = text.split(" ")
      val sq = toks.groupBy(identity).map { case (t, g) =>
        val c = train.getOrElse(t, 0L).toDouble
        g.length.toLong * BigDecimal(-math.log((c + 0.5) / (n + 0.5 * v)) * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      sq.toDouble / (1e6 * toks.length)
    }
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(2))
      assert(math.abs(out(id)._2 - nllOf(text)) < 1e-9, s"doc $id nll")
      assert(out(id)._1 == text.split(" ").length.toLong, s"doc $id n_tokens")
    }
    assert(out(41L)._3 == "tail", s"OOV eval doc must rank worst: ${out(41L)}")
    assert(out(1L)._3 == "head", s"most-common-token doc must rank best: ${out(1L)}")
    assert(out(41L)._2 == out.values.map(_._2).max, "OOV doc has the max nll")
    assert(out(1L)._2 == out.values.map(_._2).min, "repeated-common doc has the min nll")
  }

  test("dd_split: near-dup cluster members never straddle the train/val boundary") {
    val sfDir = sf("sf0.01")
    val split = graft.SparkEntry.queries("dd_split")(spark, sfDir).cache()
    val clusters = graft.SparkEntry.queries("dd_clusters")(spark, sfDir)
      .select(col("doc_id"), col("cluster_id")).cache()
    assert(clusters.count() > 0, "non-vacuous: the corpus has dup clusters")
    // every doc appears exactly once, both sides populated, train majority
    val total = graft.core.Tables.documents(spark, sfDir).count()
    assert(split.count() == total)
    val sides = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.getOrElse("train", 0L) > 0 && sides.getOrElse("val", 0L) > 0)
    assert(sides("train") > sides("val"), "90/10 target: train is the majority")
    // THE invariant: one split value per cluster — no member crosses sides
    val straddling = split.join(clusters, "doc_id")
      .groupBy("cluster_id").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling == 0, "a near-dup cluster straddles the split boundary")
    // and the split key IS the cluster root: members carry the root id
    val wrongRoot = split.join(clusters, "doc_id")
      .filter(col("cluster_root") =!= col("cluster_id")).count()
    assert(wrongRoot == 0)
    split.unpersist(); clusters.unpersist()
  }

  test("tx_gopher_gate: each planted defect fires its own rule; clean doc passes") {
    import spark.implicits._
    val clean = (0 until 30).map(i => f"word$i%02dxx").mkString(" ") // 30 distinct 8-char words
    val docs = Seq(
      (1L, clean),                                            // passes every rule
      (2L, "tiny doc"),                                       // n_words < 10
      (3L, (0 until 12).map(_ => "a").mkString(" ")),         // mean_wlen < 2 (and repetition)
      (4L, ((0 until 15).map(i => f"w$i%02dabc") ++ (0 until 15).map(i => f"w$i%02dabc")).mkString(" ")),
      // ^ doc 4: 5-word lines repeat exactly (lines 0-2 == lines 3-5) →
      //   dup_line_frac = 0.5, dup_line_char_frac > 0.2; 2/3-grams repeat too
      (5L, (0 until 20).flatMap(_ => Seq("ping", "pong")).mkString(" "))
      // ^ doc 5: 'ping pong' dominates 2-grams → top_2gram + dup_3gram
    ).toDF("doc_id", "text")
    val out = TextQueries.gopherGateDF(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(7), r.getString(8)))).toMap
    assert(out(1L) == ((1, "ok")), s"clean doc: ${out(1L)}")
    assert(out(2L)._1 == 0 && out(2L)._2.contains("n_words"), s"short doc: ${out(2L)}")
    assert(out(3L)._1 == 0 && out(3L)._2.contains("wlen"), s"1-char words: ${out(3L)}")
    assert(out(4L)._1 == 0 && out(4L)._2.contains("dup_line") &&
      out(4L)._2.contains("dup_line_chars"), s"repeated half: ${out(4L)}")
    assert(out(5L)._1 == 0 && out(5L)._2.contains("top_2gram") &&
      out(5L)._2.contains("dup_3gram"), s"two-token loop: ${out(5L)}")
    // reasons are a fixed-order trail, not a single verdict
    assert(out(4L)._2.split(";").length >= 2)
  }

  test("sim_twostage: well-formed top-k and full distance dominates its prefix") {
    val sfDir = sf("sf0.001")
    val out = graft.SparkEntry.queries("sim_twostage")(spark, sfDir).cache()
    val nQueries = graft.core.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).count()
    assert(out.count() > 0 && out.count() <= nQueries * 5)
    // fdist sums squares over all 64 dims, cdist over the first 16 —
    // the full distance can never be smaller than its own prefix
    assert(out.filter(col("fdist") < col("cdist")).count() == 0)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    out.unpersist()
  }

  test("tx_readability: planted counts land exactly; fragments floor at one sentence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("readability_sf")
    dir.toFile.deleteOnExit()
    Seq(
      (1L, "The cat sat. It ran!"),          // 5 words, 0 long, 2 sentences
      (2L, "amazing elephants wandering"),   // 3 words, ALL long, no terminator
      (3L, ""),                              // empty: words 0 -> lix 0
      (4L, "Hi?! Ok...")                     // terminator RUNS count once each
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("tx_readability")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((5L, 0L, 2L, 2.5)), s"doc1: ${out(1L)}")
    // 3/1 + 100·3/3 = 103
    assert(out(2L) == ((3L, 3L, 1L, 103.0)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 1L, 0.0)), s"empty doc: ${out(3L)}")
    // "?!" and "..." are ONE sentence boundary each: 2/2 + 0 = 1
    assert(out(4L) == ((2L, 0L, 2L, 1.0)), s"doc4: ${out(4L)}")
  }

  test("tx_curriculum: phases split per-language rank thirds; ties break by doc_id") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("curriculum_sf")
    dir.toFile.deleteOnExit()
    // lang "en": six docs with strictly increasing LIX (1,2,3,4,101,102 —
    // word counts then long-word ratios) → phases 1,1,2,2,3,3.
    // lang "tie": three IDENTICAL docs (equal lix) → doc_id order decides.
    Seq(
      (1L, "a", "en"), (2L, "a b", "en"), (3L, "a b c", "en"),
      (4L, "a b c d", "en"), (5L, "abcdefgh", "en"),
      (6L, "abcdefgh abcdefgh", "en"),
      (10L, "x", "tie"), (11L, "x", "tie"), (12L, "x", "tie")
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("tx_curriculum")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 3,
      10L -> 1, 11L -> 2, 12L -> 3), s"phases: $out")
  }

  test("tx_hybrid_rrf: exact-integer fusion decides a 5th-decimal rank boundary") {
    import spark.implicits._
    // query doc 0 (0 % 41 == 0). Lexical leg: doc1 matches both query
    // tokens (r1), doc3 one (r2), doc2 none. Vector leg: vec2 identical
    // to the query (r1), vec3 close (r2), vec1 orthogonal (r3).
    // Fused: d1 = L/61 + L/63 (124/3843 ≈ .0322664) vs
    //        d3 = 2·L/62      (1/31    ≈ .0322580)
    // — they differ only in the 5TH decimal: a float RRF rounded to 4dp
    // would tie, the exact BIGINT comparison must rank d1 first.
    val docs = Seq(
      (0L, "alpha beta"), (1L, "alpha beta junkone"),
      (2L, "junktwo junkthree"), (3L, "alpha junkfour")
    ).toDF("doc_id", "text")
    val e1 = Array.tabulate(8)(i => if (i == 0) 1f else 0f)
    val e2 = Array.tabulate(8)(i => if (i == 1) 1f else 0f)
    val mix = Array.tabulate(8)(i => if (i == 0) 0.9f else if (i == 1) 0.3f else 0f)
    val emb = Seq((0L, e1, 0), (1L, e2, 0), (2L, e1, 0), (3L, mix, 0))
      .toDF("vec_id", "embedding", "label")
    val out = TextQueries.hybridRrfDF(docs, emb).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getInt(3), r.getInt(4)))).toMap
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = (61L to 70L).foldLeft(1L)((l, x) => l / gcd(l, x) * x)
    assert(out(1L) == ((L / 61 + L / 63, 2, 1)), s"d1 (dual leg, boundary win): ${out(1L)}")
    assert(out(3L) == ((2 * (L / 62), 2, 2)), s"d3 (dual leg, boundary loss): ${out(3L)}")
    assert(out(2L) == ((L / 61, 1, 3)), s"d2 (vector-only): ${out(2L)}")
  }

  test("tx_eval_leakage: per-eval-doc leaked-gram fraction exact; short eval doc scores 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("leakage_sf")
    dir.toFile.deleteOnExit()
    // evalMod = 41: doc_ids 0, 41, 82 are the eval split.
    // eval 0: 5 tokens → grams (t1..t4), (t2..t5); train doc 1 carries
    // ONLY the first → leak 1/2. eval 41 is copied wholesale into train
    // doc 2 → leak 1. eval 82 has 3 tokens < gram width → 0 grams, ratio 0.
    Seq(
      (0L, "t1 t2 t3 t4 t5"),
      (41L, "q1 q2 q3 q4"),
      (82L, "s1 s2 s3"),
      (1L, "zz t1 t2 t3 t4 yy"),
      (2L, "q1 q2 q3 q4 extra words"),
      (3L, "unrelated filler tokens here")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("tx_eval_leakage")(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 41L, 82L), s"eval split only: ${out.keySet}")
    assert(out(0L) == ((2L, 1L, 0.5)), s"half-leaked: ${out(0L)}")
    assert(out(41L) == ((1L, 1L, 1.0)), s"fully leaked: ${out(41L)}")
    assert(out(82L) == ((0L, 0L, 0.0)), s"too short: ${out(82L)}")
  }

  test("tx_budget_select: level-granular budget floor, same-level docs move together, negative floors") {
    import spark.implicits._
    // total 22 tokens -> budget = 22*400 div 1000 = 8; levels desc:
    // 300000 (3 toks, cum 3 <= 8 KEEP), 200000 (3 toks across TWO docs,
    // cum 6 <= 8 KEEP), 10000 (10 toks, cum 16 > 8 DROP), negatives DROP
    val base = Seq(
      (1L, 900L, 3L),   // smill 300000
      (2L, 200L, 1L),   // smill 200000 — same level as doc 3
      (3L, 400L, 2L),   // smill 200000
      (4L, 100L, 10L),  // smill 10000 — overshoots the budget
      (5L, -300L, 3L),  // smill -100000 (exact)
      (6L, -301L, 3L)   // floor(-100333.33) = -100334, NOT -100333: floor,
                        // not truncate-toward-zero, on negative scores
    ).toDF("doc_id", "raw", "n")
    val out = TextQueries.budgetSelectDF(base).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getInt(4)))).toMap
    assert(out.values.forall(_._2 == 8L), s"budget floor 8: ${out.values.map(_._2)}")
    assert(out(1L) == ((300000L, 8L, 1)), s"top level kept: ${out(1L)}")
    assert(out(2L)._3 == 1 && out(3L)._3 == 1, s"same level moves together: ${out(2L)} ${out(3L)}")
    assert(out(4L)._3 == 0, s"overshooting level dropped whole: ${out(4L)}")
    assert(out(5L) == ((-100000L, 8L, 0)), s"negative exact: ${out(5L)}")
    assert(out(6L)._1 == -100334L, s"negative floors down, not toward zero: ${out(6L)}")
  }

  test("tx_budget_select property: kept tokens never exceed budget, and the selection is maximal") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 10) {
      val docs = (1 to 30).map { i =>
        (i.toLong, rnd.between(-500L, 500L), rnd.between(0L, 20L))
      }
      val out = TextQueries.budgetSelectDF(docs.toDF("doc_id", "raw", "n")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      val budget = out.head._4
      val keptTokens = out.filter(_._5 == 1).map(_._3).sum
      assert(keptTokens <= budget, s"trial $trial: kept $keptTokens > budget $budget")
      // maximality at level granularity: the BEST dropped level would
      // overshoot if added
      val dropped = out.filter(_._5 == 0)
      if (dropped.nonEmpty) {
        val bestDropped = dropped.map(_._2).max
        val bestDroppedToks = dropped.filter(_._2 == bestDropped).map(_._3).sum
        assert(keptTokens + bestDroppedToks > budget,
          s"trial $trial: level $bestDropped (+$bestDroppedToks toks) would still fit " +
            s"($keptTokens kept, budget $budget) — selection not maximal")
      }
      // level granularity: equal levels never split
      val byLevel = out.groupBy(_._2).values
      assert(byLevel.forall(g => g.map(_._5).distinct.size == 1),
        s"trial $trial: a score level split its keep decision")
    }
  }

  test("dd_spans: a 100-char common span fingerprints BOTH carriers; unique docs score 0") {
    import spark.implicits._
    // winnowing guarantee: any common substring of length >= winLen + k - 1
    // = 23 chars shares at least one fingerprint — a 100-char span planted
    // inside different surroundings must mark both docs; the unique doc
    // must share nothing
    val dir = java.nio.file.Files.createTempDirectory("spans_sf")
    dir.toFile.deleteOnExit()
    val span = (0 until 12).map(i => s"copypasta$i").mkString(" ") // ~120 chars
    def filler(seed: Int) = (0 until 12).map(i => s"u${seed}q$i").mkString(" ")
    Seq((1L, filler(1) + " " + span + " " + filler(2)),
        (2L, filler(3) + " " + span + " " + filler(4)),
        (3L, filler(5) + " " + filler(6)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("dd_spans")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._2 >= 1 && out(2L)._2 >= 1,
      s"both span carriers share fingerprints: ${out(1L)} ${out(2L)}")
    assert(out(3L)._2 == 0 && out(3L)._3 == 0.0, s"unique doc shares nothing: ${out(3L)}")
    for (d <- Seq(1L, 2L, 3L))
      assert(out(d)._3 == out(d)._2 * 1.0 / out(d)._1,
        s"shared_frac is the exact quotient: $d ${out(d)}")
  }

  test("tx_len_quantiles 100TB swap: approx_percentile lands within the GK rank bound") {
    // Sharpens the bracketing spec above (accuracy 1000, generous rank
    // envelopes) to the FORMAL GK contract: each sketch answer's RANK in
    // the exact sorted list must sit within n/accuracy (+1 for the ceil
    // convention) of the target rank — at deliberately LOW accuracy (100)
    // so the sketch genuinely approximates at this corpus size instead of
    // degenerating exact, and including the tail p99 the envelope spec
    // leaves out.
    import org.apache.spark.sql.functions._
    val acc = 100
    val rows = graft.core.Tables.documents(spark, sf("sf0.01"))
      .select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val byLang = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val approx = graft.core.Tables.documents(spark, sf("sf0.01"))
      .groupBy("lang")
      .agg(expr(s"approx_percentile(n_chars, array(0.5D, 0.9D, 0.99D), $acc)").as("ap"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val qs = Seq(0.5, 0.9, 0.99)
    for ((lang, sorted) <- byLang; (q, v) <- qs.zip(approx(lang))) {
      val n = sorted.length
      val target = math.ceil(q * n).toLong
      val rankLo = sorted.count(_ < v) + 1L  // smallest rank v could hold
      val rankHi = sorted.count(_ <= v).toLong // largest
      val bound = n.toDouble / acc + 1
      assert(rankLo - bound <= target && target <= rankHi + bound,
        s"$lang p$q: approx $v holds ranks [$rankLo,$rankHi] of $n, " +
          s"target $target outside ±$bound")
    }
  }
}
