package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Planted-case specs for the round-5 mining/sketch/sampling operators —
  * each drives the REAL factored query body (not a re-implementation), so
  * a regression in the production chain fails here before the oracle runs.
  */
class MiningSpec extends SparkSpec {

  import spark.implicits._

  private def vec(base: Float, jitter: Float = 0f): Array[Float] =
    Array.tabulate(8)(i => base + i * 0.5f + (if (i == 0) jitter else 0f))

  test("sim_hard_negatives: same-label near-dup excluded, different-label near-dup ranks first") {
    // query 0 (label 0): vec_id % 50 = 0 selects it. Neighbor 1 is an
    // almost-identical SAME-label vector (a positive — must never appear);
    // neighbor 2 is an almost-identical DIFFERENT-label vector (the hard
    // negative — must rank first); neighbor 3 is a far different-label one.
    val emb = Seq(
      (0L, vec(1f), 0),
      (1L, vec(1f, 0.01f), 0),
      (2L, vec(1f, 0.02f), 1),
      (3L, Array.tabulate(8)(i => (if (i % 2 == 0) 5f else -3f)), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityQueries.hardNegativesDF(emb)
      .filter(col("query_id") === 0L)
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
      .collect()
    assert(!out.map(_.getLong(1)).contains(1L), "same-label neighbor is a positive, not a negative")
    assert(out.head.getLong(1) == 2L, "the near-identical different-label vector is the top hard negative")
    assert(out.map(_.getLong(1)).toSet == Set(2L, 3L))
    assert(out.head.getInt(2) == 1, "neg_label carries the negative's cell")
  }

  test("sim_diverse_topk: per-cell cap binds, freed slots go to the next cell") {
    // query 0 (label 9). Cell 1 holds FOUR near-identical top matches —
    // without the cap all of top-4 would come from cell 1; with divCap=2
    // exactly two survive and cells 2/3 fill the remaining topK slots.
    val emb = Seq(
      (0L, vec(1f), 9),
      (1L, vec(1f, 0.01f), 1), (2L, vec(1f, 0.02f), 1),
      (3L, vec(1f, 0.03f), 1), (4L, vec(1f, 0.04f), 1),
      (5L, vec(2f), 2), (6L, vec(2f, 0.1f), 2),
      (7L, vec(4f), 3)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityQueries.diverseTopkDF(emb)
      .filter(col("query_id") === 0L).collect()
    val byCell = out.groupBy(_.getInt(2)).view.mapValues(_.length).toMap
    assert(byCell.getOrElse(1, 0) == 2, s"cell 1 capped at divCap=2, got $byCell")
    assert(out.length == 5, "freed slots fill from other cells up to topK")
    assert(byCell.getOrElse(2, 0) == 2 && byCell.getOrElse(3, 0) == 1)
  }

  test("tx_kmv_distinct: exact count exact, estimate inside the k=64 sketch envelope") {
    // 40 docs x 25 disjoint tokens = exactly 1000 distinct tokens.
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 25).map(j => s"tok${i}x$j").mkString(" "), "aa")
    }.toDF("doc_id", "text", "lang")
    val out = TextQueries.kmvDistinctDF(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("n_exact")) == 1000L)
    val est = r.getLong(r.fieldIndex("est_distinct"))
    // KMV relative std ~ 1/sqrt(k-1) = 12.6%; 50% is a regression gate,
    // not a statistics claim (the value itself is deterministic).
    assert(est > 500 && est < 2000, s"estimate $est outside the sanity envelope")
    assert(r.getLong(r.fieldIndex("err_permille")) < 500)
  }

  test("tx_stratified_sample: per-stratum take within [ceil(10%), ceil(10%)+salts]; repartition-stable") {
    val docs = ((0 until 100).map(i => (i.toLong, "en", "web")) ++
      (100 until 107).map(i => (i.toLong, "de", "book")))
      .toDF("doc_id", "lang", "source")
      .withColumn("text", lit("x")) // unused by the body; schema parity
      .select("doc_id", "lang", "source")
    val out = TextQueries.stratifiedSampleDF(docs).collect()
    val takes = out.groupBy(r => (r.getString(1), r.getString(2))).view.mapValues(_.length).toMap
    def ceil10(n: Int) = (n + 9) / 10
    val en = takes(("en", "web")); val de = takes(("de", "book"))
    assert(en >= ceil10(100) && en <= ceil10(100) + 8, s"en take $en")
    assert(de >= ceil10(7) && de <= ceil10(7) + 8, s"de take $de")
    val again = TextQueries.stratifiedSampleDF(docs.repartition(13))
      .collect().map(_.getLong(0)).sorted
    assert(again.sameElements(out.map(_.getLong(0)).sorted),
      "the sample is a pure function of the doc set, not of partitioning")
  }

  test("ev_trend: planted linear series recovers the exact slope; single-day type filtered") {
    // type "up": day d has 5 + 3d events (d = 0..9) -> slope exactly 3.0,
    // mean exactly 18.5. type "one": a single day, below the n_days floor.
    val rows =
      (for { d <- 0 until 10; _ <- 0 until (5 + 3 * d) } yield ("up", d.toLong)) ++
        Seq.fill(4)(("one", 3L))
    val out = graft.batch.FunnelQueries.trendDF(rows.toDF("event_type", "day_idx"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out.contains("one"), "n_days >= 2 floor")
    val up = out("up")
    assert(up.getLong(up.fieldIndex("n_days")) == 10L)
    assert(up.getLong(up.fieldIndex("total_cnt")) == (0 until 10).map(5 + 3 * _).sum)
    assert(up.getDouble(up.fieldIndex("slope_per_day")) == 3.0)
    assert(up.getDouble(up.fieldIndex("avg_per_day")) == 18.5)
  }

  test("ev_rfm: planted metric ladder lands each user in its exact tercile") {
    // user u (1..9): u events, all on day u, 10u cents each -> recency
    // 9-u days, frequency u, monetary 10u^2 cents. Terciles split 3/3/3:
    // users 7-9 are the best third on EVERY dimension, 4-6 the middle.
    val ev = (1 to 9).flatMap(u => Seq.fill(u)((u.toLong, u.toLong, 10L * u)))
      .toDF("user_id", "day_idx", "cents")
    val out = graft.batch.FunnelQueries.rfmDF(ev)
      .collect().map(r => r.getLong(0) -> r).toMap
    def code(u: Long) = out(u).getInt(out(u).fieldIndex("rfm_code"))
    assert(code(9L) == 333 && code(8L) == 333 && code(7L) == 333)
    assert(code(5L) == 222 && code(4L) == 222 && code(6L) == 222)
    assert(code(1L) == 111 && code(3L) == 111)
    val u9 = out(9L)
    assert(u9.getLong(u9.fieldIndex("recency_days")) == 0L)
    assert(u9.getLong(u9.fieldIndex("frequency")) == 9L)
    assert(u9.getLong(u9.fieldIndex("monetary_cents")) == 810L)
  }

  test("dd_best_of_cluster: longest member kept, doc_id breaks length ties") {
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((10L, 100L), (11L, 300L), (12L, 300L), (20L, 50L), (21L, 50L))
      .toDF("doc_id", "n_chars")
    val out = DedupQueries.bestOfClusterDF(clusters, docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(10L) == ((11L, 300L, 3L)), "longest wins; equal lengths -> lower doc_id")
    assert(out(20L) == ((20L, 50L, 2L)))
  }

  test("ev_forecast: planted weekly season recovers exact dow means; quiet dow forecasts 0") {
    // span day 700..710 (both dow-0 days 700/707 and dow-3 days 703/710
    // appear twice). type "w": 3 events per dow-0 day, 1 per dow-3 day,
    // nothing else -> forecast 3.0 / 1.0 / 0.0 exactly; horizon 711..717.
    val rows =
      (for { d <- Seq(700L, 707L); _ <- 0 until 3 } yield ("w", d)) ++
        Seq(("w", 703L), ("w", 710L))
    val out = graft.batch.FunnelQueries.forecastDF(rows.toDF("event_type", "day_idx"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).sorted.toSeq == (711L to 717L), s"horizon: ${out.toSeq}")
    val byDow = out.map(t => t._2 -> t._3).toMap
    assert(byDow(0L) == 3.0 && byDow(3L) == 1.0, s"$byDow")
    assert(Seq(1L, 2L, 4L, 5L, 6L).forall(byDow(_) == 0.0), s"quiet dows: $byDow")

    // the CALENDAR-day denominator is the defining semantics: events on
    // only one of a dow's two calendar days divide by 2 (zero days count),
    // not by the number of observed days
    val sparseRows = Seq(("w", 700L), ("w", 700L), ("w", 700L), ("w", 710L))
    val sparse = graft.batch.FunnelQueries.forecastDF(
        sparseRows.toDF("event_type", "day_idx"))
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // span 700..710: dow 0 has days {700, 707}, events only on 700 -> 3/2
    assert(sparse(0L) == 1.5, s"calendar-mean: $sparse")
  }

  test("tx_dsir: target-language docs out-score the rest; empty docs score 0") {
    // the DEFINING property of importance resampling against a lang='en'
    // target: on real data, docs drawn from the target slice must carry a
    // higher mean log-likelihood-ratio score than docs outside it
    val out = graft.SparkEntry.queries("tx_dsir")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    val (en, other) = out.partition(_._2 == "en")
    assert(en.nonEmpty && other.nonEmpty, "fixture needs both slices")
    val enMean = en.map(_._3).sum.toDouble / en.size
    val otherMean = other.map(_._3).sum.toDouble / other.size
    assert(enMean > otherMean,
      s"target slice mean $enMean not above non-target mean $otherMean")
  }

  test("sim_density: k-distance quantiles exact; small cells report NULL slots honestly") {
    // cell 0: four identical vectors + one far outlier — the outlier's
    // 3 nearest are the base points, so its kdist is the planted D and
    // the cell's kdist series is [0,0,0,0,D] (p50 = 0, p90 = max = D).
    // cell 1: THREE vectors — size ≤ k, so nobody has a 3rd neighbor:
    // n_small = 3 and every quantile slot is NULL, not 0.
    // cell 2: four identical vectors — all-zero k-distances.
    val dir = java.nio.file.Files.createTempDirectory("density_sf")
    dir.toFile.deleteOnExit()
    val flat = (v: Float) => Array.fill(8)(v)
    ((0 until 4).map(i => (i.toLong, flat(0.1f), 0)) ++
      Seq((4L, flat(5.0f), 0)) ++
      (5 until 8).map(i => (i.toLong, flat(0.1f), 1)) ++
      (8 until 12).map(i => (i.toLong, flat(0.2f), 2)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("sim_density")(spark, dir.toString)
      .collect().map(r => r.getInt(0) -> r).toMap
    // pqScale=1e4: q(0.1f)=1000, q(5.0f)=50000 → D = 8·49000²
    val D = 8L * 49000L * 49000L
    val c0 = out(0)
    assert(c0.getLong(1) == 5L && c0.getLong(2) == 0L, s"cell0: $c0")
    assert(c0.getLong(3) == 0L, s"cell0 p50 (rank 3 of [0,0,0,0,D]): $c0")
    assert(c0.getLong(4) == D && c0.getLong(5) == D, s"cell0 p90/max = D: $c0")
    val c1 = out(1)
    assert(c1.getLong(1) == 3L && c1.getLong(2) == 3L, s"cell1 all small: $c1")
    assert(c1.isNullAt(3) && c1.isNullAt(4) && c1.isNullAt(5),
      s"cell1 quantiles must be NULL, not 0: $c1")
    val c2 = out(2)
    assert(c2.getLong(1) == 4L && c2.getLong(2) == 0L &&
      c2.getLong(3) == 0L && c2.getLong(4) == 0L && c2.getLong(5) == 0L, s"cell2: $c2")
  }

  test("sim_knn_recall: cross-cell true neighbors are counted as exact graph misses") {
    val dir = java.nio.file.Files.createTempDirectory("knnrecall_sf")
    dir.toFile.deleteOnExit()
    def e(a: Float) = Array.tabulate(8)(i => if (i == 0) a else 0f)
    // query 0 (cell 0): true top-3 = {1,2,3}, all same-cell -> n_hit 3.
    // query 50 (cell 1): true top-3 = {4, 5, 51} but 4 and 5 live in
    // cell 0 — the per-cell graph can only offer {51,52,53} -> n_hit 1.
    (Seq((0L, e(0f), 0), (1L, e(0.01f), 0), (2L, e(0.02f), 0), (3L, e(0.03f), 0),
      (4L, e(1.01f), 0), (5L, e(1.02f), 0),
      (50L, e(1.0f), 1), (51L, e(1.1f), 1), (52L, e(3.0f), 1), (53L, e(4.0f), 1)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("sim_knn_recall")(spark, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 3L, 50L -> 1L), s"recall rows: $out")
  }

  test("sim_silhouette: planted geometry — misfit flagged by integer b<a, means exact") {
    // cell 0: four members at 0.1 per dim plus ONE misfit planted exactly
    // on cell 1's centroid (0.9 per dim); cell 1: four members at 0.9.
    // On the outScale=100 grid: cell-0 centroid = round((4·10+90)/5) = 26
    // per dim, cell-1 centroid = 90. So (per dim², ×8 dims):
    //   pure cell-0 member: a = 8·16² = 2048, b = 8·80² = 51200 → s = 0.96
    //   the misfit:         a = 8·64² = 32768, b = 0           → s = −1, b < a
    //   cell-1 member:      a = 0,    b = 32768                → s = 1
    val flat = (v: Float) => Array.fill(8)(v)
    val emb = (
      (0 until 4).map(i => (i.toLong, flat(0.1f), 0)) ++
      Seq((4L, flat(0.9f), 0)) ++
      (5 until 9).map(i => (i.toLong, flat(0.9f), 1))
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityQueries.silhouetteDF(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(0)._1 == 5L && out(1)._1 == 4L, s"cell sizes: $out")
    assert(out(0)._2 == 1L, s"exactly the planted misfit flags: $out")
    assert(out(1)._2 == 0L, s"tight far cell has no misfit: $out")
    // mean s in cell 0 = (4·0.96 − 1)/5 = 0.568: each 0.96 addend
    // quantizes to exactly 960000 on the 6-dp grid (nowhere near a .5
    // tie), so the long sum is exactly 2 840 000
    assert(math.abs(out(0)._3 - 0.568) < 1e-12, s"cell-0 mean sil: $out")
    assert(out(1)._3 == 1.0, s"cell-1 mean sil: $out")
  }
}
