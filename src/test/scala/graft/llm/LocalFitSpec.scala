package graft.llm

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{StagedTable, Tables}

/** The vector fits trained in one task ([[LocalFit]]) equal the
  * distributed ones: each of `km2l_asg`, `pq_index` and `pqs_index` is
  * built once at the default ceiling (one task) and once at ceiling 0
  * (distributed), the stage dropped in between, and the two tables must
  * hold the same rows as a multiset under the same schema; and every frame
  * of `scaledFit` and `pqTrain`, which all the query-shaped callers read,
  * holds the same rows both ways. Every corpus is a private dir under
  * `target/` that is deleted, with its stages, at the end. */
class LocalFitSpec extends SparkSpec {

  override val timeLimit = org.scalatest.time.Span(600, org.scalatest.time.Seconds)

  private val families: Seq[(String, (SparkSession, String) => String)] = Seq(
    "km2l_asg" -> SimilarityQueries.stageKmeansScaledAssign,
    "pq_index" -> SimilarityQueries.stagePqIndex,
    "pqs_index" -> SimilarityQueries.stagePqIndexScaled)

  /** `body` over a private corpus dir under `target/` holding `emb` as its
    * embeddings table; the dir is deleted after. */
  private def withCorpus[T](tag: String, emb: DataFrame)(body: String => T): T = {
    val dir = Paths.get("target", "local-fit-spec", tag).toAbsolutePath
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try body(dir.toString) finally delete(dir)
  }

  private def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))

  /** `n` planted vectors (vec_id 0..n−1, 64 float dims from `dim`, an SQL
    * expression of `id` and `j`; label id % 10). */
  private def planted(n: Long, dim: String): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 63), j -> cast($dim as float))").as("embedding"),
      (col("id") % 10).cast("int").as("label"))

  /** Build every family over `corpus` both ways and compare; returns the
    * one-task `km2l_asg` rows (vec_id, cid). */
  private def sameBothWays(corpus: String): Seq[(Long, Long)] = {
    var members = Seq.empty[(Long, Long)]
    for ((family, build) <- families) {
      val table = s"graft_${family}_" + math.abs(corpus.hashCode).toString
      try {
        StagedTable.drop(spark, table)
        val before = StagedTable.stagingsComputed
        build(spark, corpus)
        val local = spark.table(table).localCheckpoint()
        if (family == "km2l_asg")
          members = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        StagedTable.drop(spark, table)
        SimilarityQueries.oneTaskCeiling.withValue(0L)(build(spark, corpus))
        assert(StagedTable.stagingsComputed == before + 2, s"$table was built twice")
        val dist = spark.table(table)
        assert(local.schema == dist.schema, s"$table: one-task and distributed schemas")
        assert(local.exceptAll(dist).isEmpty && dist.exceptAll(local).isEmpty,
          s"$table: one-task and distributed builds hold the same rows " +
            s"(${local.count()} vs ${dist.count()})")
      } finally StagedTable.drop(spark, table)
    }
    members
  }

  /** `scaledFit` and `pqTrain` over `corpus` at the default ceiling (one
    * task) and at 0 (distributed): each frame has the same column names and
    * types (nullability aside) and holds the same rows as a multiset both
    * ways. */
  private def sameFitsBothWays(corpus: String): Unit = {
    def fits(): (Seq[(String, DataFrame)], () => Unit) = {
      val fit = SimilarityQueries.scaledFit(spark, corpus)
      val (cb, codes, caches) = SimilarityQueries.pqTrain(spark, corpus)
      (Seq("xq" -> fit.xq, "members" -> fit.members, "sseeds" -> fit.sseeds,
          "pf" -> fit.pf, "pg" -> fit.pg, "cb" -> cb, "codes" -> codes),
        () => { fit.release(); caches.foreach(_.unpersist()) })
    }
    val (local, releaseLocal) = fits()
    try {
      val (dist, releaseDist) = SimilarityQueries.oneTaskCeiling.withValue(0L)(fits())
      try for (((name, a), (_, b)) <- local.zip(dist)) {
        assert(a.schema.map(f => f.name -> f.dataType.catalogString) ==
          b.schema.map(f => f.name -> f.dataType.catalogString),
          s"$corpus $name: one-task and distributed columns")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$corpus $name: one-task and distributed fits hold the same rows " +
            s"(${a.count()} vs ${b.count()})")
      } finally releaseDist()
    } finally releaseLocal()
  }

  private def sf001: DataFrame = Tables.embeddings(spark, sf("sf0.001"))

  /** 37 distinct patterns on a 5-value grid that quantizes to -2..2: every
    * pattern repeats and many distances tie, so the (dist, id) orders decide. */
  private def ties: DataFrame = planted(300, "((((id % 37) * (j + 1)) % 5) - 2) * 0.0001")

  /** 200 of 320 vectors in one tight clump: its round-1 cell holds ≥ 2·cellTarget. */
  private def clump: DataFrame = planted(320,
    "if(id < 120, sin(id * 1.3 + j * 0.7) * 0.5, 0.9 + 0.001 * ((id * 7 + j * 3) % 11))")

  /** 5 000 vectors: k = 156 cells under kcc = 6 supers, more than the
    * assignSProbe = 4 a vector routes through, so the super-level top-4
    * decides. 4 000 of them are 40 hashed clusters spread over all 64
    * dims (a geometry where the top-4 supers miss cells); the
    * 1 000-vector clump at cluster 7's centre fills one round-1 cell far
    * past 3·cellTarget, so its split repair seeds more than one extra cell. */
  private val pruneN = 5000L
  private def prune: DataFrame = planted(pruneN,
    "if(id < 4000, pmod(hash(id % 40, j), 1000) / 1000.0 + pmod(hash(id, j), 1000) / 4000.0, " +
      "pmod(hash(7, j), 1000) / 1000.0 + 0.001 * ((id * 7 + j * 3) % 11))")

  private def empty: DataFrame = planted(0, "j")
  private def one: DataFrame = planted(1, "j * 0.01")

  test("one-task vector stages equal the distributed ones over a copy of sf0.001") {
    withCorpus("fit_sf", sf001) { corpus =>
      assert(sameBothWays(corpus).map(_._1).distinct.size == 500, "every vector has a cell")
    }
  }

  test("one-task vector stages equal the distributed ones on duplicate vectors and distance ties") {
    withCorpus("fit_ties", ties) { corpus =>
      assert(sameBothWays(corpus).nonEmpty)
    }
  }

  test("one-task vector stages equal the distributed ones when the split repair fires") {
    withCorpus("fit_split", clump) { corpus =>
      val k = 320L / SimilarityQueries.cellTarget
      assert(sameBothWays(corpus).exists(_._2 >= k), "a split seed (cid ≥ k) holds members")
    }
  }

  test("one-task vector stages equal the distributed ones when the super probe prunes") {
    withCorpus("fit_prune", prune) { corpus =>
      val k = pruneN / SimilarityQueries.cellTarget
      assert(SimilarityQueries.kccOf(k) > SimilarityQueries.assignSProbe)
      val splitCells = sameBothWays(corpus).map(_._2).filter(_ >= k).distinct
      assert(splitCells.size > 1, s"split seeds holding members: $splitCells")
    }
  }

  test("one-task vector stages equal the distributed ones on an empty and a one-row corpus") {
    withCorpus("fit_empty", empty)(corpus => assert(sameBothWays(corpus).isEmpty))
    withCorpus("fit_one", one)(corpus => assert(sameBothWays(corpus) == Seq(0L -> 0L)))
  }

  test("the one-task scaled index writes one kind per file") {
    withCorpus("fit_files", sf001) { corpus =>
      val table = SimilarityQueries.stagePqIndexScaled(spark, corpus)
      try {
        val loc = Paths.get(java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
        val kinds = Using.resource(Files.list(loc))(_.iterator().asScala.toSeq)
          .filter(_.toString.endsWith(".parquet"))
          .map(f => spark.read.parquet(f.toString).select("kind").distinct().count())
        assert(kinds.size == 6 && kinds.forall(_ == 1), s"kinds per file: $kinds")
      } finally StagedTable.drop(spark, table)
    }
  }

  test("scaledFit and pqTrain give the same frames at the default ceiling and at 0") {
    for ((tag, emb) <- Seq("fit_sf" -> sf001, "fit_ties" -> ties, "fit_split" -> clump,
        "fit_prune" -> prune, "fit_empty" -> empty, "fit_one" -> one))
      withCorpus(tag, emb)(sameFitsBothWays)
  }
}
