package graft.llm

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{StagedTable, Tables}

/** The vector stages trained in one task ([[LocalFit]]) equal the stages
  * the distributed fits write: each of `km2l_asg`, `pq_index` and
  * `pqs_index` is built once at the default ceiling (one task) and once at
  * ceiling 0 (distributed), the stage dropped in between, and the two
  * tables must hold the same rows as a multiset under the same schema.
  * Every corpus is a private copy whose stages are dropped at the end. */
class LocalFitSpec extends SparkSpec {

  override val timeLimit = org.scalatest.time.Span(600, org.scalatest.time.Seconds)

  private val families: Seq[(String, (SparkSession, String, Long) => String)] = Seq(
    "km2l_asg" -> SimilarityQueries.stageKmeansScaledAssign,
    "pq_index" -> SimilarityQueries.stagePqIndex,
    "pqs_index" -> SimilarityQueries.stagePqIndexScaled)

  /** A private corpus dir holding `emb` as its embeddings table. */
  private def corpusOf(tag: String, emb: DataFrame): String = {
    val dir = Files.createTempDirectory(tag)
    dir.toFile.deleteOnExit()
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

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
        build(spark, corpus, SimilarityQueries.pqTrainCap)
        val local = spark.table(table).localCheckpoint()
        if (family == "km2l_asg")
          members = local.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        StagedTable.drop(spark, table)
        build(spark, corpus, 0L)
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

  test("one-task vector stages equal the distributed ones over a copy of sf0.001") {
    val corpus = corpusOf("fit_sf", Tables.embeddings(spark, sf("sf0.001")))
    assert(sameBothWays(corpus).map(_._1).distinct.size == 500, "every vector has a cell")
  }

  test("one-task vector stages equal the distributed ones on duplicate vectors and distance ties") {
    // 37 distinct patterns on a 5-value grid that quantizes to -2..2: every
    // pattern repeats and many distances tie, so the (dist, id) orders decide
    val corpus = corpusOf("fit_ties", planted(300, "((((id % 37) * (j + 1)) % 5) - 2) * 0.0001"))
    assert(sameBothWays(corpus).nonEmpty)
  }

  test("one-task vector stages equal the distributed ones when the split repair fires") {
    // 200 of 320 vectors in one tight clump: its round-1 cell holds ≥ 2·cellTarget
    val corpus = corpusOf("fit_split", planted(320,
      "if(id < 120, sin(id * 1.3 + j * 0.7) * 0.5, 0.9 + 0.001 * ((id * 7 + j * 3) % 11))"))
    val k = 320L / SimilarityQueries.cellTarget
    assert(sameBothWays(corpus).exists(_._2 >= k), "a split seed (cid ≥ k) holds members")
  }

  test("one-task vector stages equal the distributed ones when the super probe prunes") {
    // 5 000 vectors: k = 156 cells under kcc = 6 supers, more than the
    // assignSProbe = 4 a vector routes through, so the super-level top-4
    // decides. 4 000 of them are 40 hashed clusters spread over all 64
    // dims (a geometry where the top-4 supers miss cells); the
    // 1 000-vector clump at cluster 7's centre fills one round-1 cell far
    // past 3·cellTarget, so its split repair seeds more than one extra cell
    val n = 5000L
    val corpus = corpusOf("fit_prune", planted(n,
      "if(id < 4000, pmod(hash(id % 40, j), 1000) / 1000.0 + pmod(hash(id, j), 1000) / 4000.0, " +
        "pmod(hash(7, j), 1000) / 1000.0 + 0.001 * ((id * 7 + j * 3) % 11))"))
    val k = n / SimilarityQueries.cellTarget
    assert(SimilarityQueries.kccOf(k) > SimilarityQueries.assignSProbe)
    val splitCells = sameBothWays(corpus).map(_._2).filter(_ >= k).distinct
    assert(splitCells.size > 1, s"split seeds holding members: $splitCells")
  }

  test("one-task vector stages equal the distributed ones on an empty and a one-row corpus") {
    assert(sameBothWays(corpusOf("fit_empty", planted(0, "j"))).isEmpty)
    assert(sameBothWays(corpusOf("fit_one", planted(1, "j * 0.01"))) == Seq(0L -> 0L))
  }
}
