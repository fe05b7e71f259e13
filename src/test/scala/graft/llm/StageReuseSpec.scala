package graft.llm

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{StagedTable, Tables}

/** Cross-session reuse of every staged table family: a fresh process whose
  * stage fingerprint (algorithm constants + corpus content hash) matches
  * the `_graft_fingerprint` sidecar adopts the existing files WITHOUT a
  * build, with the built rows and schema; any corpus change invalidates.
  * Simulated fresh process = stage memo cleared + catalog entry dropped
  * (the table is external, so the files survive the drop — exactly the
  * state a new driver starts from). Every stage here lives over a private
  * corpus copy and is dropped, files included, when its test ends. */
class StageReuseSpec extends SparkSpec {

  override val timeLimit = org.scalatest.time.Span(300, org.scalatest.time.Seconds)

  /** A private copy of sf0.001's `input` table (documents or embeddings),
    * passed through `edit`; stage names hash the corpus path, so its stages
    * belong to this spec. */
  private def corpusCopy(input: String, tag: String,
      edit: DataFrame => DataFrame = identity): String = {
    val dir = Files.createTempDirectory(tag)
    dir.toFile.deleteOnExit()
    edit(Tables.load(spark, sf("sf0.001"), input))
      .write.mode("overwrite").parquet(s"$dir/$input.parquet")
    dir.toString
  }

  /** "New process": memo gone, catalog entry gone, files + sidecar on disk. */
  private def freshProcess(table: String): Unit = {
    StagedTable.resetCache()
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  private def rows(table: String): Seq[String] =
    spark.table(table).collect().map(_.toString).sorted.toSeq

  /** Build `table`, then adopt it in a fresh process: zero new builds, the
    * built rows, the built schema. `empty`: the build has no rows. */
  private def buildThenAdopt(stage: () => String, table: String,
      empty: Boolean = false): Unit = {
    val base = StagedTable.stagingsComputed
    assert(stage() == table, "the stage name is graft_<family>_<|hash(corpus)|>")
    assert(StagedTable.stagingsComputed == base + 1, s"first call builds $table")
    val (built, schema) = (rows(table), spark.table(table).schema)
    assert(built.isEmpty == empty, s"$table has ${if (empty) "no " else ""}rows")
    freshProcess(table)
    assert(stage() == table)
    assert(StagedTable.stagingsComputed == base + 1,
      "matching fingerprint adopts the staged files without a build")
    assert(rows(table) == built, "adopted table returns the identical rows")
    assert(spark.table(table).schema == schema, "adopted schema equals the built schema")
  }

  /** After `change`, a fresh process must rebuild `table` (one build). */
  private def rebuildsAfter(stage: () => String, table: String)(change: => Unit): Unit = {
    change
    freshProcess(table)
    val before = StagedTable.stagingsComputed
    stage()
    assert(StagedTable.stagingsComputed == before + 1, s"$table is rebuilt")
  }

  /** Move vector 0 in place: same count, different content hash. */
  private def perturbVector(corpus: String): Unit = {
    spark.read.parquet(s"$corpus/embeddings.parquet")
      .withColumn("embedding", when(col("vec_id") === 0,
        expr("transform(embedding, x -> x + 1.0F)")).otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$corpus/perturbed.parquet")
    // rewrite in place (overwrite of the read source needs a staging copy)
    spark.read.parquet(s"$corpus/perturbed.parquet").write.mode("overwrite")
      .parquet(s"$corpus/embeddings.parquet")
  }

  /** Bucket spec kept on adoption (doc_id joins skip the exchange); an
    * edited document and a stale sidecar (the state a constants edit
    * leaves) each rebuild, and the rebuild heals the sidecar. */
  private def clustersInvalidate(stage: () => String, table: String, corpus: String): Unit = {
    val bucketSpec = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name").isin("Num Buckets", "Bucket Columns")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(bucketSpec.get("Num Buckets").contains("16") &&
      bucketSpec.get("Bucket Columns").exists(_.contains("doc_id")),
      s"bucket metadata restored on adoption: $bucketSpec")

    rebuildsAfter(stage, table) {
      val docs = spark.read.parquet(s"$corpus/documents.parquet").collect()
      val schema = spark.read.parquet(s"$corpus/documents.parquet").schema
      val textIdx = schema.fieldIndex("text")
      val edited = docs.zipWithIndex.map { case (r, i) =>
        if (i == 0) org.apache.spark.sql.Row.fromSeq(
          r.toSeq.updated(textIdx, r.getString(textIdx) + " EDITED"))
        else r
      }
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(edited: _*)),
        schema).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    }

    val fpFile = Paths.get(java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, table, "_graft_fingerprint")
    val goodFp = new String(Files.readAllBytes(fpFile), "UTF-8")
    rebuildsAfter(stage, table)(Files.write(fpFile, "v0;stale-constants".getBytes("UTF-8")))
    assert(new String(Files.readAllBytes(fpFile), "UTF-8") == goodFp,
      "recompute rewrites the current fingerprint")
  }

  /** The PQ artifact's layout, then a moved vector rebuilds it. */
  private def pqInvalidate(stage: () => String, table: String, corpus: String): Unit = {
    val idx = spark.table(table).collect()
    val kinds = idx.map(_.getString(0)).toSet
    assert(kinds == Set("cb", "code", "ccent"),
      s"the artifact carries codebooks, codes, and coarse centroids: $kinds")
    // r10 packed layout: ONE bigint code row per vector (4-bit sub-codes
    // shifted into disjoint ranges), not a row per (vector, subspace)
    assert(idx.count(_.getString(0) == "code") == Tables.embeddings(spark, corpus).count(),
      "one PACKED code row per vector")
    assert(idx.filter(_.getString(0) == "code")
      .forall(r => { val c = r.getLong(5); c >= 0L && c < (1L << 32) }),
      "a packed code is 8 sub-codes x 4 bits — 32 bits")
    rebuildsAfter(stage, table)(perturbVector(corpus))
  }

  /** k follows N, and the re-fit law is part of the fingerprint: a GROWN
    * corpus re-fingerprints and re-fits (wrong k, wrong content xor), never
    * serves the stale fit. */
  private def km2lInvalidate(stage: () => String, table: String, corpus: String): Unit = {
    val cells = spark.table(table).select("cid").distinct().count()
    val vecs = spark.table(table).select("vec_id").distinct().count()
    assert(vecs == 500 && cells > 8, s"k follows N (500/32 -> 15 cells seeded): $vecs, $cells")
    rebuildsAfter(stage, table) {
      Tables.embeddings(spark, sf("sf0.001"))
        .unionByName(Tables.embeddings(spark, sf("sf0.001"))
          .select((col("vec_id") + 500L).as("vec_id"), col("embedding"), col("label")))
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    }
    assert(spark.table(table).select("vec_id").distinct().count() == 1000,
      "re-fit covers the grown corpus")
  }

  /** No rows: a doc_id self-join over the adopted stage (broadcast off)
    * is a bucketed scan of the empty bucket file, with no exchange. */
  private def emptyBucketedJoin(stage: () => String, table: String, corpus: String): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val join = spark.table(table).as("a").join(spark.table(table).as("b"), "doc_id")
      assert(!join.queryExecution.executedPlan.toString.contains("Exchange") && join.count() == 0,
        "a doc_id self-join over the adopted empty stage is a bucketed scan with no exchange")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** One table row: the test, its stage family and input table, the
    * builder, the family-specific checks after the adopt, and the edit
    * that makes the row's corpus from sf0.001's. */
  private final case class StageCase(name: String, family: String, input: String,
      build: (SparkSession, String) => String,
      checks: (() => String, String, String) => Unit = (_, _, _) => (),
      edit: DataFrame => DataFrame = identity, empty: Boolean = false)

  /** `pqs_index` is covered by the cross-artifact test below, which
    * already pays for its build. */
  private val families = Seq(
    StageCase("fingerprint match skips recompute across sessions; corpus change invalidates",
      "clusters", "documents", PipelineQueries.stageClusters, clustersInvalidate),
    // random hex texts share no shingles: no edges, so the bucketed write
    // of the empty frame opens no file
    StageCase("clusters over a corpus with no near-dups: the empty stage adopts across sessions",
      "clusters", "documents", PipelineQueries.stageClusters, emptyBucketedJoin,
      _.orderBy("doc_id").limit(8)
        .withColumn("text", expr("repeat(sha2(cast(doc_id as string), 512), 4)")),
      empty = true),
    StageCase("multimodal pair edges: fingerprint match adopts across sessions without a decode pass",
      "mm_pairs", "documents", MultimodalQueries.stageMmPairs),
    StageCase("IVF centroid index: fingerprint match adopts across sessions; vector change invalidates",
      "ivf_cent", "embeddings", SimilarityQueries.stageIvfCentroids,
      (stage, table, corpus) => {
        assert(spark.table(table).collect().forall(_.getSeq[Double](1).nonEmpty),
          "every staged centroid is non-empty")
        rebuildsAfter(stage, table)(perturbVector(corpus))
      }),
    StageCase("kmeans assignment table: fingerprint match adopts across sessions without a Lloyd pass",
      "km_asg", "embeddings", SimilarityQueries.stageKmeansAssign),
    StageCase("SCALED (three-level) assignment table: adopts on match, re-fits when the corpus grows",
      "km2l_asg", "embeddings", SimilarityQueries.stageKmeansScaledAssign, km2lInvalidate),
    StageCase("IVF-PQ index: one kind-tagged artifact adopts across sessions without an index pass",
      "pq_index", "embeddings", SimilarityQueries.stagePqIndex, pqInvalidate))

  for (r <- families)
    test(r.name) {
      val corpus = corpusCopy(r.input, s"stage_${r.family}", r.edit)
      val table = s"graft_${r.family}_" + math.abs(corpus.hashCode).toString
      val stage = () => r.build(spark, corpus)
      try {
        buildThenAdopt(stage, table, r.empty)
        r.checks(stage, table, corpus)
      } finally StagedTable.drop(spark, table)
    }

  test("cross-artifact adoption: a valid scaled PQ index supplies the fit assignment with ZERO new fits (SCALING r10)") {
    val corpus = corpusCopy("embeddings", "stage_xadopt")
    val kmTable = "graft_km2l_asg_" + math.abs(corpus.hashCode).toString
    val pqTable = "graft_pqs_index_" + math.abs(corpus.hashCode).toString
    try {
      // the PQ-scaled serve index (one fit inside its builder), adopted
      buildThenAdopt(() => SimilarityQueries.stagePqIndexScaled(spark, corpus), pqTable)
      val members = spark.table(pqTable).filter(col("kind") === "member")
        .collect().map(r => r.getLong(4) -> r.getLong(2)).toMap
      assert(members.size == 500, "pq index carries the full membership")

      // fresh process, km2l stage absent: its builder must ADOPT the pq
      // index's member rows, not run a second three-level fit
      StagedTable.resetCache()
      StagedTable.drop(spark, kmTable)
      val fitsBefore = SimilarityQueries.scaledFitsComputed
      val asg = spark.table(SimilarityQueries.stageKmeansScaledAssign(spark, corpus))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(SimilarityQueries.scaledFitsComputed == fitsBefore,
        "a valid PQ stage means the km2l build runs zero fits")
      assert(asg == members, "adopted assignment is byte-identical to the index membership")
    } finally Seq(kmTable, pqTable).foreach(StagedTable.drop(spark, _))
  }
}
