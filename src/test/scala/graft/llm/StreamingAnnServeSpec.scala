package graft.llm

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Tables

class StreamingAnnServeSpec extends SparkSpec {

  test("streamed query batches equal the batch serve against the same staged index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // a private corpus dir so the staged index belongs to this spec
    val dir = Files.createTempDirectory("ann_serve")
    dir.toFile.deleteOnExit()
    val corpus = dir.toString
    Tables.embeddings(spark, sf("sf0.001"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    // external queries: corpus vectors with ids far outside the corpus id
    // space (no accidental vec_id <> query_id self-exclusion)
    val qvecs = Tables.embeddings(spark, corpus)
      .filter(col("vec_id") % 7 === 0).limit(6)
      .select(col("vec_id") + 1000000L, col("embedding"))
      .as[(Long, Array[Float])].collect()
    val events = qvecs.zipWithIndex.map { case ((id, v), i) =>
      QueryVec(id, 1000L * i, v) }

    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val mem = MemoryStream[QueryVec]
    val q = StreamingAnnServe.serve(mem.toDS(), corpus) { df =>
      df.collect().foreach(r => results.add((r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    val (b1, b2) = events.splitAt(3)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    // batch twin: the same queries through pqServeQueries on the same index
    val idx = spark.table(SimilarityQueries.stagePqIndex(spark, corpus))
    val queries = events.toSeq.toDF("query_id", "timestamp", "embedding")
      .select(col("query_id"),
        expr(s"vector_quantize(embedding, ${SimilarityQueries.pqScale})").as("xq"))
    val want = SimilarityQueries.pqServeQueries(spark, corpus,
        idx.filter(col("kind") === "cb").select("s", "cid", "carr"),
        idx.filter(col("kind") === "code").select("vec_id", "s", "code"),
        idx.filter(col("kind") === "ccent").select("label", "carr"),
        queries, selfExclude = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSet
    assert(got == want, s"stream-served ${got.size} vs batch ${want.size}")
    assert(got.map(_._1) == events.map(_.query_id).toSet,
      "every streamed query got its top-k")
    val table = "graft_pq_index_" + math.abs(corpus.hashCode).toString
    graft.core.StagedTable.drop(spark, table)
  }

  test("an external query id colliding with a corpus vec_id does not drop that vector") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("ann_serve_collide")
    dir.toFile.deleteOnExit()
    val corpus = dir.toString
    Tables.embeddings(spark, sf("sf0.001"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    // pick a corpus vector WHOSE OWN CELL IS ITS NEAREST COARSE CENTROID
    // (so the single-probe serve actually visits the cell holding it);
    // stream a query whose embedding IS that vector and whose id COLLIDES
    // with its vec_id. The near-zero self-match must appear in the
    // results: an external query is not a corpus member, so the id
    // collision must not silently exclude the nearest vector.
    val idxTable = SimilarityQueries.stagePqIndex(spark, corpus)
    val ccent = spark.table(idxTable).filter(col("kind") === "ccent")
      .select(col("label").as("clabel"), col("carr"))
    val victim = Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("label"), col("embedding"),
        expr(s"vector_quantize(embedding, ${SimilarityQueries.pqScale})").as("xq"))
      .crossJoin(broadcast(ccent))
      .withColumn("dist", expr("vector_l2q(xq, carr)"))
      .groupBy("vec_id", "label")
      .agg(min(org.apache.spark.sql.functions.struct(col("dist"), col("clabel"))).as("m"))
      .filter(col("m.clabel") === col("label"))
      .orderBy("vec_id")
      .select(col("vec_id"), col("label"))
      .as[(Long, Int)].head()
    val victimVec = Tables.embeddings(spark, corpus)
      .filter(col("vec_id") === victim._1)
      .select(col("embedding")).as[Array[Float]].head()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val mem = MemoryStream[QueryVec]
    val q = StreamingAnnServe.serve(mem.toDS(), corpus) { df =>
      df.collect().foreach(r => results.add((r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    mem.addData(QueryVec(victim._1, 0L, victimVec))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSet
    assert(got.exists { case (qid, nid, _) => qid == victim._1 && nid == victim._1 },
      s"colliding-id query lost its own corpus vector: $got")
    val table = "graft_pq_index_" + math.abs(corpus.hashCode).toString
    graft.core.StagedTable.drop(spark, table)
  }

  test("annIndexStream: exactly-once cell-partitioned delta across an injected failure, batch-identical routing") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    graft.functions.GraftFunctions.register(spark)
    // private corpus: the staged centroid table belongs to this spec
    val dir = Files.createTempDirectory("ann_maint")
    dir.toFile.deleteOnExit()
    val corpus = dir.toString
    Tables.embeddings(spark, sf("sf0.001"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    // "new" corpus vectors: reused embeddings under shifted ids, 4 input
    // files consumed one per micro-batch
    val in = Files.createTempDirectory("ann_maint_in")
    val newVecs = Tables.embeddings(spark, sf("sf0.001")).limit(40)
      .select((col("vec_id") + 100000L).as("vec_id"),
        (col("vec_id") * 1000L).as("timestamp"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
    newVecs.grouped(10).zipWithIndex.foreach { case (g, f) =>
      val staging = in.resolve(s"staging_$f")
      g.toSeq.toDF("vec_id", "timestamp", "embedding")
        .coalesce(1).write.parquet(staging.toString)
      val part = staging.toFile.listFiles().map(_.toPath)
        .find(_.toString.endsWith(".parquet")).get
      val dest = in.resolve(s"f$f.parquet")
      Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 60000L))
    }
    val out = Files.createTempDirectory("ann_maint_out").resolve("delta")
    val ckpt = Files.createTempDirectory("ann_maint_ckpt").toString

    graft.streaming.FailingMapper.reset()
    def start() = {
      import org.apache.spark.sql.types._
      val src = spark.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("timestamp", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString + "/f*.parquet")
        .as[VecEvent]
      val vecs = graft.streaming.FailingMapper(src)(_.vec_id == 100015L)
      StreamingAnnServe.annIndexStream(vecs, corpus, out.toString, ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    val q1 = start()
    intercept[Exception] { q1.awaitTermination() }
    assert(graft.streaming.FailingMapper.tripped.get, "failure should have been injected")
    val q2 = start() // same checkpoint: failed batch replays, commits once
    q2.awaitTermination()

    // exactly-once through the commit log, cell directory layout on disk
    assert(Files.exists(out.resolve("_spark_metadata")), "commit log present")
    val cellDirs = out.toFile.listFiles().map(_.getName).filter(_.startsWith("cell=")).toSet
    assert(cellDirs.nonEmpty, "cell-partitioned layout")
    val got = spark.read.parquet(out.toString)
      .select("vec_id", "cell").as[(Long, Int)].collect()
    assert(got.length == 40, s"exactly-once: ${got.length} rows")
    assert(got.map(_._1).toSet == newVecs.map(_._1).toSet)

    // routing parity: the stream's cells equal the batch twin's, rule and
    // tie order included (same staged index artifact)
    val ccent = spark.table(SimilarityQueries.stagePqIndex(spark, corpus))
      .filter(col("kind") === "ccent").select("label", "carr")
    val want = StreamingAnnServe.routeToCells(
        newVecs.toSeq.toDF("vec_id", "timestamp", "embedding"), ccent)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(got.toMap == want, "stream routing must equal the batch twin")
    // ...and the SERVE router (ADVICE r7): the cell a vector ingests into
    // is the cell pqServeQueries would probe for the identical query —
    // argmin quantized-L2 over ccent, (dist, label) tie order
    val serveRoute = newVecs.toSeq.toDF("vec_id", "timestamp", "embedding")
      .select(col("vec_id"),
        expr(s"vector_quantize(embedding, ${SimilarityQueries.pqScale})").as("xq"))
      .crossJoin(broadcast(ccent))
      .withColumn("dist", expr("vector_l2q(xq, carr)"))
      .groupBy("vec_id")
      .agg(min(org.apache.spark.sql.functions.struct(col("dist"), col("label"))).as("m"))
      .select(col("vec_id"), col("m.label").cast("int").as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(got.toMap == serveRoute,
      "ingest routing must equal the serve-path query router")
    // ...and it actually discriminates (the corpus has 10 label cells)
    assert(got.map(_._2).toSet.size > 1, s"cells used: ${got.map(_._2).toSet}")
    val ptable = "graft_pq_index_" + math.abs(corpus.hashCode).toString
    graft.core.StagedTable.drop(spark, ptable)
  }

  test("dirHasDataFiles: the empty-delta steady state is decided by FS metadata, not a Spark job (VERDICT r7 #6)") {
    val d = Files.createTempDirectory("delta_probe")
    d.toFile.deleteOnExit()
    // absent and empty dirs: base-only, cheaply
    assert(!StreamingAnnServe.dirHasDataFiles(spark, d.resolve("absent").toString))
    assert(!StreamingAnnServe.dirHasDataFiles(spark, d.toString))
    // commit-log/bookkeeping contents alone must not count as data
    Files.createDirectory(d.resolve("_spark_metadata"))
    Files.write(d.resolve("_spark_metadata").resolve("0"), "v1".getBytes("UTF-8"))
    Files.write(d.resolve(".part-0.crc"), "x".getBytes("UTF-8"))
    assert(!StreamingAnnServe.dirHasDataFiles(spark, d.toString))
    // one committed data file (cell-partitioned layout) flips it
    Files.createDirectory(d.resolve("cell=3"))
    Files.write(d.resolve("cell=3").resolve("part-00000.parquet"), "bytes".getBytes("UTF-8"))
    assert(StreamingAnnServe.dirHasDataFiles(spark, d.toString))
  }

  test("serveWithDelta: a vector ingested via annIndexStream is searchable before the next index build") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    graft.functions.GraftFunctions.register(spark)
    val dir = Files.createTempDirectory("ann_fresh")
    dir.toFile.deleteOnExit()
    val corpus = dir.toString
    Tables.embeddings(spark, sf("sf0.001"))
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")

    // the fresh vector: an EXACT copy of a corpus vector's embedding under
    // a brand-new id — its quantized L2 to the matching query is 0, so if
    // the delta is consulted it MUST be the top result; if only the base
    // index is consulted it cannot appear at all (not in the PQ codes)
    val seed = Tables.embeddings(spark, corpus)
      .filter(col("vec_id") === 42L)
      .select(col("embedding")).as[Array[Float]].head()
    val freshId = 200001L

    // ingest the fresh vector through the maintenance stream
    val deltaDir = Files.createTempDirectory("ann_fresh_delta").resolve("delta").toString
    val ickpt = Files.createTempDirectory("ann_fresh_ickpt").toString
    val vin = MemoryStream[VecEvent]
    val iq = StreamingAnnServe.annIndexStream(vin.toDS(), corpus, deltaDir, ickpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    vin.addData(VecEvent(freshId, 1000L, seed))
    iq.processAllAvailable()
    iq.stop()

    // serve the matching query WITH the delta: fresh id at adist 0, rank 1
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val qin = MemoryStream[QueryVec]
    val q = StreamingAnnServe.serveWithDelta(qin.toDS(), corpus, deltaDir) { df =>
      df.collect().foreach(r => results.add((r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    qin.addData(QueryVec(1000042L, 1000L, seed))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSeq
    assert(got.exists { case (_, nid, ad) => nid == freshId && ad == 0L },
      s"fresh vector must be served at exact distance 0: $got")

    // …and base-only serve (no delta dir) cannot know it
    val results2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val qin2 = MemoryStream[QueryVec]
    val q2 = StreamingAnnServe.serve(qin2.toDS(), corpus) { df =>
      df.collect().foreach(r => results2.add((r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    qin2.addData(QueryVec(1000042L, 1000L, seed))
    q2.processAllAvailable()
    q2.stop()
    assert(!results2.asScala.exists(_._2 == freshId),
      "base-only serve must not surface the un-indexed vector")

    // absent delta dir: serveWithDelta degrades to base-only, no error
    val results3 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val qin3 = MemoryStream[QueryVec]
    val q3 = StreamingAnnServe.serveWithDelta(qin3.toDS(), corpus,
      dir.resolve("never_written").toString) { df =>
      df.collect().foreach(r => results3.add((r.getLong(0), r.getLong(1), r.getLong(2))))
    }
    qin3.addData(QueryVec(1000042L, 1000L, seed))
    q3.processAllAvailable()
    q3.stop()
    assert(results3.asScala.map(t => (t._1, t._2, t._3)).toSet ==
      results2.asScala.map(t => (t._1, t._2, t._3)).toSet,
      "missing delta dir must serve base-identically")
    Seq("graft_pq_index_", "graft_ivf_cent_").foreach { p =>
      graft.core.StagedTable.drop(spark, s"$p${math.abs(corpus.hashCode)}")
    }
  }
}
