package graft.llm

import java.nio.file.{Files, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

class StreamingSketchSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  test("Misra-Gries heavy hitter survives across batches with a bounded-state sketch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[DocEvent]
    val k = 8
    val out = StreamingSketch.heavyHitters(in.toDS(), k = k, shards = 4)
    val q = out.writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()

    // the heavy token appears 30+20=50 times across two batches; decoys are
    // unique (frequency 1) so they churn through the sketch's eviction
    in.addData(DocEvent(1L, 1000L, Seq.fill(30)("heavyzz").mkString(" ")))
    in.addData((0 until 20).map(i => DocEvent(10L + i, 2000L, s"decoyaa$i decoybb$i")): _*)
    q.processAllAvailable()
    in.addData(DocEvent(2L, 3000L, Seq.fill(20)("heavyzz").mkString(" ")))
    in.addData((20 until 40).map(i => DocEvent(50L + i, 4000L, s"decoyaa$i decoybb$i")): _*)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("hh_out").as[StreamingSketch.TokenHH].collect()
    // read the latest emission per shard (the documented consumer pattern)
    val latest = rows.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
      val maxVer = rs.map(_.ver).max; rs.filter(_.ver == maxVer).toSeq
    }
    val hh = latest.filter(_.token == "heavyzz")
    assert(hh.size == 1, s"heavy hitter tracked exactly once: $latest")
    // MG guarantee: est ∈ [true − n_shard/k, true]; the heavy token's
    // shard saw ≤ 50 + 80/4-ish decoy tokens, so the bound is loose here
    val est = hh.head.est
    assert(est <= 50, s"estimate never exceeds the true count: $est")
    assert(est >= 50 - (50 + 40) / k, s"estimate within the n/k envelope: $est")
    // bounded state: no shard's sketch ever exceeds k entries
    val perShardSizes = rows.groupBy(r => (r.shard, r.ver)).values.map(_.size)
    assert(perShardSizes.forall(_ <= k), s"sketch capped at k=$k entries")
    // the consumer helper ranks the heavy token first globally
    val top = StreamingSketch.topTokens(spark.table("hh_out"), 3).collect()
    assert(top.head.getString(0) == "heavyzz", s"helper ranks the heavy hitter first: ${top.toSeq}")
  }

  test("bottom-k stream sample equals the batch bottom-k regardless of arrival order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[DocEvent]
    val k = 4
    val out = StreamingSketch.sampleStream(in.toDS(), k = k, shards = 2)
    val q = out.writeStream.format("memory").queryName("bk_out")
      .outputMode("update").start()

    // 40 docs, deliberately fed out of order across three batches
    val ids = (0L until 40L)
    in.addData(ids.filter(_ % 3 == 1).map(i => DocEvent(i, 1000L, "x")): _*)
    q.processAllAvailable()
    in.addData(ids.filter(_ % 3 == 2).reverse.map(i => DocEvent(i, 2000L, "x")): _*)
    q.processAllAvailable()
    in.addData(ids.filter(_ % 3 == 0).map(i => DocEvent(i, 3000L, "x")): _*)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("bk_out").as[StreamingSketch.SampleRow].collect()
    val latest = rows.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
      val maxVer = rs.map(_.ver).max; rs.filter(_.ver == maxVer).toSeq
    }
    // global size-k sample = bottom-k of the union of shard emissions
    val got = latest.map(r => (r.h, r.doc_id)).sorted.take(k).map(_._2).toSet
    // batch reference: same hash over ALL docs, k smallest — a pure
    // function of the doc SET, so the stream must reproduce it exactly
    val want = ids.map(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(s"samp:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString, i))
      .sorted.take(k).map(_._2).toSet
    assert(got == want, s"stream sample $got != batch bottom-k $want")
  }

  test("bottom-k sample state survives a query RESTART from checkpoint") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.types._
    val in = tmpDir("bk_in"); val out = tmpDir("bk_sink").resolve("data")
    val ckpt = tmpDir("bk_ckpt")
    val k = 4
    val ids = (0L until 40L)

    def writeFile(name: String, docs: Seq[Long]): Unit =
      docs.map(i => DocEvent(i, 1000L, "x")).toDF()
        .coalesce(1).write.parquet(in.resolve(name).toString)

    def run(): Unit = {
      val src = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("timestamp", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString + "/*/")
        .as[DocEvent]
      val q = StreamingSketch.sampleStream(src, k = k, shards = 2)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingSketch.SampleRow], _: Long) =>
          df.write.mode("append").parquet(out.toString): Unit
        }
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // run 1 sees the first half; run 2 resumes from the checkpoint and
    // must fold the second half into the RECOVERED bottom-k state
    writeFile("f1", ids.filter(_ < 20L))
    run()
    writeFile("f2", ids.filter(_ >= 20L))
    run()

    val rows = spark.read.parquet(out.toString).as[StreamingSketch.SampleRow].collect()
    val latest = rows.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
      val maxVer = rs.map(_.ver).max; rs.filter(_.ver == maxVer).toSeq
    }
    val got = latest.map(r => (r.h, r.doc_id)).sorted.take(k).map(_._2).toSet
    val want = ids.map(i => (java.security.MessageDigest.getInstance("MD5")
        .digest(s"samp:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString, i))
      .sorted.take(k).map(_._2).toSet
    assert(got == want, s"post-restart sample $got != batch bottom-k $want")
  }

  test("streaming KMV estimate equals the batch sketch on the same token set, any arrival order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[DocEvent]
    val k = 16
    val out = StreamingSketch.kmvStream(in.toDS(), k = k, shards = 4)
    val q = out.writeStream.format("memory").queryName("kmv_out")
      .outputMode("update").start()

    // 120 distinct tokens fed out of order across three batches, with
    // heavy repetition (distinct-ness is what the sketch measures)
    val toks = (0 until 120).map(i => s"kw$i")
    def doc(id: Long, ts: Long, ws: Seq[String]) = DocEvent(id, ts, ws.mkString(" "))
    in.addData(doc(1L, 1000L, toks.filter(_.hashCode % 3 == 1) ++ toks.take(5)))
    q.processAllAvailable()
    in.addData(doc(2L, 2000L, toks.filter(_.hashCode % 3 == 2).reverse))
    q.processAllAvailable()
    in.addData(doc(3L, 3000L, toks.filter(_.hashCode % 3 == 0) ++ toks.takeRight(7)))
    q.processAllAvailable()
    q.stop()

    val est = StreamingSketch.kmvEstimate(spark.table("kmv_out"), k)
    // batch twin: same hash key, global bottom-k over the full token set
    val kth = toks.toDF("token")
      .select(expr("md5_long60(concat('kmv:', token))").as("h"))
      .distinct().orderBy("h").limit(k)
      .collect().map(_.getLong(0)).max
    val want = math.round((k - 1) * 1152921504606846976.0 / kth)
    assert(est == want, s"streaming estimate $est != batch estimate $want")
    // the estimate is in the right ballpark of the true 120 (k=16 is a
    // coarse sketch; this pins magnitude, determinism is the line above)
    assert(est > 30 && est < 500, s"estimate $est implausible for 120 distinct")
    // bounded state: no (shard, ver) emission ever exceeds k rows
    val sizes = spark.table("kmv_out").as[StreamingSketch.KmvRow].collect()
      .groupBy(r => (r.shard, r.ver)).values.map(_.size)
    assert(sizes.forall(_ <= k), "per-shard sketch capped at k hashes")
  }
}
