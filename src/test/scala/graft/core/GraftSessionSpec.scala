package graft.core

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{SparkEntry, SparkSpec}

import scala.jdk.CollectionConverters._

/** The session factory's scale configuration must be executed code, not a
  * comment: every entry point (Bench / Verify / Explain / TestSession) builds
  * its session here, so the RocksDB state store the factory configures is
  * what every streaming spec in this suite actually runs on, and its
  * code-generation confs are what every query in it compiles under. This
  * spec pins both down explicitly.
  */
class GraftSessionSpec extends SparkSpec {

  test("factory configures the RocksDB state store and the provider actually loads") {
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))

    // drive one stateful query end-to-end: dropDuplicates keeps per-key
    // state, so a green run means the RocksDB provider loaded its native
    // library and served get/put — not just that the conf string is set
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1, 2, 2, 3, 3, 3)
    val q = in.toDF().dropDuplicates("value")
      .writeStream.format("memory").queryName("rocksdb_dd").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM rocksdb_dd").count() == 3)
      val stateMetrics = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(_.customMetrics.keySet().asScala)
      assert(stateMetrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state operator metrics should be RocksDB's, got: $stateMetrics")
    } finally q.stop()
  }

  test("factory sizes the codegen cache and drops stage ids from class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a query run a second time in the same session compiles nothing") {
    def run(): Unit = SparkEntry.queries("tx_bm25")(spark, sf("sf0.001"))
      .write.format("noop").mode("overwrite").save()
    run()
    spark.catalog.clearCache()
    // between the runs, compile more classes than Spark's default cache of
    // 100 holds, as the other queries of a long-lived process would; the
    // literals are new to this JVM, so each one misses
    val lit = System.nanoTime() % 1000000007L
    val (_, between) = Codegen.counting((1 to 60).foreach { i =>
      spark.range(1).selectExpr(s"id * ${lit + i} AS x").collect()
    })
    assert(between > 100, s"only $between classes compiled between the runs")
    val (_, again) = Codegen.counting(run())
    spark.catalog.clearCache()
    assert(again == 0, s"second tx_bm25 run compiled $again classes")
  }

  test("one pipeline under two stage ids compiles one whole-stage class") {
    // a literal no other plan in this JVM holds, so the first stage misses
    val lit = System.nanoTime() % 1000000007L
    val pipeline = spark.range(0, 1000, 1, 2)
      .selectExpr(s"id * 7919 + $lit AS x").filter("x % 3 = 1")
      .queryExecution.sparkPlan
    def stage(id: Int) = WholeStageCodegenExec(pipeline)(codegenStageId = id)
    assert(stage(1).doCodeGen()._2 == stage(2).doCodeGen()._2)
    val (rows1, first) = Codegen.counting(stage(1).executeCollect().length)
    val (rows2, second) = Codegen.counting(stage(2).executeCollect().length)
    assert(rows1 == rows2)
    assert(first > 0, "the first stage should have compiled its class")
    assert(second == 0, s"the same pipeline as stage 2 compiled $second classes")
  }
}
