package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.LlmHash

class FunctionsSpec extends SparkSpec {

  /** One self-checking call per [[GraftFunctions.table]] entry. */
  private val probes = Map(
    "vector_dot" -> "vector_dot(array(1.0D,2.0D), array(3.0D,4.0D)) = 11.0D",
    "vector_l2q" -> "vector_l2q(array(1L,5L), array(3L,2L)) = 13L",
    "md5_long60" -> "md5_long60('abc') > 0L",
    "rolling_hash" -> "size(rolling_hash('abcdefghij', 8)) = 3",
    "minhash_sigs" -> "size(minhash_sigs(rolling_hash('abcdefghij', 5))) = 16",
    "simhash_sig" -> "simhash_sig(rolling_hash('abcdefghij', 5)) IS NOT NULL",
    "hash_hist" -> "hash_hist(array(5L, 7L, 5L))[5L] = 2L",
    "md5_grams" -> "md5_grams('abcdefghi', 8) = array(md5_long60('abcdefgh'), md5_long60('bcdefghi'))",
    "winnow" -> "array_sort(winnow(array(5L, 3L, 9L, 1L), 2)) = array(1L, 3L)",
    "vector_quantize" -> "vector_quantize(array(CAST(0.5 AS FLOAT)), 10) = array(5L)",
    "sorted_intersect_count" -> "sorted_intersect_count(array(1L,3L,7L), array(3L,5L,7L)) = 2",
    "bloom_might_contain" -> "bloom_might_contain(CAST(NULL AS BINARY), 42L) IS NULL")

  private def assertResolvesTable(s: SparkSession): Unit = {
    assert(probes.keySet == GraftFunctions.table.map(_._1.funcName).toSet)
    for ((id, _, _) <- GraftFunctions.table)
      assert(s.sql(s"SELECT ${probes(id.funcName)}").head.getBoolean(0), id.funcName)
  }

  /** Runs `body` on a fresh session over the suite's SparkContext, then
    * makes the suite's session active again. */
  private def withForeign(b: SparkSession.Builder)(body: SparkSession => Unit): Unit = {
    val orig = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try body(b.master(orig.sparkContext.master).getOrCreate())
    finally { SparkSession.setActiveSession(orig); SparkSession.setDefaultSession(orig) }
  }

  test("GraftExtensions resolves every engine function without register() (cluster parity)") {
    // the spark.sql.extensions deploy path must expose the whole table
    withForeign(SparkSession.builder().withExtensions(new GraftExtensions))(assertResolvesTable)
  }

  test("register installs every engine function on a session built elsewhere") {
    withForeign(SparkSession.builder()) { bare =>
      assert(!bare.sessionState.functionRegistry.functionExists(GraftFunctions.table.head._1))
      GraftFunctions.register(bare)
      assertResolvesTable(bare)
    }
  }

  test("a GraftSession-built session resolves every function with no register call") {
    assertResolvesTable(spark)
    // a sibling session gets its registry from the extensions, not a copy
    // of this one's, so nothing registered earlier can stand in for them
    assertResolvesTable(spark.newSession())
  }

  test("register on a GraftSession-built session replaces no function") {
    val registry = spark.sessionState.functionRegistry
    def installed = GraftFunctions.table.map { case (id, _, _) =>
      (id.funcName, registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get)
    }
    val before = installed
    GraftFunctions.register(spark)
    for (((name, info, build), (_, info0, build0)) <- installed.zip(before))
      assert((info eq info0) && (build eq build0), s"$name was replaced")
  }

  test("vector_quantize matches the transform-lambda form, incl. negative halves") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random floats plus planted .5-tie values in BOTH signs — the exact
    // points where Math.round (floor(x+0.5)) would diverge from Spark's
    // round() HALF_UP (half away from zero)
    val rows = Seq.fill(200)(
      Seq.fill(64)(rnd.nextFloat() * 2 - 1) ++ Seq(0.00005f, -0.00005f, 0.03125f, -0.03125f))
    val df = rows.toDF("a")
      .withColumn("native", expr("vector_quantize(a, 10000)"))
      .withColumn("hof", expr("transform(a, v -> cast(round(cast(v as double) * 10000, 0) as bigint))"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0,
      "native quantize must equal the interpreted round() lambda elementwise")
    // double-array input path
    val dd = Seq(Seq(1.00005, -1.00005, 0.0, 312.5 / 10000)).toDF("a")
      .withColumn("native", expr("vector_quantize(a, 10000)"))
      .withColumn("hof", expr("transform(a, v -> cast(round(v * 10000, 0) as bigint))"))
    assert(dd.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("vector_quantize JDK-8010430 tie region: floor(x+0.5) would round the wrong way") {
    import spark.implicits._
    // 0.49999999999999994 is the largest double BELOW 0.5: adding 0.5 to it
    // rounds (in binary) to exactly 1.0, so the floor(x+0.5) shortcut says 1
    // while HALF_UP on the true value says 0. Planted in both signs, next to
    // genuine .5 ties which must still round away from zero.
    val dd = Seq(Seq(0.49999999999999994, -0.49999999999999994,
      0.5, -0.5, 2.5, -2.5, 1.9999999999999998)).toDF("a")
      .withColumn("native", expr("vector_quantize(a, 1)"))
      .withColumn("hof", expr("transform(a, v -> cast(round(v, 0) as bigint))"))
    val row = dd.select("native", "hof").head
    assert(row.getSeq[Long](0) == Seq(0L, 0L, 1L, -1L, 3L, -3L, 2L),
      s"exact tie handling: ${row.getSeq[Long](0)}")
    assert(row.getSeq[Long](0) == row.getSeq[Long](1),
      "native must agree with Spark round() on the pathological values")
  }

  test("literal-window-arg functions reject column / NULL arguments at analysis time") {
    import spark.implicits._
    val df = Seq(("abcdef", 3)).toDF("s", "n")
    // a column second arg is not foldable — must be a named analysis error,
    // not a NullPointerException from eval() in the registry builder
    for (sql <- Seq("rolling_hash(s, n)", "md5_grams(s, n)", "vector_quantize(array(1.0D), n)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.selectExpr(sql).collect()
      }
      assert(e.getMessage.contains("foldable"), s"$sql: ${e.getMessage}")
      assert(e.getMessage.contains(sql.takeWhile(_ != '(')), s"names the function: ${e.getMessage}")
    }
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("winnow(array(1L), CAST(NULL AS INT))").collect()
    }
    assert(eNull.getMessage.contains("winnow"), s"names the function: ${eNull.getMessage}")
  }

  test("vector_dot (codegen Expression) matches the interpreted HOF form bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(100)((Seq.fill(64)(rnd.nextDouble() * 2 - 1),
      Seq.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .withColumn("native", expr("vector_dot(a, b)"))
      .withColumn("hof", expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
    val mismatches = df.filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0, "sequential sum must be identical to the lambda fold")
  }

  test("vector_l2q (codegen Expression) matches the interpreted HOF form exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // quantized-embedding regime: components in the ±10^4·|x| envelope the
    // pqScale quantization produces
    val rows = Seq.fill(100)((Seq.fill(64)(rnd.nextLong() % 20000L),
      Seq.fill(64)(rnd.nextLong() % 20000L)))
    val df = rows.toDF("a", "b")
      .withColumn("native", expr("vector_l2q(a, b)"))
      .withColumn("hof", expr(
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), cast(0 as bigint), (acc, v) -> acc + v)"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    // nulls and ragged lengths: common-prefix sum, null-propagating
    val edge = Seq(
      (Some(Seq(1L, 5L)), Some(Seq(3L, 2L, 99L))), // (1-3)^2 + (5-2)^2 = 13
      (None, Some(Seq(1L)))).toDF("a", "b")
      .withColumn("d", expr("vector_l2q(a, b)"))
    val got = edge.select("d").collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == Seq(Some(13L), None))
  }

  test("vector_dot handles nulls and ragged lengths") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0, 99.0))), // common prefix: 1*3+2*4
      (None, Some(Seq(1.0)))).toDF("a", "b")
      .withColumn("d", expr("vector_dot(a, b)"))
    val got = df.select("d").collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(11.0), None))
  }

  test("md5_long60 equals the composed conv(substring(md5)) form on arbitrary strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val strs = Seq("", "a", "spark", "こんにちは") ++
      Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    val df = strs.toDF("s")
      .withColumn("fast", expr("md5_long60(s)"))
      .withColumn("ref", expr("cast(conv(substring(md5(s),1,15),16,10) as bigint)"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("rolling_hash O(n) pass matches the direct polynomial form") {
    val s = "the quick brown fox jumps over the lazy dog"
    val got = RollingHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 8).toLongArray().toSeq
    val expected = (0 to s.length - 8).map { i =>
      s.substring(i, i + 8).foldLeft(0L)((h, c) => (h * RollingHash.B + c) % RollingHash.P)
    }
    assert(got == expected)
    assert(RollingHash.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("short"), 8).numElements() == 0)
  }

  test("rolling_hash byte fast-path and non-ASCII fallback agree with the char form") {
    // the ASCII path reads UTF8String bytes in place; any multi-byte char
    // must route to the decoded UTF-16 path — same polynomial either way
    for (s <- Seq("plain ascii text, quite boring", "héllo wörld ünïcode mixé", "日本語テキストのサンプルです")) {
      val got = RollingHash.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 5).toLongArray().toSeq
      val expected = (0 to s.length - 5).map { i =>
        s.substring(i, i + 5).foldLeft(0L)((h, c) => (h * RollingHash.B + c) % RollingHash.P)
      }
      assert(got == expected, s"mismatch for '$s'")
    }
  }

  test("minhash_sigs/simhash_sig row-local expressions match the explode+aggregate forms") {
    import spark.implicits._
    val P = LlmHash.P
    val rnd = new scala.util.Random(5)
    // small alphabet forces heavy gram collisions — the regime where a
    // wrong min/sum fold would diverge
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(30 + rnd.nextInt(100))("abcde"(rnd.nextInt(5))).mkString))
      .toDF("doc_id", "text")
      .filter(length(col("text")) >= 5)
    val sh = docs
      .withColumn("h0", explode(expr("rolling_hash(text, 5)")))
      .select(col("doc_id"), expr(s"(h0 * h0 + 987654321) % $P").as("hm"))
    // minhash: 16 min-aggregates over exploded grams vs the one-pass fold
    val aggMins = (0 until 16).map(s => expr(s"min(${LlmHash.affine(s, "hm")})").as(s"m$s"))
    val viaAgg = sh.groupBy("doc_id").agg(aggMins.head, aggMins.tail: _*)
    val viaExpr = docs
      .withColumn("sigs", expr("minhash_sigs(rolling_hash(text, 5))"))
      .select(col("doc_id") +:
        (0 until 16).map(i => element_at(col("sigs"), i + 1).as(s"m$i")): _*)
    assert(viaExpr.except(viaAgg).isEmpty && viaAgg.except(viaExpr).isEmpty)
    // simhash: 60 sum-aggregates + sign packing vs the one-pass fold
    val ws = (0 until 60).map(i =>
      expr(s"sum(CASE WHEN ${LlmHash.affine(16 + i, "hm")} % 2 = 1 THEN 1 ELSE -1 END)").as(s"w$i"))
    val simExpr = (0 until 60)
      .map(i => s"(CASE WHEN w$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val simViaAgg = sh.groupBy("doc_id").agg(ws.head, ws.tail: _*)
      .select(col("doc_id"), expr(s"CAST($simExpr AS BIGINT)").as("simhash"))
    val simViaExpr = docs
      .select(col("doc_id"), expr("simhash_sig(rolling_hash(text, 5))").as("simhash"))
    assert(simViaExpr.except(simViaAgg).isEmpty && simViaAgg.except(simViaExpr).isEmpty)
  }

  test("hash_hist row-local histogram matches the explode+groupBy form") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // heavy-repetition regime: small alphabet → many duplicate grams per doc
    val docs = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(20 + rnd.nextInt(200))("abcd"(rnd.nextInt(4))).mkString))
      .toDF("doc_id", "text")
      .filter(length(col("text")) >= 3)
    val viaHist = docs
      .select(col("doc_id"), explode(expr("hash_hist(rolling_hash(text, 3))")).as(Seq("h", "c")))
    val viaAgg = docs
      .select(col("doc_id"), explode(expr("rolling_hash(text, 3)")).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    assert(viaHist.except(viaAgg).isEmpty && viaAgg.except(viaHist).isEmpty)
    // empty-array input folds to an empty map (explode drops the row)
    assert(spark.sql("SELECT map_keys(hash_hist(array()))").head.getSeq[Long](0).isEmpty)
  }

  test("md5_grams matches md5_long60(substring) per position, incl. short docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val strs = Seq("", "abc", "exactly8", "ünïcode mixed ascii tail") ++
      Seq.fill(100)(rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    val df = strs.toDF("s")
      .withColumn("fast", expr("md5_grams(s, 8)"))
      .withColumn("ref", expr(
        "transform(sequence(1, greatest(length(s) - 7, 1)), i -> md5_long60(substring(s, i, 8)))"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("winnow matches the explode + window-min + distinct form") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // duplicate-heavy values force real dedup; lengths straddle the window
    val rows = Seq.tabulate(80)(i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(60))(rnd.nextInt(20).toLong)))
    val df = rows.toDF("id", "g")
    val viaExpr = df.select(col("id"), explode(expr("winnow(g, 16)")).as("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos").rowsBetween(0, 15)
    val viaWindow = df
      .select(col("id"), size(col("g")).as("n"), posexplode(col("g")).as(Seq("pos", "h")))
      .withColumn("fp", min("h").over(w))
      .filter(col("pos") <= greatest(col("n") - 16, lit(0))) // 0-based pos
      .select("id", "fp").distinct()
    assert(viaExpr.except(viaWindow).isEmpty && viaWindow.except(viaExpr).isEmpty)
    // empty input -> empty fingerprint set
    assert(spark.sql("SELECT size(winnow(array(), 16))").head.getInt(0) == 0)
  }

  test("MinHashAggregator computes per-seed minima with a correct distributed merge") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val grams = Seq.fill(500)(rnd.nextLong().abs % LlmHash.P)
    // expected: plain-Scala fold over the whole multiset
    val expected = (0 until 16).map { s =>
      grams.map(h => (LlmHash.A(s) * h + LlmHash.B(s)) % LlmHash.P).min
    }
    // many partitions force partial buffers + merge on the way to the result
    val minhash = udaf(new MinHashAggregator(16))
    val got = grams.toDF("h").repartition(13)
      .agg(minhash(col("h")).as("sig"))
      .as[Array[Long]].head()
    assert(got.toSeq == expected)
  }
}
