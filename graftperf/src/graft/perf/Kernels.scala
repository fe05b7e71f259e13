package graft.perf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Cost per row of each SQL function graft registers, called through SQL
  * over a seeded, cached frame: 8-word texts, 32-element double and long
  * vectors, and sorted gram sets. The time includes the scan of
  * the cached frame (`functions.scan_ns_per_row` is that scan alone). */
object Kernels {
  val Rows = 40000
  val Reps = 3

  /** kernel name -> SQL over the frame's columns. */
  val calls: Seq[(String, String)] = Seq(
    "vector_dot" -> "vector_dot(va, vb)",
    "vector_l2q" -> "vector_l2q(la, lb)",
    "md5_long60" -> "md5_long60(text)",
    "rolling_hash" -> "rolling_hash(text, 5)",
    "minhash_sigs" -> "minhash_sigs(rh)",
    "simhash_sig" -> "simhash_sig(rh)",
    "hash_hist" -> "hash_hist(rh3)",
    "md5_grams" -> "md5_grams(text, 8)",
    "winnow" -> "winnow(mg, 16)",
    "vector_quantize" -> "vector_quantize(vf, 1000)",
    "sorted_intersect_count" -> "sorted_intersect_count(sa, sb)",
    "bloom_might_contain" -> "bloom_might_contain(BLOOM, id)")

  val names: Seq[String] =
    calls.map(c => s"functions.${c._1}_ns_per_row") :+ "functions.scan_ns_per_row"

  private val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "data", "column", "join")

  def measure(spark: SparkSession, seed: Long): Map[String, Double] = {
    val ws = words.map(w => s"'$w'").mkString("array(", ",", ")")
    val frame = spark.range(Rows).select(
      expr("id"),
      expr(s"array_join(transform(sequence(1, 8), i -> element_at($ws, " +
        s"1 + cast(pmod(xxhash64($seed, id, i), ${words.size}) as int))), ' ')").as("text"),
      expr(s"transform(sequence(1, 32), i -> cast(pmod(xxhash64($seed, id, i, 1), 2000) as double) / 1000 - 1)").as("va"),
      expr(s"transform(sequence(1, 32), i -> cast(pmod(xxhash64($seed, id, i, 2), 2000) as double) / 1000 - 1)").as("vb"),
      expr(s"transform(sequence(1, 32), i -> pmod(xxhash64($seed, id, i, 3), 2000) - 1000)").as("la"),
      expr(s"transform(sequence(1, 32), i -> pmod(xxhash64($seed, id, i, 4), 2000) - 1000)").as("lb"),
      expr(s"array_sort(array_distinct(transform(sequence(1, 32), i -> pmod(xxhash64($seed, id, i, 5), 256))))").as("sa"),
      expr(s"array_sort(array_distinct(transform(sequence(1, 32), i -> pmod(xxhash64($seed, id, i, 6), 256))))").as("sb"))
      .selectExpr("*", "rolling_hash(text, 5) AS rh", "rolling_hash(lower(text), 3) AS rh3",
        "md5_grams(text, 8) AS mg", "transform(va, x -> cast(x as float)) AS vf")
      .cache()
    frame.count()
    val bloom = spark.range(Rows / 2).stat.bloomFilter("id", Rows / 2, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bloomLit = "X'" + bos.toByteArray.map(b => f"$b%02X").mkString + "'"
    def nsPerRow(sql: String): Double = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      frame.selectExpr(s"$sql AS r").write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / Rows
    })
    nsPerRow("id") // warm the scan path before timing anything
    val out = calls.map { case (n, sql) =>
      s"functions.${n}_ns_per_row" -> nsPerRow(sql.replace("BLOOM", bloomLit))
    }.toMap + ("functions.scan_ns_per_row" -> nsPerRow("id"))
    frame.unpersist()
    out
  }
}
