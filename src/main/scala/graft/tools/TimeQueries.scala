package graft.tools

/** Single-run decade-slice timer — the SCALING.md measurement harness for
  * runs too heavy for Bench's min-of-2 (the seventh decade: one
  * sim_components pass at 20M vectors is ~40 min, and a rerun buys noise
  * reduction the decade RATIO doesn't need). Times ONE noop-write
  * execution per named query with the same session/auto-partition setup
  * as Bench, prints one JSON line per query.
  *
  * Usage: runMain graft.tools.TimeQueries <sfDir> <query> [query ...]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession.builder(cpus, "graft-time").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val parts = graft.core.GraftSession.autoTuneShuffle(spark, sfDir, cpus)
    System.err.println(s"[time] $sfDir shuffle partitions = $parts")
    // one small warm lap PER NAMED QUERY for JIT/codegen attribution (the
    // Bench stance). ADVICE r9: the warm dir comes from the env (as in
    // Explain/Bench) rather than a hardcoded host path, and a failed warm
    // lap is announced per-query, not swallowed for the whole list.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    if (!new java.io.File(warmDir).isDirectory)
      System.err.println(s"[time] warm dir $warmDir missing — queries run COLD " +
        "(set SPARK_GRAFT_WARM_DIR); first-lap JIT cost lands in the measurement")
    else names.foreach { name =>
      try {
        graft.SparkEntry.queries(name)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        System.err.println(s"[time] warmup $name failed: $e") }
    }
    names.foreach { name =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(graft.core.Json.write(scala.collection.immutable.ListMap(
        "query" -> name, "sf" -> sfDir, "sec" -> graft.core.Json.decimal(sec, 2))))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
