package graft

import graft.core.Codegen

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A string as a JSON literal, through [[graft.core.Json]]: quote,
    * backslash and ALL control chars (<0x20) escaped — a tab or CR in
    * builder-authored SQL would otherwise make the driver's json.load fail
    * and silently zero the round's correctness (exactly the r9
    * empty-artifact failure; red-teamed in CorrectnessGateSpec against the
    * real oracle corpus). */
  def jsonEscape(s: String): String = graft.core.Json.write(s)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = graft.core.GraftSession.cores
    val spark = graft.core.GraftSession.builder(cpus, "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // input-derived shuffle partitions (no-op at the driver SFs; the point
    // is that a big-slice verify never needs a hand lever — VERDICT r7 #3)
    graft.core.GraftSession.autoTuneShuffle(spark, sfDir, cpus)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    selected.foreach { case (name, fn) =>
      val c0 = Codegen.compiles
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      System.err.println(Codegen.line(Codegen.compiles - c0, s"query=$name"))
      // queries that persist intermediates (dedup/BPE/bm25 chains) must
      // not accumulate cached RDDs across a 100+-query session (the Bench
      // contract, same reason)
      spark.catalog.clearCache()
    }
    graft.core.Json.writeFile(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.isEmpty || only(k) })
    System.err.println(Codegen.line(Codegen.compiles, "run"))
    spark.stop()
  }
}
