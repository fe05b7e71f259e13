package graft.perf

import java.nio.file.Files

/** Pinning mode (`--pin <dir>`): runs every query of [[Workloads.pinned]]
  * once, writes its output as parquet under `<dir>/<query>` plus
  * `<dir>/oracle_sql.json` (the layout scripts/selfcheck.py compares
  * against DuckDB), and its [[ChecksumSink]] fingerprint as a
  * `name rows hash` line of `<dir>/fingerprints.tsv`. graftperf/pin.py
  * keeps the lines of the queries whose output matched the oracle. */
object Pin {
  def run(o: Opts): Unit = {
    val dir = o.pinOut.get
    Files.createDirectories(dir)
    val spark = Setup.session(o)
    val queries = Workloads.resolve(Workloads.pinned)
    val lines = queries.map { q =>
      q.fn(spark, o.data).write.mode("overwrite").parquet(dir.resolve(q.name).toString)
      spark.catalog.clearCache()
      q.fn(spark, o.data).write.format(classOf[ChecksumSink].getName)
        .option("key", q.name).mode("overwrite").save()
      spark.catalog.clearCache()
      val f = ChecksumSink.take(q.name).get
      println(s"pinned ${q.name} ${f.rows} ${f.hash}")
      s"${q.name} ${f.rows} ${f.hash}"
    }
    Files.write(dir.resolve("fingerprints.tsv"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val oracle = queries.flatMap(q => q.oracle.map(q.name -> _))
    Files.write(dir.resolve("oracle_sql.json"), Main.json.writeValueAsBytes(oracle.toMap))
    spark.stop()
  }
}
