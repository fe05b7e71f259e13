package graft.core

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** Session factory — the engine's `StreamExecutionEnvironment` analog
  * (SURVEY.md §3). Local mode for tests/bench; on a cluster only
  * master/memory change, the SQL confs hold.
  */
object GraftSession {

  /** Cores of a local session: the `SPARK_GRAFT_CPUS` deployment setting,
    * else every processor the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every session it builds, and every streaming clone of one, resolves
    * the engine's SQL functions from birth ([[GraftExtensions]]). */
  def builder(cores: Int, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      // spark-submit on a real cluster injects spark.master; only default
      // to local[n] when nothing did (hardcoding .master() would silently
      // turn a cluster deploy into a single-JVM run)
      .master(sys.props.getOrElse("spark.master", s"local[$cores]"))
      .appName(appName)
      // default: one shuffle partition per core (right for a single JVM at
      // the test SFs); entry points that know their input dir upgrade this
      // to the input-derived value via [[autoTuneShuffle]] — the lever that
      // used to be the manual SPARK_GRAFT_SHUFFLE_PARTITIONS sweep
      // (SCALING.md "cluster-shape dry run"); the env var remains an
      // explicit override for both
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet is TIMESTAMP(NANOS): read nanos as Long session-wide
      // (Tables.load rebuilds the µs ts column; see Tables.scala)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // streaming state at scale: RocksDB spills keyed state off-heap,
      // replacing the default in-memory HDFS-backed store (SURVEY §4)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // checkpoint cadence parity with the reference's 10s checkpoints is a
      // trigger setting per query, not a session conf
      // generated code: see [[CodegenCacheEntries]]
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf; Spark's default
    * is 100). One `llm_batch` lap alone needs more than 100, so a long-lived
    * process recompiled the same classes lap after lap.
    *
    * Sized from a measurement: one full 194-query `graft.Verify` pass at
    * sf0.01 (4 cores, a cap of 100 000 and stage-id-free class names, so
    * nothing was evicted) compiled 2 069 classes, each one cache entry.
    * The rule is that working set times two, rounded up to a power of two,
    * as headroom for larger inputs and for plans no testdata query makes.
    * Each entry keeps one generated class loaded. */
  val CodegenCacheEntries: Int = 4096

  /** Parquet-compressed input bytes per shuffle partition. 32 MiB of
    * parquet decompresses to ≈128 MiB of row data at the ~4× ratio these
    * tables show, so this targets the classic 128 MiB-per-task rule while
    * measuring what's actually measurable up front (file bytes). */
  val ShuffleTargetBytes: Long = 32L * 1024 * 1024

  /** Input-derived default for `spark.sql.shuffle.partitions`:
    * totalBytes(dataDir) / [[ShuffleTargetBytes]], clamped to
    * [cores, 512] (VERDICT r7 #3 — twice a "super-linear" decade reading
    * was a hand-lever config artifact: a 100M-row slice at 16 partitions
    * put ~6M rows in each per-partition external sort; the auto value
    * reproduces the 128-way cluster-shape probe without the manual
    * SPARK_GRAFT_SHUFFLE_PARTITIONS sweep). At the driver test SFs
    * (≤20 MB) this is exactly the old cores default. Local-FS walk: the
    * decade slices live on this host; on a real cluster the same derivation
    * would read the FileSystem of the input — the clamp and target carry. */
  def autoShufflePartitions(dataDir: String, cores: Int): Int = {
    val bytes =
      try {
        val p = java.nio.file.Paths.get(dataDir)
        if (!java.nio.file.Files.isDirectory(p)) 0L
        else {
          import scala.jdk.CollectionConverters._
          val stream = java.nio.file.Files.walk(p)
          try stream.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(f => try java.nio.file.Files.size(f) catch { case _: Throwable => 0L })
            .sum
          finally stream.close()
        }
      } catch { case _: Throwable => 0L }
    math.min(512L, math.max(cores.toLong, bytes / ShuffleTargetBytes)).toInt
  }

  /** Apply [[autoShufflePartitions]] to a live session unless the
    * SPARK_GRAFT_SHUFFLE_PARTITIONS env lever explicitly pinned the value
    * (an explicit lever always wins — it's the escape hatch for sweeps).
    * Returns the partition count in effect. */
  def autoTuneShuffle(spark: SparkSession, dataDir: String, cores: Int): Int =
    if (sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    else {
      val n = autoShufflePartitions(dataDir, cores)
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      n
    }
}
