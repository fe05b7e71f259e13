package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All readers go through `spark.read.parquet` so Catalyst gets a relation it
  * can push filters/column pruning into — at 100 TB the scan is the dominant
  * cost and every query below must show `PushedFilters`/pruned `ReadSchema`
  * in `.explain("formatted")`.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has shipped with two physical encodings for `ts`
    // across driver testdata generations: TIMESTAMP(NANOS) (which vanilla
    // Spark rejects — PARQUET_TYPE_ILLEGAL — hence the nanosAsLong legacy
    // flag and a ns→µs rebuild) and plain TIMESTAMP(MICROS) (read as
    // TIMESTAMP_NTZ under inferTimestampNTZ). Normalize both to a µs
    // TimestampType column: the session timezone is pinned to UTC
    // (GraftSession), so the NTZ→TZ cast is value-identical to the
    // timestamp_micros rebuild and downstream queries see one stable type.
    // The legacy flag is set once, only if absent — a loader silently
    // re-configuring a live session on every call is a concurrency footgun.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    } else df
  }

  /** Each table's schema with the version of its files it was read from. */
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, (Seq[Any], StructType)]

  /** The schema of the parquet table at `path`, read from its footers once
    * per version of the table: a footer read is a Spark job, and a query
    * or a stage build loads the same table several times. The version is
    * every file under `path` with its length and modification time, plus
    * the session's parquet settings, so a table rewritten under the same
    * path is read fresh. A missing path is left to the read to report. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    }
    val version = files.result().sorted ++
      spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    schemas.get(path).collect { case (v, schema) if v == version => schema }.getOrElse {
      val schema = spark.read.parquet(path).schema
      schemas(path) = (version, schema)
      schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` twins of the oracle SQL
    * run verbatim. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
