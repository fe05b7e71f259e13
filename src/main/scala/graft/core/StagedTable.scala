package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{count, expr, lit}

/** Fingerprinted cross-session staging for derived tables: the whole
  * stage contract, for every stage family graft builds.
  *
  * A stage is the table `graft_<family>_<|hash(corpus dir)|>`, stored as
  * an EXTERNAL parquet table in its own directory under the session
  * warehouse. The directory carries a `_graft_fingerprint` sidecar holding
  *
  * {{{<params>;<docs|vecs>=<row count>;xor=<content xor>}}}
  *
  * where `params` is the builder's constant string (a hand-kept version tag
  * plus every algorithm constant the table depends on) and the two terms
  * after it hash the input corpus: its row count and the order-free XOR of
  * `md5_long60` over each row's content (`doc_id|text` for documents,
  * `vec_id|label|embedding` for embeddings). At 100 TB that validation is
  * one projection-pruned scan, orders cheaper than the build it lets a new
  * session skip.
  *
  * The seven families:
  *   - `clusters` (docs): verified near-dup clusters, bucketed by doc_id;
  *   - `mm_pairs` (docs): multimodal near-dup pair edges;
  *   - `ivf_cent` (vecs): IVF label centroids;
  *   - `km_asg` (vecs): the fixed-k Lloyd assignment;
  *   - `km2l_asg` (vecs): the k ∝ N three-level assignment, adopted from a
  *     valid `pqs_index` stage when there is one;
  *   - `pq_index` (vecs): the kind-tagged IVF-PQ index;
  *   - `pqs_index` (vecs): the kind-tagged scaled IVF-PQ index.
  *
  * A fresh process whose fingerprint matches ADOPTS the files: it registers
  * them under the schema read from their own parquet footer (restating the
  * bucket spec) and skips the build. The writer leaves a footer even for an
  * empty stage; a stage dir without one counts as a mismatch. Any mismatch
  * drops the table and its files, rebuilds, then writes the sidecar. Within
  * one process a memo makes repeat consumers free. The table is EXTERNAL so
  * that a later DROP TABLE (catalog cleanup, process death) keeps the
  * shared files. Each decision prints
  * `[stage] <table> adopt|build fp=<fingerprint>` on stderr.
  */
object StagedTable {

  /** A stage's input table and the per-row content its fingerprint hashes. */
  final case class Input(key: String, table: String, row: String)

  val Docs: Input = Input("docs", "documents", "cast(doc_id as string), '|', text")
  val Vecs: Input = Input("vecs", "embeddings",
    "cast(vec_id as string), '|', cast(label as string), '|', cast(embedding as string)")

  /** One stage family: its name, its input, its constant string and, when
    * its consumers join on a key, the bucket count and column to store it by. */
  final case class Stage(family: String, input: Input, params: String,
      bucketBy: Option[(Int, String)] = None) {
    def table(d: String): String = s"graft_${family}_" + math.abs(d.hashCode).toString

    def fingerprint(s: SparkSession, d: String): String =
      s"$params;" + inFlight.getOrElse((input, d), contentTerm(s, input, d))
  }

  /** `<docs|vecs>=<row count>;xor=<content xor>` of `input` over corpus `d`. */
  private def contentTerm(s: SparkSession, input: Input, d: String): String = {
    graft.functions.GraftFunctions.register(s)
    val r = Tables.load(s, d, input.table).agg(count(lit(1)),
      expr(s"coalesce(bit_xor(md5_long60(concat(${input.row}))), 0L)")).head()
    s"${input.key}=${r.getLong(0)};xor=${r.getLong(1)}"
  }

  private val Sidecar = "_graft_fingerprint"

  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Content terms of the decisions in progress, so a build that checks
    * another family's stage over the same input (km2l reading pqs_index)
    * does not hash the corpus a second time. */
  private val inFlight = scala.collection.concurrent.TrieMap.empty[(Input, String), String]

  /** Test hook: number of actual builds this JVM ran — the cross-session
    * reuse specs assert a valid stage does NOT bump it. */
  @volatile var stagingsComputed: Int = 0

  /** Test hook: forget the per-JVM memo, simulating a fresh process (the
    * disk state — files, sidecar, catalog entries — is left as-is). */
  def resetCache(): Unit = staged.clear()

  /** Ensure `stage` over corpus `d` exists with a matching fingerprint;
    * returns the table name. `build` receives the one writer of the stage
    * and hands it the frame to store; it may release what the frame pinned
    * once the writer returns. */
  def getOrStage(s: SparkSession, d: String, stage: Stage)(
      build: (DataFrame => Unit) => Unit): String = {
    val table = stage.table(d)
    staged.getOrElseUpdate(table, {
      val key = (stage.input, d)
      val owned = !inFlight.contains(key)
      if (owned) inFlight(key) = contentTerm(s, stage.input, d)
      try {
        val fp = stage.fingerprint(s, d)
        val loc = location(s, table)
        if (matches(loc, fp)) {
          System.err.println(s"[stage] $table adopt fp=$fp")
          if (!s.catalog.tableExists(table)) {
            val buckets = stage.bucketBy.fold("") { case (n, c) =>
              s"CLUSTERED BY ($c) SORTED BY ($c) INTO $n BUCKETS " }
            s.sql(s"CREATE TABLE $table (${s.read.parquet(loc.toString).schema.toDDL}) " +
              s"USING parquet ${buckets}LOCATION '${loc.toUri}'")
          }
        } else {
          System.err.println(s"[stage] $table build fp=$fp")
          drop(s, table)
          build { df =>
            val w = df.write.mode("overwrite").option("path", loc.toUri.toString)
            stage.bucketBy.fold(w) { case (n, c) => w.bucketBy(n, c).sortBy(c) }.saveAsTable(table)
            if (!hasFooter(loc)) writeEmptyBucket(s, df, loc)
          }
          stagingsComputed += 1
          Files.write(loc.resolve(Sidecar), fp.getBytes("UTF-8"))
        }
        table
      } finally if (owned) inFlight -= key
    })
  }

  /** A bucketed write of an empty frame opens no file, which would leave
    * adopt no footer to read the schema from. Write one empty parquet file
    * with `df`'s schema and name it as bucket 0, so bucketed scans accept it. */
  private def writeEmptyBucket(s: SparkSession, df: DataFrame, loc: Path): Unit = {
    val tmp = loc.resolve("_empty")
    s.createDataFrame(s.sparkContext.emptyRDD[Row], df.schema).write.parquet(tmp.toUri.toString)
    Files.move(parquetFiles(tmp).head, loc.resolve("part-00000-empty_00000.c000.parquet"))
    delete(tmp)
  }

  /** The files of `stage` over `d` when its sidecar matches the current
    * fingerprint — a read of another family's stage that neither builds
    * nor registers it. */
  def valid(s: SparkSession, d: String, stage: Stage): Option[DataFrame] = {
    val loc = location(s, stage.table(d))
    if (matches(loc, stage.fingerprint(s, d))) Some(s.read.parquet(loc.toString)) else None
  }

  /** Drop `table`'s catalog entry, its files and its memo entry. */
  def drop(s: SparkSession, table: String): Unit = {
    staged -= table
    s.sql(s"DROP TABLE IF EXISTS $table")
    delete(location(s, table))
  }

  private def delete(dir: Path): Unit =
    if (Files.exists(dir))
      Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq).reverse.foreach(Files.deleteIfExists(_))

  private def parquetFiles(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet"))

  private def hasFooter(loc: Path): Boolean = parquetFiles(loc).nonEmpty

  private def location(s: SparkSession, table: String): Path =
    Paths.get(java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath, table)

  private def matches(loc: Path, fp: String): Boolean = {
    val f = loc.resolve(Sidecar)
    Files.exists(f) && new String(Files.readAllBytes(f), "UTF-8") == fp && hasFooter(loc)
  }
}
