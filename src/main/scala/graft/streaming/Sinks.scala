package graft.streaming

import java.io.PrintWriter
import java.net.Socket
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Sink surface (SURVEY.md §2.2, K1–K6).
  *
  * The reference hand-builds three consistency protocols
  * (`chapter8/{Idempotent,WriteAhead,Transactional}SinkExample`); in
  * Structured Streaming each is a thin specialization of machinery the
  * engine already provides:
  *   - K5 exactly-once file sink  → built-in `format("parquet")` +
  *     `_spark_metadata` commit log (zero custom code);
  *   - K4 WAL sink                → `foreachBatch` IS a write-ahead batch:
  *     deterministic replay + `batchId`-keyed commit dedupes re-emission;
  *   - K3 idempotent upsert       → `foreachBatch` + keyed overwrite.
  */
object Sinks {

  /** K1 — `print()` analog. */
  def console[T](ds: Dataset[T]): DataStreamWriter[T] =
    ds.writeStream.format("console").option("truncate", "false")

  /** K6 — `asQueryableState` analog: publish to an in-session queryable
    * table (`chapter7/QueryableState.scala:47-49`); any thread of the
    * session can `spark.sql("SELECT * FROM <name>")` while the query runs. */
  def queryable[T](ds: Dataset[T], name: String, outputMode: String = "complete")
      : DataStreamWriter[T] =
    ds.writeStream.format("memory").queryName(name).outputMode(outputMode)

  /** K6 cross-process flavor — queryable state as a parquet snapshot
    * handoff: each micro-batch atomically swaps a self-describing parquet
    * snapshot of the complete aggregate into `dir`. ANY process with a
    * parquet reader (another Spark job, a Python/DuckDB dashboard,
    * [[SnapshotClient]]) can poll it — the moral equivalent of the
    * reference's out-of-process QueryableStateClient
    * (`chapter7/QueryableState.scala:56-115`); Structured Streaming exposes
    * no network state API, so the handoff IS the query surface. Production
    * twin: a Delta/Iceberg table whose commit protocol replaces the rename
    * swap. */
  def queryableSnapshot(df: DataFrame, dir: String, checkpoint: String)
      : DataStreamWriter[Row] =
    df.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => swapInSnapshot(batch, dir))

  /** Write `df` as the new content of `targetDir` with the crash-recoverable
    * two-step rename swap (see [[upsertBatch]] for the protocol). */
  def swapInSnapshot(df: DataFrame, targetDir: String): Unit = {
    val target = Paths.get(targetDir)
    val bak = Paths.get(targetDir + ".bak")
    if (!Files.exists(target) && Files.exists(bak)) Files.move(bak, target)
    else if (Files.exists(bak)) deleteRecursively(bak)
    val tmp = targetDir + ".tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    if (Files.exists(target)) Files.move(target, bak, StandardCopyOption.REPLACE_EXISTING)
    Files.move(Paths.get(tmp), target)
    deleteRecursively(bak)
  }

  /** K5 — exactly-once file sink (`TransactionalFileSink`,
    * `chapter8/TransactionalSinkExample.scala:137-197`): the built-in file
    * sink's commit log gives the same write-temp/commit-atomically protocol. */
  def exactlyOnceFiles(df: DataFrame, path: String, checkpoint: String)
      : DataStreamWriter[Row] =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** K2 — socket sink (`SimpleSocketSink`,
    * `chapter8/SinkFunctionExample.scala:38-74`): `foreach` writer holding a
    * connection per partition; `coalesce(1)` upstream for the reference's
    * forced single writer. */
  class SocketWriter(host: String, port: Int) extends ForeachWriter[Row] {
    @transient private var socket: Socket = _
    @transient private var out: PrintWriter = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      socket = new Socket(host, port)
      out = new PrintWriter(socket.getOutputStream)
      true
    }
    override def process(value: Row): Unit = out.println(value.mkString(","))
    override def close(errorOrNull: Throwable): Unit = {
      if (out != null) out.flush()
      if (socket != null) socket.close()
    }
  }

  def socket(df: DataFrame, host: String, port: Int): DataStreamWriter[Row] =
    df.coalesce(1).writeStream.foreach(new SocketWriter(host, port))

  /** K3 — idempotent keyed upsert (`DerbyUpsertSink`,
    * `chapter8/IdempotentSinkFunctionExample.scala:72-109`): keep the latest
    * row per key in a parquet target. Replays overwrite with identical
    * values — the PK-overwrite idempotency of the reference. On a cluster
    * this is a Delta/Iceberg MERGE; the atomic-rename keyed overwrite here
    * has the same observable semantics. */
  def idempotentUpsert(df: DataFrame, keyCols: Seq[String], targetDir: String,
      checkpoint: String, orderCol: Option[String] = None): DataStreamWriter[Row] = {
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, keyCols, targetDir, orderCol)
      }
  }

  /** The merge step: latest-per-key union of target and batch, written to a
    * temp dir then swapped in with a crash-recoverable two-step rename.
    *
    * Swap protocol (not atomic — two renames): tmp is complete on disk,
    * then target→bak, then tmp→target, then bak deleted. A crash between
    * the renames leaves bak-but-no-target; the next invocation restores bak
    * first, so no committed keys are ever lost. A bak alongside an intact
    * target is a leftover from a crash after the second rename and is
    * discarded. */
  def upsertBatch(batch: DataFrame, keyCols: Seq[String], targetDir: String,
      orderCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val target = Paths.get(targetDir)
    val bak = Paths.get(targetDir + ".bak")
    // crash recovery: restore the previous target if the last swap died
    // between its two renames; drop a stale bak otherwise
    if (!Files.exists(target) && Files.exists(bak)) Files.move(bak, target)
    else if (Files.exists(bak)) deleteRecursively(bak)
    val existing =
      if (Files.exists(target)) Some(spark.read.parquet(targetDir)) else None
    // Within the batch, one row per key must win before merging. With an
    // orderCol (event time / sequence number from the data) the winner is
    // the row with the greatest such value — the only ordering that means
    // anything after a shuffle. Without one, monotonically_increasing_id
    // breaks the tie: DETERMINISTIC for a replayed batch (same rows, same
    // partitioning) — which is what idempotency needs — but arbitrary
    // across partitions, since its high bits are the partition index.
    val arrival = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__arr").desc)
    val latest = batch
      .withColumn("__arr",
        orderCol.map(col).getOrElse(monotonically_increasing_id()))
      .withColumn("__rn", row_number().over(arrival))
      .filter(col("__rn") === 1)
      .drop("__arr", "__rn")
    // batch rows win over existing rows
    val merged = existing match {
      case Some(cur) =>
        val newKeys = latest.select(keyCols.map(col): _*).distinct()
        cur.join(newKeys, keyCols, "left_anti").unionByName(latest)
      case None => latest
    }
    val tmp = targetDir + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    if (Files.exists(target)) Files.move(target, bak, StandardCopyOption.REPLACE_EXISTING)
    Files.move(Paths.get(tmp), target)
    deleteRecursively(bak)
  }

  /** K4 — WAL sink with batchId-keyed commit
    * (`StdOutWriteAheadSink` + `FileCheckpointCommitter`,
    * `chapter8/WriteAheadSinkExample.scala:122-193`): `foreachBatch` already
    * buffers a deterministic batch; the committer's "commit id file" becomes
    * a `_committed_<batchId>` marker that makes re-emission a no-op. */
  def walSink(df: DataFrame, targetDir: String, checkpoint: String)
      : DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        walWriteBatch(batch, batchId, targetDir))

  /** The WAL commit step: append the batch unless its `batchId` marker says
    * it already committed (replay → no-op). */
  def walWriteBatch(batch: DataFrame, batchId: Long, targetDir: String): Unit = {
    val marker = Paths.get(targetDir, s"_committed_$batchId")
    if (!Files.exists(marker)) { // replayed batch: skip re-emission
      batch.write.mode(SaveMode.Append).parquet(targetDir)
      Files.createDirectories(marker.getParent)
      Files.createFile(marker)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}
