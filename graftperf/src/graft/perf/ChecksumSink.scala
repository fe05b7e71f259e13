package graft.perf

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count plus an order-independent hash of a query's output: the sum
  * (mod 2^64) of XXH64 over each row's UnsafeRow bytes. Independent of
  * partitioning and row order, so it can be pinned per query. */
final case class Fingerprint(rows: Long, hash: Long)

/** A `noop`-style batch sink that also fingerprints what it is given.
  *
  * Timing a query through this sink runs exactly the plan a `noop` write
  * runs, plus one projection and one hash per output row, so every timed
  * execution is also a correctness check and no extra pass is needed.
  * Use: `df.write.format(classOf[ChecksumSink].getName)
  * .option("key", k).mode("overwrite").save()`, then [[ChecksumSink.take]].
  */
class ChecksumSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ChecksumTable(schema, properties.get("key"))
}

object ChecksumSink {
  private val results = new ConcurrentHashMap[String, Fingerprint]()

  /** The fingerprint the last write under `key` committed (removed). */
  def take(key: String): Option[Fingerprint] = Option(results.remove(key))

  private[perf] def put(key: String, f: Fingerprint): Unit = results.put(key, f)
}

private final case class PartHash(rows: Long, hash: Long) extends WriterCommitMessage

private class ChecksumTable(schema0: StructType, key: String) extends Table with SupportsWrite {
  override def name(): String = s"checksum:$key"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new ChecksumBatchWrite(info.schema(), key)
      }
    }
}

private class ChecksumBatchWrite(schema: StructType, key: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ChecksumWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartHash => p }
    ChecksumSink.put(key, Fingerprint(parts.map(_.rows).sum, parts.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class ChecksumWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toUnsafe = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hash = 0L
      override def write(r: InternalRow): Unit = {
        val u = toUnsafe(r)
        rows += 1
        hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      override def commit(): WriterCommitMessage = PartHash(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
