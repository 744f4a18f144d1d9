package graftbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection, XxHash64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A full-output sink, like Spark's `noop`, that also folds every row into
  * an order-sensitive digest. Each partition hashes its rows in arrival
  * order into a polynomial hash H = sum h_i * B^(n-1-i) (mod 2^64); the
  * commit joins partitions in partition order with H_ab = H_a * B^n_b + H_b,
  * so the digest depends on the global row order and not on where the
  * partition boundaries fall.
  *
  * Usage: `df.write.format(classOf[DigestSink].getName).mode("append")
  *   .option("id", name).save()`, then `DigestSink.result(name)`. */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DigestTable(schema)
}

object DigestSink {
  final case class Result(rows: Long, digest: String)
  private val results = new ConcurrentHashMap[String, Result]()
  def result(id: String): Option[Result] = Option(results.remove(id))

  private[graftbench] val B = 0x9E3779B97F4A7C15L | 1L

  final case class Part(partition: Int, rows: Long, hash: Long, pow: Long)
      extends WriterCommitMessage

  private[graftbench] def publish(id: String, parts: Seq[Part]): Unit = {
    var h = 0L
    var rows = 0L
    parts.sortBy(_.partition).foreach { p =>
      h = h * p.pow + p.hash
      rows += p.rows
    }
    results.put(id, Result(rows, f"${h ^ (rows * B)}%016x")): Unit
  }
}

final class DigestTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "graftbench-digest"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val id = info.options.get("id")
    require(id != null, "option 'id' is required")
    val rowSchema = info.schema()
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new DigestWriterFactory(rowSchema)
          override def useCommitCoordinator(): Boolean = false
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            DigestSink.publish(id, messages.toSeq.collect { case p: DigestSink.Part => p })
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

final class DigestWriterFactory(rowSchema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // maps have no hash in Spark SQL; hash their string form instead
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols: Seq[Expression] = rowSchema.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) =>
        val ref = BoundReference(i, f.dataType, nullable = true)
        if (hasMap(f.dataType)) Cast(ref, StringType, Some("UTC")) else ref
    }
    val proj = UnsafeProjection.create(Seq(XxHash64(cols, 42L)))
    new DataWriter[InternalRow] {
      private var hash = 0L
      private var pow = 1L
      private var rows = 0L
      override def write(row: InternalRow): Unit = {
        hash = hash * DigestSink.B + proj(row).getLong(0)
        pow *= DigestSink.B
        rows += 1
      }
      override def commit(): WriterCommitMessage =
        DigestSink.Part(partitionId, rows, hash, pow)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
