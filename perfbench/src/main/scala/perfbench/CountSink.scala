package perfbench

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `noop` sink plus a row count: every row is consumed and dropped,
  * and the driver learns how many rows the write saw, so a batch key's
  * output is counted by the one execution that is timed. Use as
  * `df.write.format("perfbench.CountSink").mode("overwrite").save()`,
  * then read [[CountSink.lastRows]]. */
class CountSink extends TableProvider {
  override def inferSchema(o: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, p: Array[Transform],
      props: util.Map[String, String]): Table = new CountTable(schema)
}

object CountSink {
  @volatile var lastRows: Long = -1L
}

private class CountTable(schema0: StructType) extends Table with SupportsWrite {
  override def name(): String = "perfbench_count"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CountBatch
      }
    }
}

private final case class Counted(rows: Long) extends WriterCommitMessage

private class CountBatch extends BatchWrite {
  override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
    new CountFactory
  override def commit(msgs: Array[WriterCommitMessage]): Unit =
    CountSink.lastRows = msgs.collect { case Counted(n) => n }.sum
  override def abort(msgs: Array[WriterCommitMessage]): Unit = ()
}

private class CountFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var n = 0L
      override def write(r: InternalRow): Unit = n += 1
      override def commit(): WriterCommitMessage = Counted(n)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
