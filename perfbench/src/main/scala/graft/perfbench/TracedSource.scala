package graft.perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{KafkaShapedMicroBatchStream, KafkaShapedSource, KafkaShapedTable}

/** `KafkaShapedSource` with its partition readers timed into
  * [[SourceClock]]: the same table, stream, offsets and readers, reached
  * through delegation. Used only by traced runs, as
  * `.format(TracedSource.FORMAT)` with the kafka-shaped source's options.
  */
object TracedSource {
  val FORMAT: String = classOf[TracedKafkaShapedProvider].getName
}

class TracedKafkaShapedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaShapedSource.SCHEMA

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new KafkaShapedTable(options) {
      override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
        val inner = super.newScanBuilder(opts).build()
        () => new Scan {
          override def readSchema(): StructType = inner.readSchema()
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new TimedStream(inner.toMicroBatchStream(checkpointLocation)
              .asInstanceOf[KafkaShapedMicroBatchStream])
        }
      }
    }
  }
}

final class TimedStream(inner: KafkaShapedMicroBatchStream)
  extends MicroBatchStream with SupportsAdmissionControl {
  override def initialOffset(): Offset = inner.initialOffset()
  override def deserializeOffset(json: String): Offset = inner.deserializeOffset(json)
  override def getDefaultReadLimit: ReadLimit = inner.getDefaultReadLimit
  override def latestOffset(): Offset = inner.latestOffset()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    inner.latestOffset(start, limit)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    inner.planInputPartitions(start, end)
  override def createReaderFactory(): PartitionReaderFactory =
    new TimedReaderFactory(inner.createReaderFactory())
  override def commit(end: Offset): Unit = inner.commit(end)
  override def stop(): Unit = inner.stop()
}

final class TimedReaderFactory(inner: PartitionReaderFactory) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val reader = SourceClock.timed(inner.createReader(partition))
    new PartitionReader[InternalRow] {
      override def next(): Boolean = SourceClock.timed(reader.next())
      override def get(): InternalRow = SourceClock.timed(reader.get())
      override def close(): Unit = reader.close()
    }
  }
}
