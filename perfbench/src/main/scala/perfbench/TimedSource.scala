package perfbench

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.mqtt.{MqttMicroBatchStream, MqttSourceProvider}

/** Traced runs read through this provider instead of
  * `graft.sources.mqtt.MqttSourceProvider`: it delegates every call to the
  * library's source and times, per broker buffer, the two calls the engine
  * makes into it each trigger: `latestOffset` and `planInputPartitions`
  * (where the buffer is sliced, the source's share of getBatch).
  */
class TimedMqttSourceProvider extends TableProvider {
  private val inner = new MqttSourceProvider

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    inner.inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val table = inner.getTable(schema, partitioning, properties).asInstanceOf[SupportsRead]
    new Table with SupportsRead {
      override def name(): String = table.name()
      override def schema(): StructType = table.schema()
      override def capabilities(): util.Set[TableCapability] = table.capabilities()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => {
        val scan = table.newScanBuilder(options).build()
        new Scan {
          override def readSchema(): StructType = scan.readSchema()
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new TimedMicroBatchStream(options.getOrDefault("broker", "default"),
              scan.toMicroBatchStream(checkpointLocation).asInstanceOf[MqttMicroBatchStream])
        }
      }
    }
  }
}

final class TimedMicroBatchStream(broker: String, s: MqttMicroBatchStream)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def timed[T](calls: ArrayBuffer[(Long, Long)])(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      calls.synchronized(calls += ((t0, t1)))
    }
  }

  private val times = SourceTimes.of(broker)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    timed(times.latestOffset)(s.latestOffset(start, limit))
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    timed(times.planPartitions)(s.planInputPartitions(start, end))

  override def prepareForTriggerAvailableNow(): Unit = s.prepareForTriggerAvailableNow()
  override def initialOffset(): Offset = s.initialOffset()
  override def latestOffset(): Offset = s.latestOffset()
  override def deserializeOffset(json: String): Offset = s.deserializeOffset(json)
  override def commit(end: Offset): Unit = s.commit(end)
  override def stop(): Unit = s.stop()
  override def getDefaultReadLimit: ReadLimit = s.getDefaultReadLimit
  override def createReaderFactory(): PartitionReaderFactory = s.createReaderFactory()
}

/** (start ns, end ns) of every timed source call, per broker buffer. */
object SourceTimes {
  final class Calls {
    val latestOffset = ArrayBuffer.empty[(Long, Long)]
    val planPartitions = ArrayBuffer.empty[(Long, Long)]
  }
  private val byBroker = new java.util.concurrent.ConcurrentHashMap[String, Calls]()

  def of(broker: String): Calls = byBroker.computeIfAbsent(broker, _ => new Calls)

  /** Mean milliseconds of the calls that ended at or after `fromNs`. */
  def meanMs(calls: ArrayBuffer[(Long, Long)], fromNs: Long): Double = {
    val ms = calls.synchronized(calls.filter(_._2 >= fromNs).map { case (a, b) => (b - a) / 1e6 })
    if (ms.isEmpty) Double.NaN else ms.sum / ms.size
  }
}
