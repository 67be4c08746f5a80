package graft.perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.internal.connector.SimpleTableProvider
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a query result: row count plus the
  * wrapping sum of per-row 64-bit hashes, salted with the column names.
  * Doubles hash by value (-0.0 == 0.0, one NaN), maps by entry set. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def bytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a 64
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    mix(h)
  }
  private def dbl(d: Double): Long =
    if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d) // canonical NaN

  def value(v: Any, dt: DataType): Long =
    if (v == null) 0x5bd1e995L
    else dt match {
      case s: StructType => row(v.asInstanceOf[InternalRow], s)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = mix(a.numElements().toLong)
        var i = 0
        while (i < a.numElements()) { h = mix(h * 31 + value(a.get(i, et), et)); i += 1 }
        h
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        var h = mix(m.numElements().toLong)
        var i = 0
        while (i < m.numElements()) {
          h += mix(value(m.keyArray().get(i, kt), kt) * 31 + value(m.valueArray().get(i, vt), vt))
          i += 1
        }
        h
      case DoubleType => mix(dbl(v.asInstanceOf[Double]))
      case FloatType => mix(dbl(v.asInstanceOf[Float].toDouble))
      case _: DecimalType =>
        bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString.getBytes("UTF-8"))
      case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case _ => v match {
        case n: java.lang.Number => mix(n.longValue())
        case other => bytes(other.toString.getBytes("UTF-8"))
      }
    }

  def row(r: InternalRow, s: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < s.length) {
      val dt = s.fields(i).dataType
      h = mix(h * 31 + value(r.get(i, dt), dt))
      i += 1
    }
    h
  }

  def schemaSalt(s: StructType): Long =
    bytes(s.fieldNames.mkString(",").getBytes("UTF-8"))
}

/** Per-partition partial digest shipped back in the commit message. */
final case class DigestPart(rows: Long, sum: Long) extends WriterCommitMessage

/** A `noop`-equivalent sink that also digests what it consumes: the query
  * runs through the same V2 write path as `format("noop")`, so the plan
  * and the listener events are those of the noop execute, and the check
  * costs one hash per row instead of a second execution.
  *
  * `df.write.format(HashSink.Format).option("token", t).mode("overwrite").save()`
  * then `HashSink.take(t)`. */
class HashSink extends SimpleTableProvider {
  override def getTable(options: CaseInsensitiveStringMap): Table =
    new HashTable(options.get("token"))
}

object HashSink {
  val Format: String = classOf[HashSink].getName
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Digest]()
  private[perfbench] def put(token: String, d: Digest): Unit = results.put(token, d)
  def take(token: String): Option[Digest] = Option(results.remove(token))
}

private final class HashTable(token: String) extends Table with SupportsWrite {
  override def name(): String = "hash-sink"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new HashBatchWrite(token, s)
      }
    }
  }
}

private final class HashBatchWrite(token: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HashWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: DigestPart => p }
    HashSink.put(token, Digest(parts.map(_.rows).sum,
      parts.foldLeft(Digest.schemaSalt(schema))(_ + _.sum)))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class HashWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var sum = 0L
      override def write(r: InternalRow): Unit = { rows += 1; sum += Digest.row(r, schema) }
      override def commit(): WriterCommitMessage = DigestPart(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
