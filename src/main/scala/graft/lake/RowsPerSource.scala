package graft.lake

import org.apache.spark.sql.{Column, GraftDmlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rows per source value, observed on a `partitionBy("source")` write
  * ([[Catalog.commitIngest]], [[Catalog.commitDist]]): a map, since a
  * batch's sources are only known once it is written. Null counts
  * under "", which the write puts in the same directory (Hive's
  * default partition). A plain aggregate over a string: no encoder and
  * no generated code, so observing it costs a write next to nothing. */
private[lake] final case class RowsPerSource(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]]
    with UnaryLike[Expression] {
  private type Counts = java.util.HashMap[String, java.lang.Long]

  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Counts = new java.util.HashMap()

  private def add(counts: Counts, source: String, n: Long): Counts = {
    val was = counts.get(source)
    counts.put(source, if (was == null) n else was + n)
    counts
  }

  override def update(counts: Counts, input: InternalRow): Counts = {
    val v = child.eval(input)
    add(counts, if (v == null) "" else v.toString, 1L)
  }

  override def merge(counts: Counts, other: Counts): Counts = {
    other.forEach((source, n) => add(counts, source, n))
    counts
  }

  override def eval(counts: Counts): Any = {
    val sources = counts.keySet.toArray(Array.empty[String])
    ArrayBasedMapData(sources.map(UTF8String.fromString), sources.map(s => counts.get(s).longValue))
  }

  override def serialize(counts: Counts): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(counts.size)
    counts.forEach { (source, n) =>
      val b = source.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(n)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): Counts = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(storage))
    val counts = createAggregationBuffer()
    (0 until in.readInt()).foreach { _ =>
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      counts.put(new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
    }
    counts
  }

  override def withNewMutableAggBufferOffset(n: Int): RowsPerSource =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): RowsPerSource =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): RowsPerSource =
    copy(child = newChild)
}

private[lake] object RowsPerSource {
  /** The `rows` metric a distribution write observes over its `source` column. */
  def observed: Column = GraftDmlBridge.column(
    RowsPerSource(GraftDmlBridge.expression(org.apache.spark.sql.functions.col("source")))
      .toAggregateExpression()).as("rows")

  /** An observed `rows` map as `(source directory, rows)` pairs, the
    * form a record logs. */
  def byDir(observed: Any): Seq[(String, Long)] =
    observed.asInstanceOf[scala.collection.Map[String, Long]].toSeq
      .map { case (source, n) => (Layout.sourceDir(source), n) }.sortBy(_._1)
}
