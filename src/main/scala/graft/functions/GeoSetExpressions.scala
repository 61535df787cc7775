package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Envelope

/** Set-theoretic / constructive geometry operations (the remainder of the
  * ST_ surface a Sedona-class library provides on top of the reference's
  * connector, SURVEY.md §2.5) plus the `st_extent` aggregate.
  */
abstract class GeoBinaryGeom extends GeoExpression with ExpectsInputTypes {
  def left: Expression
  def right: Expression
  override def children: Seq[Expression] = Seq(left, right)
  override def inputTypes = Seq[DataType](BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
}

case class StUnion(left: Expression, right: Expression) extends GeoBinaryGeom {
  override protected def kernel: String = "union"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.union(bytes(vs(0)), bytes(vs(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}
case class StIntersection(left: Expression, right: Expression) extends GeoBinaryGeom {
  override protected def kernel: String = "intersection"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.intersection(bytes(vs(0)), bytes(vs(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}
case class StDifference(left: Expression, right: Expression) extends GeoBinaryGeom {
  override protected def kernel: String = "difference"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.difference(bytes(vs(0)), bytes(vs(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StSimplify(child: Expression, tol: Expression)
    extends GeoExpression with ExpectsInputTypes {
  override def children: Seq[Expression] = Seq(child, tol)
  override def inputTypes = Seq[DataType](BinaryType, DoubleType)
  override def dataType: DataType = BinaryType
  override protected def kernel: String = "simplify"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.simplify(bytes(vs(0)), dbl(vs(1)))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0), c(1))
}

case class StConvexHull(child: Expression) extends GeoUnary {
  override def dataType: DataType = BinaryType
  override protected def kernel: String = "convexHull"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.convexHull(bytes(vs.head))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StGeometryType(child: Expression) extends GeoUnary {
  override def dataType: DataType = StringType
  override protected def kernel: String = "geometryType"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.geometryType(bytes(vs.head))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StNumGeometries(child: Expression) extends GeoUnary {
  override def dataType: DataType = IntegerType
  override protected def kernel: String = "numGeometries"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.numGeometries(bytes(vs.head))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

case class StNumPoints(child: Expression) extends GeoUnary {
  override def dataType: DataType = IntegerType
  override protected def kernel: String = "numPoints"
  override protected def notNull(vs: Seq[Any]): Any = GeoKernels.numPoints(bytes(vs.head))
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(c(0))
}

/** Aggregate: union of envelopes → bbox struct (xmin,ymin,xmax,ymax).
  * The aggregate-side twin of the per-file writer metrics
  * (`core/.../havasu/GeometryFieldMetrics.java:45-89` in /root/reference
  * accumulates exactly this envelope) as a `TypedImperativeAggregate`.
  */
case class StExtent(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[Envelope]
    with ExpectsInputTypes {

  // a non-binary input must fail ANALYSIS, not ClassCastException in update()
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StBboxStruct.schema

  override def createAggregationBuffer(): Envelope = new Envelope() // starts null/empty

  override def update(buf: Envelope, input: InternalRow): Envelope = {
    val v = child.eval(input)
    if (v != null) {
      val g = GeoCodec.readWkb(v.asInstanceOf[Array[Byte]])
      if (!g.isEmpty) buf.expandToInclude(g.getEnvelopeInternal)
    }
    buf
  }

  override def merge(a: Envelope, b: Envelope): Envelope = { a.expandToInclude(b); a }

  override def eval(buf: Envelope): Any =
    if (buf.isNull) null
    else new GenericInternalRow(Array[Any](buf.getMinX, buf.getMinY, buf.getMaxX, buf.getMaxY))

  override def serialize(buf: Envelope): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(33).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(if (buf.isNull) 1.toByte else 0.toByte)
    bb.putDouble(buf.getMinX).putDouble(buf.getMinY)
    bb.putDouble(buf.getMaxX).putDouble(buf.getMaxY)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Envelope = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val isNull = bb.get() == 1
    val (x1, y1, x2, y2) = (bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble)
    if (isNull) new Envelope() else new Envelope(x1, x2, y1, y2)
  }

  override def withNewMutableAggBufferOffset(o: Int): StExtent = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StExtent = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]) = copy(child = c(0))
}
