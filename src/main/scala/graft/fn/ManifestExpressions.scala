package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object HlsVariants {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("bandwidth", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("codecs", StringType, nullable = false),
    StructField("uri", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.hlsVariantsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.bandwidth, v.width, v.height,
        UTF8String.fromString(v.codecs), UTF8String.fromString(v.uri)): Any))
  }
}

object HlsSegments {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("duration", DoubleType, nullable = false),
    StructField("uri", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.hlsSegmentsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.seq, v.duration, UTF8String.fromString(v.uri)): Any))
  }
}

object MpdRepresentations {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("period", IntegerType, nullable = false),
    StructField("rep_id", StringType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("codecs", StringType, nullable = false),
    StructField("bandwidth", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("media", StringType, nullable = false))), containsNull = false)

  def data(text: UTF8String): GenericArrayData = {
    val vs = graft.ext.Manifests.mpdRepresentationsOrNull(text.toString)
    if (vs == null) null
    else new GenericArrayData(vs.map(v =>
      InternalRow(v.period, UTF8String.fromString(v.id),
        UTF8String.fromString(v.mime), UTF8String.fromString(v.codecs),
        v.bandwidth, v.width, v.height, UTF8String.fromString(v.media)): Any))
  }
}

