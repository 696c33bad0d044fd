package graft.fn

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object ContainerMetaKernels {
  /** [[graft.ext.Webm.metaOrNull]] packed for Catalyst. */
  def webmRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.Webm.metaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1),
      if (m._2.isNaN) null else java.lang.Double.valueOf(m._2),
      if (m._3.isEmpty) null else UTF8String.fromString(m._3),
      m._4, m._5,
      if (m._6.isEmpty) null else UTF8String.fromString(m._6),
      if (m._7.isNaN) null else java.lang.Double.valueOf(m._7),
      m._8))
  }

  /** [[graft.ext.Flac.metaOrNull]] packed for Catalyst. */
  def flacRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.Flac.metaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      m._1, m._2, m._3, m._4,
      if (m._5.isNaN) null else java.lang.Double.valueOf(m._5)))
  }
}

object MediaMetaKernels {
  def imageDimsRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.imageDimsOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3))
  }

  def imageCodecProfileRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.imageCodecProfileOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3, m._4))
  }

  def audioMetaRowOrNull(bytes: Array[Byte]): GenericInternalRow = {
    val m = graft.ext.MediaMeta.audioMetaOrNull(bytes)
    if (m == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(m._1), m._2, m._3,
      if (m._4.isNaN) null else java.lang.Double.valueOf(m._4)))
  }
}

