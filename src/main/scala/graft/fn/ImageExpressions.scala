package graft.fn

/** Image resize + perceptual fingerprint as native codegen expressions
  * over [[graft.ext.Images]] (PNG/JPEG routed by content magic; other
  * payloads → SQL null). Both follow the PngGrayFeatures pattern: one
  * static call, no ScalaUDF span break.
  */
object ImageKernels {
  /** [[graft.ext.Images.thumbnailOrNull]] packed for Catalyst. */
  def thumbnailArrayDataOrNull(bytes: Array[Byte], tw: Int,
                               th: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val t = graft.ext.Images.thumbnailOrNull(bytes, tw, th)
    if (t == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(t)
  }
}

