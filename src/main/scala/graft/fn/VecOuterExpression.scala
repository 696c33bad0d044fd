package graft.fn

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

object VecOuterKernel {
  /** Packed upper-triangle outer product x⊗x: output[k] = x_i·x_j for
    * i ≤ j in row-major triangle order (k = i·dim − i(i−1)/2 + (j−i)).
    * One allocation per row, no boxing.
    */
  def outerUpper(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) { x(i) = arr.getDouble(i); i += 1 }
    val out = new Array[Double](n * (n + 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      val xi = x(i)
      var j = i
      while (j < n) { out(k) = xi * x(j); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}

