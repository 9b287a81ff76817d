package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native multi-table random-hyperplane LSH bucketing. The planes ride
  * [[graft.plans.LshBucketsExpr]] as one reference object (the
  * [[GraftKmeans]] pattern) instead of nTables × nPlanes `array<double>`
  * literals with a `graft_dot` subtree each, and each vector is walked
  * once per plane in a tight loop.
  *
  * Bit-compatibility contract (the DuckDB CTE twins and every persisted
  * index depend on it):
  *  - each projection is the same left-to-right `(double) v[i] * plane[i]`
  *    accumulation as [[graft.plans.DotProductF64]], over
  *    min(len(v), len(plane)) elements;
  *  - bit p is set when the projection is `>= 0` under Spark's double
  *    ordering: -0.0 counts as 0.0, and NaN sorts above every value, so
  *    a NaN projection sets the bit;
  *  - the bucket is the LONG sum of `1L << p` over the set bits;
  *  - a null vector makes every projection null, which sets no bit:
  *    bucket 0 in every table.
  */
object GraftLsh {

  /** One bucket per table: `planes(t)(p)` is table t's plane p. */
  def buckets(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val out = new Array[Long](planes.length)
    if (v != null) {
      val nv = v.numElements()
      var t = 0
      while (t < planes.length) {
        val tp = planes(t)
        var bucket = 0L
        var p = 0
        while (p < tp.length) {
          val plane = tp(p)
          val n = math.min(nv, plane.length)
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v.getFloat(i).toDouble * plane(i); i += 1 }
          if (dot >= 0.0 || java.lang.Double.isNaN(dot)) bucket += 1L << p
          p += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
