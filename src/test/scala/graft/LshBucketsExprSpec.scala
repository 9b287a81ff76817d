package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Bit-parity of the native multi-table LSH bucket kernel
  * ([[graft.plans.LshBucketsExpr]]) against the composed per-plane
  * `graft_dot` sum every LSH query used before it. The buckets key the
  * DuckDB CTE twins and persisted indexes, so any drift is a wrong
  * answer, not a recall change.
  */
class LshBucketsExprSpec extends AnyFunSuite {
  import TestSpark._
  import LshBucketsExprSpec.lshBucket
  graft.plans.GraftFunctions.register(spark) // the composed form uses graft_dot

  private val dims = 16

  /** Deterministic pseudo-random rows plus the edge cases: a null
    * vector, one shorter than `dims`, one longer, an all-zero vector
    * (every projection is ±0.0), and NaN / infinite components.
    */
  private def vecsDf = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val regular = (0 until 60).map { i =>
      Row(i.toLong, Array.tabulate(dims)(d =>
        ((i * 37 + d * 11) % 101) / 101.0f - 0.5f).toSeq)
    }
    val edge = Seq(
      Row(100L, null),
      Row(101L, Seq(0.3f, -0.2f, 0.1f, 0.4f, -0.5f)),
      Row(102L, Array.tabulate(dims + 7)(d => (d % 5) / 5.0f - 0.4f).toSeq),
      Row(103L, Array.fill(dims)(0.0f).toSeq),
      Row(104L, Array.fill(dims)(-0.0f).toSeq),
      Row(105L, Array.tabulate(dims)(d => if (d == 3) Float.NaN else 0.1f).toSeq),
      Row(106L, Array.tabulate(dims)(d =>
        if (d == 0) Float.NegativeInfinity else 0.2f).toSeq),
      Row(107L, Seq.empty[Float]))
    spark.createDataFrame(spark.sparkContext.parallelize(regular ++ edge, 3), schema)
  }

  private def composed(v: Column, nPlanes: Int, nTables: Int, stride: Int): Column =
    array((0 until nTables).map(t =>
      lshBucket(v, nPlanes, dims, planeOffset = t * stride)): _*)

  private def assertParity(nPlanes: Int, nTables: Int, stride: Int): Unit = {
    val df = vecsDf.select(col("vec_id"),
      Similarity.lshBuckets(col("embedding"), nPlanes, nTables, dims, stride).as("a"),
      composed(col("embedding"), nPlanes, nTables, stride).as("b"))
    val rows = df.collect()
    assert(rows.length == 68)
    val bad = rows.filter(r => r.getSeq[Long](1) != r.getSeq[Long](2))
    assert(bad.isEmpty, s"planes=$nPlanes tables=$nTables: " + bad.mkString(", "))
    // null vector: bucket 0 in every table
    val nullRow = rows.find(_.getLong(0) == 100L).get
    assert(nullRow.getSeq[Long](1) == Seq.fill(nTables)(0L))
  }

  private val shapes = Seq((5, 1, 5), (5, 16, 5), (8, 16, Similarity.AutoPlaneStride))

  test("kernel == composed graft_dot sum (codegen), 1 and 16 tables") {
    shapes.foreach { case (np, nt, stride) => assertParity(np, nt, stride) }
  }

  test("kernel == composed graft_dot sum with whole-stage codegen off (interpreted eval)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      shapes.foreach { case (np, nt, stride) => assertParity(np, nt, stride) }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("direct eval: null vector, short vector, NaN projection") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val planes = Array.tabulate(2, 3)((t, p) => Similarity.planeVec(t * 3 + p, 4))
    def eval(v: Any): Seq[Long] =
      graft.plans.LshBucketsExpr(Literal.create(v, ArrayType(FloatType)), planes)
        .eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    assert(eval(null) == Seq(0L, 0L))
    // a NaN projection sets the bit: Spark orders NaN above every value
    assert(eval(new GenericArrayData(Array[Any](Float.NaN))) == Seq(7L, 7L))
    // short vector: only min(n, dims) components contribute
    val short = new GenericArrayData(Array[Any](0.25f))
    val want = (0 until 2).map(t => (0 until 3).map { p =>
      if (0.25f.toDouble * planes(t)(p)(0) >= 0) 1L << p else 0L
    }.sum)
    assert(eval(short) == want)
  }

  test("memoized planeVec returns the md5-derived values, as a private copy") {
    def fresh(plane: Int, d: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"plane$plane:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0 - 0.5
    }
    Seq(0 -> 64, 17 -> 64, 255 -> 64, 1003 -> 64, 4 -> 8).foreach { case (plane, d) =>
      val first = Similarity.planeVec(plane, d)
      assert(first.toSeq == (0 until d).map(fresh(plane, _)))
      first(0) = 42.0 // a caller's write must not reach the cache
      assert(Similarity.planeVec(plane, d).toSeq == (0 until d).map(fresh(plane, _)))
    }
  }

  test("posexplode'd kernel rows == the composed explode(struct) rows, schema included") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val native = emb.select(col("vec_id").as("id"),
      posexplode(Similarity.lshBuckets(col("embedding"), 5, 16, 64, 5))
        .as(Seq("table", "bucket")))
    val old = emb.select(col("vec_id").as("id"),
        explode(array((0 until 16).map(t => struct(lit(t).as("table"),
          lshBucket(col("embedding"), 5, 64, planeOffset = t * 5).as("bucket"))): _*))
          .as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    assert(native.schema == old.schema)
    assert(native.count() == emb.count() * 16)
    assert(native.exceptAll(old).isEmpty && old.exceptAll(native).isEmpty)
  }
}

object LshBucketsExprSpec {

  /** The composed LSH bucket form the native kernel replaced: one
    * `graft_dot` per plane against an `array<double>` literal, bit p
    * set when the projection is `>= 0`, summed as longs. Parity
    * reference only — it embeds every plane as a literal in the plan.
    */
  def lshBucket(vecCol: Column, nPlanes: Int, dims: Int, planeOffset: Int = 0): Column = {
    val proj = (0 until nPlanes).map { p =>
      val dotP = call_function("graft_dot", vecCol,
        typedLit(Similarity.planeVec(planeOffset + p, dims).toSeq))
      when(dotP >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    proj.reduce(_ + _)
  }
}
