package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.plans.ArraySqDistLong

/** The kernel's own contract, called directly rather than through the
  * guarded twoNN caller: an exact squared distance for arrays of equal
  * length, and an error naming both lengths for a ragged pair — in the
  * interpreted path and in generated code alike. */
class ArraySqDistLongSpec extends SparkSpec {
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** The kernel over (a, b), through the projection `mode` builds; the
    * projection's class shows which path ran. */
  private def sqDist(mode: String, a: Seq[Long], b: Seq[Long]): Long = {
    val prev = spark.conf.getOption(FactoryMode)
    spark.conf.set(FactoryMode, mode)
    try {
      val t = ArrayType(LongType, containsNull = false)
      val proj = UnsafeProjection.create(Seq(ArraySqDistLong(
        BoundReference(0, t, nullable = false),
        BoundReference(1, t, nullable = false))))
      assert(proj.getClass.getName.contains("Interpreted") ===
        (mode == "NO_CODEGEN"), proj.getClass.getName)
      proj(InternalRow(ArrayData.toArrayData(a.toArray),
        ArrayData.toArrayData(b.toArray))).getLong(0)
    } finally prev.fold(spark.conf.unset(FactoryMode))(
      spark.conf.set(FactoryMode, _))
  }

  for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
    test(s"$mode: equal lengths give the exact integer squared distance") {
      assert(sqDist(mode, Seq(1L, 2L, 3L), Seq(4L, 0L, 3L)) === 13L)
      assert(sqDist(mode, Seq.empty, Seq.empty) === 0L)
      val rnd = new scala.util.Random(7)
      for (n <- Seq(1, 17, 230)) {
        val a = Seq.fill(n)(rnd.nextInt(200000001).toLong - 100000000L)
        val b = Seq.fill(n)(rnd.nextInt(200000001).toLong - 100000000L)
        assert(sqDist(mode, a, b) ===
          a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum, n)
      }
    }

    test(s"$mode: a ragged pair raises an error naming both lengths") {
      for ((a, b) <- Seq((3, 5), (5, 3), (0, 1))) {
        val err = intercept[IllegalArgumentException](
          sqDist(mode, Seq.fill(a)(1L), Seq.fill(b)(2L)))
        assert(err.getMessage.contains(s"($a and $b)"), err.getMessage)
      }
    }
  }
}
