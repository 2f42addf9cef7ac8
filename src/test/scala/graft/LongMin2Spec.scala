package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.types.LongType

import graft.plans.LongMin2

/** The aggregate's own contract, called directly rather than through the
  * twoNN caller: the smallest and second-smallest non-null value of a
  * multiset of longs, `Long.MaxValue` included, folded as a partial
  * aggregation — each chunk into its own buffer, then the buffers merged
  * — in the interpreted path and in generated code alike. */
class LongMin2Spec extends SparkSpec {
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** (d1, d2n) of LongMin2 over `chunks`, every step through a projection
    * `mode` builds; the projections' classes show which path ran. */
  private def min2(mode: String, chunks: Seq[Seq[java.lang.Long]])
      : (Option[Long], Option[Long]) = {
    val prev = spark.conf.getOption(FactoryMode)
    spark.conf.set(FactoryMode, mode)
    try {
      val v = AttributeReference("v", LongType, nullable = true)()
      val agg = LongMin2(v)
      val buf = agg.aggBufferAttributes
      def proj(exprs: Seq[Expression], in: Seq[Attribute]) = {
        val p = UnsafeProjection.create(exprs, in)
        assert(p.getClass.getName.contains("Interpreted") ===
          (mode == "NO_CODEGEN"), p.getClass.getName)
        p
      }
      val init = proj(agg.initialValues, Nil)
      val update = proj(agg.updateExpressions, buf :+ v)
      val merge = proj(agg.mergeExpressions,
        buf ++ agg.inputAggBufferAttributes)
      val eval = proj(Seq(agg.evaluateExpression), buf)
      val buffers = chunks.map(_.foldLeft(init(InternalRow.empty).copy()) {
        (b, x) => update(new JoinedRow(b, InternalRow(x))).copy()
      })
      val out = eval(buffers.reduce((a, b) =>
        merge(new JoinedRow(a, b)).copy())).getStruct(0, 2)
      def at(i: Int) = Option.when(!out.isNullAt(i))(out.getLong(i))
      (at(0), at(1))
    } finally prev.fold(spark.conf.unset(FactoryMode))(
      spark.conf.set(FactoryMode, _))
  }

  private val Max: java.lang.Long = Long.MaxValue
  private def l(x: Long): java.lang.Long = x

  for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
    test(s"$mode: Long.MaxValue is a value, not an empty slot") {
      assert(min2(mode, Seq(Seq(Max))) === (Some(Long.MaxValue), None))
      assert(min2(mode, Seq(Seq(Max, Max))) ===
        (Some(Long.MaxValue), Some(Long.MaxValue)))
      assert(min2(mode, Seq(Seq(l(5), Max))) ===
        (Some(5L), Some(Long.MaxValue)))
      assert(min2(mode, Seq(Seq(Max), Seq(l(3)))) ===
        (Some(3L), Some(Long.MaxValue)))
      assert(min2(mode, Seq(Seq(), Seq(null, Max))) ===
        (Some(Long.MaxValue), None))
    }

    test(s"$mode: nulls are skipped, and nothing seen gives nulls") {
      assert(min2(mode, Seq(Seq())) === (None, None))
      assert(min2(mode, Seq(Seq(null), Seq(null, null))) === (None, None))
      assert(min2(mode, Seq(Seq(null, l(-4)), Seq(null))) ===
        (Some(-4L), None))
    }

    test(s"$mode: random chunked multisets give their two smallest values") {
      val rnd = new scala.util.Random(5)
      for (_ <- 0 until 200) {
        val chunks = Seq.fill(1 + rnd.nextInt(4))(Seq.fill(rnd.nextInt(5)) {
          rnd.nextInt(6) match {
            case 0 => null
            case 1 => Max
            case 2 => l(Long.MinValue)
            case _ => l(rnd.nextInt(4).toLong) // heavy ties
          }
        })
        val sorted = chunks.flatten.filter(_ != null).map(_.longValue).sorted
        assert(min2(mode, chunks) === (sorted.headOption, sorted.lift(1)),
          chunks.toString)
      }
    }
  }
}
