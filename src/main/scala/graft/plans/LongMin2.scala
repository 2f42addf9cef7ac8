package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** One-pass (min, second-min) of a LONG column as a declarative
  * aggregate: `struct(d1, d2n)` where `d1` is the smallest value and
  * `d2n` the second-smallest element of the MULTISET (a duplicated
  * minimum yields `d2n = d1`), each null when absent.
  *
  * This replaces the twoNN selection's per-point rank window
  * (`row_number() OVER (PARTITION BY a_id ORDER BY d2, vec_id)` kept to
  * rank ≤ 2): the window shuffles and SORTS the full candidate pair
  * stream — O(n·candidates) rows — only to discard everything past rank
  * 2, while this aggregate is hash-based (no sort) and partial: the
  * map side reduces every partition to a three-long buffer per group
  * (the two smallest values and a count), so the exchange carries three
  * longs per (group, map task) instead of the candidate stream
  * (optimization guide §2.3 "aggregate before you shuffle"). Values equal in `d2` are interchangeable for both
  * outputs, so dropping the window's `vec_id` tiebreak cannot change
  * either order statistic — results are bit-identical.
  *
  * The buffer counts the non-null values it has seen, so every long,
  * `Long.MaxValue` included, is a value: `d1` is null until one value
  * has been seen and `d2n` until two have. Null inputs are skipped (min
  * semantics).
  */
case class LongMin2(child: Expression)
    extends DeclarativeAggregate with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("d1", LongType, nullable = true),
    StructField("d2n", LongType, nullable = true)))
  override def prettyName: String = "graft_long_min2"

  private lazy val m1 =
    AttributeReference("m1", LongType, nullable = false)()
  private lazy val m2 =
    AttributeReference("m2", LongType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", LongType, nullable = false)()
  // the identity of Least, so a slot not yet filled never wins it; `seen`
  // tells such a slot from a real Long.MaxValue
  private def top: Literal = Literal(Long.MaxValue, LongType)

  override lazy val aggBufferAttributes
      : Seq[AttributeReference] = Seq(m1, m2, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(top, top, Literal(0L, LongType))

  // x joins the running top-2: m1' = min(m1, x),
  // m2' = min(m2, max(m1, x)) — the displaced candidate is whichever
  // of (old m1, x) is larger. Null x leaves the buffer untouched.
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), m1, Least(Seq(m1, child))),
    If(IsNull(child), m2, Least(Seq(m2, Greatest(Seq(m1, child))))),
    If(IsNull(child), seen, Add(seen, Literal(1L, LongType))))

  // second-smallest of the merged multiset {a1, a2, b1, b2} with
  // a1 ≤ a2, b1 ≤ b2: min(a2, b2, max(a1, b1)).
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Least(Seq(m1.left, m1.right)),
    Least(Seq(m2.left, m2.right, Greatest(Seq(m1.left, m1.right)))),
    Add(seen.left, seen.right))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("d1"),
      If(GreaterThanOrEqual(seen, Literal(1L)), m1, Literal(null, LongType)),
      Literal("d2n"),
      If(GreaterThanOrEqual(seen, Literal(2L)), m2, Literal(null, LongType))))

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
