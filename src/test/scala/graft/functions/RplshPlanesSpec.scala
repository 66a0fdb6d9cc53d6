package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** Expression-level null/NaN semantics of the RP-LSH plane kernels:
  * `rplsh_dots` keeps null (null embedding, null element, length mismatch)
  * apart from a legit NaN dot; `rplsh_sigs` turns every such dot into a
  * 0 bit, like the inline `when(dot > 0, bit)` form it replaced.
  */
class RplshPlanesSpec extends AnyFunSuite {

  private val embType = ArrayType(FloatType, containsNull = true)

  private def emb(xs: java.lang.Float*): Literal =
    Literal(new GenericArrayData(xs.toArray[Any]), embType)

  // Two planes of length 2 (plane 0 = e1, plane 1 = e1 + e2) and one of
  // length 3, so a 2-element embedding mismatches plane 2 only.
  private val planes: Literal = Literal(
    new GenericArrayData(Array[Any](
      new GenericArrayData(Array[Any](1f, 0f)),
      new GenericArrayData(Array[Any](1f, 1f)),
      new GenericArrayData(Array[Any](1f, 1f, 1f)))),
    ArrayType(ArrayType(FloatType)))

  private def dots(e: Literal): Seq[Option[Double]] = {
    val out = RplshDots(e, planes).eval(InternalRow.empty).asInstanceOf[ArrayData]
    (0 until out.numElements()).map(i => if (out.isNullAt(i)) None else Some(out.getDouble(i)))
  }

  // b = 3: one signature over all three planes, bit j = [dot(plane j) > 0]
  private def sig(e: Literal): Int =
    RplshSigs(e, planes, Literal(3)).eval(InternalRow.empty).asInstanceOf[ArrayData].getInt(0)

  test("valid embedding: dots per plane, a mismatched plane is a null element") {
    assert(dots(emb(2f, 3f)) == Seq(Some(2.0), Some(5.0), None))
    assert(sig(emb(2f, 3f)) == 0x3)
    assert(sig(emb(2f, -3f)) == 0x1)
  }

  test("null embedding: an all-null array of one element per plane, and an all-zero signature") {
    val nullEmb = Literal(null, embType)
    assert(dots(nullEmb) == Seq(None, None, None))
    assert(sig(nullEmb) == 0)
  }

  test("null element: every plane's dot is a null element, and every bit is 0") {
    assert(dots(emb(2f, null)) == Seq(None, None, None))
    assert(sig(emb(2f, null)) == 0)
  }

  test("length mismatch: a null element for each mismatched plane only") {
    assert(dots(emb(2f, 3f, 4f)) == Seq(None, None, Some(9.0)))
    assert(sig(emb(2f, 3f, 4f)) == 0x4)
  }

  test("NaN element: the dot is NaN, not null, and its bit is 0") {
    val d = dots(emb(Float.NaN, 1f))
    assert(d.take(2).forall(x => x.isDefined && x.get.isNaN), d)
    assert(d(2).isEmpty, d)
    assert(sig(emb(Float.NaN, 1f)) == 0)
  }
}
