package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.SparkTestBase

class HilbertIndexSpec extends AnyFunSuite with SparkTestBase {

  private def d(x: Int, y: Int): Int =
    HilbertIndex(Literal(x), Literal(y)).eval(null).asInstanceOf[Int]

  test("bijection: the 256×256 grid maps exactly onto [0, 65536)") {
    val seen = new Array[Boolean](65536)
    var x = 0
    while (x < 256) {
      var y = 0
      while (y < 256) {
        val v = d(x, y)
        assert(v >= 0 && v < 65536, s"($x,$y) -> $v out of range")
        assert(!seen(v), s"($x,$y) -> $v already hit")
        seen(v) = true
        y += 1
      }
      x += 1
    }
  }

  test("locality: consecutive indexes are always 4-adjacent cells (the property Z-order lacks)") {
    // invert the curve, then walk it: |Δx| + |Δy| must be exactly 1 at
    // every step — Hilbert's defining advantage for bounding-box layouts
    val inv = new Array[(Int, Int)](65536)
    for (x <- 0 until 256; y <- 0 until 256) inv(d(x, y)) = (x, y)
    (1 until 65536).foreach { i =>
      val (px, py) = inv(i - 1)
      val (cx, cy) = inv(i)
      assert(math.abs(cx - px) + math.abs(cy - py) == 1,
        s"jump at d=$i: ($px,$py) -> ($cx,$cy)")
    }
  }

  test("codegen path == interpreted eval (registered hilbert_d over a DataFrame)") {
    import spark.implicits._
    val rows = (0 until 1024).map(i => (i % 256, (i * 37) % 256))
    val got = rows.toDF("x", "y")
      .selectExpr("x", "y", "hilbert_d(x, y) AS h")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    got.foreach { case (x, y, h) => assert(h == d(x, y), s"($x,$y)") }
  }

  test("corner anchors of the order-8 curve") {
    assert(d(0, 0) == 0)          // curve starts at the origin
    assert(d(255, 0) == 65535)    // and ends at (n-1, 0) for even orders
  }
}
