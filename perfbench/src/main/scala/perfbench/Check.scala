package perfbench

import org.apache.spark.sql.Row

/** Answer comparison: rows as unordered multisets, doubles equal to a
  * relative 1e-9 (sums of doubles may add up in another order). */
object Check {
  private def cell(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Float, y: Float) => cell(x.toDouble, y.toDouble)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  private def key(r: Row): String =
    r.toSeq.map {
      case d: Double => f"$d%.6e"
      case v => String.valueOf(v)
    }.mkString("\u0001")

  def sameRows(got: Seq[Row], want: Seq[Row]): Boolean =
    got.size == want.size && got.sortBy(key).zip(want.sortBy(key)).forall {
      case (a, b) => a.length == b.length &&
        (0 until a.length).forall(i => cell(a.get(i), b.get(i)))
    }
}
