package perfbench

import org.apache.spark.sql.Row

/** Compares a cached answer with vanilla Spark's on the same snapshot:
  * same row count, then row by row after sorting both sides, doubles to a
  * relative tolerance and everything else exactly. Each row's sort key is
  * built once, so a large answer sorts in O(n log n) string compares. */
object Check {
  def diff(got: Array[Row], want: Array[Row], tol: Double = 1e-9): Option[String] = {
    if (got.length != want.length)
      return Some(s"row counts differ: ${got.length} vs ${want.length}")
    def sorted(rows: Array[Row]): Array[Row] =
      rows.map(r => (key(r), r)).sortBy(_._1).map(_._2)
    val (a, b) = (sorted(got), sorted(want))
    var i = 0
    while (i < a.length) {
      val (x, y) = (a(i), b(i))
      var j = 0
      while (j < x.length) {
        val ok = (x.get(j), y.get(j)) match {
          case (u: Double, v: Double) =>
            u == v || math.abs(u - v) <= tol * math.max(1.0, math.abs(v))
          case (u, v) => String.valueOf(u) == String.valueOf(v)
        }
        if (!ok) return Some(s"row $i differs: $x vs $y")
        j += 1
      }
      i += 1
    }
    None
  }

  /** the row's non-floating columns: group keys and counts */
  private def key(r: Row): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < r.length) {
      r.get(j) match {
        case _: Double | _: Float =>
        case v => sb.append(String.valueOf(v))
      }
      sb.append('\u0001')
      j += 1
    }
    sb.toString
  }
}
