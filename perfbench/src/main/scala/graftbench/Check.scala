package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Result comparison with the rules of the repository's oracle gate
  * (dev/check_oracle.py): every column, rows in any order, doubles to nine
  * significant digits. A row set that differs only beyond that precision
  * is accepted when every double agrees to a relative 1e-9, which absorbs
  * summation-order noise between two Spark plans.
  */
object Check {

  def cell(v: Any): Any = v match {
    case null => null
    case d: Double =>
      if (d.isNaN) "nan" else if (d == 0.0) 0.0 else java.lang.Double.parseDouble(f"$d%.9g")
    case f: Float => cell(f.toDouble)
    case b: java.math.BigDecimal => cell(b.doubleValue)
    case b: BigDecimal => cell(b.toDouble)
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case l: Long => l
    case b: Boolean => b
    case s: String => s
    case other => other.toString
  }

  def norm(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(r => (0 until r.length).map(i => cell(r.get(i)))).sortBy(_.mkString("\u0001"))

  /** Order-insensitive digest over all columns of all rows. */
  def digest(rows: Seq[Row]): Long =
    norm(rows).foldLeft(0L)((acc, r) => acc + MurmurHash3.seqHash(r).toLong)

  def same(got: Seq[Row], want: Seq[Row]): Boolean = {
    val g = norm(got)
    val w = norm(want)
    g == w || (g.length == w.length && g.headOption.forall(_.length == w.head.length) && {
      def key(r: Seq[Any]) = r.map { case _: Double => ""; case x => String.valueOf(x) }.mkString("\u0001")
      g.sortBy(key).zip(w.sortBy(key)).forall { case (a, b) =>
        a.zip(b).forall {
          case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
          case (x, y) => x == y
        }
      }
    })
  }
}
