package sqlbench

import org.apache.spark.sql.Row

/** Order-insensitive fingerprint of a result: row count plus the sum
  * (mod 2^64) of one 64-bit hash per row. Values render canonically so
  * that engines which type the same answer differently (INT vs BIGINT,
  * DECIMAL(10,0) vs BIGINT) still agree; floating values round to 9
  * significant digits because summation order differs between plans.
  */
object RowHash {
  final case class Fingerprint(rows: Long, sum: Long) {
    override def toString = f"$rows%d:$sum%016x"
  }

  def render(v: Any): String = v match {
    case null                     => "\u0000N"
    case b: java.lang.Boolean     => "B" + b
    case x: java.lang.Byte        => "I" + x.longValue
    case x: java.lang.Short       => "I" + x.longValue
    case x: java.lang.Integer     => "I" + x.longValue
    case x: java.lang.Long        => "I" + x.longValue
    case d: java.math.BigDecimal  => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case x: java.lang.Float       => floating(x.doubleValue)
    case x: java.lang.Double      => floating(x.doubleValue)
    case s: String                => "S" + s
    case other                    => "O" + other.toString
  }

  private def decimal(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros
    if (s.scale <= 0) "I" + s.toBigInteger.toString else "D" + s.toPlainString
  }

  private def floating(x: Double): String =
    if (x.isNaN || x.isInfinite) "F" + x
    else if (x == math.rint(x) && math.abs(x) < 1e15) "I" + x.toLong
    else "F" + new java.math.BigDecimal(x)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** 64-bit hash of one row's canonical rendering (two seeded 32-bit
    * MurmurHash3 halves); field boundaries are explicit so ("ab","c")
    * and ("a","bc") differ.
    */
  def rowHash(values: Seq[Any]): Long = {
    val text = values.map(render).mkString("\u0001")
    val hi = scala.util.hashing.MurmurHash3.stringHash(text, 0x5eed1)
    val lo = scala.util.hashing.MurmurHash3.stringHash(text, 0x5eed2)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  def ofValues(rows: Iterable[Seq[Any]]): Fingerprint = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(r) }
    Fingerprint(n, sum)
  }

  def ofRows(rows: Array[Row]): Fingerprint = ofValues(rows.map(_.toSeq))

  /** Self-check run at the start of every benchmark JVM; throws on the
    * first failure. */
  def selfTest(): Unit = {
    def check(cond: Boolean, what: String): Unit =
      if (!cond) throw new AssertionError(s"RowHash self-test: $what")
    val a = Seq(Seq[Any](1, "x"), Seq[Any](2, null), Seq[Any](3, "Dr. „Doc“ Brown"))
    check(ofValues(a) == ofValues(a.reverse), "row order must not matter")
    check(ofValues(a) != ofValues(a.take(2)), "a missing row must change the hash")
    check(ofValues(a) != ofValues(a :+ a.head), "a duplicated row must change the hash")
    check(rowHash(Seq(1, "x")) != rowHash(Seq("x", 1)), "column order must matter")
    check(rowHash(Seq(null)) != rowHash(Seq("")), "NULL differs from the empty string")
    check(rowHash(Seq("ab", "c")) != rowHash(Seq("a", "bc")), "field boundaries must matter")
    check(rowHash(Seq(7)) == rowHash(Seq(7L)), "INT and BIGINT render alike")
    check(rowHash(Seq(new java.math.BigDecimal("7.00"))) == rowHash(Seq(7L)),
      "an integral DECIMAL renders like an integer")
    check(rowHash(Seq(0.1 + 0.2)) == rowHash(Seq(0.3)), "doubles round to 9 digits")
    check(rowHash(Seq("7")) != rowHash(Seq(7)), "a string differs from a number")
  }
}
