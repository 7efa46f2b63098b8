package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The dedup/text family's shingle hash, natively: the SQL idiom
  * `cast(conv(substring(md5(x), 1, 15), 16, 10) AS bigint)` computes an
  * md5 digest, renders it as a 32-char lowercase hex STRING, takes the
  * first 15 hex chars and re-parses them base-16 — three avoidable
  * string allocations/parses per shingle on the hottest path in the
  * engine (1.35M shingles per dedup-family build at sf0.1, one md5 per
  * 8-char window of every document). This expression produces the
  * IDENTICAL value straight from the digest bytes: the first 15 hex
  * digits of the digest are its first 7 bytes plus the high nibble of
  * byte 7, read big-endian — a 60-bit non-negative long, so the
  * unsigned conv parse and the bigint cast are exact.
  *
  * The md5 algebra itself is oracle-pinned (DuckDB recomputes it in
  * SQL); only the engine-side evaluation gets cheaper — values are
  * bit-identical (HashExpressionsSpec pins equality against the SQL
  * triple, multibyte input included).
  */
object Md5Hash {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def prefix60(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val b = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    (v << 4) | ((b(7) >> 4) & 0xfL)
  }
}

/** `graft_md5p60(x)` accepts strings only: a BINARY argument fails the type check. */
case class Md5Prefix60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "graft_md5p60"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    Md5Hash.prefix60(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5Hash.prefix60($a);")
  override protected def withNewChildInternal(nc: Expression): Md5Prefix60 =
    copy(child = nc)
}
