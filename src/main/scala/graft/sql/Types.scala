package graft.sql

import org.apache.spark.sql.types._

/** The reference's declared-schema type system (reference types.rs:30-38,
  * 114-124) mapped onto Spark DataTypes, plus the extension types needed to
  * host the driver fixtures (double / timestamp — absent in the reference,
  * whose only types are the five below).
  */
sealed trait SqlType {
  def spark: DataType
  def render: String
}

object SqlType {
  case object SqlBigInt extends SqlType { val spark = LongType;    val render = "BIGINT" }
  case object SqlInt extends SqlType { val spark = IntegerType;    val render = "INT" }
  case object SqlSmallInt extends SqlType { val spark = ShortType; val render = "SMALLINT" }
  final case class SqlVarChar(maxLen: Int) extends SqlType {
    val spark = StringType; def render = s"VARCHAR($maxLen)"
  }
  final case class SqlVarBinary(maxLen: Int) extends SqlType {
    val spark = BinaryType; def render = s"VARBINARY($maxLen)"
  }
  // Extension types (not in the reference dialect; present so external
  // parquet tables with richer schemas can live in the same catalog).
  case object SqlDouble extends SqlType { val spark = DoubleType;       val render = "DOUBLE" }
  case object SqlTimestamp extends SqlType { val spark = TimestampType; val render = "TIMESTAMP" }
  /** TIMESTAMP WITH TIME ZONE: carried on Spark's TimestampType (the
    * instant-semantics timestamp; graft sessions pin UTC), distinguished
    * at the SQL type layer for rendering (::VARCHAR appends the +00
    * offset), typeof(), and the AT TIME ZONE conversion direction.
    */
  case object SqlTimestampTz extends SqlType { val spark = TimestampType; val render = "TIMESTAMPTZ" }
  /** TIME (microsecond wall-clock time-of-day) onto Spark 4.1's
    * TimeType — gated behind spark.sql.timeType.enabled, which every
    * graft session sets at construction.
    */
  case object SqlTime extends SqlType { val spark: DataType = TimeType(); val render = "TIME" }
  case object SqlDate extends SqlType { val spark = DateType;           val render = "DATE" }
  case object SqlBool extends SqlType { val spark = BooleanType;        val render = "BOOLEAN" }
  /** Single-precision float — kept exact (not widened to DOUBLE) so an
    * external parquet schema round-trips: the embeddings fixture is
    * list<float>, and reading it with a widened schema would fail the
    * parquet column converter.
    */
  case object SqlReal extends SqlType { val spark = FloatType;          val render = "REAL" }
  final case class SqlArray(elem: SqlType) extends SqlType {
    def spark: DataType = ArrayType(elem.spark)
    def render = s"${elem.render}[]"
  }
  /** Fixed-point DECIMAL(p, s) onto Spark's DecimalType — exact cents
    * arithmetic without the round(x*100) workaround; sums are exact on
    * both engines (DuckDB widens precision, Spark caps at 38 — same
    * values at any realistic magnitude).
    */
  final case class SqlDecimal(p: Int, s: Int) extends SqlType {
    def spark: DataType = DecimalType(p, s)
    def render = s"DECIMAL($p,$s)"
  }
  /** Struct/row type (DuckDB STRUCT). list_zip produces DuckDB 1.0's
    * UNNAMED tuple structs (fields address by 1-based numeric
    * struct_extract only), so names here are internal carriers; named
    * field access is deliberately not surfaced.
    */
  /** MAP(K, V) (DuckDB MAP): key→value with DuckDB's access surface —
    * subscript/map_extract return a LIST of the value ([] when the key
    * is absent), map_keys/map_values/cardinality, histogram() builds
    * one per group.
    */
  final case class SqlMap(key: SqlType, value: SqlType) extends SqlType {
    def spark: DataType = MapType(key.spark, value.spark)
    def render = s"MAP(${key.render}, ${value.render})"
  }
  /** ENUM: a named, ORDERED value domain (DuckDB CREATE TYPE … AS ENUM
    * or the anonymous inline form). Carried as the member TEXT on
    * StringType; ORDERING is positional, enforced by the analyzer
    * rewriting ordering comparisons / sort keys / min-max onto the
    * value's definition index (__enum_pos).
    */
  final case class SqlEnum(values: Vector[String]) extends SqlType {
    val spark: DataType = StringType
    def render = s"ENUM(${values.map(v => s"'${v.replace("'", "''")}'").mkString(", ")})"
  }
  /** UNION (DuckDB's tagged sum type): carried as a struct of the tag
    * (the active member's NAME) plus one nullable field per member —
    * only the active member's field is non-NULL. union_extract of an
    * inactive member reads NULL; ::VARCHAR renders the active value.
    */
  final case class SqlUnion(members: Vector[(String, SqlType)]) extends SqlType {
    def spark: DataType = StructType(
      StructField("tag", StringType) +:
        members.map { case (n, t) => StructField(n, t.spark) })
    def render = s"UNION${membersSql(members)}"
  }
  final case class SqlStruct(fields: Vector[(String, SqlType)]) extends SqlType {
    def spark: DataType =
      StructType(fields.map { case (n, t) => StructField(n, t.spark) })
    def render = s"STRUCT${membersSql(fields)}"
  }

  /** `(name TYPE, …)` of a STRUCT or UNION, each name as the type
    * grammar reads it back: a plain identifier bare, any other name as a
    * quoted string.
    */
  private def membersSql(ms: Vector[(String, SqlType)]): String =
    ms.map { case (n, t) =>
      val name =
        if (n.matches("[A-Za-z_][A-Za-z0-9_]*")) n else s"'${n.replace("'", "''")}'"
      s"$name ${t.render}"
    }.mkString("(", ", ", ")")

  def fromSpark(dt: DataType): SqlType = dt match {
    case LongType         => SqlBigInt
    case IntegerType      => SqlInt
    case ShortType        => SqlSmallInt
    case StringType       => SqlVarChar(65535)
    case BinaryType       => SqlVarBinary(65535)
    case DoubleType       => SqlDouble
    case FloatType        => SqlReal
    case TimestampType    => SqlTimestamp
    case TimestampNTZType => SqlTimestamp // parquet naive timestamps (Spark 4 default)
    case _: TimeType      => SqlTime
    case DateType         => SqlDate
    case BooleanType      => SqlBool
    case ArrayType(et, _) => SqlArray(fromSpark(et))
    case MapType(kt, vt, _) => SqlMap(fromSpark(kt), fromSpark(vt))
    case StructType(fs) =>
      SqlStruct(fs.map(f => f.name -> fromSpark(f.dataType)).toVector)
    case dt: DecimalType  => SqlDecimal(dt.precision, dt.scale)
    case other => throw new IllegalArgumentException(s"unsupported external type $other")
  }

  private def isNumeric(t: SqlType): Boolean = t match {
    case SqlBigInt | SqlInt | SqlSmallInt | SqlDouble | SqlReal => true
    case SqlDecimal(_, _) => true
    case _ => false
  }

  /** Mixed-width numeric comparison is allowed, like the reference's
    * `is_comparable_to` (reference types.rs:51-70).
    */
  def comparable(a: SqlType, b: SqlType): Boolean = (a, b) match {
    case _ if isNumeric(a) && isNumeric(b)        => true
    case (SqlVarChar(_), SqlVarChar(_))           => true
    case (SqlVarBinary(_), SqlVarBinary(_))       => true
    // date and timestamp cross-compare (Spark widens date to timestamp);
    // TIMESTAMPTZ joins the group (same instant carrier)
    case (SqlTimestamp | SqlDate | SqlTimestampTz,
          SqlTimestamp | SqlDate | SqlTimestampTz) => true
    case (SqlTime, SqlTime)                       => true
    // enum values compare with each other and with plain text
    case (SqlEnum(_), SqlEnum(_))                 => true
    case (SqlEnum(_), SqlVarChar(_))              => true
    case (SqlVarChar(_), SqlEnum(_))              => true
    case (SqlBool, SqlBool)                       => true
    case (SqlArray(x), SqlArray(y))               => comparable(x, y)
    case _                                        => false
  }
}

/** Literal values as they come out of the parser. */
sealed trait Lit
object Lit {
  final case class LitLong(v: Long) extends Lit
  final case class LitDouble(v: Double) extends Lit
  final case class LitString(v: String) extends Lit
  /** DATE 'yyyy-mm-dd' — ISO form validated at parse time. */
  final case class LitDate(iso: String) extends Lit
  /** TIMESTAMP 'yyyy-mm-dd hh:mm:ss[.f]' — validated at parse time. */
  final case class LitTimestamp(iso: String) extends Lit
  /** TIME 'hh:mm:ss[.f]' — validated at parse time. */
  final case class LitTime(iso: String) extends Lit
  /** TIMESTAMPTZ '… [+HH[:MM]]' — offset applied at parse; `iso` holds
    * the UTC-normalized wall text (sessions pin UTC, so the instant is
    * exactly this text's naive reading).
    */
  final case class LitTimestampTz(isoUtc: String) extends Lit
  /** TRUE / FALSE keywords. */
  final case class LitBool(v: Boolean) extends Lit
  case object LitNull extends Lit
}

/** Checked literal→type conversion for INSERT, mirroring the reference's
  * `try_convert_to` (reference types.rs:162-203) minus its `checked_abs`
  * narrowing bug (types.rs:171-178 — flagged in SURVEY.md §1.2 as
  * do-not-replicate): narrowing fails iff the value is out of the target
  * range; VARCHAR/VARBINARY enforce the declared max length.
  */
object Convert {
  import Lit._
  import SqlType._

  sealed trait ConvError { def msg: String }
  final case class Overflow(v: Long, t: SqlType) extends ConvError {
    def msg = s"value $v overflows ${t.render}"
  }
  final case class TooLarge(len: Int, t: SqlType) extends ConvError {
    def msg = s"value of length $len exceeds ${t.render}"
  }
  final case class NotConvertible(l: Lit, t: SqlType) extends ConvError {
    def msg = s"$l is not convertible to ${t.render}"
  }

  /** Returns the JVM value Spark's Row expects for the target type. */
  def apply(l: Lit, t: SqlType): Either[ConvError, Any] = (l, t) match {
    case (LitNull, _)              => Right(null)
    case (LitLong(v), SqlBigInt)   => Right(v)
    case (LitLong(v), SqlInt) =>
      if (v >= Int.MinValue && v <= Int.MaxValue) Right(v.toInt) else Left(Overflow(v, t))
    case (LitLong(v), SqlSmallInt) =>
      if (v >= Short.MinValue && v <= Short.MaxValue) Right(v.toShort) else Left(Overflow(v, t))
    case (LitLong(v), SqlDouble)   => Right(v.toDouble)
    case (LitDouble(v), SqlDouble) => Right(v)
    case (LitLong(v), SqlReal)     => Right(v.toFloat)
    case (LitDouble(v), SqlReal)   => Right(v.toFloat)
    case (LitBool(v), SqlBool)     => Right(v)
    case (LitLong(v), SqlDecimal(p, sc)) =>
      val bd = java.math.BigDecimal.valueOf(v).setScale(sc)
      if (bd.precision - bd.scale <= p - sc) Right(bd) else Left(Overflow(v, t))
    case (LitDouble(v), SqlDecimal(p, sc)) =>
      val bd = java.math.BigDecimal.valueOf(v)
        .setScale(sc, java.math.RoundingMode.HALF_UP)
      if (bd.precision - bd.scale <= p - sc) Right(bd)
      else Left(NotConvertible(l, t))
    case (LitString(str), SqlDecimal(p, sc)) =>
      try {
        val bd = new java.math.BigDecimal(str)
          .setScale(sc, java.math.RoundingMode.HALF_UP)
        if (bd.precision - bd.scale <= p - sc) Right(bd)
        else Left(NotConvertible(l, t))
      }
      catch { case _: NumberFormatException => Left(NotConvertible(l, t)) }
    case (LitString(s), SqlVarChar(max)) =>
      if (s.length <= max) Right(s) else Left(TooLarge(s.length, t))
    case (LitDate(s), SqlDate) => Right(java.sql.Date.valueOf(s))
    case (LitDate(s), SqlTimestamp) =>
      Right(java.sql.Timestamp.valueOf(s + " 00:00:00"))
    case (LitTimestamp(s), SqlTimestamp) => Right(java.sql.Timestamp.valueOf(s))
    case (LitString(s), SqlTimestamp) =>
      try Right(java.sql.Timestamp.valueOf(s))
      catch { case _: IllegalArgumentException => Left(NotConvertible(l, t)) }
    case (LitString(s), SqlDate) =>
      try Right(java.sql.Date.valueOf(s))
      catch { case _: IllegalArgumentException => Left(NotConvertible(l, t)) }
    // ENUM: membership validated at conversion (DuckDB's conversion
    // error surface); stored as the member text
    case (LitString(s), SqlEnum(vs)) =>
      if (vs.contains(s)) Right(s) else Left(NotConvertible(l, t))
    case (LitTime(s), SqlTime) => Right(java.time.LocalTime.parse(s))
    case (LitString(s), SqlTime) =>
      try Right(java.time.LocalTime.parse(s))
      catch { case _: java.time.format.DateTimeParseException => Left(NotConvertible(l, t)) }
    // TIMESTAMPTZ inserts: the UTC-normalized text reads as the instant
    // under the session's pinned UTC zone; plain timestamps coerce
    case (LitTimestampTz(s), SqlTimestampTz) => Right(java.sql.Timestamp.valueOf(s))
    case (LitTimestamp(s), SqlTimestampTz)   => Right(java.sql.Timestamp.valueOf(s))
    case (LitTimestampTz(s), SqlTimestamp)   => Right(java.sql.Timestamp.valueOf(s))
    case (LitDate(s), SqlTimestampTz) =>
      Right(java.sql.Timestamp.valueOf(s + " 00:00:00"))
    case (LitString(s), SqlTimestampTz) =>
      try Right(java.sql.Timestamp.valueOf(s))
      catch { case _: IllegalArgumentException => Left(NotConvertible(l, t)) }
    case _ => Left(NotConvertible(l, t))
  }
}
