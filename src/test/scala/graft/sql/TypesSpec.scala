package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Properties}

import SqlType._
import graft.sql.{Lit => L}

/** Property tests for the type system, generalizing the reference's
  * types.rs:260-398 unit tests (FIXTURES.md §4). Run by sbt's native
  * ScalaCheck integration.
  */
object TypesProps extends Properties("Types") {

  private val types: Gen[SqlType] = Gen.oneOf(
    SqlBigInt, SqlInt, SqlSmallInt, SqlVarChar(10), SqlVarBinary(10),
    SqlDouble, SqlTimestamp)

  property("comparability is symmetric") =
    Prop.forAll(types, types) { (a, b) => comparable(a, b) == comparable(b, a) }

  property("int narrowing succeeds exactly within range") =
    Prop.forAll { (v: Long) =>
      Convert(L.LitLong(v), SqlInt).isRight == (v >= Int.MinValue && v <= Int.MaxValue) &&
      Convert(L.LitLong(v), SqlSmallInt).isRight == (v >= Short.MinValue && v <= Short.MaxValue)
    }

  property("varchar accepts exactly strings within declared max") =
    Prop.forAll(Gen.alphaNumStr, Gen.chooseNum(0, 64)) { (s, max) =>
      Convert(L.LitString(s), SqlVarChar(max)).isRight == (s.length <= max)
    }
}

/** Deterministic edge cases (the reference's exact fixtures). */
class TypesSpec extends AnyFunSuite {

  test("integers of all widths mutually comparable; strings/binary are not") {
    for (a <- Seq(SqlBigInt, SqlInt, SqlSmallInt); b <- Seq(SqlBigInt, SqlInt, SqlSmallInt)) {
      assert(comparable(a, b))
      assert(!comparable(a, SqlVarChar(5)))
      assert(!comparable(a, SqlVarBinary(5)))
    }
    assert(comparable(SqlVarChar(1), SqlVarChar(99)))
    assert(!comparable(SqlVarChar(1), SqlVarBinary(1)))
  }

  test("MIN values narrow correctly (reference checked_abs bug not replicated — types.rs:171-178)") {
    assert(Convert(L.LitLong(Int.MinValue), SqlInt) == Right(Int.MinValue))
    assert(Convert(L.LitLong(Short.MinValue), SqlSmallInt) == Right(Short.MinValue))
    assert(Convert(L.LitLong(Long.MaxValue), SqlInt).isLeft)
    assert(Convert(L.LitLong(Int.MaxValue.toLong + 1), SqlInt).isLeft)
  }

  test("'hello' does not fit VARCHAR(3) (types.rs:182-201)") {
    assert(Convert(L.LitString("hello"), SqlVarChar(3)).isLeft)
    assert(Convert(L.LitString("hel"), SqlVarChar(3)) == Right("hel"))
  }

  test("string never converts to binary or ints; int not to varchar (types.rs:162-203)") {
    assert(Convert(L.LitString("abc"), SqlVarBinary(10)).isLeft)
    assert(Convert(L.LitString("abc"), SqlInt).isLeft)
    assert(Convert(L.LitLong(1), SqlVarChar(5)).isLeft)
  }

  test("every SqlType renders to text the parser's type grammar reads back equal") {
    val scalars = Seq(SqlBigInt, SqlInt, SqlSmallInt, SqlDouble, SqlReal,
      SqlTimestamp, SqlTimestampTz, SqlTime, SqlDate, SqlBool,
      SqlDecimal(10, 2), SqlDecimal(38, 0), SqlVarChar(20), SqlVarChar(65535),
      SqlVarBinary(8), SqlEnum(Vector("it's", "a,b", "plain")))
    // plain, spaced, upper-case, reserved-word and quote-bearing names
    val members = Vector("plain" -> SqlInt, "my field" -> SqlVarChar(5),
      "Upper" -> SqlDouble, "key" -> SqlBigInt, "it's" -> SqlBool)
    val nested = Seq(
      SqlArray(SqlArray(SqlInt)),
      SqlMap(SqlVarChar(10), SqlMap(SqlInt, SqlArray(SqlDouble))),
      SqlStruct(members), SqlUnion(members),
      SqlStruct(Vector("inner" -> SqlStruct(members), "u" -> SqlUnion(members),
        "m" -> SqlMap(SqlInt, SqlStruct(members)))),
      SqlUnion(Vector("Inner Union" -> SqlUnion(members),
        "l" -> SqlArray(SqlStruct(members)))),
      SqlMap(SqlEnum(Vector("x", "y")), SqlArray(SqlUnion(members))))
    for (t <- scalars ++ scalars.map(SqlArray) ++ nested)
      assert(Parser.parseTypeText(t.render) == Right(t), t.render)
  }

  test("null converts to anything (nullable attributes)") {
    for (t <- Seq(SqlBigInt, SqlInt, SqlSmallInt, SqlVarChar(1), SqlVarBinary(1)))
      assert(Convert(L.LitNull, t) == Right(null))
  }
}
