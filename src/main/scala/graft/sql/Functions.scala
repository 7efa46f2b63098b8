package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._

import Ast._
import Analyzer.BoundOperand
import Analyzer.BoundOperand._

/** The scalar-function catalog: everything the engine knows about a
  * scalar function lives in one [[Functions.FunctionDef]] — its name
  * and aliases (the parser's call grammar and the analyzer's alias
  * resolution), its arity, the literal-argument checks made before
  * binding and the type checks made after it, its result type and its
  * lowering to a Spark Column. The model is Spark's own FunctionRegistry:
  * one map from a name to the function.
  *
  * Entries are grouped by family (string, numeric, temporal,
  * list/map/struct, JSON, system, internal plumbing), one definition per
  * family, so no single method approaches the JVM's 64 KB limit. The map
  * is built once per JVM, on first use.
  *
  * Adding a scalar function = adding one entry to its family.
  */
object Functions {
  type Rec = BoundOperand => Column
  type Typer = BoundOperand => SqlType
  type Lower = (Seq[BoundOperand], Rec) => Column
  type Result = (Seq[BoundOperand], Typer) => SqlType

  /** One scalar function.
    * @param arity        admitted argument counts
    * @param result       result type over the bound arguments
    * @param lower        the Spark Column over the bound arguments
    * @param literalCheck rejections decided on the unbound arguments
    *                     (literal-ness, literal values); the message
    * @param boundCheck   rejections decided on the bound, typed
    *                     arguments; may canonicalize them
    * @param lambdaParams >0 for the list higher-order functions: the
    *                     parameter count of their lambda argument
    * @param internal     built by the parser or analyzer only — no call
    *                     syntax reaches it
    */
  final case class FunctionDef(name: String, arity: Int => Boolean,
      result: Result, lower: Lower, aliases: Seq[String] = Nil,
      literalCheck: Seq[Operand] => Option[String] = _ => None,
      boundCheck: (Seq[BoundOperand], Typer) =>
        Either[String, Seq[BoundOperand]] = (as, _) => Right(as),
      lambdaParams: Int = 0, internal: Boolean = false) {
    def alias(ns: String*): FunctionDef = copy(aliases = aliases ++ ns)
    def arityError(n: Int): String =
      s"$name takes a different number of arguments (got $n)"
    /** Add a literal check, run after the ones already declared. */
    def pre(f: Seq[Operand] => Option[String]): FunctionDef = {
      val prev = literalCheck
      copy(literalCheck = as => prev(as).orElse(f(as)))
    }
    def needs(ok: Seq[Operand] => Boolean, msg: String): FunctionDef =
      pre(as => if (ok(as)) None else Some(msg))
    /** A literal-shape rule reported as a wrong argument count. */
    def shape(ok: Seq[Operand] => Boolean): FunctionDef =
      pre(as => if (ok(as)) None else Some(arityError(as.length)))
    /** Add a bound-argument check, run after the ones already declared. */
    def post(f: (Seq[BoundOperand], Typer) =>
        Either[String, Seq[BoundOperand]]): FunctionDef = {
      val prev = boundCheck
      copy(boundCheck = (as, t) => prev(as, t).flatMap(f(_, t)))
    }
    def needsBound(ok: (Seq[BoundOperand], Typer) => Boolean,
        msg: String): FunctionDef =
      post((as, t) => if (ok(as, t)) Right(as) else Left(msg))
  }

  // ---- building blocks ----

  private def is(n: Int): Int => Boolean = _ == n
  private def in(a: Int, b: Int): Int => Boolean = n => n == a || n == b
  private def atLeast(n: Int): Int => Boolean = _ >= n
  private val anyCount: Int => Boolean = _ => true

  private def fixed(t: SqlType): Result = (_, _) => t
  private val Str: Result = fixed(SqlType.SqlVarChar(65535))
  private val IntT: Result = fixed(SqlType.SqlInt)
  private val Big: Result = fixed(SqlType.SqlBigInt)
  private val Dbl: Result = fixed(SqlType.SqlDouble)
  private val Bool: Result = fixed(SqlType.SqlBool)
  private val Ts: Result = fixed(SqlType.SqlTimestamp)
  private val DateT: Result = fixed(SqlType.SqlDate)
  private val TimeT: Result = fixed(SqlType.SqlTime)
  private val Blob: Result = fixed(SqlType.SqlVarBinary(65535))
  private val StrList: Result = fixed(SqlType.SqlArray(SqlType.SqlVarChar(65535)))
  private val First: Result = (as, t) => t(as.head)
  private def elemOf(t: SqlType): SqlType = t match {
    case SqlType.SqlArray(e) => e
    case other               => other
  }
  /** The element type of the first (list) argument. */
  private val Elem: Result = (as, t) => elemOf(t(as.head))

  private def fn(name: String, arity: Int => Boolean, result: Result)(
      lower: Lower): FunctionDef = FunctionDef(name, arity, result, lower)
  private def f0(name: String, result: Result)(c: => Column): FunctionDef =
    fn(name, is(0), result)((_, _) => c)
  private def f1(name: String, result: Result)(
      body: Column => Column): FunctionDef =
    fn(name, is(1), result)((as, r) => body(r(as.head)))
  private def f2(name: String, result: Result)(
      body: (Column, Column) => Column): FunctionDef =
    fn(name, is(2), result)((as, r) => body(r(as(0)), r(as(1))))
  /** The same definition under several names that report errors under
    * their own name (they are not aliases of each other).
    */
  private def each(names: String*)(d: String => FunctionDef): Seq[FunctionDef] =
    names.map(d)
  private implicit class Entries(private val ds: Seq[FunctionDef]) extends AnyVal {
    /** Give one of several same-definition entries its aliases. */
    def aliasing(name: String, aliases: String*): Seq[FunctionDef] =
      ds.map(d => if (d.name == name) d.alias(aliases: _*) else d)
  }

  /** Lowering of an entry the parser or analyzer always rewrites into other
    * nodes (FunctionCatalogSpec walks every entry to keep it so).
    */
  private def rewritten(name: String): Lower = (_, _) =>
    throw new IllegalStateException(s"$name is rewritten before lowering")

  private object SLit {
    def unapply(b: BoundOperand): Option[String] = b match {
      case BLit(Lit.LitString(s)) => Some(s)
      case _                      => None
    }
  }
  private object LLit {
    def unapply(b: BoundOperand): Option[Long] = b match {
      case BLit(Lit.LitLong(n)) => Some(n)
      case _                    => None
    }
  }
  private def isStr(o: Operand): Boolean = o match {
    case Operand.Literal(Lit.LitString(_)) => true
    case _                                 => false
  }
  private def isLong(o: Operand): Boolean = o match {
    case Operand.Literal(Lit.LitLong(_)) => true
    case _                               => false
  }
  private def isLit(o: Operand): Boolean = o.isInstanceOf[Operand.Literal]
  private def strIn(o: Operand, ok: Set[String]): Boolean = o match {
    case Operand.Literal(Lit.LitString(s)) => ok(s.toLowerCase)
    case _                                 => false
  }
  private def strftimeOk(o: Operand): Boolean = o match {
    case Operand.Literal(Lit.LitString(fmt)) =>
      Analyzer.StrftimeTokens.findAllMatchIn(fmt).forall(m =>
        Analyzer.StrftimeMap.contains(m.matched)) && !fmt.contains("'") &&
        !Analyzer.StrftimeTokens.replaceAllIn(fmt, "").exists(_.isLetter)
    case _ => false
  }
  private def javaFormat(fmt: String): String =
    Analyzer.StrftimeTokens.replaceAllIn(fmt, m => Analyzer.StrftimeMap(m.matched))
  private def typeIs(t: SqlType, ok: PartialFunction[SqlType, Boolean]): Boolean =
    ok.applyOrElse(t, (_: SqlType) => false)
  private def nullBool: Column = lit(null).cast("boolean")

  // ---- the registry ----

  private lazy val all: Seq[FunctionDef] =
    strings ++ numerics ++ temporals ++ collections ++ jsons ++ system ++
      internals

  private lazy val byName: Map[String, FunctionDef] = {
    val pairs = all.flatMap(d => (d.name +: d.aliases).map(_ -> d))
    val dup = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    require(dup.isEmpty, s"function names declared twice: ${dup.mkString(", ")}")
    pairs.toMap
  }

  /** Every entry (canonical definitions; aliases ride on them). */
  def entries: Seq[FunctionDef] = all

  /** Resolve a (lower-case) name or alias. */
  def lookup(name: String): Option[FunctionDef] = byName.get(name)

  /** Whether the parser reads `name(…)` as a scalar-function call. */
  def callable(name: String): Boolean = byName.get(name).exists(!_.internal)

  /** Result type of a bound call. */
  def resultType(name: String, args: Seq[BoundOperand], t: Typer): SqlType =
    byName(name).result(args, t)

  /** Lower a bound call; `rec` keeps the caller's column resolution. */
  def lower(name: String, args: Seq[BoundOperand], rec: Rec): Column =
    byName(name).lower(args, rec)

  /** The column-capable INTERVAL constructors (to_days(n) …):
    * interval-valued operands, legal only on the right of temporal + / −,
    * exactly like INTERVAL literals.
    */
  def isIntervalConstructor(name: String): Boolean = intervalNames(name)

  // ---- string family ----

  private def strings: Seq[FunctionDef] = Seq(
    f1("upper", Str)(upper).alias("ucase"),
    f1("lower", Str)(F.lower).alias("lcase"),
    f1("length", IntT)(length).alias("strlen"),
    // substr to-end form: the remaining length is bounded by the full length
    fn("substr", in(2, 3), Str) { (as, r) => as match {
      case Seq(a, p) => val c = r(a); c.substr(r(p), length(c))
      case Seq(a, p, l) => r(a).substr(r(p), r(l))
    }}.alias("substring"),
    // concat lowers as concat_ws("") — NULL arguments act as empty
    // strings (SQL/DuckDB concat); Spark's concat would NULL the result
    fn("concat", atLeast(1), Str)((as, r) => concat_ws("", as.map(r): _*)),
    fn("replace", is(3), Str)((as, r) => replace(r(as(0)), r(as(1)), r(as(2)))),
    f1("reverse", Str)(reverse),
    f1("md5", Str)(c => md5(c.cast("binary"))),
    // pad/repeat lengths compile into the expression — literals only
    fn("repeat", is(2), Str) { case (Seq(a, LLit(n)), r) => repeat(r(a), n.toInt) }
      .needs(as => as(1) match {
        case Operand.Literal(Lit.LitLong(n)) => n >= 0
        case _ => false
      }, "repeat length/pad arguments must be literals")) ++
    each("lpad", "rpad")(n => fn(n, is(3), Str) {
      case (Seq(a, LLit(k), SLit(p)), r) =>
        if (n == "lpad") lpad(r(a), k.toInt, p) else rpad(r(a), k.toInt, p)
    }.needs(as => (as(1), as(2)) match {
      case (Operand.Literal(Lit.LitLong(k)), Operand.Literal(Lit.LitString(_))) => k >= 0
      case _ => false
    }, s"$n length/pad arguments must be literals")
      // an empty pad with a target longer than the input can never pad —
      // DuckDB raises "Insufficient padding"
      .needs(as => !(as(2) match {
        case Operand.Literal(Lit.LitString(p)) => p.isEmpty
        case _ => false
      }), s"insufficient padding in ${n.toUpperCase}: the pad string is empty")) ++
    // trim-characters forms: a literal chars argument uses the functions
    // API; a column builds the same Catalyst StringTrim* node through
    // the bridge — both codegen'd
    Seq(("trim", "both"), ("ltrim", "leading"), ("rtrim", "trailing")).map {
      case (n, side) => fn(n, in(1, 2), Str) { (as, r) =>
        (as, n) match {
          case (Seq(a), "trim")          => trim(r(a))
          case (Seq(a), "ltrim")         => ltrim(r(a))
          case (Seq(a), _)               => rtrim(r(a))
          case (Seq(a, SLit(ch)), "trim")  => trim(r(a), ch)
          case (Seq(a, SLit(ch)), "ltrim") => ltrim(r(a), ch)
          case (Seq(a, SLit(ch)), _)       => rtrim(r(a), ch)
          case (Seq(a, ch), _) =>
            graft.functions.TrimExprs.trimCol(r(a), r(ch), side)
        }
      }
    } ++ Seq(
    // Spark's split takes a REGEX: quote the literal separator; an
    // out-of-range index — and even a NULL input — reads '' (DuckDB
    // split_part never returns NULL). Negative indexes count from the
    // end (-1 is the last part; 0 reads '').
    fn("split_part", is(3), Str) { case (Seq(a, SLit(sep), LLit(n)), r) =>
      val arr = split(r(a), java.util.regex.Pattern.quote(sep))
      val idx = if (n >= 1) lit(n.toInt - 1) else F.size(arr) + lit(n.toInt)
      coalesce(F.get(arr, idx), lit(""))
    }.needs(as => (as(1), as(2)) match {
      case (Operand.Literal(Lit.LitString(sep)), Operand.Literal(Lit.LitLong(_))) =>
        sep.nonEmpty
      case _ => false
    }, "split_part takes a non-empty separator string literal and an integer index literal (negative counts from the end)"),
    // DuckDB semantics: FIRST match only unless the 'g' flag; 'i'
    // prepends (?i) to the pattern; replacement backrefs are \1-style,
    // translated in the codegen'd RegexpReplaceDuck expression. Other
    // flags (RE2 newline options) reject rather than run with Java's
    // different defaults; 'c' is DuckDB's default, a no-op here.
    fn("regexp_replace", in(3, 4), Str) { (as, r) => as match {
      case Seq(a, b, c) =>
        graft.functions.StringFunctions.regexpReplaceDuck(
          r(a), r(b), r(c), global = false)
      case Seq(a, b, c, SLit(flags)) =>
        val pat = if (flags.contains('i')) concat(lit("(?i)"), r(b)) else r(b)
        graft.functions.StringFunctions.regexpReplaceDuck(
          r(a), pat, r(c), global = flags.contains('g'))
    }}.needs(as => as.length != 4 || (as(3) match {
      case Operand.Literal(Lit.LitString(fl)) =>
        fl.forall(c => c == 'g' || c == 'i' || c == 'c')
      case _ => false
    }), "regexp_replace options must be a string literal over 'g' " +
      "(global), 'i' (case-insensitive), 'c' (case-sensitive)"),
    // Spark compiles the pattern and group index into the expression
    fn("regexp_extract", in(2, 3), Str) { (as, r) => as match {
      case Seq(a, SLit(pat))           => regexp_extract(r(a), pat, 0)
      case Seq(a, SLit(pat), LLit(g)) => regexp_extract(r(a), pat, g.toInt)
    }}.needs(regexpLits, regexpLitsMsg),
    // DuckDB defaults to group 0 (the whole match) — Spark's own default
    // is 1, so the index is always passed explicitly
    fn("regexp_extract_all", in(2, 3), StrList) { case (a +: SLit(pat) +: rest, r) =>
      val grp = rest match {
        case Seq(LLit(g)) => g.toInt
        case _            => 0
      }
      regexp_extract_all(r(a), lit(pat), lit(grp))
    }.needs(regexpLits, regexpLitsMsg),
    f2("regexp_matches", Bool)(regexp_like(_, _)),
    // the anchored form of regexp_matches
    f2("regexp_full_match", Bool)((a, b) =>
      regexp_like(a, concat(lit("^(?:"), b, lit(")$")))),
    // every char outside [A-Za-z0-9_] gets a backslash (RE2 QuoteMeta)
    f1("regexp_escape", Str)(c =>
      regexp_replace(c, lit("([^A-Za-z0-9_])"), lit("\\\\$1"))),
    // the REGEX split (literal pattern, passed through un-quoted)
    fn("regexp_split_to_array", is(2), StrList) {
      case (Seq(a, SLit(pat)), r) => split(r(a), pat)
    }.needs(separatorLit, "regexp_split_to_array separator must be a string literal")
      .alias("str_split_regex", "string_split_regex")) ++
    // literal separator, split LITERALLY (DuckDB string_split is not a
    // regex) — quoted against Spark's regex split
    each("string_split", "string_to_array", "split")(n =>
      fn(n, is(2), StrList) { case (Seq(a, SLit(sep)), r) =>
        split(r(a), java.util.regex.Pattern.quote(sep))
      }.needs(separatorLit, s"$n separator must be a string literal"))
      .aliasing("string_split", "str_split") ++ Seq(
    // DuckDB/Postgres prefix/suffix take: a NEGATIVE n drops |n|
    // characters from the opposite end (Spark's own left/right return ''
    // there, so these lower as substr algebra)
    f2("left", Str) { (c, n0) =>
      val n = n0.cast("int")
      c.substr(lit(1), when(n >= 0, n).otherwise(greatest(length(c) + n, lit(0))))
    },
    f2("right", Str) { (c, n0) =>
      val n = n0.cast("int")
      val start = when(n >= 0, greatest(length(c) - n + 1, lit(1))).otherwise(-n + 1)
      c.substr(start, length(c))
    },
    fn("translate", is(3), Str) { case (Seq(a, SLit(from), SLit(to)), r) =>
      translate(r(a), from, to)
    }.needs(as => isStr(as(1)) && isStr(as(2)),
      "translate from/to arguments must be string literals"),
    f2("instr", IntT)(instr(_, _)).alias("strpos"),
    f2("levenshtein", IntT)(levenshtein(_, _)).alias("editdist3"),
    // DuckDB chr() takes any unicode CODEPOINT; Spark's char() is
    // mod-256 ASCII
    f1("chr", Str)(c =>
      graft.functions.StringFunctions.chrCodepoint(c.cast("bigint"))),
    f1("ascii", IntT)(ascii),
    // codepoint of the first character, -1 for the empty string; ord is
    // DuckDB's unicode() twin (ord('') = -1, where ascii('') = 0)
    f1("unicode", IntT)(c => when(length(c) === 0, lit(-1)).otherwise(ascii(c))),
    f1("ord", IntT)(c => when(length(c) === 0, lit(-1)).otherwise(ascii(c))),
    // hex/unhex: Spark's natives are parity-exact with DuckDB (uppercase
    // digits, string→byte hex, two's-complement 64-bit negatives)
    f1("to_hex", Str)(hex),
    f1("hex", Str)(hex)) ++
    each("unhex", "from_hex")(n => f1(n, Blob)(unhex)) ++
    each("starts_with", "prefix")(n => f2(n, Bool)(_.startsWith(_))) ++
    each("ends_with", "suffix")(n => f2(n, Bool)(_.endsWith(_))) ++ Seq(
    f2("contains", Bool)(_.contains(_)),
    fn("printf", atLeast(1), Str) { case (SLit(fmt) +: rest, r) =>
      format_string(fmt, rest.map(r): _*)
    }.shape(as => isLit(as.head))
      .needs(as => isStr(as.head), "printf takes a string-literal format"),
    // format('{} and {}', a, b) — fmt-style sequential {} and positional
    // {n} placeholders, {{ }} escapes; desugars into one codegen'd
    // concat, NULL-propagating like DuckDB's format
    fn("format", atLeast(1), Str) { case (SLit(fmt) +: rest, r) =>
      val pieces = scala.collection.mutable.ArrayBuffer.empty[Column]
      val sb = new StringBuilder
      var next = 0
      var i = 0
      while (i < fmt.length) {
        val c = fmt.charAt(i)
        if (c == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') {
          sb.append('{'); i += 2
        } else if (c == '}' && i + 1 < fmt.length && fmt.charAt(i + 1) == '}') {
          sb.append('}'); i += 2
        } else if (c == '{') {
          val close = fmt.indexOf('}', i)
          val inner = fmt.substring(i + 1, close)
          val idx = if (inner.isEmpty) { next += 1; next - 1 } else inner.toInt
          if (sb.nonEmpty) { pieces += lit(sb.toString); sb.clear() }
          pieces += r(rest(idx)).cast("string")
          i = close + 1
        } else { sb.append(c); i += 1 }
      }
      if (sb.nonEmpty) pieces += lit(sb.toString)
      if (pieces.isEmpty) lit("") else concat(pieces.toSeq: _*)
    }.shape(as => isLit(as.head)).needs(formatOk,
      "format supports {} and {n} placeholders ({{ }} escape) with " +
        "enough arguments; {:spec} forms are not supported"),
    // Spark's concat_ws separator compiles into the expression
    fn("concat_ws", atLeast(2), Str) { case (SLit(sep) +: rest, r) =>
      concat_ws(sep, rest.map(r): _*)
    }.needs(as => isStr(as.head), "concat_ws separator must be a string literal"),
    f1("strip_accents", Str)(graft.functions.StringFunctions.stripAccents),
    f1("nfc_normalize", Str)(graft.functions.StringFunctions.nfcNormalize)) ++
    each("hamming", "mismatches")(n =>
      f2(n, Big)(graft.functions.StringFunctions.hamming)) ++ Seq(
    f2("jaccard", Dbl)(graft.functions.StringFunctions.jaccard),
    // string-similarity family (codegen'd): full Damerau-Levenshtein
    // with the alphabet table, classic Jaro, Jaro-Winkler with the
    // unconditional prefix boost (DuckDB probed)
    f2("damerau_levenshtein", Big)(graft.functions.StringFunctions.damerau),
    f2("jaro_similarity", Dbl)(graft.functions.StringFunctions.jaro),
    f2("jaro_winkler_similarity", Dbl)(graft.functions.StringFunctions.jaroWinkler),
    f1("octet_length", IntT)(octet_length),
    f1("bit_length", IntT)(bit_length),
    f1("sha256", Str)(sha2(_, 256)),
    f1("to_base64", Str)(c => base64(c.cast("binary"))).alias("base64"),
    f1("from_base64", Blob)(unbase64),
    // bin: binary text of an integer (Spark's native bin matches)
    f1("bin", Str)(c => bin(c.cast("long"))).alias("to_binary"),
    // unbin: '0101…' → packed BLOB, left-padded to whole bytes
    // (hex(unbin('101')) = '05')
    f1("unbin", Blob) { s =>
      val digits = ceil(length(s).cast("double") / 8).cast("int") * 2
      unhex(lpad(hex(conv(s, 2, 10).cast("long")), digits, lit("0")))
    }.alias("from_binary"),
    // encode/decode: VARCHAR ⇄ its UTF-8 bytes. decode of invalid UTF-8
    // substitutes U+FFFD here where DuckDB errors (documented posture)
    f1("encode", Blob)(_.cast("binary")).needsBound((as, t) =>
      typeIs(t(as.head), { case SqlType.SqlVarChar(_) => true }),
      "encode takes a VARCHAR (returns its UTF-8 bytes)"),
    f1("decode", Str)(_.cast("string")).needsBound((as, t) =>
      typeIs(t(as.head), { case SqlType.SqlVarBinary(_) => true }),
      "decode takes a BLOB (reads it as UTF-8 text)"),
    // md5_number: the FULL 128-bit signed little-endian value — no Spark
    // integer carrier fits, so it renders as the HUGEINT's decimal text
    f1("md5_number", Str)(c =>
      graft.functions.StringFunctions.md5Number(c.cast("string")))) ++
    // md5_number_lower/upper: the digest's last/first 8 bytes read as a
    // LITTLE-ENDIAN unsigned 64-bit number — reverse the hex byte pairs;
    // conv(…,16,10) is unsigned, DECIMAL(20,0) carries the full range
    each("md5_number_lower", "md5_number_upper")(n =>
      f1(n, fixed(SqlType.SqlDecimal(20, 0))) { c =>
        val h = md5(c.cast("string"))
        val positions =
          if (n == "md5_number_lower") Seq(31, 29, 27, 25, 23, 21, 19, 17)
          else Seq(15, 13, 11, 9, 7, 5, 3, 1)
        val beHex = concat(positions.map(i => h.substr(lit(i), lit(2))): _*)
        conv(beHex, 16, 10).cast("decimal(20,0)")
      }) ++
    // DuckDB's escape makes ANY following char literal; Spark's LIKE
    // rejects an escape before anything but % _ or itself. For literal
    // patterns, strip the no-op escapes so both engines accept the same
    // pattern. The escape character compiles into Spark's like.
    each("like_escape", "ilike_escape", "not_like_escape", "not_ilike_escape")(n =>
      fn(n, is(3), Bool) { case (Seq(a, b, SLit(e)), r) =>
        val pat = b match {
          case SLit(p) if e.nonEmpty =>
            val ec = e.head
            val sb = new StringBuilder
            var i = 0
            while (i < p.length) {
              if (p(i) == ec && i + 1 < p.length) {
                val c = p(i + 1)
                if (c == '%' || c == '_' || c == ec) sb.append(ec)
                sb.append(c)
                i += 2
              } else { sb.append(p(i)); i += 1 }
            }
            lit(sb.toString)
          case _ => r(b)
        }
        n match {
          case "like_escape"     => like(r(a), pat, lit(e))
          case "ilike_escape"    => ilike(r(a), pat, lit(e))
          case "not_like_escape" => !like(r(a), pat, lit(e))
          case _                 => !ilike(r(a), pat, lit(e))
        }
      }.needs(as => as(2) match {
        case Operand.Literal(Lit.LitString(e)) => e.length == 1
        case _ => false
      }, s"$n takes a single-character string-literal escape")) ++ Seq(
    // grapheme-cluster string functions (UTS #29 segmentation — Java's
    // \X regex matches DuckDB's utf8proc clusters)
    f1("length_grapheme", Big)(graft.functions.StringFunctions.lengthGrapheme),
    f2("left_grapheme", Str)((a, n) =>
      graft.functions.StringFunctions.leftGrapheme(a, n.cast("long"))),
    f2("right_grapheme", Str)((a, n) =>
      graft.functions.StringFunctions.rightGrapheme(a, n.cast("long"))),
    fn("substring_grapheme", is(3), Str)((as, r) =>
      graft.functions.StringFunctions.substringGrapheme(
        r(as(0)), r(as(1)).cast("long"), r(as(2)).cast("long"))),
    // bar(x, min, max [, width=80]): full blocks + one floor'd eighth
    // block; NEGATIVE fractions render EMPTY, fractions above 1 CLAMP to
    // a full-width bar, and the space padding counts BYTES (each block
    // char is 3 UTF-8 bytes) — DuckDB 1.0 probed
    fn("bar", in(3, 4), Str) { (as, r) =>
      val x = r(as(0)).cast("double")
      val w = as.lift(3).map(r(_).cast("double")).getOrElse(lit(80.0))
      val frac = (x - r(as(1)).cast("double")) /
        (r(as(2)).cast("double") - r(as(1)).cast("double"))
      val blocksExact = when(frac < 0, lit(0.0))
        .when(frac > 1, w).otherwise(frac * w)
      val full = floor(blocksExact).cast("int")
      val eighth = floor((blocksExact - full) * 8).cast("int")
      val eighthChar = element_at(
        array(Seq("", "▏", "▎", "▍", "▌", "▋",
          "▊", "▉").map(lit): _*), eighth + 1)
      val body = concat(call_function("repeat", lit("█"), full), eighthChar)
      val byteLen = (full + when(eighth > 0, 1).otherwise(0)) * 3
      concat(body, call_function("repeat", lit(" "),
        greatest(w.cast("int") - byteLen, lit(0))))
    },
    // format_bytes: binary units, value TRUNCATED to one decimal in TWO
    // stages (DuckDB probed: 17406450 bytes prints '16.5 MiB': the byte
    // count is first integer-divided down to the previous unit, and only
    // that integer feeds the final truncating division by 1024)
    f1("format_bytes", Str)(c => readableSize(c, 1024.0,
      Seq("KiB", "MiB", "GiB", "TiB", "PiB"), twoStage = true))
      .alias("formatreadablesize"),
    // the base-1000 sibling (DuckDB's lowercase kB)
    f1("formatreadabledecimalsize", Str)(c => readableSize(c, 1000.0,
      Seq("kB", "MB", "GB", "TB", "PB"), twoStage = false)),
    // BIT functions over '0'/'1' bitstrings (BIT is carried as VARCHAR —
    // DuckDB renders BIT as the bitstring text); get_bit/set_bit index
    // 0-based from the LEFT, out-of-range raises like DuckDB
    f2("get_bit", IntT) { (b, i0) =>
      val i = i0.cast("int")
      when(i < 0 || i >= length(b), raise_error(bitRangeMsg(b, i)))
        .otherwise(b.substr(i + 1, lit(1)).cast("int"))
    },
    fn("set_bit", is(3), Str) { (as, r) =>
      val b = r(as(0)); val i = r(as(1)).cast("int")
      val v = r(as(2)).cast("int")
      when(i < 0 || i >= length(b), raise_error(bitRangeMsg(b, i)))
        .when(v =!= 0 && v =!= 1,
          raise_error(lit("set_bit value must be 0 or 1")))
        .otherwise(concat(b.substr(lit(1), i), v.cast("string"),
          b.substr(i + 2, length(b))))
    },
    // bit_position(search, source): 1-based leftmost match, 0 absent
    f2("bit_position", IntT)((n, h) => instr(h, n).cast("int")),
    // bitstring(s, len): left-pad with '0'; len below the input length
    // raises like DuckDB
    f2("bitstring", Str) { (b, l0) =>
      val l = l0.cast("int")
      when(l < length(b), raise_error(
        lit("bitstring: length must be equal or larger than input string")))
        .otherwise(call_function("lpad", b, l, lit("0")))
    },
    // path helpers (DuckDB probed: parse_path('/a/b/c.txt') =
    // ['/', 'a', 'b', 'c.txt']; parse_dirname = first component,
    // parse_filename = last (optionally extension-trimmed),
    // parse_dirpath = the path minus the final component)
    f1("parse_path", StrList) { p =>
      val parts = F.filter(split(p, "/"), x => x =!= "")
      when(p.startsWith("/"), concat(array(lit("/")), parts)).otherwise(parts)
    },
    f1("parse_dirname", Str) { p =>
      val parts = F.filter(split(p, "/"), x => x =!= "")
      when(p.startsWith("/"), lit("/"))
        .otherwise(coalesce(F.get(parts, lit(0)), lit("")))
    },
    fn("parse_filename", in(1, 2), Str) { (as, r) =>
      val base = element_at(F.filter(split(r(as.head), "/"), x => x =!= ""), -1)
      val trimExt = as.lift(1) match {
        case Some(BLit(Lit.LitBool(b))) => b
        case _                          => false
      }
      if (trimExt) regexp_replace(base, "\\.[^.]*$", "") else base
    },
    f1("parse_dirpath", Str)(regexp_replace(_, "/+[^/]*/*$", "")),
    fn("to_base", is(2), Str) { case (Seq(a, LLit(b)), r) =>
      conv(r(a).cast("long"), 10, b.toInt)
    }.needs(as => as(1) match {
      case Operand.Literal(Lit.LitLong(b)) => b >= 2 && b <= 36
      case _ => false
    }, "to_base takes an integer-literal radix (2-36)"))

  private def separatorLit(as: Seq[Operand]): Boolean = isStr(as(1))
  private def regexpLits(as: Seq[Operand]): Boolean = (as(1), as.lift(2)) match {
    case (Operand.Literal(Lit.LitString(_)),
          None | Some(Operand.Literal(Lit.LitLong(_)))) => true
    case _ => false
  }
  private val regexpLitsMsg =
    "regexp_extract takes a string-literal pattern and an integer-literal group"
  private def bitRangeMsg(b: Column, i: Column): Column = concat(
    lit("bit index "), i.cast("string"),
    lit(" out of valid range (0.."), (length(b) - 1).cast("string"), lit(")"))

  /** format's literal: sequential {} and positional {n} placeholders
    * with {{ }} escapes; {:spec} forms reject (they would silently
    * diverge from fmt's width/precision rules); placeholder indexes must
    * stay inside the argument list.
    */
  private def formatOk(as: Seq[Operand]): Boolean = as.head match {
    case Operand.Literal(Lit.LitString(fmt)) =>
      var bad = false
      var next = 0
      var maxIdx = -1
      var i = 0
      while (i < fmt.length && !bad) {
        val c = fmt.charAt(i)
        if (c == '{' && i + 1 < fmt.length && fmt.charAt(i + 1) == '{') i += 2
        else if (c == '}' && i + 1 < fmt.length && fmt.charAt(i + 1) == '}') i += 2
        else if (c == '{') {
          val close = fmt.indexOf('}', i)
          if (close < 0) bad = true
          else {
            val inner = fmt.substring(i + 1, close)
            if (inner.isEmpty) { maxIdx = math.max(maxIdx, next); next += 1 }
            else if (inner.forall(_.isDigit)) maxIdx = math.max(maxIdx, inner.toInt)
            else bad = true
            i = close + 1
          }
        } else if (c == '}') bad = true
        else i += 1
      }
      !bad && maxIdx < as.length - 1
    case _ => false
  }

  /** Human-readable byte counts: "N bytes" below one unit, else the
    * value truncated to one decimal plus the unit.
    */
  private def readableSize(c: Column, base: Double, units: Seq[String],
      twoStage: Boolean): Column = {
    val x = c.cast("double")
    def scaled(k: Int): Column = {
      val t =
        if (twoStage) {
          val inter = signum(x) * floor(abs(x) / math.pow(base, k - 1))
          signum(x) * floor(abs(inter) * 10 / base) / 10
        } else {
          val v = x / math.pow(base, k)
          signum(v) * floor(abs(v) * 10) / 10
        }
      format_string("%.1f", t)
    }
    val b = lit(base)
    units.zipWithIndex.foldRight(
      concat(c.cast("string"),
        when(abs(x) === 1.0, lit(" byte")).otherwise(lit(" bytes")))) {
      case ((u, i), els) =>
        val k = i + 1
        if (k == units.length)
          when(abs(x) >= pow(b, k), concat(scaled(k), lit(s" $u"))).otherwise(els)
        else
          when(abs(x) >= pow(b, k) && abs(x) < pow(b, k + 1),
            concat(scaled(k), lit(s" $u"))).otherwise(els)
    }
  }

  // ---- numeric family ----

  private def numerics: Seq[FunctionDef] = Seq(
    f1("abs", First)(abs),
    fn("round", in(1, 2), Dbl) { (as, r) => as match {
      case Seq(a)          => round(r(a), 0)
      case Seq(a, LLit(n)) => round(r(a), n.toInt)
    }}.needs(as => as.length == 1 || isLong(as(1)),
      "round scale must be an integer literal"),
    f1("floor", Big)(floor),
    f1("ceil", Big)(ceil).alias("ceiling"),
    f1("sqrt", Dbl)(sqrt),
    f2("power", Dbl)(pow(_, _)).alias("pow"),
    f2("mod", First)(try_mod(_, _)), // mod(x, 0) reads NULL
    // DuckDB's sign returns an integer -1/0/1; Spark's signum a double
    f1("sign", IntT)(c => signum(c).cast("int")),
    f1("exp", Dbl)(exp),
    f1("ln", Dbl)(log),
    f1("log10", Dbl)(log10),
    f1("log2", Dbl)(log2),
    // DuckDB: log(x) is log10; the base compiles into the plan
    fn("log", in(1, 2), Dbl) { (as, r) => as match {
      case Seq(a) => log10(r(a))
      case Seq(BLit(b), x) =>
        val base = (b: @unchecked) match { // a numeric literal, checked
          case Lit.LitLong(n)   => n.toDouble
          case Lit.LitDouble(v) => v
        }
        log(base, r(x))
    }}.needs(as => as.length == 1 || (as.head match {
      case Operand.Literal(Lit.LitLong(_) | Lit.LitDouble(_)) => true
      case _ => false
    }), "log(base, x) takes a numeric-literal base"),
    // trig/rounding parity with the reference dialect — libm last-ulp
    // differences are absorbed by the query-side round() contract
    f1("sin", Dbl)(sin),
    f1("cos", Dbl)(cos),
    f1("tan", Dbl)(tan),
    f1("asin", Dbl)(asin),
    f1("acos", Dbl)(acos),
    f1("atan", Dbl)(atan),
    f2("atan2", Dbl)(atan2(_, _)),
    f1("cot", Dbl)(c => lit(1.0) / tan(c)),
    f1("degrees", Dbl)(degrees),
    f1("radians", Dbl)(radians),
    f0("pi", Dbl)(lit(math.Pi)),
    f1("cbrt", Dbl)(cbrt),
    f1("factorial", Big)(c => factorial(c.cast("int"))),
    // NULL-propagating like DuckDB's (Spark's isnan reads NULL→false)
    f1("isnan", Bool)(c => when(c.isNull, nullBool).otherwise(isnan(c))),
    f1("isinf", Bool)(c =>
      c === lit(Double.PositiveInfinity) || c === lit(Double.NegativeInfinity)),
    f1("isfinite", Bool)(c => when(c.isNull, nullBool).otherwise(
      !isnan(c) && c =!= lit(Double.PositiveInfinity) &&
        c =!= lit(Double.NegativeInfinity))),
    f1("bit_count", IntT)(bit_count),
    f2("gcd", Big)((a, b) => graft.functions.NumericFunctions.gcd(
      a.cast("long"), b.cast("long"))).alias("greatest_common_divisor"),
    f2("lcm", Big)((a, b) => graft.functions.NumericFunctions.lcm(
      a.cast("long"), b.cast("long"))).alias("least_common_multiple"),
    fn("greatest", atLeast(2), First)((as, r) => greatest(as.map(r): _*)),
    fn("least", atLeast(2), First)((as, r) => least(as.map(r): _*)),
    // even: round away from zero to the next EVEN integer
    f1("even", Dbl) { c =>
      val x = c.cast("double")
      signum(x) * ceil(abs(x) / 2) * 2
    },
    // negative reads true; DuckDB 1.0 reads FALSE for -0.0, as < 0 does
    f1("signbit", Bool)(_ < lit(0)),
    f1("gamma", Dbl)(c => graft.functions.NumericFunctions.gamma(c.cast("double"))),
    f1("lgamma", Dbl)(c => graft.functions.NumericFunctions.lgamma(c.cast("double"))),
    // trunc: toward zero (2.7 → 2, -2.7 → -2)
    f1("trunc", Dbl) { c =>
      val x = c.cast("double")
      signum(x) * floor(abs(x))
    },
    // banker's rounding — Spark's bround is exactly that
    fn("round_even", in(1, 2), Dbl) { (as, r) => as match {
      case Seq(a)          => bround(r(a).cast("double"), 0)
      case Seq(a, LLit(n)) => bround(r(a).cast("double"), n.toInt)
    }}.shape(as => as.length == 1 || isLit(as(1)))
      .needs(as => as.length == 1 || isLong(as(1)),
        "round_even precision must be an integer literal"),
    f2("xor", Big)((a, b) => a.cast("long").bitwiseXOR(b.cast("long"))),
    f2("nextafter", Dbl)((a, b) => graft.functions.NumericFunctions.nextafter(
      a.cast("double"), b.cast("double"))),
    // floor division / floor modulo as DOUBLE (DuckDB probed: fdiv(-7,2)
    // = -4, fmod(-7,3) = 2; x/0 and x%0 read NULL)
    f2("fdiv", Dbl)((a, b) =>
      floor(try_divide(a.cast("double"), b.cast("double"))).cast("double")),
    f2("fmod", Dbl) { (a, b) =>
      val (xd, yd) = (a.cast("double"), b.cast("double"))
      xd - yd * floor(try_divide(xd, yd))
    }) ++
    // operator function-forms: the parser desugars the two-argument
    // calls onto + - * and // so the binder's arithmetic rules apply
    each("add", "subtract", "multiply", "divide")(n =>
      fn(n, is(2), First)(rewritten(n)))

  // ---- temporal family ----

  private val datePartUnits = Set("year", "quarter", "month", "day", "hour",
    "minute", "second", "week", "dow", "doy", "dayofweek", "dayofyear", "epoch")
  private val dateDiffUnits = Set("day", "month", "year", "hour", "minute", "second")
  private val dateTruncUnits = Set("year", "quarter", "month", "week", "day",
    "hour", "minute", "second")

  /** ISO day of week: Monday = 1 … Sunday = 7 (Spark's dayofweek is Sunday = 1). */
  private def isoDow(d: Column): Column = (dayofweek(d) + 5) % 7 + 1
  /** The year of the ISO week = the year of that week's Thursday. */
  private def isoYear(d: Column): Column =
    year(date_add(d.cast("date"), (lit(4) - isoDow(d)).cast("int")))

  private def temporals: Seq[FunctionDef] = Seq(
    f1("year", IntT)(year),
    f1("month", IntT)(month),
    f1("day", IntT)(dayofmonth),
    f1("quarter", IntT)(quarter),
    f1("hour", IntT)(hour),
    f1("minute", IntT)(minute),
    f1("second", IntT)(second),
    // days from b to a (Spark argument order: end, start)
    f2("datediff", IntT)(datediff(_, _)),
    fn("date_trunc", is(2), Ts) { case (Seq(SLit(u), b), r) =>
      date_trunc(u.toLowerCase, r(b))
    }.needs(as => strIn(as.head, dateTruncUnits),
      "date_trunc unit must be a string literal (year/quarter/month/week/day/hour/minute/second)")
      .alias("datetrunc"),
    fn("date_part", is(2), (as, _) => as.head match {
      case SLit(u) if u.equalsIgnoreCase("epoch") => SqlType.SqlDouble
      case _                                      => SqlType.SqlInt
    }) { case (Seq(SLit(u), b0), r) =>
      val b = r(b0)
      u.toLowerCase match {
        case "year"    => year(b).cast("int")
        case "quarter" => quarter(b).cast("int")
        case "month"   => month(b).cast("int")
        case "day"     => dayofmonth(b).cast("int")
        case "hour"    => hour(b).cast("int")
        case "minute"  => minute(b).cast("int")
        case "week"    => weekofyear(b).cast("int") // ISO week, both engines
        // DuckDB dow: Sunday=0; Spark dayofweek: Sunday=1
        case "dow" | "dayofweek" => (dayofweek(b) - 1).cast("int")
        case "doy" | "dayofyear" => dayofyear(b).cast("int")
        // seconds since epoch with fraction (DuckDB epoch is DOUBLE)
        case "epoch" => b.cast("timestamp").cast("double")
        case _       => second(b).cast("int")
      }
    }.needs(as => strIn(as.head, datePartUnits),
      "date_part unit must be a string literal (year/quarter/month/week/day/dow/doy/hour/minute/second/epoch)")
      .alias("datepart"),
    fn("make_date", is(3), DateT)((as, r) => make_date(r(as(0)), r(as(1)), r(as(2)))),
    f1("last_day", DateT)(last_day),
    f1("dayname", Str)(date_format(_, "EEEE")),
    f1("monthname", Str)(date_format(_, "MMMM")),
    f1("century", IntT)(c => ceil(year(c).cast("double") / 100).cast("int")),
    f1("isodow", IntT)(c => isoDow(c).cast("int"))) ++
    each("week", "weekofyear")(n => f1(n, IntT)(weekofyear)) ++ Seq(
    f1("dayofmonth", IntT)(dayofmonth),
    f1("isoyear", IntT)(isoYear),
    // millisecond/microsecond INCLUDE the seconds component (DuckDB
    // probed: 10:30:45.123456 → ms 45123, µs 45123456); epoch minutes
    // are 60-aligned so a positive-epoch modulus is exact
    f1("microsecond", IntT)(c =>
      (unix_micros(c.cast("timestamp")) % 60000000L).cast("int")),
    f1("millisecond", IntT)(c =>
      ((unix_micros(c.cast("timestamp")) % 60000000L) / 1000L).cast("int")),
    f1("decade", IntT)(c => floor(year(c).cast("double") / 10).cast("int")),
    f1("millennium", IntT)(c => ceil(year(c).cast("double") / 1000).cast("int")),
    // weekday: Sunday = 0 … Saturday = 6
    f1("weekday", IntT)(c => (dayofweek(c) - 1).cast("int")),
    // yearweek: ISO year · 100 + ISO week (202403 for 2024-01-15)
    f1("yearweek", IntT)(d => (isoYear(d) * 100 + weekofyear(d)).cast("int")),
    // julian day number as a double (julian(2000-01-01) = 2451545.0)
    f1("julian", Dbl)(c => (datediff(c.cast("date"),
      lit(java.sql.Date.valueOf("2000-01-01"))) + lit(2451545)).cast("double")),
    f1("era", IntT)(c => when(year(c) > 0, lit(1)).otherwise(lit(0))),
    // epoch family: epoch() is fractional SECONDS as DOUBLE (a
    // timestamp→double cast in Spark is exactly that); the rest exact
    // integers
    f1("epoch", Dbl)(_.cast("timestamp").cast("double")),
    f1("epoch_ms", Big)(c => unix_millis(c.cast("timestamp"))),
    f1("epoch_us", Big)(c => unix_micros(c.cast("timestamp"))),
    f1("epoch_ns", Big)(c => unix_micros(c.cast("timestamp")) * lit(1000L)),
    fn("make_timestamp", is(6), Ts)((as, r) =>
      make_timestamp(r(as(0)), r(as(1)), r(as(2)), r(as(3)), r(as(4)),
        r(as(5)).cast("decimal(16,6)"))),
    // make_time(h, m, s): seconds take a fraction (DECIMAL micros)
    fn("make_time", is(3), TimeT)((as, r) =>
      call_function("make_time", r(as(0)).cast("int"), r(as(1)).cast("int"),
        r(as(2)).cast("decimal(16,6)"))),
    f1("to_timestamp", Ts)(timestamp_seconds),
    // strftime: the C-style format is a literal, translated token by
    // token onto Spark's Java pattern — unknown % tokens reject
    fn("strftime", is(2), Str) { case (Seq(a, SLit(fmt)), r) =>
      date_format(r(a), javaFormat(fmt))
    }.needs(as => strftimeOk(as(1)), strftimeMsg("strftime")),
    fn("strptime", is(2), Ts) { case (Seq(a, SLit(fmt)), r) =>
      to_timestamp(r(a), javaFormat(fmt))
    }.needs(as => strftimeOk(as(1)), strftimeMsg("strptime")),
    // NULL on an unparseable input instead of raising
    fn("try_strptime", is(2), Ts) { case (Seq(a, SLit(fmt)), r) =>
      try_to_timestamp(r(a), lit(javaFormat(fmt)))
    }.needs(as => strftimeOk(as(1)), strftimeMsg("try_strptime")),
    // DuckDB's time_bucket: epoch-aligned fixed-width buckets — exact
    // micros arithmetic (floor-aligned for pre-origin instants too).
    // EVERY non-month width aligns to the TimescaleDB origin Monday
    // 2000-01-03 (probed: 7-hour buckets at 2000-01-01 10:00 → 06:00)
    fn("time_bucket", is(2), Ts) { case (Seq(BInterval(n, u), a), r) =>
      val widthMicros = n * (u.toLowerCase match {
        case "second" => 1L
        case "minute" => 60L
        case "hour"   => 3600L
        case "day"    => 86400L
        case _ /* week */ => 604800L
      }) * 1000000L
      val origin = 946857600000000L
      val um = unix_micros(r(a).cast("timestamp"))
      val off = ((um - origin) % widthMicros + widthMicros) % widthMicros
      timestamp_micros(um - off)
    }.needs(as => as.head match {
      case Operand.Interval(_, u) =>
        Set("second", "minute", "hour", "day", "week")(u.toLowerCase)
      case _ => false
    }, "time_bucket takes a fixed-length INTERVAL literal width " +
      "(second/minute/hour/day/week) and a timestamp"),
    // date_diff('part', a, b): DuckDB counts PART-boundary crossings —
    // day: date difference; month/year: calendar component differences;
    // hour/minute/second: epoch-quotient differences
    fn("date_diff", is(3), Big) { case (Seq(SLit(u), a, b), r) =>
      val (s0, e0) = (r(a), r(b))
      (u.toLowerCase match {
        case "day"   => datediff(e0, s0)
        case "month" => (year(e0) * 12 + month(e0)) - (year(s0) * 12 + month(s0))
        case "year"  => year(e0) - year(s0)
        case "hour"   => (e0.cast("long") / 3600).cast("long") -
          (s0.cast("long") / 3600).cast("long")
        case "minute" => (e0.cast("long") / 60).cast("long") -
          (s0.cast("long") / 60).cast("long")
        case _ /* second */ => e0.cast("long") - s0.cast("long")
      }).cast("long")
    }.needs(as => strIn(as.head, dateDiffUnits),
      "date_diff part must be a string literal (day/month/year/hour/minute/second)")
      .alias("datesub", "date_sub"),
    // date_add(x, INTERVAL …) binds as x + INTERVAL
    fn("date_add", is(2), First)(rewritten("date_add")),
    // age(a, b) lowers to DuckDB's RENDERED interval text (what CAST TO
    // VARCHAR reads); date_part(unit, age(…)) fuses into __age_part
    fn("age", is(2), Str)((as, r) => ageCol(None, as(0), as(1), r)),
    f0("current_date", DateT)(current_date()).alias("today"),
    f0("now", Ts)(current_timestamp())
      .alias("get_current_timestamp", "transaction_timestamp"),
    // timezone(tz, x) binds by direction (__tz_to_tz / __tz_to_naive);
    // the timezone parts of a naive TIMESTAMP read 0 (DuckDB probed —
    // the engine's timestamps are session-naive like the fixtures')
    fn("timezone", in(1, 2), IntT) { case (Seq(a), r) => tzPart(r(a)) }
      .needsBound((as, t) => as.length == 1 || typeIs(t(as(1)), {
        case SqlType.SqlTimestampTz | SqlType.SqlTimestamp | SqlType.SqlDate => true
      }), "timezone takes a TIMESTAMP, TIMESTAMPTZ or DATE value")) ++
    each("timezone_hour", "timezone_minute")(n => f1(n, IntT)(tzPart)) ++
    intervalCtors

  private def tzPart(c: Column): Column =
    when(c.cast("timestamp").isNull, lit(null).cast("int")).otherwise(lit(0))
  private def strftimeMsg(f: String) =
    s"$f takes a literal format using %Y %y %m %d %H %M %S %j (no quotes)"

  /** The to_days(n)-family INTERVAL constructors (column-capable where
    * the literal syntax is parse-time fixed); placement is enforced by
    * the analyzer, so these only ever feed temporal + / −. Typed as
    * TIMESTAMP, the placeholder INTERVAL literals carry too.
    */
  private lazy val intervalCtors: Seq[FunctionDef] = {
    val z = lit(0)
    def iv(name: String)(mk: Column => Column) = f1(name, Ts)(mk)
    Seq(
      iv("to_years")(n => make_interval(n.cast("int"))),
      iv("to_decades")(n => make_interval((n * 10).cast("int"))),
      iv("to_centuries")(n => make_interval((n * 100).cast("int"))),
      iv("to_millennia")(n => make_interval((n * 1000).cast("int"))),
      iv("to_quarters")(n => make_interval(z, (n * 3).cast("int"))),
      iv("to_months")(n => make_interval(z, n.cast("int"))),
      iv("to_weeks")(n => make_interval(z, z, n.cast("int"))),
      iv("to_days")(n => make_interval(z, z, z, n.cast("int"))),
      iv("to_hours")(n => make_interval(z, z, z, z, n.cast("int"))),
      iv("to_minutes")(n => make_interval(z, z, z, z, z, n.cast("int"))),
      iv("to_seconds")(n =>
        make_interval(z, z, z, z, z, z, n.cast("decimal(18,6)"))),
      iv("to_milliseconds")(n => make_interval(z, z, z, z, z, z,
        (n.cast("decimal(18,3)") / 1000).cast("decimal(18,6)"))),
      iv("to_microseconds")(n => make_interval(z, z, z, z, z, z,
        (n.cast("decimal(18,0)") / 1000000).cast("decimal(18,6)"))))
  }
  private lazy val intervalNames: Set[String] = intervalCtors.map(_.name).toSet

  /** age(a, b): Postgres/DuckDB symbolic interval — full months by field
    * subtraction with a day/time borrow (NOT months_between, whose
    * month-end fractions diverge at clamped anchors), then the day count
    * and time-of-day remainder against the month-shifted anchor. With a
    * unit, one field of it (the fused date_part(unit, age(…))).
    */
  private def ageCol(unitOpt: Option[String], a: BoundOperand,
      b: BoundOperand, r: Rec): Column = {
    val x0 = r(a).cast("timestamp")
    val y0 = r(b).cast("timestamp")
    val neg = x0 < y0
    // the borrow algebra lives in ONE compact native expression — the
    // Column-DSL version re-inlined the whole chain at every reference
    // below, and six age() calls per SELECT cost seconds of Catalyst
    // analysis time
    val parts = {
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.column(graft.functions.AgeParts(
        Bridge.expression(x0), Bridge.expression(y0)))
    }
    val us = parts.getField("micros")
    val d = parts.getField("days")
    val m = parts.getField("months")
    // Column './' is fractional — the parts are non-negative pre-sign,
    // so floor-divide is exact integer division
    def idiv(c: Column, k: Long): Column = floor(c / k).cast("long")
    unitOpt match {
      case Some(u) =>
        val mag = u match {
          case "year"   => idiv(m, 12L)
          case "month"  => m % 12L
          case "day"    => d
          case "hour"   => idiv(us, 3600000000L)
          case "minute" => idiv(us % 3600000000L, 60000000L)
          case _        => idiv(us % 60000000L, 1000000L)
        }
        when(x0.isNull || y0.isNull, lit(null).cast("long"))
          .otherwise(when(neg, -mag).otherwise(mag))
      case None =>
        val sign = when(neg, lit("-")).otherwise(lit(""))
        def seg(n: Column, word: String): Column =
          when(n =!= 0, concat(sign, n.cast("string"), lit(s" $word"),
            when(n =!= 1, lit("s")).otherwise(lit("")))).otherwise(lit(""))
        val h = idiv(us, 3600000000L)
        val mi = idiv(us % 3600000000L, 60000000L)
        val sec = idiv(us % 60000000L, 1000000L)
        val frac = us % 1000000L
        val timeStr = concat(sign,
          format_string("%02d:%02d:%02d", h.cast("int"), mi.cast("int"),
            sec.cast("int")),
          when(frac =!= 0,
            concat(lit("."), rtrim(format_string("%06d", frac.cast("int")),
              "0"))).otherwise(lit("")))
        val segs = array(
          seg(idiv(m, 12L), "year"), seg(m % 12L, "month"), seg(d, "day"),
          when(us =!= 0, timeStr).otherwise(lit("")))
        val joined = array_join(array_remove(segs, ""), " ")
        when(x0.isNull || y0.isNull, lit(null).cast("string"))
          .otherwise(when(joined === "", lit("00:00:00")).otherwise(joined))
    }
  }

  // ---- list / map / struct family ----

  private def isMap(t: SqlType): Boolean = t.isInstanceOf[SqlType.SqlMap]
  private def mapValueList(t: SqlType): SqlType = t match {
    case SqlType.SqlMap(_, v) => SqlType.SqlArray(v)
    case other                => other
  }
  /** DuckDB's list-returning map subscript: [] when the key is absent (a
    * NULL value still reads [null], which is why element_at alone won't do).
    */
  private def mapLookup(mc: Column, kc: Column): Column =
    when(map_contains_key(mc, kc), array(element_at(mc, kc)))
      .otherwise(slice(array(element_at(mc, kc)), 1, 0))
  /** Element-wise vector kernels; unequal dimensions raise like DuckDB. */
  private def vectorOp(k: (Column, Column) => Column): (Column, Column) => Column =
    (a, b) => {
      val (ac, bc) = (a.cast("array<double>"), b.cast("array<double>"))
      when(F.size(ac) =!= F.size(bc),
        raise_error(lit("list dimensions must be equal"))).otherwise(k(ac, bc))
    }
  /** Fold a list with its first non-NULL element as the seed: an empty
    * (or all-NULL) list reads NULL.
    */
  private def headSeededSum(nn: Column, seed: Column => Column): Column =
    aggregate(slice(nn, lit(2), greatest(F.size(nn) - 1, lit(0))),
      seed(try_element_at(nn, lit(1))), (acc, x) => acc + x)

  private def collections: Seq[FunctionDef] = Seq(
    fn("list_value", anyCount, (as, t) => SqlType.SqlArray(
      as.headOption.map(t).getOrElse(SqlType.SqlVarChar(65535))))(
      (as, r) => array(as.map(r): _*))
      .alias("array_value", "list_pack", "unpivot_list")) ++
    // len/array_length also take strings (rebound to length)
    each("len", "array_length")(n => f1(n, Big)(F.size)) ++
    each("list_contains", "array_contains")(n =>
      f2(n, Bool)(array_contains(_, _)))
      .aliasing("list_contains", "array_has", "list_has") ++
    // 1-based; 0 → NULL, negative indexes from the end, OOB → NULL (the
    // CASE guards index 0 — evaluated lazily, so 0 never reaches
    // try_element_at). On a MAP or VARCHAR base list_extract rebinds to
    // the map/string subscript.
    each("list_extract", "list_element")(n =>
      f2(n, Elem)((a, i) => when(i === 0, lit(null))
        .otherwise(try_element_at(a, i.cast("int"))))).map(d =>
      if (d.name != "list_extract") d
      else d.alias("array_extract").needsBound((as, t) => t(as.head) match {
        case SqlType.SqlMap(k, _) => SqlType.comparable(k, t(as(1)))
        case _                    => true
      }, "map subscript key must match the map's key type")) ++
    // DuckDB's list_distinct drops NULLs and has no order guarantee;
    // compact-then-distinct preserves first occurrence
    each("list_distinct", "array_distinct")(n =>
      f1(n, First)(c => array_distinct(array_compact(c)))) ++
    // ascending, NULLs LAST (DuckDB's default == Spark array_sort's);
    // DESC via sort-ascending + reverse (NULL elements then land FIRST)
    each("list_sort", "array_sort")(n => fn(n, in(1, 2), First) { (as, r) =>
      as match {
        case Seq(a) => array_sort(r(a))
        case Seq(a, SLit(dr)) =>
          if (dr.equalsIgnoreCase("desc")) reverse(array_sort(r(a)))
          else array_sort(r(a))
      }
    }.shape(as => as.length == 1 || strIn(as(1), Set("asc", "desc")))) ++ Seq(
    fn("array_to_string", is(2), Str) { case (Seq(a, SLit(sep)), r) =>
      array_join(r(a), sep)
    }.needs(separatorLit, "array_to_string separator must be a string literal")) ++
    // 1-based position, 0 when absent (both engines)
    each("list_position", "array_position")(n =>
      f2(n, Big)(array_position(_, _)))
      .aliasing("list_position", "array_indexof", "list_indexof") ++
    each("list_concat", "array_concat")(n => f2(n, First)(concat(_, _)))
      .aliasing("list_concat", "array_cat", "list_cat") ++ Seq(
    // l[a:b] — 1-based, both ends inclusive (DuckDB bracket slice)
    fn("list_slice", is(3), First)((as, r) =>
      slice(r(as(0)), r(as(1)), r(as(2)) - r(as(1)) + lit(1))).alias("array_slice"),
    // explode: Spark's Generate — valid only as a top-level projection
    // item (analyzer-enforced); drops empty/NULL rows like DuckDB
    f1("unnest", Elem)(explode)) ++
    // list higher-order functions: the lambda binds to the list's element
    // type and its body lowers under a parameter environment (captured
    // columns resolve through the caller's resolution)
    each("list_transform", "array_transform")(n => fn(n, is(2),
      (as, t) => SqlType.SqlArray(t(as(1)))) {
      case (Seq(a, BLambda(ps, body)), r) =>
        transform(r(a), x => Lowering.lowerLambdaBody(body, Map(ps.head -> x), r))
    }.copy(lambdaParams = 1))
      .aliasing("list_transform", "list_apply", "array_apply", "apply") ++
    each("list_filter", "array_filter")(n => fn(n, is(2), First) {
      case (Seq(a, BLambda(ps, body)), r) =>
        F.filter(r(a), x => Lowering.lowerLambdaBody(body, Map(ps.head -> x), r)
          .cast("boolean"))
    }.copy(lambdaParams = 1)).aliasing("list_filter", "filter") ++ Seq(
    // DuckDB folds with the FIRST element as the seed (an empty list
    // errors there; here it reads NULL — documented)
    fn("list_reduce", is(2), (as, t) => t(as(1))) {
      case (Seq(a, BLambda(ps, body)), r) =>
        val c = r(a)
        aggregate(slice(c, lit(2), greatest(F.size(c) - 1, lit(0))),
          try_element_at(c, lit(1)),
          (acc, x) => Lowering.lowerLambdaBody(body,
            Map(ps.head -> acc, ps(1) -> x), r))
    }.copy(lambdaParams = 2).alias("array_reduce", "reduce"),
    // ---- maps ----
    fn("map", is(2), (as, t) => (t(as(0)), t(as(1))) match {
      case (SqlType.SqlArray(k), SqlType.SqlArray(v)) => SqlType.SqlMap(k, v)
      case _ => SqlType.SqlMap(SqlType.SqlInt, SqlType.SqlInt) // rejected
    })((as, r) => map_from_arrays(r(as(0)), r(as(1))))
      .needsBound((as, t) => (t(as(0)), t(as(1))) match {
        case (SqlType.SqlArray(_), SqlType.SqlArray(_)) => true
        case _ => false
      }, "map takes two lists (keys, values)"),
    f2("map_extract", (as, t) => mapValueList(t(as.head)))(mapLookup)
      .needsBound((as, t) => t(as.head) match {
        case SqlType.SqlMap(k, _) => SqlType.comparable(k, t(as(1)))
        case _                    => false
      }, "map_extract takes a map and a key of the map's key type"),
    f1("map_keys", (as, t) => t(as.head) match {
      case SqlType.SqlMap(k, _) => SqlType.SqlArray(k)
      case other                => other
    })(map_keys).needsBound((as, t) => isMap(t(as.head)), "map_keys takes a map"),
    f1("map_values", (as, t) => mapValueList(t(as.head)))(map_values)
      .needsBound((as, t) => isMap(t(as.head)), "map_values takes a map"),
    f1("cardinality", Big)(c => F.size(c).cast("long"))
      .needsBound((as, t) => isMap(t(as.head)), "cardinality takes a map"),
    // Spark's native emits the same {key, value} structs
    f1("map_entries", (as, t) => t(as.head) match {
      case SqlType.SqlMap(k, v) =>
        SqlType.SqlArray(SqlType.SqlStruct(Vector("key" -> k, "value" -> v)))
      case other => other
    })(map_entries),
    // LAST map wins on duplicate keys, key order is first appearance
    // (DuckDB probed) — composed deterministically instead of relying on
    // Spark's mapKeyDedupPolicy session flag
    fn("map_concat", atLeast(2), First)((as, r) => as.map(r).reduceLeft { (a, b) =>
      val keys = array_distinct(concat(map_keys(a), map_keys(b)))
      map_from_arrays(keys, transform(keys, k =>
        when(map_contains_key(b, k), element_at(b, k)).otherwise(element_at(a, k))))
    }),
    // element_at(map, k) is DuckDB's map-subscript alias
    f2("element_at", (as, t) => mapValueList(t(as.head)))(mapLookup),
    f1("map_from_entries", (as, t) => t(as.head) match {
      case SqlType.SqlArray(SqlType.SqlStruct(fs)) if fs.length == 2 =>
        SqlType.SqlMap(fs(0)._2, fs(1)._2)
      case other => other
    })(map_from_entries).needsBound((as, t) => t(as.head) match {
      case SqlType.SqlArray(SqlType.SqlStruct(fs)) => fs.length == 2
      case _ => false
    }, "map_from_entries takes a list of two-field structs"),
    // ---- structs and unions ----
    // unnamed list_zip tuples read by 1-based position (GetStructField
    // is ordinal-based); named structs by field name, canonicalized
    // against the struct's field list at binding
    fn("struct_extract", is(2), (as, t) => (t(as.head), as(1)) match {
      case (SqlType.SqlStruct(fs), LLit(i)) if i >= 1 && i <= fs.length =>
        fs(i.toInt - 1)._2
      case (SqlType.SqlStruct(fs), SLit(k)) if fs.exists(_._1.equalsIgnoreCase(k)) =>
        fs.find(_._1.equalsIgnoreCase(k)).get._2
      case _ => SqlType.SqlVarChar(65535)
    }) { (as, r) => as match {
      case Seq(a, LLit(i)) =>
        org.apache.spark.sql.graftbridge.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.GetStructField(
            org.apache.spark.sql.graftbridge.Bridge.expression(r(a)), i.toInt - 1))
      case Seq(a, SLit(k)) => r(a).getField(k)
    }}.needs(as => as(1) match {
      case Operand.Literal(Lit.LitLong(i))   => i >= 1
      case Operand.Literal(Lit.LitString(_)) => true
      case _ => false
    }, "struct_extract takes a 1-based integer-literal index " +
      "(unnamed list_zip tuples) or a field-name string literal (named structs)")
      .post((as, t) => (t(as.head), as(1)) match {
        case (SqlType.SqlStruct(fs), LLit(i)) if i >= 1 && i <= fs.length =>
          Right(as)
        case (SqlType.SqlStruct(fs), SLit(k)) if fs.exists(_._1.equalsIgnoreCase(k)) =>
          Right(Vector(as.head, BLit(Lit.LitString(
            fs.find(_._1.equalsIgnoreCase(k)).get._1))))
        case _ => Left(
          "struct_extract index/field not found (or the base is not a struct)")
      }),
    fn("struct_insert", n => n >= 3 && n % 2 == 1, (as, t) => t(as.head) match {
      case SqlType.SqlStruct(fs) =>
        SqlType.SqlStruct(fs ++ as.tail.grouped(2).collect {
          case Seq(SLit(k), v) => k -> t(v)
        })
      case other => other
    })((as, r) => as.tail.grouped(2).foldLeft(r(as.head)) {
      case (c, Seq(SLit(k), v)) => c.withField(k, r(v))
    }).post((as, t) => t(as.head) match {
      case SqlType.SqlStruct(fs) =>
        val keys = as.tail.grouped(2).map(_.head).collect {
          case SLit(k) => k.toLowerCase
        }.toSeq
        if (keys.distinct.length != keys.length)
          Left("struct_insert keys must be distinct names")
        else keys.find(k => fs.exists(_._1.equalsIgnoreCase(k))) match {
          case Some(k) => Left(s"struct_insert: field $k already exists in the struct")
          case None    => Right(as)
        }
      case _ => Left("struct_insert base must be a struct")
    }),
    // DuckDB 1.0's list_zip: zip to the LONGEST list, short lists pad
    // NULL (Spark's arrays_zip has identical pad semantics); elements are
    // unnamed tuples, fields carried as f1..fn
    fn("list_zip", n => n >= 2 && n <= 8, (as, t) =>
      SqlType.SqlArray(SqlType.SqlStruct(as.zipWithIndex.map { case (a, i) =>
        s"f${i + 1}" -> elemOf(t(a)) }.toVector)))(
      (as, r) => arrays_zip(as.map(r): _*))
      .needsBound((as, t) => as.forall(a => t(a).isInstanceOf[SqlType.SqlArray]),
        "list_zip arguments must all be lists").alias("array_zip"),
    // UNION carrier: struct(tag, member…) where only the active member is
    // non-NULL
    fn("union_value", is(2), (as, t) => as match {
      case Seq(SLit(k), v) => SqlType.SqlUnion(Vector(k -> t(v)))
      case _               => SqlType.SqlVarChar(65535)
    }) { case (Seq(SLit(k), v), r) => struct(lit(k).as("tag"), r(v).as(k)) },
    f1("union_tag", Str)(_.getField("tag")),
    fn("union_extract", is(2), (as, t) => (t(as.head), as(1)) match {
      case (SqlType.SqlUnion(ms), SLit(k)) =>
        ms.find(_._1 == k).map(_._2).getOrElse(SqlType.SqlVarChar(65535))
      case _ => SqlType.SqlVarChar(65535)
    }) { case (Seq(u, SLit(k)), r) => r(u).getField(k) }
      .post((as, t) => (t(as.head), as(1)) match {
        case (SqlType.SqlUnion(ms), SLit(k)) =>
          if (ms.exists(_._1 == k)) Right(as)
          else Left(s"""Could not find key "$k" in union""")
        case (other, _) =>
          Left(s"union_extract takes a UNION first argument (got ${other.render})")
      }),
    // ---- list utilities (DuckDB probed semantics) ----
    f1("list_reverse", First)(reverse),
    f1("flatten", Elem)(flatten),
    f2("list_append", First)(array_append(_, _)),
    // DuckDB's argument order: (elem, list)
    fn("list_prepend", is(2), (as, t) => t(as(1)))((as, r) =>
      array_prepend(r(as(1)), r(as(0)))),
    // counts DISTINCT NON-NULL elements
    f1("list_unique", Big)(c =>
      F.size(array_distinct(F.filter(c, x => x.isNotNull))).cast("long"))
      .alias("array_unique"),
    // DuckDB's output order is unspecified — sort for determinism
    f2("list_intersect", First)((a, b) => array_sort(array_intersect(a, b))),
    f2("list_has_any", Bool)(arrays_overlap(_, _)),
    // every NON-NULL element of b appears in a (DuckDB skips NULLs)
    f2("list_has_all", Bool)((a, b) =>
      forall(F.filter(b, x => x.isNotNull), x => array_contains(a, x))),
    // list_aggregate(l, 'name') binds as the dedicated list_<name> node
    fn("list_aggregate", is(2), First)(rewritten("list_aggregate"))
      .needs(as => strIn(as(1), Set("sum", "min", "max", "avg", "count")),
        "list_aggregate takes a function-name string literal " +
          "(sum/min/max/avg/count)")
      .alias("array_aggregate", "array_aggr", "aggregate", "list_aggr")) ++
    each("list_min", "array_min")(n => f1(n, Elem)(array_min)) ++
    each("list_max", "array_max")(n => f1(n, Elem)(array_max)) ++ Seq(
    // NULL elements skip; an empty (or all-NULL) list reads NULL
    f1("list_sum", Elem)(c => headSeededSum(F.filter(c, x => x.isNotNull), identity)),
    // list_select: 1-based positions; 0 and out-of-range read NULL
    f2("list_select", First)((arr, idx) =>
      transform(idx, i => F.get(arr, i.cast("int") - 1))).alias("array_select"),
    // list_where: mask filter; a NULL mask entry raises like DuckDB
    f2("list_where", First)((a, mask) =>
      when(exists(mask, _.isNull), raise_error(lit(
        "list_where: NULLs are not allowed as mask elements")))
        .otherwise(transform(
          F.filter(zip_with(a, mask, (x, keep) =>
            struct(x.as("v"), keep.as("k"))), s => s.getField("k")),
          s => s.getField("v")))).alias("array_where"),
    // list_resize: truncate or NULL-pad to n
    f2("list_resize", First) { (arr, n) =>
      val nn = n.cast("int")
      when(F.size(arr) >= nn, slice(arr, lit(1), greatest(nn, lit(0))))
        .otherwise(concat(arr,
          transform(sequence(lit(1), nn - F.size(arr)), _ => F.get(arr, lit(-1)))))
    }.alias("array_resize"),
    // 1-based indexes that would sort ascending, stable, NULLs last
    f1("list_grade_up", fixed(SqlType.SqlArray(SqlType.SqlBigInt))) { arr =>
      val zipped = zip_with(arr, sequence(lit(1L), F.size(arr).cast("long")),
        (v, i) => struct(v.as("v"), i.as("i")))
      val nn = array_sort(F.filter(zipped, s => s.getField("v").isNotNull))
      val nulls = F.filter(zipped, s => s.getField("v").isNull)
      transform(concat(nn, nulls), s => s.getField("i"))
    }.alias("array_grade_up", "grade_up"),
    // descending, NULLs last (Spark's sort_array desc places NULLs last)
    f1("list_reverse_sort", First)(sort_array(_, asc = false))
      .alias("array_reverse_sort"),
    // first non-NULL element
    f1("list_any_value", Elem)(c => F.get(F.filter(c, x => x.isNotNull), lit(0))),
    // fused-loop vector expressions (the ANN operators' kernels)
    f2("list_cosine_similarity", Dbl)(vectorOp(graft.functions.VectorFunctions.cosine))
      .alias("array_cosine_similarity"),
    f2("list_distance", Dbl)(vectorOp(graft.functions.VectorFunctions.l2dist))
      .alias("array_distance")) ++
    each("list_dot_product", "list_inner_product")(n =>
      f2(n, Dbl)(vectorOp(graft.functions.VectorFunctions.dot))).map(d =>
        d.alias(d.name.replace("list_", "array_"))) ++ Seq(
    // 3-element vectors only (raises like DuckDB)
    f2("array_cross_product", fixed(SqlType.SqlArray(SqlType.SqlDouble))) { (a, b) =>
      val (ac, bc) = (a.cast("array<double>"), b.cast("array<double>"))
      def e(c: Column, i: Int) = element_at(c, i)
      when(F.size(ac) =!= 3 || F.size(bc) =!= 3,
        raise_error(lit("array_cross_product requires two 3-element vectors")))
        .otherwise(array(
          e(ac, 2) * e(bc, 3) - e(ac, 3) * e(bc, 2),
          e(ac, 3) * e(bc, 1) - e(ac, 1) * e(bc, 3),
          e(ac, 1) * e(bc, 2) - e(ac, 2) * e(bc, 1)))
    }) ++
    // enum introspection folds at analysis — the value domain is static
    // type information
    Seq("enum_range" -> Dbl, "enum_first" -> Str, "enum_last" -> Str,
        "enum_code" -> IntT).map { case (n, res) =>
      fn(n, is(1), res)(rewritten(n)).needsBound((as, t) =>
        t(as.head).isInstanceOf[SqlType.SqlEnum], s"$n takes an ENUM argument")
    }

  // ---- JSON family (DuckDB 1.0 probed) ----

  /** Calls whose result IS JSON text — their values embed raw inside
    * json_object/json_array (the JSON type propagates, DuckDB parity).
    */
  private val JsonProducing = Set("json_object", "json_array",
    "json_merge_patch", "json_extract", "json_extract_path", "json_quote")

  /** One scalar as JSON text: to_json(array(x)) with the brackets
    * stripped — exact JSON escaping, and a NULL element stays 'null'
    * (array elements survive where to_json drops NULL struct fields).
    */
  private def jsonScalarText(c: Column): Column = {
    val j = to_json(array(c))
    j.substr(lit(2), length(j) - 2)
  }

  private def jsonValueText(o: BoundOperand, r: Rec): Column = o match {
    case BFunc(jf, _) if JsonProducing(jf) => r(o)
    case _                                 => jsonScalarText(r(o))
  }

  /** Normalize DuckDB's three JSON path spellings onto the $-form the
    * Spark functions take: '$.a[1]' stays, '/a/1' JSON-pointer becomes
    * '$.a[1]' (numeric segments index arrays), a bare key prefixes '$.'.
    */
  private def jsonDollarPath(p: String): String =
    if (p.startsWith("$")) p
    else if (p.startsWith("/"))
      "$" + p.split("/").drop(1).map(seg =>
        if (seg.nonEmpty && seg.forall(_.isDigit)) s"[$seg]"
        else s".$seg").mkString
    else s"$$.$p"

  private def jsons: Seq[FunctionDef] =
    // json_extract returns JSON TEXT — strings stay quoted ("x"), so
    // Spark's get_json_object (which unquotes) can't express it; the
    // variant route can. Paths accept '$.a[1]', '/a/b' and bare keys.
    each("json_extract", "json_extract_path")(n => fn(n, is(2), Str) {
      case (Seq(a, SLit(p)), r) =>
        to_json(variant_get(parse_json(r(a)), jsonDollarPath(p), "variant"))
    }.shape(as => isLit(as(1)))
      .needs(as => isStr(as(1)), s"$n takes a string-literal path")) ++ Seq(
    // onto Spark's get_json_object — the same $.path subset, string
    // result, NULL on a miss on both engines
    fn("json_extract_string", is(2), Str) { case (Seq(a, SLit(pth)), r) =>
      get_json_object(r(a), pth)
    }.needs(as => as(1) match {
      case Operand.Literal(Lit.LitString(pth)) => pth.startsWith("$")
      case _ => false
    }, "json_extract_string takes a '$.path' string literal")
      .alias("json_extract_path_text"),
    fn("json_array_length", in(1, 2), Big) { (as, r) => as match {
      case Seq(a) => json_array_length(r(a)).cast("long")
      case Seq(a, SLit(p)) =>
        json_array_length(get_json_object(r(a), jsonDollarPath(p))).cast("long")
    }}.shape(as => as.length == 1 || isLit(as(1)))
      .needs(as => as.length == 1 || isStr(as(1)),
        "json_array_length takes a string-literal path"),
    f1("json_keys", StrList)(json_object_keys),
    f1("json_valid", Bool)(c => try_parse_json(c).isNotNull),
    // json_type names: OBJECT/ARRAY/VARCHAR/BOOLEAN/NULL, integers read
    // UBIGINT when non-negative, all other numerics DOUBLE;
    // schema_of_variant supplies the class, and a scale-0 DECIMAL is an
    // integer that overflowed BIGINT
    f1("json_type", Str) { c =>
      val v = parse_json(c)
      val sch = schema_of_variant(v)
      val num = variant_get(v, "$", "double")
      when(sch.startsWith("OBJECT"), lit("OBJECT"))
        .when(sch.startsWith("ARRAY"), lit("ARRAY"))
        .when(sch === "STRING", lit("VARCHAR"))
        .when(sch === "BOOLEAN", lit("BOOLEAN"))
        .when(sch === "VOID", lit("NULL"))
        .when(sch === "BIGINT" || sch.rlike("^DECIMAL\\([0-9]+,0\\)$"),
          when(num >= 0, lit("UBIGINT")).otherwise(lit("BIGINT")))
        .otherwise(lit("DOUBLE"))
    },
    // json_object / json_array build by concat so the JSON TYPE
    // PROPAGATES (a nested JSON value embeds raw) and NULL values read
    // null (Spark's to_json would omit the field)
    fn("json_object", _ % 2 == 0, Str) { (as, r) =>
      val parts = as.grouped(2).map { case Seq(SLit(key), v) =>
        concat(jsonScalarText(lit(key)), lit(":"), jsonValueText(v, r))
      }.toSeq
      if (parts.isEmpty) lit("{}")
      else concat(lit("{") +: parts.flatMap(p => Seq(lit(","), p)).tail :+ lit("}"): _*)
    }.shape(_.grouped(2).forall(p => isStr(p.head))),
    fn("json_array", atLeast(1), Str)((as, r) => concat(lit("[") +:
      as.map(jsonValueText(_, r)).flatMap(p => Seq(lit(","), p)).tail :+ lit("]"): _*)),
    // container JSON serialization only; scalars reject toward wrapping.
    // NULL struct FIELDS serialize differently (Spark omits the key,
    // DuckDB keeps "k":null) — spec-pinned posture.
    f1("to_json", Str)(to_json).needsBound((as, t) => typeIs(t(as.head), {
      case SqlType.SqlStruct(_) | SqlType.SqlArray(_) | SqlType.SqlMap(_, _) => true
    }), "to_json takes a struct or list (wrap scalars: {'v': x})")
      .alias("array_to_json", "row_to_json"),
    // serialize ONE value with JSON's exact escaping
    f1("json_quote", Str)(jsonScalarText),
    // JSON document algebra (Jackson tree walks)
    f2("json_merge_patch", Str)((a, b) => graft.functions.JsonFunctions.mergePatch(
      a.cast("string"), b.cast("string"))),
    f1("json_structure", Str)(c =>
      graft.functions.JsonFunctions.structure(c.cast("string"))),
    f2("json_contains", Bool)((a, b) => graft.functions.JsonFunctions.jsonContains(
      a.cast("string"), b.cast("string")))) ++
    each("from_json", "from_json_strict")(fromJson).map(d =>
      d.alias(d.name.replace("from_json", "json_transform")))

  /** from_json / json_transform: JSON text → TYPED values under a
    * structure literal (parsed at analysis: output typing and the
    * lowering's schema both derive from it). Spark's from_json is
    * type-strict where DuckDB casts eagerly ("1" → BIGINT 1, 1.9 →
    * INTEGER 2), so the parse runs with STRING leaves and each leaf then
    * casts with DuckDB's JSON semantics; lax forms read NULL on a failed
    * cast, strict forms raise.
    */
  private def fromJson(name: String): FunctionDef = fn(name, is(2), (as, _) =>
    as(1) match {
      case SLit(st) => Analyzer.parseJsonStructure(st)
        .getOrElse(SqlType.SqlVarChar(65535))
      case _ => SqlType.SqlVarChar(65535)
    }) { case (Seq(j, SLit(st)), r) =>
    val tpe = Analyzer.parseJsonStructure(st).toOption.get
    import org.apache.spark.sql.{types => T}
    def stringLeaves(t: SqlType): T.DataType = t match {
      case SqlType.SqlStruct(fs) =>
        T.StructType(fs.map { case (n, ft) => T.StructField(n, stringLeaves(ft)) })
      case SqlType.SqlArray(e) => T.ArrayType(stringLeaves(e))
      case _                   => T.StringType
    }
    val strict = name == "from_json_strict"
    def castLeaf(c: Column, t: SqlType): Column = {
      val lax = t match {
        case SqlType.SqlBigInt | SqlType.SqlInt | SqlType.SqlSmallInt =>
          // the double route rounds HALF-TO-EVEN like DuckDB's JSON casts
          // (2.5→2, 1.5→2) — rint, not the half-away decimal rule
          val rounded = call_function("rint", c.try_cast(T.DoubleType))
          coalesce(c.try_cast(T.LongType), rounded.try_cast(T.LongType)).cast(t.spark)
        case SqlType.SqlBool =>
          // JSON booleans arrive as 'true'/'false' text
          when(F.lower(c) === "true", lit(true))
            .when(F.lower(c) === "false", lit(false))
            .otherwise(nullBool)
        case other => c.try_cast(other.spark)
      }
      if (!strict) lax
      else when(c.isNotNull && lax.isNull, raise_error(concat(
        lit(s"from_json_strict: failed to cast value to ${t.render}: "),
        c)).cast(t.spark)).otherwise(lax)
    }
    def typed(c: Column, t: SqlType): Column = t match {
      case SqlType.SqlStruct(fs) =>
        when(c.isNull, lit(null).cast(t.spark)).otherwise(
          struct(fs.map { case (n, ft) => typed(c.getField(n), ft).as(n) }: _*))
      case SqlType.SqlArray(e) => transform(c, x => typed(x, e))
      case scalar              => castLeaf(c, scalar)
    }
    typed(from_json(r(j), stringLeaves(tpe)), tpe)
  }.shape(as => isLit(as(1))).pre(as => as(1) match {
    case Operand.Literal(Lit.LitString(st)) =>
      Analyzer.parseJsonStructure(st).left.toOption.map(e => s"from_json structure: $e")
    case _ => Some("from_json takes a string-literal structure")
  })

  // ---- system family: conditionals, environment, randomness ----

  private def system: Seq[FunctionDef] = Seq(
    fn("coalesce", atLeast(1), First)((as, r) => coalesce(as.map(r): _*))
      .alias("ifnull"),
    f2("nullif", First)((c, b) => when(c === b, lit(null)).otherwise(c)),
    // typeof folds to the analyzed DuckDB type name
    fn("typeof", is(1), Dbl)(rewritten("typeof")),
    // error('msg') raises with the user's message
    f1("error", Str)(c => raise_error(c.cast("string")).cast("string")),
    // environment introspection: the in-memory defaults — DuckDB's own
    // answers for an unnamed session; version is honest
    f0("current_database", Str)(lit("memory")),
    f0("current_schema", Str)(lit("main")),
    f0("version", Str)(lit("v1.0.0-graft")),
    f0("uuid", Str)(expr("uuid()")).alias("gen_random_uuid"),
    f0("random", Dbl)(rand()),
    // setseed: VOID no-op — a distributed engine has no global RNG to
    // reseed; rand() seeds per partition
    f1("setseed", fixed(SqlType.SqlVarChar(1)))(_ => lit(null).cast("string")),
    // 64-bit value hash — ENGINE-SPECIFIC values (xxhash64)
    f1("hash", Big)(xxhash64(_))) ++
    // nextval/currval substitute at statement time in FROM-less SELECTs
    // and INSERT … VALUES rows (the only places row order is
    // well-defined); reaching the analyzer means an unsupported position
    each("nextval", "currval")(n => fn(n, is(1), Dbl)(rewritten(n)).needs(_ => false,
      s"$n is supported in FROM-less SELECTs and INSERT … VALUES " +
        "rows only (table-scan row order is undefined under a distributed scan)"))

  // ---- internal plumbing: built by the parser or the analyzer ----

  private def enumVals(b: BoundOperand): Seq[String] = (b: @unchecked) match {
    case SLit(vs) => vs.split('\u0001').toSeq
  }
  private val EnumOfList: Result = (as, _) => as(1) match {
    case SLit(vs) => SqlType.SqlEnum(vs.split('\u0001').toVector)
    case _        => SqlType.SqlVarChar(65535)
  }

  private def internals: Seq[FunctionDef] = (Seq(
    // the || operator: NULL-propagating, unlike the concat() function
    fn("||", is(2), Str)((as, r) => concat(as.map(r): _*)),
    // `a // b` with two INTEGER legs (the analyzer reroutes float legs to
    // plain division): truncating division; x // 0 reads NULL
    f2("__intdiv", Big)((a, b) => try_divide(a.cast("long"), b.cast("long")).cast("long")),
    // MAP literal; keys (and values) must share one type
    fn("__map_lit", _ % 2 == 0, (as, t) =>
      if (as.isEmpty) SqlType.SqlMap(SqlType.SqlInt, SqlType.SqlInt)
      else SqlType.SqlMap(t(as(0)), t(as(1)))) { (as, r) =>
      if (as.isEmpty) map_from_arrays(array(), array())
      else F.map(as.map(r): _*)
    }.needsBound((as, t) => as.isEmpty || {
      val ks = as.indices.collect { case i if i % 2 == 0 => as(i) }
      val vs = as.indices.collect { case i if i % 2 == 1 => as(i) }
      ks.forall(k => SqlType.comparable(t(k), t(ks.head))) &&
        vs.forall(v => SqlType.comparable(t(v), t(vs.head)))
    }, "MAP literal: keys (and values) must share one type"),
    // named struct literal / struct_pack(k := v): keys interleave as
    // string literals — Spark's named struct columns carry the names
    fn("struct_pack", n => n >= 2 && n % 2 == 0, (as, t) =>
      SqlType.SqlStruct(as.grouped(2).collect {
        case Seq(SLit(k), v) => k -> t(v)
      }.toVector))((as, r) => struct(as.grouped(2).map {
        case Seq(SLit(k), v) => r(v).as(k)
      }.toSeq: _*)).needs(as => {
        val keys = as.grouped(2).map(_.head).toSeq
        keys.collect { case Operand.Literal(Lit.LitString(k)) => k.toLowerCase }
          .distinct.length == keys.length
      }, "struct_pack keys must be distinct names"),
    // s[i] / s[a:b] — DuckDB's STRING subscript/slice (1-based,
    // inclusive; index 0 reads ''). A NEGATIVE slice bound n normalizes
    // to len + n + 1, then lo clamps to 1 and hi to len; hi < lo reads ''
    f2("str_extract", Str) { (s, i) =>
      val ic = i.cast("int")
      when(ic === 0, lit("")).otherwise(s.substr(ic, lit(1)))
    },
    fn("str_slice", is(3), Str) { (as, r) =>
      val s = r(as(0))
      val len = length(s)
      val i0 = r(as(1)).cast("int"); val j0 = r(as(2)).cast("int")
      val lo = greatest(when(i0 < 0, len + i0 + 1).otherwise(i0), lit(1))
      val hi = least(when(j0 < 0, len + j0 + 1).otherwise(j0), len)
      when(hi < lo, lit("")).otherwise(s.substr(lo, hi - lo + lit(1)))
    },
    // list_aggregate targets beside list_sum/min/max: NULL elements skip;
    // empty / all-NULL reads NULL (0/0 → NULL via try_divide)
    f1("list_avg", Dbl) { c =>
      val nn = F.filter(c, x => x.isNotNull)
      try_divide(headSeededSum(nn, _.cast("double")), F.size(nn))
    },
    f1("list_count", Big)(c => F.size(F.filter(c, x => x.isNotNull)).cast("long")),
    // date ± integer days (rebinds of DATE arithmetic)
    f2("date_add_days", DateT)((a, b) => date_add(a, b.cast("int"))),
    f2("date_sub_days", DateT)((a, b) => date_sub(a, b.cast("int"))),
    // date_part(unit, age(a, b)) — the interval never materializes
    fn("__age_part", is(3), Big) { case (Seq(SLit(u), a, b), r) =>
      ageCol(Some(u.toLowerCase), a, b, r)
    },
    // timezone(tz, naive) / naive AT TIME ZONE tz: the naive wall time
    // read IN tz → instant (to_utc_timestamp under the pinned UTC zone)
    fn("__tz_to_tz", is(2), fixed(SqlType.SqlTimestampTz))((as, r) =>
      to_utc_timestamp(r(as(1)).cast("timestamp"), r(as(0)).cast("string"))),
    // timezone(tz, tstz): the tz wall time of the instant, naive
    fn("__tz_to_naive", is(2), Ts)((as, r) =>
      from_utc_timestamp(r(as(1)), r(as(0)).cast("string"))),
    // TIMESTAMPTZ::VARCHAR appends the session (+00) offset like DuckDB
    f1("__tstz_text", Str)(c => concat(c.cast("string"), lit("+00"))),
    // TIMESTAMP::TIME — time-of-day via the rendered micros (Spark has no
    // native timestamp->time cast yet)
    f1("__ts_to_time", TimeT)(c =>
      date_format(c, "HH:mm:ss.SSSSSS").cast(SqlType.SqlTime.spark))) ++
    // TIME ± sub-day interval: Spark's TIME takes DayTimeInterval
    // operands (make_dt_interval), not the calendar make_interval the
    // generic interval lowering builds
    each("__time_plus", "__time_minus")(n => fn(n, is(2), TimeT) { case (Seq(t, iv), r) =>
      val z = lit(0)
      val dt = iv match {
        case BFunc("to_hours", Seq(k))   => make_dt_interval(z, r(k).cast("int"))
        case BFunc("to_minutes", Seq(k)) => make_dt_interval(z, z, r(k).cast("int"))
        case BFunc("to_seconds", Seq(k)) =>
          make_dt_interval(z, z, z, r(k).cast("decimal(16,6)"))
        case BFunc("to_milliseconds", Seq(k)) => make_dt_interval(z, z, z,
          (r(k).cast("decimal(16,3)") / 1000).cast("decimal(16,6)"))
        case BFunc("to_microseconds", Seq(k)) => make_dt_interval(z, z, z,
          (r(k).cast("decimal(16,0)") / 1000000).cast("decimal(16,6)"))
        case BInterval(k, "hour")   => make_dt_interval(z, lit(k))
        case BInterval(k, "minute") => make_dt_interval(z, z, lit(k))
        case BInterval(k, "second") =>
          make_dt_interval(z, z, z, lit(java.math.BigDecimal.valueOf(k)))
      }
      if (n == "__time_plus") r(t) + dt else r(t) - dt
    }) ++ Seq(
    // ENUM ordering: 1-based definition position (the enum's sort key);
    // a non-member reads NULL — the validated cast is the raising surface
    fn("__enum_pos", is(2), IntT) { case (Seq(x, vl), r) =>
      val p = array_position(array(enumVals(vl).map(lit): _*), r(x))
      when(p > 0, p.cast("int")).otherwise(lit(null).cast("int"))
    },
    // text → ENUM with DuckDB's conversion-error surface
    fn("__enum_cast", is(2), EnumOfList) { case (Seq(x, vl), r) =>
      val vs = enumVals(vl)
      val c = r(x)
      when(c.isNull || c.isin(vs: _*), c)
        .otherwise(raise_error(concat(
          lit("Conversion Error: Could not convert string '"), c,
          lit(s"' to ENUM(${vs.map(v => s"'$v'").mkString(", ")})")))
          .cast("string"))
    },
    // try_cast's NULL-on-miss variant of the validated cast
    fn("__enum_try_cast", is(2), EnumOfList) { case (Seq(x, vl), r) =>
      val c = r(x)
      when(c.isin(enumVals(vl): _*), c).otherwise(lit(null).cast("string"))
    },
    // position → value (min/max over an enum aggregate the position)
    fn("__enum_from_pos", is(2), EnumOfList) { case (Seq(p, vl), r) =>
      element_at(array(enumVals(vl).map(lit): _*), r(p).cast("int"))
    },
    // half-to-even double rounding (DuckDB's DOUBLE -> integer cast)
    f1("__rint", Dbl)(call_function("rint", _)),
    fn("__union_make", atLeast(2), (as, t) => as.head match {
      case SLit(spec) =>
        SqlType.SqlUnion(spec.split('\u0001').toVector.zip(as.drop(2).map(t)))
      case _ => SqlType.SqlVarChar(65535)
    }) { case (SLit(spec) +: tag +: vs, r) =>
      val names = spec.split('\u0001').toSeq
      struct((r(tag).as("tag") +: names.zip(vs).map { case (n, v) => r(v).as(n) }): _*)
    })).map(_.copy(internal = true))
}
