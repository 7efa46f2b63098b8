package graft.sql

import scala.collection.mutable.ArrayBuffer

import Ast._

/** Hand-rolled tokenizer + recursive-descent parser for the reference
  * dialect (grammar at reference parser/mod.rs:125-417): SELECT cols|* FROM
  * t [alias] {, t [alias]} [WHERE conj], INSERT INTO t VALUES (...)[, ...],
  * CREATE TABLE t (col type [PRIMARY KEY], ...). Keywords are
  * case-insensitive (parser/mod.rs:419-623 tests `SEleCT ... frOm`).
  *
  * Divergences (all additive): multi-row VALUES, OR / parenthesized
  * predicates survive analysis, NULL literal accepted in VALUES (the
  * reference demo inserts NULL ages, database.rs:47-91).
  */
object Parser {

  final case class ParseError(msg: String, pos: Int) {
    override def toString = s"parse error at $pos: $msg"
  }

  // ---- tokens ----
  private sealed trait Tok { def pos: Int }
  private final case class TIdent(s: String, pos: Int) extends Tok
  private final case class TInt(v: Long, pos: Int) extends Tok
  private final case class TFloat(v: Double, pos: Int) extends Tok
  // e-notation numeric (1e3, 1.5e-2): DOUBLE in DuckDB where TFloat is
  // DECIMAL — kept distinct so cast-rounding modes can diverge
  private final case class TSci(v: Double, pos: Int) extends Tok
  private final case class TStr(s: String, pos: Int) extends Tok
  private final case class TSym(s: String, pos: Int) extends Tok
  /** Prepared-statement parameter: "1"/"2"… positional (`$1`, and `?`
    * auto-numbered by source order post-lex) or a lowercased name
    * (`$name`). Bound to typed literals at parse via P.params — the
    * prepared path never splices text.
    */
  private final case class TParam(tok: String, pos: Int) extends Tok
  private final case class TEnd(pos: Int) extends Tok

  private def lex(in: String): Either[ParseError, Vector[Tok]] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < in.length) {
      val c = in(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val start = i
        while (i < in.length && (in(i).isLetterOrDigit || in(i) == '_')) i += 1
        out += TIdent(in.substring(start, i), start)
      } else if (c.isDigit) {
        // '-' is always a symbol; unary minus is handled in the parser so
        // binary subtraction (a - 1) and negative literals both work
        val start = i
        while (i < in.length && in(i).isDigit) i += 1
        var isFloat = false
        // decimal point followed by a digit → double literal
        if (i + 1 < in.length && in(i) == '.' && in(i + 1).isDigit) {
          isFloat = true
          i += 1
          while (i < in.length && in(i).isDigit) i += 1
        }
        // e-notation tail (1e3, 1.5e-2): DuckDB types these DOUBLE where
        // a plain decimal-point literal is DECIMAL — a distinct token so
        // the parser can keep the two apart
        val hasExp = i < in.length && (in(i) == 'e' || in(i) == 'E') && {
          val j = if (i + 1 < in.length && (in(i + 1) == '+' || in(i + 1) == '-')) i + 2 else i + 1
          j < in.length && in(j).isDigit
        }
        if (hasExp) {
          i += 1
          if (in(i) == '+' || in(i) == '-') i += 1
          while (i < in.length && in(i).isDigit) i += 1
          out += TSci(in.substring(start, i).toDouble, start)
        } else if (isFloat)
          out += TFloat(in.substring(start, i).toDouble, start)
        else out += TInt(in.substring(start, i).toLong, start)
      } else if (c == '\'') {
        val start = i
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < in.length && !closed) {
          if (in(i) == '\'') {
            if (i + 1 < in.length && in(i + 1) == '\'') { sb += '\''; i += 2 } // '' escape
            else { closed = true; i += 1 }
          } else { sb += in(i); i += 1 }
        }
        if (!closed) return Left(ParseError("unterminated string literal", start))
        out += TStr(sb.toString, start)
      } else {
        val two = if (i + 1 < in.length) in.substring(i, i + 2) else ""
        if (two == "--") {
          // line comment: skip to end of line
          while (i < in.length && in(i) != '\n') i += 1
        } else if (two == "/*") {
          // block comment, NESTED like DuckDB/Postgres
          var depth = 1; i += 2
          while (i < in.length && depth > 0) {
            if (i + 1 < in.length && in(i) == '/' && in(i + 1) == '*') {
              depth += 1; i += 2
            } else if (i + 1 < in.length && in(i) == '*' && in(i + 1) == '/') {
              depth -= 1; i += 2
            } else i += 1
          }
          if (depth > 0)
            return Left(ParseError("unterminated block comment", i))
        } else if (two == "<>" || two == "<=" || two == ">=" || two == "!=" ||
            two == "||" || two == "::" || two == "->" || two == ":=" ||
            two == "//" || two == "**") {
          out += TSym(if (two == "!=") "<>" else two, i); i += 2
        } else if (c == '?') {
          out += TParam("?", i); i += 1
        } else if (c == '$' && i + 1 < in.length &&
            (in(i + 1).isDigit || in(i + 1).isLetter || in(i + 1) == '_')) {
          val st = i
          i += 1
          if (in(i).isDigit) {
            while (i < in.length && in(i).isDigit) i += 1
            out += TParam(in.substring(st + 1, i), st)
          } else {
            while (i < in.length && (in(i).isLetterOrDigit || in(i) == '_')) i += 1
            out += TParam(in.substring(st + 1, i).toLowerCase, st)
          }
        } else if ("(),.;*=<>+-/%[]:{}^".indexOf(c) >= 0) {
          out += TSym(c.toString, i); i += 1
        } else return Left(ParseError(s"unexpected character '$c'", i))
      }
    }
    out += TEnd(in.length)
    Right(out.toVector)
  }

  // ---- parser state ----
  private final class P(toks: Vector[Tok], val src: String = "",
      /** Prepared-parameter bindings ("1"/"2"…/named → typed literal);
        * probeParams = PREPARE-time validation (any parameter binds NULL).
        */
      val params: Map[String, Lit] = Map.empty,
      val probeParams: Boolean = false) {
    var i = 0
    def peek: Tok = toks(i)
    def peekAt(k: Int): Option[Tok] = toks.lift(i + k)
    def next(): Tok = { val t = toks(i); i += 1; t }
    def isKw(kw: String): Boolean = peek match {
      case TIdent(s, _) => s.equalsIgnoreCase(kw)
      case _            => false
    }
    def eatKw(kw: String): Either[ParseError, Unit] =
      if (isKw(kw)) { i += 1; Right(()) }
      else Left(ParseError(s"expected $kw", peek.pos))
    def eatSym(s: String): Either[ParseError, Unit] = peek match {
      case TSym(x, _) if x == s => i += 1; Right(())
      case t                    => Left(ParseError(s"expected '$s'", t.pos))
    }
    def ident(): Either[ParseError, String] = peek match {
      case TIdent(s, _) if !reserved(s) => i += 1; Right(s)
      case t => Left(ParseError("expected identifier", t.pos))
    }
    /** QUALIFY scope: when non-null, `fn(args) OVER (spec)` calls inside
      * operand expressions desugar into hidden window items appended
      * here, replaced by a generated-alias column reference.
      */
    var winSink: scala.collection.mutable.ArrayBuffer[SelectItem.SWin] = null
    /** Is the cursor at `name ( … ) OVER`? (balanced-paren lookahead) */
    def aheadOverCall: Boolean = toks.lift(i + 1) match {
      case Some(TSym("(", _)) =>
        var j = i + 2
        var depth = 1
        while (depth > 0 && j < toks.length) {
          toks(j) match {
            case TSym("(", _) => depth += 1
            case TSym(")", _) => depth -= 1
            case _            => ()
          }
          j += 1
        }
        depth == 0 && (toks.lift(j) match {
          case Some(TIdent(s, _)) => s.equalsIgnoreCase("over") &&
            // parenthesized spec only — OVER <name> references resolve
            // through the ordinary window-item path (fixedCols maps
            // SELECT items, not hidden sink items)
            (toks.lift(j + 1) match {
              case Some(TSym("(", _)) => true
              case _                  => false
            })
          case _ => false
        })
      case _ => false
    }

    /** From a window-function SELECT-item start (`fn ( … )` at i): does
      * an `OVER ( … )` call follow AND continue with an operator — i.e.
      * the window is nested in a larger item expression (`rank() OVER
      * (…) - 1 AS x`), which must parse through the operand grammar's
      * hidden-window sink instead of the direct window-item path.
      */
    def winCallInExpression: Boolean = toks.lift(i + 1) match {
      case Some(TSym("(", _)) =>
        var j = i + 2
        var depth = 1
        while (depth > 0 && j < toks.length) {
          toks(j) match {
            case TSym("(", _) => depth += 1
            case TSym(")", _) => depth -= 1
            case _            => ()
          }
          j += 1
        }
        // optional IGNORE/RESPECT NULLS between the call and OVER
        while (depth == 0 && j < toks.length && (toks(j) match {
          case TIdent(s, _) =>
            Set("ignore", "respect", "nulls")(s.toLowerCase)
          case _ => false
        })) j += 1
        depth == 0 && (toks.lift(j) match {
          case Some(TIdent(s, _)) if s.equalsIgnoreCase("over") =>
            toks.lift(j + 1) match {
              case Some(TSym("(", _)) =>
                var k = j + 2
                var d2 = 1
                while (d2 > 0 && k < toks.length) {
                  toks(k) match {
                    case TSym("(", _) => d2 += 1
                    case TSym(")", _) => d2 -= 1
                    case _            => ()
                  }
                  k += 1
                }
                d2 == 0 && (toks.lift(k) match {
                  case Some(TSym(sym, _)) => Set("+", "-", "*", "/", "%",
                    "||", "::", "[", "=", "<", ">", "<=", ">=", "<>")(sym)
                  case _ => false
                })
              case _ => false
            }
          case _ => false
        })
      case _ => false
    }
  }

  private val reservedWords = Set(
    "select", "from", "where", "and", "or", "insert", "into", "values",
    "create", "table", "primary", "key", "null", "not", "as",
    "delete", "update", "set", "order", "by", "limit", "asc", "desc", "group", "having",
    "clustered", "buckets", "with", "qualify",
    "distinct", "join", "inner", "on", "between", "in", "like", "is",
    "exists", "left", "right", "full", "outer", "union", "all",
    "intersect", "except", "case", "when", "then", "else", "end",
    "merge", "using", "matched", "window", "natural", "semi", "anti",
    "asof", "returning")

  /** Does the spelling `f` name an aggregate or window function taking
    * the call grammar `s` (the catalog decides)?
    */
  private def aggSyntax(f: String, s: Aggregates.Syntax): Boolean =
    Aggregates.syntaxOf(f.toLowerCase).contains(s)
  private def reserved(s: String): Boolean = reservedWords(s.toLowerCase)

  /** Does `s` read back as an unquoted identifier — the lexer's
    * identifier shape, and no reserved word?
    */
  def isBareIdentifier(s: String): Boolean =
    s.nonEmpty && (s.head.isLetter || s.head == '_') &&
      s.forall(c => c.isLetterOrDigit || c == '_') && !reserved(s)

  /** FROM-position file readers → formats (DuckDB's read_* family;
    * the *_auto forms are aliases — schema inference is the only mode).
    */
  private val FileReadFuncs: Map[String, String] = Map(
    "read_parquet" -> "parquet", "parquet_scan" -> "parquet",
    "read_csv" -> "csv", "read_csv_auto" -> "csv",
    "read_json" -> "json", "read_json_auto" -> "json")

  private def fileFormatOf(path: String): Option[String] = {
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet")) Some("parquet")
    else if (lower.endsWith(".csv")) Some("csv")
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") ||
      lower.endsWith(".ndjson")) Some("json")
    else None
  }

  /** Default binding name for a file scan: basename without the
    * extension (`'…/part.parquet'` binds as `part`).
    */
  private def fileBasename(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    val name = if (dot > 0) base.substring(0, dot) else base
    if (name.isEmpty) "file" else name
  }

  /** A stored CHECK constraint's expression (source text from the
    * catalog) as a predicate tree — the binding/lowering entry for
    * write-time enforcement.
    */
  def parseCheck(s: String): Either[ParseError, Expr] =
    lex(s).flatMap { toks =>
      val p = new P(toks, s)
      parseOr(p).flatMap(e => p.peek match {
        case TEnd(_) => Right(e)
        case t => Left(ParseError("CHECK expression not parsed fully", t.pos))
      })
    }

  /** A stored generated-column expression (catalog source text) as an
    * operand tree — the binding/lowering entry for write-time
    * materialization.
    */
  def parseGenerator(s: String): Either[ParseError, Operand] =
    lex(s).flatMap { toks =>
      val p = new P(toks, s)
      parseOperand(p).flatMap(o => p.peek match {
        case TEnd(_) => Right(o)
        case t => Left(ParseError("generator expression not parsed fully", t.pos))
      })
    }

  /** Entry point. Rejects trailing garbage like the reference's "query not
    * parsed fully" check (reference database.rs:38-40).
    */
  /** DuckDB's FROM-first statement sugar: `FROM t [SELECT items]
    * [WHERE …] …` — the optional SELECT follows the FROM group directly
    * (probed: clauses keep their usual order after it; a clause BEFORE
    * the SELECT is a syntax error in DuckDB too). Rewritten textually
    * to the standard order and re-lexed; bare `FROM t …` reads
    * `SELECT * FROM t …`.
    */
  private def fromFirst(sql: String, toks: Vector[Tok]): Option[String] =
    toks.headOption.collect { case TIdent(f, _) if f.equalsIgnoreCase("from") =>
      // the optional SELECT must follow the FROM group DIRECTLY — a
      // clause keyword before it makes this the bare `SELECT *` form
      // (whose trailing SELECT then errors, like DuckDB)
      val clauseKws0 = Set("where", "group", "having", "qualify",
        "order", "limit", "offset", "window", "union", "intersect",
        "except")
      var depth = 0
      var selIdx = -1
      var clauseSeen = false
      toks.indices.foreach { i =>
        toks(i) match {
          case TSym("(", _) => depth += 1
          case TSym(")", _) => depth -= 1
          case TIdent(k, _) if depth == 0 && selIdx < 0 &&
              k.equalsIgnoreCase("select") && !clauseSeen => selIdx = i
          case TIdent(k, _) if depth == 0 &&
              clauseKws0(k.toLowerCase) => clauseSeen = true
          case _ => ()
        }
      }
      if (selIdx < 0) s"SELECT * $sql"
      else {
        val TIdent(_, selPos) = toks(selIdx): @unchecked
        val fromPart = sql.substring(toks.head.pos, selPos).trim
        // the select ITEMS run to the first top-level clause keyword
        val clauseKws = Set("where", "group", "having", "qualify",
          "order", "limit", "offset", "window", "union", "intersect",
          "except")
        depth = 0
        var clausePos = -1
        ((selIdx + 1) until toks.length).foreach { i =>
          toks(i) match {
            case TSym("(", _) => depth += 1
            case TSym(")", _) => depth -= 1
            case TIdent(k, pp) if depth == 0 && clausePos < 0 &&
                clauseKws(k.toLowerCase) => clausePos = pp
            case _ => ()
          }
        }
        val itemsEnd = if (clausePos < 0) sql.length else clausePos
        val items = sql.substring(selPos + "select".length, itemsEnd).trim
        val rest = if (clausePos < 0) "" else " " + sql.substring(clausePos)
        s"SELECT $items FROM ${fromPart.drop("from".length).trim}$rest"
      }
    }

  def parse(sql0: String): Either[ParseError, ParseTree] =
    parseWithParams(sql0, Map.empty, probeParams = false)

  /** `?` parameters auto-number by source order; explicit $n / $name
    * tokens pass through (prepareStmt rejects mixed styles first).
    */
  private def numberParams(toks: Vector[Tok]): Vector[Tok] = {
    var ord = 0
    toks.map {
      case TParam("?", pos) => ord += 1; TParam(ord.toString, pos)
      case t                => t
    }
  }

  /** Parse with prepared-parameter bindings: every parameter token
    * resolves to its typed literal AT PARSE (probeParams binds NULL for
    * PREPARE-time validation) — no text splice anywhere in the path.
    */
  def parseWithParams(sql0: String, params: Map[String, Lit],
      probeParams: Boolean): Either[ParseError, ParseTree] =
    lex(sql0).flatMap { toks0 =>
      val (sql, toks) = fromFirst(sql0, toks0) match {
        case Some(rw) => lex(rw) match {
          case Right(t2) => (rw, t2)
          case Left(_)   => (sql0, toks0)
        }
        case None => (sql0, toks0)
      }
      val p = new P(numberParams(toks), sql, params, probeParams)
      val tree =
        if (p.isKw("explain")) {
          p.next()
          val analyze = if (p.isKw("analyze")) { p.next(); true } else false
          (if (p.isKw("with")) parseWith(p)
           else if (p.isKw("select")) parseSelectOrUnion(p)
           else if (p.isKw("insert")) parseInsert(p).flatMap(withReturning(p, _))
           else if (p.isKw("create")) parseCreate(p)
           else Left(ParseError(
             "EXPLAIN takes SELECT, INSERT … SELECT or CREATE TABLE AS SELECT",
             p.peek.pos)))
            .map(ExplainTree(_, analyze))
        }
        else if (p.isKw("with")) parseWith(p)
        else if (p.isKw("select")) parseSelectOrUnion(p)
        // top-level VALUES (…), (…): DuckDB's col0/col1/… column names —
        // desugars to FROM-less SELECTs union-all'd, like derived VALUES
        else if (p.isKw("values")) {
          p.next()
          def row(): Either[ParseError, Vector[Operand]] =
            p.eatSym("(").flatMap { _ =>
              def lp(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                parseOperand(p).flatMap { o =>
                  p.peek match {
                    case TSym(",", _) => p.next(); lp(acc :+ o)
                    case _            => p.eatSym(")").map(_ => acc :+ o)
                  }
                }
              lp(Vector.empty)
            }
          def rows(acc: Vector[Vector[Operand]])
              : Either[ParseError, Vector[Vector[Operand]]] =
            row().flatMap { r =>
              p.peek match {
                case TSym(",", _) => p.next(); rows(acc :+ r)
                case _            => Right(acc :+ r)
              }
            }
          rows(Vector.empty).flatMap { rs =>
            if (rs.exists(_.length != rs.head.length))
              Left(ParseError("VALUES rows must share one arity", p.peek.pos))
            else {
              def rowTree(r: Vector[Operand]): SelectTree =
                SelectTree(Some(r.zipWithIndex.map { case (o, i) =>
                  SelectItem.SExpr(o, s"col$i"): SelectItem }),
                  from = Nil, where = None)
              Right(
                if (rs.length == 1) rowTree(rs.head): ParseTree
                else UnionTree(rowTree(rs.head),
                  rs.tail.map(r => ("union_all", rowTree(r)))): ParseTree)
            }
          }
        }
        else if (p.isKw("insert")) parseInsert(p).flatMap(withReturning(p, _))
        else if (p.isKw("create")) parseCreate(p)
        else if (p.isKw("delete")) parseDelete(p).flatMap(withReturning(p, _))
        else if (p.isKw("update")) parseUpdate(p).flatMap(withReturning(p, _))
        else if (p.isKw("merge")) parseMerge(p)
        else if (p.isKw("pivot")) parsePivot(p)
        else if (p.isKw("unpivot")) parseUnpivot(p)
        else if (p.isKw("show"))
          for {
            _ <- p.eatKw("show")
            _ <- p.eatKw("tables")
          } yield ShowTablesTree
        // EXECUTE name[(v, …)] / name(k := v, …): prepared-statement
        // invocation. Values are captured as raw TEXT spans (any
        // constant expression) for the text-level splice — the body's
        // $1/$name/? placeholders never reach this lexer.
        else if (p.isKw("execute")) {
          p.next()
          p.ident().flatMap { name =>
            p.peek match {
              case TSym("(", _) =>
                p.next()
                val pos0 = Vector.newBuilder[String]
                val named0 = Vector.newBuilder[(String, String)]
                def arg(): Either[ParseError, Unit] = {
                  val isNamed = p.peek match {
                    case TIdent(_, _) => p.peekAt(1) match {
                      case Some(TSym(":=", _)) => true
                      case _                   => false
                    }
                    case _ => false
                  }
                  val key = if (isNamed) {
                    val TIdent(k, _) = p.next(): @unchecked
                    p.next() // :=
                    Some(k.toLowerCase)
                  } else None
                  val start = p.peek.pos
                  parseOperand(p).map { _ =>
                    val text = p.src.substring(start, p.peek.pos).trim
                    key match {
                      case Some(k) => named0 += ((k, text))
                      case None    => pos0 += text
                    }
                  }
                }
                def args(): Either[ParseError, Unit] =
                  arg().flatMap { _ =>
                    p.peek match {
                      case TSym(",", _) => p.next(); args()
                      case _            => p.eatSym(")")
                    }
                  }
                (p.peek match {
                  case TSym(")", _) => p.next(); Right(())
                  case _            => args()
                }).flatMap { _ =>
                  val (ps, ns) = (pos0.result(), named0.result())
                  if (ps.nonEmpty && ns.nonEmpty)
                    Left(ParseError(
                      "EXECUTE cannot mix positional and named arguments",
                      p.peek.pos))
                  else Right(ExecuteTree(name.toLowerCase, ps, ns))
                }
              case _ => Right(ExecuteTree(name.toLowerCase, Vector.empty,
                Vector.empty))
            }
          }
        }
        else if (p.isKw("deallocate")) {
          p.next()
          if (p.isKw("prepare")) p.next()
          p.ident().map(n => DeallocateTree(n.toLowerCase): ParseTree)
        }
        else if (p.isKw("use")) {
          p.next()
          p.ident().map(n => UseTree(n.toLowerCase): ParseTree)
        }
        else if (p.isKw("attach")) {
          p.next()
          if (p.isKw("database")) p.next()
          (p.peek match {
            case TStr(path, _) => p.next(); Right(path)
            case t => Left(ParseError(
              "ATTACH takes a quoted warehouse directory path", t.pos))
          }).flatMap(path =>
            p.eatKw("as").flatMap(_ =>
              p.ident().map(a => AttachTree(path, a.toLowerCase): ParseTree)))
        }
        else if (p.isKw("detach")) {
          p.next()
          if (p.isKw("database")) p.next()
          p.ident().map(a => DetachTree(a.toLowerCase): ParseTree)
        }
        else if (p.isKw("export"))
          for {
            _ <- p.eatKw("export")
            _ <- p.eatKw("database")
            dir <- p.peek match {
              case TStr(d, _) => p.next(); Right(d)
              case t => Left(ParseError(
                "EXPORT DATABASE takes a quoted directory path", t.pos))
            }
          } yield ExportDbTree(dir): ParseTree
        else if (p.isKw("import"))
          for {
            _ <- p.eatKw("import")
            _ <- p.eatKw("database")
            dir <- p.peek match {
              case TStr(d, _) => p.next(); Right(d)
              case t => Left(ParseError(
                "IMPORT DATABASE takes a quoted directory path", t.pos))
            }
          } yield ImportDbTree(dir): ParseTree
        else if (p.isKw("begin") || p.isKw("commit") ||
            p.isKw("rollback") || p.isKw("abort")) {
          val TIdent(k, _) = p.next(): @unchecked
          if (p.isKw("transaction") || p.isKw("work")) p.next()
          Right(TxnTree(k.toLowerCase): ParseTree)
        }
        else if (p.isKw("pragma"))
          for {
            _ <- p.eatKw("pragma")
            name <- p.ident()
            arg <- p.peek match {
              case TSym("(", _) =>
                p.next()
                (p.peek match {
                  case TStr(s, _)   => p.next(); Right(Some(s))
                  case TIdent(s, _) => p.next(); Right(Some(s))
                  case t => Left(ParseError(
                    "PRAGMA argument must be a name or string", t.pos))
                }).flatMap(a => p.eatSym(")").map(_ => a))
              case _ => Right(None)
            }
          } yield PragmaTree(name.toLowerCase, arg): ParseTree
        // CHECKPOINT / VACUUM: DuckDB maintenance statements with no
        // analogue over immutable parquet — accepted as loud no-ops
        else if (p.isKw("checkpoint") || p.isKw("vacuum")) {
          val TIdent(k, _) = p.next(): @unchecked
          if (p.isKw("analyze")) p.next() // VACUUM ANALYZE sugar
          Right(TxnTree(k.toLowerCase): ParseTree)
        }
        // COMMENT ON TABLE|COLUMN|VIEW|… name IS 'text'|NULL — parsed
        // and existence-validated at dispatch, stored nowhere (no
        // catalog-function surface reads comments back; loud no-op)
        else if (p.isKw("comment"))
          for {
            _ <- p.eatKw("comment")
            _ <- p.eatKw("on")
            kind <- p.peek match {
              case TIdent(k, _) if Set("table", "column", "view",
                  "index", "schema", "sequence", "type", "macro",
                  "function", "database")(k.toLowerCase) =>
                p.next(); Right(k.toLowerCase)
              case t => Left(ParseError(
                "COMMENT ON takes TABLE/COLUMN/VIEW/INDEX/SCHEMA/" +
                  "SEQUENCE/TYPE/MACRO", t.pos))
            }
            name <- {
              def dotted(first: String): String = p.peek match {
                case TSym(".", _) if (p.peekAt(1) match {
                  case Some(TIdent(_, _)) => true; case _ => false
                }) =>
                  p.next()
                  val TIdent(seg, _) = p.next(): @unchecked
                  dotted(s"$first.$seg")
                case _ => first
              }
              p.ident().map(dotted)
            }
            _ <- p.eatKw("is")
            _ <- p.peek match {
              case TStr(_, _) => p.next(); Right(())
              case TIdent(k, _) if k.equalsIgnoreCase("null") =>
                p.next(); Right(())
              case t => Left(ParseError(
                "COMMENT ON … IS takes a string or NULL", t.pos))
            }
          } yield CommentOnTree(kind, name): ParseTree
        else if (p.isKw("describe") || p.isKw("desc"))
          for {
            _ <- Right(p.next())
            t <-
              if (p.isKw("select") || p.isKw("with"))
                (if (p.isKw("with")) parseWith(p) else parseSelectOrUnion(p))
                  .map(DescribeQueryTree(_): ParseTree)
              else p.ident().map(qualifiedTail(p, _))
                .map(DescribeTree(_): ParseTree)
          } yield t
        else if (p.isKw("summarize"))
          for {
            _ <- Right(p.next())
            t <-
              if (p.isKw("select") || p.isKw("with"))
                (if (p.isKw("with")) parseWith(p) else parseSelectOrUnion(p))
                  .map(SummarizeQueryTree(_): ParseTree)
              else p.ident().map(SummarizeTree(_): ParseTree)
          } yield t
        else if (p.isKw("copy")) parseCopy(p)
        else if (p.isKw("alter")) parseAlter(p)
        else if (p.isKw("truncate"))
          for {
            _ <- p.eatKw("truncate")
            _ <- p.eatKw("table")
            name <- p.ident().map(qualifiedTail(p, _))
          } yield TruncateTree(name)
        else if (p.isKw("drop")) parseDrop(p)
        else if (p.isKw("refresh"))
          for {
            _ <- p.eatKw("refresh")
            _ <- p.eatKw("materialized")
            _ <- p.eatKw("view")
            name <- p.ident()
          } yield RefreshMatViewTree(name.toLowerCase)
        // ANALYZE [table]: recompute the maintained statistics (the
        // sample + HLL sketches the planner costs from) — bare form
        // rebuilds every table
        else if (p.isKw("analyze")) {
          p.next()
          (p.peek match {
            case TIdent(n, _) if !reserved(n) => p.next(); Right(Some(n))
            case _                            => Right(None)
          }).map(AnalyzeTree(_): ParseTree)
        }
        // SET <option> = <literal> / RESET <option>: session-option
        // compatibility surface — parsed, validated to a literal, and
        // no-op'd with a notice (execution tuning lives in the Spark
        // session, not per-statement state)
        else if (p.isKw("set")) {
          p.next()
          // SET VARIABLE x = <constant expr> (DuckDB session variables):
          // the VALUE is captured as raw text and evaluated by the
          // database through a FROM-less SELECT; getvariable('x') calls
          // splice the stored literal back in textually before parse
          if (p.isKw("variable")) {
            p.next()
            for {
              name <- p.ident()
              _ <- if (p.peek match {
                  case TSym("=", _) => p.next(); true
                  case TIdent(k, _) if k.equalsIgnoreCase("to") =>
                    p.next(); true
                  case _ => false
                }) Right(())
                else Left(ParseError("expected = or TO", p.peek.pos))
              txt <- p.peek match {
                case TEnd(pos) =>
                  Left(ParseError("SET VARIABLE needs a value", pos))
                case t =>
                  val raw = p.src.substring(t.pos).trim.stripSuffix(";").trim
                  while (!p.peek.isInstanceOf[TEnd]) p.next()
                  Right(raw)
              }
            } yield SetVariableTree(name.toLowerCase, txt): ParseTree
          } else
          for {
            name <- p.ident()
            _ <- if (p.peek match {
                case TSym("=", _) => p.next(); true
                case TIdent(k, _) if k.equalsIgnoreCase("to") => p.next(); true
                case _ => false
              }) Right(()) else Left(ParseError("expected = or TO", p.peek.pos))
            v <- parseLit(p)
          } yield SetOptionTree(name.toLowerCase, Some(v)): ParseTree
        }
        else if (p.isKw("reset")) {
          p.next()
          if (p.isKw("variable")) {
            p.next()
            p.ident().map(n => ResetVariableTree(n.toLowerCase): ParseTree)
          } else
            p.ident().map(n => SetOptionTree(n.toLowerCase, None): ParseTree)
        }
        else Left(ParseError(
          "expected SELECT, INSERT, CREATE, DROP, DELETE, UPDATE or REFRESH", p.peek.pos))
      tree.flatMap { t =>
        while (p.peek.isInstanceOf[TSym] && p.peek.asInstanceOf[TSym].s == ";") p.next()
        p.peek match {
          case TEnd(_) => Right(t)
          case tok     => Left(ParseError("query not parsed fully", tok.pos))
        }
      }
    }

  /** WITH name AS (SELECT …) [, name AS (SELECT …)]* SELECT … — common
    * table expressions, desugared at parse time: every reference to a CTE
    * name (in FROM lists, join steps and subqueries, at any depth) is
    * replaced by a derived table carrying the CTE's SELECT body, so the
    * analyzer and lowering see the query they already understand. A CTE
    * may reference any EARLIER CTE (substituted into its body at
    * definition time — standard non-recursive WITH scoping); a CTE name
    * shadows a catalog table of the same name, like SQL.
    */
  private def parseWith(p: P): Either[ParseError, ParseTree] = {
    // does a SELECT read the given table name anywhere (FROM, steps,
    // derived bodies, subqueries)? — the self-reference test for RECURSIVE
    def readsTable(t: SelectTree, name: String): Boolean = {
      def inTree(pt: ParseTree): Boolean = pt match {
        case s: SelectTree => readsTable(s, name)
        case u: UnionTree =>
          readsTable(u.first, name) || u.rest.exists(r => readsTable(r._2, name))
        case _ => false
      }
      def inFrom(fi: FromItem): Boolean = fi match {
        case FTable(TableRef(n, _)) => n.equalsIgnoreCase(name)
        case FDerived(sel, _)       => inTree(sel)
        case FLateral(sel, _)       => inTree(sel)
      }
      def inNode(n: Node): Boolean = (n match {
        case Operand.ScalarSub(sub)           => readsTable(sub, name)
        case Expr.InSubquery(_, sub, _)       => readsTable(sub, name)
        case Expr.Exists(sub, _)              => readsTable(sub, name)
        case Expr.QuantSubquery(_, _, sub, _) => readsTable(sub, name)
        case _                                => false
      }) || n.children.exists(inNode)
      t.from.exists(inFrom) || t.joinSteps.exists(js => inFrom(js.item)) ||
        t.where.exists(inNode) || t.having.exists(inNode) ||
        t.columns.exists(_.exists {
          case SelectItem.SExpr(op, _) => inNode(op)
          case _                       => false
        })
    }
    def one(recursive: Boolean, ctes: Map[String, ParseTree])
        : Either[ParseError, (String, ParseTree)] =
      for {
        namePos <- Right(p.peek.pos)
        name <- p.ident()
        _ <-
          if (ctes.contains(name.toLowerCase))
            Left(ParseError(s"duplicate CTE name '$name'", namePos))
          else Right(())
        _ <- p.eatKw("as")
        _ <- p.eatSym("(")
        sel <- parseSelectOrUnion(p)
        _ <- p.eatSym(")")
        body <- substCteTree(sel, ctes) match {
          // RECURSIVE + a 2-branch union whose STEP reads the CTE's own
          // name = base UNION [ALL] step fixpoint; anything else stays a
          // plain CTE (RECURSIVE is permission, not obligation — SQL rule)
          case u: UnionTree if recursive && u.rest.length == 1 &&
              readsTable(u.rest.head._2, name) =>
            if (readsTable(u.first, name))
              Left(ParseError(
                s"recursive CTE '$name': the base branch must not reference it", namePos))
            else if (u.orderBy.nonEmpty || u.limit.isDefined || u.offset.isDefined)
              Left(ParseError(
                s"recursive CTE '$name' does not take ORDER BY/LIMIT", namePos))
            else u.rest.head._1 match {
              case "union"     => Right(RecursiveTree(name.toLowerCase, u.first,
                u.rest.head._2, unionAll = false))
              case "union_all" => Right(RecursiveTree(name.toLowerCase, u.first,
                u.rest.head._2, unionAll = true))
              case other => Left(ParseError(
                s"recursive CTE '$name' must combine with UNION [ALL], not $other", namePos))
            }
          case u: UnionTree if !recursive &&
              (readsTable(u.first, name) ||
                u.rest.exists(r => readsTable(r._2, name))) =>
            Left(ParseError(
              s"CTE '$name' references itself — use WITH RECURSIVE", namePos))
          case s: SelectTree if !recursive && readsTable(s, name) =>
            Left(ParseError(
              s"CTE '$name' references itself — use WITH RECURSIVE", namePos))
          case other => Right(other)
        }
      } yield (name.toLowerCase, body)
    def loop(recursive: Boolean, ctes: Vector[(String, ParseTree)])
        : Either[ParseError, Vector[(String, ParseTree)]] =
      one(recursive, ctes.toMap).flatMap { c =>
        p.peek match {
          case TSym(",", _) => p.next(); loop(recursive, ctes :+ c)
          case _            => Right(ctes :+ c)
        }
      }
    for {
      _ <- p.eatKw("with")
      recursive <- Right { if (p.isKw("recursive")) { p.next(); true } else false }
      ctes <- loop(recursive, Vector.empty)
      main <- parseSelectOrUnion(p)
    } yield substCteTree(main, ctes.toMap)
  }

  /** substCte over either readable tree form. */
  private def substCteTree(t: ParseTree, ctes: Map[String, ParseTree]): ParseTree =
    t match {
      case s: SelectTree => substCte(s, ctes)
      case u: UnionTree => u.copy(
        first = substCte(u.first, ctes),
        rest = u.rest.map { case (c, s) => (c, substCte(s, ctes)) })
      // a recursive CTE body referenced through a view/CTE map: substitute
      // into base and step, with the CTE's own name shadowing any view of
      // the same name
      case r: RecursiveTree => r.copy(
        base = substCte(r.base, ctes - r.name),
        step = substCte(r.step, ctes - r.name))
      case other => other
    }

  /** Replace CTE-name table references with derived tables, recursing into
    * every nested SELECT (derived tables, join steps, and the subqueries
    * of WHERE, HAVING and computed SELECT items at any depth).
    */
  private def substCte(t: SelectTree, ctes: Map[String, ParseTree]): SelectTree = {
    if (ctes.isEmpty) return t
    def fromItem(fi: FromItem): FromItem = fi match {
      case FTable(TableRef(n, a)) if ctes.contains(n.toLowerCase) =>
        // a schema-qualified VIEW substitutes under its LAST segment
        // (FROM rpt.v → binding v), like qualified tables
        FDerived(ctes(n.toLowerCase), a.getOrElse(n.split('.').last))
      case ft: FTable        => ft
      case FDerived(sel, al) => FDerived(substCteTree(sel, ctes), al)
      case FLateral(sel, al) => FLateral(substCteTree(sel, ctes), al)
      case tf: FTableFunc    => tf
      case fs: FFileScan     => fs
    }
    def operand(o: Operand): Operand = o match {
      case Operand.ScalarSub(sub) => Operand.ScalarSub(substCte(sub, ctes))
      case other                  => other.mapChildren(operand, expr)
    }
    def expr(e: Expr): Expr = (e match {
      case Expr.InSubquery(os, sub, n)  => Expr.InSubquery(os, substCte(sub, ctes), n)
      case Expr.Exists(sub, n)          => Expr.Exists(substCte(sub, ctes), n)
      case Expr.QuantSubquery(op, l, sub, all) =>
        Expr.QuantSubquery(op, l, substCte(sub, ctes), all)
      case other                  => other
    }).mapChildren(operand, expr)
    t.copy(
      columns = t.columns.map(_.map {
        case SelectItem.SExpr(op, a) => SelectItem.SExpr(operand(op), a)
        case other                   => other
      }),
      from = t.from.map(fromItem),
      joinSteps = t.joinSteps.map(js => js.copy(item = fromItem(js.item))),
      where = t.where.map(expr),
      having = t.having.map(expr))
  }

  /** SELECT, optionally followed by UNION [ALL] / INTERSECT / EXCEPT
    * chains. The trailing ORDER BY / LIMIT (consumed by the LAST branch's
    * parseSelect) is hoisted to the set-op level — SQL permits them only
    * after the last branch — and must use unqualified output names; the
    * non-last branches must not carry their own.
    */
  private def parseSelectOrUnion(p: P): Either[ParseError, ParseTree] =
    parseSelect(p).flatMap { first =>
      def isConn = p.isKw("union") || p.isKw("intersect") || p.isKw("except")
      if (!isConn) Right(first)
      else {
        def loop(branches: Vector[(String, SelectTree)])
            : Either[ParseError, Vector[(String, SelectTree)]] =
          if (!isConn) Right(branches)
          else {
            val kw = p.next().asInstanceOf[TIdent].s.toLowerCase
            val conn0 =
              if (p.isKw("all")) { p.next(); s"${kw}_all" }
              else kw
            // UNION [ALL] BY NAME — branches combine by column NAME
            // (any order) instead of position
            val connE: Either[ParseError, String] =
              if (p.isKw("by")) {
                val pos = p.peek.pos
                p.next()
                p.eatKw("name").flatMap { _ =>
                  if (kw == "union") Right(s"${conn0}_byname")
                  else Left(ParseError("BY NAME applies to UNION only", pos))
                }
              } else Right(conn0)
            connE.flatMap(conn =>
              parseSelect(p).flatMap(s => loop(branches :+ (conn -> s))))
          }
        loop(Vector.empty).flatMap { rest =>
          val pos = p.peek.pos
          val nonLast = first +: rest.dropRight(1).map(_._2)
          if (nonLast.exists(s => s.orderBy.nonEmpty || s.limit.isDefined || s.offset.isDefined))
            Left(ParseError("ORDER BY / LIMIT must follow the last UNION branch", pos))
          else {
            val (lastAll, last) = rest.last
            val stripped = rest.dropRight(1) :+
              (lastAll -> last.copy(orderBy = Nil, limit = None, offset = None))
            val keys: Either[ParseError, Vector[(ColRef, SortDir)]] =
              last.orderBy.foldLeft[Either[ParseError, Vector[(ColRef, SortDir)]]](
                Right(Vector.empty)) {
                case (acc, (Operand.Col(c), desc)) if c.binding.isEmpty =>
                  acc.map(_ :+ (c -> desc))
                case _ => Left(ParseError(
                  "UNION ORDER BY must use unqualified output names", pos))
              }
            keys.map(ks => UnionTree(first, stripped, ks, last.limit, last.offset))
          }
        }
      }
    }

  /** A join step's condition: `ON <pred>`, or `USING (col, …)` — the
    * latter returns a placeholder TRUE condition plus the column names
    * (the analyzer builds the equalities from the schemas; duplicate
    * names reject here).
    */
  private def onOrUsing(p: P): Either[ParseError, (Expr, Seq[String])] =
    if (p.isKw("using")) {
      val pos = p.peek.pos
      p.next()
      for {
        _ <- p.eatSym("(")
        names <- {
          def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
            p.ident().flatMap { n =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ n)
                case _            => p.eatSym(")").map(_ => acc :+ n)
              }
            }
          loop(Vector.empty)
        }
        _ <-
          if (names.map(_.toLowerCase).distinct.length == names.length) Right(())
          else Left(ParseError("duplicate column in USING", pos))
      } yield (Expr.Cmp(CmpOp.Eq, Operand.Literal(Lit.LitLong(1L)),
        Operand.Literal(Lit.LitLong(1L))): Expr, names: Seq[String])
    } else
      p.eatKw("on").flatMap(_ => parseOr(p).map(c => (c, Nil: Seq[String])))

  /** Optional IGNORE|RESPECT NULLS inside a window call's parens (the
    * DuckDB placement). IGNORE appends the sentinel trailing argument;
    * RESPECT is the default and parses as a no-op.
    */
  private def winNullsOpt(p: P, args: Vector[Operand])
      : Either[ParseError, Vector[Operand]] =
    if (p.isKw("ignore")) {
      p.next()
      p.eatKw("nulls").map(_ =>
        args :+ (Operand.Literal(Lit.LitString(IgnoreNullsSentinel)): Operand))
    } else if (p.isKw("respect")) {
      p.next(); p.eatKw("nulls").map(_ => args)
    } else Right(args)

  private def parseColRef(p: P): Either[ParseError, ColRef] =
    p.ident().flatMap { a =>
      p.peek match {
        case TSym(".", _) =>
          p.next()
          p.ident().map(b => ColRef(Some(a), b))
        case _ => Right(ColRef(None, a))
      }
    }

  /** Parse-level aggregate detection (GROUP BY ALL desugars to the
    * non-aggregate SELECT items at parse time).
    */
  private def operandHasAgg(o: Operand): Boolean =
    o.exists { case _: Operand.AggCall | _: Operand.OrderedAgg => true }

  /** DuckDB star modifiers: `* EXCLUDE (col, …)` / `* REPLACE (expr AS
    * col, …)` / `* RENAME (old AS new, …)`, in any order (contextual
    * keywords — only the call shape triggers them).
    */
  private def parseStarMods(p: P)
      : Either[ParseError, (Vector[String], Vector[(Operand, String)],
        Vector[(String, String)])] = {
    def callAhead(kw: String): Boolean = p.isKw(kw) && {
      val save = p.i; p.next()
      val r = p.peek match { case TSym("(", _) => true; case _ => false }
      p.i = save; r
    }
    def loop(excl: Vector[String], repl: Vector[(Operand, String)],
        ren: Vector[(String, String)])
        : Either[ParseError, (Vector[String], Vector[(Operand, String)],
          Vector[(String, String)])] =
      if (callAhead("exclude")) {
        p.next()
        for {
          _ <- p.eatSym("(")
          names <- {
            def go(acc: Vector[String]): Either[ParseError, Vector[String]] =
              p.ident().flatMap { n =>
                p.peek match {
                  case TSym(",", _) => p.next(); go(acc :+ n)
                  case _            => Right(acc :+ n)
                }
              }
            go(Vector.empty)
          }
          _ <- p.eatSym(")")
          r <- loop(excl ++ names, repl, ren)
        } yield r
      } else if (callAhead("replace")) {
        p.next()
        for {
          _ <- p.eatSym("(")
          pairs <- {
            def one(): Either[ParseError, (Operand, String)] =
              for {
                e <- parseOperand(p)
                _ <- p.eatKw("as")
                n <- p.ident()
              } yield (e, n)
            def go(acc: Vector[(Operand, String)])
                : Either[ParseError, Vector[(Operand, String)]] =
              one().flatMap { pr =>
                p.peek match {
                  case TSym(",", _) => p.next(); go(acc :+ pr)
                  case _            => Right(acc :+ pr)
                }
              }
            go(Vector.empty)
          }
          _ <- p.eatSym(")")
          r <- loop(excl, repl ++ pairs, ren)
        } yield r
      } else if (callAhead("rename")) {
        p.next()
        for {
          _ <- p.eatSym("(")
          pairs <- {
            def one(): Either[ParseError, (String, String)] =
              for {
                o <- p.ident()
                _ <- p.eatKw("as")
                n <- p.ident()
              } yield (o, n)
            def go(acc: Vector[(String, String)])
                : Either[ParseError, Vector[(String, String)]] =
              one().flatMap { pr =>
                p.peek match {
                  case TSym(",", _) => p.next(); go(acc :+ pr)
                  case _            => Right(acc :+ pr)
                }
              }
            go(Vector.empty)
          }
          _ <- p.eatSym(")")
          r <- loop(excl, repl, ren ++ pairs)
        } yield r
      } else Right((excl, repl, ren))
    loop(Vector.empty, Vector.empty, Vector.empty)
  }

  /** ROWS/RANGE BETWEEN frame bound, in Spark's row-offset encoding. */
  /** A frame bound: offset + whether it was an INTERVAL literal
    * (normalized to seconds; fixed-length units only — month/year vary).
    */
  private def parseFrameBound(p: P): Either[ParseError, (Long, Boolean)] =
    p.peek match {
    case TIdent(k, _) if k.equalsIgnoreCase("unbounded") =>
      p.next()
      if (p.isKw("preceding")) { p.next(); Right((Long.MinValue, false)) }
      else if (p.isKw("following")) { p.next(); Right((Long.MaxValue, false)) }
      else Left(ParseError("expected PRECEDING or FOLLOWING", p.peek.pos))
    case TIdent(k, _) if k.equalsIgnoreCase("current") =>
      p.next(); p.eatKw("row").map(_ => (0L, false))
    case TIdent(k, _) if k.equalsIgnoreCase("interval") =>
      val start = p.peek.pos
      p.next()
      for {
        n <- p.peek match {
          case TStr(v, _) => p.next()
            v.trim.toLongOption.toRight(
              ParseError("INTERVAL takes an integer count", start))
          case TInt(v, _) => p.next(); Right(v)
          case t => Left(ParseError("INTERVAL takes an integer count", t.pos))
        }
        secs <- p.peek match {
          case TIdent(u, _) =>
            p.next()
            u.toLowerCase.stripSuffix("s") match {
              case "second" => Right(1L)
              case "minute" => Right(60L)
              case "hour"   => Right(3600L)
              case "day"    => Right(86400L)
              case "week"   => Right(604800L)
              case other => Left(ParseError(
                s"INTERVAL frame bounds take fixed-length units " +
                  s"(second/minute/hour/day/week, got $other)", start))
            }
          case t => Left(ParseError("expected an INTERVAL unit", t.pos))
        }
        off <-
          if (p.isKw("preceding")) { p.next(); Right(-n * secs) }
          else if (p.isKw("following")) { p.next(); Right(n * secs) }
          else Left(ParseError("expected PRECEDING or FOLLOWING", p.peek.pos))
      } yield (off, true)
    case TInt(v, _) =>
      p.next()
      if (p.isKw("preceding")) { p.next(); Right((-v, false)) }
      else if (p.isKw("following")) { p.next(); Right((v, false)) }
      else Left(ParseError("expected PRECEDING or FOLLOWING", p.peek.pos))
    case t => Left(ParseError("expected a frame bound", t.pos))
  }

  /** OVER (PARTITION BY cols ORDER BY operands [ROWS|RANGE BETWEEN …]) */
  private def parseOverSpec(p: P): Either[ParseError,
      (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame])] =
    for {
      _ <- p.eatSym("(")
      // PARTITION BY takes full operands (DuckDB allows expressions —
      // PARTITION BY (a % 3); aggregates allowed for post-aggregation
      // windows, same as ORDER keys)
      parts <-
        if (p.isKw("partition")) {
          p.next()
          p.eatKw("by").flatMap { _ =>
            def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
              parseOperand(p, allowAgg = true).flatMap { c =>
                p.peek match {
                  case TSym(",", _) => p.next(); loop(acc :+ c)
                  case _            => Right(acc :+ c)
                }
              }
            loop(Vector.empty)
          }
        } else Right(Vector.empty[Operand])
      ord <-
        if (p.isKw("order")) {
          p.next()
          p.eatKw("by").flatMap { _ =>
            // aggregates allowed: over an aggregated query the
            // window orders post-aggregation (ORDER BY count(*)).
            // NULLS FIRST/LAST binds natively onto the sort direction
            // (SortDir.nullsFirst → asc_nulls_first/… at lowering) —
            // no extra ORDER key, so RANGE frames compose with it
            def one(): Either[ParseError, (Operand, SortDir)] =
              parseOperand(p, allowAgg = true).flatMap { c =>
                val desc =
                  if (p.isKw("desc")) { p.next(); true }
                  else if (p.isKw("asc")) { p.next(); false }
                  else false
                if (p.isKw("nulls")) {
                  val pos = p.peek.pos
                  p.next()
                  p.peek match {
                    case TIdent(k, _) if k.equalsIgnoreCase("first") =>
                      p.next(); Right((c, SortDir(desc, Some(true))))
                    case TIdent(k, _) if k.equalsIgnoreCase("last") =>
                      p.next(); Right((c, SortDir(desc, Some(false))))
                    case _ => Left(ParseError(
                      "expected FIRST or LAST after NULLS", pos))
                  }
                } else Right((c, SortDir(desc)))
              }
            def loop(acc: Vector[(Operand, SortDir)]): Either[ParseError, Vector[(Operand, SortDir)]] =
              one().flatMap { o =>
                p.peek match {
                  case TSym(",", _) => p.next(); loop(acc :+ o)
                  case _            => Right(acc :+ o)
                }
              }
            loop(Vector.empty)
          }
        } else Right(Vector.empty[(Operand, SortDir)])
      frame <-
        if (p.isKw("rows") || p.isKw("range") || p.isKw("groups")) {
          val isRange = p.isKw("range")
          val isGroups = p.isKw("groups")
          p.next()
          for {
            _ <- p.eatKw("between")
            lo0 <- parseFrameBound(p)
            _ <- p.eatKw("and")
            hi0 <- parseFrameBound(p)
            (lo, loIv) = lo0
            (hi, hiIv) = hi0
            _ <-
              if ((loIv || hiIv) && !isRange) Left(ParseError(
                "INTERVAL frame bounds require a RANGE frame", p.peek.pos))
              // a finite plain-integer bound mixed with an interval one
              // would silently mean "seconds" — require both symbolic
              else if (loIv != hiIv &&
                  (if (loIv) hi != 0L && hi != Long.MaxValue
                   else lo != 0L && lo != Long.MinValue))
                Left(ParseError(
                  "mixed INTERVAL and plain RANGE bounds are not supported",
                  p.peek.pos))
              else Right(())
            // the standard's frame-exclusion clause (EXCLUDE NO OTHERS
            // = the default); GROUP/TIES validity (RANGE frames,
            // decomposable aggregates) checks at analysis
            excl <-
              if (p.isKw("exclude")) {
                val pos = p.peek.pos
                p.next()
                p.peek match {
                  case TIdent(k, _) if k.equalsIgnoreCase("current") =>
                    p.next(); p.eatKw("row").map(_ => "current")
                  case TIdent(k, _) if k.equalsIgnoreCase("no") =>
                    p.next(); p.eatKw("others").map(_ => "none")
                  case TIdent(k, _) if k.equalsIgnoreCase("group") =>
                    p.next(); Right("group")
                  case TIdent(k, _) if k.equalsIgnoreCase("ties") =>
                    p.next(); Right("ties")
                  case _ => Left(ParseError(
                    "EXCLUDE supports CURRENT ROW, GROUP, TIES and NO OTHERS", pos))
                }
              } else Right("none")
            // GROUPS + EXCLUDE: the exclusion machinery's peer-group
            // subtraction presumes the range/row encodings — reject
            // pointedly rather than silently diverging
            _ <-
              if (isGroups && excl != "none") Left(ParseError(
                "EXCLUDE is not supported with GROUPS frames", p.peek.pos))
              else Right(())
          } yield Some(WinFrame(isRange, lo, hi, excl,
            temporal = loIv || hiIv, groups = isGroups))
        } else Right(None: Option[WinFrame])
      _ <- p.eatSym(")")
    } yield (parts, ord, frame)

  private def parseSelect(p: P): Either[ParseError, SelectTree] = {
    // hidden inline-OVER window items (nested in projection operands or
    // the QUALIFY predicate) collect here; a nested SELECT must not see
    // an enclosing select's sink (save/restore around the whole parse)
    val hiddenWins = scala.collection.mutable.ArrayBuffer.empty[SelectItem.SWin]
    val savedSink = p.winSink
    p.winSink = null
    val result = for {
      _ <- p.eatKw("select")
      distinct <- Right { if (p.isKw("distinct")) { p.next(); true } else false }
      // DISTINCT ON (expr, …): first-row-per-key selection
      distinctOn <-
        if (distinct && p.isKw("on") && {
          val save = p.i; p.next()
          val isP = p.peek match { case TSym("(", _) => true; case _ => false }
          p.i = save; isP
        }) {
          p.next()
          for {
            _ <- p.eatSym("(")
            keys <- {
              def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                parseOperand(p).flatMap { o =>
                  p.peek match {
                    case TSym(",", _) => p.next(); loop(acc :+ o)
                    case _            => Right(acc :+ o)
                  }
                }
              loop(Vector.empty)
            }
            _ <- p.eatSym(")")
          } yield keys
        } else Right(Vector.empty[Operand])
      cols <- p.peek match {
        case TSym("*", _) if {
          // solo `SELECT *` keeps the legacy whole-row form; `*` followed
          // by ',' is one item of a longer list
          val save = p.i; p.next()
          val solo = p.peek match { case TSym(",", _) => false; case _ => true }
          p.i = save; solo
        } =>
          p.next()
          // solo star may still carry EXCLUDE/REPLACE modifiers
          parseStarMods(p).map {
            case (e, r, rn) if e.isEmpty && r.isEmpty && rn.isEmpty => None
            case (e, r, rn) => Some(Seq(SelectItem.SStar(None, e, r, rn)))
          }
        case _ =>
          def winItem(fn: String, args: Seq[Operand],
              start: Int): Either[ParseError, SelectItem] =
            for {
              _ <- p.eatKw("over")
              // OVER (spec) or OVER <name> (a WINDOW-clause reference,
              // resolved after the WINDOW clause parses)
              specOrRef <- p.peek match {
                case TIdent(n, _) if !reserved(n) =>
                  p.next()
                  Right(Left(n): Either[String,
                    (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame])])
                case _ => parseOverSpec(p).map(Right(_): Either[String,
                  (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame])])
              }
              _ <-
                if (p.isKw("as")) { p.next(); Right(()) }
                else Left(ParseError("a window item requires AS <name>", start))
              a <- p.ident()
            } yield specOrRef match {
              case Right(spec) =>
                SelectItem.SWin(fn, args, spec._1, spec._2, a, spec._3)
              case Left(rn) =>
                SelectItem.SWin(fn, args, Vector.empty, Vector.empty, a,
                  None, ref = Some(rn))
            }
          def item(): Either[ParseError, SelectItem] = {
            // projection items are full operands with aggregates allowed:
            // a bare column is a plain projection, a bare aggregate call
            // keeps its derived name, anything computed requires AS; a
            // ranking function or aggregate followed by OVER is a window
            val start = p.peek.pos
            p.peek match {
              // `*` / `t.*` as one item of a longer list
              case TSym("*", _) =>
                p.next()
                parseStarMods(p).map { case (e, r, rn) => SelectItem.SStar(None, e, r, rn) }
              // COLUMNS('regex') / COLUMNS(c -> pred): star expansion
              // filtered by a regex — or a LAMBDA over the column name
              case TIdent(k, _) if k.equalsIgnoreCase("columns") && {
                val save = p.i; p.next()
                val isP = (p.peek match {
                  case TSym("(", _) => p.next()
                    p.peek match {
                      case TStr(_, _) => true
                      case TIdent(_, _) => p.next()
                        p.peek match { case TSym("->", _) => true; case _ => false }
                      case _ => false
                    }
                  case _ => false
                })
                p.i = save; isP
              } =>
                p.next()
                for {
                  _ <- p.eatSym("(")
                  item <- p.peek match {
                    case TStr(v, _) =>
                      p.next(); Right(SelectItem.SColumns(v): SelectItem)
                    case TIdent(prm, _) =>
                      p.next()
                      for {
                        _ <- p.eatSym("->")
                        body <- parseOr(p)
                      } yield SelectItem.SColumnsLambda(prm.toLowerCase,
                        body): SelectItem
                    case t => Left(ParseError(
                      "COLUMNS takes a string-literal regex or a lambda", t.pos))
                  }
                  _ <- p.eatSym(")")
                } yield item
              case TIdent(b, _) if {
                val save = p.i; p.next()
                val dotStar = (p.peek match {
                  case TSym(".", _) => p.next()
                    p.peek match { case TSym("*", _) => true; case _ => false }
                  case _ => false
                })
                p.i = save; dotStar
              } =>
                p.next(); p.next(); p.next() // ident . *
                parseStarMods(p).map { case (e, r, rn) => SelectItem.SStar(Some(b), e, r, rn) }
              // fn(COLUMNS(…)) — per-column function application (DuckDB):
              // one output item per matched column, named with the bare
              // column name. Detected by a 3-token lookahead so ordinary
              // calls fall through to the operand grammar untouched.
              case TIdent(f, _) if (aggSyntax(f, Aggregates.Syntax.Plain) ||
                  Functions.callable(f.toLowerCase)) && {
                val save = p.i; p.next()
                val isColumnsCall = (p.peek match {
                  case TSym("(", _) => p.next()
                    p.peek match {
                      case TIdent(k, _) if k.equalsIgnoreCase("columns") =>
                        p.next()
                        p.peek match { case TSym("(", _) => true; case _ => false }
                      case _ => false
                    }
                  case _ => false
                })
                p.i = save; isColumnsCall
              } =>
                p.next()
                for {
                  _ <- p.eatSym("(")
                  _ <- Right(p.next()) // COLUMNS
                  _ <- p.eatSym("(")
                  sel <- p.peek match {
                    case TSym("*", _) =>
                      p.next()
                      parseStarMods(p).flatMap {
                        case (excl, Vector(), Vector()) =>
                          Right((None: Option[String], excl.toSeq))
                        case _ => Left(ParseError(
                          "COLUMNS(*) inside a call supports EXCLUDE only", start))
                      }
                    case TStr(v, _) => p.next(); Right((Some(v), Seq.empty[String]))
                    case t => Left(ParseError(
                      "COLUMNS takes * or a string-literal regex", t.pos))
                  }
                  _ <- p.eatSym(")")
                  extra <- {
                    def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                      p.peek match {
                        case TSym(",", _) =>
                          p.next(); parseOperand(p).flatMap(a => loop(acc :+ a))
                        case _ => Right(acc)
                      }
                    loop(Vector.empty)
                  }
                  _ <- p.eatSym(")")
                } yield SelectItem.SColumnsFn(Aggregates.canonical(f.toLowerCase),
                  sel._1, sel._2, extra): SelectItem
              // `rank() OVER (…) - 1 AS x` routes through the operand
              // grammar below (the hidden-window sink); only a whole-item
              // window call takes the direct path
              case TIdent(f, _) if aggSyntax(f, Aggregates.Syntax.Window) &&
                  !p.winCallInExpression =>
                p.next()
                for {
                  _ <- p.eatSym("(")
                  args <- p.peek match {
                    case TSym(")", _) => Right(Vector.empty[Operand])
                    case _ =>
                      // lag/lead: value operand + optional literal offset;
                      // aggregates allowed (post-aggregation windows)
                      def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                        parseOperand(p, allowAgg = true).flatMap { a =>
                          p.peek match {
                            case TSym(",", _) => p.next(); loop(acc :+ a)
                            case _            => Right(acc :+ a)
                          }
                        }
                      loop(Vector.empty)
                  }
                  args <- winNullsOpt(p, args)
                  _ <- p.eatSym(")")
                  it <- winItem(f.toLowerCase, args, start)
                } yield it
              case _ =>
                // inline-OVER calls nested in the operand desugar into
                // hidden window items via the sink (the QUALIFY
                // machinery); a call that turns out to be the WHOLE
                // item unwraps back into an ordinary window item below
                p.winSink = hiddenWins
                val itemSave = p.i
                val winSave = hiddenWins.length
                val opE0 = parseOperand(p, allowAgg = true)
                p.winSink = null
                // an UNPARENTHESIZED boolean item — `a >= b AS flag`,
                // `x LIKE 'y%' AS m`, `a = 1 AND b = 2 AS both` — shows
                // up as a parsed operand followed by a predicate token:
                // reparse the whole item through the predicate grammar
                // and desugar like the parenthesized form. (Backtrack
                // drops any hidden-window entries the first pass pushed;
                // OVER inside a comparison item stays unsupported — that
                // is QUALIFY's job.)
                val predNext = opE0.isRight && (p.peek match {
                  case TSym("=" | "<" | ">" | "<=" | ">=" | "<>", _) => true
                  case TIdent(kw2, _) => Set("is", "like", "ilike",
                    "in", "between", "not", "and", "or")(kw2.toLowerCase)
                  case _ => false
                })
                val opE =
                  if (!predNext) opE0
                  else {
                    p.i = itemSave
                    hiddenWins.remove(winSave, hiddenWins.length - winSave)
                    parseOr(p, allowAgg = true) match {
                      case Right(e) => Right(boolAsValue(e))
                      case Left(_) =>
                        // not a predicate after all: replay the operand
                        p.i = itemSave
                        p.winSink = hiddenWins
                        val r = parseOperand(p, allowAgg = true)
                        p.winSink = null
                        r
                    }
                  }
                opE.flatMap { op =>
                  def alias(): Either[ParseError, Option[String]] =
                    if (p.isKw("as")) { p.next(); p.ident().map(Some(_)) }
                    else Right(None)
                  op match {
                    // the whole item was one OVER call — keep the
                    // ordinary SWin path (alias = the user's AS name)
                    case Operand.Col(ColRef(None, n)) if n.startsWith("__qw") &&
                        hiddenWins.lastOption.exists(_.alias.equalsIgnoreCase(n)) =>
                      val w = hiddenWins.remove(hiddenWins.length - 1)
                      if (p.isKw("as")) {
                        p.next()
                        p.ident().map(a => w.copy(alias = a): SelectItem)
                      } else Left(ParseError("a window item requires AS <name>", start))
                    case Operand.AggCall(f, arg, false) if p.isKw("over") =>
                      winItem(f, arg.toSeq, start)
                    // windowed ordered aggregates: string_agg/array_agg
                    // OVER — order comes from the OVER clause (an
                    // in-call ORDER BY would be ambiguous); the
                    // separator rides as a literal trailing argument
                    case Operand.OrderedAgg(f, arg, sep, ord, false)
                        if p.isKw("over") && Aggregates.lookup(f)
                          .exists(_.syntax == Aggregates.Syntax.Collect) =>
                      if (ord.nonEmpty) Left(ParseError(
                        s"windowed $f takes its order from the OVER clause",
                        start))
                      else winItem(f,
                        Seq(arg, Operand.Literal(Lit.LitString(sep))), start)
                    // DISTINCT window aggregates: count/sum/avg lower
                    // over a per-frame collect_set (min/max: DISTINCT
                    // is a no-op). The sentinel rides as a trailing
                    // argument like IGNORE NULLS.
                    case Operand.AggCall(f, arg, true) if p.isKw("over") =>
                      if (!Aggregates.lookup(f).exists(_.decomposable))
                        Left(ParseError(s"DISTINCT windowed $f is not " +
                          "supported (count/sum/avg/min/max are)", start))
                      else winItem(f, arg.toSeq :+ (Operand.Literal(
                        Lit.LitString(DistinctSentinel)): Operand), start)
                    case Operand.Col(c) => alias().map(a => SelectItem.SCol(c, a))
                    case Operand.AggCall(f, arg, dist) =>
                      alias().map(a => SelectItem.SAgg(f, arg, a, dist))
                    case computed => p.peek match {
                      case TIdent(s, _) if s.equalsIgnoreCase("as") =>
                        p.next(); p.ident().map(a => SelectItem.SExpr(computed, a))
                      case _ => Left(ParseError(
                        "computed select item requires AS <name>", start))
                    }
                  }
                }
            }
          }
          def loop(acc: Vector[SelectItem]): Either[ParseError, Vector[SelectItem]] =
            item().flatMap { c =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ c)
                case _            => Right(acc :+ c)
              }
            }
          loop(Vector.empty).map(Some(_))
      }
      // FROM is optional: `SELECT 1+1 AS x` evaluates over one
      // synthetic row (the DuckDB/Postgres convenience form)
      hasFrom <- Right { if (p.isKw("from")) { p.next(); true } else false }
      // FROM list: comma-separated tables and/or [INNER] JOIN … ON <cond>,
      // then optionally LEFT/RIGHT/FULL [OUTER] / INNER JOIN … ON steps in
      // any order. Inner ONs in the LEADING group (before any outer join)
      // desugar into the WHERE conjunction — an inner join's ON there is
      // semantically a filter, and the stats-driven join-order DP rebuilds
      // the tree from the conjuncts. Once an outer join has appeared, every
      // later step (outer or inner) keeps its ON attached and applies in
      // declaration order: SQL evaluates the FROM list left to right, so an
      // inner step's ON ranges over the preceding outer join's
      // null-extended result and must not be hoisted ahead of it.
      fromAndOn <- {
        def tableOnly(): Either[ParseError, TableRef] =
          p.ident().map(qualifiedTail(p, _)).map { n =>
            p.peek match {
              case TIdent(a, _) if !reserved(a) => p.next(); TableRef(n, Some(a))
              case _                            => TableRef(n, None)
            }
          }
        // <item> USING SAMPLE <n> PERCENT (KEY col [, col…]) — sample
        // predicates desugared into WHERE conjuncts at parse, collected
        // here (see the `one` wrapper below)
        val samplePreds = Vector.newBuilder[Expr]
        // a FROM-group entry: a named table, or `(SELECT …) alias` —
        // including set-op chains: `(SELECT … UNION SELECT …) alias` —
        // or `LATERAL (SELECT …) alias`
        def one0(): Either[ParseError, FromItem] = p.peek match {
          // FROM 'path.parquet' — a file scan; format from the extension
          case TStr(path, pos) =>
            p.next()
            fileFormatOf(path) match {
              case None => Left(ParseError(
                s"cannot infer file format from '$path' — use " +
                  "read_parquet/read_csv/read_json or a .parquet/.csv/" +
                  ".json extension", pos))
              case Some(fmt) =>
                val alias = p.peek match {
                  case TIdent(a, _) if !reserved(a) => p.next(); a
                  case _ => fileBasename(path)
                }
                Right(FFileScan(fmt, path, alias))
            }
          // read_parquet('path') / read_csv('path') / read_json('path')
          case TIdent(fn, _) if FileReadFuncs.contains(fn.toLowerCase) && {
                val save = p.i; p.next()
                val isP = p.peek match { case TSym("(", _) => true; case _ => false }
                p.i = save; isP
              } =>
            val fmt = FileReadFuncs(fn.toLowerCase)
            p.next()
            for {
              _ <- p.eatSym("(")
              path <- p.peek match {
                case TStr(s, _) => p.next(); Right(s)
                case t => Left(ParseError(
                  s"$fn takes a single string-literal path", t.pos))
              }
              _ <- p.eatSym(")")
            } yield {
              val alias = p.peek match {
                case TIdent(a, _) if !reserved(a) => p.next(); a
                case _ => fileBasename(path)
              }
              FFileScan(fmt, path, alias): FromItem
            }
          // range(…) / generate_series(…) table functions with literal
          // integer bounds; generate_series is end-INCLUSIVE (DuckDB),
          // normalized here to half-open
          // catalog-introspection table functions: duckdb_tables() &
          // friends take NO arguments and resolve at dispatch like a
          // view — the database substitutes a VALUES tree built from
          // its live catalog (names/types in DuckDB's spelling)
          case TIdent(fn, _) if IntrospectionFuncs.contains(fn.toLowerCase) && {
                val save = p.i; p.next()
                val isP = p.peek match { case TSym("(", _) => true; case _ => false }
                p.i = save; isP
              } =>
            val fname = fn.toLowerCase
            p.next()
            for {
              _ <- p.eatSym("(")
              _ <- p.eatSym(")")
            } yield {
              val alias = p.peek match {
                case TIdent(a, _) if !reserved(a) => p.next(); Some(a)
                case _                            => None
              }
              FTable(TableRef(fname, alias)): FromItem
            }
          case TIdent(fn, _) if (fn.equalsIgnoreCase("range") ||
              fn.equalsIgnoreCase("generate_series")) && {
                val save = p.i; p.next()
                val isP = p.peek match { case TSym("(", _) => true; case _ => false }
                p.i = save; isP
              } =>
            val fname = fn.toLowerCase
            val start0 = p.peek.pos
            p.next()
            // TIMESTAMP/DATE bounds + INTERVAL step → a temporal series
            // in epoch MICROS (UTC — deterministic across JVM zones)
            def tsMicros(): Either[ParseError, Long] = p.peek match {
              case TIdent(k, _) if k.equalsIgnoreCase("timestamp") ||
                  k.equalsIgnoreCase("date") =>
                val isDate = k.equalsIgnoreCase("date")
                p.next()
                p.peek match {
                  case TStr(sv, pos) =>
                    p.next()
                    try {
                      val ldt =
                        if (isDate) java.time.LocalDate.parse(sv).atStartOfDay()
                        else java.time.LocalDateTime.parse(
                          sv.replace(' ', 'T'))
                      Right(ldt.toEpochSecond(java.time.ZoneOffset.UTC) *
                        1000000L + ldt.getNano / 1000L)
                    } catch {
                      case _: java.time.format.DateTimeParseException =>
                        Left(ParseError(
                          s"invalid ${k.toUpperCase} literal '$sv'", pos))
                    }
                  case t => Left(ParseError(
                    s"$fname: expected a ${k.toUpperCase} string literal", t.pos))
                }
              case t => Left(ParseError(
                s"$fname temporal bounds must be TIMESTAMP/DATE literals", t.pos))
            }
            def intervalMicros(): Either[ParseError, Long] = p.peek match {
              case TIdent(k, _) if k.equalsIgnoreCase("interval") =>
                p.next()
                val nE: Either[ParseError, Long] = p.next() match {
                  case TInt(v, _) => Right(v)
                  case TStr(sv, pos) =>
                    try Right(sv.trim.toLong)
                    catch { case _: NumberFormatException =>
                      Left(ParseError(s"invalid INTERVAL count '$sv'", pos)) }
                  case t => Left(ParseError("expected INTERVAL count", t.pos))
                }
                nE.flatMap { v =>
                  p.peek match {
                    case TIdent(u, pos) =>
                      val micros = u.toLowerCase.stripSuffix("s") match {
                        case "week"   => Some(7L * 86400000000L)
                        case "day"    => Some(86400000000L)
                        case "hour"   => Some(3600000000L)
                        case "minute" => Some(60000000L)
                        case "second" => Some(1000000L)
                        case _        => None
                      }
                      micros match {
                        case Some(m) => p.next(); Right(v * m)
                        case None => Left(ParseError(
                          s"$fname steps take fixed-length INTERVAL units " +
                            "(week/day/hour/minute/second — months vary)", pos))
                      }
                    case t => Left(ParseError("expected an INTERVAL unit", t.pos))
                  }
                }
              case t => Left(ParseError(
                s"$fname with temporal bounds takes an INTERVAL step", t.pos))
            }
            def temporalAhead: Boolean = p.peek match {
              case TIdent(k, _) if k.equalsIgnoreCase("timestamp") ||
                  k.equalsIgnoreCase("date") =>
                val save = p.i; p.next()
                val isStr = p.peek.isInstanceOf[TStr]; p.i = save; isStr
              case _ => false
            }
            def intLit(): Either[ParseError, Long] = p.peek match {
              case TSym("-", _) => p.next(); p.peek match {
                case TInt(v, _) => p.next(); Right(-v)
                case t => Left(ParseError("expected integer", t.pos))
              }
              case TInt(v, _) => p.next(); Right(v)
              case t => Left(ParseError(
                s"$fname takes literal integer bounds", t.pos))
            }
            for {
              _ <- p.eatSym("(")
              quad <-
                if (temporalAhead)
                  for {
                    s0 <- tsMicros()
                    _ <- p.eatSym(",")
                    e0 <- tsMicros()
                    _ <- p.eatSym(",")
                    st <- intervalMicros()
                    _ <- p.eatSym(")")
                    _ <-
                      if (st == 0L) Left(ParseError(
                        s"$fname step must not be 0", start0))
                      else Right(())
                  } yield (s0, e0, st, true)
                else for {
                  a1 <- intLit()
                  rest <- {
                    def loop(acc: Vector[Long]): Either[ParseError, Vector[Long]] =
                      p.peek match {
                        case TSym(",", _) => p.next(); intLit().flatMap(v => loop(acc :+ v))
                        case _ => p.eatSym(")").map(_ => acc)
                      }
                    loop(Vector.empty)
                  }
                  triple <- (a1 +: rest) match {
                    case Seq(b)       => Right((0L, b, 1L))
                    case Seq(a, b)    => Right((a, b, 1L))
                    case Seq(a, b, c) => Right((a, b, c))
                    case _ => Left(ParseError(s"$fname takes 1-3 arguments", start0))
                  }
                  _ <-
                    if (triple._3 == 0L)
                      Left(ParseError(s"$fname step must not be 0", start0))
                    else Right(())
                } yield (triple._1, triple._2, triple._3, false)
              alias <- p.peek match {
                case TIdent(a, _) if !reserved(a) => p.next(); Right(a)
                case _                            => Right(fname)
              }
              colName <- p.peek match {
                case TSym("(", _) =>
                  p.next()
                  p.ident().flatMap(n => p.eatSym(")").map(_ => n))
                case _ => Right(fname)
              }
            } yield {
              val (b0, b1, st, temporal) = quad
              val stopExcl =
                if (fname == "generate_series")
                  b1 + (if (st > 0) 1L else -1L)
                else b1
              FTableFunc(fname, b0, stopExcl, st,
                alias, colName, temporal): FromItem
            }
          // FROM unnest(<list expr>) [t[(x)]] — desugars to a derived
          // table SELECTing the existing unnest projection generator;
          // default binding/column name is `unnest` (DuckDB). The
          // operand must be self-contained (a correlated column fails
          // loudly at binding, like any uncorrelated derived table).
          case TIdent(fn, _) if fn.equalsIgnoreCase("unnest") && {
                val save = p.i; p.next()
                val isP = p.peek match { case TSym("(", _) => true; case _ => false }
                p.i = save; isP
              } =>
            p.next(); p.next() // unnest (
            for {
              op <- parseOperand(p)
              _ <- p.eatSym(")")
              alias <- p.peek match {
                case TIdent(a, _) if !reserved(a) => p.next(); Right(a)
                case _                            => Right("unnest")
              }
              colName <- p.peek match {
                case TSym("(", _) =>
                  p.next()
                  p.ident().flatMap(n => p.eatSym(")").map(_ => n))
                case _ => Right("unnest")
              }
            } yield FDerived(SelectTree(
              columns = Some(Seq(SelectItem.SExpr(
                Operand.FuncCall("unnest", Seq(op)), colName))),
              from = Nil, where = None), alias): FromItem
          case TIdent(k, _) if k.equalsIgnoreCase("lateral") && {
            val save = p.i; p.next()
            val isP = p.peek match { case TSym("(", _) => true; case _ => false }
            p.i = save; isP
          } =>
            p.next()
            for {
              _ <- p.eatSym("(")
              sel <-
                if (p.isKw("with")) parseWith(p) else parseSelectOrUnion(p)
              _ <- p.eatSym(")")
              alias <- p.peek match {
                case TIdent(a, _) if !reserved(a) => p.next(); Right(a)
                case t => Left(ParseError("a LATERAL subquery requires an alias", t.pos))
              }
            } yield FLateral(sel, alias)
          case TSym("(", _) =>
            p.next()
            // (VALUES (…), (…)) alias(c1, c2) — an inline derived table;
            // desugars to FROM-less SELECTs UNION ALL'd, so expression
            // rows, typing and naming all ride the existing machinery
            if (p.isKw("values")) {
              p.next()
              def row(): Either[ParseError, Vector[Operand]] =
                p.eatSym("(").flatMap { _ =>
                  def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                    parseOperand(p).flatMap { o =>
                      p.peek match {
                        case TSym(",", _) => p.next(); loop(acc :+ o)
                        case _            => p.eatSym(")").map(_ => acc :+ o)
                      }
                    }
                  loop(Vector.empty)
                }
              def rows(acc: Vector[Vector[Operand]])
                  : Either[ParseError, Vector[Vector[Operand]]] =
                row().flatMap { r =>
                  p.peek match {
                    case TSym(",", _) => p.next(); rows(acc :+ r)
                    case _            => Right(acc :+ r)
                  }
                }
              for {
                rs <- rows(Vector.empty)
                _ <- p.eatSym(")")
                alias <- p.peek match {
                  case TIdent(a, _) if !reserved(a) => p.next(); Right(a)
                  case t => Left(ParseError(
                    "a VALUES derived table requires an alias: (VALUES …) t[(c1, c2)]", t.pos))
                }
                // optional column list; absent → DuckDB's col0, col1, …
                names <- p.peek match {
                  case TSym("(", _) =>
                    p.next()
                    def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
                      p.ident().flatMap { n =>
                        p.peek match {
                          case TSym(",", _) => p.next(); loop(acc :+ n)
                          case _            => p.eatSym(")").map(_ => acc :+ n)
                        }
                      }
                    loop(Vector.empty)
                  case _ =>
                    Right(rs.head.indices.map(i => s"col$i").toVector)
                }
                _ <-
                  if (rs.forall(_.length == names.length)) Right(())
                  else Left(ParseError(
                    s"VALUES rows must all have ${names.length} values (the column list's arity)",
                    p.peek.pos))
              } yield {
                def rowTree(r: Vector[Operand]): SelectTree =
                  SelectTree(
                    columns = Some(names.zip(r).map { case (n, o) =>
                      SelectItem.SExpr(o, n): SelectItem }),
                    from = Nil, where = None)
                val tree: ParseTree =
                  if (rs.length == 1) rowTree(rs.head)
                  else UnionTree(rowTree(rs.head),
                    rs.tail.map(r => ("union_all", rowTree(r))))
                FDerived(tree, alias): FromItem
              }
            } else
              for {
                sel <- parseSelectOrUnion(p)
                _ <- p.eatSym(")")
                // an alias-less derived table gets DuckDB's synthetic
                // name (unnamed_subquery) — columns still resolve
                // unqualified; table-macro expansion relies on this
                alias <- p.peek match {
                  case TIdent(a, _) if !reserved(a) => p.next(); Right(a)
                  case _ => Right("unnamed_subquery")
                }
              } yield FDerived(sel, alias)
          case _ => tableOnly().map(FTable)
        }
        // USING SAMPLE <n> PERCENT (KEY col [, col…]): the deterministic
        // md5-threshold sample — the Corpus.split machinery surfaced in
        // the dialect. Rerun-stable, content-keyed on the named columns,
        // engine-reproducible (the oracle replicates the identical md5
        // prefix comparison; an RNG-seeded bernoulli sample could not be
        // verified cross-engine, which is why the KEY list is required).
        // Desugars to a WHERE conjunct:
        //   substr(md5(coalesce(cast(k1 AS VARCHAR),'') || '|' || …), 1, 8)
        //     < '<8-hex of pct/100 · 2^32>'
        def one(allowSample: Boolean = false): Either[ParseError, FromItem] =
          one0().flatMap { fi =>
          val isSample = p.peek match {
            case TIdent(k, _) if k.equalsIgnoreCase("using") =>
              val save = p.i; p.next()
              val s = p.isKw("sample"); p.i = save; s
            case _ => false
          }
          if (!isSample) Right(fi)
          else if (!allowSample)
            Left(ParseError(
              "USING SAMPLE is supported on FROM-group tables only " +
                "(a sample on a join step's table would filter the " +
                "null-extended result, not the table)", p.peek.pos))
          else {
            val pos0 = p.peek.pos
            p.next(); p.next()
            for {
              pct <- (p.peek match {
                case TInt(v, _)   => p.next(); Right(v.toDouble)
                case TFloat(v, _) => p.next(); Right(v)
                case TSci(v, _)   => p.next(); Right(v)
                case t => Left(ParseError(
                  "USING SAMPLE takes a numeric percentage", t.pos))
              }).flatMap(v =>
                // a rate above 100 is a typo, not a no-op — reject
                // loudly instead of silently returning the full table
                // (0 PERCENT is a legitimate empty sample)
                if (v >= 0.0 && v <= 100.0) Right(v)
                else Left(ParseError(
                  s"USING SAMPLE percentage must be in [0, 100], got $v",
                  pos0)))
              _ <- p.peek match {
                case TSym("%", _) => p.next(); Right(())
                case TIdent(k, _) if k.equalsIgnoreCase("percent") =>
                  p.next(); Right(())
                case t => Left(ParseError("expected PERCENT (or %)", t.pos))
              }
              _ <- p.eatSym("(")
              _ <- if (p.isKw("key")) { p.next(); Right(()) }
                   else Left(ParseError(
                     "USING SAMPLE requires (KEY col [, col…]) — the " +
                       "deterministic hash key (RNG sampling is not " +
                       "reproducible)", p.peek.pos))
              keys <- {
                def kl(acc: Vector[String]): Either[ParseError, Vector[String]] =
                  p.ident().flatMap { n =>
                    p.peek match {
                      case TSym(",", _) => p.next(); kl(acc :+ n)
                      case _            => p.eatSym(")").map(_ => acc :+ n)
                    }
                  }
                kl(Vector.empty)
              }
              alias <- fi match {
                case FTable(TableRef(n, a)) => Right(a.getOrElse(n))
                case FDerived(_, a)         => Right(a)
                case _ => Left(ParseError(
                  "USING SAMPLE applies to tables and derived tables", pos0))
              }
            } yield {
              if (pct < 100.0) {
                val frac = math.max(pct, 0.0) / 100.0
                val hex = f"${math.floor(frac * 4294967296.0).toLong}%08x"
                val keyStr: Operand = keys.map(k =>
                  Operand.FuncCall("coalesce", Seq(
                    Operand.Cast(Operand.Col(ColRef(Some(alias), k)),
                      SqlType.SqlVarChar(65535)),
                    Operand.Literal(Lit.LitString("")))): Operand)
                  .reduceLeft((a, b) => Operand.FuncCall("concat",
                    Seq(a, Operand.Literal(Lit.LitString("|")), b)))
                samplePreds += Expr.Cmp(CmpOp.Lt,
                  Operand.FuncCall("substr", Seq(
                    Operand.FuncCall("md5", Seq(keyStr)),
                    Operand.Literal(Lit.LitLong(1L)),
                    Operand.Literal(Lit.LitLong(8L)))),
                  Operand.Literal(Lit.LitString(hex)))
              }
              fi
            }
          }
        }
        def outerKind(): Option[String] = p.peek match {
          case TIdent(k, _) if k.equalsIgnoreCase("left") || k.equalsIgnoreCase("right") ||
              k.equalsIgnoreCase("full") => Some(k.toLowerCase)
          case _ => None
        }
        def loop(tabs: Vector[FromItem], ons: Vector[Expr], steps: Vector[JoinStep])
            : Either[ParseError, (Vector[FromItem], Vector[Expr], Vector[JoinStep])] =
          p.peek match {
            case TSym(",", pos) =>
              if (steps.nonEmpty)
                Left(ParseError("comma-join after an outer join is not supported; reorder the FROM list", pos))
              else { p.next(); one(allowSample = true).flatMap(t => loop(tabs :+ t, ons, steps)) }
            case TIdent(k, _) if k.equalsIgnoreCase("join") ||
                (k.equalsIgnoreCase("inner") && { val save = p.i; p.next()
                  val isJ = p.isKw("join"); p.i = save; isJ }) =>
              if (p.isKw("inner")) p.next()
              p.next() // JOIN
              for {
                t <- one()
                cu <- onOrUsing(p)
                r <- cu match {
                  case (cond, Nil) if steps.isEmpty =>
                    loop(tabs :+ t, ons :+ cond, steps)
                  case (cond, using) =>
                    loop(tabs, ons, steps :+ JoinStep("inner", t, cond, using))
                }
              } yield r
            // NATURAL [INNER|LEFT [OUTER]] JOIN — USING over every common
            // column; the column set resolves against the schemas in
            // analysis. RIGHT/FULL variants are rejected (the merged
            // column would need COALESCE of both sides).
            case TIdent(k, pos) if k.equalsIgnoreCase("natural") =>
              p.next()
              val kind: Either[ParseError, String] = p.peek match {
                case TIdent(kk, _) if kk.equalsIgnoreCase("inner") =>
                  p.next(); Right("inner")
                case TIdent(kk, _) if kk.equalsIgnoreCase("left") ||
                    kk.equalsIgnoreCase("right") || kk.equalsIgnoreCase("full") =>
                  p.next(); if (p.isKw("outer")) p.next(); Right(kk.toLowerCase)
                case _ => Right("inner")
              }
              for {
                kd <- kind
                _ <- p.eatKw("join")
                t <- one()
                r <- loop(tabs, ons, steps :+ JoinStep(kd, t,
                  Expr.Cmp(CmpOp.Eq, Operand.Literal(Lit.LitLong(1L)),
                    Operand.Literal(Lit.LitLong(1L))), Nil, natural = true))
              } yield r
            // SEMI JOIN / ANTI JOIN (the DuckDB binary forms): keep rows
            // of everything joined SO FAR that have (semi) / lack (anti)
            // a match in the right side; the right side's columns are
            // visible only inside this step's own ON and never reach the
            // SELECT scope (the analyzer enforces this).
            case TIdent(k, _) if k.equalsIgnoreCase("semi") || k.equalsIgnoreCase("anti") =>
              val kind = k.toLowerCase
              p.next()
              for {
                _ <- p.eatKw("join")
                t <- one()
                cu <- onOrUsing(p)
                r <- loop(tabs, ons, steps :+ JoinStep(kind, t, cu._1, cu._2))
              } yield r
            // ASOF [LEFT] JOIN (DuckDB): for each left row, join the
            // single right row within each equality group that is nearest
            // in the ON's one inequality. Lowered as a union-merge
            // last-value window, never a join explosion.
            case TIdent(k, _) if k.equalsIgnoreCase("asof") =>
              p.next()
              val kind = if (p.isKw("left")) { p.next();
                if (p.isKw("outer")) p.next(); "asof_left" } else "asof"
              for {
                _ <- p.eatKw("join")
                t <- one()
                _ <- p.eatKw("on")
                cond <- parseOr(p)
                r <- loop(tabs, ons, steps :+ JoinStep(kind, t, cond, Nil))
              } yield r
            case TIdent(_, _) if outerKind().isDefined =>
              val kind = outerKind().get
              p.next()
              if (p.isKw("outer")) p.next()
              for {
                _ <- p.eatKw("join")
                t <- one()
                cu <- onOrUsing(p)
                r <- loop(tabs, ons, steps :+ JoinStep(kind, t, cu._1, cu._2))
              } yield r
            case _ => Right((tabs, ons, steps))
          }
        // sample predicates merge into the hoisted-ON conjuncts (they
        // reach the WHERE conjunction the same way)
        if (hasFrom) one(allowSample = true).flatMap(t =>
          loop(Vector(t), Vector.empty, Vector.empty).map {
            case (tabs, ons, steps) => (tabs, ons ++ samplePreds.result(), steps)
          })
        else Right((Vector.empty[FromItem], Vector.empty[Expr], Vector.empty[JoinStep]))
      }
      where <- {
        val explicit: Either[ParseError, Option[Expr]] =
          if (p.isKw("where")) { p.next(); parseOr(p).map(Some(_)) }
          else Right(None)
        explicit.map { w =>
          (fromAndOn._2 ++ w.toSeq).reduceOption(Expr.And(_, _))
        }
      }
      groupRes <-
        if (p.isKw("group")) {
          p.next()
          p.eatKw("by").flatMap { _ =>
            // GROUP BY ALL (DuckDB): group by every SELECT item that
            // contains no aggregate — desugared here, so the analyzer
            // sees an ordinary key list. Aggregate-only SELECT lists
            // desugar to the empty key list = global aggregation.
            if (p.isKw("all")) {
              val pos = p.peek.pos
              p.next()
              cols match {
                case None => Left(ParseError(
                  "GROUP BY ALL requires an explicit SELECT list", pos))
                case Some(items) =>
                  items.foldLeft[Either[ParseError, Vector[Operand]]](
                    Right(Vector.empty)) { (acc, it) =>
                    acc.flatMap { v =>
                      it match {
                        case SelectItem.SCol(ref, _) => Right(v :+ Operand.Col(ref))
                        case SelectItem.SExpr(op, _) =>
                          if (operandHasAgg(op)) Right(v) else Right(v :+ op)
                        case SelectItem.SAgg(_, _, _, _) => Right(v)
                        case _ => Left(ParseError(
                          "GROUP BY ALL supports plain column, expression and aggregate items",
                          pos))
                      }
                    }
                  }.map(ks => (ks, None: Option[GroupingSpec]))
              }
            } else {
            // full operands: plain columns, output aliases, or inline
            // expressions (GROUP BY substr(name, 1, 2))
            def operandList(): Either[ParseError, Vector[Operand]] = {
              def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                parseOperand(p).flatMap { c =>
                  p.peek match {
                    case TSym(",", _) => p.next(); loop(acc :+ c)
                    case _            => Right(acc :+ c)
                  }
                }
              loop(Vector.empty)
            }
            // ROLLUP( / CUBE( / GROUPING SETS( — contextual keywords: only
            // a call shape triggers them, so columns named rollup etc.
            // still group plainly
            def callAhead(kw: String): Boolean = p.isKw(kw) && {
              val save = p.i; p.next()
              val r = p.peek match { case TSym("(", _) => true; case _ => false }
              p.i = save; r
            }
            if (callAhead("rollup") || callAhead("cube")) {
              val isCube = p.isKw("cube")
              p.next()
              for {
                _ <- p.eatSym("(")
                keys <- operandList()
                _ <- p.eatSym(")")
              } yield (keys,
                Some(if (isCube) GroupingSpec.Cube else GroupingSpec.Rollup)
                  : Option[GroupingSpec])
            } else if (p.isKw("grouping") && {
              val save = p.i; p.next(); val r = p.isKw("sets"); p.i = save; r
            }) {
              p.next(); p.next() // GROUPING SETS
              // explicit sets: (a, b), (a), b, () — keys collect in
              // first-appearance order, sets reference them by index
              val keys = scala.collection.mutable.ArrayBuffer.empty[Operand]
              def keyIdx(o: Operand): Int = {
                val i = keys.indexOf(o)
                if (i >= 0) i else { keys += o; keys.length - 1 }
              }
              def oneSet(): Either[ParseError, Vector[Int]] = p.peek match {
                case TSym("(", _) =>
                  p.next()
                  p.peek match {
                    case TSym(")", _) => p.next(); Right(Vector.empty) // () = grand total
                    case _ =>
                      def loop(acc: Vector[Int]): Either[ParseError, Vector[Int]] =
                        parseOperand(p).flatMap { o =>
                          p.peek match {
                            case TSym(",", _) => p.next(); loop(acc :+ keyIdx(o))
                            case _ => p.eatSym(")").map(_ => acc :+ keyIdx(o))
                          }
                        }
                      loop(Vector.empty)
                  }
                case _ => parseOperand(p).map(o => Vector(keyIdx(o)))
              }
              def setsLoop(acc: Vector[Vector[Int]])
                  : Either[ParseError, Vector[Vector[Int]]] =
                oneSet().flatMap { s =>
                  p.peek match {
                    case TSym(",", _) => p.next(); setsLoop(acc :+ s)
                    case _            => Right(acc :+ s)
                  }
                }
              for {
                _ <- p.eatSym("(")
                sets <- setsLoop(Vector.empty)
                _ <- p.eatSym(")")
              } yield (keys.toVector,
                Some(GroupingSpec.Sets(sets)): Option[GroupingSpec])
            } else operandList().map(ks => (ks, None: Option[GroupingSpec]))
            }
          }
        } else Right((Vector.empty[Operand], None: Option[GroupingSpec]))
      groupBy = groupRes._1
      groupSpec = groupRes._2
      having <-
        if (p.isKw("having")) { p.next(); parseOr(p, allowAgg = true).map(Some(_)) }
        else Right(None)
      // WINDOW w AS (spec) [, w2 AS (spec)] — named window specs (SQL
      // standard position: after HAVING); OVER <name> references
      // substitute below, before the tree leaves the parser
      winDefs <-
        if (p.isKw("window")) {
          p.next()
          def one(): Either[ParseError, (String,
              (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame]))] =
            for {
              n <- p.ident()
              _ <- p.eatKw("as")
              spec <- parseOverSpec(p)
            } yield n.toLowerCase -> spec
          def loop(acc: Vector[(String,
              (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame]))])
              : Either[ParseError, Vector[(String,
                (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame]))]] =
            one().flatMap { d =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ d)
                case _            => Right(acc :+ d)
              }
            }
          loop(Vector.empty).flatMap { ds =>
            ds.map(_._1).groupBy(identity).collectFirst {
              case (n, occ) if occ.length > 1 => n
            } match {
              case Some(n) =>
                Left(ParseError(s"duplicate window name '$n'", p.peek.pos))
              case None => Right(ds)
            }
          }
        } else Right(Vector.empty[(String,
          (Vector[Operand], Vector[(Operand, SortDir)], Option[WinFrame]))])
      // QUALIFY <pred> (after HAVING, before ORDER BY — the DuckDB clause
      // order): inline `fn(...) OVER (...)` calls in the predicate
      // desugar into hidden window items via the parser's winSink
      qualifyRes <-
        if (p.isKw("qualify")) {
          p.next()
          p.winSink = hiddenWins
          // allowAgg: over an aggregated query the predicate may mix
          // window results with plain aggregates (QUALIFY rn = 1 AND
          // sum(v) > 10); the analyzer rejects aggregates elsewhere
          val r = parseOr(p, allowAgg = true)
          p.winSink = null
          r.map(e => Some(e): Option[Expr])
        } else Right(None: Option[Expr])
      orderBy <-
        if (p.isKw("order")) {
          p.next()
          p.eatKw("by").flatMap { _ =>
            // ORDER BY ALL [ASC|DESC] (DuckDB): sort by every SELECT item
            // left-to-right — plain columns by reference, everything else
            // by its output alias (unaliased computed items are rejected;
            // unaliased aggregates sort by the aggregate call itself)
            if (p.isKw("all")) {
              val pos = p.peek.pos
              p.next()
              val desc =
                if (p.isKw("desc")) { p.next(); true }
                else if (p.isKw("asc")) { p.next(); false }
                else false
              cols match {
                case None => Left(ParseError(
                  "ORDER BY ALL requires an explicit SELECT list", pos))
                case Some(items) =>
                  items.foldLeft[Either[ParseError, Vector[(Operand, SortDir)]]](
                    Right(Vector.empty)) { (acc, it) =>
                    acc.flatMap { v =>
                      val key: Either[ParseError, Operand] = it match {
                        case SelectItem.SCol(ref, None)    => Right(Operand.Col(ref))
                        case SelectItem.SCol(_, Some(a))   => Right(Operand.Col(ColRef(None, a)))
                        case SelectItem.SExpr(_, a)        => Right(Operand.Col(ColRef(None, a)))
                        case SelectItem.SAgg(_, _, Some(a), _) =>
                          Right(Operand.Col(ColRef(None, a)))
                        case SelectItem.SAgg(f, arg, None, d) =>
                          Right(Operand.AggCall(f, arg, d))
                        case SelectItem.SWin(_, _, _, _, a, _, _) =>
                          Right(Operand.Col(ColRef(None, a)))
                        case _: SelectItem.SStar => Left(ParseError(
                          "ORDER BY ALL does not support * items", pos))
                      }
                      key.map(k => v :+ (k -> SortDir(desc)))
                    }
                  }
              }
            } else {
            // full operands: a column, an output alias, an aggregate call
            // (ORDER BY count(*) DESC — the top-k-groups shape), arithmetic;
            // each key takes [ASC|DESC] [NULLS FIRST|LAST]
            def one(): Either[ParseError, (Operand, SortDir)] =
              parseOperand(p, allowAgg = true).flatMap { c =>
                val desc =
                  if (p.isKw("desc")) { p.next(); true }
                  else if (p.isKw("asc")) { p.next(); false }
                  else false
                if (p.isKw("nulls")) {
                  p.next()
                  if (p.isKw("first")) { p.next(); Right((c, SortDir(desc, Some(true)))) }
                  else if (p.isKw("last")) { p.next(); Right((c, SortDir(desc, Some(false)))) }
                  else Left(ParseError("expected FIRST or LAST after NULLS", p.peek.pos))
                } else Right((c, SortDir(desc)))
              }
            def loop(acc: Vector[(Operand, SortDir)]): Either[ParseError, Vector[(Operand, SortDir)]] =
              one().flatMap { o =>
                p.peek match {
                  case TSym(",", _) => p.next(); loop(acc :+ o)
                  case _            => Right(acc :+ o)
                }
              }
            loop(Vector.empty)
            }
          }
        } else Right(Vector.empty[(Operand, SortDir)])
      limit <-
        if (p.isKw("limit")) {
          p.next()
          p.peek match {
            case TInt(v, _) if v >= 0 => p.next(); Right(Some(v))
            case t => Left(ParseError("expected LIMIT count", t.pos))
          }
        } else Right(None)
      offset <-
        if (p.isKw("offset")) {
          p.next()
          p.peek match {
            case TInt(v, _) if v >= 0 => p.next(); Right(Some(v))
            case t => Left(ParseError("expected OFFSET count", t.pos))
          }
        } else Right(None)
      // resolve OVER <name> references against the WINDOW clause
      fixedCols <- {
        val defs = winDefs.toMap
        def fix(it: SelectItem): Either[ParseError, SelectItem] = it match {
          case SelectItem.SWin(f, args, _, _, a, _, Some(rn)) =>
            defs.get(rn.toLowerCase)
              .toRight(ParseError(s"unknown window name '$rn'", 0))
              .map { case (parts, ord, frame) =>
                SelectItem.SWin(f, args, parts, ord, a, frame) }
          case other => Right(other)
        }
        cols match {
          case None => Right(None: Option[Seq[SelectItem]])
          case Some(items) =>
            items.foldLeft[Either[ParseError, Vector[SelectItem]]](
              Right(Vector.empty)) { (acc, it) =>
              acc.flatMap(v => fix(it).map(v :+ _))
            }.map(v => Some(v): Option[Seq[SelectItem]])
        }
      }
    } yield SelectTree(fixedCols, fromAndOn._1, where, orderBy, limit, offset, groupBy,
      having, distinct, fromAndOn._3, groupSpec,
      qualify = qualifyRes, qualifyWins = hiddenWins.toVector,
      distinctOn = distinctOn)
    p.winSink = savedSink
    result
  }

  private def parseOr(p: P, allowAgg: Boolean = false): Either[ParseError, Expr] =
    parseAnd(p, allowAgg).flatMap { l =>
      if (p.isKw("or")) { p.next(); parseOr(p, allowAgg).map(r => Expr.Or(l, r)) }
      else Right(l)
    }

  private def parseAnd(p: P, allowAgg: Boolean): Either[ParseError, Expr] =
    parsePrimary(p, allowAgg).flatMap { l =>
      if (p.isKw("and")) { p.next(); parseAnd(p, allowAgg).map(r => Expr.And(l, r)) }
      else Right(l)
    }

  private def parsePrimary(p: P, allowAgg: Boolean): Either[ParseError, Expr] = p.peek match {
    case TSym("(", _) =>
      // '(' is ambiguous: parenthesized PREDICATE — (a = 1 OR b = 2) —
      // or parenthesized arithmetic OPERAND — (a + 1) > 2. Try the
      // predicate first; on failure rewind and parse as an operand.
      val save = p.i
      val asPredicate = {
        p.next()
        parseOr(p, allowAgg).flatMap(e => p.eatSym(")").map(_ => e))
      }
      // a successful predicate parse can be a FALSE POSITIVE since a bare
      // operand is now a valid predicate (`x` ⇒ `x = TRUE`): if the next
      // token continues an OPERAND — arithmetic, concat, cast, subscript,
      // comparison, IS/IN/LIKE/BETWEEN/NOT — the parens were grouping an
      // operand, not a predicate; rewind and take the operand path.
      val operandContinues = asPredicate.isRight && (p.peek match {
        case TSym("+" | "-" | "*" | "/" | "%" | "||" | "::" | "[" |
            "=" | "<>" | "<" | ">" | "<=" | ">=", _) => true
        case TIdent(k, _) => Set("is", "in", "like", "ilike", "between",
          "not")(k.toLowerCase)
        case _ => false
      })
      asPredicate match {
        case r @ Right(_) if !operandContinues => r
        case _ =>
          // row-value membership: ( op , op … ) [NOT] IN (SELECT …)
          p.i = save
          val asRowIn = {
            p.next()
            def elems(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
              parseOperand(p, allowAgg).flatMap { o =>
                p.peek match {
                  case TSym(",", _) => p.next(); elems(acc :+ o)
                  case TSym(")", _) => p.next(); Right(acc :+ o)
                  case t => Left(ParseError("expected ',' or ')'", t.pos))
                }
              }
            elems(Vector.empty).flatMap { os =>
              if (os.length < 2)
                Left(ParseError("not a row value", p.peek.pos))
              else {
                val neg = if (p.isKw("not")) { p.next(); true } else false
                for {
                  _ <- p.eatKw("in")
                  _ <- p.eatSym("(")
                  sub <- parseSelect(p)
                  _ <- p.eatSym(")")
                } yield Expr.InSubquery(os, sub, neg): Expr
              }
            }
          }
          asRowIn match {
            case r @ Right(_) => r
            case Left(_) =>
              p.i = save
              parseOperand(p, allowAgg).flatMap(l => parsePredicateTail(p, l, allowAgg))
          }
      }
    case TIdent(k, _) if k.equalsIgnoreCase("not") =>
      p.next()
      // NOT EXISTS keeps its negation on the Exists node (the lowering is
      // a left-anti join, not a 3VL NOT over a column)
      if (p.isKw("exists")) { p.next(); parseExistsBody(p, negated = true) }
      else parsePrimary(p, allowAgg).map(Expr.Not)
    case TIdent(k, _) if k.equalsIgnoreCase("exists") =>
      p.next()
      parseExistsBody(p, negated = false)
    // boolean string predicates — parse-time desugars onto instr, so the
    // whole predicate stays a codegen'd comparison:
    //   contains(a, b)    → instr(a, b) > 0
    //   starts_with(a, b) → instr(a, b) = 1
    //   ends_with(a, b)   → instr(reverse(a), reverse(b)) = 1
    // NULL operands propagate to UNKNOWN exactly like the originals.
    case TIdent(k, _) if Set("contains", "starts_with", "ends_with")(
        k.toLowerCase) && {
          val save = p.i; p.next()
          val isP = p.peek match { case TSym("(", _) => true; case _ => false }
          p.i = save; isP
        } =>
      val fn = k.toLowerCase
      p.next()
      for {
        _ <- p.eatSym("(")
        a <- parseOperand(p, allowAgg)
        _ <- p.eatSym(",")
        b <- parseOperand(p, allowAgg)
        _ <- p.eatSym(")")
      } yield fn match {
        case "contains" => Expr.Cmp(CmpOp.Gt,
          Operand.FuncCall("instr", Seq(a, b)),
          Operand.Literal(Lit.LitLong(0L))): Expr
        case "starts_with" => Expr.Cmp(CmpOp.Eq,
          Operand.FuncCall("instr", Seq(a, b)),
          Operand.Literal(Lit.LitLong(1L))): Expr
        case _ => Expr.Cmp(CmpOp.Eq,
          Operand.FuncCall("instr", Seq(
            Operand.FuncCall("reverse", Seq(a)),
            Operand.FuncCall("reverse", Seq(b)))),
          Operand.Literal(Lit.LitLong(1L))): Expr
      }
    case _ =>
      parseOperand(p, allowAgg).flatMap(l => parsePredicateTail(p, l, allowAgg))
  }

  private def parseExistsBody(p: P, negated: Boolean): Either[ParseError, Expr] =
    for {
      _ <- p.eatSym("(")
      sub <- parseSelect(p)
      _ <- p.eatSym(")")
    } yield Expr.Exists(sub, negated)

  /** The predicate forms that can follow a left operand: a comparison,
    * IS [NOT] NULL, [NOT] BETWEEN a AND b, [NOT] IN (literals),
    * [NOT] LIKE 'pattern'. BETWEEN and IN desugar to comparison trees here
    * so analysis/lowering/statistics see plain conjunctions.
    */
  private def parsePredicateTail(p: P, l: Operand, allowAgg: Boolean): Either[ParseError, Expr] = {
    def litList(): Either[ParseError, Vector[Lit]] =
      p.eatSym("(").flatMap { _ =>
        def loop(acc: Vector[Lit]): Either[ParseError, Vector[Lit]] =
          parseLit(p).flatMap { v =>
            p.peek match {
              case TSym(",", _) => p.next(); loop(acc :+ v)
              case _            => p.eatSym(")").map(_ => acc :+ v)
            }
          }
        loop(Vector.empty)
      }
    p.peek match {
      case TIdent(k, _) if k.equalsIgnoreCase("is") =>
        p.next()
        val neg = if (p.isKw("not")) { p.next(); true } else false
        p.peek match {
          case TIdent(n, _) if n.equalsIgnoreCase("null") =>
            p.next(); Right(Expr.IsNull(l, neg))
          // IS [NOT] DISTINCT FROM — null-safe comparison (never UNKNOWN)
          case TIdent(n, _) if n.equalsIgnoreCase("distinct") =>
            p.next()
            for {
              _ <- p.eatKw("from")
              r <- parseOperand(p, allowAgg)
            } yield Expr.Cmp(if (neg) CmpOp.NotDist else CmpOp.IsDist, l, r)
          case t => Left(ParseError(
            "expected NULL or DISTINCT FROM after IS [NOT]", t.pos))
        }
      case TIdent(k, pos) if k.equalsIgnoreCase("not") || k.equalsIgnoreCase("between") ||
          k.equalsIgnoreCase("in") || k.equalsIgnoreCase("like") ||
          k.equalsIgnoreCase("ilike") || k.equalsIgnoreCase("similar") ||
          k.equalsIgnoreCase("glob") =>
        val neg = if (p.isKw("not")) { p.next(); true } else false
        if (p.isKw("between")) {
          p.next()
          for {
            lo <- parseOperand(p, allowAgg)
            _ <- p.eatKw("and")
            hi <- parseOperand(p, allowAgg)
          } yield {
            val in = Expr.And(collatedCmp(CmpOp.Ge, l, lo),
              collatedCmp(CmpOp.Le, l, hi))
            if (neg) Expr.Not(in) else in
          }
        } else if (p.isKw("in")) {
          p.next()
          // IN (SELECT …) is a subquery membership; IN (literal, …)
          // desugars to an OR chain
          val isSubquery = {
            val save = p.i
            val r = p.eatSym("(").isRight && p.isKw("select")
            p.i = save
            r
          }
          if (isSubquery)
            for {
              _ <- p.eatSym("(")
              sub <- parseSelect(p)
              _ <- p.eatSym(")")
            } yield Expr.InSubquery(Seq(l), sub, neg)
          else litList().map { vs =>
            val eqs = vs.map(v =>
              collatedCmp(CmpOp.Eq, l, Operand.Literal(v)): Expr)
            val any = eqs.reduce(Expr.Or(_, _))
            if (neg) Expr.Not(any) else any
          }
        } else if (p.isKw("like") || p.isKw("ilike")) {
          val ci = p.isKw("ilike")
          p.next()
          p.peek match {
            case TStr(s, _) =>
              p.next()
              // optional ESCAPE '<one char>'
              if (p.isKw("escape")) {
                p.next()
                p.peek match {
                  case TStr(e, epos) if e.length == 1 =>
                    p.next(); Right(Expr.Like(l, s, neg, ci, Some(e.head)))
                  case t => Left(ParseError(
                    "ESCAPE takes a single-character string", t.pos))
                }
              } else Right(Expr.Like(l, s, neg, ci))
            case t          => Left(ParseError("expected pattern string after LIKE", t.pos))
          }
        } else if (p.isKw("similar")) {
          // SIMILAR TO 'regex': DuckDB semantics — a FULL-STRING regex
          // match (no %/_ wildcard translation; 'a%c' only matches the
          // literal percent). Desugars onto regexp_matches with an
          // anchored non-capturing wrap; NOT keeps 3VL (NULL → NULL).
          p.next()
          for {
            _ <- p.eatKw("to")
            pat <- p.peek match {
              case TStr(s, _) => p.next(); Right(s)
              case t => Left(ParseError(
                "expected pattern string after SIMILAR TO", t.pos))
            }
          } yield {
            val m: Expr = Expr.Cmp(CmpOp.Eq,
              Operand.FuncCall("regexp_matches",
                Seq(l, Operand.Literal(Lit.LitString(s"^(?:$pat)$$")))),
              Operand.Literal(Lit.LitBool(true)))
            if (neg) Expr.Not(m) else m
          }
        } else if (p.isKw("glob")) {
          // x GLOB 'pat': DuckDB's case-sensitive full-string glob
          // (* ? [set] [!set]) — translated to an anchored regex and
          // desugared like SIMILAR TO
          p.next()
          p.peek match {
            case TStr(g, _) =>
              p.next()
              val sb = new StringBuilder
              var gi = 0
              while (gi < g.length) {
                g(gi) match {
                  case '*' => sb ++= ".*"
                  case '?' => sb += '.'
                  case '[' =>
                    sb += '['
                    gi += 1
                    if (gi < g.length && g(gi) == '!') { sb += '^'; gi += 1 }
                    while (gi < g.length && g(gi) != ']') { sb += g(gi); gi += 1 }
                    sb += ']'
                  case c if "\\.{}()<>*+-=!?^$|".indexOf(c) >= 0 =>
                    sb += '\\'; sb += c
                  case c => sb += c
                }
                gi += 1
              }
              val m: Expr = Expr.Cmp(CmpOp.Eq,
                Operand.FuncCall("regexp_matches",
                  Seq(l, Operand.Literal(Lit.LitString(s"^(?:${sb.toString})$$")))),
                Operand.Literal(Lit.LitBool(true)))
              Right(if (neg) Expr.Not(m) else m)
            case t => Left(ParseError("expected pattern string after GLOB", t.pos))
          }
        } else Left(ParseError(
          "expected BETWEEN, IN, LIKE, SIMILAR TO or GLOB after NOT", pos))
      case _ =>
        // a BOOLEAN-typed operand can stand alone as a predicate
        // (list_contains(l, x), a bool column): `x` ⇒ `x = TRUE`, so
        // SQL 3VL holds (NULL stays UNKNOWN). The analyzer's
        // comparability check rejects non-boolean bare operands.
        val opOpt = p.peek match {
          case TSym("=", _)  => Some(CmpOp.Eq)
          case TSym("<>", _) => Some(CmpOp.Neq)
          case TSym("<=", _) => Some(CmpOp.Le)
          case TSym(">=", _) => Some(CmpOp.Ge)
          case TSym("<", _)  => Some(CmpOp.Lt)
          case TSym(">", _)  => Some(CmpOp.Gt)
          case _             => None
        }
        if (opOpt.isEmpty)
          return Right(Expr.Cmp(CmpOp.Eq, l,
            Operand.Literal(Lit.LitBool(true))))
        for {
          op <- { p.next(); Right(opOpt.get) }
          // quantifier: <cmp> ANY/SOME/ALL (SELECT …) — `= ANY` is IN,
          // `<> ALL` is NOT IN (exact SQL equivalences, including NULL
          // semantics); the other combinations carry the quantifier
          quant <- p.peek match {
            case TIdent(k, pos) if k.equalsIgnoreCase("any") ||
                k.equalsIgnoreCase("some") || k.equalsIgnoreCase("all") =>
              val isAll = k.equalsIgnoreCase("all")
              p.next()
              p.peek match {
                case TSym("(", _) => Right(Some(isAll))
                case t => Left(ParseError(
                  s"expected (SELECT …) after ${k.toUpperCase}", t.pos))
              }
            case _ => Right(None)
          }
          // right side: a quantified subquery, or an operand (a scalar
          // subquery is one)
          e <- quant match {
            case Some(isAll) =>
              for {
                _ <- p.eatSym("(")
                sub <- parseSelect(p)
                _ <- p.eatSym(")")
              } yield (op, isAll) match {
                case (CmpOp.Eq, false) => Expr.InSubquery(Seq(l), sub, negated = false)
                case (CmpOp.Neq, true) => Expr.InSubquery(Seq(l), sub, negated = true)
                case _                 => Expr.QuantSubquery(op, l, sub, isAll)
              }
            case None => parseOperand(p, allowAgg).map(r => collatedCmp(op, l, r))
          }
        } yield e
    }
  }

  /** Operands are full arithmetic expressions with the usual precedence:
    * factor (unary minus, parens, column, literal, HAVING aggregate) →
    * term (* / %) → sum (+ -).
    */
  private def parseOperand(p: P, allowAgg: Boolean = false): Either[ParseError, Operand] =
    // '||' binds loosest (a || b + c concatenates the sum); it is its
    // own function in the algebra because SQL's operator is
    // NULL-propagating while the concat() FUNCTION skips NULLs on both
    // engines — the two must lower differently
    parseAdditive(p, allowAgg).flatMap { first =>
      def loop(acc: Operand): Either[ParseError, Operand] = p.peek match {
        case TSym("||", _) =>
          p.next()
          parseAdditive(p, allowAgg)
            .flatMap(r => loop(Operand.FuncCall("||", Seq(acc, r))))
        case _ => Right(acc)
      }
      loop(first)
    }

  private def parseAdditive(p: P, allowAgg: Boolean): Either[ParseError, Operand] =
    parseTerm(p, allowAgg).flatMap { first =>
      def loop(acc: Operand): Either[ParseError, Operand] = p.peek match {
        case TSym(s @ ("+" | "-"), _) =>
          p.next()
          parseTerm(p, allowAgg).flatMap(r => loop(Operand.Arith(s.head, acc, r)))
        case _ => Right(acc)
      }
      loop(first)
    }

  private def parseTerm(p: P, allowAgg: Boolean): Either[ParseError, Operand] =
    parseFactor(p, allowAgg).flatMap { first =>
      def loop(acc: Operand): Either[ParseError, Operand] = p.peek match {
        case TSym(s @ ("*" | "/" | "%"), _) =>
          p.next()
          parseFactor(p, allowAgg).flatMap(r => loop(Operand.Arith(s.head, acc, r)))
        // `a // b` — DuckDB's integer division (truncating toward zero)
        case TSym("//", _) =>
          p.next()
          parseFactor(p, allowAgg)
            .flatMap(r => loop(Operand.FuncCall("__intdiv", Seq(acc, r))))
        // `a ** b` / `a ^ b` — DuckDB's power operators
        case TSym("**" | "^", _) =>
          p.next()
          parseFactor(p, allowAgg)
            .flatMap(r => loop(Operand.FuncCall("power", Seq(acc, r))))
        case _ => Right(acc)
      }
      loop(first)
    }

  /** Postfix `expr::type` cast sugar (binds tighter than any arithmetic;
    * chains left-to-right, so x::varchar::int parses as
    * CAST(CAST(x AS VARCHAR) AS INT)).
    */
  private def parseFactor(p: P, allowAgg: Boolean): Either[ParseError, Operand] =
    parseAtom(p, allowAgg).flatMap { first =>
      def loop(acc: Operand): Either[ParseError, Operand] = p.peek match {
        case TSym("::", _) =>
          p.next()
          (p.peek match {
            case TIdent(s, _) if s.equalsIgnoreCase("varchar") && {
                val save = p.i; p.next()
                val hasLen = p.peek match { case TSym("(", _) => true; case _ => false }
                p.i = save; !hasLen
              } => p.next(); Right(SqlType.SqlVarChar(65535))
            case _ => parseType(p)
          }).flatMap(t => loop(Operand.Cast(acc, t)))
        // postfix subscript x[i] (1-based, DuckDB) and slice x[a:b]
        // (1-based, both ends inclusive)
        case TSym("[", _) =>
          p.next()
          parseOperand(p, allowAgg).flatMap { idx =>
            p.peek match {
              case TSym(":", _) =>
                p.next()
                parseOperand(p, allowAgg).flatMap(hi =>
                  p.eatSym("]").flatMap(_ =>
                    loop(Operand.FuncCall("list_slice", Seq(acc, idx, hi)))))
              case _ => p.eatSym("]").flatMap(_ =>
                loop(Operand.FuncCall("list_extract", Seq(acc, idx))))
            }
          }
        // postfix field access on a COMPUTED operand — ({'a': 1}).a,
        // fn(...).f, x[1].f (DuckDB allows all three). Bare dotted
        // column paths are consumed whole by parseColRef inside
        // parseAtom, so only a dot remaining AFTER a complete atom
        // lands here.
        case TSym(".", _) if {
          val save = p.i; p.next()
          val ok = p.peek.isInstanceOf[TIdent]; p.i = save; ok
        } =>
          p.next()
          val TIdent(fld, _) = p.next(): @unchecked
          loop(Operand.FuncCall("struct_extract",
            Seq(acc, Operand.Literal(Lit.LitString(fld)))))
        // `x AT TIME ZONE 'tz'` (Postgres/DuckDB): direction decided by
        // the analyzer from x's type (naive -> TIMESTAMPTZ, tz -> naive)
        case TIdent(at, _) if at.equalsIgnoreCase("at") && {
          val save = p.i; p.next()
          val ok = (p.peek match {
            case TIdent(w2, _) if w2.equalsIgnoreCase("time") => p.next()
              p.peek match {
                case TIdent(w3, _) if w3.equalsIgnoreCase("zone") => true
                case _ => false
              }
            case _ => false
          })
          p.i = save; ok
        } =>
          p.next(); p.next(); p.next() // AT TIME ZONE
          parseAtom(p, allowAgg)
            .flatMap(tz => loop(Operand.FuncCall("timezone", Seq(tz, acc))))
        // `expr COLLATE spec[.spec…]` (DuckDB): the operand carries a
        // collation marker; a comparison with ONE collated side
        // collates the whole comparison (propagated at Expr.Cmp
        // construction via collatedCmp), and ORDER BY / GROUP BY keys
        // bind the marker directly as the transform chain.
        case TIdent(k, pos) if k.equalsIgnoreCase("collate") =>
          p.next()
          def spec1(): Either[ParseError, String] = p.peek match {
            case TIdent(s, sp) =>
              val lc = s.toLowerCase
              if (Set("nocase", "noaccent", "nfc")(lc)) { p.next(); Right(lc) }
              else Left(ParseError(s"collation '$s' does not exist " +
                "(supported: NOCASE, NOACCENT, NFC)", sp))
            case t => Left(ParseError("expected a collation name after " +
              "COLLATE", t.pos))
          }
          def chain(acc0: Vector[String]): Either[ParseError, Vector[String]] =
            p.peek match {
              case TSym(".", _) =>
                p.next(); spec1().flatMap(s => chain(acc0 :+ s))
              case _ => Right(acc0)
            }
          spec1().flatMap(s0 => chain(Vector(s0))).flatMap(specs =>
            loop(Operand.FuncCall("__collate:" + specs.mkString("."),
              Seq(acc))))
        case _ => Right(acc)
      }
      loop(first)
    }

  /** Builds a comparison with DuckDB's collation propagation: a marker
    * on ONE side (from the COLLATE postfix) collates the whole
    * comparison, so the other side is wrapped in the same marker. Two
    * differently-collated sides each keep their own.
    */
  private def collatedCmp(op: CmpOp, l: Operand, r: Operand): Expr = {
    def marker(o: Operand): Option[String] = o match {
      case Operand.FuncCall(f, Seq(_)) if f.startsWith("__collate:") => Some(f)
      case _ => None
    }
    (marker(l), marker(r)) match {
      case (Some(f), None) => Expr.Cmp(op, l, Operand.FuncCall(f, Seq(r)))
      case (None, Some(f)) => Expr.Cmp(op, Operand.FuncCall(f, Seq(l)), r)
      case _               => Expr.Cmp(op, l, r)
    }
  }

  /** A boolean expression used as a VALUE: desugars onto the 3VL CASE
    * the rest of the pipeline already knows — TRUE / FALSE /
    * NULL-when-the-predicate-is-NULL.
    */
  private def boolAsValue(e: Expr): Operand =
    Operand.CaseWhen(
      Seq(e -> Operand.Literal(Lit.LitBool(true))),
      Some(Operand.CaseWhen(
        Seq((Expr.Not(e): Expr) -> Operand.Literal(Lit.LitBool(false))),
        None)))

  private def parseAtom(p: P, allowAgg: Boolean): Either[ParseError, Operand] = p.peek match {
    // prepared-statement parameter: binds its typed literal here (the
    // EXECUTE path evaluated every argument ONCE before parse); during
    // PREPARE validation every parameter binds NULL (DuckDB probes the
    // same way). A parameter outside a prepared body is an error.
    case TParam(tok, pos) =>
      p.next()
      if (p.probeParams) Right(Operand.Literal(Lit.LitNull))
      else p.params.get(tok) match {
        case Some(l) => Right(Operand.Literal(l))
        case None => Left(ParseError(
          if (p.params.isEmpty)
            "parameters ($1 / $name / ?) are only valid in a PREPARE body"
          else s"unbound parameter $$$tok", pos))
      }
    case TSym("(", _) =>
      p.next()
      // (SELECT …) as an operand atom: an uncorrelated scalar subquery
      // usable inside arithmetic / functions / CASE values
      if (p.isKw("select"))
        parseSelect(p).flatMap(sub =>
          p.eatSym(")").map(_ => Operand.ScalarSub(sub): Operand))
      else {
        val save = p.i
        parseOperand(p, allowAgg).flatMap(e => p.eatSym(")").map(_ => e)) match {
          case r @ Right(_) => r
          case Left(_) =>
            // a parenthesized BOOLEAN expression used as a VALUE —
            // `(a >= b) AS flag`, `(x > 0 AND y < 1) AS ok` — reparse
            // through the predicate grammar and desugar into the 3VL
            // CASE the rest of the pipeline already knows:
            // TRUE / FALSE / NULL-when-the-predicate-is-NULL.
            p.i = save
            for {
              e <- parseOr(p, allowAgg)
              _ <- p.eatSym(")")
            } yield boolAsValue(e)
        }
      }
    case TSym("-", _) =>
      p.next()
      parseFactor(p, allowAgg).map {
        case Operand.Literal(Lit.LitLong(v))   => Operand.Literal(Lit.LitLong(-v))
        case Operand.Literal(Lit.LitDouble(v)) => Operand.Literal(Lit.LitDouble(-v))
        case o => Operand.Arith('-', Operand.Literal(Lit.LitLong(0L)), o)
      }
    // {'k': v, …} NAMED struct literal (DuckDB brace syntax) →
    // struct_pack with keys interleaved as string literals (so every
    // operand walker sees a plain FuncCall)
    case TSym("{", _) =>
      p.next()
      def fields(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
        p.peek match {
          case TStr(k, _) =>
            p.next()
            for {
              _ <- p.eatSym(":")
              v <- parseOperand(p, allowAgg)
              r <- p.peek match {
                case TSym(",", _) =>
                  p.next()
                  fields(acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
                case _ => p.eatSym("}").map(_ =>
                  acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
              }
            } yield r
          case t => Left(ParseError(
            "struct literal: expected 'key': value", t.pos))
        }
      fields(Vector.empty).map(fs => Operand.FuncCall("struct_pack", fs): Operand)
    // MAP {k: v, …} literal (DuckDB) — keys are arbitrary expressions;
    // desugars to __map_lit with keys/values interleaved (plain
    // FuncCall, every operand walker free). MAP {} is the empty map.
    case TIdent(m, _) if m.equalsIgnoreCase("map") && {
        val save = p.i; p.next()
        val br = p.peek match { case TSym("{", _) => true; case _ => false }
        p.i = save; br
      } =>
      p.next(); p.next() // MAP {
      p.peek match {
        case TSym("}", _) =>
          p.next(); Right(Operand.FuncCall("__map_lit", Nil): Operand)
        case _ =>
          def pairs(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
            for {
              k <- parseOperand(p, allowAgg)
              _ <- p.eatSym(":")
              v <- parseOperand(p, allowAgg)
              r <- p.peek match {
                case TSym(",", _) => p.next(); pairs(acc ++ Seq(k, v))
                case _ => p.eatSym("}").map(_ => acc ++ Seq(k, v))
              }
            } yield r
          pairs(Vector.empty).map(fs =>
            Operand.FuncCall("__map_lit", fs): Operand)
      }
    // COLUMNS(* [EXCLUDE (…)]) / COLUMNS('re') as an operand — the
    // WHERE-conjunct expansion form (DuckDB); select-ITEM forms parse
    // earlier as SColumns/SColumnsFn and never reach here
    case TIdent(f, _) if f.equalsIgnoreCase("columns") && {
        val save = p.i; p.next()
        val par = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; par
      } =>
      p.next(); p.next() // COLUMNS (
      for {
        sel <- p.peek match {
          case TSym("*", _) =>
            p.next()
            parseStarMods(p).flatMap {
              case (excl, Vector(), Vector()) =>
                Right((None: Option[String], excl.toSeq))
              case _ => Left(ParseError(
                "COLUMNS(*) as an operand supports EXCLUDE only", p.peek.pos))
            }
          case TStr(v, _) => p.next(); Right((Some(v), Seq.empty[String]))
          case t => Left(ParseError(
            "COLUMNS takes * or a string-literal regex", t.pos))
        }
        _ <- p.eatSym(")")
      } yield Operand.ColumnsAll(sel._1, sel._2): Operand
    // struct_pack(k := v, …) — the call form of the same literal
    case TIdent(f, _) if f.equalsIgnoreCase("struct_pack") && {
        val save = p.i; p.next()
        val par = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; par
      } =>
      p.next(); p.next() // struct_pack (
      def packs(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
        p.ident().flatMap { k =>
          for {
            _ <- p.eatSym(":=")
            v <- parseOperand(p, allowAgg)
            r <- p.peek match {
              case TSym(",", _) =>
                p.next(); packs(acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
              case _ => p.eatSym(")").map(_ =>
                acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
            }
          } yield r
        }
      packs(Vector.empty).map(fs => Operand.FuncCall("struct_pack", fs): Operand)
    // struct_insert(s, k := v, …) — extend a struct with new fields;
    // keys interleave as string literals after the base operand (one
    // plain FuncCall, same walker-free shape as struct_pack)
    case TIdent(f, _) if f.equalsIgnoreCase("struct_insert") && {
        val save = p.i; p.next()
        val par = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; par
      } =>
      p.next(); p.next() // struct_insert (
      parseOperand(p, allowAgg).flatMap { base =>
        def packs(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
          p.ident().flatMap { k =>
            for {
              _ <- p.eatSym(":=")
              v <- parseOperand(p, allowAgg)
              r <- p.peek match {
                case TSym(",", _) =>
                  p.next(); packs(acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
                case _ => p.eatSym(")").map(_ =>
                  acc ++ Seq(Operand.Literal(Lit.LitString(k)), v))
              }
            } yield r
          }
        for {
          _ <- p.eatSym(",")
          fs <- packs(Vector.empty)
        } yield Operand.FuncCall("struct_insert", base +: fs): Operand
      }
    // union_value(k := v) — a single-member UNION value (DuckDB); the
    // member name interleaves as a string literal like struct_pack
    case TIdent(f, _) if f.equalsIgnoreCase("union_value") && {
        val save = p.i; p.next()
        val par = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; par
      } =>
      p.next(); p.next() // union_value (
      p.ident().flatMap { k =>
        for {
          _ <- p.eatSym(":=")
          v <- parseOperand(p, allowAgg)
          _ <- p.eatSym(")")
        } yield Operand.FuncCall("union_value",
          Seq(Operand.Literal(Lit.LitString(k)), v)): Operand
      }
    // [a, b, …] list literal (DuckDB bracket syntax) → list_value(...),
    // or a LIST COMPREHENSION `[expr FOR v IN list [IF pred]]` →
    // list_transform(list_filter(list, v -> pred), v -> expr)
    case TSym("[", _) =>
      p.next()
      p.peek match {
        case TSym("]", _) =>
          p.next(); Right(Operand.FuncCall("list_value", Nil))
        case _ =>
          def loop(acc: Vector[Operand]): Either[ParseError, Operand] =
            parseOperand(p, allowAgg).flatMap { o =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ o)
                case TIdent(k, _) if k.equalsIgnoreCase("for") &&
                    acc.isEmpty =>
                  p.next()
                  for {
                    v <- p.ident()
                    _ <- p.eatKw("in")
                    src <- parseOperand(p, allowAgg)
                    filtered <-
                      if (p.isKw("if")) {
                        p.next()
                        // the guard is a boolean predicate over the
                        // loop variable — same CASE wrap as lambda
                        // predicate bodies (filter excludes NULLs)
                        parseOr(p).map(e => Operand.FuncCall("list_filter",
                          Seq(src, Operand.Lambda(Seq(v), Operand.CaseWhen(
                            Seq((e, Operand.Literal(Lit.LitBool(true)))),
                            Some(Operand.Literal(Lit.LitBool(false))))))))
                      } else Right(src)
                    _ <- p.eatSym("]")
                  } yield Operand.FuncCall("list_transform",
                    Seq(filtered, Operand.Lambda(Seq(v), o)))
                case _ => p.eatSym("]").map(_ =>
                  Operand.FuncCall("list_value", acc :+ o))
              }
            }
          loop(Vector.empty)
      }
    case TInt(v, _)   => p.next(); Right(Operand.Literal(Lit.LitLong(v)))
    case TFloat(v, _) => p.next(); Right(Operand.Literal(Lit.LitDouble(v)))
    case TSci(v, _) => p.next()
      // genuine DOUBLE: the cast wrapper is what keeps half-EVEN integer
      // casts for e-notation where decimal-point literals round half-away
      Right(Operand.Cast(Operand.Literal(Lit.LitDouble(v)), SqlType.SqlDouble))
    case TStr(s, _)   => p.next(); Right(Operand.Literal(Lit.LitString(s)))
    case TIdent(s, _) if s.equalsIgnoreCase("null") =>
      p.next(); Right(Operand.Literal(Lit.LitNull))
    case TIdent(s, _) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
      p.next(); Right(Operand.Literal(Lit.LitBool(s.equalsIgnoreCase("true"))))
    case TIdent(k, _) if Set("date", "timestamp", "time",
        "timestamptz")(k.toLowerCase) && {
        val save = p.i; p.next()
        val isStr = p.peek.isInstanceOf[TStr]; p.i = save; isStr
      } =>
      p.next()
      parseDateTimeLit(p, k.toLowerCase).map(Operand.Literal)
    case TIdent(k, _) if k.equalsIgnoreCase("interval") && {
        val save = p.i; p.next()
        val isVal = p.peek match {
          case _: TStr | _: TInt => true
          case _                 => false
        }
        p.i = save; isVal
      } =>
      // INTERVAL '90' DAY / INTERVAL 3 MONTHS — unit normalized singular
      p.next()
      val n: Either[ParseError, Long] = p.next() match {
        case TInt(v, _) => Right(v)
        case TStr(s, pos) =>
          try Right(s.trim.toLong)
          catch { case _: NumberFormatException =>
            Left(ParseError(s"invalid INTERVAL count '$s'", pos)) }
        case t => Left(ParseError("expected INTERVAL count", t.pos))
      }
      n.flatMap { v =>
        p.peek match {
          case TIdent(u, pos) =>
            val unit = u.toLowerCase.stripSuffix("s")
            if (Set("year", "month", "week", "day",
                "hour", "minute", "second")(unit)) {
              p.next(); Right(Operand.Interval(v, unit))
            } else Left(ParseError(s"unknown INTERVAL unit '$u'", pos))
          case t => Left(ParseError("expected INTERVAL unit", t.pos))
        }
      }
    // QUALIFY scope: an inline `fn(args) OVER (spec)` call desugars into
    // a hidden window item, replaced by its generated-alias reference
    case TIdent(f, _) if p.winSink != null &&
        (aggSyntax(f, Aggregates.Syntax.Window) ||
          aggSyntax(f, Aggregates.Syntax.Plain)) && p.aheadOverCall =>
      val fn = Aggregates.canonical(f.toLowerCase)
      p.next()
      for {
        _ <- p.eatSym("(")
        args <- p.peek match {
          case TSym(")", _) => Right(Vector.empty[Operand])
          case TSym("*", pos) =>
            if (fn == "count") { p.next(); Right(Vector.empty[Operand]) }
            else Left(ParseError(s"$fn(*) is not valid", pos))
          case _ =>
            // DISTINCT window aggregate — sentinel trails the args,
            // windowColumn lowers over a per-frame collect_set
            val distinctE: Either[ParseError, Boolean] = p.peek match {
              case TIdent(d, dpos) if d.equalsIgnoreCase("distinct") &&
                  aggSyntax(fn, Aggregates.Syntax.Plain) =>
                if (!Aggregates(fn).decomposable)
                  Left(ParseError(s"DISTINCT windowed $fn is not " +
                    "supported (count/sum/avg/min/max are)", dpos))
                else { p.next(); Right(true) }
              case _ => Right(false)
            }
            def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
              parseOperand(p, allowAgg = true).flatMap { a =>
                p.peek match {
                  case TSym(",", _) => p.next(); loop(acc :+ a)
                  case _            => Right(acc :+ a)
                }
              }
            distinctE.flatMap(distinct =>
              loop(Vector.empty).map(as =>
                if (distinct) as :+ (Operand.Literal(
                  Lit.LitString(DistinctSentinel)): Operand)
                else as))
        }
        args <- winNullsOpt(p, args)
        _ <- p.eatSym(")")
        _ <- p.eatKw("over")
        spec <- parseOverSpec(p)
      } yield {
        val alias = s"__qw${p.winSink.length}"
        p.winSink += SelectItem.SWin(fn, args, spec._1, spec._2, alias, spec._3)
        Operand.Col(ColRef(None, alias))
      }
    // grouping_id(a, b, …) — the bitmask form of grouping(): first key
    // is the most significant bit (the Postgres/DuckDB/Spark convention).
    // Desugars at parse onto the single-key grouping() machinery:
    // grouping(a)*2^(n-1) + … + grouping(z), so analysis (keys must be
    // grouping-set columns) and lowering ride the existing path.
    case TIdent(f, _) if allowAgg && f.equalsIgnoreCase("grouping_id") =>
      p.next()
      for {
        _ <- p.eatSym("(")
        args <- {
          def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
            parseOperand(p).flatMap { o =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ o)
                case _            => Right(acc :+ o)
              }
            }
          p.peek match {
            case TSym(")", pos) => Left(ParseError(
              "grouping_id takes at least one GROUP BY key column", pos))
            case _ => loop(Vector.empty)
          }
        }
        _ <- p.eatSym(")")
      } yield {
        val n = args.length
        args.zipWithIndex.map { case (a, i) =>
          val g: Operand = Operand.AggCall("grouping", Some(a), distinct = false)
          val w = 1L << (n - 1 - i)
          if (w == 1L) g
          else Operand.Arith('*', g, Operand.Literal(Lit.LitLong(w)))
        }.reduceLeft[Operand]((l, r) => Operand.Arith('+', l, r))
      }
    // count_if(pred) — sugar for count(CASE WHEN pred THEN 1 END), the
    // same desugar as aggregate FILTER
    case TIdent(f, _) if allowAgg && f.equalsIgnoreCase("count_if") =>
      p.next()
      for {
        _ <- p.eatSym("(")
        pred <- parseOr(p)
        _ <- p.eatSym(")")
      } yield Operand.AggCall("count",
        Some(Operand.CaseWhen(Seq((pred, Operand.Literal(Lit.LitLong(1L)))), None)),
        distinct = false)
    // arg_min/arg_max (min_by/max_by): the value at the key's extremum —
    // rides the OrderedAgg node (value + one ordering key, no separator)
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.ArgExtreme) =>
      val fn = Aggregates.canonical(f.toLowerCase)
      p.next()
      for {
        _ <- p.eatSym("(")
        v <- parseOperand(p)
        _ <- p.eatSym(",")
        k <- parseOperand(p)
        // arg_min(x, v, n) / arg_max(x, v, n): top-n list variants — a
        // LIST of the x values at the n smallest/largest v. n rides the
        // separator slot as a literal.
        topn <- p.peek match {
          case TSym(",", _) if !fn.endsWith("_null") =>
            p.next()
            p.peek match {
              case TInt(n, _) if n >= 1 => p.next(); Right(Some(n))
              case t => Left(ParseError(
                s"$fn(x, v, n) takes a positive integer literal n", t.pos))
            }
          case _ => Right(None)
        }
        _ <- p.eatSym(")")
      } yield topn match {
        case Some(n) => Operand.OrderedAgg(s"${fn}_topn", v, n.toString,
          Seq((k, false)), distinct = false)
        case None => Operand.OrderedAgg(fn, v, "", Seq((k, false)),
          distinct = false)
      }
    // bitstring_agg(x, lo, hi): literal integer bounds compile into the
    // membership fold; rides the OrderedAgg carrier with "lo,hi" in the
    // separator slot
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Bits) =>
      p.next()
      for {
        _ <- p.eatSym("(")
        x <- parseOperand(p)
        _ <- p.eatSym(",")
        lo <- p.peek match {
          case TInt(n, _) => p.next(); Right(n)
          case t => Left(ParseError(
            "bitstring_agg bounds must be integer literals", t.pos))
        }
        _ <- p.eatSym(",")
        hi <- p.peek match {
          case TInt(n, _) if n >= lo => p.next(); Right(n)
          case t => Left(ParseError(
            "bitstring_agg bounds must be integer literals with lo <= hi", t.pos))
        }
        _ <- p.eatSym(")")
      } yield Operand.OrderedAgg("bitstring_agg", x, s"$lo,$hi", Nil,
        distinct = false)
    // approx_quantile/reservoir_quantile(x, q): sketch estimates (no
    // cross-engine oracle — t-digest vs Spark's variant of KLL); the
    // literal fraction rides the carrier's sep slot
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Fraction) =>
      p.next()
      for {
        _ <- p.eatSym("(")
        x <- parseOperand(p)
        _ <- p.eatSym(",")
        q0 <- p.peek match {
          case TFloat(v, _) => p.next(); Right(v)
          case TSci(v, _)   => p.next(); Right(v)
          case TInt(v, _)   => p.next(); Right(v.toDouble)
          case t => Left(ParseError(
            "approx_quantile takes a numeric literal fraction", t.pos))
        }
        _ <-
          if (q0 >= 0.0 && q0 <= 1.0) Right(())
          else Left(ParseError("quantile fraction must be in [0, 1]", p.peek.pos))
        _ <- p.eatSym(")")
      } yield Operand.OrderedAgg("approx_quantile", x, q0.toString, Nil,
        distinct = false)
    // two-argument statistical aggregates: corr(y, x), covar_pop(y, x),
    // covar_samp(y, x) — ride the OrderedAgg carrier (value + one key)
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Pair) =>
      val fn = Aggregates.canonical(f.toLowerCase)
      p.next()
      for {
        _ <- p.eatSym("(")
        y <- parseOperand(p)
        _ <- p.eatSym(",")
        x <- parseOperand(p)
        _ <- p.eatSym(")")
      } yield Operand.OrderedAgg(fn, y, "", Seq((x, false)), distinct = false)
    // percentile_cont/disc(p) WITHIN GROUP (ORDER BY x [ASC|DESC]) — the
    // standard ordered-set aggregates; cont DESC folds to 1-p (exact for
    // the interpolated form), disc DESC carries a reverse flag in the
    // carrier's sep field (discrete selection is not symmetric in p)
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.WithinGroup) =>
      val fn = Aggregates.canonical(f.toLowerCase)
      val start = p.peek.pos
      p.next()
      for {
        _ <- p.eatSym("(")
        p0 <- p.peek match {
          case TFloat(v, _) => p.next(); Right(v)
          case TSci(v, _)   => p.next(); Right(v)
          case TInt(v, _)   => p.next(); Right(v.toDouble)
          case t => Left(ParseError(
            s"$fn takes a numeric literal fraction", t.pos))
        }
        _ <-
          if (p0 >= 0.0 && p0 <= 1.0) Right(())
          else Left(ParseError(s"$fn fraction must be in [0, 1]", start))
        _ <- p.eatSym(")")
        _ <- p.eatKw("within")
        _ <- p.eatKw("group")
        _ <- p.eatSym("(")
        _ <- p.eatKw("order")
        _ <- p.eatKw("by")
        x <- parseOperand(p)
        desc <- Right {
          if (p.isKw("desc")) { p.next(); true }
          else { if (p.isKw("asc")) p.next(); false }
        }
        _ <- p.eatSym(")")
      } yield
        if (fn == "percentile_cont")
          Operand.OrderedAgg(fn, x,
            (if (desc) 1.0 - p0 else p0).toString, Nil, distinct = false)
        else
          Operand.OrderedAgg(fn, x,
            p0.toString + (if (desc) "|desc" else ""), Nil, distinct = false)
    // quantile_cont/quantile_disc(x, q) — DuckDB's call forms (argument
    // order flipped vs the standard syntax above)
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Quantile) =>
      // bare quantile IS quantile_disc in DuckDB
      val fn = Aggregates.canonical(f.toLowerCase)
      val start = p.peek.pos
      p.next()
      def fraction(): Either[ParseError, Double] = (p.peek match {
        case TFloat(v, _) => p.next(); Right(v)
        case TSci(v, _)   => p.next(); Right(v)
        case TInt(v, _)   => p.next(); Right(v.toDouble)
        case t => Left(ParseError(
          s"${f.toLowerCase} takes numeric literal fractions", t.pos))
      }).flatMap(v =>
        if (v >= 0.0 && v <= 1.0) Right(v)
        else Left(ParseError(
          s"${f.toLowerCase} fraction must be in [0, 1]", start)))
      for {
        _ <- p.eatSym("(")
        x <- parseOperand(p)
        _ <- p.eatSym(",")
        // [q1, q2, …] literal → the LIST form (one sort, a list result)
        agg <- p.peek match {
          case TSym("[", _) =>
            p.next()
            def loop(acc: Vector[Double]): Either[ParseError, Vector[Double]] =
              fraction().flatMap { v =>
                p.peek match {
                  case TSym(",", _) => p.next(); loop(acc :+ v)
                  case _ => p.eatSym("]").map(_ => acc :+ v)
                }
              }
            loop(Vector.empty).map(qs =>
              Operand.OrderedAgg(s"${fn}_list", x, qs.mkString(","), Nil,
                distinct = false): Operand)
          case _ => fraction().map(q0 =>
            Operand.OrderedAgg(fn, x, q0.toString, Nil,
              distinct = false): Operand)
        }
        _ <- p.eatSym(")")
      } yield agg
    // string_agg / listagg: value, string-literal separator, optional
    // intra-group ORDER BY (all keys must share one direction — the
    // lowering sorts the collected group once)
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Collect) =>
      // array_agg/list: same ordered-aggregate carrier, no separator; the
      // intra-group ORDER BY is REQUIRED (an unordered distributed
      // collect would be nondeterministic — DuckDB preserves input order,
      // which a shuffled engine cannot)
      val fn = Aggregates.canonical(f.toLowerCase)
      val isArray = fn == "array_agg"
      val start = p.peek.pos
      p.next()
      for {
        _ <- p.eatSym("(")
        // DISTINCT dedups values; the analyzer requires ORDER BY to be
        // the value itself (any other key is ambiguous after dedup)
        distinct <- Right {
          if (p.isKw("distinct")) { p.next(); true } else false
        }
        arg <- parseOperand(p)
        sep <-
          if (isArray) Right("")
          else p.eatSym(",").flatMap { _ =>
            p.peek match {
              case TStr(s, _) => p.next(); Right(s)
              case t => Left(ParseError(
                "string_agg separator must be a string literal", t.pos))
            }
          }
        order <-
          if (p.isKw("order")) {
            p.next()
            p.eatKw("by").flatMap { _ =>
              def one(): Either[ParseError, (Operand, Boolean)] =
                parseOperand(p).map { c =>
                  if (p.isKw("desc")) { p.next(); (c, true) }
                  else if (p.isKw("asc")) { p.next(); (c, false) }
                  else (c, false)
                }
              def loop(acc: Vector[(Operand, Boolean)])
                  : Either[ParseError, Vector[(Operand, Boolean)]] =
                one().flatMap { o =>
                  p.peek match {
                    case TSym(",", _) => p.next(); loop(acc :+ o)
                    case _            => Right(acc :+ o)
                  }
                }
              loop(Vector.empty).flatMap { ks =>
                if (ks.map(_._2).distinct.length > 1)
                  Left(ParseError(
                    "string_agg ORDER BY keys must share one direction", start))
                else Right(ks)
              }
            }
          } else Right(Vector.empty[(Operand, Boolean)])
        _ <- p.eatSym(")")
        _ <-
          // the window form takes its order from the OVER clause
          if (isArray && order.isEmpty && !p.isKw("over"))
            Left(ParseError(s"${f.toLowerCase} requires ORDER BY inside the " +
              "call (a distributed collect has no input order)", start))
          else Right(())
        res <- {
          val overParen = p.winSink != null && p.isKw("over") && {
            val save = p.i; p.next()
            val isP = p.peek match { case TSym("(", _) => true; case _ => false }
            p.i = save; isP
          }
          if (!overParen)
            Right(Operand.OrderedAgg(fn, arg, sep, order,
              distinct = distinct): Operand)
          else if (distinct)
            Left(ParseError(s"DISTINCT windowed $fn is not supported", start))
          else if (order.nonEmpty)
            Left(ParseError(
              s"windowed $fn takes its order from the OVER clause", start))
          else {
            // nested-in-expression window form: desugar into a hidden
            // window item via the sink (same as any inline OVER call)
            p.next() // OVER
            parseOverSpec(p).map { spec =>
              val alias = s"__qw${p.winSink.length}"
              p.winSink += SelectItem.SWin(fn,
                Seq(arg, Operand.Literal(Lit.LitString(sep))),
                spec._1, spec._2, alias, spec._3)
              Operand.Col(ColRef(None, alias)): Operand
            }
          }
        }
      } yield res
    case TIdent(f, _) if allowAgg && aggSyntax(f, Aggregates.Syntax.Plain) =>
      // aggregate over a full (non-aggregate) expression: sum(a * b),
      // optionally DISTINCT: count(DISTINCT x), sum(DISTINCT x).
      // DuckDB aggregate synonyms rebind onto canonical names here.
      val fn = Aggregates.canonical(f.toLowerCase)
      p.next()
      for {
        _ <- p.eatSym("(")
        distinct <- Right { if (p.isKw("distinct")) { p.next(); true } else false }
        arg <- p.peek match {
          case TSym("*", pos) if fn == "count" && !distinct => p.next(); Right(None)
          case TSym("*", pos) => Left(ParseError(s"$fn(*) is not valid", pos))
          // grammar-permissive: sum(count(*)) parses so WINDOWED
          // aggregates of aggregates work (sum(count(*)) OVER ());
          // the analyzer rejects nested aggregation everywhere else
          case _ => parseOperand(p, allowAgg).map(Some(_))
        }
        // min(x, n) / max(x, n): DuckDB's top-n list variants — a LIST
        // of the n smallest/largest values. n rides the OrderedAgg
        // separator slot as a literal (it compiles into the expression).
        topn <-
          if (Aggregates(fn).kind == Aggregates.Kind.Extremum && !distinct && (p.peek match {
            case TSym(",", _) => true
            case _            => false
          })) {
            p.next()
            p.peek match {
              case TInt(n, _) if n >= 1 => p.next(); Right(Some(n))
              case t => Left(ParseError(
                s"$fn(x, n) takes a positive integer literal n", t.pos))
            }
          } else Right(None)
        // count(DISTINCT a, b, …) — multi-column distinct: counts the
        // distinct tuples whose components are ALL non-null (SQL
        // semantics); rides the OrderedAgg node (first arg + the rest as
        // "ordering" operands, no separator)
        more <-
          if (fn == "count" && distinct) {
            def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
              p.peek match {
                case TSym(",", _) =>
                  p.next(); parseOperand(p).flatMap(o => loop(acc :+ o))
                case _ => Right(acc)
              }
            loop(Vector.empty)
          } else Right(Vector.empty[Operand])
        _ <- p.eatSym(")")
        // FILTER (WHERE pred) — desugars onto the aggregate's NULL
        // skipping: count(*) → count(CASE WHEN p THEN 1 END), agg(x) →
        // agg(CASE WHEN p THEN x END); identical to SQL FILTER for every
        // NULL-ignoring aggregate (count/sum/min/max/avg/stddev/…)
        filtered <-
          if (p.isKw("filter") && {
            val save = p.i; p.next()
            val isP = p.peek match { case TSym("(", _) => true; case _ => false }
            p.i = save; isP
          }) {
            if (fn == "grouping")
              Left(ParseError("grouping() does not take FILTER", p.peek.pos))
            else if (more.nonEmpty)
              Left(ParseError(
                "count(DISTINCT a, b, …) does not take FILTER", p.peek.pos))
            else if (topn.isDefined)
              Left(ParseError(
                s"$fn(x, n) does not take FILTER", p.peek.pos))
            else {
              p.next()
              for {
                _ <- p.eatSym("(")
                _ <- p.eatKw("where")
                pred <- parseOr(p)
                _ <- p.eatSym(")")
              } yield {
                val inner = arg.getOrElse(Operand.Literal(Lit.LitLong(1L)))
                Operand.AggCall(fn,
                  Some(Operand.CaseWhen(Seq((pred, inner)), None)), distinct)
              }
            }
          } else if (more.nonEmpty)
            Right(Operand.OrderedAgg("count_distinct", arg.get, "",
              more.map(_ -> false), distinct = true))
          else if (topn.isDefined)
            Right(Operand.OrderedAgg(s"${fn}_topn", arg.get,
              topn.get.toString, Nil, distinct = false))
          else Right(Operand.AggCall(fn, arg, distinct))
      } yield filtered
    case TIdent(k, _) if k.equalsIgnoreCase("case") =>
      p.next()
      for {
        // simple form carries a subject; its WHEN values desugar to
        // subject = value predicates
        subject <-
          if (p.isKw("when")) Right(None)
          else parseOperand(p, allowAgg).map(Some(_))
        branches <- {
          def one(): Either[ParseError, (Expr, Operand)] =
            for {
              _ <- p.eatKw("when")
              cond <- subject match {
                case None      => parseOr(p, allowAgg)
                case Some(subj) => parseOperand(p, allowAgg)
                  .map(v => Expr.Cmp(CmpOp.Eq, subj, v): Expr)
              }
              _ <- p.eatKw("then")
              res <- parseOperand(p, allowAgg)
            } yield (cond, res)
          def loop(acc: Vector[(Expr, Operand)]): Either[ParseError, Vector[(Expr, Operand)]] =
            one().flatMap(b => if (p.isKw("when")) loop(acc :+ b) else Right(acc :+ b))
          loop(Vector.empty)
        }
        els <-
          if (p.isKw("else")) { p.next(); parseOperand(p, allowAgg).map(Some(_)) }
          else Right(None)
        _ <- p.eatKw("end")
      } yield Operand.CaseWhen(branches, els)
    case TIdent(f, _) if (f.equalsIgnoreCase("cast") ||
        f.equalsIgnoreCase("try_cast")) && {
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      // [TRY_]CAST(operand AS type); bare VARCHAR (no length) allowed.
      // The operand may be a BOOLEAN expression — `cast(a > b AS
      // VARCHAR)` — which desugars like the parenthesized form.
      p.next()
      for {
        _ <- p.eatSym("(")
        o <- {
          val save = p.i
          parseOperand(p, allowAgg) match {
            case r @ Right(_) if p.isKw("as") => r
            case _ =>
              p.i = save
              parseOr(p, allowAgg).map(boolAsValue)
          }
        }
        _ <- p.eatKw("as")
        t <- p.peek match {
          case TIdent(s, _) if s.equalsIgnoreCase("varchar") && {
            val save = p.i; p.next()
            val hasLen = p.peek match { case TSym("(", _) => true; case _ => false }
            p.i = save; !hasLen
          } => p.next(); Right(SqlType.SqlVarChar(65535))
          case _ => parseType(p)
        }
        _ <- p.eatSym(")")
      } yield
        if (f.equalsIgnoreCase("cast")) Operand.Cast(o, t)
        else Operand.TryCast(o, t)
    // EXTRACT(unit FROM x) — standard sugar for the unit functions
    case TIdent(f, _) if f.equalsIgnoreCase("extract") && {
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      p.next()
      for {
        _ <- p.eatSym("(")
        unit <- p.peek match {
          case TIdent(u, pos) =>
            val un = u.toLowerCase
            if (Set("year", "quarter", "month", "day",
                "hour", "minute", "second", "week", "dow", "doy",
                "dayofweek", "dayofyear", "epoch")(un)) { p.next(); Right(un) }
            else Left(ParseError(s"unknown EXTRACT unit '$u'", pos))
          case t => Left(ParseError("expected EXTRACT unit", t.pos))
        }
        _ <- p.eatKw("from")
        x <- parseOperand(p, allowAgg)
        _ <- p.eatSym(")")
      } yield Operand.FuncCall("date_part",
        Seq(Operand.Literal(Lit.LitString(unit)), x))
    // POSITION(needle IN hay) — standard sugar for instr(hay, needle)
    case TIdent(f, _) if f.equalsIgnoreCase("position") && {
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      p.next()
      for {
        _ <- p.eatSym("(")
        needle <- parseOperand(p, allowAgg)
        _ <- p.eatKw("in")
        hay <- parseOperand(p, allowAgg)
        _ <- p.eatSym(")")
      } yield Operand.FuncCall("instr", Seq(hay, needle))
    // TRIM: both the standard form
    // TRIM([BOTH|LEADING|TRAILING] [chars] FROM x) and the plain calls
    // trim(x) / trim(x, chars); LEADING→ltrim, TRAILING→rtrim
    case TIdent(f, _) if f.equalsIgnoreCase("trim") && {
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      p.next()
      for {
        _ <- p.eatSym("(")
        mode <- p.peek match {
          case TIdent(m, _) if Set("both", "leading", "trailing")(m.toLowerCase) =>
            p.next(); Right(m.toLowerCase)
          case _ => Right("both")
        }
        first <- p.peek match {
          case TIdent(k, _) if k.equalsIgnoreCase("from") => Right(None)
          case _ => parseOperand(p, allowAgg).map(Some(_))
        }
        fn = mode match {
          case "leading" => "ltrim"; case "trailing" => "rtrim"; case _ => "trim"
        }
        res <-
          if (p.isKw("from")) {
            p.next()
            parseOperand(p, allowAgg)
              .map(src => Operand.FuncCall(fn, Seq(src) ++ first.toSeq))
          } else first match {
            case Some(src) if mode == "both" =>
              p.peek match {
                case TSym(",", _) =>
                  p.next()
                  parseOperand(p, allowAgg)
                    .map(ch => Operand.FuncCall("trim", Seq(src, ch)))
                case _ => Right(Operand.FuncCall("trim", Seq(src)))
              }
            case _ =>
              Left(ParseError("expected FROM in TRIM(... FROM x)", p.peek.pos))
          }
        _ <- p.eatSym(")")
      } yield res
    // SUBSTRING/SUBSTR: the standard form SUBSTRING(x FROM i [FOR n])
    // next to the plain substr(x, i[, n]) call
    case TIdent(f, _) if (f.equalsIgnoreCase("substring") ||
        f.equalsIgnoreCase("substr")) && {
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      p.next()
      for {
        _ <- p.eatSym("(")
        x <- parseOperand(p, allowAgg)
        args <-
          if (p.isKw("from")) {
            p.next()
            parseOperand(p, allowAgg).flatMap { start =>
              if (p.isKw("for")) {
                p.next()
                parseOperand(p, allowAgg).map(len => Seq(x, start, len))
              } else Right(Seq(x, start))
            }
          } else {
            def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
              p.peek match {
                case TSym(",", _) =>
                  p.next(); parseOperand(p, allowAgg).flatMap(a => loop(acc :+ a))
                case _ => Right(acc)
              }
            loop(Vector(x)).map(_.toSeq)
          }
        _ <- p.eatSym(")")
      } yield Operand.FuncCall("substr", args)
    case TIdent(f, _) if Functions.callable(f.toLowerCase) && {
        // function only when '(' follows — otherwise a column named e.g.
        // `length` still resolves
        val save = p.i; p.next()
        val isCall = p.peek match { case TSym("(", _) => true; case _ => false }
        p.i = save; isCall
      } =>
      // aliases resolve in the analyzer, through the same catalog
      val fn = f.toLowerCase
      p.next()
      for {
        _ <- p.eatSym("(")
        args <- {
          // a lambda argument: `x -> expr` or `(a, b) -> expr` (the list
          // higher-order functions); backtracks when no `->` follows
          def lambdaParams(): Option[Vector[String]] = {
            val save = p.i
            val r = p.peek match {
              case TIdent(n, _) if !reserved(n) =>
                p.next()
                p.peek match {
                  case TSym("->", _) => p.next(); Some(Vector(n))
                  case _             => None
                }
              case TSym("(", _) =>
                p.next()
                def ps(acc: Vector[String]): Option[Vector[String]] = p.peek match {
                  case TIdent(n, _) if !reserved(n) =>
                    p.next()
                    p.peek match {
                      case TSym(",", _) => p.next(); ps(acc :+ n)
                      case TSym(")", _) => p.next(); Some(acc :+ n)
                      case _            => None
                    }
                  case _ => None
                }
                ps(Vector.empty).flatMap(names => p.peek match {
                  case TSym("->", _) => p.next(); Some(names)
                  case _             => None
                })
              case _ => None
            }
            if (r.isEmpty) p.i = save
            r
          }
          def one(): Either[ParseError, Operand] = lambdaParams() match {
            case Some(ns) =>
              // a lambda body is an operand OR a boolean predicate
              // (x -> x % 2 = 1): try the operand first; if a predicate
              // continues past it (or the operand fails), reparse as a
              // full expression and wrap as CASE WHEN e THEN TRUE ELSE
              // FALSE — matching filter's NULL-excludes semantics
              val save = p.i
              val asOp = parseOperand(p, allowAgg = false)
              val predicateFollows = asOp.isRight && (p.peek match {
                case TSym("=" | "<>" | "<" | ">" | "<=" | ">=", _) => true
                case TIdent(k, _) => Seq("and", "or", "is", "in", "like",
                  "ilike", "between", "not").exists(k.equalsIgnoreCase)
                case _ => false
              })
              (if (asOp.isLeft || predicateFollows) {
                p.i = save
                parseOr(p).map(e => Operand.CaseWhen(
                  Seq((e, Operand.Literal(Lit.LitBool(true)))),
                  Some(Operand.Literal(Lit.LitBool(false)))))
              } else asOp).map(Operand.Lambda(ns, _))
            case None => parseOperand(p, allowAgg)
          }
          def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
            one().flatMap { a =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ a)
                case _            => Right(acc :+ a)
              }
            }
          p.peek match {
            case TSym(")", _) => Right(Vector.empty) // zero-arg call (pi())
            case _            => loop(Vector.empty)
          }
        }
        _ <- p.eatSym(")")
      } yield fn match {
        // operator function-forms desugar at parse so the binder's
        // arithmetic rules apply (date + int, decimal typing, the
        // string-operand reject); divide IS integer division like //
        case "add" if args.length == 2      => Operand.Arith('+', args(0), args(1))
        case "subtract" if args.length == 2 => Operand.Arith('-', args(0), args(1))
        case "multiply" if args.length == 2 => Operand.Arith('*', args(0), args(1))
        case "divide" if args.length == 2   => Operand.FuncCall("__intdiv", args)
        case _ => Operand.FuncCall(fn, args)
      }
    case TIdent(_, _) => parseColRef(p).map(Operand.Col)
    case t            => Left(ParseError("expected column or literal", t.pos))
  }

  /** DATE 'yyyy-mm-dd' / TIMESTAMP 'yyyy-mm-dd hh:mm:ss[.f]' tail —
    * called with the keyword consumed and a string literal next;
    * validates the ISO form at parse time so a typo fails here, not at
    * execution.
    */
  private def parseDateTimeLit(p: P, kind: String): Either[ParseError, Lit] = {
    val TStr(s, pos) = p.next(): @unchecked
    try kind match {
      case "date" => java.sql.Date.valueOf(s); Right(Lit.LitDate(s))
      case "time" =>
        java.time.LocalTime.parse(s); Right(Lit.LitTime(s))
      case "timestamptz" =>
        // accept an optional trailing offset (+HH / +HH:MM / -HH[:MM]);
        // normalize the wall text to UTC at parse — sessions pin UTC, so
        // the naive reading of the stored text IS the instant. The base
        // anchors to a full date (optionally followed by a time), so a
        // date-only literal's day digits can't be eaten as an offset.
        val m = "(\\d{4}-\\d{2}-\\d{2}(?:[ T][\\d:.]+)?)\\s*([+-]\\d{2}(?::?\\d{2})?)?".r
          .pattern.matcher(s)
        if (!m.matches()) throw new IllegalArgumentException(s)
        val base0 = m.group(1)
        val base = if (base0.matches("\\d{4}-\\d{2}-\\d{2}")) base0 + " 00:00:00" else base0
        val off = Option(m.group(2)).map { o =>
          val sign = if (o.head == '-') -1 else 1
          val digits = o.tail.replace(":", "")
          val h = digits.take(2).toInt
          val mnt = if (digits.length > 2) digits.drop(2).toInt else 0
          sign * (h * 60 + mnt)
        }.getOrElse(0)
        val ldt = java.time.LocalDateTime.parse(base.replace(' ', 'T'))
          .minusMinutes(off.toLong)
        Right(Lit.LitTimestampTz(
          java.sql.Timestamp.valueOf(ldt).toString.stripSuffix(".0")))
      case _ =>
        // a date-only TIMESTAMP literal reads midnight (DuckDB/Postgres)
        val full = if (s.matches("\\d{4}-\\d{2}-\\d{2}")) s + " 00:00:00" else s
        java.sql.Timestamp.valueOf(full); Right(Lit.LitTimestamp(full))
    } catch {
      case _: IllegalArgumentException | _: java.time.DateTimeException =>
        Left(ParseError(s"invalid ${kind.toUpperCase} literal '$s'", pos))
    }
  }

  private def parseLit(p: P): Either[ParseError, Lit] = p.peek match {
    case TSym("-", _) =>
      p.next()
      p.peek match {
        case TInt(v, _)   => p.next(); Right(Lit.LitLong(-v))
        case TFloat(v, _) => p.next(); Right(Lit.LitDouble(-v))
        case TSci(v, _)   => p.next(); Right(Lit.LitDouble(-v))
        case t => Left(ParseError("expected number after '-'", t.pos))
      }
    case TInt(v, _)   => p.next(); Right(Lit.LitLong(v))
    case TFloat(v, _) => p.next(); Right(Lit.LitDouble(v))
    case TSci(v, _)   => p.next(); Right(Lit.LitDouble(v))
    case TStr(s, _)   => p.next(); Right(Lit.LitString(s))
    case TIdent(s, _) if s.equalsIgnoreCase("null") => p.next(); Right(Lit.LitNull)
    case TIdent(s, _) if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") =>
      p.next(); Right(Lit.LitBool(s.equalsIgnoreCase("true")))
    case TIdent(k, _) if Set("date", "timestamp", "time",
        "timestamptz")(k.toLowerCase) && {
        val save = p.i; p.next()
        val isStr = p.peek.isInstanceOf[TStr]; p.i = save; isStr
      } =>
      p.next()
      parseDateTimeLit(p, k.toLowerCase)
    case t => Left(ParseError("expected literal", t.pos))
  }

  private def parseInsert(p: P): Either[ParseError, ParseTree] = {
    // VALUES elements are full scalar expressions; the all-literal case
    // keeps the direct InsertTree path (driver-side row construction),
    // expression rows desugar below onto INSERT … SELECT
    def tuple(): Either[ParseError, Vector[Operand]] =
      p.eatSym("(").flatMap { _ =>
        def item(): Either[ParseError, Operand] = p.peek match {
          // the bare DEFAULT keyword as a VALUES item (substituted with
          // the column's default at analysis); only when it stands
          // alone — `default` remains usable as an identifier elsewhere
          case TIdent(k, _) if k.equalsIgnoreCase("default") && {
              val save = p.i; p.next()
              val alone = p.peek match {
                case TSym(",", _) | TSym(")", _) => true
                case _ => false
              }
              p.i = save; alone
            } =>
            p.next(); Right(Operand.DefaultVal)
          case _ => parseOperand(p)
        }
        def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
          item().flatMap { o =>
            p.peek match {
              case TSym(",", _) => p.next(); loop(acc :+ o)
              case _            => p.eatSym(")").map(_ => acc :+ o)
            }
          }
        loop(Vector.empty)
      }
    for {
      _ <- p.eatKw("insert")
      _ <- p.eatKw("into")
      name <- p.ident().map(qualifiedTail(p, _))
      // INSERT INTO t BY NAME SELECT … — the select's output names ARE
      // the column list (resolved at analysis)
      byName <- p.peek match {
        case TIdent(k, _) if k.equalsIgnoreCase("by") =>
          p.next(); p.eatKw("name").map(_ => true)
        case _ => Right(false)
      }
      // optional explicit column list: INSERT INTO t (a, b) …
      cols <- p.peek match {
        case TSym("(", _) =>
          p.next()
          def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
            p.ident().flatMap { c =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ c)
                case _            => p.eatSym(")").map(_ => acc :+ c)
              }
            }
          loop(Vector.empty).map(Some(_))
        case _ => Right(None: Option[Vector[String]])
      }
      tree <-
        // INSERT INTO t [(cols)] SELECT … — the distributed write path;
        // a column list permutes the SELECT's output into table order
        // (unlisted columns NULL-fill, checked in analysis)
        if (p.isKw("select"))
          parseSelectOrUnion(p).flatMap { sel =>
            if (p.isKw("on")) Left(ParseError(
              "ON CONFLICT is supported for INSERT … VALUES (use MERGE " +
                "for query-sourced upserts)", p.peek.pos))
            else if (byName && cols.isDefined) Left(ParseError(
              "BY NAME and an explicit column list are mutually exclusive",
              p.peek.pos))
            else Right(InsertSelectTree(name, sel, cols,
              byName = byName): ParseTree)
          }
        else if (byName)
          Left(ParseError("INSERT … BY NAME takes a SELECT source",
            p.peek.pos))
        // INSERT INTO t DEFAULT VALUES — one row, every column its
        // declared DEFAULT (NULL when none): an empty explicit column
        // list + empty row rides the existing unlisted-columns-fill-
        // their-DEFAULT path unchanged
        else if (p.isKw("default") && cols.isEmpty) {
          p.next()
          p.eatKw("values").map(_ =>
            InsertTree(name, Seq(Seq.empty), Some(Seq.empty)): ParseTree)
        }
        else
          for {
            _ <- p.eatKw("values")
            rows <- {
              def loop(acc: Vector[Vector[Operand]])
                  : Either[ParseError, Vector[Vector[Operand]]] =
                tuple().flatMap { t =>
                  p.peek match {
                    case TSym(",", _) => p.next(); loop(acc :+ t)
                    case _            => Right(acc :+ t)
                  }
                }
              loop(Vector.empty)
            }
            conflict <-
              if (!p.isKw("on")) Right(None: Option[(Vector[String],
                Option[Vector[(String, Operand)]])])
              else for {
                _ <- p.eatKw("on"); _ <- p.eatKw("conflict")
                ccols <- p.peek match {
                  case TSym("(", _) =>
                    p.next()
                    def cl(acc: Vector[String]): Either[ParseError, Vector[String]] =
                      p.ident().flatMap { c =>
                        p.peek match {
                          case TSym(",", _) => p.next(); cl(acc :+ c)
                          case _            => p.eatSym(")").map(_ => acc :+ c)
                        }
                      }
                    cl(Vector.empty)
                  case t => Left(ParseError(
                    "ON CONFLICT requires an explicit conflict column list " +
                      "(the engine keeps no unique-constraint metadata)", t.pos))
                }
                _ <- p.eatKw("do")
                sets <-
                  if (p.isKw("nothing")) { p.next(); Right(None: Option[Vector[(String, Operand)]]) }
                  else for {
                    _ <- p.eatKw("update"); _ <- p.eatKw("set")
                    ss <- {
                      def sl(acc: Vector[(String, Operand)])
                          : Either[ParseError, Vector[(String, Operand)]] =
                        for {
                          c <- p.ident()
                          _ <- p.eatSym("=")
                          o <- parseOperand(p)
                          r <- p.peek match {
                            case TSym(",", _) => p.next(); sl(acc :+ (c -> o))
                            case _            => Right(acc :+ (c -> o))
                          }
                        } yield r
                      sl(Vector.empty)
                    }
                  } yield Some(ss)
              } yield Some((ccols, sets))
          } yield conflict match {
            case Some((ccols, sets)) =>
              UpsertTree(name, cols, rows, ccols, sets): ParseTree
            case None =>
              val allLits = rows.forall(_.forall(_.isInstanceOf[Operand.Literal]))
              if (allLits)
                InsertTree(name,
                  rows.map(_.map(_.asInstanceOf[Operand.Literal].lit)), cols): ParseTree
              else {
                // expression rows desugar to INSERT … SELECT over one
                // synthetic row per tuple (UNION ALL chain keeps
                // duplicates), evaluated by the engine like any SELECT
                def rowSelect(r: Vector[Operand]): SelectTree =
                  SelectTree(
                    Some(r.zipWithIndex.map { case (o, i) =>
                      SelectItem.SExpr(o, s"__v$i"): SelectItem }),
                    from = Nil, where = None)
                val sel: ParseTree =
                  if (rows.length == 1) rowSelect(rows.head)
                  else UnionTree(rowSelect(rows.head),
                    rows.tail.map(r => ("union_all", rowSelect(r))))
                InsertSelectTree(name, sel, cols): ParseTree
              }
          }
    } yield tree
  }

  private def parseDrop(p: P): Either[ParseError, ParseTree] = {
    // kind: 0 = table, 1 = view, 2 = materialized view
    for {
      _ <- p.eatKw("drop")
      kind <-
        if (p.isKw("materialized")) {
          p.next(); p.eatKw("view").map(_ => 2)
        }
        else if (p.isKw("view")) { p.next(); Right(1) }
        else if (p.isKw("sequence")) { p.next(); Right(3) }
        else if (p.isKw("type")) { p.next(); Right(4) }
        else if (p.isKw("macro") || p.isKw("function")) { p.next(); Right(5) }
        else if (p.isKw("schema")) { p.next(); Right(6) }
        else p.eatKw("table").map(_ => 0)
      ifExists <- Right {
        if (p.isKw("if")) {
          val save = p.i; p.next()
          if (p.isKw("exists")) { p.next(); true } else { p.i = save; false }
        } else false
      }
      name0 <- p.ident()
      name <- Right(if (kind <= 2) qualifiedTail(p, name0) else name0)
      cascade <- Right {
        if (kind == 6 && p.isKw("cascade")) { p.next(); true }
        else { if (kind == 6 && p.isKw("restrict")) p.next(); false }
      }
    } yield kind match {
      case 6 => DropSchemaTree(name.toLowerCase, ifExists, cascade)
      case 5 => DropMacroTree(name.toLowerCase, ifExists)
      case 4 => DropTypeTree(name.toLowerCase, ifExists)
      case 3 => DropSequenceTree(name.toLowerCase, ifExists)
      case 2 => DropMatViewTree(name.toLowerCase, ifExists)
      case 1 => DropViewTree(name.toLowerCase, ifExists)
      case _ => DropTree(name, ifExists)
    }
  }

  /** Substitute stored-view references into any statement's SELECT parts
    * (the registry values are already fully substituted at CREATE VIEW
    * time, like CTE bodies).
    */
  /** A scalar SQL macro (CREATE MACRO name(params) AS body): body kept
    * as SOURCE TEXT, substituted at the token level before parsing —
    * robust against every expression position without an AST walker.
    * Defaults are raw expression text too.
    */
  final case class MacroDef(params: Vector[(String, Option[String])],
      body: String, table: Boolean = false)

  /** Substitute a macro's parameters into its body text: every
    * standalone parameter identifier splices to `(argText)`. Skips
    * struct-field positions (`x.param`) and named-argument keys
    * (`param :=`).
    */
  private def spliceBody(body: String,
      binds: Map[String, String]): Either[ParseError, String] =
    lex(body).map { toks =>
      val sb = new StringBuilder
      var last = 0
      toks.zipWithIndex.foreach {
        case (TIdent(n, pos), i) if binds.contains(n.toLowerCase) &&
            !(i > 0 && (toks(i - 1) match {
              case TSym(".", _) => true; case _ => false })) &&
            !(toks(i + 1) match {
              case TSym(":=", _) => true; case _ => false }) =>
          sb ++= body.substring(last, pos)
          sb ++= s"(${binds(n.toLowerCase)})"
          last = pos + n.length
        case _ => ()
      }
      sb ++= body.substring(last)
      sb.toString
    }

  /** Expand every `name(args)` macro call in `sql` textually, innermost
    * level by re-scanning after each replacement. A runaway (self-
    * recursive) macro hits the iteration cap and errors loudly.
    */
  def expandMacros(sql0: String,
      macros: Map[String, MacroDef]): Either[ParseError, String] =
    expandMacros0(sql0, macros, stub = false)

  /** The parameter tokens of a prepared body, in source order — from
    * the LEXER (quoted strings and comments are already out of play),
    * not a character scan: the same tokens the parser will bind.
    */
  def scanParams(sql: String): Vector[String] =
    lex(sql).map(_.collect { case TParam(t, _) => t })
      .getOrElse(Vector.empty)

  /** Replaces getvariable('name') calls with the stored variable's
    * literal SQL text (NULL when unset) — token-scanned like macro
    * expansion, so occurrences inside strings/comments are untouched.
    * Values render with their type pinned (CAST for DOUBLE, DATE /
    * TIMESTAMP literals) so splicing preserves typing.
    */
  def expandGetVariable(sql0: String,
      vars: Map[String, Lit]): Either[ParseError, String] = {
    if (!sql0.toLowerCase.contains("getvariable")) return Right(sql0)
    def render(l: Lit): String = l match {
      case Lit.LitLong(v)      => v.toString
      // NaN and ±Infinity have no numeric spelling; a string cast reads them
      case Lit.LitDouble(v) if v.isNaN || v.isInfinite => s"CAST('$v' AS DOUBLE)"
      case Lit.LitDouble(v)    => s"CAST($v AS DOUBLE)"
      case Lit.LitString(v)    => s"'${v.replace("'", "''")}'"
      case Lit.LitBool(v)      => v.toString
      case Lit.LitDate(d)      => s"DATE '$d'"
      case Lit.LitTimestamp(t) => s"TIMESTAMP '$t'"
      case _                   => "NULL"
    }
    var sql = sql0
    var iter = 0
    while (iter < 100) {
      iter += 1
      lex(sql) match {
        case Left(e) => return Left(e)
        case Right(toks) =>
          val i = toks.indices.find { j =>
            (toks(j) match {
              case TIdent(n, _) => n.equalsIgnoreCase("getvariable")
              case _            => false
            }) && ((toks.lift(j + 1), toks.lift(j + 2), toks.lift(j + 3)) match {
              case (Some(TSym("(", _)), Some(TStr(_, _)),
                    Some(TSym(")", _))) => true
              case _ => false
            })
          }
          i match {
            case None => return Right(sql)
            case Some(j) =>
              val from = toks(j).pos
              val until = toks(j + 3).pos + 1
              val TStr(name, _) = toks(j + 2): @unchecked
              val value = vars.get(name.toLowerCase)
                .map(render).getOrElse("NULL")
              sql = sql.substring(0, from) + "(" + value + ")" +
                sql.substring(until)
          }
      }
    }
    Right(sql)
  }

  /** Splits a script at the lexer's `;` tokens into trimmed non-empty
    * statements — multi-statement input runs each in order through the
    * ordinary query path. Text that does not lex stays whole, so the
    * parser reports the error.
    */
  def splitStatements(sql: String): Vector[String] = {
    val cuts = lex(sql).fold(_ => Vector.empty[Int],
      _.collect { case TSym(";", at) => at })
    (-1 +: cuts).zip(cuts :+ sql.length).map { case (from, until) =>
      sql.substring(from + 1, until).trim }.filter(_.nonEmpty)
  }

  /** stub = true replaces every known-macro call with `(0)` instead of
    * its body — used to VALIDATE a macro body that references other
    * macros (or itself, recursively) without expanding them.
    */
  private def expandMacros0(sql0: String, macros: Map[String, MacroDef],
      stub: Boolean): Either[ParseError, String] = {
    if (macros.isEmpty) return Right(sql0)
    var sql = sql0
    var iter = 0
    while (iter < 200) {
      iter += 1
      lex(sql) match {
        case Left(e) => return Left(e)
        case Right(toks) =>
          // first macro call: TIdent(name) '(' … not after '.'
          val callIdx = toks.indices.find { i =>
            toks(i) match {
              case TIdent(n, _) if macros.contains(n.toLowerCase) =>
                (i + 1 < toks.length) && (toks(i + 1) match {
                  case TSym("(", _) => true; case _ => false }) &&
                !(i > 0 && (toks(i - 1) match {
                  case TSym(".", _) => true; case _ => false }))
              case _ => false
            }
          }
          callIdx match {
            case None => return Right(sql)
            case Some(i) =>
              val TIdent(name, npos) = toks(i): @unchecked
              val m = macros(name.toLowerCase)
              // find the matching ')' and top-level ',' positions; a
              // comma inside a list/struct literal argument ([1, 2] or
              // {'a': 1, 'b': 2}) is NOT an argument split, so bracket
              // and brace depth are tracked alongside parens
              var depth = 0
              var bDepth = 0
              var j = i + 1
              var argStarts = List.empty[Int]   // source offsets
              var argSplits = List.empty[Int]
              var endPos = -1
              while (endPos < 0 && j < toks.length) {
                toks(j) match {
                  case TSym("(", pp) =>
                    depth += 1
                    if (depth == 1 && j + 1 < toks.length)
                      argStarts = (pp + 1) :: argStarts
                  case TSym(")", pp) =>
                    depth -= 1
                    if (depth == 0) endPos = pp
                  case TSym("[" | "{", _) => bDepth += 1
                  case TSym("]" | "}", _) => bDepth -= 1
                  case TSym(",", pp) if depth == 1 && bDepth == 0 =>
                    argSplits = pp :: argSplits
                  case TEnd(_) => return Left(ParseError(
                    s"unterminated macro call $name(", npos))
                  case _ => ()
                }
                j += 1
              }
              if (endPos < 0) return Left(ParseError(
                s"unterminated macro call $name(", npos))
              if (stub) {
                sql = sql.substring(0, npos) + "(0)" + sql.substring(endPos + 1)
              } else {
              val argStart = argStarts.last
              val bounds = (argStart :: argSplits.reverse.map(_ + 1)) zip
                (argSplits.reverse :+ endPos)
              val args = bounds.map { case (a, b) => sql.substring(a, b).trim }
                .filter(_.nonEmpty)
              if (args.length > m.params.length)
                return Left(ParseError(
                  s"macro $name takes at most ${m.params.length} arguments " +
                    s"(got ${args.length})", npos))
              val binds = m.params.zipWithIndex.map { case ((pn, dflt), k) =>
                if (k < args.length) Right(pn.toLowerCase -> args(k))
                else dflt match {
                  case Some(d) => Right(pn.toLowerCase -> d)
                  case None => Left(ParseError(
                    s"macro $name: missing argument '$pn'", npos))
                }
              }
              binds.collectFirst { case Left(e) => e } match {
                case Some(e) => return Left(e)
                case None => ()
              }
              spliceBody(m.body,
                binds.collect { case Right(kv) => kv }.toMap) match {
                case Left(e) => return Left(e)
                case Right(expanded) =>
                  sql = sql.substring(0, npos) + "(" + expanded + ")" +
                    sql.substring(endPos + 1)
              }
              }
          }
      }
    }
    Left(ParseError("macro expansion did not terminate (recursive macro?)", 0))
  }

  /** Validate a macro body parses as an expression (operand or boolean
    * predicate) over its parameters — binding happens at each use site.
    */
  def validMacroBody(body0: String, macroNames: Set[String] = Set.empty,
      table: Boolean = false): Boolean = {
    // calls to OTHER macros (or the macro itself, recursively) bind at
    // use — stub them to a literal so the body's own syntax validates
    val stubbed = expandMacros0(body0,
      macroNames.map(_ -> MacroDef(Vector.empty, "0")).toMap, stub = true)
    stubbed.toOption.exists { body =>
      if (table) parse(body).isRight
      else lex(body).toOption.exists { toks =>
        def fully(r: Either[ParseError, _], p2: P): Boolean =
          r.isRight && (p2.peek match { case TEnd(_) => true; case _ => false })
        val asOp = { val p2 = new P(toks, body); fully(parseOperand(p2), p2) }
        asOp || { val p2 = new P(toks, body); fully(parseOr(p2), p2) }
      }
    }
  }

  def substituteViews(t: ParseTree, views: Map[String, ParseTree]): ParseTree =
    if (views.isEmpty) t
    else t match {
      case s: SelectTree => substCte(s, views)
      case u: UnionTree  => substCteTree(u, views)
      case ExplainTree(inner, a) => ExplainTree(substituteViews(inner, views), a)
      case InsertSelectTree(tb, sel, cs, bn) =>
        InsertSelectTree(tb, substituteViews(sel, views), cs, bn)
      case CreateAsTree(n, sel, b) =>
        CreateAsTree(n, substituteViews(sel, views), b)
      // a view can be the MERGE source: substitute a named source into a
      // derived table, and substitute inside derived sources
      case m: MergeTree => m.source match {
        case FTable(TableRef(n, a)) if views.contains(n.toLowerCase) =>
          views(n.toLowerCase) match {
            case body: SelectTree =>
              m.copy(source = FDerived(substCte(body, views),
                a.getOrElse(n.split('.').last)))
            case _ => m
          }
        case FDerived(sel: SelectTree, a) =>
          m.copy(source = FDerived(substCte(sel, views), a))
        case _ => m
      }
      case other => other
    }

  /** The USING/FROM source of DELETE…USING / UPDATE…FROM / MERGE: a
    * table (optional alias) or an aliased derived table.
    */
  private def parseDmlSource(p: P): Either[ParseError, FromItem] = {
    def alias(): Option[String] = p.peek match {
      case TIdent(a, _) if a.equalsIgnoreCase("as") =>
        p.next()
        p.peek match {
          case TIdent(b, _) if !reserved(b) => p.next(); Some(b)
          case _ => None
        }
      case TIdent(a, _) if !reserved(a) &&
          !a.equalsIgnoreCase("where") => p.next(); Some(a)
      case _ => None
    }
    p.peek match {
      case TSym("(", _) =>
        for {
          _ <- p.eatSym("(")
          sel <- parseSelect(p)
          _ <- p.eatSym(")")
          a <- alias() match {
            case Some(a) => Right(a)
            case None => Left(ParseError(
              "a derived DML source needs an alias", p.peek.pos))
          }
        } yield FDerived(sel, a): FromItem
      case _ => p.ident().map(qualifiedTail(p, _))
        .map(n => FTable(TableRef(n, alias())): FromItem)
    }
  }

  private val AlwaysTrue: Expr = Expr.Cmp(CmpOp.Eq,
    Operand.Literal(Lit.LitLong(1L)), Operand.Literal(Lit.LitLong(1L)))

  /** Zero-argument catalog table functions (DuckDB introspection):
    * parse to a plain table reference; GraftDatabase substitutes a
    * VALUES tree from its live catalog at dispatch.
    */
  private[sql] val IntrospectionFuncs = Set(
    "duckdb_tables", "duckdb_views", "duckdb_schemas", "duckdb_columns")

  /** Schema-qualified relation name: after an already-consumed first
    * identifier, a `.ident` tail makes it `schema.table`. An explicit
    * `main.t` KEEPS its prefix here — resolution strips it exactly
    * (GraftDatabase.canonName), which is what makes `main.t` bypass a
    * USE'd schema's same-named table (DuckDB search-path semantics).
    * One level only (no catalog.schema.table).
    */
  private def qualifiedTail(p: P, first: String): String = p.peek match {
    case TSym(".", _) if (p.peekAt(1) match {
      case Some(TIdent(x, _)) if !reserved(x) => true
      case _                                  => false
    }) =>
      p.next()
      val TIdent(seg, _) = p.next(): @unchecked
      s"$first.$seg"
    case _ => first
  }

  /** DELETE FROM t [alias] [USING src] [WHERE …]. The USING form
    * (DuckDB/Postgres) desugars onto the MERGE machinery: it is
    * exactly MERGE INTO t USING src ON <where> WHEN MATCHED THEN
    * DELETE — matched target rows go, unmatched stay, and the
    * join/rewrite runs through the same distributed copy-on-write path.
    */
  private def parseDelete(p: P): Either[ParseError, ParseTree] =
    for {
      _ <- p.eatKw("delete")
      _ <- p.eatKw("from")
      name <- p.ident().map(qualifiedTail(p, _))
      alias <- Right(p.peek match {
        case TIdent(a, _) if !reserved(a) && !a.equalsIgnoreCase("using") &&
            !a.equalsIgnoreCase("where") => p.next(); Some(a)
        case _ => None
      })
      usingSrc <-
        if (p.isKw("using")) { p.next(); parseDmlSource(p).map(Some(_)) }
        else Right(None: Option[FromItem])
      where <-
        if (p.isKw("where")) { p.next(); parseOr(p).map(Some(_)) }
        else Right(None)
      t <- usingSrc match {
        case Some(src) => Right(MergeTree(TableRef(name, alias), src,
          where.getOrElse(AlwaysTrue),
          Seq(MergeWhen.MDelete(None))): ParseTree)
        case None => Right(DeleteTree(name, where): ParseTree)
      }
    } yield t

  /** DELETE/UPDATE/INSERT … RETURNING — the affected rows come back as
    * the statement's result (DELETE: the removed rows' pre-image;
    * UPDATE: the updated rows' post-image). `*` returns them whole; a
    * column list projects them (computed items need AS, enforced at
    * analysis).
    */
  private def withReturning(p: P,
      t: ParseTree): Either[ParseError, ParseTree] =
    if (!p.isKw("returning")) Right(t)
    else {
      p.next()
      p.peek match {
        case TSym("*", _) => p.next(); Right(ReturningTree(t))
        case _ =>
          def one(): Either[ParseError, (Operand, Option[String])] =
            parseOperand(p).flatMap { o =>
              if (p.isKw("as")) { p.next(); p.ident().map(n => (o, Some(n))) }
              else Right((o, None))
            }
          def loop(acc: Vector[(Operand, Option[String])])
              : Either[ParseError, Vector[(Operand, Option[String])]] =
            one().flatMap { it =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(acc :+ it)
                case _            => Right(acc :+ it)
              }
            }
          loop(Vector.empty).map(items => ReturningTree(t, Some(items)))
      }
    }

  private def parseUpdate(p: P): Either[ParseError, ParseTree] = {
    def assignment(): Either[ParseError, (String, Operand)] =
      for {
        c <- p.ident()
        _ <- p.eatSym("=")
        // SET x = DEFAULT — the column's declared default (when the
        // keyword stands alone; `default` stays usable as a column)
        v <- p.peek match {
          case TIdent(k, _) if k.equalsIgnoreCase("default") && {
              val save = p.i; p.next()
              val alone = p.peek match {
                case TSym(",", _) | TEnd(_) => true
                case TIdent(w, _) => w.equalsIgnoreCase("where")
                case TSym(";", _) => true
                case _ => false
              }
              p.i = save; alone
            } =>
            p.next(); Right(Operand.DefaultVal: Operand)
          case _ => parseOperand(p)
        }
      } yield (c, v)
    for {
      _ <- p.eatKw("update")
      name <- p.ident().map(qualifiedTail(p, _))
      alias <- Right(p.peek match {
        case TIdent(a, _) if !reserved(a) && !a.equalsIgnoreCase("set") &&
            !a.equalsIgnoreCase("as") => p.next(); Some(a)
        case TIdent(a, _) if a.equalsIgnoreCase("as") =>
          p.next()
          p.peek match {
            case TIdent(b, _) if !reserved(b) => p.next(); Some(b)
            case _ => None
          }
        case _ => None
      })
      _ <- p.eatKw("set")
      sets <- {
        def loop(acc: Vector[(String, Operand)]): Either[ParseError, Vector[(String, Operand)]] =
          assignment().flatMap { a =>
            p.peek match {
              case TSym(",", _) => p.next(); loop(acc :+ a)
              case _            => Right(acc :+ a)
            }
          }
        loop(Vector.empty)
      }
      // UPDATE … FROM src WHERE … (DuckDB/Postgres): desugars onto
      // MERGE INTO t USING src ON <where> WHEN MATCHED THEN UPDATE —
      // only matched target rows rewrite, set values may read source
      // columns, and the distributed join/copy-on-write path is shared.
      fromSrc <-
        if (p.isKw("from")) { p.next(); parseDmlSource(p).map(Some(_)) }
        else Right(None: Option[FromItem])
      where <-
        if (p.isKw("where")) { p.next(); parseOr(p).map(Some(_)) }
        else Right(None)
      t <- fromSrc match {
        case Some(src) => Right(MergeTree(TableRef(name, alias), src,
          where.getOrElse(AlwaysTrue),
          Seq(MergeWhen.MUpdate(None, sets))): ParseTree)
        case None => Right(UpdateTree(name, sets, where): ParseTree)
      }
    } yield t
  }

  private def identList(p: P): Either[ParseError, Vector[String]] = {
    def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
      p.ident().flatMap { c =>
        p.peek match {
          case TSym(",", _) => p.next(); loop(acc :+ c)
          case _            => Right(acc :+ c)
        }
      }
    loop(Vector.empty)
  }

  private def parseStmtOrder(p: P): Either[ParseError, Vector[(String, Boolean)]] =
    if (p.isKw("order")) {
      p.next()
      p.eatKw("by").flatMap { _ =>
        def one(): Either[ParseError, (String, Boolean)] =
          p.ident().map { c =>
            if (p.isKw("desc")) { p.next(); (c, true) }
            else if (p.isKw("asc")) { p.next(); (c, false) }
            else (c, false)
          }
        def loop(acc: Vector[(String, Boolean)])
            : Either[ParseError, Vector[(String, Boolean)]] =
          one().flatMap { o =>
            p.peek match {
              case TSym(",", _) => p.next(); loop(acc :+ o)
              case _            => Right(acc :+ o)
            }
          }
        loop(Vector.empty)
      }
    } else Right(Vector.empty)

  /** COPY (t | (SELECT …)) TO 'path' [(FORMAT parquet|csv|json)] */
  private def parseCopy(p: P): Either[ParseError, ParseTree] =
    for {
      _ <- p.eatKw("copy")
      src <- p.peek match {
        case TSym("(", _) =>
          for {
            _ <- p.eatSym("(")
            sel <- parseSelectOrUnion(p)
            _ <- p.eatSym(")")
          } yield Right(sel): Either[String, ParseTree]
        case _ => p.ident().map(qualifiedTail(p, _))
          .map(Left(_): Either[String, ParseTree])
      }
      toDir <-
        if (p.isKw("to")) { p.next(); Right(true) }
        else if (p.isKw("from")) { p.next(); Right(false) }
        else Left(ParseError("expected TO or FROM after the COPY source",
          p.peek.pos))
      path <- p.peek match {
        case TStr(s, _) => p.next(); Right(s)
        case t => Left(ParseError("COPY takes a string-literal path", t.pos))
      }
      opts <- p.peek match {
        case TSym("(", _) =>
          p.next()
          def loop(fmt: String, hdr: Boolean)
              : Either[ParseError, (String, Boolean)] = {
            val stepE: Either[ParseError, (String, Boolean)] =
              if (p.isKw("format")) {
                p.next()
                p.ident().flatMap { f =>
                  if (Set("parquet", "csv", "json")(f.toLowerCase))
                    Right((f.toLowerCase, hdr))
                  else Left(ParseError(
                    s"unsupported COPY format '$f'", p.peek.pos))
                }
              } else if (p.isKw("header")) {
                p.next()
                val v = p.peek match {
                  case TIdent(k, _) if k.equalsIgnoreCase("true") =>
                    p.next(); true
                  case TIdent(k, _) if k.equalsIgnoreCase("false") =>
                    p.next(); false
                  case _ => true
                }
                Right((fmt, v))
              } else Left(ParseError(
                "COPY options: FORMAT <parquet|csv|json>, HEADER [true|false]",
                p.peek.pos))
            stepE.flatMap { case (f2, h2) =>
              p.peek match {
                case TSym(",", _) => p.next(); loop(f2, h2)
                case _            => p.eatSym(")").map(_ => (f2, h2))
              }
            }
          }
          loop("parquet", true)
        case _ => Right(("parquet", true))
      }
      tree <-
        if (toDir) Right(CopyToTree(src, path, opts._1): ParseTree)
        else src match {
          case Left(name) =>
            Right(CopyFromTree(name, path, opts._1, opts._2): ParseTree)
          case Right(_) => Left(ParseError(
            "COPY … FROM loads INTO a table (the source must be a table name)",
            p.peek.pos))
        }
    } yield tree

  /** PIVOT t ON col USING aggfn(col | *) GROUP BY g… [ORDER BY …] */
  private def parsePivot(p: P): Either[ParseError, PivotTree] =
    for {
      _ <- p.eatKw("pivot")
      t <- p.ident()
      _ <- p.eatKw("on")
      on <- p.ident()
      _ <- p.eatKw("using")
      fn <- p.ident()
      _ <- p.eatSym("(")
      vcol <- p.peek match {
        case TSym("*", _) => p.next(); Right(None: Option[String])
        case _            => p.ident().map(Some(_): Option[String])
      }
      _ <- p.eatSym(")")
      _ <- p.eatKw("group")
      _ <- p.eatKw("by")
      gb <- identList(p)
      ord <- parseStmtOrder(p)
    } yield PivotTree(t, on, fn.toLowerCase, vcol, gb, ord)

  /** UNPIVOT t ON c… [INTO NAME n VALUE v] [ORDER BY …] */
  private def parseUnpivot(p: P): Either[ParseError, UnpivotTree] =
    for {
      _ <- p.eatKw("unpivot")
      t <- p.ident()
      _ <- p.eatKw("on")
      cols <- identList(p)
      nv <-
        if (p.isKw("into")) {
          p.next()
          for {
            _ <- p.eatKw("name")
            n <- p.ident()
            _ <- p.eatKw("value")
            v <- p.ident()
          } yield (n, v)
        } else Right(("name", "value"))
      ord <- parseStmtOrder(p)
    } yield UnpivotTree(t, cols, nv._1, nv._2, ord)

  /** ALTER TABLE t (ADD [COLUMN] c type | DROP [COLUMN] c |
    * RENAME COLUMN a TO b | RENAME TO t2)
    */
  private def parseAlter(p: P): Either[ParseError, ParseTree] =
    for {
      _ <- p.eatKw("alter")
      _ <- p.eatKw("table")
      name <- p.ident().map(qualifiedTail(p, _))
      t <-
        if (p.isKw("add")) {
          p.next()
          if (p.isKw("column")) p.next()
          for {
            c <- p.ident()
            tpe <- parseType(p)
          } yield AlterAddColTree(name, c, tpe): ParseTree
        } else if (p.isKw("drop")) {
          p.next()
          if (p.isKw("column")) p.next()
          p.ident().map(AlterDropColTree(name, _): ParseTree)
        } else if (p.isKw("rename")) {
          p.next()
          if (p.isKw("to")) {
            p.next(); p.ident().map(AlterRenameTree(name, _): ParseTree)
          } else
            for {
              _ <- p.eatKw("column")
              from <- p.ident()
              _ <- p.eatKw("to")
              to <- p.ident()
            } yield AlterRenameColTree(name, from, to): ParseTree
        } else if (p.isKw("alter")) {
          // ALTER [COLUMN] c (TYPE | SET DATA TYPE) <type>
          p.next()
          if (p.isKw("column")) p.next()
          for {
            c <- p.ident()
            _ <-
              if (p.isKw("type")) { p.next(); Right(()) }
              else
                for {
                  _ <- p.eatKw("set")
                  _ <- p.eatKw("data")
                  _ <- p.eatKw("type")
                } yield ()
            tpe <- parseType(p)
          } yield AlterColTypeTree(name, c, tpe): ParseTree
        } else Left(ParseError(
          "expected ADD, DROP, RENAME or ALTER after ALTER TABLE <name>", p.peek.pos))
    } yield t

  /** MERGE INTO t [alias] USING (name | (SELECT …)) [alias] ON <pred>
    * { WHEN MATCHED [AND <pred>] THEN (UPDATE SET c = v, … | DELETE)
    * | WHEN NOT MATCHED [AND <pred>] THEN INSERT [(cols)] VALUES (…) }+
    */
  private def parseMerge(p: P): Either[ParseError, MergeTree] = {
    def alias(): Option[String] = p.peek match {
      case TIdent(a, _) if !reserved(a) => p.next(); Some(a)
      case TIdent(a, _) if a.equalsIgnoreCase("as") =>
        p.next()
        p.peek match {
          case TIdent(b, _) if !reserved(b) => p.next(); Some(b)
          case _ => None
        }
      case _ => None
    }
    def when(): Either[ParseError, MergeWhen] =
      for {
        _ <- p.eatKw("when")
        not <- Right { if (p.isKw("not")) { p.next(); true } else false }
        _ <- p.eatKw("matched")
        // WHEN NOT MATCHED BY SOURCE — target rows without a source
        // match; BY TARGET is the explicit spelling of the insert form
        bySource <- Right {
          if (not && p.isKw("by")) {
            val save = p.i
            p.next()
            if (p.isKw("source")) { p.next(); true }
            else if (p.isKw("target")) { p.next(); false }
            else { p.i = save; false }
          } else false
        }
        cond <-
          if (p.isKw("and")) { p.next(); parseOr(p).map(Some(_)) }
          else Right(None: Option[Expr])
        _ <- p.eatKw("then")
        w <-
          if (bySource) {
            if (p.isKw("delete")) {
              p.next(); Right(MergeWhen.MDelete(cond, bySource = true): MergeWhen)
            } else
              for {
                _ <- p.eatKw("update")
                _ <- p.eatKw("set")
                sets <- {
                  def one(): Either[ParseError, (String, Operand)] =
                    for {
                      c <- p.ident()
                      _ <- p.eatSym("=")
                      v <- parseOperand(p)
                    } yield (c, v)
                  def loop(acc: Vector[(String, Operand)])
                      : Either[ParseError, Vector[(String, Operand)]] =
                    one().flatMap { a =>
                      p.peek match {
                        case TSym(",", _) => p.next(); loop(acc :+ a)
                        case _            => Right(acc :+ a)
                      }
                    }
                  loop(Vector.empty)
                }
              } yield MergeWhen.MUpdate(cond, sets, bySource = true): MergeWhen
          } else if (not)
            for {
              _ <- p.eatKw("insert")
              cols <- p.peek match {
                case TSym("(", _) =>
                  p.next()
                  def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
                    p.ident().flatMap { c =>
                      p.peek match {
                        case TSym(",", _) => p.next(); loop(acc :+ c)
                        case _            => p.eatSym(")").map(_ => acc :+ c)
                      }
                    }
                  loop(Vector.empty).map(Some(_))
                case _ => Right(None: Option[Vector[String]])
              }
              _ <- p.eatKw("values")
              _ <- p.eatSym("(")
              vals <- {
                def loop(acc: Vector[Operand]): Either[ParseError, Vector[Operand]] =
                  parseOperand(p).flatMap { v =>
                    p.peek match {
                      case TSym(",", _) => p.next(); loop(acc :+ v)
                      case _            => Right(acc :+ v)
                    }
                  }
                loop(Vector.empty)
              }
              _ <- p.eatSym(")")
            } yield MergeWhen.MInsert(cond, cols, vals): MergeWhen
          else if (p.isKw("delete")) {
            p.next(); Right(MergeWhen.MDelete(cond): MergeWhen)
          } else
            for {
              _ <- p.eatKw("update")
              _ <- p.eatKw("set")
              sets <- {
                def one(): Either[ParseError, (String, Operand)] =
                  for {
                    c <- p.ident()
                    _ <- p.eatSym("=")
                    v <- parseOperand(p)
                  } yield (c, v)
                def loop(acc: Vector[(String, Operand)])
                    : Either[ParseError, Vector[(String, Operand)]] =
                  one().flatMap { a =>
                    p.peek match {
                      case TSym(",", _) => p.next(); loop(acc :+ a)
                      case _            => Right(acc :+ a)
                    }
                  }
                loop(Vector.empty)
              }
            } yield MergeWhen.MUpdate(cond, sets): MergeWhen
      } yield w
    for {
      _ <- p.eatKw("merge")
      _ <- p.eatKw("into")
      tname <- p.ident().map(qualifiedTail(p, _))
      talias <- Right(alias())
      _ <- p.eatKw("using")
      source <- p.peek match {
        case TSym("(", _) =>
          for {
            _ <- p.eatSym("(")
            sel <- parseSelect(p)
            _ <- p.eatSym(")")
            a <- alias() match {
              case Some(a) => Right(a)
              case None => Left(ParseError(
                "a derived MERGE source needs an alias", p.peek.pos))
            }
          } yield FDerived(sel, a): FromItem
        case _ =>
          p.ident().map(n => FTable(TableRef(n, alias())): FromItem)
      }
      _ <- p.eatKw("on")
      on <- parseOr(p)
      whens <- {
        def loop(acc: Vector[MergeWhen]): Either[ParseError, Vector[MergeWhen]] =
          if (p.isKw("when")) when().flatMap(w => loop(acc :+ w))
          else Right(acc)
        loop(Vector.empty)
      }
      _ <-
        if (whens.isEmpty)
          Left(ParseError("MERGE needs at least one WHEN clause", p.peek.pos))
        else Right(())
    } yield MergeTree(TableRef(tname, talias), source, on, whens)
  }

  /** Session-scoped named-type registry (CREATE TYPE … AS ENUM): the
    * database sets it before each parse. Thread-local so parallel spec
    * sessions in one JVM don't race.
    */
  private val namedTypesTL = new ThreadLocal[Map[String, SqlType]] {
    override def initialValue(): Map[String, SqlType] = Map.empty
  }
  def setNamedTypes(m: Map[String, SqlType]): Unit = namedTypesTL.set(m)

  private def parseType(p: P): Either[ParseError, SqlType] = {
    val baseE: Either[ParseError, SqlType] = p.peek match {
      case TIdent(s, pos) =>
        p.next()
        s.toLowerCase match {
          case "bigint"   => Right(SqlType.SqlBigInt)
          case "int" | "integer" => Right(SqlType.SqlInt)
          case "smallint" => Right(SqlType.SqlSmallInt)
          case "double"   => Right(SqlType.SqlDouble)
          case "real" | "float" => Right(SqlType.SqlReal)
          case "boolean" | "bool" => Right(SqlType.SqlBool)
          // BIT carried as VARCHAR of '0'/'1' (DuckDB renders BIT as
          // the bitstring text, so values hash-identically); the bit
          // functions validate their inputs
          case "bit" | "bitstring" => Right(SqlType.SqlVarChar(65535))
          case "date"     => Right(SqlType.SqlDate)
          case "time"     => Right(SqlType.SqlTime)
          case "timestamptz" => Right(SqlType.SqlTimestampTz)
          case "timestamp" =>
            // TIMESTAMP WITH TIME ZONE (3-keyword lookahead)
            val save = p.i
            val withTz = p.isKw("with") && {
              p.next()
              val ok = (p.peek match {
                case TIdent(w2, _) if w2.equalsIgnoreCase("time") => p.next()
                  p.peek match {
                    case TIdent(w3, _) if w3.equalsIgnoreCase("zone") => true
                    case _ => false
                  }
                case _ => false
              })
              if (!ok) p.i = save else p.next()
              ok
            }
            Right(if (withTz) SqlType.SqlTimestampTz else SqlType.SqlTimestamp)
          case "decimal" | "numeric" =>
            // optional (p[, s]); DuckDB's default is DECIMAL(18, 3)
            p.peek match {
              case TSym("(", _) =>
                for {
                  _ <- p.eatSym("(")
                  prec <- p.peek match {
                    case TInt(v, _) if v >= 1 && v <= 38 => p.next(); Right(v.toInt)
                    case t => Left(ParseError("expected DECIMAL precision (1-38)", t.pos))
                  }
                  scale <- p.peek match {
                    case TSym(",", _) =>
                      p.next()
                      p.peek match {
                        case TInt(v, _) if v >= 0 && v <= prec => p.next(); Right(v.toInt)
                        case t => Left(ParseError("expected DECIMAL scale", t.pos))
                      }
                    case _ => Right(3)
                  }
                  _ <- p.eatSym(")")
                } yield SqlType.SqlDecimal(prec, scale)
              case _ => Right(SqlType.SqlDecimal(18, 3))
            }
          case "varchar" =>
            for {
              _ <- p.eatSym("(")
              n <- p.peek match {
                case TInt(v, _) if v > 0 && v <= 65535 => p.next(); Right(v.toInt)
                case t => Left(ParseError("expected VARCHAR length", t.pos))
              }
              _ <- p.eatSym(")")
            } yield SqlType.SqlVarChar(n)
          case "varbinary" =>
            for {
              _ <- p.eatSym("(")
              n <- p.peek match {
                case TInt(v, _) if v > 0 && v <= 65535 => p.next(); Right(v.toInt)
                case t => Left(ParseError("expected VARBINARY length", t.pos))
              }
              _ <- p.eatSym(")")
            } yield SqlType.SqlVarBinary(n)
          case "map" =>
            for {
              _ <- p.eatSym("(")
              k <- parseType(p)
              _ <- p.eatSym(",")
              v <- parseType(p)
              _ <- p.eatSym(")")
            } yield SqlType.SqlMap(k, v)
          // UNION(name TYPE, …) — DuckDB's tagged sum type
          case "union"  => parseMembers(p).map(SqlType.SqlUnion)
          case "struct" => parseMembers(p).map(SqlType.SqlStruct)
          // anonymous inline ENUM('a', 'b') type (DuckDB)
          case "enum" =>
            for {
              _ <- p.eatSym("(")
              vals <- {
                def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
                  p.peek match {
                    case TStr(v, _) =>
                      p.next()
                      p.peek match {
                        case TSym(",", _) => p.next(); loop(acc :+ v)
                        case _            => Right(acc :+ v)
                      }
                    case t => Left(ParseError(
                      "ENUM takes string-literal values", t.pos))
                  }
                loop(Vector.empty)
              }
              _ <- p.eatSym(")")
            } yield SqlType.SqlEnum(vals)
          case other =>
            namedTypesTL.get.get(other) match {
              case Some(t) => Right(t)
              case None => Left(ParseError(s"unknown type $other", pos))
            }
        }
      case t => Left(ParseError("expected type", t.pos))
    }
    // postfix [] builds array types: DOUBLE[], VARCHAR(10)[], INT[][].
    // `[` followed by anything else stays for the SUBSCRIPT postfix
    // (x::int[2] subscripts the cast).
    baseE.map { base =>
      var t = base
      def emptyBrackets: Boolean = {
        val save = p.i
        val ok = (p.peek match { case TSym("[", _) => true; case _ => false }) && {
          p.next()
          p.peek match { case TSym("]", _) => true; case _ => false }
        }
        p.i = save
        ok
      }
      while (emptyBrackets) { p.next(); p.next(); t = SqlType.SqlArray(t) }
      t
    }
  }

  /** `(name TYPE, …)` of a STRUCT or UNION. A member name is a bare word
    * (reserved words included: the position is unambiguous) or a quoted
    * string, the form `SqlType.render` gives any other name.
    */
  private def parseMembers(p: P): Either[ParseError, Vector[(String, SqlType)]] = {
    def loop(acc: Vector[(String, SqlType)])
        : Either[ParseError, Vector[(String, SqlType)]] = {
      val name = p.peek match {
        case TIdent(s, _) => p.next(); Right(s)
        case TStr(s, _)   => p.next(); Right(s)
        case t            => Left(ParseError("expected member name", t.pos))
      }
      name.flatMap(mn => parseType(p).flatMap { mt =>
        p.peek match {
          case TSym(",", _) => p.next(); loop(acc :+ (mn -> mt))
          case _            => Right(acc :+ (mn -> mt))
        }
      })
    }
    for {
      _ <- p.eatSym("(")
      ms <- loop(Vector.empty)
      _ <- p.eatSym(")")
    } yield ms
  }

  /** A type's text (a column type stored in the warehouse catalog) as a
    * SqlType: the one inverse of `SqlType.render`.
    */
  def parseTypeText(s: String): Either[ParseError, SqlType] =
    lex(s).flatMap { toks =>
      val p = new P(toks, s)
      parseType(p).flatMap(t => p.peek match {
        case TEnd(_) => Right(t)
        case tk => Left(ParseError("type not parsed fully", tk.pos))
      })
    }

  /** CLUSTERED BY (col) INTO n BUCKETS — shared by CREATE TABLE and CTAS. */
  private def parseBucketClause(p: P): Either[ParseError, Option[(String, Int)]] =
    if (p.isKw("clustered")) {
      p.next()
      for {
        _ <- p.eatKw("by")
        _ <- p.eatSym("(")
        col <- p.ident()
        _ <- p.eatSym(")")
        _ <- p.eatKw("into")
        n <- p.peek match {
          case TInt(v, _) if v > 0 && v <= 100000 => p.next(); Right(v.toInt)
          case t => Left(ParseError("expected positive bucket count", t.pos))
        }
        _ <- p.eatKw("buckets")
      } yield Some((col, n))
    } else Right(None: Option[(String, Int)])

  private def parseCreate(p: P): Either[ParseError, ParseTree] = {
    def ifNotExists(): Either[ParseError, Boolean] =
      if (p.isKw("if")) {
        p.next()
        for { _ <- p.eatKw("not"); _ <- p.eatKw("exists") } yield true
      } else Right(false)
    for {
      _ <- p.eatKw("create")
      orReplace <-
        if (p.isKw("or")) { p.next(); p.eatKw("replace").map(_ => true) }
        else Right(false)
      temp <- Right {
        if (p.isKw("temp") || p.isKw("temporary")) { p.next(); true }
        else false
      }
      _ <-
        if (temp && !p.isKw("table")) Left(ParseError(
          "TEMPORARY applies to CREATE TABLE only", p.peek.pos))
        else Right(())
      inner <-
        if (p.isKw("materialized"))
          for {
            _ <- p.eatKw("materialized")
            _ <- p.eatKw("view")
            ine <- ifNotExists()
            name <- p.ident().map(qualifiedTail(p, _))
            bucket <- parseBucketClause(p)
            _ <- p.eatKw("as")
            body <- if (p.isKw("with")) parseWith(p) else parseSelectOrUnion(p)
          } yield (CreateMatViewTree(name.toLowerCase, body, bucket): ParseTree, ine)
        else if (p.isKw("view"))
          for {
            _ <- p.eatKw("view")
            ine <- ifNotExists()
            name <- p.ident().map(qualifiedTail(p, _))
            _ <- p.eatKw("as")
            body <- if (p.isKw("with")) parseWith(p) else parseSelectOrUnion(p)
          } yield (CreateViewTree(name.toLowerCase, body): ParseTree, ine)
        else if (p.isKw("macro") || p.isKw("function"))
          for {
            _ <- Right(p.next())
            name <- p.ident()
            _ <- p.eatSym("(")
            params <- {
              def loop(acc: Vector[(String, Option[String])])
                  : Either[ParseError, Vector[(String, Option[String])]] =
                p.peek match {
                  case TSym(")", _) => Right(acc)
                  case TIdent(pn, _) =>
                    p.next()
                    for {
                      dflt <- p.peek match {
                        case TSym(":=", _) =>
                          p.next()
                          // default: raw source text to the next
                          // top-level ',' or ')'
                          val start = p.peek.pos
                          var depth = 0     // parens
                          var bDepth = 0    // [] and {} — a list/struct
                                            // default's commas don't split
                          var endp = -1
                          while (endp < 0) {
                            p.peek match {
                              case TSym("(", _) => depth += 1; p.next()
                              case TSym(")", pp) =>
                                if (depth == 0) endp = pp else { depth -= 1; p.next() }
                              case TSym("[" | "{", _) => bDepth += 1; p.next()
                              case TSym("]" | "}", _) => bDepth -= 1; p.next()
                              case TSym(",", pp) if depth == 0 && bDepth == 0 => endp = pp
                              case TEnd(pp) => endp = pp
                              case _ => p.next()
                            }
                          }
                          Right(Some(p.src.substring(start, endp).trim))
                        case _ => Right(None)
                      }
                      r <- p.peek match {
                        case TSym(",", _) => p.next(); loop(acc :+ (pn -> dflt))
                        case _            => Right(acc :+ (pn -> dflt))
                      }
                    } yield r
                  case t => Left(ParseError("expected macro parameter", t.pos))
                }
              loop(Vector.empty)
            }
            _ <- p.eatSym(")")
            _ <- p.eatKw("as")
            isTable <- Right {
              if (p.isKw("table")) { p.next(); true } else false
            }
            body <- p.peek match {
              case TEnd(pos) => Left(ParseError("macro body expected", pos))
              case t =>
                // the body is the REST of the statement's source text;
                // syntax validates at DISPATCH (the registry knows which
                // names are macros — a body may call other macros, or
                // itself: DuckDB also defers that to the use site)
                val b = p.src.substring(t.pos).trim.stripSuffix(";").trim
                while (!p.peek.isInstanceOf[TEnd]) p.next()
                Right(b)
            }
          } yield (CreateMacroTree(name.toLowerCase, params, body,
            orReplace, isTable): ParseTree, false)
        else if (p.isKw("type"))
          for {
            _ <- p.eatKw("type")
            ine <- ifNotExists()
            name <- p.ident()
            _ <- p.eatKw("as")
            _ <- p.eatKw("enum")
            _ <- p.eatSym("(")
            vals <- {
              def loop(acc: Vector[String]): Either[ParseError, Vector[String]] =
                p.peek match {
                  case TStr(v, _) =>
                    p.next()
                    p.peek match {
                      case TSym(",", _) => p.next(); loop(acc :+ v)
                      case _            => Right(acc :+ v)
                    }
                  case t => Left(ParseError(
                    "ENUM takes string-literal values", t.pos))
                }
              loop(Vector.empty)
            }
            _ <- p.eatSym(")")
            _ <-
              if (vals.distinct.length == vals.length) Right(())
              else Left(ParseError("duplicate ENUM value", p.peek.pos))
          } yield (CreateEnumTree(name.toLowerCase, vals, ine): ParseTree, ine)
        else if (p.isKw("sequence"))
          for {
            _ <- p.eatKw("sequence")
            ine <- ifNotExists()
            name <- p.ident()
            opts <- {
              def signedLong(): Either[ParseError, Long] = p.peek match {
                case TSym("-", _) => p.next(); p.peek match {
                  case TInt(v, _) => p.next(); Right(-v)
                  case t => Left(ParseError("expected an integer", t.pos))
                }
                case TInt(v, _) => p.next(); Right(v)
                case t => Left(ParseError("expected an integer", t.pos))
              }
              def loop(start: Option[Long], inc: Option[Long],
                  minv: Option[Long], maxv: Option[Long], cycle: Boolean)
                  : Either[ParseError, (Option[Long], Option[Long],
                    Option[Long], Option[Long], Boolean)] =
                if (p.isKw("increment")) {
                  p.next(); if (p.isKw("by")) p.next()
                  signedLong().flatMap(v => loop(start, Some(v), minv, maxv, cycle))
                } else if (p.isKw("minvalue")) {
                  p.next(); signedLong().flatMap(v => loop(start, inc, Some(v), maxv, cycle))
                } else if (p.isKw("maxvalue")) {
                  p.next(); signedLong().flatMap(v => loop(start, inc, minv, Some(v), cycle))
                } else if (p.isKw("start")) {
                  p.next(); if (p.isKw("with")) p.next()
                  signedLong().flatMap(v => loop(Some(v), inc, minv, maxv, cycle))
                } else if (p.isKw("cycle")) {
                  p.next(); loop(start, inc, minv, maxv, cycle = true)
                } else if (p.isKw("no")) {
                  p.next()
                  if (p.isKw("cycle") || p.isKw("minvalue") || p.isKw("maxvalue")) {
                    p.next(); loop(start, inc, minv, maxv, cycle)
                  } else Left(ParseError(
                    "expected CYCLE/MINVALUE/MAXVALUE after NO", p.peek.pos))
                } else Right((start, inc, minv, maxv, cycle))
              loop(None, None, None, None, cycle = false)
            }
          } yield (CreateSequenceTree(name.toLowerCase, opts._1, opts._2,
            opts._3, opts._4, opts._5, ine, orReplace): ParseTree, false)
        else if (p.isKw("unique") || p.isKw("index"))
          for {
            unique <- Right { if (p.isKw("unique")) { p.next(); true } else false }
            _ <- p.eatKw("index")
            ine <- ifNotExists()
            iname <- p.ident()
            _ <- p.eatKw("on")
            tname <- p.ident()
            _ <- p.eatSym("(")
            cols <- {
              def cl(acc: Vector[String]): Either[ParseError, Vector[String]] =
                p.ident().flatMap { c =>
                  p.peek match {
                    case TSym(",", _) => p.next(); cl(acc :+ c)
                    case _            => p.eatSym(")").map(_ => acc :+ c)
                  }
                }
              cl(Vector.empty)
            }
          } yield (CreateIndexTree(iname, tname, cols, unique): ParseTree, ine)
        else if (p.isKw("schema"))
          for {
            _ <- p.eatKw("schema")
            ine <- ifNotExists()
            name <- p.ident()
          } yield (CreateSchemaTree(name.toLowerCase, ine): ParseTree, false)
        else
          for {
            _ <- p.eatKw("table")
            ine <- ifNotExists()
            name <- p.ident().map(qualifiedTail(p, _))
            t <- p.peek match {
              case TSym("(", _) => parseCreateColumns(p, name)
              case _ =>
                // CREATE TABLE t [CLUSTERED BY …] AS SELECT …
                for {
                  bucket <- parseBucketClause(p)
                  _ <- p.eatKw("as")
                  sel <- parseSelectOrUnion(p)
                } yield CreateAsTree(name, sel, bucket): ParseTree
            }
          } yield (t, ine)
      _ <-
        if (orReplace && inner._2) Left(ParseError(
          "OR REPLACE and IF NOT EXISTS are mutually exclusive", p.peek.pos))
        else Right(())
    } yield {
      // an index create is a no-op either way — mode wrappers drop
      val t0 =
        if ((orReplace || inner._2) &&
            !inner._1.isInstanceOf[CreateIndexTree] &&
            !inner._1.isInstanceOf[CreateSequenceTree] &&
            !inner._1.isInstanceOf[CreateMacroTree])
          CreateModeTree(inner._1, orReplace, inner._2)
        else inner._1
      if (temp) TempTree(t0) else t0
    }
  }

  private def parseCreateColumns(p: P, name: String): Either[ParseError, ParseTree] = {
    // CHECK (expr): parse (validates it), but carry the SOURCE TEXT —
    // the catalog stores it and write-time enforcement re-binds it
    val checks = Vector.newBuilder[String]
    def parseCheckCons(): Either[ParseError, Unit] = {
      p.next() // CHECK
      for {
        _ <- p.eatSym("(")
        startPos = p.peek.pos
        _ <- parseOr(p)
        endPos = p.peek.pos
        _ <- p.eatSym(")")
      } yield {
        checks += p.src.substring(startPos, endPos).trim
        ()
      }
    }
    def checkAhead: Boolean = p.isKw("check") && {
      val save = p.i; p.next()
      val isP = p.peek match { case TSym("(", _) => true; case _ => false }
      p.i = save; isP
    }
    for {
      _ <- p.eatSym("(")
      colsAndPk <- {
        def one(): Either[ParseError, (String, SqlType, Boolean, Option[Lit], Boolean, Option[String])] =
          for {
            cn <- p.ident()
            tp <- parseType(p)
            // column constraints in any order: PRIMARY KEY (parsed and
            // ignored, reference parity), DEFAULT <literal>, NOT NULL /
            // bare NULL, CHECK (expr), and GENERATED ALWAYS AS (expr)
            // [VIRTUAL|STORED] — generated values materialize at write
            pkDef <- {
              def cons(pk: Boolean, dflt: Option[Lit], nn: Boolean,
                  gen: Option[String])
                  : Either[ParseError, (Boolean, Option[Lit], Boolean, Option[String])] =
                if (p.isKw("primary")) {
                  p.next(); p.eatKw("key").flatMap(_ => cons(true, dflt, nn, gen))
                } else if (p.isKw("not")) {
                  p.next(); p.eatKw("null").flatMap(_ => cons(pk, dflt, true, gen))
                } else if (p.isKw("null")) {
                  p.next(); cons(pk, dflt, nn, gen)
                } else if (checkAhead) {
                  parseCheckCons().flatMap(_ => cons(pk, dflt, nn, gen))
                } else if (p.isKw("generated")) {
                  p.next()
                  for {
                    _ <- p.eatKw("always")
                    _ <- p.eatKw("as")
                    _ <- p.eatSym("(")
                    startPos = p.peek.pos
                    _ <- parseOperand(p, allowAgg = false)
                    endPos = p.peek.pos
                    _ <- p.eatSym(")")
                    text = p.src.substring(startPos, endPos).trim
                    // storage keyword accepted; values materialize on
                    // write either way (read-equivalent to VIRTUAL)
                    _ = if (p.isKw("virtual") || p.isKw("stored")) p.next()
                    r <- cons(pk, dflt, nn, Some(text))
                  } yield r
                } else if (p.isKw("default")) {
                  val pos = p.peek.pos
                  p.next()
                  parseFactor(p, allowAgg = false).flatMap {
                    case Operand.Literal(l) => cons(pk, Some(l), nn, gen)
                    case _ => Left(ParseError(
                      "DEFAULT takes a literal value", pos))
                  }
                } else Right((pk, dflt, nn, gen))
              cons(false, None, false, None)
            }
          } yield (cn, tp, pkDef._1, pkDef._2, pkDef._3, pkDef._4)
        def loop(acc: Vector[(String, SqlType, Boolean, Option[Lit], Boolean, Option[String])])
            : Either[ParseError, Vector[(String, SqlType, Boolean, Option[Lit], Boolean, Option[String])]] = {
          // table-level CHECK (expr) entries mix into the column list
          val itemE: Either[ParseError, Option[(String, SqlType, Boolean, Option[Lit], Boolean, Option[String])]] =
            if (checkAhead) parseCheckCons().map(_ => None)
            else one().map(Some(_))
          itemE.flatMap { c =>
            val acc2 = acc ++ c.toSeq
            p.peek match {
              case TSym(",", _) => p.next(); loop(acc2)
              case _            => p.eatSym(")").map(_ => acc2)
            }
          }
        }
        loop(Vector.empty)
      }
      // optional CLUSTERED BY (col) INTO n BUCKETS (Hive/Spark DDL shape)
      bucket <- parseBucketClause(p)
    } yield CreateTree(
      name,
      colsAndPk.map(c => (c._1, c._2)),
      colsAndPk.filter(_._3).map(_._1),
      bucket,
      colsAndPk.collect { case (n, _, _, Some(l), _, _) => n.toLowerCase -> l }
        .toMap,
      colsAndPk.filter(_._5).map(_._1),
      checks.result(),
      colsAndPk.collect { case (n, _, _, _, _, Some(g)) => n.toLowerCase -> g }
        .toMap): ParseTree
  }
}
