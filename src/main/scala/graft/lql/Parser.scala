package graft.lql

import graft.lql.Ast._
import graft.lql.Lexer._
import graft.model.Model

import java.time.Instant

/** Recursive-descent LQL parser over [[Lexer]] tokens, one production per
  * reference grammar rule (reference pkg/lql/parser.go:86-198). Datetime
  * constants are resolved at parse time against the injectable clock,
  * exactly like the reference's `DateTime.Capture`
  * (parser.go:226-232).
  */
final class Parser(clock: () => Instant) {

  private val dt = new LqlDateTime(clock)

  def parse(lql: String): Either[String, Lql] =
    Lexer.lex(lql).flatMap { toks =>
      try {
        val st = new State(toks)
        val res = st.parseLql()
        st.expectEof()
        Right(res)
      } catch { case LqlException(m) => Left(m) }
    }

  /** Parse a standalone tags/WHERE expression (reference ParseExpr). */
  def parseExpr(s: String): Either[String, Expression] =
    Lexer.lex(s).flatMap { toks =>
      try {
        val st = new State(toks)
        val e = st.parseExpression()
        st.expectEof()
        Right(e)
      } catch { case LqlException(m) => Left(m) }
    }

  /** Parse a standalone FROM source (reference ParseSource). */
  def parseSource(s: String): Either[String, Source] =
    Lexer.lex(s).flatMap { toks =>
      try {
        val st = new State(toks)
        val src = st.parseSourceReq()
        st.expectEof()
        Right(src)
      } catch { case LqlException(m) => Left(m) }
    }

  private def fail(msg: String): Nothing = throw LqlException(msg)

  private final class State(toks: Vector[Tok]) {
    private var pos = 0
    def peek: Tok = toks(pos)
    def next(): Tok = { val t = toks(pos); pos += 1; t }
    def mark: Int = pos
    def reset(m: Int): Unit = pos = m

    def expectEof(): Unit = peek match {
      case TEof => ()
      case t    => fail(s"unexpected token '${t.text}' at end of statement")
    }

    private def isKw(t: Tok, kw: String): Boolean = t match {
      case TKeyword(k) => k == kw
      case _           => false
    }
    def atKw(kw: String): Boolean = isKw(peek, kw)
    def eatKw(kw: String): Boolean = if (atKw(kw)) { pos += 1; true } else false
    def requireKw(kw: String): Unit =
      if (!eatKw(kw)) fail(s"expected $kw but got '${peek.text}'")

    def parseLql(): Lql = next() match {
      case TKeyword("SELECT")   => parseSelect()
      case TKeyword("DESCRIBE") => parseDescribe()
      case TKeyword("TRUNCATE") => parseTruncate()
      case TKeyword("SHOW")     => parseShow()
      case TKeyword("CREATE")   => parseCreate()
      case TKeyword("DELETE")   => parseDelete()
      case t => fail(s"expected SELECT|DESCRIBE|TRUNCATE|SHOW|CREATE|DELETE, got '${t.text}'")
    }

    // --- SELECT ---------------------------------------------------------

    def parseSelect(): Select = {
      val format = peek match {
        case TString(v, _) => pos += 1; Some(v)
        case _             => None
      }
      val source = if (eatKw("FROM")) Some(parseSourceReq()) else None
      val range = if (eatKw("RANGE")) Some(parseRange()) else None
      val where = if (eatKw("WHERE")) Some(parseExpression()) else None
      val position = if (eatKw("POSITION")) Some(parsePosition()) else None
      val offset = if (eatKw("OFFSET")) Some(parseInt64()) else None
      val limit = if (eatKw("LIMIT")) Some(parseInt64()) else None
      Select(format, source, range, where, position, offset, limit)
    }

    def parsePosition(): String = next() match {
      case TIdent(s)     => s
      case TString(v, _) => v
      case t             => fail(s"expected position (head|tail|<posId>), got '${t.text}'")
    }

    def parseInt64(): Long = next() match {
      case TNumber(raw) =>
        raw.toLongOption.getOrElse(fail(s"expected an integer, got '$raw'"))
      case t => fail(s"expected a number, got '${t.text}'")
    }

    /** An integer the AST holds as an Int: rejected, not wrapped, when its
      * magnitude exceeds `Int.MaxValue`. */
    def parseInt32(): Int = {
      val v = parseInt64()
      if (v > Int.MaxValue || v < -Int.MaxValue)
        fail(s"integer $v is out of range (at most ${Int.MaxValue} in magnitude)")
      v.toInt
    }

    def parseRange(): TimeRange = {
      val bracket = peek match {
        case TOp("[") => pos += 1; true
        case _        => false
      }
      val t1 = peek match {
        case TString(v, _) => pos += 1; Some(parseDt(v))
        case _             => None
      }
      val t2 = peek match {
        case TOp(":") =>
          pos += 1
          val v = next() match {
            case TString(s, _) => s
            case t             => fail(s"expected a datetime string after ':', got '${t.text}'")
          }
          next() match {
            case TOp("]") => ()
            case t        => fail(s"expected ']' closing RANGE, got '${t.text}'")
          }
          Some(parseDt(v))
        case _ =>
          if (bracket) fail("expected ':' inside RANGE [ ... ]")
          None
      }
      if (t1.isEmpty && t2.isEmpty) fail("empty RANGE")
      TimeRange(t1, t2)
    }

    private def parseDt(s: String): Long =
      dt.parse(s).fold(fail, identity)

    // --- Sources ----------------------------------------------------------

    def parseSourceReq(): Source = peek match {
      case TTags(raw) =>
        pos += 1
        Model.parseTags(raw).fold(fail, m => TagsSource(m))
      case _ => ExprSource(parseExpression())
    }

    /** Optional source: backtracks when no expression parses here (e.g.
      * `SHOW PARTITIONS OFFSET 10` — OFFSET is not a source). */
    def parseSourceOpt(): Option[Source] = peek match {
      case TTags(_) => Some(parseSourceReq())
      case TEof     => None
      case _ =>
        val m = mark
        try Some(ExprSource(parseExpression()))
        catch { case LqlException(_) => reset(m); None }
    }

    // --- Expressions ------------------------------------------------------

    def parseExpression(): Expression = {
      val or = scala.collection.mutable.ListBuffer(parseOrCondition())
      while (eatKw("OR")) or += parseOrCondition()
      Expression(or.toList)
    }

    def parseOrCondition(): OrCondition = {
      val and = scala.collection.mutable.ListBuffer(parseXCondition())
      while (eatKw("AND")) and += parseXCondition()
      OrCondition(and.toList)
    }

    def parseXCondition(): XCondition = {
      val not = eatKw("NOT")
      peek match {
        case TOp("(") =>
          pos += 1
          val e = parseExpression()
          next() match {
            case TOp(")") => XCondition(not, None, Some(e))
            case t        => fail(s"expected ')', got '${t.text}'")
          }
        case _ => XCondition(not, Some(parseCondition()), None)
      }
    }

    def parseCondition(): Condition = {
      val ident = parseIdentifier()
      val op = next() match {
        case TOp(o) if Set("<", ">", ">=", "<=", "!=", "=").contains(o) => o
        case TKeyword(k) if Set("CONTAINS", "PREFIX", "SUFFIX", "LIKE").contains(k) => k
        case t => fail(s"expected an operation, got '${t.text}'")
      }
      val value = next() match {
        case TString(v, _) => v
        case TIdent(v)     => v
        case TNumber(v)    => v
        case t             => fail(s"expected a value, got '${t.text}'")
      }
      Condition(ident, op, value)
    }

    def parseIdentifier(): Identifier = {
      val operand = next() match {
        case TIdent(s)   => s
        case TKeyword(k) => k // keywords are valid operands: `from='x'`
        case t           => fail(s"expected an identifier, got '${t.text}'")
      }
      peek match {
        case TOp("(") =>
          pos += 1
          val params = scala.collection.mutable.ListBuffer(parseIdentifier())
          while (peek == TOp(",")) { pos += 1; params += parseIdentifier() }
          next() match {
            case TOp(")") => Identifier(operand, params.toList)
            case t        => fail(s"expected ')', got '${t.text}'")
          }
        case _ => Identifier(operand, Nil)
      }
    }

    // --- DESCRIBE / SHOW / TRUNCATE / CREATE / DELETE -----------------------

    def parseDescribe(): Lql =
      if (eatKw("PARTITION")) next() match {
        case TTags(raw) => Model.parseTags(raw).fold(fail, DescribePartition.apply)
        case t          => fail(s"expected {tags}, got '${t.text}'")
      } else if (eatKw("PIPE")) next() match {
        case TIdent(n) => DescribePipe(n)
        case t         => fail(s"expected pipe name, got '${t.text}'")
      } else fail("expected PARTITION or PIPE after DESCRIBE")

    def parseShow(): Lql =
      if (eatKw("PARTITIONS")) {
        val src = parseSourceOpt()
        val off = if (eatKw("OFFSET")) Some(parseInt32()) else None
        val lim = if (eatKw("LIMIT")) Some(parseInt32()) else None
        ShowPartitions(src, off, lim)
      } else if (eatKw("PIPES")) {
        val off = if (eatKw("OFFSET")) Some(parseInt64()) else None
        val lim = if (eatKw("LIMIT")) Some(parseInt64()) else None
        ShowPipes(off, lim)
      } else fail("expected PARTITIONS or PIPES after SHOW")

    def parseTruncate(): Lql = {
      val dryRun = eatKw("DRYRUN")
      val src =
        if (atKw("MINSIZE") || atKw("MAXSIZE") || atKw("BEFORE") || atKw("MAXDBSIZE") || peek == TEof) None
        else parseSourceOpt()
      val minSize = if (eatKw("MINSIZE")) Some(parseSizeTok()) else None
      val maxSize = if (eatKw("MAXSIZE")) Some(parseSizeTok()) else None
      val before = if (eatKw("BEFORE")) Some(next() match {
        case TString(v, _) => parseDt(v)
        case t             => fail(s"expected a datetime string after BEFORE, got '${t.text}'")
      }) else None
      val maxDb = if (eatKw("MAXDBSIZE")) Some(parseSizeTok()) else None
      Truncate(dryRun, src, minSize, maxSize, before, maxDb)
    }

    private def parseSizeTok(): Long = next() match {
      case TNumber(raw) => Lexer.parseSize(raw).fold(fail, identity)
      case t            => fail(s"expected a size, got '${t.text}'")
    }

    def parseCreate(): Lql = {
      requireKw("PIPE")
      val name = next() match {
        case TIdent(n) => n
        case t         => fail(s"expected pipe name, got '${t.text}'")
      }
      val from = if (eatKw("FROM")) Some(parseSourceReq()) else None
      val where = if (eatKw("WHERE")) Some(parseExpression()) else None
      CreatePipe(name, from, where)
    }

    def parseDelete(): Lql = {
      requireKw("PIPE")
      next() match {
        case TIdent(n) => DeletePipe(n)
        case t         => fail(s"expected pipe name, got '${t.text}'")
      }
    }
  }
}

object Parser {
  /** Default parser with the system UTC clock. */
  val system: Parser = new Parser(() => Instant.now())
}
