package graft.dialect

/** The one owner of SQL text structure: where a string literal, a quoted
  * name, a comment or a parenthesized group begins and ends.
  *
  * The reference rewrites client SQL with bare regexes
  * (`/root/reference/main.py:252-259` FORMAT strip,
  * `/root/reference/main.py:769-777` catalog-prefix strip), which breaks on
  * string literals containing keywords. Every rewrite and router here reads
  * this lexer's tokens instead: [[Translator]], [[Macros]], [[Sanitizer]]
  * and the engine's statement routes and splices. A literal or a quoted name
  * is one token, and a comment is whitespace. The nesting helpers below
  * (`matchParen`, `splitTopLevel`, `topLevelKeyword`, …) are the only
  * paren- and comma-structure scanners; no module keeps its own.
  */
object Lexer {
  sealed trait Tok { def text: String }
  /** Bare or double-quoted identifier / keyword. `upper` is "" for quoted. */
  final case class Ident(text: String) extends Tok {
    val upper: String = if (text.startsWith("\"")) "" else text.toUpperCase
  }
  /** Single-quoted string literal, quotes included, '' escapes preserved. */
  final case class Str(text: String) extends Tok {
    def value: String = text.substring(1, text.length - 1).replace("''", "'")
    /** The closing quote is there: the quotes after the opening one end
      * in an odd run (an even run is `''` escapes the text ran out in). */
    def closed: Boolean = {
      val body = text.drop(1)
      (body.length - 1 - body.lastIndexWhere(_ != '\'')) % 2 == 1
    }
  }
  final case class Num(text: String) extends Tok
  /** Operator / punctuation (possibly multi-char: <=, >=, <>, !=, ==, ||, ::). */
  final case class Punct(text: String) extends Tok
  /** Whitespace or comment run. */
  final case class Ws(text: String) extends Tok

  // longest-first within a shared prefix: "!~~*" before "!~~" before "!~"
  // before "!=", "~~*" before "~~" (r10 batch 10: the ~~-family LIKE and
  // ~ regex operator spellings)
  private val multiChar = Seq("!~~*", "!~~", "~~*", "~~", "!~",
    "<=", ">=", "<>", "!=", "==", "||", "::", "->>", "->", "**", "//", ":=")

  def lex(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    def isIdentStart(c: Char) = c.isLetter || c == '_'
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    while (i < n) {
      val c = sql(i)
      if (c.isWhitespace) {
        val s = i; while (i < n && sql(i).isWhitespace) i += 1
        out += Ws(sql.substring(s, i))
      } else if ((c == '-' || c == '/') && commentEnd(sql, i) > i) {
        val s = i; i = commentEnd(sql, i)
        out += Ws(sql.substring(s, i))
      } else if (c == '\'') {
        val s = i; i += 1
        var done = false
        while (i < n && !done) {
          if (sql(i) == '\'') {
            if (i + 1 < n && sql(i + 1) == '\'') i += 2 else { done = true; i += 1 }
          } else i += 1
        }
        out += Str(sql.substring(s, i))
      } else if (c == '"' || c == '`') {
        val quote = c
        val s = i; i += 1
        while (i < n && sql(i) != quote) i += 1
        i = math.min(n, i + 1)
        out += Ident(sql.substring(s, i))
      } else if (c.isDigit || (c == '.' && i + 1 < n && sql(i + 1).isDigit)) {
        val s = i
        while (i < n && (sql(i).isDigit || sql(i) == '.' || sql(i) == 'e' || sql(i) == 'E' ||
          ((sql(i) == '+' || sql(i) == '-') && i > s && (sql(i - 1) == 'e' || sql(i - 1) == 'E')))) i += 1
        out += Num(sql.substring(s, i))
      } else if (isIdentStart(c)) {
        val s = i; while (i < n && isIdentChar(sql(i))) i += 1
        out += Ident(sql.substring(s, i))
      } else {
        multiChar.find(op => sql.startsWith(op, i)) match {
          case Some(op) => out += Punct(op); i += op.length
          case None     => out += Punct(c.toString); i += 1
        }
      }
    }
    out.result()
  }

  /** End of the `--` or `/* */` comment that starts at `i`; `i` when none
    * does. An unterminated block comment runs to the end of the text. */
  private def commentEnd(sql: String, i: Int): Int =
    if (sql.startsWith("--", i)) {
      val nl = sql.indexOf('\n', i)
      if (nl < 0) sql.length else nl
    } else if (sql.startsWith("/*", i)) {
      val close = sql.indexOf("*/", i + 2)
      if (close < 0) sql.length else close + 2
    } else i

  /** Offset of the first character that is not whitespace or comment. */
  private def skipTrivia(sql: String): Int = {
    var i = 0; var at = -1
    while (at != i) {
      at = i
      while (i < sql.length && sql(i).isWhitespace) i += 1
      i = commentEnd(sql, i)
    }
    i
  }

  private val queryHeads = Set("SELECT", "WITH", "FROM", "VALUES")

  /** `sql` as a statement router reads it: from its first significant token,
    * with each comment but a Spark hint (`/*+ … */`) blanked to one space, so
    * `^\s*KEYWORD\s+…` routes match through comments. Literals and quoted
    * names are untouched. A statement with no comment, or one that opens
    * with a query keyword (which no route claims), is returned as written
    * and never lexed. */
  def routeText(sql: String): String =
    if (!sql.contains("--") && !sql.contains("/*")) sql
    else {
      val at = skipTrivia(sql)
      var e = at
      while (e < sql.length && sql(e).isLetter) e += 1
      if (queryHeads(sql.substring(at, e).toUpperCase)) sql
      else render(lex(sql.substring(at)).map {
        case Ws(t) if (t.startsWith("--") || t.startsWith("/*")) && !t.startsWith("/*+") => Ws(" ")
        case t => t
      })
    }

  def render(toks: Seq[Tok]): String = toks.map(_.text).mkString

  /** Indices of non-whitespace tokens. */
  def sig(toks: Vector[Tok]): Vector[Int] =
    toks.indices.filterNot(toks(_).isInstanceOf[Ws]).toVector

  // ---- nesting structure over a token vector ---------------------------

  /** First non-whitespace token after `i` (`toks.length` when none). */
  def nextNonWs(toks: Vector[Tok], i: Int): Int = {
    var j = i + 1; while (j < toks.length && toks(j).isInstanceOf[Ws]) j += 1; j
  }
  /** Last non-whitespace token before `i` (-1 when none). */
  def prevNonWs(toks: Vector[Tok], i: Int): Int = {
    var j = i - 1; while (j >= 0 && toks(j).isInstanceOf[Ws]) j -= 1; j
  }

  /** Nesting change of one token: parens only, or with `nested` also
    * `[ ]` and `{ }`. */
  def depthDelta(t: Tok, nested: Boolean = false): Int = t match {
    case Punct(p) if p.length == 1 => p.charAt(0) match {
      case '(' => 1
      case ')' => -1
      case '[' | '{' if nested => 1
      case ']' | '}' if nested => -1
      case _ => 0
    }
    case _ => 0
  }

  /** Index of the matching close paren for the open paren at `open`
    * (`toks.length - 1` when it is never closed). */
  def matchParen(toks: Vector[Tok], open: Int): Int = {
    var d = 0; var i = open
    while (i < toks.length) {
      d += depthDelta(toks(i))
      if (d == 0 && i > open) return i
      i += 1
    }
    toks.length - 1
  }

  /** Index of the matching `]` for the `[` at `open` (paren-blind: only
    * bracket nesting counts; `toks.length - 1` when it is never closed). */
  def matchBracket(toks: Vector[Tok], open: Int): Int = {
    var d = 0; var i = open
    while (i < toks.length) {
      toks(i) match {
        case Punct("[") => d += 1
        case Punct("]") => d -= 1; if (d == 0) return i
        case _ =>
      }
      i += 1
    }
    toks.length - 1
  }

  /** Index of the matching open paren for the close paren at `close`
    * (0 when it is never opened). */
  def openOf(toks: Vector[Tok], close: Int): Int = {
    var d = 0; var i = close
    while (i >= 0) {
      toks(i) match {
        case Punct(")") => d += 1
        case Punct("(") => d -= 1; if (d == 0) return i
        case _ =>
      }
      i -= 1
    }
    0
  }

  private val Comma = Punct(",")

  /** Split a token run on `sep` tokens outside any nesting (parens, or with
    * `nested` also brackets and braces). */
  def splitTopLevel(toks: Vector[Tok], sep: Tok = Comma,
      nested: Boolean = false): Vector[Vector[Tok]] = {
    val out = Vector.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var d = 0
    for (t <- toks) {
      d += depthDelta(t, nested)
      if (d == 0 && t == sep) { out += cur.result(); cur = Vector.newBuilder[Tok] }
      else cur += t
    }
    out += cur.result()
    out.result()
  }

  /** Index of the first bare keyword `word` (upper case) at or after
    * `from` outside parens; -1 when there is none. */
  def topLevelKeyword(toks: Vector[Tok], word: String, from: Int = 0): Int = {
    var d = 0; var i = from
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if d == 0 && id.upper == word => return i
        case t => d += depthDelta(t)
      }
      i += 1
    }
    -1
  }
}
