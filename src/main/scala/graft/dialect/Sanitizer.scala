package graft.dialect

import Lexer._

/** Protocol-level SQL sanitation.
  *
  * Mirrors the reference's regex pre-pass (`/root/reference/main.py:252-259`
  * FORMAT suffix strip; multi-statement tickets
  * `/root/reference/examples/flight_read.py:7`) but token-aware, so a
  * `FORMAT` inside a string literal or comment is left alone.
  */
object Sanitizer {

  val knownFormats: Set[String] = Set("JSONCOMPACT", "JSONCOMPACTCOLUMNS",
    "JSONEACHROW", "JSON", "CSV", "TSV", "CSVWITHNAMES", "TSVWITHNAMES",
    "PRETTY", "NATIVE", "ARROW", "PARQUET", "VALUES")

  /** Strip a trailing ClickHouse `FORMAT <fmt>` suffix. Returns (sql, fmt). */
  def stripFormat(sql: String): (String, Option[String]) = {
    val toks = lex(sql)
    val nonWs = toks.zipWithIndex.filterNot { case (t, _) => t.isInstanceOf[Ws] }
    // allow a trailing semicolon after the format
    val trimmed = if (nonWs.nonEmpty && nonWs.last._1 == Punct(";")) nonWs.dropRight(1) else nonWs
    if (trimmed.length >= 2) {
      val (fmtTok, fmtIdx) = trimmed.last
      val (kwTok, _) = trimmed(trimmed.length - 2)
      (kwTok, fmtTok) match {
        case (kw: Ident, f: Ident)
          if kw.upper == "FORMAT" && knownFormats.contains(f.upper) =>
          val kwPos = trimmed(trimmed.length - 2)._2
          val rest = toks.take(kwPos) ++ toks.drop(fmtIdx + 1)
          (render(rest).trim, Some(f.text))
        case _ => (sql, None)
      }
    } else (sql, None)
  }

  /** Split on top-level semicolons (outside strings/comments/parens). */
  def splitStatements(sql: String): Seq[String] =
    splitTopLevel(lex(sql), sep = Punct(";")).map(render(_).trim).filter(_.nonEmpty)

  /** Strip a leading catalog prefix (e.g. `deltalake.`) from 3-part table
    * names in SELECTs, as the reference does token-wise for its Airport
    * clients (`/root/reference/main.py:769-777`). */
  def stripCatalogPrefix(sql: String, catalog: String): String = {
    val toks = lex(sql)
    val out = Vector.newBuilder[Lexer.Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.text.equalsIgnoreCase(catalog) &&
          i + 1 < toks.length && toks(i + 1) == Punct(".") &&
          (i == 0 || (toks(i - 1) match {
            case _: Ident | Punct(".") => false
            case _ => true
          })) =>
          i += 2 // drop "catalog" "."
        case t => out += t; i += 1
      }
    }
    render(out.result())
  }
}
