package graft.dialect

import Lexer._
import scala.collection.mutable.ArrayBuffer

/** DuckDB/ClickHouse SQL → Spark SQL translator.
  *
  * The reference accepts DuckDB SQL (plus ClickHouse-isms) and passes it to
  * its embedded engine verbatim (`/root/reference/main.py:231,781`); the only
  * rewrites it performs are regex-level (`main.py:252-259,769-777`). Our
  * engine is Spark SQL, whose dialect differs in small but breaking ways
  * (SURVEY.md §7.3), so this module translates at the token level:
  *
  *  - `FORMAT X` suffix strip (ClickHouse wire)       → [[Sanitizer]]
  *  - zero-arg `count()` → `count(*)`; trailing `,` before FROM dropped
  *  - `read_parquet('p')` → `parquet.`p`` scan; `read_csv_auto` → temp view
  *  - bare `'file.parquet'` table refs → `parquet.`p``
  *  - `[a, b]` list literal → `array(a, b)`; `{'k': v}` → `named_struct`;
  *    `MAP {'k': v}` → `map`
  *  - function-name mapping (`random`→`rand`, 1-arg `log`→`log10`,
  *    `json_extract_string`→`get_json_object`, ClickHouse `toX()`→ casts, …)
  *  - type-name mapping (`VARCHAR`→`STRING`, `DATETIME`→`TIMESTAMP`)
  *  - DuckDB default null order (NULLS LAST) injected into ORDER BY items
  *  - `QUALIFY`, `DISTINCT ON`, `ASOF JOIN`, `SEMI/ANTI JOIN`, `unnest`
  *    rewritten to Spark-native forms
  */
object Translator {

  /** Temp view the engine must register before running the translated SQL. */
  final case class ViewReg(name: String, format: String, path: String)
  final case class Translation(sql: String, views: Seq[ViewReg], format: Option[String])

  private val clauseStarters = Set("WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY",
    "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "FORMAT")

  def translate(sql: String): Translation = translate(sql, _ => None)

  /** `schemaOf` resolves a table name to its column list — used only by the
    * `COLUMNS('regex')` star-expansion, which needs schema knowledge at
    * translate time. The engine passes a catalog lookup; the default no-op
    * leaves `COLUMNS` untouched (an analysis error, as in DuckDB when the
    * pattern matches nothing). */
  def translate(sql: String, schemaOf: String => Option[Seq[String]]): Translation =
    translate(sql, schemaOf, ColTypes())

  /** Catalog column-type resolution for the schema-aware rewrites. All
    * resolvers are name-based over the VISIBLE catalog (the isMapCol
    * precedent); the engine supplies them from a per-DDL-version cache.
    *
    *   - `isMapCol` (r7): MAP-typed — drives the 1-element-list map
    *     subscript instead of the array zero-index guards.
    *   - `isCollectionCol` (r8): ARRAY/MAP — empty()/len size-vs-length
    *     dispatch.
    *   - `isDateCol` (r11/r12): takes the FULL lower-cased dotted ident
    *     chain (`c`, `t.c`, `db.t.c`) plus a strictness flag. When the
    *     chain is qualified by a name the engine knows as a table, the
    *     lookup is exact per-table; otherwise strict=true requires the
    *     name to be DATE-typed in EVERY table that defines it (the
    *     `date_col − date_col` → datediff rewrite is silently wrong on a
    *     TIMESTAMP column sharing a DATE column's name — advice r11),
    *     while strict=false accepts any-table (the ± INTERVAL rewrite's
    *     collision cost is a no-op CAST to TIMESTAMP).
    *   - `isStringCol` (r12, VERDICT r11 #3): VARCHAR-typed in every
    *     defining table — routes `s[2]` / `s[2:4]` / array_slice(s,…) on
    *     string COLUMNS through the string-literal character semantics.
    *   - `isDecimalCol` (r12, VERDICT r11 #2): DECIMAL-typed in ANY
    *     defining table — SUPPRESSES the `/`→try_divide, `%`→try_mod
    *     rewrite (conservative: a suppressed rewrite stays the loud ANSI
    *     error; a wrongly-applied one would change DECIMAL result types).
    */
  final case class ColTypes(
      isMapCol: String => Boolean = _ => false,
      isCollectionCol: String => Boolean = _ => false,
      isDateCol: (String, Boolean) => Boolean = (_, _) => false,
      isStringCol: String => Boolean = _ => false,
      isDecimalCol: String => Boolean = _ => false)

  def translate(sql: String, schemaOf: String => Option[Seq[String]],
      types: ColTypes): Translation = {
    val (noFmt, fmt) = Sanitizer.stripFormat(sql)
    var toks = lex(noFmt)
    val views = ArrayBuffer[ViewReg]()
    toks = rewriteAttach(toks)
    toks = rewriteMisc(toks)
    toks = rewriteFromFirst(toks)
    toks = rewritePositionalJoin(toks)
    toks = rewriteColumnsExpand(toks, schemaOf)
    toks = rewriteStarReplace(toks)
    toks = rewriteSemiAnti(toks)
    toks = rewriteUnionByName(toks)
    toks = rewriteStatementLevel(toks)
    toks = rewriteCountStar(toks)
    toks = rewriteTrailingComma(toks)
    toks = rewriteTableFunctions(toks, views)
    toks = rewriteBareFileTables(toks)
    toks = rewriteListComprehensions(toks)
    toks = rewriteArrayLiterals(toks)
    toks = rewriteStructMapLiterals(toks)
    toks = rewriteArrayTypeSuffix(toks)
    toks = rewriteSubscripts(toks, types.isMapCol, types.isStringCol)
    toks = rewriteOpsSugar(toks, types.isDateCol)
    toks = rewriteDateTruncShape(toks)
    toks = rewriteIntCastRounding(toks)
    toks = rewriteCastFuncs(toks)
    toks = rewriteDecCast(toks, types.isDecimalCol)
    toks = rewriteDecCompare(toks)
    toks = rewriteStringAgg(toks)
    toks = rewriteAnyAll(toks)
    toks = rewriteWindowFilter(toks)
    toks = rewriteWindowExclude(toks)
    toks = rewriteOrderedArrayAgg(toks)
    toks = rewriteStrftime(toks)
    toks = rewriteDateFns(toks)
    toks = rewriteRegexpReplaceFlag(toks)
    toks = rewritePosixClasses(toks)
    toks = rewriteJsonArrows(toks)
    toks = rewriteSplitLiteralSep(toks)
    toks = rewriteArgShapeFns(toks, types.isCollectionCol, types.isDateCol,
      types.isDecimalCol)
    toks = rewriteFunctionNames(toks)
    toks = rewriteListAggs(toks)
    toks = rewriteInfoSchema(toks)
    toks = rewriteTypeNames(toks)
    toks = rewriteDivMod(toks, types.isDecimalCol)
    toks = injectNullOrder(toks)
    toks = encodeStrLiterals(toks)
    Translation(render(toks).trim, views.toSeq, fmt)
  }

  /** Final literal re-encoding for `spark.sql.parser.escapedStringLiterals
    * = true` (r10 fuzz batch 7). Verbatim literals give DuckDB parity for
    * backslashes (the default parser ate one level, silently corrupting
    * every `\d`-class regex), but the verbatim scanner keeps `''` as TWO
    * characters and chokes on a backslash directly before the closing
    * quote. Intermediate passes keep carrying DuckDB-style `''`-quoted
    * Str tokens; this last pass re-encodes each value:
    *   - no quote, no trailing backslash → plain '…' (verbatim);
    *   - has ' but no " → a double-quoted literal (Spark non-ANSI treats
    *     "…" as a string; our lexer reads it as a quoted Ident, which
    *     passes re-translation through untouched — the fixpoint holds);
    *   - both quote kinds / trailing backslash → a ('piece' || chr(39) ||
    *     …) concat chain, with trailing backslashes hopped out as chr(92)
    *     terms. */
  private def encodeStrLiterals(toks: Vector[Tok]): Vector[Tok] =
    toks.flatMap {
      case s: Str =>
        val v = s.value
        if (!v.contains('\'') && !v.endsWith("\\"))
          Vector(Str("'" + v + "'"))
        else if (!v.contains('"') && !v.endsWith("\\"))
          Vector(Ident("\"" + v + "\""))
        else {
          val terms = scala.collection.mutable.ArrayBuffer[String]()
          val buf = new StringBuilder
          def flush(): Unit = {
            var t = buf.toString
            buf.clear()
            var k = 0
            while (t.nonEmpty && t.last == '\\') { t = t.dropRight(1); k += 1 }
            if (t.nonEmpty) terms += ("'" + t + "'")
            (0 until k).foreach(_ => terms += "chr(92)")
          }
          v.foreach {
            case '\'' => flush(); terms += "chr(39)"
            case c => buf.append(c); ()
          }
          flush()
          if (terms.isEmpty) Vector(Str("''"))
          else lex("(" + terms.mkString(" || ") + ")")
        }
      case t => Vector(t)
    }

  /** Convenience: translated SQL text only. */
  def sparkSql(sql: String): String = translate(sql).sql

  // ---- helpers ---------------------------------------------------------

  private def isWs(t: Tok) = t.isInstanceOf[Ws]
  private def up(t: Tok): String = t match { case i: Ident => i.upper; case _ => "" }
  private def nextNonWs(toks: Vector[Tok], i: Int): Int = {
    var j = i + 1; while (j < toks.length && isWs(toks(j))) j += 1; j
  }
  private def prevNonWs(toks: Vector[Tok], i: Int): Int = {
    var j = i - 1; while (j >= 0 && isWs(toks(j))) j -= 1; j
  }
  private def depthDelta(t: Tok): Int = t match {
    case Punct("(") => 1; case Punct(")") => -1; case _ => 0
  }
  /** Index of the matching close paren for the open paren at `open`. */
  private def matchParen(toks: Vector[Tok], open: Int): Int = {
    var d = 0; var i = open
    while (i < toks.length) {
      d += depthDelta(toks(i))
      if (d == 0 && i > open) return i
      i += 1
    }
    toks.length - 1
  }

  /** Runs a rewrite pass to its fixpoint. `step(toks, i)` returns the new
    * tokens when a rule fires at token `i`. After a rewrite the scan resumes
    * at the outermost call enclosing the first changed token, or at that
    * token when it is at top level, and never after `i`, whose rules may
    * match again. Restarting at token 0 would make translate time
    * quadratic in statement size. The scan backs up to the enclosing call
    * because an outer rule's guard reads its arguments, which an inner
    * rewrite changes. */
  private def fixpoint(toks0: Vector[Tok])(
      step: (Vector[Tok], Int) => Option[Vector[Tok]]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      step(toks, i) match {
        case Some(next) => i = math.min(i, resumeAt(toks, next)); toks = next
        case None => i += 1
      }
    }
    toks
  }

  /** Name token of the outermost call in `after` that encloses the first
    * token where `before` and `after` differ; that token itself when no
    * call encloses it. */
  private def resumeAt(before: Vector[Tok], after: Vector[Tok]): Int = {
    val n = math.min(before.length, after.length)
    var k = 0
    while (k < n && before(k) == after(k)) k += 1
    var start = k; var d = 0; var j = k - 1
    while (j >= 0) {
      after(j) match {
        case Punct(")") => d += 1
        case Punct("(") if d > 0 => d -= 1
        case Punct("(") =>
          val p = prevNonWs(after, j)
          if (p >= 0 && after(p).isInstanceOf[Ident]) start = p
        case _ =>
      }
      j -= 1
    }
    start
  }

  // ---- simple token rewrites ------------------------------------------

  /** `count()` → `count(*)` (`/root/reference/README.md:5` ClickHouse-ism). */
  private[dialect] def rewriteCountStar(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.flatMap { case (t, i) =>
      t match {
        case Punct("(") =>
          val p = prevNonWs(toks, i); val n = nextNonWs(toks, i)
          if (p >= 0 && up(toks(p)) == "COUNT" && n < toks.length && toks(n) == Punct(")"))
            Seq(t, Punct("*"))
          else Seq(t)
        case _ => Seq(t)
      }
    }

  /** Drop `,` directly before FROM (`SELECT a, count() AS c, FROM t`). */
  private[dialect] def rewriteTrailingComma(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.flatMap { case (t, i) =>
      t match {
        case Punct(",") if { val n = nextNonWs(toks, i); n < toks.length && up(toks(n)) == "FROM" } => Nil
        case _ => Seq(t)
      }
    }

  // r17 note (VERDICT r16 #6, correlated-scalar merge): a conservative
  // token pass merging same-(FROM,WHERE) correlated scalar AGGREGATE
  // subqueries into one appended `LATERAL (SELECT agg1 AS __c0, agg2 AS
  // __c1 ...)` was built, unit-tested (merge/bail/fixpoint all correct,
  // q215 results oracle-identical) and then REVERTED on measurement:
  // Spark 4.1 decorrelates a correlated lateral AGGREGATE through a
  // domain-join (distinct outer keys joined back), which costs MORE than
  // the two scalar-subquery left-joins it replaced — q215 at sf0.1 read
  // 0.787 s (two scalar subqueries) vs 1.442 s (merged lateral),
  // TimeQuery min-of-5, adjacent JVMs. The shape win the r16 verdict
  // hypothesized is not available through the lateral surface; details
  // in OPTIMIZATION_r17.md.

  /** Alias-follows check: the token after a rewritten table ref that would
    * make an implicit alias (bare non-keyword identifier). */
  private def hasAliasAfter(toks: Vector[Tok], i: Int): Boolean = {
    val n = nextNonWs(toks, i)
    n < toks.length && (toks(n) match {
      case id: Ident => id.upper == "AS" ||
        !(clauseStarters ++ Set("ON", "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
          "CROSS", "USING", "NATURAL", "")).contains(id.upper)
      case _ => false
    })
  }

  /** `read_parquet('p')` → `parquet.`p``; `read_csv_auto('p')` → temp view.
    * Aliased by function name when no explicit alias follows, so
    * `read_parquet.town` qualifications keep working
    * (`/root/reference/public/index.html:466`). */
  private[dialect] def rewriteTableFunctions(toks0: Vector[Tok], views: ArrayBuffer[ViewReg]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if id.upper == "READ_PARQUET" || id.upper == "READ_CSV_AUTO" ||
            id.upper == "READ_CSV" || id.upper == "READ_JSON_AUTO" || id.upper == "READ_JSON" ||
            id.upper == "READ_NDJSON_AUTO" || id.upper == "READ_NDJSON" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            // first string arg = path (ignore extra named args)
            toks.slice(open, close).collectFirst { case s: Str => s }.map { path =>
              val fnName = id.text.toLowerCase
              val alias = if (hasAliasAfter(toks, close)) "" else s" AS $fnName"
              val repl: String =
                if (id.upper == "READ_PARQUET") s"parquet.`${path.value}`$alias"
                else {
                  // name derived from the path, not a per-translation
                  // counter: two concurrent queries over different files
                  // must never share a temp-view name (the registration
                  // happens in the shared session)
                  val fmt = if (id.upper.startsWith("READ_CSV")) "csv" else "json"
                  val vn = s"graft_${fmt}_view_${
                    java.security.MessageDigest.getInstance("MD5")
                      .digest(path.value.getBytes("UTF-8"))
                      .take(8).map("%02x".format(_)).mkString}"
                  views += ViewReg(vn, fmt, path.value)
                  s"$vn$alias"
                }
              toks.patch(i, Seq(Ident(repl)), close - i + 1)
            }
          } else None
        case _ => None
      }
    }

  /** `FROM '/x/y.parquet'` / `FROM "https://…/f.parquet"` → `parquet.`…``
    * (`/root/reference/public/index.html:467-469`). */
  private[dialect] def rewriteBareFileTables(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (t, i) =>
      def isTablePos = { val p = prevNonWs(toks, i); p >= 0 && Set("FROM", "JOIN").contains(up(toks(p))) }
      t match {
        case s: Str if isTablePos && looksLikeFile(s.value) => Ident(fileRef(s.value))
        case id: Ident if id.text.startsWith("\"") && isTablePos && {
          val v = id.text.substring(1, id.text.length - 1); looksLikeFile(v)
        } => Ident(fileRef(id.text.substring(1, id.text.length - 1)))
        case other => other
      }
    }

  private def looksLikeFile(v: String): Boolean =
    v.endsWith(".parquet") || v.endsWith(".csv") || v.endsWith(".json") ||
      v.endsWith(".tsv") || v.endsWith(".orc")
  private def fileRef(v: String): String = {
    val fmt = v.substring(v.lastIndexOf('.') + 1) match {
      case "parquet" => "parquet"; case "csv" | "tsv" => "csv"
      case "json" => "json"; case "orc" => "orc"; case _ => "parquet"
    }
    s"$fmt.`$v`"
  }

  /** `[a, b, c]` literal → `array(a, b, c)`. A `[` is a literal (not a
    * subscript) when the previous non-ws token cannot end an expression. */
  /** Is the `[` at `i` a subscript bracket (vs a list-literal /
    * comprehension position)? Shared by the array-literal and the
    * list-comprehension rewrites so the two classify identically. */
  private def isSubscriptOpen(toks: Vector[Tok], i: Int): Boolean = {
    val p = prevNonWs(toks, i)
    p >= 0 && (toks(p) match {
      case _: Ident => up(toks(p)) == "" || !keywordLike(up(toks(p)))
      // `}` ends a struct/MAP literal (rewritten to a call later in the
      // pipeline) — `MAP {'a': [1]}['a']` is a subscript, not an array
      // literal (r9 batch-4 fuzz)
      case Punct(")") | Punct("]") | Punct("}") => true
      case _: Str | _: Num => true
      case _ => false
    })
  }

  /** Index of the matching `]` for the `[` at `open` (paren-blind: only
    * bracket nesting counts, mirroring how the lexer emits them). */
  private def matchBracket(toks: Vector[Tok], open: Int): Int = {
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

  /** DuckDB list comprehensions (probe-verified against the 1.0 oracle):
    * `[expr FOR v IN list]` → `transform(list, v -> expr)` and
    * `[expr FOR v IN list IF cond]` →
    * `transform(filter(list, v -> cond), v -> expr)` — both Spark
    * higher-order builtins, so the result stays inside codegen'd
    * expression evaluation. Runs before the array-literal/subscript
    * rewrites (a comprehension's `[` sits in list-literal position);
    * nested comprehensions converge through the fixpoint driver. An `IF`
    * immediately followed by `(` is treated as the conditional function,
    * not a comprehension filter — parenthesize differently if both are
    * wanted (same ambiguity exists in DuckDB's grammar). */
  private[dialect] def rewriteListComprehensions(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case Punct("[") if !isSubscriptOpen(toks, i) =>
          val close = matchBracket(toks, i)
          val inner = toks.slice(i + 1, close)
          var d = 0; var forIdx = -1; var inIdx = -1; var ifIdx = -1
          for ((t, j) <- inner.zipWithIndex) {
            t match {
              case Punct("(") | Punct("[") => d += 1
              case Punct(")") | Punct("]") => d -= 1
              case id: Ident if d == 0 && id.upper == "FOR" && forIdx < 0 =>
                forIdx = j
              case id: Ident if d == 0 && id.upper == "IN" &&
                  forIdx >= 0 && inIdx < 0 =>
                inIdx = j
              case id: Ident if d == 0 && id.upper == "IF" && inIdx >= 0 &&
                  ifIdx < 0 && {
                    var n = j + 1
                    while (n < inner.length && isWs(inner(n))) n += 1
                    !(n < inner.length && inner(n) == Punct("("))
                  } =>
                ifIdx = j
              case _ =>
            }
          }
          if (forIdx > 0 && inIdx > forIdx) {
            val expr = render(inner.slice(0, forIdx)).trim
            val v = render(inner.slice(forIdx + 1, inIdx)).trim
            val listEnd = if (ifIdx > inIdx) ifIdx else inner.length
            val list = render(inner.slice(inIdx + 1, listEnd)).trim
            val repl =
              if (ifIdx > inIdx) {
                val cond = render(inner.slice(ifIdx + 1, inner.length)).trim
                s"transform(filter($list, $v -> $cond), $v -> $expr)"
              } else s"transform($list, $v -> $expr)"
            Some(toks.patch(i, lex(repl), close - i + 1))
          } else None
        case _ => None
      }
    }

  /** `:: TYPE[]` / `CAST(x AS TYPE[n])` — DuckDB's list and fixed-size
    * ARRAY type suffixes → `ARRAY<TYPE>` (r10 batch 10; Spark has no
    * fixed-size arrays, so the size is dropped — values carry over).
    * MUST run before rewriteSubscripts (which would eat `FLOAT[2]` as a
    * subscript) and before the int-cast rounding pass (which would wrap
    * `::INTEGER[]`'s element type as a scalar int cast). */
  private[dialect] def rewriteArrayTypeSuffix(toks0: Vector[Tok]): Vector[Tok] = {
    val castTypeHeads = Set("TINYINT", "SMALLINT", "INTEGER", "INT", "INT2",
      "INT4", "INT8", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
      "UINTEGER", "UBIGINT", "FLOAT", "FLOAT4", "FLOAT8", "REAL", "DOUBLE",
      "DECIMAL", "NUMERIC", "VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR",
      "BOOLEAN", "BOOL", "DATE", "TIMESTAMP", "DATETIME", "BLOB", "BYTEA",
      "VARBINARY", "BINARY", "UUID", "JSON", "INTERVAL")
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if castTypeHeads.contains(id.upper) && {
            val p = prevNonWs(toks, i)
            p >= 0 && (toks(p) == Punct("::") || up(toks(p)) == "AS")
          } =>
          // type head [+ (precision args)] then one or more [n?] suffixes
          var end = i
          val n1 = nextNonWs(toks, i)
          if (n1 < toks.length && toks(n1) == Punct("("))
            end = matchParen(toks, n1)
          var suffixes = 0
          var cur = nextNonWs(toks, end)
          var lastClose = end
          while (cur < toks.length && toks(cur) == Punct("[") && {
              val a = nextNonWs(toks, cur)
              a < toks.length && (toks(a) == Punct("]") || (toks(a).isInstanceOf[Num] && {
                val b = nextNonWs(toks, a); b < toks.length && toks(b) == Punct("]")
              }))
            }) {
            suffixes += 1
            val a = nextNonWs(toks, cur)
            lastClose = if (toks(a) == Punct("]")) a else nextNonWs(toks, a)
            cur = nextNonWs(toks, lastClose)
          }
          if (suffixes > 0) {
            var ty = render(toks.slice(i, end + 1)).trim
            for (_ <- 1 to suffixes) ty = s"ARRAY<$ty>"
            Some(toks.patch(i, lex(ty), lastClose - i + 1))
          } else None
        case _ => None
      }
    }
  }

  private[dialect] def rewriteArrayLiterals(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer[Tok]()
    val stack = ArrayBuffer[Boolean]() // true = this bracket became array(
    for ((t, i) <- toks.zipWithIndex) t match {
      case Punct("[") =>
        if (isSubscriptOpen(toks, i)) { out += t; stack += false }
        else {
          // Postgres-style ARRAY[1,2] prefix (r10 batch 10): drop the
          // keyword — the bracket itself becomes array(
          var j = out.length - 1
          while (j >= 0 && out(j).isInstanceOf[Ws]) j -= 1
          if (j >= 0 && (out(j) match {
            case id: Ident => id.upper == "ARRAY"
            case _ => false
          })) out.remove(j, out.length - j)
          out += Ident("array"); out += Punct("("); stack += true
        }
      case Punct("]") =>
        if (stack.nonEmpty && stack.remove(stack.length - 1)) out += Punct(")") else out += t
      case other => out += other
    }
    out.toVector
  }
  private def keywordLike(u: String): Boolean =
    Set("SELECT", "WHERE", "AND", "OR", "NOT", "IN", "ON", "BY", "AS", "THEN",
      "ELSE", "WHEN", "CASE", "FROM", "HAVING", "RETURN", "ARRAY", "VALUES",
      "UNNEST", "DISTINCT", "ALL", "BETWEEN", "LIKE", "ILIKE", "IS", "NULL").contains(u)

  /** `{'a': 1}` → `named_struct('a', 1)`; `MAP {'a': 1}` → `map('a', 1)`
    * (`/root/reference/README.md:103,125`). */
  private[dialect] def rewriteStructMapLiterals(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Punct("{") =>
          // find matching }
          var d = 0; var j = i
          var end = -1
          while (j < toks.length && end < 0) {
            toks(j) match {
              case Punct("{") => d += 1
              case Punct("}") => d -= 1; if (d == 0) end = j
              case _ =>
            }
            j += 1
          }
          if (end > i) {
            val p = prevNonWs(toks, i)
            val isMap = p >= 0 && up(toks(p)) == "MAP"
            val inner = toks.slice(i + 1, end)
            // replace top-level ':' with ','
            var dd = 0
            val replaced = inner.map {
              case t @ Punct("(") => dd += 1; t
              case t @ Punct(")") => dd -= 1; t
              case Punct(":") if dd == 0 => Punct(",")
              case t => t
            }
            val fn = if (isMap) "map" else "named_struct"
            val start = if (isMap) p else i
            toks = toks.patch(start, Ident(fn) +: Punct("(") +: replaced :+ Punct(")"), end - start + 1)
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** Index of the matching open paren for the close paren at `close`. */
  private def openOf(toks: Vector[Tok], close: Int): Int = {
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

  /** Start of the primary expression whose last token sits at `end`: an
    * ident/number/string, an `a.b.c` chain, or a balanced paren group with
    * an optional call-name prefix (`fn(..)`). */
  private def primaryStart(toks: Vector[Tok], end: Int): Int = toks(end) match {
    case Punct(")") =>
      val open = openOf(toks, end)
      val p = prevNonWs(toks, open)
      // ARRAY is in keywordLike (array-literal disambiguation) but is a
      // call name here: `array(1, 2)[1]` must keep its name with the parens
      if (p >= 0 && toks(p).isInstanceOf[Ident] &&
        (!keywordLike(up(toks(p))) || up(toks(p)) == "ARRAY")) p else open
    case _: Ident | _: Num | _: Str =>
      var s = end
      var ok = true
      while (ok) {
        val p = prevNonWs(toks, s)
        val pp = if (p >= 0) prevNonWs(toks, p) else -1
        if (p >= 0 && toks(p) == Punct(".") && pp >= 0 && toks(pp).isInstanceOf[Ident]) s = pp
        else if (p >= 0 && toks(p) == Punct(".") && pp >= 0 && toks(pp) == Punct(")")) {
          // field access on a call result — `named_struct(…).p.q[2]` must
          // subscript the WHOLE chain, not the dangling `p.q` (r9
          // batch-4 fuzz: struct-literal dot chains resolved as columns)
          s = primaryStart(toks, pp)
          ok = false
        } else ok = false
      }
      s
    case _ => end
  }

  /** End of the primary expression starting at `start0` (skips a unary +/-;
    * follows `a.b` chains into a trailing call's parens). */
  private def primaryEnd(toks: Vector[Tok], start0: Int): Int = {
    var i = start0
    if (toks(i) == Punct("-") || toks(i) == Punct("+")) i = nextNonWs(toks, i)
    toks(i) match {
      case Punct("(") => matchParen(toks, i)
      case _: Ident =>
        var e = i
        var ok = true
        while (ok) {
          val n = nextNonWs(toks, e)
          if (n < toks.length && toks(n) == Punct("(")) { e = matchParen(toks, n); ok = false }
          else if (n < toks.length && toks(n) == Punct(".") && {
            val nn = nextNonWs(toks, n); nn < toks.length && toks(nn).isInstanceOf[Ident]
          }) e = nextNonWs(toks, n)
          else ok = false
        }
        e
      case _ => i
    }
  }

  /** Render `v` as a Spark SQL string literal (Spark's default parser treats
    * backslash as an escape inside literals, unlike DuckDB). */
  private def sparkStrLit(v: String): String =
    // escapedStringLiterals=true (r10): literals are VERBATIM like DuckDB
    // — only the quote needs doubling, a backslash IS a backslash
    "'" + v.flatMap { case '\'' => "''"; case c => c.toString } + "'"

  /** `struct_pack(a := 1, b := 'x')` args as named_struct pairs, or None if
    * any arg is not `name := expr`. */
  private def structPackParts(args: Vector[Vector[Tok]]): Option[Seq[String]] = {
    val parts = args.flatMap { a =>
      val nws = a.indices.filterNot(j => isWs(a(j)))
      if (nws.length >= 2 && a(nws(0)).isInstanceOf[Ident] && a(nws(1)) == Punct(":=")) {
        val expr = render(a.drop(nws(1) + 1)).trim
        if (expr.nonEmpty) Some(s"'${a(nws(0)).text}', $expr") else None
      } else None
    }
    if (parts.length == args.length && parts.nonEmpty) Some(parts) else None
  }

  private def intLit(e: String): Option[Long] =
    if (e.matches("-?\\d+")) Some(e.toLong) else None

  /** Negative bound k → `size+k+1` (DuckDB inclusive from-end); literal
    * non-negative bounds pass through untouched. NULL propagates (the CASE
    * predicate is NULL → ELSE → the NULL bound itself), matching DuckDB's
    * NULL-bound → NULL-result slices. */
  private def normBound(recv: String, e: String): String = intLit(e) match {
    case Some(v) if v >= 0 => e
    case _ => s"(CASE WHEN ($e) < 0 THEN size($recv) + ($e) + 1 ELSE ($e) END)"
  }

  /** Start clamped to ≥ 1 (DuckDB treats 0/off-front starts as 1),
    * NULL-propagating — `greatest(1, x)` would swallow a NULL start where
    * DuckDB returns NULL. */
  private def startBound(recv: String, e: String): String = intLit(e) match {
    case Some(v) if v >= 1 => e
    case _ =>
      val n = normBound(recv, e)
      s"(CASE WHEN ($n) < 1 THEN 1 ELSE ($n) END)"
  }

  /** Length clamped to ≥ 0 (DuckDB crossed bounds → empty list; Spark's
    * negative-length slice throws), NULL-propagating for the same reason
    * as [[startBound]]. */
  private def clamp0(x: String): String =
    s"(CASE WHEN ($x) < 0 THEN 0 ELSE ($x) END)"

  /** String receivers (r10 batch 7b; r12 kernels): DuckDB subscripts/
    * slices are defined on VARCHAR too — 1-based inclusive CHARACTER
    * positions, negative from-end, out-of-range → `''` (NOT NULL;
    * probe-pinned: 'abcdef'[0] = 'abcdef'[10] = ''), crossed/empty bounds
    * → '', NULL bound → NULL. Reaches Str-LITERAL receivers and (r12,
    * VERDICT r11 #3) string-typed COLUMNS via the strict catalog type
    * set. Emitted as the graft_str_index/graft_str_slice codegen kernels
    * ([[graft.functions.StrSubscript]]) — the former CASE/substr/length
    * splices tripped the upstream janino subexpression-split bug
    * ("isNull_N is not an rvalue" → interpreted fallback) as soon as two
    * slice columns shared a projection. An empty slice end is encoded as
    * Long.MaxValue (clamped to len in the kernel). */
  private def isNullLit(e: String): Boolean = e.trim.equalsIgnoreCase("NULL")
  private def strIndexForm(recv: String, idx: String): String =
    if (isNullLit(idx)) "CAST(NULL AS STRING)"
    else s"graft_str_index($recv, $idx)"
  private def strSliceForm(recv: String, a: String, b: String): String = {
    if (isNullLit(a) || isNullLit(b)) "CAST(NULL AS STRING)"
    else {
      val lo = if (a.isEmpty) "1" else a
      val hi = if (b.isEmpty) "9223372036854775807" else b
      s"graft_str_slice($recv, $lo, $hi)"
    }
  }

  /** Full two-bound inclusive slice `l[a:b]` / `list_slice(l, a, b)` →
    * guarded Spark `slice`. The receiver is re-rendered inside the bound
    * guards (`size(recv)`), so a non-trivial receiver expression is
    * re-evaluated up to twice more when bounds are dynamic — acceptable:
    * bounds are almost always literals (guard-free fast path), and dynamic
    * bounds over computed receivers are rare enough that hoisting via a
    * subquery isn't worth the rewrite complexity. */
  private def sliceForm(recv: String, a: String, b: String): String = {
    val sa = startBound(recv, a)
    s"slice($recv, $sa, ${clamp0(s"(${normBound(recv, b)}) - ($sa) + 1")})"
  }

  /** DuckDB 1-based (negative-from-end) subscripts and inclusive slices →
    * Spark forms: `l[i]` → `try_element_at(l, i)` (same 1-based/negative
    * indexing, NULL out of bounds — exactly DuckDB, where Spark's ANSI
    * `element_at` would throw), `l[a:b]` → `slice(l, a, b-a+1)` (DuckDB
    * slices are 1-based inclusive-end), `l[:b]` → `slice(l, 1, b)`,
    * `l[a:]` → slice to the end.
    *
    * Runtime-divergence guards (r5, DuckDB behavior pinned by probe):
    * a zero index returns NULL in DuckDB where Spark's try_element_at
    * throws ELEMENT_AT_BY_INDEX_ZERO — a literal 0 becomes a NULL index
    * and a dynamic numeric index gets a CASE→NULL guard (string-literal
    * map keys stay unguarded: `nullif(idx, 0)` would ANSI-cast-fail).
    * Slice bounds are normalized: negative k → `size(l)+k+1` (DuckDB's
    * inclusive from-end, so `l[:-1]` is the FULL list), start clamped to
    * ≥1 (`l[0:2]` = `l[1:2]`), crossed bounds → empty list via
    * `greatest(0, len)` where Spark's negative-length slice throws.
    * Literal non-negative bounds skip the guards (constant-folded form).
    *
    * Map receivers (r7): a subscript whose receiver is a plain
    * (dot-qualified) identifier naming a catalog-known MAP column emits
    * DuckDB's exact semantics — `[value]` when the key is present (key 0
    * included), `[]` when missing or NULL — via `isMapCol`, closing the
    * former named-column divergences. Still divergent (schema truly
    * unreachable at token level): a map subscript whose RECEIVER is a
    * computed expression (map literal, function result, parenthesized
    * subquery output) takes the array guards — bare value, zero-guarded —
    * and empty brackets (`VARCHAR[]` type suffixes) are untouched. */
  private[dialect] def rewriteSubscripts(toks0: Vector[Tok],
      isMapCol: String => Boolean,
      isStringCol: String => Boolean): Vector[Tok] = {
    // plain (possibly qualified) ident-chain receiver naming a column the
    // catalog knows as STRING-typed in every defining table (r12, VERDICT
    // r11 #3) — routed through the string-literal character semantics
    def strColChain(seg: Vector[Tok]): Boolean =
      seg.nonEmpty && seg.length % 2 == 1 && seg.zipWithIndex.forall {
        case (t, k) =>
          if (k % 2 == 0) t.isInstanceOf[Ident] && !keywordLike(up(t))
          else t == Punct(".")
      } && isStringCol(seg.map(_.text).mkString.toLowerCase(java.util.Locale.ROOT))
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if (id.upper == "ARRAY_SLICE" || id.upper == "LIST_SLICE") && {
            // r10 batch 9b: a string-LITERAL receiver slices CHARACTERS
            // (duck's array_slice('hello', 2, 4) = 'ell') — rewritten in
            // THIS pass so the emitted CASTs get the int-cast rounding
            // treatment once (emitting them later broke idempotence).
            // r12 (VERDICT r11 #3): a string-typed COLUMN receiver
            // (strict catalog resolution) takes the same character
            // semantics. List receivers keep the later guarded-slice
            // rewrite.
            val open = nextNonWs(toks, i)
            open < toks.length && toks(open) == Punct("(") && {
              val close = matchParen(toks, open)
              val args = splitTopLevel(toks.slice(open + 1, close))
              args.length == 3 && (args(0).filterNot(isWs) match {
                case Vector(_: Str) => true
                case seg => strColChain(seg)
              })
            }
          } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val args = splitTopLevel(toks.slice(open + 1, close))
          val (l, a, b) = (render(args(0)).trim, render(args(1)).trim, render(args(2)).trim)
          Some(toks.patch(i, lex(strSliceForm(l, a, b)), close - i + 1))
        case Punct("[") if {
          val p = prevNonWs(toks, i)
          p >= 0 && (toks(p) match {
            case id: Ident => !keywordLike(id.upper)
            case Punct(")") | Punct("]") => true
            // string-literal receiver: 'abcdef'[2:4] (r10 batch 7b)
            case _: Str => true
            case _ => false
          })
        } =>
          var d = 0; var j = i; var close = -1
          while (j < toks.length && close < 0) {
            toks(j) match {
              case Punct("[") => d += 1
              case Punct("]") => d -= 1; if (d == 0) close = j
              case _ =>
            }
            j += 1
          }
          if (close > i) {
            val inner = toks.slice(i + 1, close)
            var dd = 0; var colonAt = -1
            for ((t, k) <- inner.zipWithIndex) t match {
              case Punct("(") | Punct("[") => dd += 1
              case Punct(")") | Punct("]") => dd -= 1
              case Punct(":") if dd == 0 && colonAt < 0 => colonAt = k
              case _ =>
            }
            val p = prevNonWs(toks, i)
            val rStart = primaryStart(toks, p)
            val recv = render(toks.slice(rStart, p + 1)).trim
            // bare string-literal receiver → character subscript/slice;
            // r12: a string-typed COLUMN receiver (strict catalog
            // resolution — the name must be VARCHAR in every defining
            // table, exact when table-qualified) takes the same path
            val strRecv = toks.slice(rStart, p + 1).filter(!isWs(_)) match {
              case Vector(_: Str) => true
              case seg => strColChain(seg)
            }
            // schema-aware map dispatch (r7): receiver is a plain
            // (dot-qualified) identifier naming a known MAP column →
            // DuckDB 1.0 semantics, probe-pinned: m[k] = [v] when the
            // key is present (key 0 included — maps have no zero-index
            // guard), [] when missing or k IS NULL.
            val mapRecv = colonAt < 0 && {
              // unwrap fully-parenthesized receivers — (MAP {…})[k] /
              // (map_from_entries(…))[k] took the ARRAY subscript path
              // and returned the bare value (r11 map fuzz); stripping
              // outer parens lets the same shape checks see the map
              var seg = toks.slice(rStart, p + 1).filter(!isWs(_))
              var go = true
              while (go) {
                go = false
                if (seg.length >= 2 && seg.head == Punct("(") &&
                    seg.last == Punct(")")) {
                  var d = 0; var fc = -1; var k = 0
                  while (k < seg.length && fc < 0) {
                    seg(k) match {
                      case Punct("(") => d += 1
                      case Punct(")") => d -= 1; if (d == 0) fc = k
                      case _ => ()
                    }
                    k += 1
                  }
                  if (fc == seg.length - 1) {
                    seg = seg.slice(1, seg.length - 1); go = true
                  }
                }
              }
              (seg.nonEmpty && seg.zipWithIndex.forall {
                case (t, k) =>
                  if (k % 2 == 0) t.isInstanceOf[Ident] else t == Punct(".")
              } && isMapCol(seg.last.text.toLowerCase)) ||
              // map-returning call: `MAP {…}[k]` / map_from_entries(…)[k]
              // take the LIST-shaped DuckDB map-subscript too (r9
              // batch-4 fuzz: these returned the bare value)
              (seg.length >= 2 && seg.head.isInstanceOf[Ident] &&
                Set("MAP", "MAP_FROM_ENTRIES", "MAP_CONCAT",
                  "MAP_FILTER").contains(up(seg.head)) &&
                seg(1) == Punct("(") && seg.last == Punct(")"))
            }
            // the receiver through the close bracket, replaced by `sql`
            def subst(sql: String) = Some(toks.patch(rStart, lex(sql), close - rStart + 1))
            if (inner.exists(!isWs(_))) {
              if (mapRecv) {
                val idx = render(inner).trim
                subst(s"IF(map_contains_key($recv, $idx), array(try_element_at($recv, $idx)), array())")
              } else if (strRecv && colonAt < 0) {
                subst(strIndexForm(recv, render(inner).trim))
              } else if (strRecv) {
                // string slice — only the single-colon form (a step
                // slice on a string stays on the array path → loud)
                var dd2 = 0; var colon2 = -1
                for ((t, k) <- inner.zipWithIndex) t match {
                  case Punct("(") | Punct("[") => dd2 += 1
                  case Punct(")") | Punct("]") => dd2 -= 1
                  case Punct(":") if dd2 == 0 && k > colonAt && colon2 < 0 =>
                    colon2 = k
                  case _ =>
                }
                if (colon2 < 0) {
                  val a = render(inner.slice(0, colonAt)).trim
                  val b = render(inner.slice(colonAt + 1, inner.length)).trim
                  subst(strSliceForm(recv, a, b))
                } else None
              } else if (colonAt < 0) {
                val idx = render(inner).trim
                val guarded = intLit(idx) match {
                  case Some(0L) => s"try_element_at($recv, CAST(NULL AS INT))"
                  case Some(_) => s"try_element_at($recv, $idx)"
                  case None if idx.startsWith("'") => s"try_element_at($recv, $idx)"
                  case None =>
                    // string compare covers every integer width's zero;
                    // non-integer index types on ARRAYS are a DuckDB
                    // binder error, so they can't reach this rewrite from
                    // valid input. Documented divergence: a VARCHAR-keyed
                    // MAP subscripted with a DYNAMIC key expression whose
                    // value is the string '0' also trips this guard and
                    // yields NULL where DuckDB returns the mapped value —
                    // token-level rewriting has no schema to tell a map
                    // receiver from an array (string-LITERAL keys take
                    // the branch above and are unaffected).
                    // typed NULL: an untyped THEN NULL with a NULL idx
                    // makes the whole CASE VOID-typed (analysis error)
                    s"try_element_at($recv, (CASE WHEN CAST(($idx) AS STRING) = '0' THEN CAST(NULL AS INT) ELSE ($idx) END))"
                }
                subst(guarded)
              } else {
                // second top-level colon → step slice l[a:b:s] (r7
                // session 3; probe: [1..6][2:6:2] = [2,4,6], 1-based
                // inclusive bounds). Gathered via sequence+element_at;
                // the CASE guards the empty slice (Spark's sequence
                // errors when start > stop with a positive step).
                var dd2 = 0; var colon2 = -1
                for ((t, k) <- inner.zipWithIndex) t match {
                  case Punct("(") | Punct("[") => dd2 += 1
                  case Punct(")") | Punct("]") => dd2 -= 1
                  case Punct(":") if dd2 == 0 && k > colonAt && colon2 < 0 =>
                    colon2 = k
                  case _ =>
                }
                if (colon2 > colonAt) {
                  val a = render(inner.slice(0, colonAt)).trim
                  val b = render(inner.slice(colonAt + 1, colon2)).trim
                  val st = render(inner.slice(colon2 + 1, inner.length)).trim
                  val sa = if (a.isEmpty) "1" else startBound(recv, a)
                  val eb = if (b.isEmpty) s"size($recv)"
                    else s"least(${normBound(recv, b)}, size($recv))"
                  val repl = s"(CASE WHEN ($sa) > ($eb) THEN slice($recv, 1, 0) " +
                    s"ELSE transform(sequence(($sa), ($eb), ($st)), " +
                    s"__g_i -> try_element_at($recv, CAST(__g_i AS INT))) END)"
                  subst(repl)
                } else {
                  val a = render(inner.slice(0, colonAt)).trim
                  val b = render(inner.slice(colonAt + 1, inner.length)).trim
                  if (a.isEmpty && b.isEmpty) None
                  else if (a.isEmpty) subst(s"slice($recv, 1, ${clamp0(normBound(recv, b))})")
                  else if (b.isEmpty) {
                    val sa = startBound(recv, a)
                    subst(s"slice($recv, $sa, ${clamp0(s"size($recv) - ($sa) + 1")})")
                  } else subst(sliceForm(recv, a, b))
                }
              }
            } else None
          } else None
        case _ => None
      }
    }
  }

  /** Round-4 dialect sugar with no 1:1 Spark spelling (SURVEY §2.9/§7.3):
    *   - `a // b` → `a DIV b` — DuckDB `//` truncates toward zero
    *     (`-7 // 2 = -3`, verified), exactly Spark's DIV.
    *   - `a ** b` → `power(a, b)` — left-assoc like DuckDB (`2**2**3 = 64`),
    *     and a directly-preceding *unary* minus belongs to the left operand
    *     (`-2 ** 2 = 4` in DuckDB).
    *   - `x GLOB 'pat'` → `x LIKE '…'` with `*`→`%`, `?`→`_`, literal
    *     `%`/`_` backslash-escaped.
    *   - `x SIMILAR TO 'p'` → `x RLIKE '^(?:p)$'` (whole-string regex match
    *     in both engines; `NOT` composes unchanged).
    *   - `recv.fn(args)` → `fn(recv, args)` — DuckDB function-chaining
    *     sugar; runs before the function-name map, so `x.list_element(2)`
    *     lands on `element_at(x, 2)`.
    *   - `struct_pack(a := 1)` → `named_struct('a', 1)`.
    *   - `fn(x IGNORE NULLS)` / `RESPECT NULLS` → `fn(x) IGNORE NULLS` —
    *     Spark spells the null treatment after the call, before OVER.
    */
  private[dialect] def rewriteOpsSugar(toks0: Vector[Tok],
      isDateCol: (String, Boolean) => Boolean = (_, _) => false): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      val callOpen = {
        val n = nextNonWs(toks, i)
        if (n < toks.length && toks(n) == Punct("(")) n else -1
      }
      toks(i) match {
        // `//` is handled by rewriteDivMod (last pass): duck's matrix
        // is trunc-long-division for integral pairs but PLAIN DOUBLE
        // division otherwise, NULL on zero either way (r12 num fuzz) —
        // the old `//`→DIV swap was integral-only (loud on a double
        // operand) and ANSI-raised on zero.
        case Punct("-") if {
            // DATE - DATE is INTEGER days in DuckDB but an INTERVAL in
            // Spark (r8 fuzz) — rewrite when BOTH operands are
            // date-valued: syntactically (DATE literals, make_date,
            // to_date, current_date, last_day, day-or-coarser
            // date_trunc) or — r11 — a DATE-typed column resolved
            // through the catalog type set. STRICT resolution (r12,
            // advice r11): the datediff rewrite silently changes the
            // result of TIMESTAMP − TIMESTAMP, so a column name that is
            // non-DATE in any visible table does not qualify here
            // (unlike the ± INTERVAL rewrite, whose collision cost is a
            // no-op CAST)
            def dateish(from: Int, to: Int): Boolean =
              dateValuedSlice(toks, from, to, isDateCol, strict = true)
            def lBounds: Option[(Int, Int)] = {
              val lEnd = prevNonWs(toks, i)
              if (lEnd < 0) None
              else {
                var lStart = primaryStart(toks, lEnd)
                // DATE '…' literal: the keyword sits before the Str primary
                if (toks(lStart).isInstanceOf[Str]) {
                  val p = prevNonWs(toks, lStart)
                  if (p >= 0 && up(toks(p)) == "DATE") lStart = p
                }
                Some((lStart, lEnd))
              }
            }
            def rBounds: Option[(Int, Int)] = {
              val rStart = nextNonWs(toks, i)
              if (rStart >= toks.length) None
              else {
                var rEnd = primaryEnd(toks, rStart)
                if (up(toks(rStart)) == "DATE") {
                  val n = nextNonWs(toks, rStart)
                  if (n < toks.length && toks(n).isInstanceOf[Str]) rEnd = n
                }
                Some((rStart, rEnd))
              }
            }
            (lBounds, rBounds) match {
              case (Some((ls, le)), Some((rs, re))) =>
                dateish(ls, le) && dateish(rs, re)
              case _ => false
            }
          } =>
          val lEnd = prevNonWs(toks, i)
          val rStart = nextNonWs(toks, i)
          val lStart = {
            var s0 = primaryStart(toks, lEnd)
            if (toks(s0).isInstanceOf[Str]) {
              val p = prevNonWs(toks, s0)
              if (p >= 0 && up(toks(p)) == "DATE") s0 = p
            }
            s0
          }
          val rEnd = {
            var e0 = primaryEnd(toks, rStart)
            if (up(toks(rStart)) == "DATE") {
              val n = nextNonWs(toks, rStart)
              if (n < toks.length && toks(n).isInstanceOf[Str]) e0 = n
            }
            e0
          }
          val l = render(toks.slice(lStart, lEnd + 1)).trim
          val r = render(toks.slice(rStart, rEnd + 1)).trim
          Some(toks.patch(lStart, lex(s"datediff($l, $r)"), rEnd - lStart + 1))
        case Punct(op0) if (op0 == "+" || op0 == "-") && {
            // x ± INTERVAL … (r10, VERDICT r9 #3): DuckDB's DATE ±
            // INTERVAL returns TIMESTAMP where Spark keeps DATE — wrap
            // the syntactically date-valued operand in CAST(… AS
            // TIMESTAMP). Also closes two loud parse gaps: the MIXED
            // month+sub-month string interval (Spark rejects INTERVAL
            // '1 month 2 days') via chained single-class adds, and the
            // expression interval INTERVAL (e) UNIT via
            // make_ym_interval / make_dt_interval.
            val rStart = nextNonWs(toks, i)
            val lEnd = prevNonWs(toks, i)
            rStart < toks.length && up(toks(rStart)) == "INTERVAL" &&
              intervalRunEnd(toks, rStart) >= 0 && lEnd >= 0 &&
              // left must be a real operand end (not SELECT/comma/open
              // paren — those make the INTERVAL unary, not arithmetic)
              (toks(lEnd) match {
                case _: Num | _: Str => true
                case Punct(")") | Punct("]") => true
                case id2: Ident => !keywordLike(id2.upper)
                case _ => false
              }) && !intervalEndsAt(toks, lEnd)
          } =>
          val rStart = nextNonWs(toks, i)
          val rEnd = intervalRunEnd(toks, rStart)
          val lEnd = prevNonWs(toks, i)
          var lStart = primaryStart(toks, lEnd)
          if (toks(lStart).isInstanceOf[Str]) {
            val p = prevNonWs(toks, lStart)
            if (p >= 0 && (up(toks(p)) == "DATE" || up(toks(p)) == "TIMESTAMP"))
              lStart = p
          }
          val l = render(toks.slice(lStart, lEnd + 1)).trim
          val lDate = dateValuedSlice(toks, lStart, lEnd, isDateCol)
          val lNew = if (lDate) s"CAST(($l) AS TIMESTAMP)" else l
          val sig = toks.slice(rStart, rEnd + 1).filterNot(isWs)
          val mixed = sig match {
            case Vector(_: Ident, _: Str) =>
              intervalWidth(toks.slice(rStart, rEnd + 1))
                .filter { case (m, us) => m != 0 && us != 0 }
            case _ => None
          }
          val exprIv: Option[String] =
            if (sig.length >= 3 && sig(1) == Punct("(")) {
              val open = nextNonWs(toks, rStart)
              val close = matchParen(toks, open)
              val e = render(toks.slice(open, close + 1)).trim
              val (m1, us1) = unitWidth(up(toks(rEnd)), 1L).get
              Some(
                if (m1 > 0L) s"make_ym_interval(0, $e * $m1)"
                else if (us1 % 1000000L == 0L)
                  s"make_dt_interval(0, 0, 0, $e * ${us1 / 1000000L})"
                else s"make_dt_interval(0, 0, 0, $e * $us1 / 1000000.0)")
            } else None
          (mixed, exprIv) match {
            case (Some((m, us)), _) =>
              // r13 (closing the last allowlisted ts cell): duck's
              // TSTZ SUBTRACT applies interval components in REVERSE
              // order (micros → days → months, the exact inverse of
              // add, so t + i - i == t) while naive subtract and every
              // add go months-first (probed: TSTZ Dec 31 − '1 mon
              // 2 days' = Nov 29 = (−2d, −1mo); naive = Nov 28; TSTZ
              // ADD Jan 30 + '1 mon 2 days' = Mar 2 = months-first).
              // TSTZ producers are token-visible in the left slice
              // (r14: CASE-condition regions masked — see
              // tstzProducerToks).
              val tstzLeft = tstzProducerToks(toks.slice(lStart, lEnd + 1))
              val emission =
                if (op0 == "-" && tstzLeft)
                  s"(($lNew - INTERVAL $us MICROSECOND) - INTERVAL $m MONTH)"
                else
                  s"(($lNew $op0 INTERVAL $m MONTH) $op0 INTERVAL $us MICROSECOND)"
              Some(toks.patch(lStart, lex(emission), rEnd - lStart + 1))
            case (_, Some(fn)) =>
              Some(toks.patch(lStart, lex(s"($lNew $op0 $fn)"),
                rEnd - lStart + 1))
            case _ if lDate =>
              Some(toks.patch(lStart, lex(lNew), lEnd - lStart + 1))
            case _ => None // plain interval on a non-date operand: passthrough
          }
        case id: Ident if id.upper == "INTERVAL" && {
            // r10 batch 9: a BARE mixed-class string interval —
            // `SELECT INTERVAL '1 year 2 months 3 days'` parses in duck
            // but Spark rejects literals mixing year-month and day-time
            // classes. Only the mixed shape rewrites (single-class
            // strings parse natively and feed the time_bucket/
            // date_trunc literal scanners, which must see them raw).
            val n = nextNonWs(toks, i)
            n < toks.length && toks(n).isInstanceOf[Str] && {
              val nn = nextNonWs(toks, n)
              // `INTERVAL 'n' UNIT` has a trailing unit — not this form
              (nn >= toks.length || unitWidth(up(toks(nn)), 1L).isEmpty) &&
                intervalWidth(toks.slice(i, n + 1))
                  .exists { case (m, us) => m != 0 && us != 0 }
            }
          } =>
          val n = nextNonWs(toks, i)
          val Some((m, us)) = intervalWidth(toks.slice(i, n + 1))
          val secs =
            if (us % 1000000L == 0L) (us / 1000000L).toString
            else s"$us / 1000000.0"
          Some(toks.patch(i,
            lex(s"make_interval(0, $m, 0, 0, 0, 0, $secs)"), n - i + 1))
        case Punct(op0) if (op0 == "+" || op0 == "-") && {
            // r10 batch 9: date ± <interval-valued CALL> (to_days(n),
            // make_interval(…)) — same TIMESTAMP-cast treatment as the
            // literal INTERVAL run (DATE + micros-bearing intervals
            // error at runtime in Spark and return TIMESTAMP in duck)
            val rStart = nextNonWs(toks, i)
            val lEnd = prevNonWs(toks, i)
            rStart < toks.length && lEnd >= 0 && (toks(rStart) match {
              case id2: Ident =>
                (toIntervalUnits.contains(id2.upper) ||
                  id2.upper == "MAKE_INTERVAL") && {
                  val n = nextNonWs(toks, rStart)
                  n < toks.length && toks(n) == Punct("(")
                }
              case _ => false
            }) && {
              var lStart = primaryStart(toks, lEnd)
              if (toks(lStart).isInstanceOf[Str]) {
                val p = prevNonWs(toks, lStart)
                if (p >= 0 && up(toks(p)) == "DATE") lStart = p
              }
              dateValuedSlice(toks, lStart, lEnd, isDateCol)
            }
          } =>
          val lEnd = prevNonWs(toks, i)
          var lStart = primaryStart(toks, lEnd)
          if (toks(lStart).isInstanceOf[Str]) {
            val p = prevNonWs(toks, lStart)
            if (p >= 0 && up(toks(p)) == "DATE") lStart = p
          }
          val l = render(toks.slice(lStart, lEnd + 1)).trim
          Some(toks.patch(lStart, lex(s"CAST(($l) AS TIMESTAMP)"),
            lEnd - lStart + 1))
        case Punct("+") if {
            // commuted form: INTERVAL … + <date-valued> — wrap the
            // right side the same way
            val lEnd = prevNonWs(toks, i)
            val rStart = nextNonWs(toks, i)
            lEnd >= 0 && rStart < toks.length &&
              intervalEndsAt(toks, lEnd) && {
                var rE = primaryEnd(toks, rStart)
                if (up(toks(rStart)) == "DATE") {
                  val n = nextNonWs(toks, rStart)
                  if (n < toks.length && toks(n).isInstanceOf[Str]) rE = n
                }
                dateValuedSlice(toks, rStart, rE, isDateCol)
              }
          } =>
          val rStart = nextNonWs(toks, i)
          var rEnd = primaryEnd(toks, rStart)
          if (up(toks(rStart)) == "DATE") {
            val n = nextNonWs(toks, rStart)
            if (n < toks.length && toks(n).isInstanceOf[Str]) rEnd = n
          }
          val r = render(toks.slice(rStart, rEnd + 1)).trim
          Some(toks.patch(rStart, lex(s"CAST(($r) AS TIMESTAMP)"),
            rEnd - rStart + 1))
        case id: Ident if id.upper == "AT" && {
            // r12 ts fuzz: `x AT TIME ZONE 'z'` didn't parse (Spark has
            // no AT TIME ZONE). Over a NAIVE timestamp it is exactly
            // duck's timezone(z, x) two-arg form (probed identical:
            // interpret x in z, render in the session zone) — emit that
            // and let the TIMEZONE rewrite turn it into
            // to_utc_timestamp. The TIMESTAMPTZ flavor inverts; the
            // engine has no TSTZ type (documented posture, r10).
            val n1 = nextNonWs(toks, i)
            val n2 = if (n1 < toks.length) nextNonWs(toks, n1) else toks.length
            val lEnd = prevNonWs(toks, i)
            n1 < toks.length && n2 < toks.length && up(toks(n1)) == "TIME" &&
              up(toks(n2)) == "ZONE" && nextNonWs(toks, n2) < toks.length &&
              lEnd >= 0 && (toks(lEnd) match {
                case _: Str | _: Num => true
                case Punct(")") | Punct("]") => true
                case id2: Ident => !keywordLike(id2.upper)
                case _ => false
              })
          } =>
          val n1 = nextNonWs(toks, i)
          val n2 = nextNonWs(toks, n1)
          val lEnd = prevNonWs(toks, i)
          var lStart = primaryStart(toks, lEnd)
          if (toks(lStart).isInstanceOf[Str]) {
            val p = prevNonWs(toks, lStart)
            if (p >= 0 && Set("TIMESTAMP", "DATE", "TIMESTAMPTZ")
                .contains(up(toks(p)))) lStart = p
          }
          val zStart = nextNonWs(toks, n2)
          val zEnd = primaryEnd(toks, zStart)
          val x = render(toks.slice(lStart, lEnd + 1)).trim
          val z = render(toks.slice(zStart, zEnd + 1)).trim
          Some(toks.patch(lStart, lex(s"timezone($z, $x)"),
            zEnd - lStart + 1))
        case Punct(op0) if Set("~~", "~~*", "!~~", "!~~*").contains(op0) =>
          // r10 batch 10: Postgres-spelling LIKE operators (probed on
          // duck: ~~ = LIKE, ~~* = ILIKE, !-prefixed = NOT forms)
          val repl = op0 match {
            case "~~" => "LIKE"
            case "~~*" => "ILIKE"
            case "!~~" => "NOT LIKE"
            case _ => "NOT ILIKE"
          }
          Some(toks.patch(i, lex(repl), 1))
        case Punct(op0) if (op0 == "~" || op0 == "!~") && {
            val lEnd = prevNonWs(toks, i)
            val rStart = nextNonWs(toks, i)
            lEnd >= 0 && rStart < toks.length && (toks(lEnd) match {
              case _: Str | _: Num => true
              case Punct(")") | Punct("]") => true
              case id2: Ident => !keywordLike(id2.upper)
              case _ => false
            })
          } =>
          // duck's ~ is a FULL regex match (probed: 'abc' ~ 'b' is
          // false, 'abc' ~ 'abc' true) — the regexp_full_match form;
          // !~ is its NULL-preserving negation
          val lEnd = prevNonWs(toks, i)
          val rStart = nextNonWs(toks, i)
          val lStart = primaryStart(toks, lEnd)
          val rEnd = primaryEnd(toks, rStart)
          val l = render(toks.slice(lStart, lEnd + 1)).trim
          val r = render(toks.slice(rStart, rEnd + 1)).trim
          val not = if (op0 == "!~") "NOT " else ""
          Some(toks.patch(lStart,
            lex(s"($not" + s"rlike(($l), '^(?:' || ($r) || ')$$'))"),
            rEnd - lStart + 1))
        case Punct(op0) if op0 == "**" || op0 == "^" =>
          // `^` is POWER in DuckDB where Spark's `^` is bitwise XOR — a
          // silent wrong answer through passthrough (r8 fuzz: 2 ^ 3 gave
          // 1). Both spellings route through the same power() rewrite;
          // DuckDB's xor is the xor() function, which stays loud.
          val lEnd = prevNonWs(toks, i)
          val rStart = nextNonWs(toks, i)
          if (lEnd >= 0 && rStart < toks.length) {
            var lStart = primaryStart(toks, lEnd)
            val pm = prevNonWs(toks, lStart)
            val unaryMinus = pm >= 0 && (toks(pm) == Punct("-") || toks(pm) == Punct("+")) && {
              val before = prevNonWs(toks, pm)
              before < 0 || !(toks(before).isInstanceOf[Num] || toks(before).isInstanceOf[Str] ||
                toks(before) == Punct(")") ||
                (toks(before).isInstanceOf[Ident] && !keywordLike(up(toks(before)))))
            }
            if (unaryMinus) lStart = pm
            val rEnd = primaryEnd(toks, rStart)
            val l = render(toks.slice(lStart, lEnd + 1)).trim
            val r = render(toks.slice(rStart, rEnd + 1)).trim
            Some(toks.patch(lStart, lex(s"power($l, $r)"), rEnd - lStart + 1))
          } else None
        case id: Ident if id.upper == "GLOB" && {
          val n = nextNonWs(toks, i); n < toks.length && toks(n).isInstanceOf[Str]
        } =>
          val n = nextNonWs(toks, i)
          val raw = toks(n).asInstanceOf[Str].value
          // r10 batch 10: patterns with character classes ([ab], [!x])
          // have no LIKE form — route through an anchored regex; plain
          // */? patterns keep the cheaper LIKE (probe: 'abc' GLOB
          // '[ab]bc' is true, the old LIKE route matched literally)
          if (raw.contains('[')) {
            Some(toks.patch(i, Seq(Ident("RLIKE"), Ws(" "),
              Str(sparkStrLit("^(?:" + globToRegex(raw) + ")$"))), n - i + 1))
          } else {
            // '~' as the explicit escape char, not backslash: the
            // ESCAPE clause marks the pattern so the r13 LIKE-backslash
            // pass (duck has no default escape) leaves this DELIBERATE
            // escaping alone, and a backslash escape would round-trip
            // through encodeStrLiterals' chr(92) — not a literal, which
            // ESCAPE requires
            val pat = raw.flatMap {
              case '*' => "%"
              case '?' => "_"
              case '%' => "~%"
              case '_' => "~_"
              case '~' => "~~"
              case c => c.toString
            }
            Some(toks.patch(i, Seq(Ident("LIKE"), Ws(" "), Str(sparkStrLit(pat)),
              Ws(" "), Ident("ESCAPE"), Ws(" "), Str("'~'")), n - i + 1))
          }
        case id: Ident if id.upper == "SIMILAR" && {
          val n = nextNonWs(toks, i)
          n < toks.length && up(toks(n)) == "TO" && {
            val s = nextNonWs(toks, n); s < toks.length && toks(s).isInstanceOf[Str]
          }
        } =>
          val n = nextNonWs(toks, i)
          val s = nextNonWs(toks, n)
          // duck's SIMILAR TO is a PURE regex full match — unlike
          // Postgres, % and _ are NOT wildcards (probed r10 batch 10:
          // 'abc' SIMILAR TO 'a%' is false, 'a%c' SIMILAR TO 'a%c'
          // true) — so the pattern passes through raw
          val pat = toks(s).asInstanceOf[Str].value
          Some(toks.patch(i,
            Seq(Ident("RLIKE"), Ws(" "), Str(sparkStrLit("^(?:" + pat + ")$"))), s - i + 1))
        case id: Ident if id.upper == "STRUCT_PACK" && callOpen >= 0 =>
          val close = matchParen(toks, callOpen)
          structPackParts(splitTopLevel(toks.slice(callOpen + 1, close))).map { parts =>
            toks.patch(i, lex(s"named_struct(${parts.mkString(", ")})"), close - i + 1)
          }
        case id: Ident if (id.upper == "IGNORE" || id.upper == "RESPECT") && {
          val n = nextNonWs(toks, i)
          n < toks.length && up(toks(n)) == "NULLS" && {
            val c = nextNonWs(toks, n); c < toks.length && toks(c) == Punct(")")
          } && { val p = prevNonWs(toks, i); p >= 0 && toks(p) != Punct("(") }
        } =>
          val n = nextNonWs(toks, i)
          val c = nextNonWs(toks, n)
          val head = toks.slice(0, i).reverse.dropWhile(isWs).reverse
          Some(head ++ toks.slice(n + 1, c + 1).filterNot(isWs) ++
            Vector(Ws(" "), Ident(id.text), Ws(" "), Ident("NULLS")) ++
            toks.slice(c + 1, toks.length))
        case Punct(".") if {
          val f = nextNonWs(toks, i)
          val o = if (f < toks.length) nextNonWs(toks, f) else toks.length
          val p = prevNonWs(toks, i)
          f < toks.length && toks(f).isInstanceOf[Ident] && !keywordLike(up(toks(f))) &&
            o < toks.length && toks(o) == Punct("(") && p >= 0 &&
            (toks(p).isInstanceOf[Num] || toks(p).isInstanceOf[Str] || toks(p) == Punct(")") ||
              (toks(p).isInstanceOf[Ident] && !keywordLike(up(toks(p)))))
        } =>
          val f = nextNonWs(toks, i)
          val o = nextNonWs(toks, f)
          val close = matchParen(toks, o)
          val p = prevNonWs(toks, i)
          val rStart = primaryStart(toks, p)
          val recv = render(toks.slice(rStart, p + 1)).trim
          val args = render(toks.slice(o + 1, close)).trim
          val call =
            if (args.isEmpty) s"${toks(f).text}($recv)"
            else s"${toks(f).text}($recv, $args)"
          Some(toks.patch(rStart, lex(call), close - rStart + 1))
        case _ => None
      }
    }

  /** DuckDB `COLUMNS('regex')` star-expansion (partial-match semantics, like
    * regexp_matches) against the schema of the statement's FROM table,
    * resolved through the engine-provided catalog lookup. Left untouched
    * when the table or pattern cannot be resolved — an analysis error
    * downstream, as in DuckDB when nothing matches. */
  private[dialect] def rewriteColumnsExpand(
      toks0: Vector[Tok], schemaOf: String => Option[Seq[String]]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      if (up(toks(i)) == "COLUMNS") {
        val open = nextNonWs(toks, i)
        if (open < toks.length && toks(open) == Punct("(")) {
          val close = matchParen(toks, open)
          val innerToks = toks.slice(open + 1, close).filterNot(isWs)
          // lambda form (DuckDB 1.0, probe-verified):
          // COLUMNS(c -> c [NOT] LIKE 'pat') — the predicate is evaluated
          // against the FROM table's schema with SQL LIKE semantics
          // (% any-run, _ any-one, anchored full match, case-sensitive)
          val likeRe: Option[(Boolean, String)] = innerToks match {
            case Vector(v1: Ident, Punct("->"), v2: Ident, l: Ident, s: Str)
                if v1.text == v2.text && l.upper == "LIKE" =>
              Some((false, s.value))
            case Vector(v1: Ident, Punct("->"), v2: Ident, n: Ident, l: Ident, s: Str)
                if v1.text == v2.text && n.upper == "NOT" && l.upper == "LIKE" =>
              Some((true, s.value))
            case _ => None
          }
          // column filter for the three inner shapes: lambda-LIKE,
          // 'regex' (partial match), or bare * (all columns, r10 batch 10)
          val filter: Option[String => Boolean] = likeRe match {
            case Some((neg, pat)) =>
              val rx = java.util.regex.Pattern.compile(
                pat.flatMap {
                  case '%' => ".*"
                  case '_' => "."
                  case c => java.util.regex.Pattern.quote(c.toString)
                })
              Some(c => rx.matcher(c).matches() != neg)
            case None => innerToks match {
              case Vector(s: Str) =>
                val p = java.util.regex.Pattern.compile(s.value)
                Some(c => p.matcher(c).find())
              case Vector(Punct("*")) => Some(_ => true)
              case _ => None
            }
          }
          if (filter.isDefined) {
            // the statement's FROM table: first plain ident after FROM at
            // STREAM depth 0 (r10 batch 10: the old relative-depth scan
            // aborted when COLUMNS sat inside a call — count(columns(*)) —
            // because the call's closing paren drove the count negative)
            val dpre = new Array[Int](toks.length + 1)
            for (k <- toks.indices) dpre(k + 1) = dpre(k) + depthDelta(toks(k))
            var j = close + 1; var table: Option[String] = None
            while (j < toks.length && table.isEmpty) {
              if (dpre(j) == 0 && up(toks(j)) == "FROM") {
                val t = nextNonWs(toks, j)
                if (t < toks.length) toks(t) match {
                  case tid: Ident => table = Some(tid.text.replaceAll("[`\"]", ""))
                  case _ => j = toks.length
                }
              }
              j += 1
            }
            for (t <- table; cols <- schemaOf(t)) {
              val hit = cols.filter(filter.get)
              if (hit.nonEmpty) {
                // item bounds at stream depth 0 — duck replicates the
                // WHOLE select item per matched column (r10 batch 10:
                // count(columns(*)) is one count per column, auto-aliased
                // to the column name; the old in-place patch silently
                // produced a multi-arg count). In-place expansion only
                // when the call IS the whole item.
                val pre = toks.take(i)
                val depthAtI = pre.map(depthDelta).sum
                if (depthAtI == 0) {
                  // bare item (possibly `SELECT columns(...)`) — expand in
                  // place; adjoining expression text replicates below only
                  // when bounds are findable
                  val bounds = itemBoundsAt(toks, i, close)
                  bounds match {
                    case Some((s0, e0))
                        if render(toks.slice(s0, e0)).trim !=
                          render(toks.slice(i, close + 1)).trim =>
                      val item = toks.slice(s0, e0)
                      val relI = i - s0
                      val relClose = close - s0
                      val clones = hit.map { c =>
                        render(item.patch(relI, lex(c), relClose - relI + 1)).trim +
                          (if (itemName(item).isEmpty) s" AS $c" else "")
                      }
                      toks = toks.patch(s0, lex(" " + clones.mkString(", ") + " "), e0 - s0)
                    case _ =>
                      toks = toks.patch(i, lex(hit.mkString(", ")), close - i + 1)
                  }
                } else {
                  itemBoundsAt(toks, i, close) match {
                    case Some((s0, e0)) =>
                      val item = toks.slice(s0, e0)
                      val relI = i - s0
                      val relClose = close - s0
                      val clones = hit.map { c =>
                        render(item.patch(relI, lex(c), relClose - relI + 1)).trim +
                          (if (itemName(item).isEmpty) s" AS $c" else "")
                      }
                      toks = toks.patch(s0, lex(" " + clones.mkString(", ") + " "), e0 - s0)
                    case None => // bounds unfindable (nested subquery) — loud
                  }
                }
              }
            }
          }
        }
      }
      i += 1
    }
    toks
  }

  /** Select-item bounds enclosing position `i` at stream depth 0:
    * (start, endExclusive), or None when `i` is not inside the top-level
    * select list (e.g. inside a subquery — depth never returns to 0). */
  private def itemBoundsAt(toks: Vector[Tok], i: Int, close: Int): Option[(Int, Int)] = {
    // prefix depths
    val d = new Array[Int](toks.length + 1)
    for (j <- toks.indices) d(j + 1) = d(j) + depthDelta(toks(j))
    var s0 = -1
    var j = i - 1
    var found = false
    while (j >= 0 && !found) {
      if (d(j) == 0 && (toks(j) == Punct(",") || up(toks(j)) == "SELECT" ||
          up(toks(j)) == "DISTINCT")) { s0 = j + 1; found = true }
      else if (d(j) == 0 && up(toks(j)) == "FROM") return None
      j -= 1
    }
    if (s0 < 0) return None
    var e0 = toks.length
    j = close + 1
    var done = false
    while (j < toks.length && !done) {
      if (d(j) == 0 && (toks(j) == Punct(",") ||
          Set("FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
            "WINDOW", "QUALIFY", "UNION", "INTERSECT", "EXCEPT")
            .contains(up(toks(j))))) { e0 = j; done = true }
      j += 1
    }
    Some((s0, e0))
  }

  /** DuckDB casts to integer types ROUND (half away from zero: 1.9 → 2,
    * -2.5 → -3, '1.9' → 2) where Spark truncates — a silent wrong answer
    * found by the r8 differential fuzz. `CAST(x AS <int>)` and `x::<int>`
    * become `CAST(graft_int_round(x) AS <int>)` (r10 — previously
    * `CAST(round(CAST(x AS DECIMAL(38,9))) AS <int>)`, which applied
    * half-away to float/double ties where duck rounds half-EVEN): the
    * kernel dispatches the rounding rule on the resolved input type. The
    * old rationale still holds — the DECIMAL
    * intermediate is exact for the full BIGINT range (a DOUBLE route
    * would corrupt values past 2^53), accepts booleans and numeric
    * strings, errors loudly where DuckDB errors ('x'), and Spark's
    * HALF_UP round matches DuckDB's half-away on negatives. TRY_CAST uses
    * try forms throughout (NULL, never error). Runs BEFORE the
    * ClickHouse toInt32() rewrite — that surface TRUNCATES by contract
    * and must not pick up the rounding. Re-translation is idempotent
    * (the inner cast targets DECIMAL, which this pass ignores). */
  private val intCastTargets = Set("TINYINT", "SMALLINT", "INTEGER", "INT",
    "BIGINT", "HUGEINT", "INT1", "INT2", "INT4", "INT8", "SIGNED",
    "SHORT", "LONG")
  /** Functions whose VALUE is always integral in Spark — an int cast of
    * `fn(...)` needs no rounding detour, and skipping them keeps the
    * rewrite idempotent over our own emitted SQL (round-headed
    * quantizations, size(), datediff(), the integer kernels). */
  private val integralFns = Set("ROUND", "FLOOR", "CEIL", "CEILING",
    "SIZE", "CARDINALITY", "LENGTH", "CHAR_LENGTH", "CHARACTER_LENGTH",
    "INSTR", "LOCATE", "POSITION", "ASCII", "UNICODE",
    "YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND",
    "DAYOFWEEK", "DAYOFMONTH", "DAYOFYEAR", "WEEKOFYEAR", "QUARTER",
    "DATEDIFF", "COUNT", "SIGN", "FACTORIAL",
    "BIT_COUNT", "GRAFT_BIT_COUNT", "GRAFT_INT_ROUND", "GRAFT_INT_ROUND_TRY",
    "GRAFT_LEN",
    "GRAFT_DOW", "GRAFT_EPOCH_US", "GRAFT_SIGN", "GRAFT_INTDIV_EXACT",
    "GRAFT_ROUND_DBL",
    "BIT_LENGTH", "OCTET_LENGTH",
    "DAMERAU_LEVENSHTEIN", "LEVENSHTEIN", "BPE_TOKEN_COUNT",
    "GRAFT_LEVENSHTEIN", "GRAFT_MISMATCHES",
    "ASCII_CHAR_COUNT", "GCD", "LCM")
  private[dialect] def rewriteIntCastRounding(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if (id.upper == "CAST" || id.upper == "TRY_CAST") && {
              val n = nextNonWs(toks, i)
              n < toks.length && toks(n) == Punct("(")
            } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          // top-level AS inside the call
          var d = 0; var asIdx = -1
          for (j <- open + 1 until close) {
            d += depthDelta(toks(j))
            if (d == 0 && asIdx < 0 && up(toks(j)) == "AS") asIdx = j
          }
          if (asIdx > 0) {
            val tyToks = toks.slice(asIdx + 1, close).filterNot(isWs)
            val isIntTarget = tyToks.length == 1 &&
              tyToks.head.isInstanceOf[Ident] &&
              intCastTargets.contains(up(tyToks.head))
            // a top-level round()/floor()/ceil() source is already
            // integral — truncation equals rounding, and the declared
            // surface quantizes with CAST(round(x)·10^k AS BIGINT) in
            // per-row hot paths where a DECIMAL detour costs real time
            val alreadyIntegral = {
              val fnTok = nextNonWs(toks, open)
              // NULL literal needs no rounding; neither do our own
              // generated __g_* lambda/marker variables (always
              // integral where an int cast is emitted)
              (fnTok < asIdx && nextNonWs(toks, fnTok) >= asIdx &&
                (up(toks(fnTok)) == "NULL" ||
                  (toks(fnTok).isInstanceOf[Ident] &&
                    toks(fnTok).text.startsWith("__g")))) || {
                // (possibly parenthesized, possibly signed) INTEGER
                // literal — emitted constants like (4) need no rounding
                val nw = toks.slice(open + 1, asIdx).filterNot(isWs)
                nw.nonEmpty && nw.forall {
                  case Punct("(") | Punct(")") | Punct("-") | Punct("+") => true
                  case n: Num => !n.text.exists(c => c == '.' || c == 'e' || c == 'E')
                  case _ => false
                } && nw.count(_.isInstanceOf[Num]) == 1
              } ||
              (fnTok < asIdx && toks(fnTok).isInstanceOf[Ident] &&
              integralFns.contains(up(toks(fnTok))) && {
                val innerOpen = nextNonWs(toks, fnTok)
                innerOpen < asIdx && toks(innerOpen) == Punct("(") &&
                  matchParen(toks, innerOpen) == prevNonWs(toks, asIdx)
              })
            }
            if (isIntTarget && !alreadyIntegral) {
              val fn = id.upper
              val expr = render(toks.slice(open + 1, asIdx)).trim
              val ty = up(tyToks.head)
              // r10: the graft_int_round kernel dispatches the rounding
              // rule on the INPUT type (double/float half-even,
              // decimal/string half-away — the old DECIMAL(38,9) detour
              // applied half-away to everything, a silent off-by-one on
              // float ties found by the randomized query fuzzer)
              val kernel = if (fn == "TRY_CAST") "graft_int_round_try"
                else "graft_int_round"
              Some(toks.patch(i, lex(
                s"$fn($kernel($expr) AS $ty)"),
                close - i + 1))
            } else if (id.upper == "TRY_CAST" && tyToks.length == 1 &&
                up(tyToks.head) == "BOOLEAN") {
              // r10 fuzz batch 6, probe-pinned: DuckDB's string→BOOLEAN
              // accepts only true/false/t/f/1/0, case-insensitive, NO
              // whitespace trim — Spark additionally takes yes/y/no/n
              // and trims, a silent wrong answer through try_cast.
              // Implemented as an explicit value map over the
              // stringified input (an inner TRY_CAST would re-capture;
              // plain CAST string→boolean THROWS in Spark even
              // non-ANSI). Residue: a non-0/1 NUMERIC input stringifies
              // past the map and returns NULL where DuckDB gives
              // nonzero→true — narrower than the yes/no bug and only
              // for try_cast(<float> AS BOOLEAN), documented here.
              val expr = render(toks.slice(open + 1, asIdx)).trim
              val s = s"lower(CAST(($expr) AS STRING))"
              Some(toks.patch(i, lex(
                s"(CASE WHEN $s IN ('true', 't', '1') THEN true " +
                  s"WHEN $s IN ('false', 'f', '0') THEN false " +
                  s"ELSE CAST(NULL AS BOOLEAN) END)"),
                close - i + 1))
            } else None
          } else None
        case Punct("::") =>
          val tIdx = nextNonWs(toks, i)
          val after = if (tIdx < toks.length) nextNonWs(toks, tIdx) else toks.length
          val isIntTarget = tIdx < toks.length &&
            toks(tIdx).isInstanceOf[Ident] &&
            intCastTargets.contains(up(toks(tIdx))) &&
            (after >= toks.length || toks(after) != Punct("("))
          val lEnd = prevNonWs(toks, i)
          if (isIntTarget && lEnd >= 0) {
            val lStart = primaryStart(toks, lEnd)
            val l = render(toks.slice(lStart, lEnd + 1)).trim
            val ty = up(toks(tIdx))
            Some(toks.patch(lStart, lex(
              s"CAST(graft_int_round(($l)) AS $ty)"),
              tIdx - lStart + 1))
          } else None
        case _ => None
      }
    }

  /** DuckDB casts to DECIMAL(p,s) dispatch rounding on the INPUT type
    * (r13 dec fuzz — the ninth mode's first-batch headline): a DECIMAL
    * source TRUNCATES extra scale digits (2.555→(38,2)→2.55) where
    * Spark rounds HALF_UP (2.56) — a silent wrong answer on every
    * downscale tie; DOUBLE sources round half-up on the exact BINARY
    * value where Spark rounds the shortest decimal rendering. CAST and
    * TRY_CAST (and their `::` suffix spellings) whose operand slice
    * carries DECIMAL risk (the rewriteDivMod containment-scan
    * convention — a dotted literal, DECIMAL/NUMERIC ident, or catalog
    * DECIMAL column) become `graft_dec_cast[_try]((x), p, s)`, a
    * type-dispatched codegen kernel. Non-risky operands keep Spark's
    * Cast (those sources can only be double/int/string, where the
    * HALF_UP forms already probe-match except the binary-vs-shortest
    * knife edge, documented in the SURVEY register). A bare DECIMAL /
    * NUMERIC target is duck's DECIMAL(18,3) (probed — Spark's default
    * is (10,0)), rewritten for risky operands; DECIMAL(p) is (p,0) in
    * both engines. Runs AFTER rewriteCastFuncs so toDecimal()'s emitted
    * casts get the same treatment, and the emission is an opaque kernel
    * call, so the translate∘translate fixpoint holds. */
  private[dialect] def rewriteDecCast(toks0: Vector[Tok],
      isDecimalCol: String => Boolean = _ => false): Vector[Tok] = {
    var toks = toks0
    // target type tokens → Some((p, s)) when a DECIMAL/NUMERIC target
    def decTarget(tyToks: Seq[Tok]): Option[(Int, Int)] = {
      val nw = tyToks.filterNot(isWs).toList
      nw match {
        case (t: Ident) :: Nil
            if t.upper == "DECIMAL" || t.upper == "NUMERIC" =>
          Some((18, 3)) // duck's bare-DECIMAL default
        case (t: Ident) :: Punct("(") :: (pn: Num) :: Punct(")") :: Nil
            if (t.upper == "DECIMAL" || t.upper == "NUMERIC") &&
              pn.text.forall(_.isDigit) =>
          Some((pn.text.toInt, 0))
        case (t: Ident) :: Punct("(") :: (pn: Num) :: Punct(",") ::
            (sn: Num) :: Punct(")") :: Nil
            if (t.upper == "DECIMAL" || t.upper == "NUMERIC") &&
              pn.text.forall(_.isDigit) && sn.text.forall(_.isDigit) =>
          Some((pn.text.toInt, sn.text.toInt))
        case _ => None
      }
    }
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if (id.upper == "CAST" || id.upper == "TRY_CAST") && {
              val n = nextNonWs(toks, i)
              n < toks.length && toks(n) == Punct("(")
            } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          var d = 0; var asIdx = -1
          for (j <- open + 1 until close) {
            d += depthDelta(toks(j))
            if (d == 0 && asIdx < 0 && up(toks(j)) == "AS") asIdx = j
          }
          if (asIdx > 0) {
            val srcToks = toks.slice(open + 1, asIdx)
            decTarget(toks.slice(asIdx + 1, close)) match {
              case Some((p, s))
                  if decimalRiskToks(srcToks, isDecimalCol) =>
                val kernel = if (id.upper == "TRY_CAST") "graft_dec_cast_try"
                  else "graft_dec_cast"
                Some(toks.patch(i,
                  lex(s"$kernel((${render(srcToks).trim}), $p, $s)"),
                  close - i + 1))
              case _ => None
            }
          } else None
        case Punct("::") =>
          // x::DECIMAL(p,s) — Spark parses :: natively, so the suffix
          // form survives to runtime unless rewritten here
          val tIdx = nextNonWs(toks, i)
          if (tIdx < toks.length && toks(tIdx).isInstanceOf[Ident] &&
              (up(toks(tIdx)) == "DECIMAL" || up(toks(tIdx)) == "NUMERIC")) {
            val after = nextNonWs(toks, tIdx)
            val tyEnd =
              if (after < toks.length && toks(after) == Punct("("))
                matchParen(toks, after)
              else tIdx
            val lEnd = prevNonWs(toks, i)
            if (lEnd >= 0) {
              val lStart = primaryStart(toks, lEnd)
              val srcToks = toks.slice(lStart, lEnd + 1)
              decTarget(toks.slice(tIdx, tyEnd + 1)) match {
                case Some((p, s))
                    if decimalRiskToks(srcToks, isDecimalCol) =>
                  Some(toks.patch(lStart,
                    lex(s"graft_dec_cast((${render(srcToks).trim}), $p, $s)"),
                    tyEnd - lStart + 1))
                case _ => None
              }
            } else None
          } else None
        case _ => None
      }
    }
  }

  /** DECIMAL(38,·)-mix comparison pre-widen (r14, VERDICT r13 #4 —
    * closing the dec3.18 allowlist cell). Spark's comparison coercion
    * for DECIMAL(38,s1) vs DECIMAL(38,s2) caps the common type at
    * precision 38 and REDUCES the scale to min(s1,s2) — the compare
    * sees truncated values — where duck compares cross-scale exactly.
    * Catalyst does not expose coercion provenance, so the closure is
    * token-level: when BOTH operand slices of a comparison are HEADED
    * by a precision-38 producer (a `CAST(… AS DECIMAL(38,s))` /
    * `graft_dec_cast(…, 38, s)` spanning the whole slice — this pass
    * runs after rewriteDecCast; r15 ADVICE fix: a merely *visible*
    * inner spelling under a type-changing wrapper no longer fires) with
    * DIFFERING scales, wrap EACH side in `graft_dec_cast((side), 38,
    * smax)` — upscale is exact, both sides then meet at the same type
    * and no coercion fires. Values with more
    * than 38−smax integer digits overflow LOUDLY where duck would
    * compare silently (documented residual — trades a silent wrong
    * answer for an error on a magnitude the fixture never reaches).
    * Fixpoint-safe: after the wrap both sides' max scale is smax. */
  private[dialect] def rewriteDecCompare(toks0: Vector[Tok]): Vector[Tok] = {
    val cmpOps = Set("<", ">", "<=", ">=", "=", "<>", "!=", "==")
    // expression boundaries at comparison precedence (walking outward)
    val boundIds = Set("AND", "OR", "NOT", "WHERE", "THEN", "WHEN", "ELSE",
      "END", "CASE", "ON", "HAVING", "SELECT", "FROM", "GROUP", "ORDER",
      "LIMIT", "OFFSET", "JOIN", "UNION", "INTERSECT", "EXCEPT", "BY",
      "AS", "IS", "IN", "LIKE", "ILIKE", "GLOB", "BETWEEN", "ESCAPE",
      "ASC", "DESC", "NULLS", "OVER", "PARTITION", "DISTINCT", "ALL",
      "ANY", "SOME", "EXISTS", "RETURNING", "SET", "VALUES", "QUALIFY",
      "WINDOW", "SEMI", "ANTI", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
      "USING", "FILTER")
    def leftBound(toks: Vector[Tok], i: Int): Int = {
      var j = i - 1; var depth = 0; var start = i
      var go = true
      while (go && j >= 0) {
        toks(j) match {
          case Punct(")") => depth += 1; start = j
          case Punct("(") =>
            if (depth == 0) go = false else { depth -= 1; start = j }
          case Punct(",") | Punct(";") if depth == 0 => go = false
          case Punct(p) if depth == 0 && cmpOps(p) => go = false
          case id: Ident if depth == 0 && boundIds(id.upper) => go = false
          case t if isWs(t) => // skip, don't move start
          case _ => start = j
        }
        if (go) j -= 1
      }
      start
    }
    def rightBound(toks: Vector[Tok], i: Int): Int = {
      var j = i + 1; var depth = 0; var end = i
      var go = true
      while (go && j < toks.length) {
        toks(j) match {
          case Punct("(") => depth += 1; end = j
          case Punct(")") =>
            if (depth == 0) go = false else { depth -= 1; end = j }
          case Punct(",") | Punct(";") if depth == 0 => go = false
          case Punct(p) if depth == 0 && cmpOps(p) => go = false
          case id: Ident if depth == 0 && boundIds(id.upper) => go = false
          case t if isWs(t) =>
          case _ => end = j
        }
        if (go) j += 1
      }
      end
    }
    // the scale of a precision-38 spelling ONLY when it is the
    // operand's HEAD producer — the outermost expression covering the
    // whole slice (r15, ADVICE r14 #3: keying on any *visible* spelling
    // wrapped DOUBLE-typed operands like `CAST(CAST(a AS DECIMAL(38,6))
    // AS DOUBLE)` in a rounding DECIMAL compare, flipping knife-edge
    // results and raising loud errors past 1e32 where duck compares
    // silently). Recognized heads: CAST/TRY_CAST(… AS DECIMAL(38,s))
    // spanning the slice, graft_dec_cast[_try]((…), 38, s) spanning the
    // slice (this pass runs after rewriteDecCast), a trailing
    // `:: DECIMAL(38,s)` suffix at depth 0, and any of these wrapped in
    // redundant outer parens. Anything else — arithmetic over casts,
    // intervening type-changing wrappers — returns None and the compare
    // is left to Spark's coercion (the pre-r14 documented divergence,
    // strictly safer than a wrong rewrite).
    def dec38HeadScale(toks: Vector[Tok], from0: Int, to0: Int): Option[Int] = {
      var from = from0
      var to = to0
      // strip redundant outer parens covering the whole slice
      var stripping = true
      while (stripping) {
        val f = if (isWs(toks(from))) nextNonWs(toks, from) else from
        val t = if (isWs(toks(to))) prevNonWs(toks, to) else to
        if (f < t && toks(f) == Punct("(") && matchParen(toks, f) == t) {
          from = f + 1; to = t - 1
        } else { from = f; to = t; stripping = false }
      }
      if (from > to) return None
      // (a trailing `::DECIMAL(38,s)` suffix is NOT recognized: `::`
      // binds to the preceding primary, not the slice, so head-ness
      // can't be decided without a precedence walk — and rewriteDecCast
      // already kernel-izes every risky `::` spelling. Conservative
      // None → Spark coercion, the documented pre-r14 divergence.)
      toks(from) match {
        case id: Ident if id.upper == "CAST" || id.upper == "TRY_CAST" =>
          val o = nextNonWs(toks, from)
          if (o <= to && toks(o) == Punct("(") && matchParen(toks, o) == to) {
            // the AS at depth 1 inside the covering paren
            var d = 0; var asIdx = -1
            for (j <- (o + 1) until to) {
              toks(j) match {
                case Punct("(") => d += 1
                case Punct(")") => d -= 1
                case _ =>
              }
              if (d == 0 && asIdx < 0 && up(toks(j)) == "AS") asIdx = j
            }
            if (asIdx > 0)
              toks.slice(asIdx + 1, to).filterNot(isWs).toList match {
                case (t: Ident) :: Punct("(") :: (pn: Num) :: Punct(",") ::
                    (sn: Num) :: Punct(")") :: Nil
                    if (t.upper == "DECIMAL" || t.upper == "NUMERIC") &&
                      pn.text == "38" && sn.text.forall(_.isDigit) =>
                  return Some(sn.text.toInt)
                case _ =>
              }
          }
          None
        case id: Ident
            if id.upper == "GRAFT_DEC_CAST" ||
              id.upper == "GRAFT_DEC_CAST_TRY" =>
          val o = nextNonWs(toks, from)
          if (o <= to && toks(o) == Punct("(") && matchParen(toks, o) == to) {
            val sTok = prevNonWs(toks, to)
            val c1 = prevNonWs(toks, sTok)
            val pTok = prevNonWs(toks, c1)
            (toks.lift(pTok), toks.lift(c1), toks.lift(sTok)) match {
              case (Some(p: Num), Some(Punct(",")), Some(s: Num))
                  if p.text == "38" => return Some(s.text.toInt)
              case _ =>
            }
          }
          None
        case _ => None
      }
    }
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case Punct(op) if cmpOps(op) =>
          val (ls, rs) = (leftBound(toks, i), rightBound(toks, i))
          val (lEnd, rStart) = (prevNonWs(toks, i), nextNonWs(toks, i))
          if (ls <= lEnd && rStart <= rs) {
            val sl = dec38HeadScale(toks, ls, lEnd)
            val sr = dec38HeadScale(toks, rStart, rs)
            if (sl.nonEmpty && sr.nonEmpty && sl.get != sr.get) {
              val smax = math.max(sl.get, sr.get)
              val lTxt = render(toks.slice(ls, lEnd + 1)).trim
              val rTxt = render(toks.slice(rStart, rs + 1)).trim
              // right first so left indices stay valid
              Some(toks.patch(rStart,
                lex(s"graft_dec_cast(($rTxt), 38, $smax)"), rs - rStart + 1)
                .patch(ls, lex(s"graft_dec_cast(($lTxt), 38, $smax)"), lEnd - ls + 1))
            } else None
          } else None
        case _ => None
      }
    }
  }

  /** ClickHouse-style `toString(x)`/`toInt32(x)`… (chsql macro surface,
    * `/root/reference/main.py:83-86`) → `CAST(x AS T)`. */
  private val castFuncs = Map(
    "TOSTRING" -> "STRING", "TOINT8" -> "TINYINT", "TOINT16" -> "SMALLINT",
    "TOINT32" -> "INT", "TOINT64" -> "BIGINT", "TOFLOAT32" -> "FLOAT",
    "TOFLOAT64" -> "DOUBLE", "TODATE" -> "DATE", "TODATETIME" -> "TIMESTAMP",
    "TOBOOL" -> "BOOLEAN", "TODECIMAL" -> "DECIMAL(38,9)",
    // unsigned family: Spark has no unsigned types — widen to the next signed
    // type that holds the full range (toUInt64 → DECIMAL(20,0), the only
    // Spark type covering 2^64-1). IN-RANGE-ONLY contract (documented,
    // SURVEY §2.12): ClickHouse wraps out-of-range inputs modularly
    // (toUInt8(300) = 44); the widening cast preserves the value instead.
    // Consistent with the signed toX family's existing convention — no
    // pmod wrapping is emitted because the chsql surface feeds in-range
    // values and a silent mod-256 of a genuine overflow is worse than the
    // widened value.
    "TOUINT8" -> "SMALLINT", "TOUINT16" -> "INT", "TOUINT32" -> "BIGINT",
    "TOUINT64" -> "DECIMAL(20,0)")
  private[dialect] def rewriteCastFuncs(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if castFuncs.contains(id.upper) =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            toks = toks
              .patch(close, Seq(Ident(s" AS ${castFuncs(id.upper)}"), Punct(")")), 1)
              .patch(i, Seq(Ident("CAST")), 1)
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** Quantified subquery comparisons `x <op> ANY|ALL|SOME (SELECT …)` —
    * Spark's parser has none of them. `= ANY` → `IN`, `<> ALL` → `NOT IN`
    * (exact SQL equivalences); the inequality forms become extremum
    * comparisons with count guards that reproduce the full three-valued
    * probe table (DuckDB 1.0): empty set → ALL TRUE / ANY FALSE; a
    * non-extremum decision with NULL elements present → NULL (e.g.
    * `0 > ANY {1, NULL}` is NULL, `3 > ALL {1, NULL}` is NULL, but
    * `3 > ALL {5, NULL}` is FALSE — false dominates ALL, true dominates
    * ANY). The subquery is spliced once per aggregate; Spark's
    * ReuseSubquery collapses the identical plans. `= ALL` / `<> ANY`
    * (r8) become the count-guarded min=max=x CASE — see inline. */
  private[dialect] def rewriteAnyAll(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if Set("ANY", "ALL", "SOME").contains(id.upper) =>
          val opIdx = prevNonWs(toks, i)
          val open = nextNonWs(toks, i)
          val op = if (opIdx >= 0) toks(opIdx) match {
            case Punct(p) if Set(">", "<", ">=", "<=", "=", "<>", "!=").contains(p) => p
            case _ => ""
          } else ""
          val isSub = open < toks.length && toks(open) == Punct("(") && {
            val k = nextNonWs(toks, open)
            k < toks.length && (up(toks(k)) == "SELECT" || up(toks(k)) == "WITH" ||
              up(toks(k)) == "FROM")
          }
          if (op.nonEmpty && isSub) {
            val close = matchParen(toks, open)
            // the LHS is the full additive/concat expression (comparison
            // binds loosest): walk back over operator-connected primaries
            // so `'p' || c = ANY (…)` captures `'p' || c`, not just `c`
            var lhsStart = primaryStart(toks, prevNonWs(toks, opIdx))
            var extending = true
            while (extending) {
              val p = prevNonWs(toks, lhsStart)
              val isBinOp = p >= 0 && (toks(p) match {
                case Punct(o2) => Set("||", "+", "-", "*", "/", "%", "^",
                  "//", "&", "|").contains(o2)
                case _ => false
              })
              if (isBinOp && prevNonWs(toks, p) >= 0)
                lhsStart = primaryStart(toks, prevNonWs(toks, p))
              else extending = false
            }
            val x = render(toks.slice(lhsStart, opIdx)).trim
            val sub = render(toks.slice(open + 1, close)).trim
            val isAll = id.upper == "ALL"
            val repl: Option[String] = (op, isAll) match {
              case ("=", false) => Some(s"(($x) IN ($sub))")
              case (o, true) if o == "<>" || o == "!=" =>
                Some(s"(($x) NOT IN ($sub))")
              case (o, all) if o == "=" && all ||
                  (o == "<>" || o == "!=") && !all =>
                // `x = ALL s` (r8, probe-pinned on DuckDB 1.0): empty →
                // TRUE; a DEFINITE differing non-null element → FALSE
                // (min<>x OR max<>x is only TRUE when x is non-null and
                // an extremum differs — dominates NULL elements, e.g.
                // 1 = ALL {2, NULL} is FALSE); otherwise NULL elements
                // or a NULL x leave it undecided → NULL (1 = ALL
                // {1, NULL} is NULL, as is the all-NULL set); else all
                // non-null and equal → TRUE. `x <> ANY s` is exactly
                // NOT(x = ALL s) in three-valued logic (empty → FALSE),
                // so it swaps the TRUE/FALSE arms of the same CASE.
                // The whole decision is ONE scalar subquery over a
                // one-row aggregate (count/non-null/min/max) — spliced
                // per-aggregate forms decorrelate into one join EACH
                // (measured 1.11 s → this form at sf≈1 q191).
                val (onAll, onNone) = if (all) ("TRUE", "FALSE") else ("FALSE", "TRUE")
                Some(s"((SELECT CASE WHEN __g_c = 0 THEN $onAll " +
                  s"WHEN __g_mn <> ($x) OR __g_mx <> ($x) THEN $onNone " +
                  s"WHEN __g_c > __g_nn OR ($x) IS NULL THEN CAST(NULL AS BOOLEAN) " +
                  s"ELSE $onAll END FROM (SELECT count(*) AS __g_c, " +
                  s"count(__g_c0) AS __g_nn, min(__g_c0) AS __g_mn, " +
                  s"max(__g_c0) AS __g_mx FROM ($sub) __g_q(__g_c0))))")
              case (o, all) if Set(">", "<", ">=", "<=").contains(o) =>
                // ALL compares against the failing-side extremum; ANY
                // against the succeeding-side one. Kept as per-aggregate
                // scalar subqueries: Catalyst's MergeScalarSubqueries
                // consolidates the identical-FROM aggregates, and the
                // measured correlated form (q180 sf≈1) runs 2.6× faster
                // this way than the one-subquery CASE the = ALL path
                // uses (where the inverse held — both are pinned).
                val ext = (o.startsWith(">") == all)
                val extFn = if (ext) "max" else "min"
                val cnt = s"(SELECT count(*) FROM ($sub) __g_q(__g_c))"
                val nulls = s"(SELECT count(*) - count(__g_c) FROM ($sub) __g_q(__g_c))"
                val cmp = s"(($x) $o (SELECT $extFn(__g_c) FROM ($sub) __g_q(__g_c)))"
                val empty = if (all) "TRUE" else "FALSE"
                // the decided side dominates (FALSE for ALL, TRUE for
                // ANY) even with NULL elements; the undecided side goes
                // NULL when NULL elements exist; a NULL cmp (NULL x or
                // all-NULL set) falls through to ELSE = NULL
                val gate = if (all) cmp else s"(NOT $cmp)"
                Some(s"(CASE WHEN $cnt = 0 THEN $empty " +
                  s"WHEN $gate AND $nulls > 0 THEN CAST(NULL AS BOOLEAN) " +
                  s"ELSE $cmp END)")
              case _ => None
            }
            repl.map(r => toks.patch(lhsStart, lex(r), close - lhsStart + 1))
          } else None
        case _ => None
      }
    }

  /** `agg(v) FILTER (WHERE c) OVER (…)` — Spark supports FILTER only on
    * grouped aggregates, not window functions. For the single-argument
    * aggregates (and count(*)), a CASE-wrapped argument is exactly
    * equivalent (probe-pinned: filtered-empty frames give SUM NULL /
    * COUNT 0, which the NULL-skipping aggregate over the CASE reproduces);
    * for the two-argument pair-skipping family (corr/covar/regr_*, r8)
    * wrapping BOTH arguments is exact. Other aggregates (first/last/
    * any_value/array_agg — NOT null-skipping) keep the clause and fail
    * loudly. */
  private[dialect] def rewriteWindowFilter(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if id.upper == "FILTER" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val afterClose = nextNonWs(toks, close)
            val isWindow = afterClose < toks.length && up(toks(afterClose)) == "OVER"
            val inner = toks.slice(open + 1, close)
            val wIdx = inner.indexWhere(!isWs(_))
            if (isWindow && wIdx >= 0 && up(inner(wIdx)) == "WHERE") {
              val cond = render(inner.slice(wIdx + 1, inner.length)).trim
              val closeArgs = prevNonWs(toks, i)
              if (closeArgs >= 0 && toks(closeArgs) == Punct(")")) {
                val openArgs = openOf(toks, closeArgs)
                val fnIdx = prevNonWs(toks, openArgs)
                val fn = if (fnIdx >= 0) up(toks(fnIdx)) else ""
                val args = splitTopLevel(toks.slice(openArgs + 1, closeArgs))
                val arg = if (args.length == 1) render(args(0)).trim else ""
                // whitelist: the CASE wrap is equivalent only for NULL-
                // SKIPPING aggregates — first/last/any_value/array_agg
                // would silently change results (review finding), so
                // they keep the clause and fail loudly
                val nullSkipping = Set("SUM", "COUNT", "AVG", "MIN", "MAX",
                  "STDDEV", "STDDEV_SAMP", "STDDEV_POP", "VAR_SAMP",
                  "VAR_POP", "VARIANCE")
                // pair-skipping aggregates (r8) drop a row iff EITHER
                // argument is NULL, so CASE-wrapping BOTH arguments with
                // the same predicate is exact (cond FALSE/NULL → both
                // NULL → skipped, matching FILTER's exclusion)
                val pairSkipping = Set("CORR", "COVAR_POP", "COVAR_SAMP",
                  "REGR_SLOPE", "REGR_INTERCEPT", "REGR_R2", "REGR_AVGX",
                  "REGR_AVGY", "REGR_SXX", "REGR_SYY", "REGR_SXY",
                  "REGR_COUNT")
                val repl =
                  if (fn == "COUNT" && arg == "*")
                    Some(s"count(CASE WHEN ($cond) THEN 1 END)")
                  else if (args.length == 1 && nullSkipping.contains(fn) && arg != "*")
                    Some(s"${fn.toLowerCase}(CASE WHEN ($cond) THEN ($arg) END)")
                  else if (args.length == 2 && pairSkipping.contains(fn))
                    Some(s"${fn.toLowerCase}(" +
                      s"CASE WHEN ($cond) THEN (${render(args(0)).trim}) END, " +
                      s"CASE WHEN ($cond) THEN (${render(args(1)).trim}) END)")
                  else None
                // replace fn(args) FILTER (…) with the CASE form,
                // keeping OVER (…) untouched
                repl.map(r => toks.patch(fnIdx, lex(r), close - fnIdx + 1))
              } else None
            } else None
          } else None
        case _ => None
      }
    }

  /** `agg(v) OVER (spec EXCLUDE CURRENT ROW|GROUP|TIES)` → frame aggregate
    * minus the excluded contribution, for SUM/COUNT/AVG (Spark has no
    * frame exclusion). Probe-pinned on DuckDB 1.0 incl. the NULL edges:
    * when the post-exclusion frame has no non-NULL values, SUM/AVG are
    * NULL — hence the count-guard, not a bare subtraction (which would
    * yield 0). GROUP/TIES (r8) subtract the whole ORDER-BY peer group
    * (TIES re-adds the current row), valid exactly for RANGE BETWEEN
    * frames straddling the current value — such frames contain every
    * peer; ROWS frames intersect the group (probe-pinned) and stay loud,
    * as do other aggregates (declared gaps, never silent). */
  private[dialect] def rewriteWindowExclude(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if id.upper == "OVER" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val spec = toks.slice(open + 1, close)
            // top-level EXCLUDE CURRENT ROW inside the spec
            var d = 0; var ex = -1
            for (j <- spec.indices) {
              d += depthDelta(spec(j))
              if (d == 0 && ex < 0 && up(spec(j)) == "EXCLUDE") ex = j
            }
            if (ex >= 0) {
              val exNext = nextNonWs(spec, ex)
              val exNext2 = if (exNext < spec.length) nextNonWs(spec, exNext) else spec.length
              val isCurrentRow = exNext < spec.length &&
                up(spec(exNext)) == "CURRENT" && exNext2 < spec.length &&
                up(spec(exNext2)) == "ROW"
              // EXCLUDE GROUP / EXCLUDE TIES (r8): peers of the current
              // row by the ORDER BY keys leave (GROUP) or all-but-self
              // leave (TIES)
              val kind =
                if (isCurrentRow) "ROW"
                else if (exNext < spec.length && up(spec(exNext)) == "GROUP") "GROUP"
                else if (exNext < spec.length && up(spec(exNext)) == "TIES") "TIES"
                else ""
              val exEnd = if (kind == "ROW") exNext2 else exNext
              // the aggregate call directly before OVER
              val closeArgs = prevNonWs(toks, i)
              if (kind.nonEmpty && closeArgs >= 0 && toks(closeArgs) == Punct(")")) {
                val openArgs = openOf(toks, closeArgs)
                val fnIdx = prevNonWs(toks, openArgs)
                val fn = if (fnIdx >= 0) up(toks(fnIdx)) else ""
                val specNoExToks = spec.slice(0, ex) ++
                  spec.slice(exEnd + 1, spec.length)
                val specNoEx = render(specNoExToks).trim
                // a frame that provably never CONTAINS the current row
                // (both bounds PRECEDING, or both FOLLOWING) makes
                // EXCLUDE CURRENT ROW a NO-OP in DuckDB — a subtraction
                // would be silently off by the current row's value.
                // Detected token-wise so multi-token bounds
                // (INTERVAL '2' DAY PRECEDING) are classified correctly:
                // each frame bound ENDS in PRECEDING/FOLLOWING/ROW, so the
                // last keyword before the frame's AND and the spec's final
                // keyword pin the two bounds regardless of bound arity.
                def topIdx(word: String): Int = {
                  var d2 = 0; var r = -1
                  for (j <- specNoExToks.indices) {
                    d2 += depthDelta(specNoExToks(j))
                    if (d2 == 0 && r < 0 && up(specNoExToks(j)) == word) r = j
                  }
                  r
                }
                val (b1, b2) = {
                  val bet = topIdx("BETWEEN")
                  if (bet < 0) ("", "")
                  else {
                    var d3 = 0; var andIdx = -1
                    for (j <- bet + 1 until specNoExToks.length) {
                      d3 += depthDelta(specNoExToks(j))
                      if (d3 == 0 && andIdx < 0 && up(specNoExToks(j)) == "AND") andIdx = j
                    }
                    if (andIdx < 0) ("", "")
                    else {
                      val k = prevNonWs(specNoExToks, andIdx)
                      val p = prevNonWs(specNoExToks, specNoExToks.length)
                      (if (k >= 0) up(specNoExToks(k)) else "",
                        if (p >= 0) up(specNoExToks(p)) else "")
                    }
                  }
                }
                // offset of the bound NEAREST the current row (end bound
                // for both-PRECEDING, start bound for both-FOLLOWING):
                // a 0 offset means the frame touches the current row
                // (ROWS) / its value and peers (RANGE), so nothing is
                // provably excluded-free.
                def boundOffsetTok(endKwIdx: Int): String = {
                  val v = prevNonWs(specNoExToks, endKwIdx)
                  if (v >= 0) render(Vector(specNoExToks(v))).trim else ""
                }
                val nearestZero = {
                  val bet = topIdx("BETWEEN")
                  if (bet < 0) false
                  else {
                    var d3 = 0; var andIdx = -1
                    for (j <- bet + 1 until specNoExToks.length) {
                      d3 += depthDelta(specNoExToks(j))
                      if (d3 == 0 && andIdx < 0 && up(specNoExToks(j)) == "AND") andIdx = j
                    }
                    if (andIdx < 0) false
                    else if (b1 == "PRECEDING" && b2 == "PRECEDING")
                      boundOffsetTok(prevNonWs(specNoExToks, specNoExToks.length)) == "0"
                    else if (b1 == "FOLLOWING" && b2 == "FOLLOWING")
                      boundOffsetTok(prevNonWs(specNoExToks, andIdx)) == "0"
                    else false
                  }
                }
                val bothSided =
                  ((b1 == "PRECEDING" && b2 == "PRECEDING") ||
                    (b1 == "FOLLOWING" && b2 == "FOLLOWING")) && !nearestZero
                // CURRENT ROW: such a frame never holds the current row.
                // GROUP/TIES: peers share the ORDER value, so only a
                // RANGE frame (value-bounded) provably excludes them —
                // a ROWS frame 3 PRECEDING..1 PRECEDING can still hold
                // peer rows (advice r8: silent keep). ROWS GROUP/TIES
                // falls through to the loud branch.
                val noOp = bothSided &&
                  (kind == "ROW" || topIdx("RANGE") >= 0)
                if (noOp) {
                  // a frame that provably never contains the current
                  // row's ORDER value holds neither it nor its peers —
                  // EXCLUDE (any kind) is a no-op (probe-pinned)
                  Some(toks.patch(open, lex(s"($specNoEx)"), close - open + 1))
                } else if (kind == "ROW" && Set("SUM", "COUNT", "AVG").contains(fn)) {
                  val arg = render(toks.slice(openArgs + 1, closeArgs)).trim
                  val specSql = specNoEx
                  val repl =
                    if (fn == "COUNT" && arg == "*")
                      s"(count(*) OVER ($specSql) - 1)"
                    else if (fn == "COUNT")
                      s"(count($arg) OVER ($specSql) - CASE WHEN ($arg) IS NOT NULL THEN 1 ELSE 0 END)"
                    else {
                      val cnt = s"(count($arg) OVER ($specSql) - CASE WHEN ($arg) IS NOT NULL THEN 1 ELSE 0 END)"
                      val sum = s"(sum($arg) OVER ($specSql) - coalesce(($arg), 0))"
                      if (fn == "SUM")
                        s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum END)"
                      else
                        s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum / $cnt END)"
                    }
                  Some(toks.patch(fnIdx, lex(repl), close - fnIdx + 1))
                } else if ((kind == "GROUP" || kind == "TIES") &&
                    Set("SUM", "COUNT", "AVG").contains(fn) &&
                    topIdx("RANGE") >= 0 &&
                    (b1 == "PRECEDING" || b1 == "ROW") &&
                    (b2 == "FOLLOWING" || b2 == "ROW")) {
                  // A RANGE frame whose bounds straddle the current ORDER
                  // value contains EVERY peer (they share the value), so
                  // excluded-group aggregates are frame-aggregate minus
                  // the WHOLE-PARTITION peer-group aggregate (window
                  // partitioned by partition keys + order keys, no
                  // frame = whole partition); TIES adds the current row
                  // back. ROWS frames intersect the peer group
                  // (probe-pinned: only in-frame peers leave) and cannot
                  // be expressed this way — they stay loud.
                  val partIdx = topIdx("PARTITION")
                  val orderIdx = topIdx("ORDER")
                  val rangeIdx = topIdx("RANGE")
                  if (orderIdx >= 0 && rangeIdx > orderIdx) {
                    val partSql =
                      if (partIdx >= 0) {
                        val byIdx = nextNonWs(specNoExToks, partIdx)
                        render(specNoExToks.slice(byIdx + 1,
                          if (orderIdx >= 0) orderIdx else rangeIdx)).trim
                      } else ""
                    val byIdx2 = nextNonWs(specNoExToks, orderIdx)
                    val orderSec = specNoExToks.slice(byIdx2 + 1, rangeIdx)
                    val orderKeys = splitTopLevel(orderSec).map { key =>
                      var ks = key.filterNot(isWs)
                      def lastUp = if (ks.nonEmpty) up(ks.last) else ""
                      while (Set("ASC", "DESC", "FIRST", "LAST", "NULLS")
                          .contains(lastUp)) ks = ks.dropRight(1)
                      render(ks).trim
                    }.filter(_.nonEmpty)
                    val grpKeys =
                      (if (partSql.nonEmpty) Seq(partSql) else Nil) ++ orderKeys
                    val grp = s"PARTITION BY ${grpKeys.mkString(", ")}"
                    val arg = render(toks.slice(openArgs + 1, closeArgs)).trim
                    val specSql = specNoEx
                    val ties = kind == "TIES"
                    val repl =
                      if (fn == "COUNT" && arg == "*")
                        s"(count(*) OVER ($specSql) - count(*) OVER ($grp)" +
                          (if (ties) " + 1)" else ")")
                      else if (fn == "COUNT")
                        s"(count($arg) OVER ($specSql) - count($arg) OVER ($grp)" +
                          (if (ties) s" + CASE WHEN ($arg) IS NOT NULL THEN 1 ELSE 0 END)" else ")")
                      else {
                        val cnt = s"(count($arg) OVER ($specSql) - count($arg) OVER ($grp)" +
                          (if (ties) s" + CASE WHEN ($arg) IS NOT NULL THEN 1 ELSE 0 END)" else ")")
                        val sum = s"(sum($arg) OVER ($specSql) - coalesce(sum($arg) OVER ($grp), 0)" +
                          (if (ties) s" + coalesce(($arg), 0))" else ")")
                        if (fn == "SUM")
                          s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum END)"
                        else
                          s"(CASE WHEN $cnt = 0 THEN NULL ELSE $sum / $cnt END)"
                      }
                    Some(toks.patch(fnIdx, lex(repl), close - fnIdx + 1))
                  } else None
                } else None
              } else None
            } else None
          } else None
        case _ => None
      }
    }


  /** Literal separator → Spark regex-string form. Under
    * escapedStringLiterals=true (r10) the string parser is verbatim, so
    * only the REGEX level needs escaping: one backslash per metachar, two
    * for a literal backslash. (The pre-r10 form carried four source
    * backslashes — one level for the old escape-eating parser.) */
  private def regexLiteralSep(sep: String): String =
    sep.flatMap { c =>
      if (c == '\\') "\\\\"
      else if (".[]{}()*+?^$|".contains(c)) "\\" + c
      else c.toString
    }.replace("'", "''")

  /** `string_agg(x, d ORDER BY k)` → `listagg(x, d) WITHIN GROUP (ORDER BY k)`. */
  private[dialect] def rewriteStringAgg(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if orderInsensitiveAggs.contains(id.upper) && {
            val open = nextNonWs(toks, i)
            open < toks.length && toks(open) == Punct("(") && {
              val close = matchParen(toks, open)
              var d = 0; var ob = -1
              for (j <- open to close) {
                d += depthDelta(toks(j))
                if (d == 1 && ob < 0 && up(toks(j)) == "ORDER") ob = j
              }
              ob > 0 && { val by = nextNonWs(toks, ob)
                by < close && up(toks(by)) == "BY" }
            }
          } =>
          // r10 batch 12: duck accepts ORDER BY inside ANY aggregate; for
          // order-INSENSITIVE heads (sum/avg/min/max/count/moments) the
          // clause is a semantic no-op — strip it (Spark's parser rejects
          // the in-call ORDER BY these would otherwise reach)
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          var d0 = 0; var ob0 = -1
          for (j <- open to close) {
            d0 += depthDelta(toks(j))
            if (d0 == 1 && ob0 < 0 && up(toks(j)) == "ORDER") ob0 = j
          }
          toks = toks.patch(ob0, Vector.empty, close - ob0)
        case id: Ident if (id.upper == "ANY_VALUE" || id.upper == "ARBITRARY") && {
            val open = nextNonWs(toks, i)
            open < toks.length && toks(open) == Punct("(") && {
              val close = matchParen(toks, open)
              var d = 0; var ob = -1
              for (j <- open to close) {
                d += depthDelta(toks(j))
                if (d == 1 && ob < 0 && up(toks(j)) == "ORDER") ob = j
              }
              ob > 0
            }
          } =>
          // r10 batch 8: any_value(x ORDER BY k [ASC|DESC]) — the value at
          // the smallest/largest key is exactly min_by/max_by (probe:
          // DESC over (1,'a'),(2,'b') → 'b'). Single sort key only; a
          // multi-key ORDER BY stays loud (Spark's parser rejects the
          // in-call ORDER BY it would otherwise reach).
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          var d0 = 0; var ob0 = -1
          for (j <- open to close) {
            d0 += depthDelta(toks(j))
            if (d0 == 1 && ob0 < 0 && up(toks(j)) == "ORDER") ob0 = j
          }
          val by = nextNonWs(toks, ob0)
          if (by < close && up(toks(by)) == "BY") {
            val valStr = render(toks.slice(open + 1, ob0)).trim
            var keyToks = toks.slice(by + 1, close)
            val topComma = {
              var dd = 0; var c = false
              keyToks.foreach { t => dd += depthDelta(t)
                if (dd == 0 && t == Punct(",")) c = true }
              c
            }
            if (!topComma && valStr.nonEmpty) {
              val sigK = keyToks.filter(!isWs(_))
              val desc = sigK.lastOption.exists(t => up(t) == "DESC")
              if (sigK.nonEmpty && (up(sigK.last) == "ASC" || up(sigK.last) == "DESC")) {
                val lastIdx = keyToks.lastIndexWhere(!isWs(_))
                keyToks = keyToks.take(lastIdx)
              }
              val fn = if (desc) "max_by" else "min_by"
              toks = toks.patch(i,
                lex(s"$fn($valStr, ${render(keyToks).trim})"), close - i + 1)
            }
          }
        case id: Ident if id.upper == "STRING_AGG" || id.upper == "LISTAGG" || id.upper == "GROUP_CONCAT" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            var close = matchParen(toks, open)
            // locate ORDER BY inside at depth 1
            var d = 0; var ob = -1
            for (j <- open to close) {
              d += depthDelta(toks(j))
              if (d == 1 && ob < 0 && up(toks(j)) == "ORDER") ob = j
            }
            // 1-arg form: DuckDB's default separator is ',' for all three
            // spellings (probe-pinned; Spark's listagg default is '') —
            // inject it before any ORDER BY
            val argEnd = if (ob > 0) ob else close
            val hasSep = {
              var d2 = 0; var comma = false
              for (j <- open + 1 until argEnd) {
                d2 += depthDelta(toks(j))
                if (d2 == 0 && toks(j) == Punct(",")) comma = true
              }
              comma
            }
            if (!hasSep && nextNonWs(toks, open) < argEnd) {
              toks = toks.patch(argEnd,
                Seq(Punct(","), Ws(" "), Str("','"), Ws(" ")), 0)
              close += 4
              if (ob > 0) ob += 4 // ORDER moved past the spliced separator
            }
            // string_agg(DISTINCT x, sep ORDER BY x [ASC|DESC]) — r11
            // (VERDICT r10 #3): emitted via collect_set instead of
            // listagg(DISTINCT …) WITHIN GROUP, because Spark's
            // RewriteDistinctAggregates throws a ClassCastException
            // (AttributeReference → SortOrder) when the ListAgg distinct
            // group coexists with a SECOND distinct aggregate. The
            // collect_set form carries NO distinct-aggregate group, so
            // the upstream bug can never fire; sort on the ELEMENT type
            // first, stringify after (duck orders by the value, so a
            // string sort would misorder numerics). Empty/all-NULL group
            // → NULL like string_agg (identical aggregate expressions
            // dedupe in the physical plan, so collect_set runs once).
            // ORDER BY a key other than the distinct arg keeps the old
            // listagg emission (duck itself rejects that shape).
            val distinctForm: Option[Vector[Tok]] =
              if (ob > 0 && {
                  // a trailing FILTER clause needs a real aggregate call
                  // to attach to — keep the listagg emission there
                  val after = nextNonWs(toks, close)
                  !(after < toks.length && up(toks(after)) == "FILTER")
                }) {
                val firstArg = nextNonWs(toks, open)
                if (up(toks(firstArg)) == "DISTINCT") {
                  val args = splitTopLevel(toks.slice(
                    nextNonWs(toks, firstArg), ob))
                  val by = nextNonWs(toks, ob)
                  val ordParts =
                    if (by < close && up(toks(by)) == "BY")
                      splitTopLevel(toks.slice(by + 1, close))
                    else Vector.empty
                  if (args.length == 2 && ordParts.length == 1) {
                    val x = render(args(0)).trim
                    val sep = render(args(1)).trim
                    val ord0raw = render(ordParts(0)).trim
                    // r12 (advice r11): strip a trailing NULLS FIRST/LAST
                    // before the ASC/DESC check — string_agg drops NULLs
                    // before aggregation in both engines, so the nulls
                    // ordering cannot affect results, and leaving it in
                    // place fell back to listagg(DISTINCT) WITHIN GROUP
                    // where the upstream RewriteDistinctAggregates CCE
                    // stays reachable alongside a second distinct agg
                    val ord0 = {
                      val u = ord0raw.toUpperCase
                      if (u.endsWith(" NULLS FIRST")) ord0raw.dropRight(12).trim
                      else if (u.endsWith(" NULLS LAST")) ord0raw.dropRight(11).trim
                      else ord0raw
                    }
                    val (key, desc) =
                      if (ord0.toUpperCase.endsWith(" DESC"))
                        (ord0.dropRight(5).trim, true)
                      else if (ord0.toUpperCase.endsWith(" ASC"))
                        (ord0.dropRight(4).trim, false)
                      else (ord0, false)
                    def n(s: String) = s.toUpperCase.replaceAll("\\s+", "")
                    if (n(key) == n(x)) {
                      val sorted =
                        if (desc) s"reverse(array_sort(collect_set($x)))"
                        else s"array_sort(collect_set($x))"
                      Some(lex(
                        s"(CASE WHEN size(collect_set($x)) = 0 THEN NULL " +
                          s"ELSE array_join(transform($sorted, " +
                          s"__g_sa -> CAST(__g_sa AS STRING)), $sep) END)"))
                    } else None
                  } else None
                } else None
              } else None
            if (distinctForm.isDefined) {
              toks = toks.patch(i, distinctForm.get, close - i + 1)
            } else if (ob > 0) {
              val orderToks = toks.slice(ob, close)
              val before = toks.slice(open, ob) // "( x , d "
              val rebuilt = Vector(Ident("listagg")) ++ before ++ Vector(Punct(")"),
                Ws(" "), Ident("WITHIN"), Ws(" "), Ident("GROUP"), Ws(" "),
                Punct("("), Ws(" ")) ++ orderToks ++ Vector(Punct(")"))
              toks = toks.patch(i, rebuilt, close - i + 1)
            } else if (id.upper != "LISTAGG") {
              toks = toks.patch(i, Seq(Ident("listagg")), 1)
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** `array_agg(x ORDER BY k [ASC|DESC])` / `list(x ORDER BY k [ASC|DESC])`
    * → sort-after-collect: the sort key rides inside a struct, the group's
    * array is sorted once after aggregation, then the key is dropped —
    * `transform(array_sort(collect_list(named_struct('k', k, 'v', x))),
    * s -> s.v)`, wrapped in `reverse(...)` for DESC. Spark's collect_list
    * has no ordered form and its accumulation order is nondeterministic
    * under parallel aggregation, so an unsorted rename would be silently
    * flaky. Ties: DuckDB leaves equal-key order unspecified (parallel
    * accumulation there too), so declared queries use a unique sort key;
    * DESC reverses the full (k, x) order. Calls with multiple sort keys
    * or NULLS FIRST/LAST are left untouched (Spark then rejects them
    * loudly rather than silently reordering). */
  private[dialect] def rewriteOrderedArrayAgg(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.upper == "ARRAY_AGG" || id.upper == "LIST" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            var d = 0; var ob = -1
            for (j <- open to close) {
              d += depthDelta(toks(j))
              if (d == 1 && ob < 0 && up(toks(j)) == "ORDER") ob = j
            }
            if (ob > 0) {
              val by = nextNonWs(toks, ob)
              val ordToks = toks.slice(nextNonWs(toks, by) max (by + 1), close)
              val ordParts = splitTopLevel(ordToks)
              val valueExpr = render(toks.slice(open + 1, ob)).trim
                .stripSuffix(",").trim
              if (up(toks(by)) == "BY" && ordParts.length == 1 &&
                  valueExpr.nonEmpty) {
                val ord = render(ordParts(0)).trim
                val (key, desc) =
                  if (ord.toUpperCase.endsWith(" DESC"))
                    (ord.dropRight(5).trim, true)
                  else if (ord.toUpperCase.endsWith(" ASC"))
                    (ord.dropRight(4).trim, false)
                  else (ord, false)
                // r10 fuzz batch 6: array_agg(DISTINCT x ORDER BY …) was
                // a loud parse error — strip DISTINCT and dedupe AFTER
                // the sort (array_distinct keeps first occurrence, so
                // order is preserved)
                val distinct = valueExpr.toUpperCase.startsWith("DISTINCT ")
                val ve = if (distinct) valueExpr.drop(9).trim else valueExpr
                if (!key.toUpperCase.contains("NULLS")) {
                  // array_sort here is recaptured into graft_list_sort
                  // by the sort handler (r15) — duck's within-group
                  // ORDER BY puts NULL keys LAST in BOTH directions
                  // (default_null_order): asc falls out of the kernel's
                  // NULL-high field order; desc sorts ascending on a
                  // leading (k IS NOT NULL) flag (NULL-key group first)
                  // and reverses, landing the NULL keys at the end
                  val sorted =
                    if (desc)
                      s"array_sort(collect_list(named_struct('kn', ($key) IS NOT NULL, 'k', ($key), 'v', ($ve))))"
                    else s"array_sort(collect_list(named_struct('k', ($key), 'v', ($ve))))"
                  val body = if (desc) s"reverse($sorted)" else sorted
                  val projected = s"transform($body, __g_s -> __g_s.v)"
                  toks = toks.patch(i,
                    lex(if (distinct) s"array_distinct($projected)" else projected),
                    close - i + 1)
                }
              }
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** DuckDB `string_split(x, sep)` splits on a LITERAL separator; Spark's
    * `split` treats it as a regex — `string_split(x, '.')` would split on
    * every character after a name-only rename. Metachars in literal
    * separators are backslash-escaped (doubled: Spark's string parser eats
    * one level) before [[rewriteFunctionNames]] renames the call.
    * Non-literal separators stay as-is (rare; documented divergence). */
  private[dialect] def rewriteSplitLiteralSep(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.upper == "STRING_SPLIT" || id.upper == "STR_SPLIT" || id.upper == "STRING_TO_ARRAY" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            val sepInArg = if (args.length == 2) args(1).indexWhere(!isWs(_)) else -1
            if (sepInArg >= 0) {
              val sepIdx = open + 1 + args(0).length + 1 + sepInArg
              toks(sepIdx) match {
                case s: Str if s.value.exists(!_.isLetterOrDigit) =>
                  // verbatim literals (r10): one backslash, for the regex
                  // engine only
                  val escaped = s.value.flatMap { c =>
                    if ("\\.[]{}()*+?^$|".contains(c)) "\\" + c else c.toString
                  }
                  toks = toks.updated(sepIdx,
                    Str("'" + escaped.replace("'", "''") + "'"))
                case _ =>
              }
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** Safe 1:1 function renames (SURVEY.md §2.9 dialect-intersection table). */
  private val fnMap = Map(
    "ARG_MAX" -> "max_by",
    "ARG_MIN" -> "min_by",
    "RANDOM" -> "rand",
    "JSON_EXTRACT_STRING" -> "get_json_object",
    "TODAY" -> "current_date",
    "IFF" -> "if",
    // try_element_at, not element_at: DuckDB returns NULL out of bounds,
    // Spark's ANSI element_at throws; try_element_at matches DuckDB
    "LIST_ELEMENT" -> "try_element_at",
    "LIST_EXTRACT" -> "try_element_at",
    "REGEXP_SPLIT_TO_ARRAY" -> "split",
    "STRING_SPLIT_REGEX" -> "split",
    "STR_SPLIT_REGEX" -> "split",
    "LIST_CONTAINS" -> "array_contains",
    "ARRAY_LENGTH" -> "size",
    "LIST_TRANSFORM" -> "transform",
    "LIST_FILTER" -> "filter",
    "STRING_SPLIT" -> "split",
    "STR_SPLIT" -> "split",
    "STRING_TO_ARRAY" -> "split",
    "REGEXP_MATCHES" -> "rlike",
    "VERSION" -> "graft_version",
    // STRFTIME deliberately NOT name-mapped (r10 batch 7b): the scanner
    // in rewriteStrftime owns every translatable form; a blanket rename
    // would feed raw %-patterns to date_format on scanner rejection,
    // turning duck's loud unknown-specifier error into silent garbage
    "STARTS_WITH" -> "startswith",
    "ENDS_WITH" -> "endswith",
    // LIST_SORT is NOT name-mapped (r15): all sort spellings route
    // through the graft_list_sort kernel in rewriteArgShapeFns — duck
    // ranks inner NULLs HIGH inside nested elements where Spark's
    // array_sort ranks them low
    "LIST_REVERSE" -> "reverse",
    "ARRAY_TO_STRING" -> "array_join",
    "COUNTIF" -> "count_if",
    "LIST_MIN" -> "array_min",
    "LIST_MAX" -> "array_max",
    // LIST_DISTINCT is NOT name-mapped: DuckDB drops NULLs where Spark's
    // array_distinct keeps one — handled with a filter wrap in
    // rewriteArgShapeFns (r6). LIST_CONCAT/LIST_CAT/ARRAY_CAT/
    // ARRAY_CONCAT are NOT name-mapped to concat either (r9): DuckDB's
    // forms SKIP NULL args, and an emitted plain concat was re-captured
    // by the concat→concat_ws stringify on re-translation (advice r8) —
    // they get a flatten(array(…)) rewrite in rewriteArgShapeFns.
    "LIST_APPEND" -> "array_append",
    // list_position / list_indexof: this DuckDB returns 0 for a missing
    // element (verified), exactly Spark's array_position contract
    "LIST_POSITION" -> "array_position",
    "LIST_INDEXOF" -> "array_position",
    "LIST_HAS_ANY" -> "arrays_overlap",
    "ARRAY_HAS_ANY" -> "arrays_overlap",
    // result order may differ between engines — declared queries wrap in
    // list_sort for determinism
    "LIST_INTERSECT" -> "array_intersect",
    // list_prepend is NOT name-mapped: DuckDB takes (element, list),
    // Spark's array_prepend takes (array, element) — handled with an
    // argument swap in rewriteArgShapeFns (r5)
    // LIST_REVERSE_SORT is NOT name-mapped: rewritten to
    // sort_array(l, false) in rewriteArgShapeFns (r7) — both engines put
    // NULLs LAST in the descending order (probe-verified)
    "ARRAY_AGG" -> "collect_list",
    // r7 widening, probe-verified on DuckDB 1.0:
    // strpos: 1-based, 0 when absent — exactly Spark instr
    "STRPOS" -> "instr",
    // list_contains/list_has: same (list, element) order as array_contains
    "LIST_CONTAINS" -> "array_contains",
    "LIST_HAS" -> "array_contains",
    // json_keys: document-order key array in both engines
    "JSON_KEYS" -> "json_object_keys",
    // regex splitters: identical leading/trailing-empty behavior (probed
    // 'a1'/'1a' → ['a','']/['','a'] in both)
    "STR_SPLIT_REGEX" -> "split",
    "STRING_SPLIT_REGEX" -> "split",
    "REGEXP_SPLIT_TO_ARRAY" -> "split",
    "LIST" -> "collect_list",
    "UNNEST" -> "explode",
    // r7 session-3 widening, probe-pinned on DuckDB 1.0 (CountingAggs /
    // BarFormat kernels carry the exact semantics):
    "ENTROPY" -> "graft_entropy",
    // full-name aliases of the registered gcd/lcm kernels
    "GREATEST_COMMON_DIVISOR" -> "gcd",
    "LEAST_COMMON_MULTIPLE" -> "lcm",
    // TO_TIMESTAMP is NOT name-mapped here: DuckDB's 1-arg numeric form
    // becomes timestamp_seconds in rewriteArgShapeFns, while the 2-arg
    // to_timestamp(s, fmt) the STRPTIME rewrite emits must stay Spark's
    // Spark's chr/char cut the codepoint to 256; DuckDB's is full Unicode
    "CHR" -> "graft_chr",
    // chsql wire surface (r7 session 3, spec-only — the oracle can't run
    // chsql): popcount, best-effort parse, regex match
    "BITCOUNT" -> "bit_count",
    "PARSEDATETIMEBESTEFFORT" -> "try_to_timestamp",
    "MATCH" -> "rlike",
    "HISTOGRAM" -> "graft_histogram",
    // FMOD is handled by an arg-shape rewrite (true floored modulo) — the
    // old name-map to pmod diverged for negative divisors: DuckDB
    // fmod(7,-2)=-1 but Spark pmod(7,-2)=1 (pmod only corrects a negative
    // JVM remainder, it never flips sign toward the divisor). r10 fix,
    // probe-pinned: fmod(7,-2)=-1, fmod(10,-3)=-2, fmod(-7,2)=1.
    "ARRAY_REVERSE" -> "reverse",
    // r10 batch 7: DuckDB's variadic list constructor alias
    "LIST_VALUE" -> "array",
    // r10 batch 8: width-aware bit_count kernel (Spark's builtin counts
    // over the promoted 64-bit value — tinyint -1 read 64, duck says 8)
    "BIT_COUNT" -> "graft_bit_count",
    // duck-spelled type names (INTEGER / VARCHAR / INTEGER[] / …)
    "TYPEOF" -> "graft_typeof",
    // r10 batch 9: the loud batch-4 JSON leftovers, now kernels
    "JSON_STRUCTURE" -> "graft_json_structure",
    "JSON_CONTAINS" -> "graft_json_contains",
    "JSON_MERGE_PATCH" -> "graft_json_merge_patch",
    "DATETRUNC" -> "date_trunc",
    // fallback for non-literal parts the rewriteDateFns form skips
    "DATEPART" -> "date_part",
    "ARBITRARY" -> "any_value",
    "PRODUCT" -> "graft_product",
    "MAD" -> "graft_mad",
    // r7 session-3 alias sweep (duckdb_functions() audit): plain renames
    // where Spark's semantics match exactly
    // r10 fuzz batch 6: DuckDB case mapping is utf8proc's SIMPLE (1:1
    // codepoint) mapping; Java's full mapping silently diverges on
    // ß/İ/ﬁ/final-sigma — kernel [[graft.functions.CaseMap]]
    "UPPER" -> "graft_upper",
    "LOWER" -> "graft_lower",
    "UCASE" -> "graft_upper",
    "LCASE" -> "graft_lower",
    "MEAN" -> "avg",
    "PREFIX" -> "startswith",
    "SUFFIX" -> "endswith",
    // DuckDB strlen is BYTE length (length is chars) — Spark octet_length
    "STRLEN" -> "octet_length",
    "LIST_PACK" -> "array",
    "ARRAY_VALUE" -> "array",
    "LIST_APPLY" -> "transform",
    "ARRAY_APPLY" -> "transform",
    "ARRAY_TRANSFORM" -> "transform",
    "APPLY" -> "transform",
    "ARRAY_FILTER" -> "filter",
    "ARRAY_HAS" -> "array_contains",
    "ARRAY_INDEXOF" -> "array_position",
    "ARRAY_EXTRACT" -> "try_element_at",
    "ARRAY_ZIP" -> "arrays_zip",
    // compensated sums: Spark's plain sum/avg — last-ulp differences are
    // absorbed by declared-query quantization (documented)
    "FAVG" -> "avg",
    "FSUM" -> "sum",
    "SUMKAHAN" -> "sum",
    "KAHAN_SUM" -> "sum",
    // kurtosis_pop IS the population g2 — exactly Spark's native form
    "KURTOSIS_POP" -> "graft_kurtosis_g2",
    "GEN_RANDOM_UUID" -> "uuid",
    "GET_CURRENT_TIMESTAMP" -> "now",
    "TRANSACTION_TIMESTAMP" -> "now",
    "CURRENT_LOCALTIMESTAMP" -> "localtimestamp",
    "ROW" -> "struct",
    // $-path JSON extraction (DuckDB also takes bare keys — those return
    // NULL through get_json_object, same as DuckDB 1.0's own behavior for
    // dotted non-$ paths; declared queries use $-paths)
    // JSON_EXTRACT / JSON_EXTRACT_PATH are NOT name-mapped (r9): they
    // return JSON (strings stay quoted) — the literal-path forms get the
    // variant rewrite in rewriteArgShapeFns; dynamic paths stay loud
    // rather than silently unquoting. The *_STRING/_TEXT text forms map
    // to get_json_object (literal paths are normalized first).
    "JSON_EXTRACT_PATH_TEXT" -> "get_json_object",
    "BAR" -> "graft_bar",
    "FORMAT_BYTES" -> "graft_format_bytes",
    // core-DuckDB readable-size aliases (probe: formatReadableSize ==
    // format_bytes byte-exact; the Decimal variant is base-1000)
    "FORMATREADABLESIZE" -> "graft_format_bytes",
    "FORMATREADABLEDECIMALSIZE" -> "graft_format_bytes_decimal",
    // base64 family: DuckDB takes/yields BLOBs, exactly Spark's
    // base64/unbase64 contract
    "TO_BASE64" -> "base64",
    "BASE64" -> "base64",
    "FROM_BASE64" -> "unbase64",
    // duck's levenshtein counts BYTES; Spark's builtin counts chars —
    // the byte kernel closes every non-ASCII cell (r14 str fuzz)
    "EDITDIST3" -> "graft_levenshtein",
    "LEVENSHTEIN" -> "graft_levenshtein",
    // both pad the shorter list with NULL to the longest (probe-verified)
    "LIST_ZIP" -> "arrays_zip",
    // codepoint of the first character in both engines
    // UNICODE/ORD are arg-shape rewrites (empty string → -1, not 0)
    // DuckDB to_hex and Spark hex both emit uppercase, no leading zeros
    "TO_HEX" -> "hex",
    // r7 widening, each probe-verified on DuckDB 1.0:
    // from_hex('ff') and unhex('ff') both yield the raw byte
    "FROM_HEX" -> "unhex",
    // both are C-style (java.util.Formatter / DuckDB fmt printf): %s %d
    // %03d %f %% agree; exotic verbs (%b binary) are a declared gap
    "PRINTF" -> "format_string",
    // quantile family: quantile_cont interpolates like Spark's exact
    // percentile; plain/discrete quantile approximated by percentile_approx
    // (sketch outputs differ engine-to-engine → never oracle-declared)
    "QUANTILE_CONT" -> "percentile",
    "QUANTILE_DISC" -> "percentile_approx",
    "QUANTILE" -> "percentile_approx",
    // ClickHouse alias widening (r7, chsql wire surface): renames with
    // identical arg order and semantics
    "ARRAYJOIN" -> "explode",
    "HAS" -> "array_contains",
    "INDEXOF" -> "array_position",          // 1-based, 0 when absent — same
    // 1-based, negative from end — same; try_element_at so the emission
    // is NOT re-captured by the map-only ELEMENT_AT wrap (idempotence)
    "ARRAYELEMENT" -> "try_element_at",
    "ARRAYSTRINGCONCAT" -> "array_join",
    "TOUNIXTIMESTAMP" -> "unix_timestamp",
    "FROMUNIXTIMESTAMP" -> "from_unixtime",
    "LEFTPAD" -> "lpad",
    "RIGHTPAD" -> "rpad",
    "TODAYOFMONTH" -> "day",
    "TODAYOFYEAR" -> "dayofyear",
    "TOHOUR" -> "hour",
    "TOMINUTE" -> "minute",
    "TOSECOND" -> "second",
    // ClickHouse string-function aliases (chsql surface, reference
    // main.py:83-86): Spark's length/lower/upper/substr are already
    // codepoint-based, which is exactly the *UTF8 contract
    "LENGTHUTF8" -> "length",
    "LOWERUTF8" -> "lower",
    "UPPERUTF8" -> "upper",
    "SUBSTRINGUTF8" -> "substr")

  /** DuckDB `list_sum(x)` / `list_avg(x)` → Spark higher-order
    * `aggregate(...)` forms (no Spark builtin exists). Accumulation is in
    * DOUBLE — DuckDB widens integer list sums to HUGEINT, so integer
    * outputs are not oracle-comparable; the surface is spec-tested. */
  private[dialect] def rewriteListAggs(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if (id.upper == "LIST_SUM" || id.upper == "LIST_AVG") && {
          val n = nextNonWs(toks, i); n < toks.length && toks(n) == Punct("(")
        } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val arg = render(toks.slice(open + 1, close)).trim
          // DuckDB list_sum/list_avg SKIP NULL elements and return NULL
          // for an empty/all-NULL list (r8 fuzz: list_sum([]) was 0 and
          // one NULL element poisoned the whole fold)
          val nn = s"filter(($arg), __g_n -> __g_n IS NOT NULL)"
          val sum = s"aggregate($nn, CAST(0 AS DOUBLE), (__g_acc, __g_v) -> __g_acc + CAST(__g_v AS DOUBLE))"
          val body = if (id.upper == "LIST_SUM") sum else s"($sum / size($nn))"
          val repl = s"(CASE WHEN size($nn) = 0 THEN CAST(NULL AS DOUBLE) ELSE $body END)"
          // a nested list_sum in `arg` is rewritten when the scan resumes
          Some(toks.patch(i, lex(repl), close - i + 1))
        case _ => None
      }
    }

  /** Arg-shape rewrites with no 1:1 Spark rename (round 4):
    *   - `xor(a, b)` → `((a) ^ (b))` — DuckDB's `^` is power, so the
    *     function spelling is the only portable xor; Spark's `^` is xor.
    *   - `list_slice(l, a, b)` → `slice(l, (a), (b) - (a) + 1)` — DuckDB is
    *     1-based inclusive [a, b]; Spark slice takes (start, length).
    *   - `strptime(s, '%Y-%m-%d')` → `to_timestamp(s, 'yyyy-MM-dd')` —
    *     parse twin of strftime, same %-pattern translation.
    *   - `generate_series(a, b[, s])` after FROM/JOIN → `range(a, (b)±1[, s])`
    *     (DuckDB inclusive end vs range's exclusive; sign from the literal
    *     step). In scalar position it is DuckDB's inclusive list constructor
    *     → Spark `sequence` (same inclusive semantics, including step).
    *     DuckDB's `range()` needs no rewrite: exclusive-end in both engines.
    */
  /** Seconds width of a `INTERVAL <n> <sub-month unit>` token run, for the
    * time_bucket rewrite; None for month/year units or any other shape. */
  /** Parse a literal INTERVAL token slice into (months, micros).
    * Handles `INTERVAL n UNIT`, `INTERVAL 'n' UNIT` and the string form
    * `INTERVAL '1 day 2 hours'` (the spelling DuckDB users actually
    * type — the n-UNIT-only parser left it a loud gap, r8 fuzz).
    * Non-literal or mixed month/sub-month intervals → None (loud). */
  private def unitWidth(u0: String, n: Long): Option[(Long, Long)] =
    u0.toUpperCase.stripSuffix("S") match {
      case "MICROSECOND" | "US" | "USEC" => Some((0L, n))
      case "MILLISECOND" | "MS" | "MSEC" => Some((0L, n * 1000L))
      case "SECOND" | "SEC" => Some((0L, n * 1000000L))
      case "MINUTE" | "MIN" => Some((0L, n * 60000000L))
      case "HOUR" | "HR" => Some((0L, n * 3600000000L))
      case "DAY" | "D" => Some((0L, n * 86400000000L))
      case "WEEK" | "W" => Some((0L, n * 604800000000L))
      case "MONTH" | "MON" => Some((n, 0L))
      case "QUARTER" => Some((n * 3, 0L))
      case "YEAR" | "YR" | "Y" => Some((n * 12, 0L))
      case "DECADE" => Some((n * 120, 0L))
      case "CENTURY" | "CENTURIE" => Some((n * 1200, 0L))
      case "MILLENNIUM" | "MILLENNIA" => Some((n * 12000, 0L))
      case _ => None
    }

  private def intervalWidth(arg: Vector[Tok]): Option[(Long, Long)] = {
    val sig = arg.filterNot(isWs)
    def num(t: String): Option[Long] = scala.util.Try(t.toLong).toOption
    sig match {
      case Vector(iv: Ident, n: Num, u: Ident) if iv.upper == "INTERVAL" =>
        num(n.text).flatMap(unitWidth(u.text, _))
      case Vector(iv: Ident, s: Str, u: Ident) if iv.upper == "INTERVAL" =>
        num(s.value.trim).flatMap(unitWidth(u.text, _))
      case Vector(iv: Ident, s: Str) if iv.upper == "INTERVAL" =>
        val parts = s.value.trim.toLowerCase.split("\\s+")
        if (parts.length >= 2 && parts.length % 2 == 0) {
          val widths = parts.grouped(2).map {
            case Array(q, u) => num(q).flatMap(unitWidth(u, _))
            case _ => None
          }.toSeq
          if (widths.forall(_.isDefined))
            Some(widths.flatten.foldLeft((0L, 0L)) {
              case ((m1, us1), (m2, us2)) => (m1 + m2, us1 + us2) })
          else None
        } else None
      case _ => None
    }
  }

  /** Pure month- or pure micro-width literal interval (mixed → None:
    * calendar+fixed arithmetic has no single bucket grid). */
  private def bucketWidth(arg: Vector[Tok]): Option[(Long, Long)] =
    intervalWidth(arg).filter { case (m, us) =>
      (m > 0 && us == 0) || (m == 0 && us > 0) }

  /** Epoch microseconds of a LITERAL interval argument (30-day months —
    * DuckDB's epoch(INTERVAL) convention, probed: '1 month' → 2592000);
    * None for non-interval or non-literal args, which keep the timestamp
    * emission (loud on intervals — Spark's unix_micros rejects them). */
  private def intervalEpochMicros(arg: Vector[Tok]): Option[Long] =
    intervalWidth(arg).map { case (m, us) => m * 2592000000000L + us }

  /** End index of an INTERVAL run starting at `start` (an INTERVAL ident),
    * or -1. Shapes: `INTERVAL n UNIT`, `INTERVAL 'n' UNIT`,
    * `INTERVAL 'str'` (string form), `INTERVAL (expr) UNIT` (DuckDB's
    * non-literal count). Used by the ± INTERVAL arithmetic rewrite. */
  private def intervalRunEnd(toks: Vector[Tok], start: Int): Int = {
    if (up(toks(start)) != "INTERVAL") return -1
    val n1 = nextNonWs(toks, start)
    if (n1 >= toks.length) return -1
    toks(n1) match {
      case _: Num =>
        val n2 = nextNonWs(toks, n1)
        if (n2 < toks.length && unitWidth(up(toks(n2)), 1L).isDefined) n2 else -1
      case _: Str =>
        val n2 = nextNonWs(toks, n1)
        if (n2 < toks.length && unitWidth(up(toks(n2)), 1L).isDefined) n2 else n1
      case Punct("(") =>
        val close = matchParen(toks, n1)
        val n2 = nextNonWs(toks, close)
        if (n2 < toks.length && unitWidth(up(toks(n2)), 1L).isDefined) n2 else -1
      case _ => -1
    }
  }

  /** DATE-valued primary: a literal / date-returning call (syntactic),
    * or — r11, VERDICT r10 #1 — a plain (possibly qualified) identifier
    * chain naming a DATE-typed column in the visible catalog via
    * `isDateCol` (the isMapCol precedent). The class the ± INTERVAL
    * rewrite must CAST to TIMESTAMP for DuckDB parity. Deliberately
    * EXCLUDES `CAST(… AS DATE)`: our own date_trunc/time_bucket
    * emissions produce that shape AFTER this pass runs, so capturing it
    * would break the translate∘translate fixpoint (the column case is
    * fixpoint-safe: its emission wraps the column in CAST(… AS
    * TIMESTAMP), which this test no longer matches). */
  private def dateValuedSlice(toks: Vector[Tok], from: Int, to: Int,
      isDateCol: (String, Boolean) => Boolean = (_, _) => false,
      strict: Boolean = false): Boolean = {
    val nw = toks.slice(from, to + 1).filterNot(isWs)
    nw.headOption.exists {
      case d: Ident if d.upper == "DATE" =>
        nw.length == 2 && nw(1).isInstanceOf[Str]
      case d: Ident if Set("MAKE_DATE", "TO_DATE", "LAST_DAY").contains(d.upper) =>
        nw.length > 1 && nw(1) == Punct("(")
      case d: Ident if (d.upper == "DATE_TRUNC" || d.upper == "DATETRUNC") =>
        // r12 (VERDICT r11 #1): duck's date_trunc returns DATE for
        // day-or-coarser units regardless of input type — date-valued
        // exactly when the unit literal is day-or-coarser
        nw.length > 3 && nw(1) == Punct("(") && (nw(2) match {
          case s: Str => dateTruncDayPlusUnit(s.value).isDefined
          case _ => false
        })
      case d: Ident if d.upper == "CURRENT_DATE" || d.upper == "TODAY" => true
      case _: Ident =>
        // pure ident/dot chain (`c`, `t.c`, `db.t.c`) — never a call or
        // subscript (those slices carry parens/brackets) — resolved as a
        // whole through the catalog type set (table-exact when the
        // qualifier names a known table; strict = DATE in every defining
        // table)
        nw.length % 2 == 1 &&
          nw.zipWithIndex.forall { case (t, j) =>
            if (j % 2 == 0) t.isInstanceOf[Ident] else t == Punct(".") } &&
          isDateCol(nw.map(_.text).mkString.toLowerCase(java.util.Locale.ROOT),
            strict)
      case _ => false
    }
  }

  /** DuckDB date_trunc units that are day-or-coarser (the class whose
    * result is DATE there, TIMESTAMP in Spark), mapped to the Spark unit
    * spelling — duck also accepts plural forms Spark rejects (silent NULL
    * in Spark's date_trunc). Right(k) marks the decade/century/millennium
    * family Spark lacks entirely (k = the year-flooring factor duck
    * applies: probe 2024 → decade 2020, century 2000, millennium 2000). */
  private def dateTruncDayPlusUnit(lit: String): Option[Either[String, Int]] = {
    val v = lit.stripPrefix("'").stripSuffix("'").trim
      .toLowerCase(java.util.Locale.ROOT)
    v match {
      case "day" | "days" | "d" => Some(Left("DAY"))
      case "week" | "weeks" | "w" => Some(Left("WEEK"))
      case "month" | "months" | "mon" | "mons" => Some(Left("MONTH"))
      case "quarter" | "quarters" => Some(Left("QUARTER"))
      case "year" | "years" | "y" => Some(Left("YEAR"))
      case "decade" | "decades" => Some(Right(10))
      case "century" | "centuries" => Some(Right(100))
      case "millennium" | "millennia" | "millenniums" => Some(Right(1000))
      case _ => None
    }
  }

  /** r12 (VERDICT r11 #1): DuckDB's date_trunc returns DATE for every
    * day-or-coarser unit REGARDLESS of the input type (probed:
    * typeof(date_trunc('month', TIMESTAMP '…')) = DATE), where Spark
    * always returns TIMESTAMP — the most common remaining silent shape a
    * real user hits. Day-or-coarser literal-unit calls are wrapped in
    * CAST(… AS DATE); plural unit spellings (duck-legal, a silent NULL in
    * Spark) normalize to the Spark singular; decade/century/millennium
    * (absent from Spark — silent NULL) emit duck's year-flooring
    * arithmetic (year − year%k, probed: century(2024) = 2000-01-01, NOT
    * the Gregorian 2001). Fixpoint: a call already enclosed in
    * CAST(… AS DATE) — our own emission or the user's explicit cast — is
    * skipped, as is one enclosed in CAST(… AS TIMESTAMP): that form is
    * the INTERNAL-EMISSION SENTINEL (r13, VERDICT r12 #4) — the
    * rewriteDateFns datediff grids and toStartOfDay pre-wrap their
    * date_trunc calls in a no-op timestamp cast (folded by Catalyst's
    * SimplifyCasts) so they keep the TIMESTAMP shape across a
    * re-translate. A user-written enclosing CAST(… AS TIMESTAMP) is
    * midnight-equivalent in both engines (duck casts its DATE result
    * back up), so the skip is semantics-preserving there too. The r12
    * argument-shape skip (CAST(x AS TIMESTAMP) as args(1)) is GONE —
    * user spellings `date_trunc('month', CAST(x AS TIMESTAMP))` and
    * `date_trunc('month', x::TIMESTAMP)` now both get the DATE shape
    * (they diverged before: `::` rewrites to CAST only in the later
    * rewriteCastFuncs pass — r12 ADVICE). Sub-day units return
    * TIMESTAMP in both engines and pass through. */
  private[dialect] def rewriteDateTruncShape(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident if (id.upper == "DATE_TRUNC" || id.upper == "DATETRUNC") && {
            val n = nextNonWs(toks, i)
            n < toks.length && toks(n) == Punct("(")
          } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val args = splitTopLevel(toks.slice(open + 1, close))
          val unit: Option[Either[String, Int]] =
            if (args.length == 2) args(0).filterNot(isWs) match {
              case Vector(s: Str) => dateTruncDayPlusUnit(s.value)
              case _ => None
            } else None
          val enclosedInDateCast = {
            var k = 0
            var p = prevNonWs(toks, i)
            while (p >= 0 && toks(p) == Punct("(")) { k += 1; p = prevNonWs(toks, p) }
            k >= 1 && p >= 0 && toks(p).isInstanceOf[Ident] &&
              up(toks(p)) == "CAST" && {
                var q = nextNonWs(toks, close)
                var kk = k - 1
                while (kk > 0 && q < toks.length && toks(q) == Punct(")")) {
                  kk -= 1; q = nextNonWs(toks, q)
                }
                kk == 0 && q < toks.length && up(toks(q)) == "AS" && {
                  val r = nextNonWs(toks, q)
                  r < toks.length && toks(r).isInstanceOf[Ident] &&
                    (up(toks(r)) == "DATE" || up(toks(r)) == "TIMESTAMP")
                }
              }
          }
          if (unit.isDefined && !enclosedInDateCast) {
            val arg = render(args(1)).trim
            val repl = unit.get match {
              case Left(u) => s"CAST(date_trunc('$u', $arg) AS DATE)"
              case Right(k) =>
                s"make_date(year($arg) - pmod(year($arg), $k), 1, 1)"
            }
            Some(toks.patch(i, lex(repl), close - i + 1))
          } else None
        case _ => None
      }
    }

  /** True when the operand ENDING at `lEnd` is a literal INTERVAL run —
    * interval+interval arithmetic must stay passthrough. */
  private def intervalEndsAt(toks: Vector[Tok], lEnd: Int): Boolean =
    toks(lEnd) match {
      case u: Ident if unitWidth(u.upper, 1L).isDefined =>
        val p1 = prevNonWs(toks, lEnd)
        p1 >= 0 && (toks(p1).isInstanceOf[Num] || toks(p1).isInstanceOf[Str]) && {
          val p2 = prevNonWs(toks, p1)
          p2 >= 0 && up(toks(p2)) == "INTERVAL"
        }
      case _: Str =>
        val p1 = prevNonWs(toks, lEnd)
        p1 >= 0 && up(toks(p1)) == "INTERVAL"
      case _ => false
    }

  /** Normalize a DuckDB JSON path literal to the Spark JsonPath dialect
    * (r9 batch-4 fuzz): bare keys get the `$.` root, JSON-pointer
    * `/a/1` becomes `$.a[1]`, integer paths index the root array, and
    * `."quoted.key"` segments become `['quoted.key']` (Spark's parser
    * reads a dotted quoted key as two steps — silent NULL). Returns the
    * SQL literal, quotes included; None for non-literal paths (loud). */
  private def normalizeJsonPath(t: Tok): Option[String] = t match {
    case n: Num if !n.text.exists(c => c == '.' || c == 'e' || c == 'E') =>
      Some(s"'$$[${n.text}]'")
    case s: Str =>
      val v = s.value
      val p =
        if (v.startsWith("$")) v
        else if (v.startsWith("/"))
          v.split("/").drop(1).foldLeft("$") { (acc, seg) =>
            if (seg.nonEmpty && seg.forall(_.isDigit)) s"$acc[$seg]"
            else s"$acc.$seg"
          }
        else "$." + v
      val q = "\\.\"([^\"]*)\"".r.replaceAllIn(p,
        m => java.util.regex.Matcher.quoteReplacement(s"['${m.group(1)}']"))
      Some("'" + q.replace("'", "''") + "'")
    case _ => None
  }

  /** DuckDB type name (as spelled in a from_json structure spec) → Spark
    * DDL type (r9). Unsigned widths widen to the next signed Spark type. */
  private def duckTypeToDdl(t0: String): Option[String] = {
    val t = t0.trim.toUpperCase
    t match {
      case "VARCHAR" | "TEXT" | "STRING" | "BPCHAR" | "CHAR" | "JSON" => Some("STRING")
      case "TINYINT" | "INT1" => Some("TINYINT")
      case "SMALLINT" | "INT2" | "SHORT" | "UTINYINT" => Some("SMALLINT")
      case "INTEGER" | "INT" | "INT4" | "SIGNED" | "USMALLINT" => Some("INT")
      case "BIGINT" | "INT8" | "LONG" | "HUGEINT" | "UBIGINT" | "UINTEGER" => Some("BIGINT")
      case "DOUBLE" | "FLOAT8" | "REAL" | "FLOAT4" | "FLOAT" => Some("DOUBLE")
      case "BOOLEAN" | "BOOL" | "LOGICAL" => Some("BOOLEAN")
      case "DATE" => Some("DATE")
      case "TIMESTAMP" | "DATETIME" => Some("TIMESTAMP")
      case s if s.startsWith("DECIMAL(") || s.startsWith("NUMERIC(") =>
        Some(s.replace("NUMERIC", "DECIMAL"))
      case _ => None
    }
  }

  /** DuckDB from_json structure literal ('{"a": "INTEGER"}' /
    * '["VARCHAR"]', arbitrarily nested) → Spark DDL type string; None on
    * anything unparseable (the call then stays loud). */
  private def jsonStructureToDdl(spec: String): Option[String] = {
    var i = 0
    val s = spec
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def parseStr(): Option[String] = {
      skipWs()
      if (i < s.length && s(i) == '"') {
        val e = s.indexOf('"', i + 1)
        if (e > i) { val r = s.substring(i + 1, e); i = e + 1; Some(r) }
        else None
      } else None
    }
    def parse(): Option[String] = {
      skipWs()
      if (i >= s.length) None
      else s(i) match {
        case '{' =>
          i += 1
          val fields = scala.collection.mutable.ArrayBuffer[String]()
          var ok = true; var done = false
          while (ok && !done) {
            skipWs()
            if (i < s.length && s(i) == '}') { i += 1; done = true }
            else parseStr() match {
              case Some(k) =>
                skipWs()
                if (i < s.length && s(i) == ':') {
                  i += 1
                  parse() match {
                    case Some(v) =>
                      fields += s"`$k`: $v"; skipWs()
                      if (i < s.length && s(i) == ',') i += 1
                      else if (i < s.length && s(i) == '}') { i += 1; done = true }
                      else ok = false
                    case None => ok = false
                  }
                } else ok = false
              case None => ok = false
            }
          }
          if (ok && done && fields.nonEmpty)
            Some(s"STRUCT<${fields.mkString(", ")}>") else None
        case '[' =>
          i += 1
          parse().flatMap { el =>
            skipWs()
            if (i < s.length && s(i) == ']') { i += 1; Some(s"ARRAY<$el>") }
            else None
          }
        case '"' => parseStr().flatMap(duckTypeToDdl)
        case _ => None
      }
    }
    val r = parse(); skipWs()
    if (i == s.length) r else None
  }

  /** Lambda-taking function heads (both the DuckDB spellings and the
    * Spark ones our earlier passes emit): a bare-ident `-> ` inside one
    * of these is a lambda arrow, not a JSON access (r9). */
  private[dialect] val lambdaHeadFns = Set("TRANSFORM", "LIST_TRANSFORM",
    "ARRAY_TRANSFORM", "APPLY", "LIST_APPLY", "ARRAY_APPLY", "FILTER",
    "LIST_FILTER", "ARRAY_FILTER", "AGGREGATE", "REDUCE", "LIST_REDUCE",
    "ARRAY_REDUCE", "FOLD", "ZIP_WITH", "MAP_ZIP_WITH", "MAP_FILTER",
    "TRANSFORM_KEYS", "TRANSFORM_VALUES", "EXISTS", "FORALL", "SORT_ARRAY",
    "ARRAY_SORT", "LIST_SORT", "LIST_GRADE_UP", "LIST_SELECT", "LIST_WHERE")

  /** Array-returning function heads — with bracket literals and the
    * MAP/ARRAY constructors, the syntactic side of the collection-shape
    * dispatch shared by empty()/notEmpty()/length()/len() (r8). */
  private val arrayReturningFns = Set("MAP", "ARRAY", "LIST_VALUE",
    "SPLIT", "STRING_SPLIT", "STRING_SPLIT_REGEX", "STRING_TO_ARRAY",
    "REGEXP_SPLIT_TO_ARRAY", "SEQUENCE", "RANGE", "GENERATE_SERIES",
    "ARRAY_DISTINCT", "LIST_DISTINCT", "ARRAY_SORT", "LIST_SORT",
    "GRAFT_LIST_SORT",
    "SORT_ARRAY", "TRANSFORM", "LIST_TRANSFORM", "FILTER", "LIST_FILTER",
    "SLICE", "LIST_SLICE", "ARRAY_SLICE", "FLATTEN", "MAP_KEYS",
    "MAP_VALUES", "SHUFFLE", "ARRAY_REPEAT", "COLLECT_LIST",
    "COLLECT_SET", "ARRAY_AGG", "LIST_CONCAT", "ARRAY_CONCAT",
    "LIST_APPEND", "LIST_PREPEND", "ARRAY_UNION", "ARRAY_INTERSECT",
    "ARRAY_EXCEPT", "LIST_REVERSE", "ARRAY_COMPACT", "TOKEN_COUNTS",
    "TOKEN_HASHES", "CHUNK_WINDOWS", "WINDOW_MD5S")

  /** One argument's tokens look collection-valued: a bracket literal, an
    * array-returning call, or a bare (qualified) identifier naming a
    * known ARRAY/MAP column. */
  private def collectionShaped(arg: Vector[Tok],
      isCollectionCol: String => Boolean): Boolean = {
    val nonWs = arg.filterNot(isWs)
    val named = nonWs.nonEmpty &&
      nonWs.forall(t => t.isInstanceOf[Ident] || t == Punct(".")) &&
      nonWs.last.isInstanceOf[Ident] &&
      isCollectionCol(nonWs.last.text.replaceAll("[`\"]", "").toLowerCase)
    named || arg.find(!_.isInstanceOf[Ws]).exists {
      case Punct("[") => true
      case id2: Ident => arrayReturningFns.contains(id2.upper)
      case _ => false
    }
  }

  /** An arg-shape rule's view of the function name at token `i`: the open
    * paren (-1 when no `(` follows, for the operator-position rules), the
    * close paren, and the split and rendered arguments, each computed once. */
  private final class Call(val toks: Vector[Tok], val i: Int, val id: Ident,
      val scope: ArgShapeScope) {
    def name: String = id.upper
    val open: Int = {
      val n = nextNonWs(toks, i)
      if (n < toks.length && toks(n) == Punct("(")) n else -1
    }
    lazy val close: Int = matchParen(toks, open)
    lazy val inner: Vector[Tok] = toks.slice(open + 1, close)
    lazy val args: Vector[Vector[Tok]] = splitTopLevel(inner)
    private lazy val rendered = args.map(a => render(a).trim)
    /** Argument `k`, rendered and trimmed. */
    def arg(k: Int): String = rendered(k)
    /** Argument `k` without its whitespace tokens. */
    def sig(k: Int): Vector[Tok] = args(k).filterNot(isWs)
    /** The call, name through close paren, replaced by `sql`. */
    def to(sql: String): Option[Vector[Tok]] =
      Some(toks.patch(i, lex(sql), close - i + 1))
  }

  /** Per-translation inputs of the arg-shape rules: the catalog resolvers
    * and the index-lambda marker counter. */
  private final class ArgShapeScope(val isCollectionCol: String => Boolean,
      val isDateCol: (String, Boolean) => Boolean,
      val isDecimalCol: String => Boolean) {
    private var lambdaIx = 0
    /** Unique per-rewrite index-lambda marker suffix. */
    def nextLambdaIx(): Int = { lambdaIx += 1; lambdaIx }
  }

  /** An arg-shape rule. A matching `case` claims the name token, so later
    * rules for that name never see it, even when the body then returns
    * None and leaves the call as it is. */
  private type ShapeRule = PartialFunction[Call, Option[Vector[Tok]]]

  /** The arg-shape rules, keyed on the upper-cased function name, each
    * name's rules in precedence order. The Boolean is true for `call`
    * rules, which see the name only when `(` follows it. */
  private val argShapeRules: Map[String, Vector[(Boolean, ShapeRule)]] = {
    val table = scala.collection.mutable.Map[String, Vector[(Boolean, ShapeRule)]]()
    def add(callOnly: Boolean, names: Seq[String], rule: ShapeRule): Unit =
      names.foreach(n => table(n) = table.getOrElse(n, Vector.empty) :+ (callOnly -> rule))
    def call(names: String*)(rule: ShapeRule): Unit = add(callOnly = true, names, rule)
    def word(names: String*)(rule: ShapeRule): Unit = add(callOnly = false, names, rule)

    call("GREATEST", "LEAST") {
      // duck converts DECIMAL-bearing greatest/least to DOUBLE
      // (r13 dec fuzz — probed: typeof(greatest(dec, dec)) =
      // DOUBLE, including its >2^53 precision loss; HUGEINT
      // pairs stay exact, so hugeint-only slices are skipped).
      // Datetime-surface slices skip too: make_timestamp's
      // fractional seconds are decimal-risk BY TOKEN but the
      // value is a TIMESTAMP — the wrap broke analysis (ts
      // fuzz regression caught by the r13 full-gate rerun)
      case c if !dtSurfaceToks(c.inner) &&
          decimalRiskNonHugeToks(c.inner, c.scope.isDecimalCol) &&
          // skip-if-wrapped: every arg already CAST(… AS DOUBLE)
          // means this is our own emission (fixpoint guard)
          !c.args.forall(argWrappedAsDouble) =>
        val wrapped = c.args.indices.map { k =>
          if (argWrappedAsDouble(c.args(k))) c.arg(k) else s"CAST((${c.arg(k)}) AS DOUBLE)"
        }
        c.to(s"${c.id.text}(${wrapped.mkString(", ")})")
    }
    call("AVG", "MEAN") {
      // duck's avg over DECIMAL/HUGEINT returns DOUBLE computed
      // from the EXACT sum (r13 dec fuzz — probed: avg of 3×0.1
      // DECIMAL is 0.1 exactly, neither double-accumulation nor
      // double(sum)/n); Spark's DECIMAL avg rounds HALF_UP at
      // scale s+4, a silent wrong answer in the 5th fractional
      // digit. sum/count split: Spark's decimal division keeps
      // scale ≥ 6 and the exact sum, then one double conversion
      // — within 1 ulp of duck's integer-division double
      case c if c.args.length == 1 && !dtSurfaceToks(c.inner) &&
          (decimalRiskNonHugeToks(c.inner, c.scope.isDecimalCol) ||
            hugeintRiskToks(c.inner)) =>
        val (toks, arg) = (c.toks, render(c.inner).trim)
        // absorb FILTER (WHERE …) and OVER (…)|OVER w suffixes so
        // both halves of the split carry them
        var sfxEnd = c.close
        var look = nextNonWs(toks, sfxEnd)
        while (look < toks.length && (up(toks(look)) == "FILTER" ||
            up(toks(look)) == "OVER")) {
          val nn = nextNonWs(toks, look)
          sfxEnd =
            if (nn < toks.length && toks(nn) == Punct("(")) matchParen(toks, nn)
            else nn
          look = nextNonWs(toks, sfxEnd)
        }
        val sfx =
          if (sfxEnd > c.close) " " + render(toks.slice(c.close + 1, sfxEnd + 1)).trim
          else ""
        Some(toks.patch(c.i, lex(
          s"CAST(try_divide(sum($arg)$sfx, count($arg)$sfx) AS DOUBLE)"),
          sfxEnd - c.i + 1))
    }
    call("XOR") {
      // or/and/not composition, NOT Spark's `^`: since r8 the `^`
      // OPERATOR rewrites to power() (DuckDB semantics), so an
      // emitted `a ^ b` would flip to power on any re-translation —
      // this form is translate-idempotent
      case c if c.args.length == 2 =>
        val (a, b) = (c.arg(0), c.arg(1))
        c.to(s"((($a) | ($b)) & ~(($a) & ($b)))")
    }
    call("LTRIM", "RTRIM", "TRIM") {
      // DuckDB 2-arg char-set trims -> SQL-standard TRIM(side set FROM s)
      // (same any-of-set semantics in both engines); 1-arg forms pass
      // through untouched
      case c if c.args.length == 2 && !c.args(0).exists(t =>
          Set("LEADING", "TRAILING", "BOTH", "FROM").contains(up(t))) =>
        val side = c.name match {
          case "LTRIM" => "LEADING"; case "RTRIM" => "TRAILING"; case _ => "BOTH"
        }
        c.to(s"TRIM($side ${c.arg(1)} FROM ${c.arg(0)})")
    }
    call("INTDIV", "MODULO") {
      // ClickHouse intDiv/modulo (chsql surface) → the operators.
      // Rounding for negatives agrees: chsql's intDiv expands to
      // DuckDB's `//`, and DuckDB 1.0 integer `//` TRUNCATES toward
      // zero (probe: -7 // 2 = -3, 7 // -2 = -3), exactly Spark's
      // DIV — no floor-division divergence (TranslatorSpec pins it
      // with negative operands).
      case c if c.args.length == 2 =>
        val op = if (c.name == "INTDIV") "DIV" else "%"
        c.to(s"((${c.arg(0)}) $op (${c.arg(1)}))")
    }
    call("EMPTY", "NOTEMPTY") {
      // ClickHouse empty/notEmpty: zero-length test. A CASE-dispatch
      // on typeof() cannot work — Spark type-checks BOTH branches at
      // analysis time, so size(stringcol) fails even in a dead
      // branch. Dispatch is SYNTACTIC — a bracket literal `[...]`
      // or an array(...)/map(...)/list_value(...) call gets size()
      // — plus SCHEMA-AWARE (r8): a bare (possibly qualified)
      // identifier naming a known ARRAY/MAP column also gets size(),
      // closing the array-typed-column gap for named columns;
      // everything else gets length() (the string case the chsql
      // wire surface serves). Computed array expressions still
      // raise a loud DATATYPE_MISMATCH, never a silent wrong answer.
      case c if c.args.length == 1 =>
        val cmp = if (c.name == "EMPTY") "=" else "<>"
        val fn = if (collectionShaped(c.args(0), c.scope.isCollectionCol)) "size"
          else "length"
        c.to(s"($fn(${c.arg(0)}) $cmp 0)")
    }
    call("SEM") {
      // DuckDB sem = POPULATION stddev / sqrt(n) (probe-pinned)
      case c if c.args.length == 1 =>
        val x = c.arg(0)
        c.to(s"(stddev_pop($x) / sqrt(CAST(count($x) AS DOUBLE)))")
    }
    call("CONCAT") {
      // DuckDB concat stringifies EVERY argument and SKIPS NULLs
      // (probe: concat('a', NULL, 'b') = 'ab', concat(1, 2) = '12',
      // concat(NULL, NULL) = '') — Spark's concat propagates NULL
      // and means array-concat on arrays, a silent divergence found
      // by the r8 differential fuzz. concat_ws('') over per-arg
      // string casts reproduces DuckDB exactly.
      // list args stringify too (r9 probe: concat([1,2],[3]) =
      // '[1, 2][3]' — concat is stringify-everything in DuckDB;
      // list CONCATENATION spells list_concat/array_cat, which get
      // their own flatten(array(…)) rewrite so the emission here is
      // never re-captured)
      case c if c.args.exists(_.exists(!isWs(_))) =>
        val casts = c.args.indices.map(k => s"CAST((${c.arg(k)}) AS STRING)")
        c.to(s"concat_ws('', ${casts.mkString(", ")})")
    }
    call("LIST_CONTAINS", "LIST_HAS", "ARRAY_CONTAINS", "ARRAY_HAS", "HAS") {
      // DuckDB list_contains is NOT three-valued over NULL elements
      // (r11 list fuzz): absent needle → false even when the list
      // holds NULLs; NULL only for a NULL list or NULL needle.
      // Spark's array_contains returns NULL for absent-with-NULLs,
      // and array_position demands an EXACT element-type match
      // (array_position([1.0, 2.0], 2) is an analysis error where
      // array_contains coerces — probe-gate find), so emit a
      // NULL-guarded coalesce(exists(l, x -> x = e), false): found
      // → true (exists SHORT-CIRCUITS on the first hit — advice
      // r11, replacing the full-scan size(filter(…)) > 0 form);
      // absent-with-NULL-elements → exists' three-valued NULL →
      // false via coalesce; either arg NULL → NULL via the guard
      // (a literal NULL needle included: Spark's array_contains
      // would reject it untyped at analysis);
      // the lambda compares with `<=>` (r15 nested-NULL scout):
      // duck matches entries by NULLS-EQUAL total equality —
      // list_contains([[1,NULL]], [1,NULL]) is TRUE — where a
      // plain `=` is three-valued over inner NULLs (the
      // NestedCompare rule makes `=` duck-3VL, which would skip
      // the match); `<=>` also equates NaN like duck and applies
      // the same binary coercion.
      // CAVEAT (same class as the other CASE-splice emissions,
      // VERDICT r11): the arguments are interpolated into both the
      // guard and the body, so a NON-DETERMINISTIC needle
      // (random(), uuid()) evaluates more than once; columns,
      // literals and deterministic expressions dedupe in codegen.
      // The 1-param lambda dodges the 1-based index shift; exists
      // is in the higher-order passthrough set, so the emission is
      // not re-captured on re-translation.
      case c if c.args.length == 2 =>
        val (l, e) = (c.arg(0), c.arg(1))
        c.to(s"(CASE WHEN ($l) IS NULL OR ($e) IS NULL THEN CAST(NULL AS BOOLEAN) " +
          s"ELSE coalesce(exists(($l), graft_lc -> graft_lc <=> ($e)), false) END)")
    }
    call("LIST_CONCAT", "LIST_CAT", "ARRAY_CAT", "ARRAY_CONCAT") {
      // DuckDB list concat is strictly 2-arg and SKIPS NULL args
      // (probe: list_concat([1,2], NULL) = [1,2]; both NULL → NULL)
      // — Spark's concat propagates NULL, and emitting concat was
      // re-captured by the stringify rewrite above on
      // re-translation (advice r8). flatten(array(a,b)) is the
      // non-recapturable spelling of array concatenation.
      case c if c.args.length == 2 =>
        val (a, b) = (c.arg(0), c.arg(1))
        c.to(s"(CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a) " +
          s"ELSE flatten(array(($a), ($b))) END)")
    }
    call("LENGTH", "LEN") {
      // DuckDB length()/len() work on lists too (len([1,2]) = 2) —
      // dispatch to size() for array literals / collection calls /
      // named ARRAY-MAP columns (the empty() posture, r8); strings
      // keep length(). Only rewrites when a collection shape is
      // recognized, so plain string length is untouched.
      case c if c.args.length == 1 && collectionShaped(c.args(0), c.scope.isCollectionCol) =>
        c.to(s"size(${c.arg(0)})")
      // r14 nested scout: a BARE identifier the shape scan cannot
      // classify — above all a LAMBDA VARIABLE (`x -> len(x)` over
      // list elements) — takes the type-dispatched kernel; string
      // literals/calls keep Spark's native length (pinned
      // emissions unchanged)
      case c if c.args.length == 1 && (c.sig(0) match {
          case Vector(a: Ident) => !keywordLike(a.upper) &&
            !c.scope.isCollectionCol(a.text.toLowerCase)
          case _ => false
        }) =>
        c.to(s"graft_len(${c.arg(0)})")
    }
    call("SUBSTR", "SUBSTRING") {
      // DuckDB substr(s, 0, n) consumes one length unit on the
      // virtual position 0 (Postgres clamp: 'hello',0,3 → 'he');
      // Spark treats start 0 as 1 with the FULL length — shift the
      // literal-0 form (expression starts stay as-is: both engines
      // agree on every start except exactly 0)
      case c if c.args.length == 3 && c.sig(1).map(_.text) == Vector("0") =>
        c.to(s"substr(${c.arg(0)}, 1, (${c.arg(2)}) - 1)")
    }
    call("REGEXP_FULL_MATCH") {
      // || not concat: the r8 DuckDB-concat rewrite (NULL-skipping
      // concat_ws) would otherwise turn a NULL pattern into '^(?:)$'
      case c if c.args.length == 2 =>
        c.to(s"rlike((${c.arg(0)}), '^(?:' || (${c.arg(1)}) || ')$$')")
    }
    call("REGEXP_ESCAPE") {
      // RE2 QuoteMeta: backslash-escape every char outside
      // [A-Za-z0-9_] (probe: '.', '*', '#', '-', and SPACE all
      // escaped)
      case c if c.args.length == 1 =>
        // Spark's 4-arg form (position 1): still a GLOBAL replace,
        // and re-translation can't mistake it for DuckDB's 3-arg
        // first-match form (the parse-fixpoint guard)
        c.to(s"regexp_replace((${c.arg(0)}), '([^a-zA-Z0-9_])', '\\\\$$1', 1)")
    }
    call("FILTER") {
      // DuckDB accepts FILTER (cond) without WHERE on aggregates —
      // inject it. The clause form always follows the aggregate
      // call's ')'; the filter() higher-order function never does.
      case c if {
          val p = prevNonWs(c.toks, c.i)
          p >= 0 && c.toks(p) == Punct(")") && {
            val first = nextNonWs(c.toks, c.open)
            first < c.close && up(c.toks(first)) != "WHERE"
          }
        } =>
        Some(c.toks.patch(c.open + 1, Seq(Ident("WHERE"), Ws(" ")), 0))
    }
    call("DATE_ADD") {
      // DuckDB date_add(d, INTERVAL …) — Spark's date_add takes day
      // counts; the interval form is plain + arithmetic
      case c if c.args.length == 2 &&
          c.args(1).find(!_.isInstanceOf[Ws]).exists(t => up(t) == "INTERVAL") =>
        c.to(s"((${c.arg(0)}) + ${c.arg(1)})")
    }
    call("AGE") {
      // r10 fuzz batch 6 (was a silent divergence): DuckDB age(a, b)
      // is the CALENDAR decomposition (full months by date walking,
      // then days, then time — Postgres semantics; probed:
      // age(Mar 1, Jan 31) = '1 mon 1 day'), not the exact duration
      // the old a - b mapping produced (30 days there). Emit the
      // decomposition as a CalendarInterval via make_interval:
      // m0 = raw month diff, stepped back/forward when B + m0
      // months overshoots A; remainder split into trunc-toward-zero
      // days + sub-day micros (Spark DIV/% both truncate, so the
      // components share the sign like DuckDB's negative ages).
      case c if c.args.length == 2 =>
        val a = s"CAST((${c.arg(0)}) AS TIMESTAMP)"
        val b = s"CAST((${c.arg(1)}) AS TIMESTAMP)"
        val m0 = s"((year($a) - year($b)) * 12 + (month($a) - month($b)))"
        val m = s"(CASE WHEN $a >= $b AND timestampadd(MONTH, $m0, $b) > $a THEN $m0 - 1 " +
          s"WHEN $a < $b AND timestampadd(MONTH, $m0, $b) < $a THEN $m0 + 1 ELSE $m0 END)"
        val rem = s"(unix_micros($a) - unix_micros(timestampadd(MONTH, $m, $b)))"
        // round() is an identity on the integral DIV but marks the
        // cast alreadyIntegral for the int-cast-rounding pass — the
        // bare CAST(… DIV … AS INT) was re-wrapped on re-translation,
        // breaking the translate∘translate fixpoint
        c.to(s"make_interval(0, $m, 0, CAST(round($rem DIV 86400000000) AS INT), 0, 0, " +
          // graft_dec_cast, not CAST(… AS DECIMAL(18,6)): the rem
          // slice can carry user decimal tokens, and a risky CAST
          // in our own emission would be re-captured by
          // rewriteDecCast on re-translation (fixpoint); the kernel
          // is exact for this integral input
          s"graft_dec_cast($rem % 86400000000, 18, 6) / 1000000)")
    }
    call("ARRAY_TO_STRING") {
      // DuckDB returns NULL for the EMPTY list (probe-pinned, even
      // typed-empty); array_join returns '' — guard. NULL elements
      // are skipped by both.
      case c if c.args.length == 2 =>
        val (l, sep) = (c.arg(0), c.arg(1))
        c.to(s"(CASE WHEN size(($l)) = 0 THEN CAST(NULL AS STRING) ELSE array_join(($l), $sep) END)")
    }
    call("RANGE") {
      // scalar-position range(n)/range(a, b): end-EXCLUSIVE list
      // (empty when the range is void). Table-context ranges —
      // both user-written FROM range(…) and the range() TVF the
      // generate_series rewrite EMITS — must survive, so a range
      // directly after FROM/JOIN is skipped. 3-arg (stepped)
      // stays loud (sign-dependent end adjustment).
      case c if {
          val p = prevNonWs(c.toks, c.i)
          !(p >= 0 && Set("FROM", "JOIN").contains(up(c.toks(p))))
        } && (c.args.length == 1 || c.args.length == 2 ||
          // 3-arg needs the step's sign at rewrite time (end-exclusive
          // adjustment flips with it) — literal steps only, the rest
          // stay loud
          (c.args.length == 3 && scala.util.Try(c.arg(2).toLong).toOption.exists(_ != 0))) =>
        // typed empty: slice of a 1-element sequence keeps the int
        // element type (a bare array() would be ARRAY<STRING>)
        if (c.args.length == 3) {
          val (a, b) = (c.arg(0), c.arg(1))
          val step = c.arg(2).toLong
          val (empty, end) =
            if (step > 0) (s"($b) <= ($a)", s"($b) - 1")
            else (s"($b) >= ($a)", s"($b) + 1")
          c.to(s"(CASE WHEN $empty THEN slice(sequence(($a), ($a)), 1, 0) ELSE sequence(($a), $end, $step) END)")
        } else {
          val (a, b) = if (c.args.length == 1) ("0", c.arg(0)) else (c.arg(0), c.arg(1))
          c.to(s"(CASE WHEN ($b) <= ($a) THEN slice(sequence(($a), ($a)), 1, 0) ELSE sequence(($a), ($b) - 1) END)")
        }
    }
    call("MAP_EXTRACT", "ELEMENT_AT") {
      // DuckDB map_extract(m, k) → 1-element LIST ([] when absent) —
      // the map-subscript wrap shape. element_at is MAP-ONLY in
      // DuckDB and IS map_extract (r8 fuzz: it returned [1], the
      // Spark passthrough returned the scalar — silent); list
      // lookups spell list_element/list_extract → try_element_at
      case c if c.args.length == 2 =>
        val (m, k) = (c.arg(0), c.arg(1))
        c.to(s"IF(map_contains_key(($m), ($k)), array(try_element_at(($m), ($k))), array())")
    }
    call("LIST_RESIZE", "ARRAY_RESIZE") {
      // probe-pinned: pads with NULL (or the 3rd-arg fill) BEYOND the
      // original length only, truncates, n = 0 -> []; Spark sequence
      // errors on empty ranges, hence the guard
      case c if c.args.length == 2 || c.args.length == 3 =>
        val (l, n) = (c.arg(0), c.arg(1))
        val fill = if (c.args.length == 3) c.arg(2) else "NULL"
        c.to(s"(CASE WHEN ($n) <= 0 THEN slice(($l), 1, 0) ELSE " +
          s"transform(sequence(1, CAST(($n) AS INT)), __g_i -> " +
          s"CASE WHEN __g_i <= size(($l)) THEN try_element_at(($l), __g_i) ELSE ($fill) END) END)")
    }
    call("ENCODE", "DECODE") {
      // DuckDB 1-arg UTF-8 string⇄blob conversions → Spark's
      // charset forms
      case c if c.args.length == 1 =>
        c.to(s"${c.id.text.toLowerCase}(${c.arg(0)}, 'UTF-8')")
    }
    call("LIKE_ESCAPE", "ILIKE_ESCAPE", "NOT_LIKE_ESCAPE", "NOT_ILIKE_ESCAPE") {
      // DuckDB function forms of LIKE … ESCAPE (probe-pinned);
      // Spark supports both LIKE and ILIKE with ESCAPE natively
      case c if c.args.length == 3 =>
        val op = if (c.name.contains("ILIKE")) "ILIKE" else "LIKE"
        val core = s"((${c.arg(0)}) $op (${c.arg(1)}) ESCAPE ${c.arg(2)})"
        c.to(if (c.name.startsWith("NOT_")) s"(NOT $core)" else core)
    }
    call("PARSE_FILENAME") {
      // last path component ('' after a trailing slash); optional
      // trim_extension flag (probe: '/a/b/c.txt', true → 'c')
      case c if c.args.length >= 1 && c.args.length <= 2 =>
        val base = s"regexp_extract((${c.arg(0)}), '[^/]*$$', 0)"
        // regexp_replace_first (the registered kernel), not Spark's
        // global regexp_replace: idempotent under re-translation
        // (the 3-arg REGEXP_REPLACE rewrite would convert it) and
        // exactly DuckDB's first-match trim
        c.to(if (c.args.length == 2 && c.arg(1).equalsIgnoreCase("true"))
          s"regexp_replace_first($base, '\\.[^.]*$$', '')" else base)
    }
    call("LIST_TRANSFORM", "LIST_FILTER", "ARRAY_TRANSFORM", "ARRAY_FILTER",
        "LIST_APPLY", "ARRAY_APPLY", "APPLY", "TRANSFORM", "FILTER") {
      // two-parameter lambdas: DuckDB's element index is 1-BASED,
      // Spark's is 0-based — a silent off-by-one through a plain
      // rename (probe: list_transform([10,20], (x,i) -> x+i) is
      // [11,22] there, [10,21] here). The index param is renamed to
      // a marker and every body use shifted by +1; the marker keeps
      // the fixpoint loop from re-shifting.
      case c if c.args.length == 2 && {
          val shape = c.sig(1)
          shape.length > 6 && shape(0) == Punct("(") &&
            shape(1).isInstanceOf[Ident] && shape(2) == Punct(",") &&
            shape(3).isInstanceOf[Ident] && shape(4) == Punct(")") &&
            shape(5) == Punct("->") &&
            // never re-shift our own generated lambdas (grade_up etc.
            // emit Spark-0-based __g_* index params by intent)
            !shape(3).text.startsWith("__g_")
        } =>
        val lam = c.args(1).dropWhile(isWs)
        val shape = lam.filterNot(isWs)
        val xName = shape(1).text
        val iName = shape(3).text
        // unique marker per rewrite: a FIXED name would make a
        // nested lambda's renamed index capture the outer
        // reference (review finding)
        val marker = s"__g_ix${c.scope.nextLambdaIx()}"
        val arrowAt = lam.indexWhere(_ == Punct("->"))
        val body = lam.slice(arrowAt + 1, lam.length)
        // shadow guard: from the first NESTED lambda re-declaring
        // the same index name, stop substituting (found by
        // pre-scan so the declaration tokens themselves are never
        // touched) — leftover outer `i` references past it fail
        // LOUDLY at analysis instead of silently rebinding
        val nw = body.indices.filter(k => !isWs(body(k)))
        var shadowStart = Int.MaxValue
        var w = 0
        while (w + 5 < nw.length && shadowStart == Int.MaxValue) {
          val Seq(a, b2, c2, d, e2, f) =
            (w to w + 5).map(j => body(nw(j)))
          if (a == Punct("(") && b2.isInstanceOf[Ident] &&
              c2 == Punct(",") && d.isInstanceOf[Ident] &&
              d.text.equalsIgnoreCase(iName) && e2 == Punct(")") &&
              f == Punct("->"))
            shadowStart = nw(w)
          w += 1
        }
        val shifted = body.zipWithIndex.map { case (t2, k) =>
          t2 match {
            case b: Ident if k < shadowStart &&
                b.text.equalsIgnoreCase(iName) &&
                !(k > 0 && body.slice(0, k).reverse.find(!isWs(_))
                  .contains(Punct("."))) => Ident(s"($marker + 1)")
            case other => other
          }
        }
        c.to(s"${c.id.text}(${c.arg(0)}, ($xName, $marker) -> ${render(shifted).trim})")
    }
    call("LIST_SORT", "ARRAY_SORT") {
      // DuckDB 1/2/3-arg order forms (probe-pinned: default and
      // 'ASC' are NULLS LAST; 'DESC' keeps NULLS LAST) → the
      // graft_list_sort kernel (r15): one pinned semantics for
      // flat AND nested element types — duck ranks inner NULLs
      // HIGH where the previous array_sort/sort_array emissions
      // kept Spark's NULL-low element ordering. A 2-arg form
      // whose second arg is NOT a string literal is Spark's
      // array_sort(l, lambda) comparator spelling — left alone.
      case c if c.args.length <= 3 && c.args.indices.tail.forall(k => c.sig(k) match {
          case Vector(_: Str) => true
          case _ => false
        }) =>
        val lits = c.args.indices.tail.map(k => c.sig(k).head.asInstanceOf[Str].value.toUpperCase.trim)
        val desc = lits.headOption.exists(_.startsWith("DESC"))
        val nullsFirst = lits.lift(1).exists(_.contains("FIRST"))
        c.to(s"graft_list_sort(${c.arg(0)}, $desc, $nullsFirst)")
    }
    call("STRUCT_INSERT") {
      // struct_insert(s, a := v, …) → chained UpdateFields kernel
      // (appends fields in argument order, DuckDB-identical)
      case c if c.args.length >= 2 =>
        val named = c.args.tail.map { arg =>
          val at = arg.indexWhere(t => t == Punct(":="))
          if (at <= 0) None
          else arg.slice(0, at).filterNot(isWs) match {
            case Vector(n: Ident) => Some((n.text, render(arg.slice(at + 1, arg.length)).trim))
            case _ => None
          }
        }
        if (named.forall(_.isDefined))
          c.to(named.flatten.foldLeft(s"(${c.arg(0)})") { case (acc, (n, v)) =>
            s"graft_struct_insert($acc, '$n', ($v))"
          })
        else None
    }
    call("UNNEST") {
      // unnest(x, recursive := true) → explode(flatten(x)) — exact
      // for two-level lists (deeper nesting fails loudly on
      // flatten's type check; struct-unnesting not supported)
      case c if c.args.length == 2 =>
        val flag = c.arg(1).toUpperCase.replaceAll("\\s+", "")
        if (flag.startsWith("RECURSIVE:=TRUE")) c.to(s"explode(flatten(${c.arg(0)}))")
        // r14 nested scout: the explicit non-recursive spelling is
        // plain unnest — drop the flag (duck's default)
        else if (flag.startsWith("RECURSIVE:=FALSE")) c.to(s"unnest(${c.arg(0)})")
        else None
    }
    call("PLUS", "MINUS", "MULTIPLY", "DIVIDE", "INTDIVORZERO") {
      // ClickHouse arithmetic function forms (chsql). divide is float
      // division — exactly Spark's `/`; intDivOrZero guards b = 0.
      case c if c.args.length == 2 =>
        val (a, b) = (c.arg(0), c.arg(1))
        c.to(c.name match {
          case "PLUS" => s"(($a) + ($b))"
          case "MINUS" => s"(($a) - ($b))"
          case "MULTIPLY" => s"(($a) * ($b))"
          case "DIVIDE" => s"(($a) / ($b))"
          case _ => s"(CASE WHEN ($b) = 0 THEN 0 ELSE ($a) DIV ($b) END)"
        })
    }
    call("POSITIONCASEINSENSITIVE") {
      // ClickHouse positionCaseInsensitive(haystack, needle), 1-based
      case c if c.args.length == 2 =>
        c.to(s"instr(lower(${c.arg(0)}), lower(${c.arg(1)}))")
    }
    call("MULTISEARCHANY") {
      // ClickHouse multiSearchAny(haystack, [needles]) → UInt8 0/1
      case c if c.args.length == 2 =>
        c.to(s"(CASE WHEN exists((${c.arg(1)}), __g_n -> instr((${c.arg(0)}), __g_n) > 0) THEN 1 ELSE 0 END)")
    }
    call("TOYYYYMMDDHHMMSS") {
      case c if c.args.length == 1 =>
        val e = c.arg(0)
        c.to(s"(CAST(year($e) AS BIGINT) * 10000000000 + month($e) * 100000000 + " +
          s"day($e) * 1000000 + hour($e) * 10000 + minute($e) * 100 + second($e))")
    }
    call("IPV4NUMTOSTRING") {
      // big-endian octets of a UInt32
      case c if c.args.length == 1 =>
        val n = c.arg(0)
        c.to(s"concat_ws('.', CAST(($n) DIV 16777216 % 256 AS STRING), " +
          s"CAST(($n) DIV 65536 % 256 AS STRING), " +
          s"CAST(($n) DIV 256 % 256 AS STRING), CAST(($n) % 256 AS STRING))")
    }
    call("IPV4STRINGTONUM") {
      case c if c.args.length == 1 =>
        c.to(s"aggregate(split((${c.arg(0)}), '\\.'), " +
          s"CAST(0 AS BIGINT), (__g_a, __g_x) -> __g_a * 256 + CAST(__g_x AS BIGINT))")
    }
    call("SPLITBYSTRING") {
      // ClickHouse splitByString(sep, s) → split(s, quoted-sep)
      case c if c.args.length == 2 && (c.sig(0) match {
          case Vector(_: Str) => true
          case _ => false
        }) =>
        val sep = c.sig(0).head.asInstanceOf[Str]
        c.to(s"split(${c.arg(1)}, '${regexLiteralSep(sep.value)}')")
    }
    call("TO_TIMESTAMP") {
      // DuckDB to_timestamp is numeric-seconds only (strings go
      // through strptime) — exactly Spark's timestamp_seconds incl.
      // fractions. 1-arg only: the 2-arg to_timestamp(s, fmt) the
      // STRPTIME rewrite emits is already Spark semantics.
      case c if c.args.length == 1 => c.to(s"timestamp_seconds(${c.arg(0)})")
    }
    call("REGEXP_EXTRACT") {
      // DuckDB's 2-arg default is group 0 (the whole match); Spark's
      // is group 1 — a silent divergence without the explicit 0.
      // The 3-arg name-list form returns a STRUCT of groups 1..n.
      case c if c.args.length == 2 =>
        c.to(s"regexp_extract(${c.arg(0)}, ${c.arg(1)}, 0)")
      case c if c.args.length == 3 && {
          val third = c.sig(2)
          // rewriteArrayLiterals runs first, so ['w','d'] arrives as
          // array('w','d'); accept the raw bracket form too
          (third.headOption.contains(Punct("[")) ||
            third.headOption.exists(t => up(t) == "ARRAY")) &&
            third.count(_.isInstanceOf[Str]) >= 1
        } =>
        val names = c.sig(2).collect { case st: Str => st.value }
        val fields = names.zipWithIndex.map { case (n, gi) =>
          s"'$n', regexp_extract(${c.arg(0)}, ${c.arg(1)}, ${gi + 1})"
        }.mkString(", ")
        c.to(s"named_struct($fields)")
    }
    call("LIST_GRADE_UP", "ARRAY_GRADE_UP", "GRADE_UP") {
      // DuckDB list_grade_up: 1-based positions in ascending order,
      // NULLS LAST, ties stable (probe: [10,NULL,10,5] → [4,1,3,2]).
      // Sort key rides a (is-null, value, position) struct: boolean
      // false<true puts NULLs last, position keeps ties stable.
      case c if c.args.length == 1 =>
        c.to(s"transform(array_sort(transform((${c.arg(0)}), (__g_x, __g_i) -> " +
          s"named_struct('n', (__g_x IS NULL), 'v', __g_x, 'p', __g_i + 1))), " +
          s"__g_s -> __g_s.p)")
    }
    call("LIST_ANY_VALUE") {
      // first non-NULL element; all-NULL / empty → NULL (probe)
      case c if c.args.length == 1 =>
        c.to(s"try_element_at(filter((${c.arg(0)}), __g_x -> __g_x IS NOT NULL), 1)")
    }
    call("LIST_SELECT", "ARRAY_SELECT") {
      // 1-based gather; 0, negative, and out-of-range indices → NULL
      // (probe) — Spark's try_element_at would wrap negatives, so
      // guard below 1 explicitly
      case c if c.args.length == 2 =>
        c.to(s"transform((${c.arg(1)}), __g_i -> CASE WHEN __g_i < 1 THEN NULL " +
          s"ELSE try_element_at((${c.arg(0)}), CAST(__g_i AS INT)) END)")
    }
    call("LIST_WHERE", "ARRAY_WHERE") {
      // boolean-mask gather (probe: [10,20,30],[t,f,t] → [10,30]).
      // DuckDB errors on NULL mask elements; the filter form drops
      // them — loud-vs-silent divergence documented in SURVEY §2.12.
      case c if c.args.length == 2 =>
        c.to(s"transform(filter(zip_with((${c.arg(0)}), (${c.arg(1)}), (__g_x, __g_m) -> " +
          s"named_struct('v', __g_x, 'k', __g_m)), __g_s -> __g_s.k), " +
          s"__g_t -> __g_t.v)")
    }
    call("TO_JSON", "ROW_TO_JSON", "ARRAY_TO_JSON") {
      // DuckDB to_json keeps NULL struct fields ({"a":null}); Spark's
      // to_json DROPS them by default — inject
      // ignoreNullFields=false. One-arg calls only: the re-lexed
      // 2-arg result no longer matches, so the fixpoint loop can't
      // re-fire. (DuckDB scalar to_json('s') → '"s"' stays a
      // declared gap: Spark's to_json takes only struct/map/array.)
      case c if c.args.length == 1 =>
        c.to(s"to_json(${c.arg(0)}, map('ignoreNullFields', 'false'))")
    }
    call("JSON_GROUP_ARRAY") {
      // DuckDB macro: json_group_array(e) = to_json(list(e)). NULL
      // elements survive in DuckDB's list but Spark's collect_list
      // drops them — ride each value inside a never-NULL struct
      // (the rewriteOrderedArrayAgg trick), then unwrap.
      case c if c.args.length == 1 =>
        c.to(s"to_json(transform(collect_list(named_struct('v', (${c.arg(0)}))), __g_j -> __g_j.v), map('ignoreNullFields', 'false'))")
    }
    call("JSON_GROUP_OBJECT") {
      // DuckDB macro: json_group_object(k, v) = to_json(map built in
      // input order). Spark twin: entries collected as structs (never
      // NULL, so NULL values survive), then map_from_entries.
      case c if c.args.length == 2 =>
        c.to(s"to_json(map_from_entries(collect_list(named_struct('key', (${c.arg(0)}), 'value', (${c.arg(1)})))), map('ignoreNullFields', 'false'))")
    }
    call("SHA256") {
      // DuckDB sha256(s) and Spark sha2(s, 256) both emit lowercase
      // hex (probe-verified incl. empty string)
      case c if c.args.length == 1 => c.to(s"sha2(${c.arg(0)}, 256)")
    }
    call("LIST_REVERSE_SORT", "ARRAY_REVERSE_SORT") {
      // DuckDB list_reverse_sort: descending, NULLs last (probe:
      // [3,NULL,1] -> [3,1,NULL]) → the graft_list_sort kernel
      // (r15, duck's NULL-high element order for nested elements)
      case c if c.args.length == 1 => c.to(s"graft_list_sort(${c.arg(0)}, true, false)")
    }
    call("LIST_COSINE_SIMILARITY", "LIST_INNER_PRODUCT", "LIST_DOT_PRODUCT",
        "ARRAY_COSINE_SIMILARITY", "ARRAY_INNER_PRODUCT", "ARRAY_DOT_PRODUCT",
        "LIST_DISTANCE", "ARRAY_DISTANCE") {
      // vector kernels over generic numeric lists → double-math
      // higher-order forms (the codegen cosine_sim kernel is the
      // ARRAY<FLOAT> hot path; these translate the DuckDB spellings
      // at full double precision). Sequential accumulation in both
      // engines; declared queries quantize to micro units.
      case c if c.args.length == 2 =>
        val (a, b) = (c.arg(0), c.arg(1))
        def dot(x: String, y: String) =
          s"aggregate(zip_with($x, $y, (__gv_x, __gv_y) -> CAST(__gv_x AS DOUBLE) * CAST(__gv_y AS DOUBLE)), " +
            s"CAST(0 AS DOUBLE), (__gv_a, __gv_v) -> __gv_a + __gv_v)"
        def dist(x: String, y: String) =
          s"aggregate(zip_with($x, $y, (__gv_x, __gv_y) -> " +
            s"(CAST(__gv_x AS DOUBLE) - CAST(__gv_y AS DOUBLE)) * (CAST(__gv_x AS DOUBLE) - CAST(__gv_y AS DOUBLE))), " +
            s"CAST(0 AS DOUBLE), (__gv_a, __gv_v) -> __gv_a + __gv_v)"
        c.to(
          if (c.name.endsWith("COSINE_SIMILARITY"))
            s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
          else if (c.name.endsWith("DISTANCE")) s"sqrt(${dist(a, b)})"
          else dot(a, b))
    }
    call("SUMIF", "AVGIF", "MINIF", "MAXIF", "COUNTIF") {
      // ClickHouse conditional aggregates xIf(expr, cond) →
      // agg(expr) FILTER (WHERE cond) — Spark's native filtered
      // aggregation (codegen'd, partial-agg friendly). DuckDB's own
      // countif(cond) is 1-arg and name-mapped; the ClickHouse xIf
      // family here is the 2-arg (expr, cond) form
      case c if c.args.length == 2 =>
        c.to(s"${c.name.stripSuffix("IF").toLowerCase}(${c.arg(0)}) FILTER (WHERE ${c.arg(1)})")
    }
    call("MULTIIF") {
      // ClickHouse multiIf(c1, v1, ..., else) → CASE chain
      case c if c.args.length >= 3 && c.args.length % 2 == 1 =>
        val pairs = (0 until c.args.length - 1 by 2).map { k =>
          s"WHEN ${c.arg(k)} THEN ${c.arg(k + 1)}"
        }.mkString(" ")
        c.to(s"(CASE $pairs ELSE ${c.arg(c.args.length - 1)} END)")
    }
    call(Seq("DAY", "MONTH", "YEAR", "HOUR", "MINUTE", "QUARTER", "WEEK")
        .map("TOSTARTOF" + _): _*) {
      // ClickHouse toStartOfX(d) → date_trunc('X', d); toStartOfWeek
      // default mode 0 starts SUNDAY (Spark/DuckDB week = Monday) →
      // shifted trunc. r12: MONTH/QUARTER/YEAR return Date in
      // ClickHouse → pre-wrapped CAST(… AS DATE) (also what
      // rewriteDateTruncShape would produce — emitting it here
      // keeps the fixpoint); DAY returns DateTime there → the
      // ENCLOSING CAST(… AS TIMESTAMP) sentinel opts out of the
      // day-or-coarser DATE rewrite (r13; no-op cast, folded by
      // SimplifyCasts).
      case c if c.args.length == 1 =>
        val d = c.arg(0)
        c.to(c.name.stripPrefix("TOSTARTOF") match {
          case "WEEK" =>
            s"date_sub(CAST(date_trunc('WEEK', date_add($d, 1)) AS DATE), 1)"
          case unit @ ("MONTH" | "QUARTER" | "YEAR") =>
            s"CAST(date_trunc('$unit', $d) AS DATE)"
          case "DAY" =>
            s"CAST(date_trunc('DAY', CAST(($d) AS TIMESTAMP)) AS TIMESTAMP)"
          case unit => s"date_trunc('$unit', $d)"
        })
    }
    call("TOYYYYMM", "TOYYYYMMDD") {
      case c if c.args.length == 1 =>
        val d = c.arg(0)
        c.to(if (c.name == "TOYYYYMM") s"(year($d) * 100 + month($d))"
          else s"(year($d) * 10000 + month($d) * 100 + day($d))")
    }
    call("TODAYOFWEEK") {
      // ClickHouse: Monday=1..Sunday=7; Spark dayofweek: Sunday=1
      case c if c.args.length == 1 => c.to(s"(((graft_dow(${c.arg(0)}) + 6) % 7) + 1)")
    }
    call("POSITION") {
      // ClickHouse position(haystack, needle) — Spark's 2-arg
      // position() takes (substr, str), REVERSED; instr has the CH
      // order. SQL-standard position(x IN y) passes through untouched.
      case c if c.args.length == 2 && !c.args.exists(_.exists {
          case i2: Ident => i2.upper == "IN"; case _ => false }) =>
        c.to(s"instr(${c.arg(0)}, ${c.arg(1)})")
    }
    call("FIRST", "LAST") {
      // DuckDB `first(e ORDER BY k [DESC])` → min_by/max_by (probe:
      // first ORDER BY ≡ min_by, last ≡ max_by; DESC swaps). Ties are
      // arbitrary in both engines — declared queries use unique keys.
      case c if c.args.length == 1 && c.args(0).exists(t => up(t) == "ORDER") =>
        val arg = c.args(0)
        val obIdx = arg.indexWhere(t => up(t) == "ORDER")
        val byIdx = arg.indices.find(j => j > obIdx && up(arg(j)) == "BY").getOrElse(-1)
        if (byIdx > 0) {
          val e = render(arg.take(obIdx)).trim
          var key = arg.drop(byIdx + 1)
          val last = key.reverse.find(!isWs(_)).map(up)
          val isDesc = last.contains("DESC")
          if (isDesc || last.contains("ASC")) key = key.take(key.lastIndexWhere(!isWs(_)))
          val fn = (c.name, isDesc) match {
            case ("FIRST", false) | ("LAST", true) => "min_by"
            case _ => "max_by"
          }
          c.to(s"$fn($e, ${render(key).trim})")
        } else None
    }
    call("SKEWNESS", "KURTOSIS") {
      // SILENT same-name divergence closed (r7): DuckDB's skewness/
      // kurtosis are SAMPLE statistics (G1 / excess G2), Spark's are
      // population (g1 / excess g2). Exact conversion:
      //   G1 = g1 · √(n(n−1)) / (n−2)          [NULL below n=3]
      //   G2 = ((n+1)·g2 + 6) · (n−1) / ((n−2)(n−3))   [NULL below n=4]
      // (both probe-verified value-exact on DuckDB 1.0; DuckDB
      // returns NULL at the small-n edges, which the CASE mirrors)
      case c if c.args.length == 1 =>
        val e = c.arg(0)
        c.to(
          if (c.name == "SKEWNESS")
            s"(CASE WHEN count($e) < 3 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE graft_skewness_g1($e) * sqrt(count($e) * (count($e) - 1)) / (count($e) - 2) END)"
          else
            s"(CASE WHEN count($e) < 4 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE ((count($e) + 1) * graft_kurtosis_g2($e) + 6) * (count($e) - 1) / ((count($e) - 2) * (count($e) - 3)) END)")
    }
    call("JACCARD") {
      // DuckDB jaccard: case-sensitive CHARACTER-SET Jaccard
      // (multiset collapses: jaccard('aab','ab') = 1.0, probed) →
      // intersect/union over split(s, ''). DuckDB errors on empty
      // inputs ("argument too short"); this form returns a value —
      // error-path-only divergence.
      case c if c.args.length == 2 =>
        val (a, b) = (c.arg(0), c.arg(1))
        c.to(s"(CAST(size(array_intersect(split($a, ''), split($b, ''))) AS DOUBLE)" +
          s" / size(array_union(split($a, ''), split($b, ''))))")
    }
    call("HAMMING", "MISMATCHES") {
      // DuckDB hamming/mismatches: positionwise differing-BYTE
      // count (r14 str fuzz: 'éa' vs 'Xa' errors in duck — 3 vs 2
      // BYTES — where the old char-split emission compared 2-char
      // strings), ERROR on unequal byte lengths → NULL here
      // (error-path divergence only; equal-byte-length inputs agree)
      case c if c.args.length == 2 => c.to(s"graft_mismatches((${c.arg(0)}), (${c.arg(1)}))")
    }
    call("TRUNC") {
      // 1-arg numeric trunc (toward zero) — Spark's trunc is
      // date-only; emit the floor/ceil CASE at DOUBLE. DuckDB's
      // DECIMAL-in → DECIMAL-out stays a declared-cast concern.
      // isnan/huge guards (r12 num fuzz): floor/ceil return LONG
      // in Spark — |x| > 2^63 ANSI-overflowed and NaN/inf threw
      // where duck passes them through; doubles at |x| >= 2^53
      // are already integral
      case c if c.args.length == 1 =>
        val x = c.arg(0)
        c.to(s"CAST(CASE WHEN isnan($x) OR abs($x) >= 9007199254740992e0 THEN ($x) " +
          s"WHEN ($x) >= 0 THEN floor($x) ELSE ceil($x) END AS DOUBLE)")
    }
    call("SIGN") {
      // r12 num fuzz: duck sign() is an INTEGER -1/0/1 — and
      // sign(NaN) = 0 — where Spark's returns DOUBLE ±1.0/NaN (a
      // CAST of the NaN then ANSI-throws, and Spark orders NaN
      // above zero so CASE comparisons mislabel it 1). Kernel
      // emission: a CASE splice was non-idempotent (the int-cast
      // rounding pass wrapped its head on re-translation);
      // GRAFT_SIGN is integralFns-listed so CAST(sign(x) AS
      // BIGINT) stays rounding-free.
      case c if c.args.length == 1 => c.to(s"graft_sign(${c.arg(0)})")
    }
    call("ABS") {
      // r13 (VERDICT r12 #5, closing the num-mode allowlist
      // residual): duck types `-2147483648` BIGINT where Spark
      // types it INT and abs() ANSI-overflows — graft_abs widens
      // BYTE/SHORT/INT one step so the type-min is representable,
      // and throws on LONG min exactly where duck errors. The
      // trunc/even/isinf guard emissions in THIS pass also get
      // captured on rescan (double operands — Math.abs either
      // way), which keeps the translate fixpoint.
      case c if c.args.length == 1 => c.to(s"graft_abs(${c.arg(0)})")
    }
    call("ROUND") {
      // r13 dec fuzz (num-mode probe 34): duck's round() over
      // DOUBLE is `std::round(x·10^n)/10^n` — half-away on the FP
      // PRODUCT — while Spark rounds the shortest decimal
      // rendering via BigDecimal.HALF_UP; they disagree on every
      // binary knife-edge (round(2.675e0, 2): duck 2.68, Spark
      // 2.67; round(167634154485.89804, 4): duck ….8981, Spark
      // ….8980). graft_round_dbl replicates duck bit-exactly and
      // subsumes the r12 negative-digit NaN/±inf→0 guard (its
      // negative branch returns 0 there, the positive branch
      // passes the special through — both probed).
      case c if c.args.length <= 2 && decimalRiskToks(c.args(0), c.scope.isDecimalCol) =>
        // DECIMAL operand: Spark's decimal round already
        // matches duck's exact half-away (r12-pinned); only
        // bare negative-literal digits need the parenthesized
        // re-emission (r13, r12 ADVICE: the old NaN guard
        // coerced DECIMAL results to DOUBLE)
        if (c.args.length == 2 && (c.sig(1) match {
            case Vector(Punct("-"), _: Num) => true
            case _ => false
          })) c.to(s"round(${c.arg(0)}, (${c.arg(1)}))")
        else None
      // non-decimal → duck's FP round kernel, EXCEPT the
      // integral-marker shapes: round-as-identity over a DIV
      // or an integral-fn head — internal emissions rely on
      // the round( spelling for the int-cast-rounding skip,
      // and the value is already integral on both engines
      case c if c.args.length <= 2 && !roundIntegralMarker(c.args(0)) =>
        c.to(if (c.args.length == 2) s"graft_round_dbl(${c.arg(0)}, ${c.arg(1)})"
          else s"graft_round_dbl(${c.arg(0)})")
    }
    call("EVEN") {
      // round away from zero to the next even (even(2.5)=4,
      // even(-2.5)=-4, even(3)=4, probed); same isnan/huge guards
      // as trunc (r12 num fuzz): ceil returns LONG;
      // even(1.5e300)/even(inf) overflowed where duck passes
      // through (|x| >= 2^53 doubles are integral with even spacing)
      case c if c.args.length == 1 =>
        val x = c.arg(0)
        c.to(s"CAST(CASE WHEN isnan($x) OR abs($x) >= 9007199254740992e0 THEN ($x) " +
          s"WHEN ($x) >= 0 THEN ceil(($x) / 2) * 2 " +
          s"ELSE -(ceil(abs($x) / 2) * 2) END AS DOUBLE)")
    }
    call("ISINF", "ISFINITE") {
      // Spark has isnan but no isinf/isfinite. NULL-input note:
      // DuckDB's isnan(NULL) is NULL while Spark's is false — these
      // two forms propagate NULL via the arithmetic, matching DuckDB.
      case c if c.args.length == 1 =>
        val x = c.arg(0)
        c.to(if (c.name == "ISINF") s"(abs($x) = CAST('Infinity' AS DOUBLE))"
          else s"(NOT isnan($x + CAST(0 AS DOUBLE)) AND abs($x) <> CAST('Infinity' AS DOUBLE))")
    }
    call("LEFT", "RIGHT") {
      // DuckDB left/right accept NEGATIVE n ("all but the last/first
      // |n|"); Spark's return '' there. Rewritten to substring CASE
      // forms that agree on every n (probe-verified on: n<-len, -2,
      // 0, 2, >len); substring spelling keeps the rewrite fixpoint.
      case c if c.args.length == 2 =>
        val (s0, n) = (c.arg(0), c.arg(1))
        c.to(
          if (c.name == "LEFT")
            s"substring($s0, 1, CASE WHEN ($n) >= 0 THEN ($n) ELSE greatest(0, length($s0) + ($n)) END)"
          else
            s"substring($s0, CASE WHEN ($n) >= 0 THEN greatest(1, length($s0) - ($n) + 1) ELSE 1 - ($n) END)")
    }
    call("TO_BASE") {
      case c if c.args.length == 2 => c.to(s"conv(${c.arg(0)}, 10, ${c.arg(1)})")
    }
    call("LIST_AGGREGATE", "LIST_AGGR", "ARRAY_AGGREGATE", "ARRAY_AGGR", "AGGREGATE") {
      // list_aggregate(l, 'name' [, extra]) -> the matching array
      // form. DuckDB element-aggregate semantics (r8, probe-pinned):
      // NULL elements are SKIPPED ('count' of [1,NULL] is 1, sum of
      // the empty/all-NULL list is NULL), string_agg joins with the
      // given (or default ',') separator, first/last pick ends.
      // Spark's own aggregate(l, init, merge) passes through: only a
      // string-literal second argument names an element aggregate.
      case c if c.name != "AGGREGATE" ||
          (c.args.length >= 2 && c.sig(1).forall(_.isInstanceOf[Str])) =>
        val fnLit = if (c.args.length >= 2) c.args(1).collectFirst { case s: Str => s.value } else None
        val l = c.arg(0)
        val two = c.args.length == 2
        val nn = s"filter(($l), __g_n -> __g_n IS NOT NULL)"
        val sumForm = s"aggregate($nn, CAST(0 AS DOUBLE), (__g_acc, __g_v) -> __g_acc + CAST(__g_v AS DOUBLE))"
        fnLit.map(_.toLowerCase).collect {
          case "min" if two => s"array_min($l)"
          case "max" if two => s"array_max($l)"
          case "count" if two => s"size($nn)"
          case "sum" if two =>
            s"(CASE WHEN size($nn) = 0 THEN CAST(NULL AS DOUBLE) ELSE $sumForm END)"
          case "avg" | "mean" if two =>
            s"(CASE WHEN size($nn) = 0 THEN CAST(NULL AS DOUBLE) ELSE ($sumForm / size($nn)) END)"
          case "string_agg" =>
            s"array_join($l, ${if (c.args.length >= 3) c.arg(2) else "','"})"
          case "first" if two => s"try_element_at($l, 1)"
          case "last" if two => s"try_element_at($l, -1)"
        }.flatMap(c.to)
    }
    call("PRINTF") {
      // r10 batch 7: Java's Formatter rejects DECIMAL values for the
      // FLOAT conversions (%f/%e/%g threw IllegalFormatConversion
      // where DuckDB formats them) — cast each float-specifier arg
      // to DOUBLE, matching duck's coercion. %i is duck's alias for
      // %d. Non-literal formats keep the plain name map.
      case c if c.args.length >= 2 && (c.sig(0) match {
          case Vector(_: Str) => true
          case _ => false
        }) =>
        val fmt = c.sig(0).head.asInstanceOf[Str].value.replace("%i", "%d")
        val convs = "%[-+ #0]*\\d*(?:\\.\\d+)?([a-zA-Z%])".r
          .findAllMatchIn(fmt).map(_.group(1)).filterNot(_ == "%").toSeq
        val rest = (1 until c.args.length).map(k => (c.arg(k), k - 1)).map {
          case (a, ix) if ix < convs.length && "feg".contains(convs(ix)) =>
            s"CAST(($a) AS DOUBLE)"
          case (a, _) => a
        }
        c.to(s"format_string(${sparkStrLit(fmt)}, ${rest.mkString(", ")})")
    }
    call("FORMAT") {
      // fmt-style format('{} x {}', ...) -> format_string('%s x %s',
      // ...) when the first arg is a literal of {} / {N} holes, plus
      // (r10 batch 7) the spec forms {:.Nf} / {:d} / {:s} and
      // (r10 batch 9) alignment/zero-pad/width {:>6} {:<8s} {:06d}
      // {:8.3f}; center-align and custom fills stay loud
      case c if c.args.length >= 2 && (c.sig(0) match {
          case Vector(s: Str) => !s.value.contains("%") &&
            "\\{:([^}]*)\\}".r.findAllMatchIn(s.value)
              .forall(m => fmtSpecToJava(m.group(1)).isDefined)
          case _ => false
        }) =>
        val fmt = c.sig(0).head.asInstanceOf[Str].value
        // collect per-hole conversions in order for arg casting
        val holeRe = "\\{(\\d*)(?::([^}]*))?\\}".r
        val convs = holeRe.findAllMatchIn(fmt)
          .map(m => fmtSpecToJava(Option(m.group(2)).getOrElse("")).getOrElse("s"))
          .toSeq
        val jfmt = holeRe.replaceAllIn(fmt, m => {
          val spec = Option(m.group(2)).getOrElse("")
          val body = fmtSpecToJava(spec).getOrElse("s")
          if (m.group(1).isEmpty) "%" + body
          else s"%${m.group(1).toInt + 1}\\$$$body"
        })
        val rest = (1 until c.args.length).map(k => (c.arg(k), k - 1)).map {
          case (a, ix) if ix < convs.length && convs(ix).endsWith("f") =>
            s"CAST(($a) AS DOUBLE)"
          case (a, _) => a
        }
        c.to(s"format_string(${sparkStrLit(jfmt)}, ${rest.mkString(", ")})")
    }
    call("LIST_PREPEND") {
      // DuckDB list_prepend(element, list) vs Spark
      // array_prepend(list, element): swap the arguments (the reason
      // a name-only fnMap entry was deliberately never added)
      case c if c.args.length == 2 => c.to(s"array_prepend((${c.arg(1)}), (${c.arg(0)}))")
    }
    call("REGEXP_MATCHES") {
      // r10 batch 9: duck's options string → Java inline flags.
      // i/m/s carry over; c (case-sensitive) is both engines'
      // default. Other options stay loud — including 'g', which
      // duck itself rejects on regexp_matches.
      case c if c.args.length == 3 && (c.sig(2) match {
          case Vector(s: Str) => s.value.forall("imsc".contains(_))
          case _ => false
        }) =>
        val flags = c.sig(2).head.asInstanceOf[Str].value.filter("ims".contains(_))
        val pat = if (flags.isEmpty) s"(${c.arg(1)})" else s"'(?$flags)' || (${c.arg(1)})"
        c.to(s"rlike((${c.arg(0)}), $pat)")
    }
    call("REGEXP_EXTRACT_ALL") {
      // same name, different 2-arg default: DuckDB extracts group 0
      // (the whole match), Spark group 1 — pin the 0 explicitly
      case c if c.args.length == 2 => c.to(s"regexp_extract_all(${c.arg(0)}, ${c.arg(1)}, 0)")
    }
    call("DAYNAME", "MONTHNAME") {
      // full English names in both engines; Spark spells them via
      // date_format patterns (EEEE / MMMM) — probe-verified equal
      case c =>
        val fmt = if (c.name == "DAYNAME") "EEEE" else "MMMM"
        c.to(s"date_format(${render(c.inner).trim}, '$fmt')")
    }
    call("LIST_REDUCE", "ARRAY_REDUCE") {
      // DuckDB folds left with the FIRST element as the seed (an
      // empty list errors there; NULL seed here — documented
      // divergence, declared queries keep lists non-empty)
      case c if c.args.length == 2 =>
        val l = c.arg(0)
        c.to(s"reduce(slice(($l), 2, size($l) - 1), try_element_at(($l), 1), ${c.arg(1)})")
    }
    call("LIST_UNIQUE", "ARRAY_UNIQUE") {
      // count of distinct NON-NULL elements (probe: list_unique(
      // [1,2,2,NULL]) = 2 — DuckDB excludes NULL; Spark's
      // array_distinct keeps it, so filter first). DuckDB returns
      // UBIGINT; Spark's size is INT — declared queries CAST.
      case c => c.to(s"size(graft_list_distinct(${render(c.inner).trim}))")
    }
    call("LIST_DISTINCT", "ARRAY_DISTINCT") {
      // DuckDB's list_distinct AND its array_distinct alias DROP
      // NULLs (probe on both: [1,2,2,NULL,NULL] → [2,1]); Spark's
      // array_distinct keeps one NULL. graft_list_distinct is the
      // registered native ArrayDistinct∘ArrayCompact — the alias
      // spelling matters because this pass runs to FIXPOINT: a
      // replacement containing `array_distinct` would re-match this
      // very rule forever. (r7: the ARRAY_DISTINCT alias previously
      // passed through to Spark's native fn, silently diverging on
      // NULL-bearing lists.) Result ORDER is unspecified in DuckDB:
      // declared queries wrap in list_sort before serializing.
      case c => c.to(s"graft_list_distinct(${render(c.inner).trim})")
    }
    call("TIME_BUCKET") {
      // time_bucket(width, ts[, offset|origin]) — DuckDB anchors
      // fixed widths to 2000-01-03 00:00:00 (a Monday: 7-day
      // buckets start Mondays) and month widths to 2000-01-01,
      // flooring pre-origin inputs (probe: 1969-03-05 → 1969-03-04
      // for 2-day buckets). pmod IS the floor arithmetic:
      // bucket = t - pmod(t - origin, w). A 3rd INTERVAL arg
      // shifts the origin; a 3rd DATE/TIMESTAMP arg replaces it
      // (month widths use only its year+month — probe: origin
      // 2000-02-15 buckets land on the 1st). DATE-typed input
      // returns DATE in DuckDB: pinned for DATE literals / ::DATE
      // casts; bare columns get the TIMESTAMP shape (documented
      // rendering-class divergence, same class as date_trunc).
      case c if (c.args.length == 2 || c.args.length == 3) &&
          bucketWidth(c.args(0)).isDefined =>
        val (wm, wus) = bucketWidth(c.args(0)).get
        val ts = c.arg(1)
        val dateIn = {
          val sig = c.sig(1)
          val r = ts.toUpperCase
          (sig.headOption.exists(t => up(t) == "DATE") &&
            sig.length == 2) ||
            r.endsWith("::DATE") || r.matches("(?s).*AS\\s+DATE\\s*\\)\\s*$") ||
            // r12 (VERDICT r11 #1): DATE-TYPED COLUMN inputs get the
            // DATE result shape too — strict catalog resolution (the
            // wrong shape on a name collision would be silent)
            dateValuedSlice(c.args(1), 0, c.args(1).length - 1,
              c.scope.isDateCol, strict = true)
        }
        val thirdIv: Option[(Long, Long)] =
          if (c.args.length == 3) intervalWidth(c.args(2)) else None
        val thirdOrigin: Option[String] =
          if (c.args.length == 3 && thirdIv.isEmpty) Some(c.arg(2)) else None
        // an offset must live on the same grid axis as the width; a
        // cross-axis offset stays loud
        if (thirdIv.exists { case (om, ous) => !((wus > 0 && om == 0) || (wm > 0 && ous == 0)) })
          None
        else if (wus > 0) {
          val oExpr = thirdOrigin match {
            case Some(org) => s"(unix_micros(CAST(($org) AS TIMESTAMP)))"
            case None =>
              val base = 946857600000000L // 2000-01-03 00:00:00 UTC
              s"(${base + thirdIv.map(_._2).getOrElse(0L)})"
          }
          val t = s"unix_micros(CAST(($ts) AS TIMESTAMP))"
          val bucket = s"timestamp_micros($t - pmod($t - $oExpr, $wus))"
          c.to(if (dateIn) s"CAST($bucket AS DATE)" else bucket)
        } else {
          // month grid: bucket month-index arithmetic, day-of-month 1
          val md0 = thirdOrigin match {
            case Some(org) => s"(year(($org)) * 12 + month(($org)) - 1)"
            case None => s"(${2000 * 12 + thirdIv.map(_._1).getOrElse(0L)})"
          }
          val md = s"(year(($ts)) * 12 + month(($ts)) - 1)"
          val bm = s"($md - pmod($md - $md0, $wm))"
          val d = s"make_date(CAST(round($bm DIV 12) AS INT), CAST(round($bm % 12 + 1) AS INT), 1)"
          c.to(if (dateIn) d else s"CAST($d AS TIMESTAMP)")
        }
    }
    call("DATE_SUB", "DATESUB") {
      // DuckDB date_sub('part', a, b) counts COMPLETE parts from a
      // to b, sign-symmetric, truncating toward zero (probes:
      // ('hour', 10:00, +1d 09:59:59) = 23; ('month', Jan 31,
      // Mar 30) = 1 but Mar 31 = 2 — interval-arithmetic clamping,
      // NOT months_between's /31 day fractions, whose floor
      // diverges on e.g. (Jan 30, Feb 29)). Fixed parts divide the
      // microsecond span (BIGINT DIV truncates toward zero);
      // month-class parts take the raw month-index diff and walk
      // back one step when start+m0 months overshoots — a single
      // step always suffices because month addition is monotonic.
      // NOT Spark's 2-arg date_sub(date, days), which passes through.
      case c if c.args.length == 3 && (c.sig(0) match {
          case Vector(_: Str) => true
          case _ => false
        }) =>
        val part = c.sig(0).head.asInstanceOf[Str].value.trim.toLowerCase
        val (a, b) = (c.arg(1), c.arg(2))
        val fixedUs: Option[Long] = part match {
          case "microsecond" | "microseconds" | "us" => Some(1L)
          case "millisecond" | "milliseconds" | "ms" => Some(1000L)
          case "second" | "seconds" | "sec" | "secs" => Some(1000000L)
          case "minute" | "minutes" | "min" | "mins" => Some(60000000L)
          case "hour" | "hours" | "hr" | "hrs" => Some(3600000000L)
          case "day" | "days" | "d" => Some(86400000000L)
          case "week" | "weeks" | "w" => Some(604800000000L)
          case _ => None
        }
        val monthsPer: Option[Long] = part match {
          case "month" | "months" | "mon" | "mons" => Some(1L)
          case "quarter" | "quarters" => Some(3L)
          case "year" | "years" | "yr" | "yrs" | "y" => Some(12L)
          case "decade" | "decades" => Some(120L)
          case "century" | "centuries" => Some(1200L)
          case "millennium" | "millennia" => Some(12000L)
          case _ => None
        }
        if (fixedUs.isDefined)
          c.to(s"((unix_micros(CAST(($b) AS TIMESTAMP)) - unix_micros(CAST(($a) AS TIMESTAMP))) DIV ${fixedUs.get})")
        else monthsPer.flatMap { per =>
          // probe-pinned direction contract: the complete-month count
          // always steps forward FROM THE EARLIER endpoint (clamped
          // month addition), then carries the sign — a backward walk
          // from the later endpoint disagrees when clamping is
          // asymmetric (('month', Feb 29, Jan 31) is -1: Jan 31 + 1mo
          // clamps to Feb 29; Feb 29 - 1mo = Jan 29 would say 0).
          val ta = s"CAST(($a) AS TIMESTAMP)"
          val tb = s"CAST(($b) AS TIMESTAMP)"
          val lo = s"least($ta, $tb)"
          val hi = s"greatest($ta, $tb)"
          // round() head keeps the emitted int cast out of the
          // rounding-cast rewrite (identity on integrals) — idempotence
          val m0 = s"(CAST(round(year($hi) - year($lo)) AS BIGINT) * 12 + month($hi) - month($lo))"
          val adj = s"(CASE WHEN timestampadd(MONTH, CAST(round($m0) AS INT), $lo) > $hi " +
            s"THEN $m0 - 1 ELSE $m0 END)"
          val signed = s"(CASE WHEN $ta > $tb THEN -($adj) ELSE $adj END)"
          c.to(if (per == 1L) signed
            else s"((CASE WHEN $ta > $tb THEN -($adj DIV $per) ELSE ($adj DIV $per) END))")
        } // unknown part name: stays loud
    }
    // a single-token JSON path argument `k`, normalized
    def jsonPath(c: Call, k: Int): Option[String] =
      if (c.args.length > k && c.sig(k).length == 1) normalizeJsonPath(c.sig(k).head) else None
    call("JSON_EXTRACT", "JSON_EXTRACT_PATH") {
      // DuckDB json_extract returns JSON (strings stay quoted:
      // '"x"') — get_json_object is the TEXT form and silently
      // unquoted (r9 batch-4 fuzz). to_json ∘ variant_get keeps
      // the JSON rendering for every type; parse_json stays loud
      // on malformed input exactly like DuckDB.
      case c if c.args.length == 2 && jsonPath(c, 1).isDefined =>
        c.to(s"to_json(variant_get(parse_json(${c.arg(0)}), ${jsonPath(c, 1).get}))")
    }
    call("JSON_EXTRACT_STRING", "JSON_EXTRACT_PATH_TEXT") {
      // text form — get_json_object, with the path normalized
      // (quoted keys / pointer / bare-key forms)
      case c if c.args.length == 2 && jsonPath(c, 1).isDefined =>
        c.to(s"get_json_object(${c.arg(0)}, ${jsonPath(c, 1).get})")
    }
    call("JSON_VALID") {
      // NULL in → NULL; otherwise parseability (try_parse_json is
      // NULL exactly on malformed input; a JSON 'null' is a
      // non-NULL variant)
      case c =>
        val j = render(c.inner).trim
        c.to(s"(CASE WHEN ($j) IS NULL THEN NULL ELSE try_parse_json($j) IS NOT NULL END)")
    }
    call("JSON_QUOTE") {
      // JSON-encode one value: serialize {"g": v} and strip the
      // 6-char prefix + closing brace (ignoreNullFields=false so
      // NULL renders as the JSON null)
      case c =>
        val ser = s"to_json(named_struct('g', (${render(c.inner).trim})), map('ignoreNullFields', 'false'))"
        c.to(s"substr($ser, 6, length($ser) - 6)")
    }
    call("JSON_ARRAY_LENGTH") {
      // 2-arg path form → extract the array, then Spark's native
      // 1-arg json_array_length
      case c if c.args.length == 2 && jsonPath(c, 1).isDefined =>
        c.to(s"json_array_length(get_json_object(${c.arg(0)}, ${jsonPath(c, 1).get}))")
    }
    call("FROM_JSON") {
      // DuckDB from_json(j, structure) takes a JSON structure of
      // type-name strings — Spark takes a DDL schema; the converted
      // DDL never starts with {/[, so the emission isn't
      // re-captured. Scalar structures ('"INTEGER"') stay loud.
      case c if c.args.length == 2 && (c.sig(1) match {
          case Vector(st: Str) =>
            st.value.trim.headOption.exists(ch => ch == '{' || ch == '[') &&
              jsonStructureToDdl(st.value).isDefined
          case _ => false
        }) =>
        val ddl = jsonStructureToDdl(c.sig(1).head.asInstanceOf[Str].value).get
        c.to(s"from_json(${c.arg(0)}, '$ddl')")
    }
    call("JSON") {
      // json(x) validates + minifies — a variant round-trip does
      // exactly that (loud on malformed input, like DuckDB)
      case c if c.args.length == 1 => c.to(s"to_json(parse_json(${c.arg(0)}))")
    }
    call("JSON_TYPE") {
      // first-character dispatch over the (extracted) JSON text —
      // probe-pinned names: OBJECT/ARRAY/VARCHAR/BOOLEAN/NULL,
      // UBIGINT for unsigned ints, BIGINT for negatives, DOUBLE
      // when a . or exponent appears
      case c if c.args.length == 1 || (c.args.length == 2 && jsonPath(c, 1).isDefined) =>
        val j = if (c.args.length == 1) s"(${c.arg(0)})"
          else s"to_json(variant_get(parse_json(${c.arg(0)}), ${jsonPath(c, 1).get}))"
        c.to(s"(CASE WHEN $j IS NULL THEN NULL ELSE " +
          s"CASE substr(ltrim($j), 1, 1) " +
          s"WHEN '{' THEN 'OBJECT' WHEN '[' THEN 'ARRAY' " +
          s"WHEN '\"' THEN 'VARCHAR' WHEN 't' THEN 'BOOLEAN' " +
          s"WHEN 'f' THEN 'BOOLEAN' WHEN 'n' THEN 'NULL' " +
          s"ELSE CASE WHEN ltrim($j) RLIKE '[.eE]' THEN 'DOUBLE' " +
          s"WHEN substr(ltrim($j), 1, 1) = '-' THEN 'BIGINT' " +
          s"ELSE 'UBIGINT' END END END)")
    }
    call("GROUPING") {
      // DuckDB's multi-arg GROUPING is the bitmask (first argument
      // highest bit) — Spark spells that grouping_id; 1-arg
      // grouping passes through
      case c if c.args.length >= 2 => c.to(s"grouping_id(${render(c.inner).trim})")
    }
    call("LIST_HAS_ALL", "ARRAY_HAS_ALL") {
      case c if c.args.length == 2 => c.to(s"(size(array_except((${c.arg(1)}), (${c.arg(0)}))) = 0)")
    }
    call("GENERATE_SUBSCRIPTS") {
      // generate_subscripts(l, 1) — the set-returning 1-based index
      // generator (lists are 1-D in DuckDB; dim != 1 errors there and
      // stays untouched → loud unknown-function on Spark).
      case c if c.args.length == 2 && c.arg(1) == "1" =>
        c.to(s"explode(sequence(1, size(${c.arg(0)})))")
    }
    call("STRUCT_EXTRACT") {
      // struct_extract(s, 'name') → ($s).`name` for a literal field
      // name (both engines resolve fields case-insensitively); a
      // dynamic name or an exotic field name has no Spark spelling
      // and stays untouched (loud).
      case c if c.args.length == 2 && (c.args(1).find(!isWs(_)) match {
          case Some(s0: Str) => s0.value.matches("[A-Za-z_][A-Za-z0-9_]*")
          case _ => false
        }) =>
        c.to(s"((${c.arg(0)}).${c.args(1).find(!isWs(_)).get.asInstanceOf[Str].value})")
    }
    call("LIST_SLICE", "ARRAY_SLICE") {
      // same 1-based inclusive semantics as the `l[a:b]` bracket
      // syntax → the same guarded form (r5: previously emitted the
      // unguarded slice, so list_slice(l, 4, 2) threw where the
      // bracket spelling returned [])
      case c if c.args.length == 3 => c.to(sliceForm(s"(${c.arg(0)})", c.arg(1), c.arg(2)))
    }
    call("TIMEZONE") {
      // r10 batch 8, probe-pinned: duck timezone(zone, ts) over a
      // NAIVE timestamp interprets ts in `zone` and renders it in
      // the session zone (UTC) — exactly to_utc_timestamp. The
      // TIMESTAMPTZ flavor INVERTS (convert the instant TO the
      // zone); the engine has no TSTZ type, but the two common
      // syntactic TSTZ producers are visible at token level (r12
      // ts fuzz): a to_timestamp(…) argument and a NESTED
      // timezone(…) argument (whose own emission computes the
      // instant) — those dispatch to from_utc_timestamp,
      // reproducing duck's nested-zone chains exactly. r13
      // narrowed the residual class: date_diff now floor-grids
      // TSTZ-flavored operands and chained AT TIME ZONE inverts
      // via the containment scan below; what remains is the
      // single pinned matrix cell (ts2.37) — a MIXED interval
      // applied to a TSTZ value runs days-first in duck where
      // naive runs months-first.
      case c if c.args.length == 2 =>
        // r13 (closing two allowlisted ts cells): CONTAINMENT scan,
        // not a bare head match — a chained `(x AT TIME ZONE 'a') AT
        // TIME ZONE 'b'` parenthesizes the inner producer, and duck
        // COERCES mixed expressions to TSTZ anyway, so any producer
        // in the slice means the operand is TSTZ-flavored (r14:
        // CASE-condition regions masked — see tstzProducerToks)
        val (z, x) = (c.arg(0), c.arg(1))
        c.to(
          if (tstzProducerToks(c.args(1))) s"from_utc_timestamp(CAST($x AS TIMESTAMP), $z)"
          else s"to_utc_timestamp(CAST($x AS TIMESTAMP), $z)")
    }
    call("ARRAY_LENGTH") {
      // r10 batch 8: duck's 2-arg array_length(l, 1) — dimension 1
      // is the plain length; higher literal dims stay loud (duck
      // errors on non-nested inputs there too)
      case c if c.args.length == 2 && (c.sig(1) match {
          case Vector(n: Num) => n.text == "1"
          case _ => false
        }) =>
        c.to(s"size(${c.arg(0)})")
    }
    call("STRPTIME", "TRY_STRPTIME") {
      // only rewrite when every '%'-literal in the call scans
      // cleanly in parse mode — unknown or format-only specifiers
      // leave the call untranslated (duck errors there too)
      case c if c.inner.forall {
          case s: Str if s.value.contains("%") => scanStrftime(s.value, parse = true).isDefined
          case _ => true
        } =>
        val isTry = c.name == "TRY_STRPTIME"
        val fmtIsLiteral = c.args.length == 2 && (c.sig(1) match {
          case Vector(s: Str) => s.value.contains("%")
          case _ => false
        })
        if (fmtIsLiteral) {
          // convert ONLY the format argument (r13 full-gate rerun):
          // the old whole-call-range map also converted %-literals
          // belonging to NESTED strftime/strptime calls inside
          // args(0) — their own rewrite then saw a %-free pattern,
          // fell through to the DYNAMIC kernel, and fed it an
          // already-JDK literal (a runtime parse error) — and a
          // legitimate '%' in the DATA string would have been
          // corrupted the same way. Token-level reconstruction
          // leaves args(0) byte-identical.
          val fmtStr = c.sig(1).head.asInstanceOf[Str]
          val jdk = Str("'" + strptimeToJava(fmtStr.value).replace("'", "''") + "'")
          // try_strptime → try_to_timestamp (r13): NULL on parse
          // failure or out-of-range date, duck's split exactly
          val fn = if (isTry) "try_to_timestamp" else "to_timestamp"
          val repl = Vector(Ident(fn), Punct("(")) ++ c.args(0) ++
            Vector(Punct(","), Ws(" "), jdk, Punct(")"))
          Some(c.toks.patch(c.i, repl, c.close - c.i + 1))
        } else if (c.args.length == 2) {
          // DYNAMIC pattern (r13, VERDICT r12 #3 — the strftime
          // pair's parse direction): the old fall-through renamed to
          // to_timestamp(s, fmt_expr), feeding duck %-patterns to
          // the JDK formatter per row — a SILENT wrong answer. Route
          // through the graft_strptime runtime kernel (duck itself
          // rejects non-constant formats — permissive superset with
          // duck-faithful probe-pinned semantics).
          val fn = if (isTry) "graft_strptime_try" else "graft_strptime"
          c.to(s"$fn(${c.arg(0)}, ${c.arg(1)})")
        } else {
          // 1- or 3+-arg forms (duck's list-of-formats) stay loud
          Some(c.toks.patch(c.i,
            Seq(Ident(if (isTry) "try_to_timestamp" else "to_timestamp")), 1))
        }
    }
    call("PARSE_PATH", "PARSE_DIRNAME") {
      // r13 string scout (loud UNRESOLVED_ROUTINE before): duck's
      // path parsers, probed matrix — parse_path keeps a rooted
      // leading separator as its own '/' element and drops empties
      // ('/a/b/c.txt' → ['/','a','b','c.txt'], 'a//b/' → ['a','b'],
      // '' → [], '/' → ['/']); parse_dirname is the TOP-level
      // directory ('/'-rooted → '/', 'a/b/c' → 'a', separator-free
      // → ''). Default separator class is duck's both_slash; the
      // 'system'/'forward_slash' literals map to '/' on this
      // platform, 'backslash' to '\'. Verbatim literals
      // (escapedStringLiterals=true) keep the regex char class exact.
      case c if c.args.length <= 2 =>
        val p = c.arg(0)
        // regex class vs one-char literals: VERBATIM string literals
        // (escapedStringLiterals=true) mean the REGEX text needs its
        // backslash doubled ('[/\\]') while the one-character
        // comparison literal is a single '\'. Plain OR comparisons,
        // not IN — the IN-list rewrite would re-capture the emission.
        // root chars compare as ASCII CODES: a bare '\' literal
        // round-trips through encodeStrLiterals' chr(92), which the
        // CHR rename re-captures on re-translation; ascii() compares
        // are capture-proof
        val sepClass: Option[(String, Seq[Int])] =
          if (c.args.length == 1) Some(("[/\\\\]", Seq(47, 92)))
          else c.sig(1) match {
            case Vector(s: Str) => s.value match {
              case "both_slash" => Some(("[/\\\\]", Seq(47, 92)))
              case "system" | "forward_slash" => Some(("/", Seq(47)))
              case "backslash" => Some(("\\\\", Seq(92)))
              case _ => None
            }
            case _ => None
          }
        // capture-proof spellings only: concat() would take the
        // STRING-concat rewrite, element_at() the duck map-subscript
        // form — array_insert/get/regexp survive every later pass
        sepClass.flatMap { case (re, roots) =>
          val rootPred = roots.map(r => s"ascii(substr($p, 1, 1)) = $r").mkString("(", " OR ", ")")
          c.to(
            if (c.name == "PARSE_PATH")
              s"(CASE WHEN $rootPred " +
                s"THEN array_insert(filter(split($p, '$re'), __gpp -> __gpp <> ''), 1, substr($p, 1, 1)) " +
                s"ELSE filter(split($p, '$re'), __gpp -> __gpp <> '') END)"
            else
              s"(CASE WHEN $rootPred THEN substr($p, 1, 1) " +
                s"WHEN $p RLIKE '$re' THEN " +
                s"get(filter(split($p, '$re'), __gpd -> __gpd <> ''), 0) " +
                s"ELSE '' END)")
        }
    }
    word("NOCASE") {
      // r10 batch 7: DuckDB's NOCASE collation — Spark 4 spells
      // the case-insensitive UTF8 collation UTF8_LCASE
      case c if { val p = prevNonWs(c.toks, c.i); p >= 0 && up(c.toks(p)) == "COLLATE" } =>
        Some(c.toks.updated(c.i, Ident("UTF8_LCASE")))
    }
    call("SPLIT_PART") {
      // r13 string scout: EMPTY separator — duck splits into
      // CHARACTERS ('a,b,c','',2 → ','; negative n from the end;
      // out-of-range and NULL input → '') where Spark returns
      // the whole string. Literal-empty-sep only.
      case c if c.args.length == 3 && (c.sig(1) match {
          case Vector(s: Str) => s.value.isEmpty
          case _ => false
        }) =>
        val (s0, n0) = (c.arg(0), c.arg(2))
        c.to(s"(CASE WHEN ($n0) = 0 THEN '' " +
          s"ELSE coalesce(try_element_at(split($s0, ''), $n0), '') END)")
      // r10 batch 7: DuckDB split_part index 0 → '' where Spark
      // raises INVALID_INDEX_OF_ZERO (literal-0 only; a dynamic 0
      // stays loud — documented)
      case c if c.args.length == 3 && (c.sig(2) match {
          case Vector(n: Num) => n.text == "0"
          case _ => false
        }) =>
        c.to("''")
    }
    call("SUBSTR", "SUBSTRING") {
      // r10 batch 7, probe-pinned: DuckDB substr with a NEGATIVE
      // length L takes the |L| chars ENDING just before pos —
      // substr('hello', 2, -1) = 'h', (4, -2) = 'el', clamped at the
      // string start — where Spark returns ''. Literal negative
      // lengths only (the silent case); dynamic lengths keep
      // Spark's '' (documented).
      case c if c.args.length == 3 && (c.sig(2) match {
          case Vector(Punct("-"), _: Num) => true
          case _ => false
        }) =>
        val (s0, pos, lenL) = (c.arg(0), c.arg(1), c.arg(2))
        val p = s"(CASE WHEN ($pos) < 0 THEN length($s0) + ($pos) + 1 ELSE ($pos) END)"
        val st = s"GREATEST($p + ($lenL), 1)"
        c.to(s"substr(($s0), $st, $p - $st)")
    }
    // end of the pattern operand starting at `rStart`, `||` chains included
    def patternEnd(toks: Vector[Tok], rStart: Int): Int = {
      var rEnd = primaryEnd(toks, rStart)
      var ext = true
      while (ext) {
        val n = nextNonWs(toks, rEnd)
        if (n < toks.length && toks(n) == Punct("||") &&
          nextNonWs(toks, n) < toks.length)
          rEnd = primaryEnd(toks, nextNonWs(toks, n))
        else ext = false
      }
      rEnd
    }
    word("LIKE", "ILIKE") {
      // r13 string scout: duck's LIKE has NO default escape —
      // backslash is an ordinary character ('a_c' LIKE 'a\_c'
      // is FALSE there; Spark's \_ escapes the wildcard, TRUE).
      // For literal patterns CONTAINING a backslash, append an
      // ESCAPE clause with a character absent from the pattern:
      // backslash turns ordinary, %/_ stay wildcards, and the
      // clause marks the pattern processed (fixpoint). Dynamic
      // patterns keep Spark's escape — documented residual.
      case c if c.open < 0 && {
          val rStart = nextNonWs(c.toks, c.i)
          rStart < c.toks.length && (c.toks(rStart) match {
            case s: Str => s.value.contains("\\") && {
              val after = nextNonWs(c.toks, rStart)
              !(after < c.toks.length && up(c.toks(after)) == "ESCAPE")
            }
            case _ => false
          })
        } =>
        val rStart = nextNonWs(c.toks, c.i)
        val pat = c.toks(rStart).asInstanceOf[Str].value
        // a pattern holding every candidate stays Spark's
        Seq('~', '^', '@', '#', '!', '&').find(ch => !pat.contains(ch)).map { ch =>
          c.toks.patch(rStart, Seq(c.toks(rStart), Ws(" "),
            Ident("ESCAPE"), Ws(" "), Str(s"'$ch'")), 1)
        }
    }
    word("LIKE", "ILIKE") {
      // (no call guard: `LIKE (p || '%')` has a paren right
      // after the keyword and would read as a call)
      // r14 (VERDICT r13 #5 — the dynamic-pattern residual):
      // duck's LIKE has NO default escape, so a backslash IN A
      // COLUMN-VALUED pattern is an ordinary character where
      // Spark's default escape consumes it. Switch the escape
      // char to '~' (backslash becomes ordinary — duck's
      // reading; %/_ stay wildcards) and neutralize any '~' the
      // runtime pattern carries by doubling it
      // (replace(p,'~','~~') → a literal '~', duck's reading
      // again). No backslash appears in the emission — ESCAPE
      // requires a string LITERAL and the backslash-literal
      // hop pass would otherwise turn it into chr(92). The
      // ESCAPE clause marks the pattern processed (fixpoint);
      // a user-written ESCAPE skips the rewrite (both engines
      // honor it identically).
      case c if {
          val rStart = nextNonWs(c.toks, c.i)
          rStart < c.toks.length && (c.toks(rStart) match {
            case _: Str => false // literal: previous rule owns it
            case Punct("(") => true
            case id2: Ident => !keywordLike(id2.upper)
            case _ => false
          }) && {
            val after = nextNonWs(c.toks, patternEnd(c.toks, rStart))
            !(after < c.toks.length && up(c.toks(after)) == "ESCAPE")
          }
        } =>
        val rStart = nextNonWs(c.toks, c.i)
        val rEnd = patternEnd(c.toks, rStart)
        val p0 = render(c.toks.slice(rStart, rEnd + 1)).trim
        Some(c.toks.patch(rStart,
          lex(s"replace(($p0), '~', '~~') ESCAPE '~'"),
          rEnd - rStart + 1))
    }
    word("ILIKE") {
      // r10 fuzz batch 6: DuckDB ILIKE folds with the SIMPLE case
      // mapping ('İSTANBUL' ILIKE 'istanbul' is true); Spark's
      // native ILIKE uses Java full folding — rewrite to LIKE
      // over graft_lower on both sides. A trailing ESCAPE clause
      // survives untouched.
      case c if c.open < 0 && {
          val (toks, lEnd, rStart) = (c.toks, prevNonWs(c.toks, c.i), nextNonWs(c.toks, c.i))
          lEnd >= 0 && rStart < toks.length && {
            val opEndL = if (up(toks(lEnd)) == "NOT") prevNonWs(toks, lEnd) else lEnd
            opEndL >= 0 && (toks(opEndL) match {
              case _: Num | _: Str => true
              case Punct(")") | Punct("]") => true
              case id2: Ident => !keywordLike(id2.upper)
              case _ => false
            })
          }
        } =>
        val toks = c.toks
        val lEnd0 = prevNonWs(toks, c.i)
        val notKw = up(toks(lEnd0)) == "NOT"
        val lEnd = if (notKw) prevNonWs(toks, lEnd0) else lEnd0
        // capture whole || chains on BOTH sides (r11 advisor fix):
        // `a ILIKE b || '%'` must fold the ENTIRE pattern — || binds
        // tighter than LIKE, so a partial capture would leave the
        // concatenated tail case-sensitive
        var lStart = primaryStart(toks, lEnd)
        var lExt = true
        while (lExt) {
          val p = prevNonWs(toks, lStart)
          if (p >= 0 && toks(p) == Punct("||") && prevNonWs(toks, p) >= 0)
            lStart = primaryStart(toks, prevNonWs(toks, p))
          else lExt = false
        }
        val rStart = nextNonWs(toks, c.i)
        val rEnd = patternEnd(toks, rStart)
        val l = render(toks.slice(lStart, lEnd + 1)).trim
        val r = render(toks.slice(rStart, rEnd + 1)).trim
        val not = if (notKw) "NOT " else ""
        Some(toks.patch(lStart,
          lex(s"graft_lower($l) ${not}LIKE graft_lower($r)"),
          rEnd - lStart + 1))
    }
    call("UNICODE", "ORD") {
      // r10 fuzz batch 6: DuckDB unicode('')/ord('') = -1 where
      // Spark ascii('') = 0; NULL passes through either way
      case c if c.args.length == 1 =>
        val x = c.arg(0)
        c.to(s"(CASE WHEN length($x) = 0 THEN -1 ELSE ascii($x) END)")
    }
    call("FMOD") {
      // r10 (advisor fix): fmod = FLOORED modulo — result takes the
      // sign of the DIVISOR (probe on DuckDB 1.0: fmod(7,-2)=-1,
      // fmod(10,-3)=-2, fmod(-7,2)=1, fmod(7,0)=NULL, always
      // DOUBLE). Spark pmod matches only for positive divisors, so
      // emit x - y*floor(x/y) directly; Spark's non-ANSI x/0 → NULL
      // reproduces the NULL-on-zero-divisor edge for free.
      case c if c.args.length == 2 =>
        val xd = s"CAST((${c.arg(0)}) AS DOUBLE)"
        val yd = s"CAST((${c.arg(1)}) AS DOUBLE)"
        c.to(s"($xd - $yd * floor($xd / $yd))")
    }
    call("FDIV") {
      // r9 batch 5: fdiv = floored division (probe: fdiv(-7,-2)=3,
      // fdiv(10.5,-3)=-4); Spark / on integers is double division,
      // so floor(x / y) reproduces it for every numeric pairing
      case c if c.args.length == 2 => c.to(s"floor((${c.arg(0)}) / (${c.arg(1)}))")
    }
    call("GENERATE_SERIES") {
      case c if {
          val p = prevNonWs(c.toks, c.i)
          !(p >= 0 && (up(c.toks(p)) == "FROM" || up(c.toks(p)) == "JOIN"))
        } =>
        Some(c.toks.patch(c.i, Seq(Ident("sequence")), 1))
      case c if c.args.length == 2 || c.args.length == 3 =>
        val stepLit = if (c.args.length == 3) c.arg(2) else "1"
        val (a, b) = (c.arg(0), c.arg(1))
        // the end adjustment needs the step's sign at rewrite time
        scala.util.Try(stepLit.toLong).toOption match {
          case Some(step) if step != 0 =>
            val end = if (step > 0) s"($b) + 1" else s"($b) - 1"
            val tail = if (c.args.length == 3) s", $stepLit" else ""
            c.to(s"range($a, $end$tail)")
          case _ if c.args.length == 3 =>
            // r10 batch 9: the DATE/TIMESTAMP + INTERVAL-step table
            // form — duck returns TIMESTAMPs inclusive of the end
            // bound, exactly explode(sequence) over TIMESTAMP-cast
            // bounds (Spark's sequence is end-inclusive too)
            c.to(s"explode(sequence(CAST($a AS TIMESTAMP), CAST($b AS TIMESTAMP), $stepLit))")
          case _ => None
        }
    }
    table.toMap
  }

  private[dialect] def rewriteArgShapeFns(toks0: Vector[Tok],
      isCollectionCol: String => Boolean = _ => false,
      isDateCol: (String, Boolean) => Boolean = (_, _) => false,
      isDecimalCol: String => Boolean = _ => false): Vector[Tok] = {
    val scope = new ArgShapeScope(isCollectionCol, isDateCol, isDecimalCol)
    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case id: Ident => argShapeRules.get(id.upper).flatMap { rules =>
          val c = new Call(toks, i, id, scope)
          rules.iterator.collect { case (callOnly, rule) if !callOnly || c.open >= 0 => rule.lift(c) }
            .collectFirst { case Some(out) => out }.flatten
        }
        case _ => None
      }
    }
  }

  /** Aggregate heads whose value is independent of input order — an
    * in-call ORDER BY is a semantic no-op duck accepts and Spark's
    * parser rejects (r10 batch 12). */
  private val orderInsensitiveAggs = Set("SUM", "AVG", "MEAN", "MIN", "MAX",
    "COUNT", "FSUM", "FAVG", "KAHAN_SUM", "SUMKAHAN", "BOOL_AND", "BOOL_OR",
    "BIT_AND", "BIT_OR", "BIT_XOR", "STDDEV", "STDDEV_SAMP", "STDDEV_POP",
    "VARIANCE", "VAR_SAMP", "VAR_POP", "MEDIAN", "PRODUCT", "ENTROPY",
    "SKEWNESS", "KURTOSIS", "CORR", "COVAR_SAMP", "COVAR_POP", "GEOMEAN",
    "GEOMETRIC_MEAN")

  /** GLOB pattern → Java regex body (r10 batch 10): `*` → `.*`, `?` →
    * `.`, `[...]` classes kept with glob's `!` negation → `^`, all other
    * regex metacharacters escaped. */
  private def globToRegex(glob: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < glob.length) {
      val c = glob(i)
      if (inClass) {
        if (c == ']') { inClass = false; sb += ']' }
        else if (c == '\\') sb ++= "\\\\"
        else sb += c
      } else c match {
        case '*' => sb ++= ".*"
        case '?' => sb += '.'
        case '[' =>
          inClass = true; sb += '['
          if (i + 1 < glob.length && glob(i + 1) == '!') { sb += '^'; i += 1 }
        case c0 if "\\.^$+(){}|".indexOf(c0) >= 0 => sb += '\\' += c0
        case c0 => sb += c0
      }
      i += 1
    }
    sb.toString
  }

  /** DuckDB interval-constructor name → make_interval emission (r10
    * batch 9). Spark make_interval slots: (years, months, weeks, days,
    * hours, mins, secs). */
  private val toIntervalUnits: Map[String, String => String] = Map(
    "TO_MILLENNIA" -> (e => s"make_interval(($e) * 1000)"),
    "TO_CENTURIES" -> (e => s"make_interval(($e) * 100)"),
    "TO_DECADES" -> (e => s"make_interval(($e) * 10)"),
    "TO_YEARS" -> (e => s"make_interval($e)"),
    "TO_MONTHS" -> (e => s"make_interval(0, $e)"),
    "TO_WEEKS" -> (e => s"make_interval(0, 0, $e)"),
    "TO_DAYS" -> (e => s"make_interval(0, 0, 0, $e)"),
    "TO_HOURS" -> (e => s"make_interval(0, 0, 0, 0, $e)"),
    "TO_MINUTES" -> (e => s"make_interval(0, 0, 0, 0, 0, $e)"),
    "TO_SECONDS" -> (e => s"make_interval(0, 0, 0, 0, 0, 0, $e)"),
    "TO_MILLISECONDS" -> (e =>
      s"make_interval(0, 0, 0, 0, 0, 0, CAST($e AS DOUBLE) / 1000.0)"),
    "TO_MICROSECONDS" -> (e =>
      s"make_interval(0, 0, 0, 0, 0, 0, CAST($e AS DOUBLE) / 1000000.0)"))

  /** fmt-style spec body → java.util.Formatter body, or None when the
    * spec has no faithful Java form (center align, custom fill chars,
    * sign/group flags). Grammar: [align][0][width][.prec][type] with
    * align ∈ {<, >}, type ∈ {d, f, s}. DuckDB's fmt defaults: {:f} is
    * 6 digits, bare width right-aligns (both match Java). */
  private def fmtSpecToJava(spec: String): Option[String] = {
    if (spec.isEmpty) return Some("s")
    val re = "^([<>])?(0)?(\\d+)?(?:\\.(\\d+))?([dfs])?$".r
    spec match {
      case re(align, zero, width, prec, typ) =>
        val t = Option(typ).getOrElse(
          if (prec != null) "f" else "s")
        val w = Option(width).getOrElse("")
        val left = align == "<"
        t match {
          case "d" =>
            if (prec != null) None // precision is invalid on %d
            else Some((if (left) "-" else "") +
              (if (zero != null && !left) "0" else "") + w + "d")
          case "f" =>
            if (zero != null && left) None
            else Some((if (left) "-" else "") +
              (if (zero != null) "0" else "") + w +
              "." + Option(prec).getOrElse("6") + "f")
          case _ => // strings: zero-fill has no Java form
            if (zero != null) None
            else Some((if (left) "-" else "") + w +
              Option(prec).map("." + _).getOrElse("") + "s")
        }
      case _ => None
    }
  }

  private[dialect] def rewriteFunctionNames(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (t, i) =>
      t match {
        case id: Ident if { val n = nextNonWs(toks, i); n < toks.length && toks(n) == Punct("(") } =>
          if (fnMap.contains(id.upper)) Ident(fnMap(id.upper))
          else if (id.upper == "LOG") {
            // 1-arg log is log10 in DuckDB, ln in Spark
            val open = nextNonWs(toks, i)
            val close = matchParen(toks, open)
            var d = 0; var commas = 0
            for (j <- open to close) {
              d += depthDelta(toks(j))
              if (d == 1 && toks(j) == Punct(",")) commas += 1
            }
            if (commas == 0) Ident("log10") else id
          }
          else id
        case _ => t
      }
    }

  /** Scanned strftime segment: Left = a JDK pattern chunk (literals
    * already quoted), Right = a computed SQL fragment with a `«TS»` hole
    * for the time expression (specifiers JDK patterns cannot express —
    * C-grid week numbers, ISO fields, unpadded year). */
  private type StfSeg = Either[String, String]

  /** `%Y-%m-%d`-style strftime patterns → JDK-pattern / computed-SQL
    * segments (r10 batch 7b — replaces the sequential replace() map,
    * which mangled `%%Y` to garbage and left literal ALPHABETIC text
    * unquoted, where JDK formatters treat every letter as a pattern
    * char: DuckDB `'T%Hh'` → 'T14h', the old emission threw).
    *
    * `parse=true` uses the lenient single-letter numeric fields (DuckDB
    * strptime accepts non-zero-padded input; lenient fields accept both)
    * and REJECTS format-only specifiers. Returns None on any specifier
    * DuckDB itself errors on (%e, %D, %R, …) — the caller leaves the
    * call untranslated, so it fails loudly like the reference.
    *
    * Probe-pinned on DuckDB 1.x: %c/%x/%X/%T spellings, %z = '+00',
    * %Z = '', %-X unpadded forms, %u ISO weekday, %V ISO week,
    * %G ISO year, %U/%W C-grid weeks, %n nanoseconds, %%Y = '%Y'. */
  private def scanStrftime(p: String, parse: Boolean): Option[Vector[StfSeg]] = {
    val out = Vector.newBuilder[StfSeg]
    val lit = new StringBuilder
    // JDK formatters reserve all letters (+ quote/brace/bracket/hash);
    // literal runs containing any get '…'-quoted, '' for an embedded
    // quote. Plain punctuation stays raw (readability, and the pinned
    // spec expectations: 'yyyy-MM-dd HH:mm:ss').
    def quoteLit(s: String): String =
      if (s.exists(c => c.isLetter || "'#{}[]".contains(c)))
        "'" + s.replace("'", "''") + "'"
      else s
    def flushLit(): Unit =
      if (lit.nonEmpty) { out += Left(quoteLit(lit.toString)); lit.clear() }
    var i = 0
    var bad = false
    while (i < p.length && !bad) {
      if (p(i) == '%' && i + 1 < p.length) {
        val dash = p(i + 1) == '-' && i + 2 < p.length
        val c = if (dash) p(i + 2) else p(i + 1)
        i += (if (dash) 3 else 2)
        def pat(j: String): Unit = { flushLit(); out += Left(j) }
        def sql(t: String): Unit =
          if (parse) bad = true else { flushLit(); out += Right(t) }
        (c, dash) match {
          case ('%', false) => lit.append('%')
          case ('Y', false) => pat("yyyy")
          case ('y', false) => pat("yy")
          // unpadded 2-digit year has no JDK spelling ('y' prints 2024)
          case ('y', true) => sql("CAST(year(«TS») % 100 AS STRING)")
          case ('m', d) => pat(if (d || parse) "M" else "MM")
          case ('d', d) => pat(if (d || parse) "d" else "dd")
          case ('H', d) => pat(if (d || parse) "H" else "HH")
          case ('I', d) => pat(if (d || parse) "h" else "hh")
          case ('M', d) => pat(if (d || parse) "m" else "mm")
          case ('S', d) => pat(if (d || parse) "s" else "ss")
          case ('j', d) => pat(if (d || parse) "D" else "DDD")
          case ('f', false) => pat("SSSSSS")
          case ('g', false) => pat("SSS")
          // nanoseconds; engine resolution is µs → micros ||'000'
          case ('n', false) => sql("(date_format(«TS», 'SSSSSS') || '000')")
          case ('p', false) => pat("a")
          case ('a', false) => pat("EEE")
          case ('A', false) => pat("EEEE")
          case ('b', false) | ('h', false) => pat("MMM")
          case ('B', false) => pat("MMMM")
          case ('c', false) => pat("yyyy-MM-dd HH:mm:ss")
          case ('x', false) => pat("yyyy-MM-dd")
          case ('X', false) | ('T', false) => pat("HH:mm:ss")
          case ('z', false) => pat("x")
          case ('Z', false) => () // duck prints '' (no tz name on naive ts)
          // ISO weekday Mon=1..Sun=7 (Spark dayofweek is Sun=1..Sat=7)
          case ('u', false) =>
            sql("CAST(((graft_dow(«TS») + 6) % 7) + 1 AS STRING)")
          // C weekday Sun=0..Sat=6
          case ('w', false) =>
            sql("CAST(graft_dow(«TS») AS STRING)")
          case ('V', false) =>
            sql("lpad(CAST(weekofyear(«TS») AS STRING), 2, '0')")
          case ('G', false) =>
            sql("CAST(extract(YEAROFWEEK FROM «TS») AS STRING)")
          // C-strftime week grids: %U Sunday-first, %W Monday-first —
          // (tm_yday + 7 - tm_wday) / 7 with 0-based yday/wday
          case ('U', false) =>
            sql("lpad(CAST((dayofyear(«TS») + 6 - graft_dow(«TS»)) DIV 7 AS STRING), 2, '0')")
          case ('W', false) =>
            sql("lpad(CAST((dayofyear(«TS») + 6 - (graft_dow(«TS») + 6) % 7) DIV 7 AS STRING), 2, '0')")
          case _ => bad = true // duck errors on unknown specifiers — stay loud
        }
      } else { lit.append(p(i)); i += 1 }
    }
    flushLit()
    if (bad) None else Some(out.result())
  }

  /** Joined single-pattern form for patterns with no computed segments
    * (the common case, and the pre-r10 public surface). */
  def strftimeToJava(p: String): String =
    scanStrftime(p, parse = false)
      .filter(_.forall(_.isLeft))
      .map(_.collect { case Left(j) => j }.mkString)
      .getOrElse(p)
  def strptimeToJava(p: String): String =
    scanStrftime(p, parse = true)
      .filter(_.forall(_.isLeft))
      .map(_.collect { case Left(j) => j }.mkString)
      .getOrElse(p)

  /** Full rewrite of one strftime/formatDateTime call body: `ts` is the
    * rendered time expression, `p` the duck pattern. None → leave the
    * call untranslated (unknown specifier; duck errors there too). */
  private def strftimeSql(ts: String, p: String): Option[String] =
    scanStrftime(p, parse = false).map { segs =>
      // merge adjacent pattern chunks into one date_format
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      val run = new StringBuilder
      def flushRun(): Unit = if (run.nonEmpty) {
        parts += s"date_format($ts, ${sparkStrLit(run.toString)})"
        run.clear()
      }
      segs.foreach {
        case Left(j) => run.append(j)
        case Right(t) => flushRun(); parts += t.replace("«TS»", ts)
      }
      flushRun()
      if (parts.isEmpty) "''"
      else if (parts.length == 1 && segs.forall(_.isLeft)) parts.head
      // concat: NULL ts still nulls the whole result (concat of NULLs)
      else s"concat(${parts.mkString(", ")})"
    }

  /** DuckDB `date_diff('day', a, b)` / `date_part('year', ts)` /
    * `epoch(ts)` → Spark `datediff(b, a)` / `extract(year FROM ts)` /
    * `unix_timestamp(ts)`. date_diff needs an argument swap: DuckDB counts
    * from a to b, Spark's datediff(end, start). */
  private[dialect] def rewriteDateFns(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.upper == "DATE_DIFF" || id.upper == "DATEDIFF" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            if (args.length == 3) {
              args.head.filterNot(isWs) match {
                case Vector(part: Str) =>
                  val a = render(args(1)).trim
                  val b = render(args(2)).trim
                  // DuckDB date_diff counts BOUNDARY CROSSINGS (probe:
                  // ('hour', 10:59:59, 11:00:01) = 1) — truncate BOTH
                  // sides to the part grid, then divide; the raw-span
                  // DIV shipped through r8 was a silent divergence (r9).
                  // Truncated values are exact multiples of the width,
                  // so DIV is exact in both directions.
                  //
                  // r13 (closing three allowlisted ts cells): duck's
                  // grids differ by FLAVOR — NAIVE timestamps truncate
                  // each side toward zero (probed: ('minute', 23:59:59,
                  // 00:00:30) = 0), but a TSTZ operand switches BOTH
                  // sides to the session-calendar FLOOR grid (same
                  // probe over to_timestamp() values = 1, and mixed
                  // naive+TSTZ coerces to TSTZ). The two agree for
                  // positive epochs; pre-epoch values diverge by one.
                  // TSTZ producers are visible at token level here
                  // (to_timestamp / timezone() — AT TIME ZONE has
                  // already become timezone() by this pass).
                  // per-arg, not concatenated: a WHEN..THEN region must
                  // not mask across the argument boundary (r14)
                  val tstz = tstzProducerToks(args(1)) ||
                    tstzProducerToks(args(2))
                  def gridDiv(wUs: Long): String =
                    if (tstz) {
                      // exact integer floor: subtract pmod (∈ [0, w))
                      // then DIV — a double division would lose micros
                      // past 2^53
                      def f(e: String) =
                        s"((unix_micros(CAST($e AS TIMESTAMP)) - " +
                          s"pmod(unix_micros(CAST($e AS TIMESTAMP)), $wUs)) DIV $wUs)"
                      s"(${f(b)} - ${f(a)})"
                    } else
                      s"((unix_micros(CAST($b AS TIMESTAMP)) DIV $wUs) - " +
                        s"(unix_micros(CAST($a AS TIMESTAMP)) DIV $wUs))"
                  def truncDiv(wUs: Long): String = gridDiv(wUs)
                  val repl = part.value.toLowerCase match {
                    case "day" | "days" | "d" => s"datediff($b, $a)"
                    // the enclosing CAST(… AS TIMESTAMP) on each
                    // date_trunc is the rewriteDateTruncShape internal-
                    // emission sentinel (r13) — a re-translate must not
                    // DATE-wrap these grid inputs
                    case "month" | "months" => s"CAST(round(months_between(CAST(date_trunc('month', CAST(($b) AS TIMESTAMP)) AS TIMESTAMP), CAST(date_trunc('month', CAST(($a) AS TIMESTAMP)) AS TIMESTAMP))) AS BIGINT)"
                    case "quarter" | "quarters" => s"(CAST(round(months_between(CAST(date_trunc('quarter', CAST(($b) AS TIMESTAMP)) AS TIMESTAMP), CAST(date_trunc('quarter', CAST(($a) AS TIMESTAMP)) AS TIMESTAMP))) AS BIGINT) DIV 3)"
                    case "year" | "years" => s"(year($b) - year($a))"
                    case "decade" | "decades" => s"((year($b) DIV 10) - (year($a) DIV 10))"
                    // r10 (advisor fix): DuckDB counts century/millennium
                    // crossings on the FLOOR grid like decade — probed
                    // date_diff('century', 1899→1900)=1 but (1900→1901)=0;
                    // the old ceil form was inverted at every boundary
                    case "century" | "centuries" => s"((year($b) DIV 100) - (year($a) DIV 100))"
                    case "millennium" | "millennia" => s"((year($b) DIV 1000) - (year($a) DIV 1000))"
                    case "week" | "weeks" => s"(datediff(CAST(date_trunc('week', CAST(($b) AS TIMESTAMP)) AS TIMESTAMP), CAST(date_trunc('week', CAST(($a) AS TIMESTAMP)) AS TIMESTAMP)) DIV 7)"
                    case "hour" | "hours" => truncDiv(3600000000L)
                    case "minute" | "minutes" => truncDiv(60000000L)
                    case "second" | "seconds" => truncDiv(1000000L)
                    case "millisecond" | "milliseconds" => truncDiv(1000L)
                    case "microsecond" | "microseconds" =>
                      s"((unix_micros(CAST($b AS TIMESTAMP)) - unix_micros(CAST($a AS TIMESTAMP))))"
                    case _ => ""
                  }
                  // re-lex: the replacement may contain inner calls later
                  // passes must still see (e.g. to_timestamp inside epoch_us
                  // — an opaque Ident blob broke translate∘translate fixpoint)
                  if (repl.nonEmpty) toks = toks.patch(i, lex(repl), close - i + 1)
                case _ =>
              }
            }
          }
        case id: Ident if id.upper == "MAKE_TIMESTAMP" && {
            // r12 ts fuzz: duck's 1-arg make_timestamp(micros) — Spark
            // only has the 6-arg form (loud DATATYPE_MISMATCH before);
            // timestamp_micros is the exact equivalent
            val open = nextNonWs(toks, i)
            open < toks.length && toks(open) == Punct("(") && {
              val close = matchParen(toks, open)
              splitTopLevel(toks.slice(open + 1, close)).length == 1
            }
          } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val e = render(toks.slice(open + 1, close)).trim
          toks = toks.patch(i, lex(s"timestamp_micros($e)"), close - i + 1)
        case id: Ident if id.upper == "DATE_PART" || id.upper == "DATEPART" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            if (args.length == 2) {
              args.head.filterNot(isWs) match {
                case Vector(part: Str) =>
                  val e = render(args(1)).trim
                  // DuckDB dow is 0=Sunday..6 (Postgres); Spark's DOW
                  // extract is 1=Sunday..7 — shift. isodow agrees (Mon=1).
                  val repl = part.value.toLowerCase match {
                    // dayofweek directly — an emitted extract(DOW …) would
                    // be re-shifted by the EXTRACT rewrite below (r8)
                    case "dow" | "dayofweek" | "weekday" =>
                      s"graft_dow($e)"
                    // DuckDB isodow is Monday=1..Sunday=7; Spark has no
                    // ISODOW field, and an emitted weekday() would be
                    // re-captured by the DuckDB weekday-ALIAS rewrite
                    // (Sunday=0) — dayofweek arithmetic instead (r8)
                    case "isodow" => s"(((graft_dow($e) + 6) % 7) + 1)"
                    // duck SECOND is the BIGINT integer part; MS/US
                    // include the seconds (r12 ts fuzz)
                    case "second" | "seconds" =>
                      s"(pmod(graft_epoch_us($e), 60000000) DIV 1000000)"
                    case "millisecond" | "milliseconds" =>
                      s"(pmod(graft_epoch_us($e), 60000000) DIV 1000)"
                    case "microsecond" | "microseconds" =>
                      s"pmod(graft_epoch_us($e), 60000000)"
                    // DuckDB's epoch part is FRACTIONAL seconds (probe:
                    // …00.5 → 1704067200.5); Spark's extract has no epoch.
                    // Literal-interval args fold to their width (r10)
                    case "epoch" => intervalEpochMicros(args(1)) match {
                      case Some(us) => s"CAST(${us / 1e6} AS DOUBLE)"
                      case None =>
                      // CAST AS DOUBLE first: long / decimal-literal is
                      // DECIMAL in Spark where duck epoch is DOUBLE — and
                      // a later CAST(... AS BIGINT) would then round
                      // half-AWAY (decimal rule) where duck's double
                      // rounds half-even (r12 ts fuzz, seed 21)
                      s"(CAST(graft_epoch_us($e) AS DOUBLE) / 1000000.0)"
                    }
                    case p => s"extract($p FROM $e)"
                  }
                  toks = toks.patch(i, lex(repl), close - i + 1)
                case _ =>
              }
            }
          }
        case id: Ident if id.upper == "EXTRACT" => {
          // EXTRACT field divergences (r8, probe-pinned): EPOCH →
          // fractional seconds via unix_micros (Spark has no epoch
          // field); DOW → DuckDB is 0=Sunday where Spark's DOW is
          // 1=Sunday (a SILENT off-by-one through passthrough); ISODOW
          // (Monday=1..Sunday=7) → weekday()+1 (no Spark field). Other
          // fields pass through.
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val fi = nextNonWs(toks, open)
            val fromI = if (fi < close) nextNonWs(toks, fi) else close
            if (fi < close && fromI < close && up(toks(fromI)) == "FROM" &&
                Set("EPOCH", "DOW", "ISODOW", "WEEKDAY", "DAYOFWEEK",
                  "SECOND", "SECONDS", "MILLISECOND", "MILLISECONDS",
                  "MICROSECOND", "MICROSECONDS").contains(up(toks(fi)))) {
              val e = render(toks.slice(fromI + 1, close)).trim
              val repl = up(toks(fi)) match {
                case "EPOCH" =>
                  intervalEpochMicros(toks.slice(fromI + 1, close)) match {
                    case Some(us) => s"CAST(${us / 1e6} AS DOUBLE)"
                    case None =>
                      // CAST AS DOUBLE first: long / decimal-literal is
                      // DECIMAL in Spark where duck epoch is DOUBLE — and
                      // a later CAST(... AS BIGINT) would then round
                      // half-AWAY (decimal rule) where duck's double
                      // rounds half-even (r12 ts fuzz, seed 21)
                      s"(CAST(graft_epoch_us($e) AS DOUBLE) / 1000000.0)"
                  }
                // duck's WEEKDAY/DAYOFWEEK extract fields are 0=Sunday too
                // (r12 ts fuzz: the DAYOFWEEK spelling passed through to
                // Spark's 1-based field - a silent off-by-one)
                case "DOW" | "WEEKDAY" | "DAYOFWEEK" => s"graft_dow($e)"
                case "ISODOW" => s"(((graft_dow($e) + 6) % 7) + 1)"
                // duck SECOND is the BIGINT integer part; MILLISECOND/
                // MICROSECOND include the seconds (r12 ts fuzz - Spark's
                // SECOND field is DECIMAL(8,6), MS/US fields don't exist)
                case "SECOND" | "SECONDS" =>
                  s"(pmod(graft_epoch_us($e), 60000000) DIV 1000000)"
                case "MILLISECOND" | "MILLISECONDS" =>
                  s"(pmod(graft_epoch_us($e), 60000000) DIV 1000)"
                case "MICROSECOND" | "MICROSECONDS" =>
                  s"pmod(graft_epoch_us($e), 60000000)"
              }
              toks = toks.patch(i, lex(repl), close - i + 1)
            }
          }
        }
        case id: Ident if id.upper == "WEEK" && {
              // week(date) → ISO weekofyear (probe: both 52 on 2023-01-01);
              // the bare-arg function only — WEEK inside interval/
              // date_trunc literals is handled by those rewrites
              val n = nextNonWs(toks, i)
              n < toks.length && toks(n) == Punct("(")
            } =>
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val e = render(toks.slice(open + 1, close)).trim
          toks = toks.patch(i, lex(s"weekofyear($e)"), close - i + 1)
        case id: Ident if id.upper.startsWith("TO_") &&
            toIntervalUnits.contains(id.upper) && {
              val n = nextNonWs(toks, i)
              n < toks.length && toks(n) == Punct("(")
            } =>
          // r10 batch 9: DuckDB's interval constructors to_years(2),
          // to_days(3), … → make_interval with the count in the right
          // slot (probe: to_years(2) = INTERVAL 2 YEAR; decades/centuries/
          // millennia scale into years, millis/micros into seconds)
          val open = nextNonWs(toks, i)
          val close = matchParen(toks, open)
          val e = render(toks.slice(open + 1, close)).trim
          toks = toks.patch(i, lex(toIntervalUnits(id.upper)(e)), close - i + 1)
        case id: Ident if Set("CENTURY", "DECADE", "MILLENNIUM", "WEEKDAY",
            "YEARWEEK", "ISOYEAR", "EPOCH_NS", "DAYOFWEEK", "ISODOW",
            "JULIAN").contains(id.upper) =>
          // r7 session-3 date-part functions, probe-pinned on DuckDB 1.0:
          // century(2024)=21, decade=202, millennium=3 (CE off-by-one
          // forms), weekday Sunday=0, yearweek = ISO year·100 + ISO week
          // (2023-01-01 → 202252), isoyear = Spark's YEAROFWEEK
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val e = render(toks.slice(open + 1, close)).trim
            val repl = id.upper match {
              case "CENTURY" => s"(CAST(floor((year($e) - 1) / 100.0) AS BIGINT) + 1)"
              case "DECADE" => s"CAST(floor(year($e) / 10.0) AS BIGINT)"
              case "MILLENNIUM" => s"(CAST(floor((year($e) - 1) / 1000.0) AS BIGINT) + 1)"
              case "WEEKDAY" => s"graft_dow($e)"
              // r10 batch 8: duck dayofweek() is the Postgres 0=Sunday
              // form where Spark's builtin is 1=Sunday — a SILENT
              // off-by-one through passthrough until now. The extract
              // spelling avoids self-recapture (this very rule).
              case "DAYOFWEEK" => s"graft_dow($e)"
              case "ISODOW" => s"(((graft_dow($e) + 6) % 7) + 1)"
              // r10 batch 8, probe-pinned: duck julian(DATE '2000-01-01')
              // = 2451545.0 — a MIDNIGHT-aligned day count (the
              // astronomical JD would read .5 there), so the epoch
              // offset is 2440588 = julian(1970-01-01 00:00)
              case "JULIAN" =>
                // CAST to DOUBLE first: bigint / decimal-literal would stay
                // DECIMAL(29,6) where duck returns DOUBLE
                s"(CAST(unix_micros(CAST($e AS TIMESTAMP)) AS DOUBLE) / 86400000000.0 + 2440588.0)"
              case "YEARWEEK" => s"(extract(YEAROFWEEK FROM $e) * 100 + weekofyear($e))"
              case "ISOYEAR" => s"extract(YEAROFWEEK FROM $e)"
              case "EPOCH_NS" => s"(graft_epoch_us($e) * 1000)"
            }
            toks = toks.patch(i, lex(repl), close - i + 1)
          }
        case id: Ident if id.upper == "EPOCH" || id.upper == "EPOCH_MS" ||
            id.upper == "EPOCH_US" =>
          // DuckDB epoch() is FRACTIONAL seconds (a DOUBLE); Spark's
          // unix_timestamp truncates. micros/1e6 reproduces the exact
          // double both engines derive from the same microsecond value.
          // epoch_ms/epoch_us are exact integers either way.
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val e = render(toks.slice(open + 1, close)).trim
            // literal-interval args fold to their 30-day-month width (r10
            // fuzz batch 6 — probed epoch_ms(INTERVAL '1 day') = 86400000)
            val iv = intervalEpochMicros(toks.slice(open + 1, close))
            // r10 batch 9: epoch_ms(BIGINT) is the INVERSE direction —
            // millis → TIMESTAMP (dual signature in DuckDB; probed
            // epoch_ms(1709820309000) = 2024-03-07 14:05:09). Only the
            // literal-integer shape is decidable at the token level; a
            // named column keeps the common ts→ms direction.
            val bareIntArg = toks.slice(open + 1, close).filterNot(isWs) match {
              case Vector(n: Num) => !n.text.contains(".") && !n.text.toUpperCase.contains("E")
              case _ => false
            }
            val repl = if (bareIntArg && id.upper == "EPOCH_MS")
              s"timestamp_millis($e)"
            else id.upper match {
              case "EPOCH" => iv match {
                case Some(us) => s"CAST(${us / 1e6} AS DOUBLE)"
                case None =>
                      // CAST AS DOUBLE first: long / decimal-literal is
                      // DECIMAL in Spark where duck epoch is DOUBLE — and
                      // a later CAST(... AS BIGINT) would then round
                      // half-AWAY (decimal rule) where duck's double
                      // rounds half-even (r12 ts fuzz, seed 21)
                      s"(CAST(graft_epoch_us($e) AS DOUBLE) / 1000000.0)"
              }
              case "EPOCH_MS" => iv match {
                case Some(us) => s"CAST(${us / 1000L} AS BIGINT)"
                case None => s"(graft_epoch_us($e) DIV 1000)"
              }
              case "EPOCH_US" => iv match {
                case Some(us) => s"CAST($us AS BIGINT)"
                case None => s"graft_epoch_us($e)"
              }
            }
            toks = toks.patch(i, lex(repl), close - i + 1)
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** `strftime(ts, '%Y-%m-%d')` → `date_format(ts, 'yyyy-MM-dd')`: rename
    * plus strftime→JDK pattern translation of string-literal args. */
  private[dialect] def rewriteStrftime(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        // formatDateTime is ClickHouse's spelling of the same (time, fmt)
        // call with the same %-pattern family (chsql macro surface)
        case id: Ident if id.upper == "STRFTIME" || id.upper == "FORMATDATETIME" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            // pattern = whichever arg is the '%'-bearing literal (duck
            // accepts both argument orders; chsql formatDateTime(time, fmt))
            val fmtIx = args.indexWhere(_.filterNot(isWs) match {
              case Vector(s: Str) => s.value.contains("%")
              case _ => false
            })
            if (args.length == 2 && fmtIx >= 0) {
              val ts = render(args(1 - fmtIx)).trim
              val fmt = args(fmtIx).filterNot(isWs).head.asInstanceOf[Str].value
              // «TS» holes sit inside function-call parens in every
              // template, so the rendered arg needs no extra wrapping
              strftimeSql(ts, fmt) match {
                case Some(sql) =>
                  toks = toks.patch(i, lex(sql), close - i + 1)
                case None => () // unknown specifier — duck errors; stay loud
              }
            } else if (args.length == 2) {
              // DYNAMIC pattern (r12, closing the register entry): route
              // through the graft_strftime runtime formatter — the old
              // bare date_format rename fed duck %-patterns to the JDK
              // formatter, a silent wrong answer. Standard (ts, fmt)
              // argument order (the literal-order sniffing above needs a
              // literal); unknown specifiers throw at runtime like duck.
              val (ts, fmt) = (render(args(0)).trim, render(args(1)).trim)
              toks = toks.patch(i, lex(
                s"graft_strftime(CAST(($ts) AS TIMESTAMP), $fmt)"),
                close - i + 1)
            }
          }
        // ClickHouse splitByChar(sep, s) → split(s, quoted-sep) (args swap)
        case id: Ident if id.upper == "SPLITBYCHAR" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            if (args.length == 2) {
              args(0).filterNot(isWs) match {
                case Vector(sep: Str) =>
                  val quoted = regexLiteralSep(sep.value)
                  val sql = s"split(${render(args(1)).trim}, '$quoted')"
                  toks = toks.patch(i, lex(sql), close - i + 1)
                case _ =>
              }
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** DuckDB `regexp_replace(s, p, r, 'g')` == Spark's default (global)
    * `regexp_replace(s, p, r)` → drop the flag. The 3-arg DuckDB form is
    * first-match-only — Spark's builtin cannot express that, so it maps to
    * graft's codegen [[graft.functions.RegexpReplaceFirst]] expression
    * (round 4; previously a documented divergence). */
  /** POSIX character classes in regex-argument literals (r10 batch 7):
    * DuckDB's RE2 accepts `[[:alpha:]]`; Java's engine silently matches
    * NOTHING on that syntax. Translate `[:name:]` → `\p{Name}` (valid in
    * Java both inside and outside a bracket class; `[:word:]` → `\w`,
    * which has no \p form) in the PATTERN argument of the regexp
    * functions and the RLIKE/MATCH right operand. */
  private val posixClassMap = Map(
    "alpha" -> "\\p{Alpha}", "alnum" -> "\\p{Alnum}", "digit" -> "\\p{Digit}",
    "space" -> "\\p{Space}", "upper" -> "\\p{Upper}", "lower" -> "\\p{Lower}",
    "punct" -> "\\p{Punct}", "xdigit" -> "\\p{XDigit}", "cntrl" -> "\\p{Cntrl}",
    "graph" -> "\\p{Graph}", "print" -> "\\p{Print}", "blank" -> "\\p{Blank}",
    "ascii" -> "\\p{ASCII}", "word" -> "\\w")
  private val posixRegexFns = Set("REGEXP_MATCHES", "REGEXP_EXTRACT",
    "REGEXP_EXTRACT_ALL", "REGEXP_REPLACE", "REGEXP_SPLIT_TO_ARRAY",
    "REGEXP_FULL_MATCH", "REGEXP_COUNT", "REGEXP_REPLACE_FIRST",
    "STRING_SPLIT_REGEX", "RLIKE", "MATCH")
  private[dialect] def rewritePosixClasses(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    def mapped(v: String): String =
      "\\[:([a-z]+):\\]".r.replaceAllIn(v, m =>
        java.util.regex.Matcher.quoteReplacement(
          posixClassMap.getOrElse(m.group(1), m.matched)))
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if posixRegexFns.contains(id.upper) =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            val args = splitTopLevel(toks.slice(open + 1, close))
            // pattern is arg 1 for every function in the set
            if (args.length >= 2) {
              val pIn = args(1).indexWhere(!isWs(_))
              if (pIn >= 0) {
                val pIdx = open + 1 + args(0).length + 1 + pIn
                toks(pIdx) match {
                  case s: Str if s.value.contains("[:") =>
                    toks = toks.updated(pIdx,
                      Str("'" + mapped(s.value).replace("'", "''") + "'"))
                  case _ =>
                }
              }
            }
          }
        case p: Ident if p.upper == "RLIKE" || p.upper == "SIMILAR" =>
          // operator form: the right operand literal
          val r = nextNonWs(toks, i)
          val r2 = if (r < toks.length && up(toks(r)) == "TO") nextNonWs(toks, r) else r
          if (r2 < toks.length) toks(r2) match {
            case s: Str if s.value.contains("[:") =>
              toks = toks.updated(r2,
                Str("'" + mapped(s.value).replace("'", "''") + "'"))
            case _ =>
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  private[dialect] def rewriteRegexpReplaceFlag(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.upper == "REGEXP_REPLACE" =>
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val close = matchParen(toks, open)
            // count top-level args; remember the last comma for flag removal
            var d = 0
            var lastComma = -1
            var nCommas = 0
            for (j <- open to close) {
              d += depthDelta(toks(j))
              if (d == 1 && toks(j) == Punct(",")) { lastComma = j; nCommas += 1 }
            }
            val lastArg =
              if (lastComma > 0) toks.slice(lastComma + 1, close).filterNot(isWs)
              else Vector.empty[Tok]
            lastArg match {
              case Vector(s: Str) if s.value == "g" =>
                // global flag → Spark's 4-arg position form (global from
                // position 1), NOT the 3-arg form: re-translating a 3-arg
                // output would wrongly demote it to first-match (the
                // idempotence property the dialect layer guarantees)
                toks = toks.patch(lastComma + 1, Seq(Ws(" "), Num("1")),
                  close - lastComma - 1)
              case _ if nCommas == 2 =>
                // bare 3-arg form: DuckDB replaces only the first match
                toks = toks.updated(i, Ident("regexp_replace_first"))
              case _ =>
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** DuckDB JSON arrows (r9 batch-4 widening): `j -> path` extracts JSON
    * (strings stay quoted — to_json ∘ variant_get ∘ parse_json); `j ->>
    * path` extracts TEXT (get_json_object). The left operand may be a
    * string literal, a (qualified) column, or a call/paren group — which
    * covers chains, since a rewritten arrow becomes a call blob the next
    * arrow consumes. Paths take the bare-key / pointer / quoted-key
    * normalization; non-literal paths stay loud. */
  private[dialect] def rewriteJsonArrows(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case arrow @ (Punct("->>") | Punct("->")) =>
          val rhsIdx = nextNonWs(toks, i)
          val lhsEnd = prevNonWs(toks, i)
          val path = if (rhsIdx < toks.length)
            normalizeJsonPath(toks(rhsIdx)) else None
          // `->` is ALSO the lambda arrow (list_transform(l, x -> 'b') is
          // a constant lambda, not a JSON access): a single bare-ident or
          // ident-tuple LHS inside a lambda-taking call keeps its arrow.
          // `->>` is never a lambda, so it needs no guard.
          val isLambdaArrow = arrow == Punct("->") && lhsEnd >= 0 && {
            def enclosingHead(from: Int): String = {
              var d = 0; var k = from
              while (k >= 0) {
                toks(k) match {
                  case Punct(")") => d += 1
                  case Punct("(") if d > 0 => d -= 1
                  case Punct("(") =>
                    val h = prevNonWs(toks, k)
                    return if (h >= 0 && toks(h).isInstanceOf[Ident]) up(toks(h)) else ""
                  case _ =>
                }
                k -= 1
              }
              ""
            }
            toks(lhsEnd) match {
              case id2: Ident if {
                    val p2 = prevNonWs(toks, lhsEnd)
                    p2 < 0 || toks(p2) != Punct(".")
                  } =>
                id2.text.startsWith("__g") ||
                  lambdaHeadFns.contains(enclosingHead(prevNonWs(toks, lhsEnd)))
              case Punct(")") =>
                // (a, b) tuple of bare idents = lambda parameter list
                val open = openOf(toks, lhsEnd)
                toks.slice(open + 1, lhsEnd).filterNot(isWs).forall {
                  case _: Ident | Punct(",") => true
                  case _ => false
                } && prevNonWs(toks, open) >= 0 &&
                  !toks(prevNonWs(toks, open)).isInstanceOf[Ident]
              case _ => false
            }
          }
          if (path.isDefined && lhsEnd >= 0 && !isLambdaArrow &&
              (toks(lhsEnd) match {
                case _: Str | _: Ident | Punct(")") => true
                case _ => false
              })) {
            val lhsStart = toks(lhsEnd) match {
              case _: Str => lhsEnd
              case _ => primaryStart(toks, lhsEnd)
            }
            val lhs = render(toks.slice(lhsStart, lhsEnd + 1)).trim
            val repl =
              if (arrow == Punct("->>")) s"get_json_object($lhs, ${path.get})"
              else s"to_json(variant_get(parse_json($lhs), ${path.get}))"
            toks = toks.patch(lhsStart,
              lex(repl), rhsIdx - lhsStart + 1)
            i = lhsStart
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** `information_schema.<t>` (reference S17/S21 issue these,
    * `main.py:548-556,888-901`) → `graft_infoschema_<t>` temp views the
    * engine materializes from `spark.catalog` on demand. */
  private[dialect] def rewriteInfoSchema(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if id.upper == "INFORMATION_SCHEMA" =>
          val dot = nextNonWs(toks, i)
          if (dot < toks.length && toks(dot) == Punct(".")) {
            val t = nextNonWs(toks, dot)
            if (t < toks.length && toks(t).isInstanceOf[Ident]) {
              val tbl = toks(t).text.toLowerCase
              toks = toks.patch(i, Seq(Ident(s"graft_infoschema_$tbl")), t - i + 1)
            }
          }
        case _ =>
      }
      i += 1
    }
    toks
  }

  /** Type-name mapping in CAST/DDL positions. */
  private[dialect] def rewriteTypeNames(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (t, i) =>
      t match {
        case id: Ident if id.upper == "VARCHAR" || id.upper == "BPCHAR" =>
          // NOT "TEXT": that is a common column name (documents.text); VARCHAR
          // with a length (VARCHAR(10)) is valid Spark and kept as-is.
          val n = nextNonWs(toks, i)
          if (n < toks.length && toks(n) == Punct("(")) t else Ident("STRING")
        case id: Ident if id.upper == "DATETIME" => Ident("TIMESTAMP")
        // r10 batch 8: duck's blob spellings (Spark: BINARY)
        case id: Ident if id.upper == "BLOB" || id.upper == "BYTEA" ||
            id.upper == "VARBINARY" => Ident("BINARY")
        case id: Ident if id.upper == "HUGEINT" => Ident("DECIMAL(38,0)")
        // duck's bare DECIMAL/NUMERIC defaults to DECIMAL(18,3); Spark's
        // default is (10,0) — a silent integer truncation (r13 dec fuzz).
        // Risky operands were already rewritten to graft_dec_cast(x,18,3)
        // by rewriteDecCast; this rename covers the rest (casts of double
        // columns, DDL column types).
        case id: Ident if (id.upper == "DECIMAL" || id.upper == "NUMERIC") && {
          val n = nextNonWs(toks, i)
          n >= toks.length || toks(n) != Punct("(")
        } => Ident("DECIMAL(18,3)")
        case id: Ident if id.upper == "UTINYINT" => Ident("SMALLINT")
        case id: Ident if id.upper == "UINTEGER" => Ident("BIGINT")
        case id: Ident if id.upper == "UBIGINT" => Ident("DECIMAL(20,0)")
        case _ => t
      }
    }

  /** `ATTACH '<file>' AS db` (reference S9, `main.py:283-284`) → the
    * database namespace: `CREATE DATABASE IF NOT EXISTS db`. The file path
    * is dropped — storage lives under the shared warehouse; `USE db` is
    * native Spark and passes through. */
  private[dialect] def rewriteAttach(toks: Vector[Tok]): Vector[Tok] = {
    val nw = sig(toks)
    if (nw.isEmpty || up(toks(nw.head)) != "ATTACH") return toks
    val asIdx = nw.find(i => up(toks(i)) == "AS").getOrElse(return toks)
    val dbIdx = nextNonWs(toks, asIdx)
    if (dbIdx >= toks.length) return toks
    val db = toks(dbIdx).text.replaceAll("[`\"]", "")
    lex(s"CREATE DATABASE IF NOT EXISTS `$db`")
  }

  /** Misc DuckDB-isms with 1:1 Spark spellings:
    *  - `USING SAMPLE 10%` / `USING SAMPLE 10 PERCENT` → `TABLESAMPLE (10 PERCENT)`
    *  - `SELECT * EXCLUDE (a, b)` → `* EXCEPT (a, b)`
    *  - `SHOW DATABASES` / `SHOW [ALL] TABLES` → information_schema selects
    */
  private[dialect] def rewriteMisc(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    // SHOW family → the catalog-flight shapes the reference declares for its
    // canned list_flights entries (main.py:481-521): SHOW DATABASES →
    // (catalog_name, schema_name, description), SHOW [ALL] TABLES →
    // (table_name, schema_name, catalog_name, table_type). DuckDB's native
    // SHOW output is narrower (one name column), but the reference's canned
    // FlightInfo promises the wide shape for these very tickets — making the
    // executed ticket actually return the declared schema is the
    // self-consistent reading of that contract.
    val nw0 = sig(toks)
    if (nw0.nonEmpty && up(toks(nw0(0))) == "SHOW") {
      nw0.drop(1).map(i => up(toks(i))).toList match {
        case "DATABASES" :: scala.Nil =>
          return lex("SELECT catalog_name, schema_name, 'Spark Schema' AS description " +
            "FROM graft_infoschema_schemata ORDER BY schema_name")
        case "TABLES" :: scala.Nil | "ALL" :: "TABLES" :: scala.Nil =>
          return lex("SELECT table_name, table_schema AS schema_name, " +
            "table_catalog AS catalog_name, table_type " +
            "FROM graft_infoschema_tables ORDER BY table_name")
        case _ =>
      }
    }
    // EXCLUDE after *
    toks = toks.zipWithIndex.map { case (t, i) =>
      t match {
        case id: Ident if id.upper == "EXCLUDE" && {
          val p = prevNonWs(toks, i); p >= 0 && toks(p) == Punct("*")
        } => Ident("EXCEPT")
        case other => other
      }
    }
    // USING SAMPLE n% | n PERCENT | n ROWS, optionally with a method —
    // `10% (bernoulli[, seed])` or `reservoir(5 ROWS)` — and REPEATABLE
    // (seed). Methods collapse onto Spark's TABLESAMPLE (row-level
    // Bernoulli; system/reservoir are declared approximations — the
    // sampled SET is engine-specific either way), seeds ride through as
    // REPEATABLE (Spark supports it natively).
    var i = 0
    while (i < toks.length) {
      if (up(toks(i)) == "USING") {
        val s = nextNonWs(toks, i)
        if (s < toks.length && up(toks(s)) == "SAMPLE") {
          var numIdx = nextNonWs(toks, s)
          // method-first form: SAMPLE reservoir(5 ROWS)
          var methodFirst = false
          if (numIdx < toks.length && toks(numIdx).isInstanceOf[Ident] &&
              Set("BERNOULLI", "SYSTEM", "RESERVOIR").contains(up(toks(numIdx)))) {
            val op = nextNonWs(toks, numIdx)
            if (op < toks.length && toks(op) == Punct("(")) {
              methodFirst = true
              numIdx = nextNonWs(toks, op)
            }
          }
          if (numIdx < toks.length && toks(numIdx).isInstanceOf[Num]) {
            val n = toks(numIdx).text
            val after = nextNonWs(toks, numIdx)
            var (endIdx, unit) =
              if (after < toks.length && toks(after) == Punct("%")) (after, "PERCENT")
              else if (after < toks.length && up(toks(after)) == "PERCENT") (after, "PERCENT")
              else if (after < toks.length && up(toks(after)) == "ROWS") (after, "ROWS")
              else (numIdx, "ROWS")
            var seed = ""
            if (methodFirst) {
              // consume through the method's close paren
              var j = nextNonWs(toks, endIdx)
              if (j < toks.length && toks(j) == Punct(")")) endIdx = j
            } else {
              // trailing (method[, seed]) group
              val j = nextNonWs(toks, endIdx)
              if (j < toks.length && toks(j) == Punct("(")) {
                val close = matchParen(toks, j)
                val parts = splitTopLevel(toks.slice(j + 1, close))
                val isMethod = parts.headOption.exists(_.filterNot(isWs) match {
                  case Vector(m: Ident) =>
                    Set("BERNOULLI", "SYSTEM", "RESERVOIR").contains(m.upper)
                  case _ => false
                })
                if (isMethod) {
                  if (parts.length == 2) seed = render(parts(1)).trim
                  endIdx = close
                }
              }
            }
            val rep = if (seed.nonEmpty) s" REPEATABLE ($seed)" else ""
            toks = toks.patch(i,
              Seq(Ident(s"TABLESAMPLE ($n $unit)$rep")), endIdx - i + 1)
          }
        }
      }
      i += 1
    }
    toks
  }

  /** DuckDB `SELECT * REPLACE (e AS c, …)` → `* EXCEPT (c, …), e AS c, …`.
    * Spark has no star-REPLACE; EXCEPT-plus-append is value- and
    * name-identical, with the replaced columns moved to the end of the
    * select list (the engine's one documented divergence for this surface —
    * the driver compare is column-order-insensitive). Items without an
    * explicit alias are left untouched (DuckDB's REPLACE grammar requires
    * `AS`). */
  private[dialect] def rewriteStarReplace(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      if (up(toks(i)) == "REPLACE" && {
          val p = prevNonWs(toks, i); p >= 0 && toks(p) == Punct("*")
        } && {
          val n = nextNonWs(toks, i); n < toks.length && toks(n) == Punct("(")
        }) {
        val open = nextNonWs(toks, i)
        val close = matchParen(toks, open)
        if (close > open) {
          val inner = toks.slice(open + 1, close)
          val items = splitTopLevel(inner)
          val names = items.flatMap(itemName)
          if (names.nonEmpty && names.length == items.length) {
            val replacement = lex(s"EXCEPT (${names.mkString(", ")}), ") ++ inner
            toks = toks.patch(i, replacement, close - i + 1)
            i += replacement.length - 1
          }
        }
      }
      i += 1
    }
    toks
  }

  /** DuckDB `SEMI JOIN` / `ANTI JOIN` → Spark `LEFT SEMI/ANTI JOIN`. */
  private[dialect] def rewriteSemiAnti(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.flatMap { case (t, i) =>
      t match {
        case id: Ident if (id.upper == "SEMI" || id.upper == "ANTI") && {
          val n = nextNonWs(toks, i); val p = prevNonWs(toks, i)
          n < toks.length && up(toks(n)) == "JOIN" &&
            !(p >= 0 && (up(toks(p)) == "LEFT" || up(toks(p)) == "RIGHT"))
        } => Seq(Ident("LEFT"), Ws(" "), id)
        case _ => Seq(t)
      }
    }

  // ---- division / modulo by zero (r12, VERDICT r11 #2) ------------------

  /** DuckDB returns NULL for x/0 and x%0 where Spark's ANSI mode raises
    * DIVIDE_BY_ZERO (SURVEY divergence register; the r8 blanket rewrite
    * was rejected because try_divide on DECIMAL operands changes the
    * result type). With catalog-typed column resolution in place, rewrite
    * `a / b` → try_divide(a, b) and `a % b` → try_mod(a, b) ONLY when
    *
    *   - the divisor is not a provably non-zero INTEGER literal (a
    *     constant divisor can never trip the error, and leaving it alone
    *     keeps every internal constant-divisor emission byte-stable), and
    *   - neither operand slice carries DECIMAL risk: a decimal literal
    *     (`1.5` is DECIMAL(2,1) in both engines), a >19-digit integer
    *     literal (DECIMAL(38,0)), a DECIMAL/NUMERIC cast, or an
    *     identifier resolving to a DECIMAL-typed visible column
    *     (conservative containment scan — a false positive just stays
    *     the loud ANSI error, never a silent wrong answer).
    *
    * try_divide/try_mod carry the exact non-DECIMAL divide/mod result
    * types (int/int → DOUBLE like duck; int%int → int), stay inside
    * whole-stage codegen, and the emission contains no bare `/`/`%`, so
    * the pass converges and the translate∘translate fixpoint holds. This
    * pass runs LAST (before null-order injection) so every earlier pass's
    * emission gets the same treatment in the same translate — dynamic
    * divisors in internal emissions (x̄ = Σ/n guards, sem, jaccard) are
    * value-identical under the try forms because each is already
    * zero-guarded. Left operand extension walks the same-precedence
    * multiplicative run (`a * b / c` → try_divide(a * b, c)) and absorbs
    * window/FILTER suffixes, preserving left-associativity and grouping. */
  /** DECIMAL-risk containment scan over a token run (r12 rewriteDivMod,
    * factored r13 — also scopes the negative-digit round() NaN guard):
    * a DOTTED literal WITHOUT an exponent marker (`2.5` is DECIMAL(2,1)
    * in duck; `2.5e0`/`1e3` are DOUBLE — the r12 scan over-flagged
    * scientific literals, r12 ADVICE), a >19-digit integral (HUGEINT),
    * a DECIMAL/NUMERIC type ident, or a catalog-typed DECIMAL column. */
  private def decimalRiskToks(ts: Seq[Tok],
      isDecimalCol: String => Boolean): Boolean =
    ts.exists {
      case n: Num =>
        (n.text.contains('.') &&
          !n.text.exists(c => c == 'e' || c == 'E')) ||
          (n.text.forall(_.isDigit) && n.text.length > 19)
      case id: Ident =>
        id.upper == "DECIMAL" || id.upper == "NUMERIC" ||
          isDecimalCol(id.text.toLowerCase(java.util.Locale.ROOT))
      case _ => false
    }

  /** The token at `i` heads a `DECIMAL(38,0)` / `DECIMAL(20,0)`
    * spelling — the HUGEINT/UBIGINT image types. After one translate the
    * rename's single-token ident renders to text and RE-LEXES as the
    * multi-token user spelling, so hugeint-ness must survive that round
    * trip: the engine adopts ONE consistent rule (SURVEY register) —
    * DECIMAL(38,0) and DECIMAL(20,0), however spelled, take HUGEINT
    * semantics in `//` routing and greatest/least/avg dispatch; any
    * other precision/scale is a DECIMAL spelling. */
  private def headsHugeintImage(ts: Seq[Tok], i: Int): Boolean = {
    val v = ts.toVector
    def nn(j: Int): Int = {
      var k = j + 1
      while (k < v.length && isWs(v(k))) k += 1
      k
    }
    val o = nn(i)
    if (o >= v.length || v(o) != Punct("(")) return false
    val p = nn(o)
    if (p >= v.length) return false
    val c1 = nn(p)
    if (c1 >= v.length || v(c1) != Punct(",")) return false
    val s = nn(c1)
    if (s >= v.length) return false
    val c2 = nn(s)
    if (c2 >= v.length || v(c2) != Punct(")")) return false
    (v(p), v(s)) match {
      case (pn: Num, sn: Num) =>
        (pn.text == "38" || pn.text == "20") && sn.text == "0"
      case _ => false
    }
  }

  /** DECIMAL risk EXCLUDING the hugeint spellings (r13 dec fuzz): dotted
    * literals, DECIMAL/NUMERIC type idents that are NOT the
    * DECIMAL(38,0)/(20,0) hugeint images, and catalog-typed DECIMAL
    * columns. Distinguishes duck's DECIMAL operators (double semantics)
    * from its HUGEINT ones (exact INT128). */
  private def decimalRiskNonHugeToks(ts: Seq[Tok],
      isDecimalCol: String => Boolean): Boolean =
    ts.zipWithIndex.exists {
      case (n: Num, _) =>
        n.text.contains('.') && !n.text.exists(c => c == 'e' || c == 'E')
      case (id: Ident, i) =>
        ((id.upper == "DECIMAL" || id.upper == "NUMERIC") &&
          !headsHugeintImage(ts, i)) ||
          isDecimalCol(id.text.toLowerCase(java.util.Locale.ROOT))
      case _ => false
    }

  /** Datetime-surface containment (r13): tokens proving a slice is
    * timestamp/date/interval-valued — the greatest/least/avg DOUBLE
    * dispatch must not fire there (duck's greatest(ts, ts) stays
    * TIMESTAMP; a fractional-seconds literal inside make_timestamp is
    * decimal-risk by token but not decimal-typed). Conservative in the
    * safe direction: a false positive skips the wrap and keeps the
    * pre-r13 behavior. */
  private val dtSurfaceTokens = Set(
    "TIMESTAMP", "TIMESTAMPTZ", "DATE", "DATETIME", "TIME", "INTERVAL",
    "MAKE_TIMESTAMP", "MAKE_DATE", "TO_TIMESTAMP", "STRPTIME",
    "TRY_STRPTIME", "GRAFT_STRPTIME", "GRAFT_STRPTIME_TRY", "TIMEZONE",
    "AT", "EPOCH_MS", "DATE_TRUNC", "DATE_ADD", "DATE_SUB", "DATEADD",
    "DATESUB", "TIMESTAMPADD", "TIMESTAMPDIFF", "LAST_DAY", "NOW",
    "TODAY", "CURRENT_DATE", "CURRENT_TIMESTAMP", "TIME_BUCKET",
    // emission spellings earlier passes may have produced by the time
    // rewriteArgShapeFns runs (to_timestamp → timestamp_seconds etc.)
    "TIMESTAMP_SECONDS", "TIMESTAMP_MILLIS", "TIMESTAMP_MICROS",
    "TO_UTC_TIMESTAMP", "FROM_UTC_TIMESTAMP", "TO_DATE", "DATE_FORMAT",
    "GREATEST", "LEAST") // nested greatest/least: dispatch on the flat args only
  private def dtSurfaceToks(ts: Seq[Tok]): Boolean =
    ts.exists {
      case id: Ident => dtSurfaceTokens.contains(id.upper)
      case _ => false
    }

  /** TSTZ-producer containment scan with CASE-condition masking (r14,
    * r13 ADVICE low #3). The three TSTZ dispatch sites (mixed-interval
    * subtract order, AT TIME ZONE direction, date_diff grid flavor)
    * scan their operand slice for a producer because duck COERCES mixed
    * operands to TSTZ and chained producers parenthesize — but a
    * producer inside a CASE's WHEN..THEN CONDITION region does not
    * flavor the CASE's value (duck types the CASE from its branch
    * values), so `CASE WHEN to_timestamp(s) > t THEN naive_a ELSE
    * naive_b END - INTERVAL '1 mon 2 days'` keeps naive months-first
    * semantics. Producers in THEN/ELSE branches still flavor the value
    * (coercion) and stay containment-matched. */
  private[dialect] def tstzProducerToks(ts: Seq[Tok]): Boolean = {
    val producers = Set("TO_TIMESTAMP", "TIMEZONE",
      "TO_UTC_TIMESTAMP", "FROM_UTC_TIMESTAMP")
    var depth = 0
    var condDepths = List.empty[Int] // paren depths of open WHEN..THEN regions
    var i = 0
    var found = false
    while (i < ts.length && !found) {
      ts(i) match {
        case Punct("(") => depth += 1
        case Punct(")") => depth -= 1
        case id: Ident if id.upper == "WHEN" => condDepths ::= depth
        case id: Ident if id.upper == "THEN" &&
            condDepths.headOption.contains(depth) =>
          condDepths = condDepths.tail
        case id: Ident if condDepths.isEmpty && producers(id.upper) =>
          found = true
        case _ =>
      }
      i += 1
    }
    found
  }

  /** round() argument that is an integral-identity shape (r13): a DIV
    * anywhere in the slice or an integral-fn head call. These rounds are
    * the engine's own already-integral markers (the int-cast-rounding
    * skip) — converting them to graft_round_dbl would break the
    * translate∘translate fixpoint on emissions like
    * `CAST(round($rem DIV 86400000000) AS INT)`, and the value is
    * integral on both engines anyway. */
  private def roundIntegralMarker(arg: Seq[Tok]): Boolean = {
    if (arg.exists(t => up(t) == "DIV")) return true
    val v = arg.toVector
    val nw = v.zipWithIndex.filterNot { case (t, _) => isWs(t) }
    nw.headOption match {
      case Some((id: Ident, hi)) if integralFns.contains(id.upper) =>
        val n = nextNonWs(v, hi)
        n < v.length && v(n) == Punct("(") && matchParen(v, n) == nw.last._2
      case _ => false
    }
  }

  /** One greatest/least argument already shaped `CAST(… AS DOUBLE)` —
    * the dec-fuzz double-wrap's own emission (fixpoint guard). */
  private def argWrappedAsDouble(arg: Seq[Tok]): Boolean = {
    val v = arg.toVector
    val nw = v.zipWithIndex.filterNot { case (t, _) => isWs(t) }
    if (nw.length < 5) return false
    val (h, _) = nw.head
    if (!(h.isInstanceOf[Ident] && up(h) == "CAST")) return false
    val (o, oi) = nw(1)
    if (o != Punct("(")) return false
    if (matchParen(v, oi) != nw.last._2) return false
    val beforeClose = nw(nw.length - 2)._1
    beforeClose.isInstanceOf[Ident] && up(beforeClose) == "DOUBLE"
  }

  /** HUGEINT spelling containment (r13): a >19-digit integer literal
    * (duck types those HUGEINT), a HUGEINT/UBIGINT ident (pre-rename
    * passes), the rename's single-token DECIMAL(38,0)/DECIMAL(20,0)
    * output, or the multi-token image spelling those render to on
    * re-lex (see [[headsHugeintImage]] — user-spelled DECIMAL(38,0)
    * deliberately takes hugeint semantics, the one consistent reading
    * that survives translate∘translate). */
  private def hugeintRiskToks(ts: Seq[Tok]): Boolean =
    ts.zipWithIndex.exists {
      // >19 digits is always HUGEINT; exactly 19 digits is HUGEINT when
      // above BIGINT max 9223372036854775807 (string compare at equal
      // length — r14, r13 ADVICE: length-only classification routed
      // 9223372036854775808..9999999999999999999 to the double kernel
      // with silent precision loss past 2^53)
      case (n: Num, _) => n.text.forall(_.isDigit) &&
        (n.text.length > 19 ||
          (n.text.length == 19 && n.text > "9223372036854775807"))
      case (id: Ident, i) =>
        id.upper == "HUGEINT" || id.upper == "UBIGINT" ||
          id.upper == "DECIMAL(38,0)" || id.upper == "DECIMAL(20,0)" ||
          ((id.upper == "DECIMAL" || id.upper == "NUMERIC") &&
            headsHugeintImage(ts, i))
      case _ => false
    }

  private[dialect] def rewriteDivMod(toks0: Vector[Tok],
      isDecimalCol: String => Boolean = _ => false): Vector[Tok] = {

    def isPrimaryEndTok(t: Tok): Boolean = t match {
      case _: Num | _: Str => true
      case Punct(")") | Punct("]") => true
      case id: Ident => !keywordLike(id.upper) && up(id) != "END"
      case _ => false
    }
    // absorb `… OVER (…)` / `… OVER w` / `IGNORE|RESPECT NULLS` /
    // `FILTER (WHERE …)` suffixes leftward: primaryStart on the trailing
    // paren group of a window spec lands on OVER — walk back to the
    // aggregate call so the whole windowed expression is one operand
    def extendLeft(toks: Vector[Tok], s0: Int): Int = {
      var s = s0
      var go = true
      while (go && s > 0) {
        go = false
        val p = prevNonWs(toks, s)
        if (p >= 0) toks(p) match {
          case id: Ident
              if Set("OVER", "NULLS", "IGNORE", "RESPECT", "FILTER")
                .contains(id.upper) =>
            s = p; go = true
          case Punct(")") if s > 0 && (toks(s) match {
                case id: Ident =>
                  Set("OVER", "NULLS", "IGNORE", "RESPECT", "FILTER")
                    .contains(id.upper)
                case _ => false
              }) =>
            s = primaryStart(toks, p); go = true
          case _ =>
        }
      }
      s
    }
    // the full left operand: the maximal run of primaries joined by
    // same-precedence multiplicative operators (* / % DIV //)
    def mulRunStart(toks: Vector[Tok], lEnd: Int): Int = {
      var s = extendLeft(toks, primaryStart(toks, lEnd))
      var go = true
      while (go && s > 0) {
        go = false
        val p = prevNonWs(toks, s)
        val isMulOp = p >= 0 && (toks(p) match {
          case Punct("*") | Punct("/") | Punct("%") | Punct("//") => true
          case id: Ident => id.upper == "DIV"
          case _ => false
        })
        if (isMulOp) {
          val pp = prevNonWs(toks, p)
          if (pp >= 0 && isPrimaryEndTok(toks(pp))) {
            s = extendLeft(toks, primaryStart(toks, pp))
            go = true
          }
        }
      }
      s
    }
    // absorb a trailing OVER/FILTER window suffix on the RIGHT operand so
    // `2 / sum(x) OVER (…)` keeps the window inside the divisor
    def extendRight(toks: Vector[Tok], e0: Int): Int = {
      var e = e0
      var go = true
      while (go) {
        go = false
        val n = nextNonWs(toks, e)
        if (n < toks.length) toks(n) match {
          case id: Ident if id.upper == "OVER" =>
            val nn = nextNonWs(toks, n)
            if (nn < toks.length) {
              e = if (toks(nn) == Punct("(")) matchParen(toks, nn) else nn
              go = true
            }
          case id: Ident if id.upper == "FILTER" =>
            val nn = nextNonWs(toks, n)
            if (nn < toks.length && toks(nn) == Punct("(")) {
              e = matchParen(toks, nn); go = true
            }
          case id: Ident if id.upper == "IGNORE" || id.upper == "RESPECT" =>
            val nn = nextNonWs(toks, n)
            if (nn < toks.length && up(toks(nn)) == "NULLS") { e = nn; go = true }
          case _ =>
        }
      }
      e
    }
    // DECIMAL-risk containment scan over an operand slice
    def decimalRisk(toks: Vector[Tok], from: Int, to: Int): Boolean =
      decimalRiskToks(toks.slice(from, to + 1), isDecimalCol)
    // (possibly parenthesized/signed) non-zero INTEGER literal divisor —
    // can never divide by zero, leave the operator alone
    def nonZeroIntLit(toks: Vector[Tok], from: Int, to: Int): Boolean = {
      val nw = toks.slice(from, to + 1).filterNot(isWs)
      nw.count(_.isInstanceOf[Num]) == 1 && nw.forall {
        case Punct("(") | Punct(")") | Punct("-") | Punct("+") => true
        case n: Num =>
          n.text.forall(_.isDigit) && n.text.length <= 19 &&
            n.text.exists(_ != '0')
        case _ => false
      }
    }

    fixpoint(toks0) { (toks, i) =>
      toks(i) match {
        case Punct(op) if (op == "/" || op == "%" || op == "//") && {
            val lEnd = prevNonWs(toks, i)
            val rStart = nextNonWs(toks, i)
            lEnd >= 0 && rStart < toks.length &&
              isPrimaryEndTok(toks(lEnd)) && !intervalEndsAt(toks, lEnd) &&
              (toks(rStart) match {
                case Punct("(") | Punct("-") | Punct("+") => true
                case _: Num | _: Str => true
                case id: Ident =>
                  !keywordLike(id.upper) &&
                    !Set("CASE", "END", "INTERVAL", "EXISTS").contains(id.upper)
                case _ => false
              })
          } =>
          val lEnd = prevNonWs(toks, i)
          val rStart = nextNonWs(toks, i)
          val rEnd = extendRight(toks, primaryEnd(toks, rStart))
          val lStart = mulRunStart(toks, lEnd)
          // `//` ALWAYS takes a kernel (duck dispatches integral-vs-
          // double semantics on operand types the token level can't
          // see, and the kernel accepts decimal operands — duck's
          // decimal // is double division too); / and % keep the
          // literal/decimal skips. r13 (dec fuzz): HUGEINT-SPELLED
          // slices (>19-digit literal or the rename's single-token
          // DECIMAL(38,0)) with no other DECIMAL risk route to the
          // EXACT kernel — duck's HUGEINT // is exact INT128 trunc
          // division where its DECIMAL // is plain double division,
          // and the type mapping erases that distinction. A catalog
          // DECIMAL column keeps the double path (its HUGEINT-vs-
          // DECIMAL origin is unknowable — documented residual).
          if (op == "//" || (!nonZeroIntLit(toks, rStart, rEnd) &&
              !decimalRisk(toks, lStart, lEnd) && !decimalRisk(toks, rStart, rEnd))) {
            val lToks = toks.slice(lStart, lEnd + 1)
            val rToks = toks.slice(rStart, rEnd + 1)
            val fn = if (op == "/") "try_divide"
              else if (op == "//") {
                val slice = lToks ++ rToks
                if (hugeintRiskToks(slice) &&
                    !decimalRiskNonHugeToks(slice, isDecimalCol))
                  "graft_intdiv_exact"
                else "graft_intdiv"
              }
              else "try_mod"
            // token-level construction, NOT lex(render(…)): a lex
            // round-trip flattens the hugeint rename's single-token
            // DECIMAL(38,0) ident into the user multi-token spelling,
            // mis-routing the OUTER links of nested // chains to the
            // double kernel (r13 dec fuzz, probe: (h // 3) // 3)
            val repl = Vector(Ident(fn), Punct("(")) ++ lToks ++
              Vector(Punct(","), Ws(" ")) ++ rToks :+ Punct(")")
            Some(toks.patch(lStart, repl, rEnd - lStart + 1))
          } else None
        case _ => None
      }
    }
  }

  // ---- DuckDB default null order --------------------------------------

  /** DuckDB sorts NULLS LAST by default (both directions); Spark defaults to
    * NULLS FIRST on ASC. Inject explicit `NULLS LAST` into every ORDER BY
    * sort item that lacks a NULLS spec, at any nesting depth (window OVER
    * clauses included). */
  private[dialect] def injectNullOrder(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer[Tok]()
    var i = 0
    val n = toks.length
    def isOrderBy(j: Int) = up(toks(j)) == "ORDER" && {
      val k = nextNonWs(toks, j); k < n && up(toks(k)) == "BY"
    }
    while (i < n) {
      if (isOrderBy(i)) {
        val by = nextNonWs(toks, i)
        out += toks(i); out ++= toks.slice(i + 1, by + 1)
        i = by + 1
        // parse items until clause end at depth 0 (relative)
        var d = 0
        var itemToks = ArrayBuffer[Tok]()
        var done = false
        def flushItem(): Unit = {
          val nonWs = itemToks.filterNot(isWs)
          // `ORDER BY ALL [ASC|DESC]` is a keyword form in both dialects —
          // `ALL NULLS LAST` would re-parse as a column named ALL
          val isAllKeyword = nonWs.nonEmpty && up(nonWs.head) == "ALL" &&
            (nonWs.length == 1 ||
              (nonWs.length == 2 && Set("ASC", "DESC").contains(up(nonWs(1)))))
          if (nonWs.nonEmpty && !isAllKeyword && !nonWs.exists(t => up(t) == "NULLS")) {
            // insert NULLS LAST before trailing ws
            var e = itemToks.length
            while (e > 0 && isWs(itemToks(e - 1))) e -= 1
            itemToks.insertAll(e, Seq(Ws(" "), Ident("NULLS"), Ws(" "), Ident("LAST")))
          }
          out ++= itemToks
          itemToks = ArrayBuffer[Tok]()
        }
        while (i < n && !done) {
          val t = toks(i)
          val isEnd = d == 0 && (t match {
            case Punct(")") | Punct(";") => true
            case id: Ident => Set("LIMIT", "OFFSET", "ROWS", "RANGE", "UNION",
              "INTERSECT", "EXCEPT", "FORMAT", "WINDOW", "GROUPS").contains(id.upper)
            case _ => false
          })
          if (isEnd) { flushItem(); done = true }
          else {
            t match {
              case Punct("(") => d += 1; itemToks += t; i += 1
              case Punct(")") => d -= 1; itemToks += t; i += 1
              case Punct(",") if d == 0 => flushItem(); out += t; i += 1
              case _ => itemToks += t; i += 1
            }
          }
        }
        if (!done) flushItem()
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  /** DuckDB `UNION [ALL|DISTINCT] BY NAME` (SURVEY §2.8) — Spark's SQL has
    * no BY NAME, so the right branch's select items are reordered into the
    * left branch's name order and the BY NAME dropped. Applies when both
    * branches' select items are nameable and the name sets match (DuckDB's
    * own requirement); otherwise the tokens pass through untouched and fail
    * analysis with Spark's error. Top-level unions only. */
  private[dialect] def rewriteUnionByName(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, found) =>
      // only the first top-level BY NAME union is rewritten; once it
      // passes through, the later ones do too
      if (up(toks(found)) != "UNION") None
      else firstUnionByName(toks).filter(_._1 == found).flatMap { case (_, byIdx, nameIdx) =>
        val leftToks = toks.take(found)
        val rightToks = toks.drop(nameIdx + 1)
        (splitClauses(leftToks), splitClauses(rightToks)) match {
          case (Some(lc), Some(rc)) =>
            // a FROM-less branch still ends its select list at the next
            // clause (e.g. `… BY NAME SELECT 4 AS b, 3 AS a ORDER BY a`)
            def selEnd(c: Clauses, len: Int): Int =
              if (c.fromIdx >= 0) c.fromIdx
              else Seq(c.whereIdx, c.groupIdx, c.havingIdx, c.windowIdx,
                c.qualifyIdx, c.orderIdx, c.limitIdx, c.offsetIdx)
                .filter(_ >= 0).minOption.getOrElse(len)
            val lEnd = selEnd(lc, leftToks.length)
            val rEnd = selEnd(rc, rightToks.length)
            val lNames = splitTopLevel(leftToks.slice(lc.selectIdx + 1, lEnd)).map(itemName)
            val rItems = splitTopLevel(rightToks.slice(rc.selectIdx + 1, rEnd))
            val rNames = rItems.map(itemName)
            val rSeq = rNames.flatten.map(_.toLowerCase)
            val rByName = rSeq.zip(rItems).toMap
            val lSeq = lNames.flatten.map(_.toLowerCase)
            // duplicate names on either side make BY NAME ambiguous (DuckDB
            // errors); pass through rather than silently dropping an item
            if (lNames.exists(_.isEmpty) || rNames.exists(_.isEmpty) ||
                lSeq.toSet != rByName.keySet || lSeq.distinct != lSeq ||
                rSeq.distinct != rSeq) None
            else {
              val unionKw = render(toks.slice(found, byIdx)).trim // UNION [ALL|DISTINCT]
              val sql = render(leftToks).trim + " " + unionKw + " SELECT " +
                lSeq.map(n => render(rByName(n)).trim).mkString(", ") +
                " " + render(rightToks.drop(rEnd)).trim
              Some(lex(sql.trim))
            }
          case _ => None
        }
      }
    }

  /** (UNION, BY, NAME) token indices of the first top-level
    * `UNION [ALL|DISTINCT] BY NAME`. */
  private def firstUnionByName(toks: Vector[Tok]): Option[(Int, Int, Int)] = {
    var d = 0
    var i = 0
    var found: Option[(Int, Int, Int)] = None
    while (i < toks.length && found.isEmpty) {
      d += depthDelta(toks(i))
      if (d == 0 && up(toks(i)) == "UNION") {
        var j = nextNonWs(toks, i)
        if (j < toks.length && (up(toks(j)) == "ALL" || up(toks(j)) == "DISTINCT"))
          j = nextNonWs(toks, j)
        if (j < toks.length && up(toks(j)) == "BY") {
          val k = nextNonWs(toks, j)
          if (k < toks.length && up(toks(k)) == "NAME") found = Some((i, j, k))
        }
      }
      i += 1
    }
    found
  }

  // ---- statement-level restructures -----------------------------------

  /** Apply the SELECT-statement restructures (ASOF, DISTINCT ON, QUALIFY)
    * at this level AND inside every parenthesized subquery, innermost
    * first. */
  /** DuckDB FROM-first syntax (`/root/reference/README.md:41` passthrough
    * contract): `FROM t …` → `SELECT * FROM t …`, and `FROM t SELECT list …`
    * → `SELECT list FROM t …`. Applied at statement level, inside every
    * parenthesized region (subqueries, CTE bodies), after a WITH prefix, and
    * per set-operation branch (`FROM a UNION FROM b`). */
  private[dialect] def rewriteFromFirst(toks0: Vector[Tok]): Vector[Tok] = {
    var toks = toks0
    // recurse into parenthesized regions first
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(")) {
        val close = matchParen(toks, i)
        val inner = toks.slice(i + 1, close)
        val rewritten = rewriteFromFirst(inner)
        if (rewritten != inner) {
          toks = toks.patch(i + 1, rewritten, close - i - 1)
          i = i + 1 + rewritten.length
        } else i = close
      }
      i += 1
    }
    // body start: statement head, or past a WITH-CTE prefix
    val first = nextNonWs(toks, -1)
    if (first >= toks.length) return toks
    val bodyStart =
      if (up(toks(first)) != "WITH") first
      else {
        var j = nextNonWs(toks, first) // first cte name
        if (j < toks.length && up(toks(j)) == "RECURSIVE") j = nextNonWs(toks, j)
        var done = false
        while (!done && j < toks.length) {
          var k = nextNonWs(toks, j) // past the cte name
          if (k < toks.length && toks(k) == Punct("(")) // (col list)
            k = nextNonWs(toks, matchParen(toks, k))
          if (k < toks.length && up(toks(k)) == "AS") k = nextNonWs(toks, k)
          if (k < toks.length && up(toks(k)) == "NOT") k = nextNonWs(toks, k)
          if (k < toks.length && up(toks(k)) == "MATERIALIZED") k = nextNonWs(toks, k)
          if (k < toks.length && toks(k) == Punct("(")) {
            val n = nextNonWs(toks, matchParen(toks, k))
            if (n < toks.length && toks(n) == Punct(",")) j = nextNonWs(toks, n)
            else { j = n; done = true }
          } else { j = k; done = true }
        }
        j
      }
    if (bodyStart >= toks.length) return toks
    // set-operation branch starts within the body (depth 0 relative to it)
    val branchStarts = ArrayBuffer(bodyStart)
    var d = 0
    var b = bodyStart
    while (b < toks.length) {
      d += depthDelta(toks(b))
      if (d == 0 && Set("UNION", "INTERSECT", "EXCEPT").contains(up(toks(b)))) {
        var n = nextNonWs(toks, b)
        while (n < toks.length && Set("ALL", "DISTINCT", "BY", "NAME").contains(up(toks(n))))
          n = nextNonWs(toks, n)
        branchStarts += n
      }
      b += 1
    }
    // rewrite branches right-to-left so earlier indices stay valid; a branch
    // ends at the next branch's set-op keyword (scan back over modifiers)
    var endIdx = toks.length
    for (bi <- branchStarts.indices.reverse) {
      val bs = branchStarts(bi)
      if (bs < endIdx && up(toks(bs)) == "FROM")
        toks = toks.patch(bs, transposeFromFirst(toks.slice(bs, endIdx)), endIdx - bs)
      if (bi > 0) {
        // previous branch ends where this branch's set-op keyword begins
        var e = prevNonWs(toks, bs)
        while (e >= 0 && Set("ALL", "DISTINCT", "BY", "NAME").contains(up(toks(e))))
          e = prevNonWs(toks, e)
        endIdx = e // index of UNION/INTERSECT/EXCEPT itself
      }
    }
    toks
  }

  /** DuckDB `POSITIONAL JOIN` — pair row N with row N, shorter side
    * NULL-padded (probe-verified against the 1.0 oracle). A distributed
    * scan has no reproducible row order, so the supported form is the
    * deterministic one: both sides parenthesized subqueries carrying a
    * top-level ORDER BY. Each side is wrapped with
    * `row_number() OVER (ORDER BY …)` and the pairing becomes a FULL
    * OUTER equi-join on that position — the only shuffle-safe reading.
    * A side without an ORDER BY (or a bare table) throws: silently
    * nondeterministic pairs would be worse than an error. Scale note:
    * the unpartitioned row_number window is a single-task total-order
    * pass by construction (positional pairing IS a total order); at
    * 100 TB use [[graft.operators.Partitioning.positionalJoin]] (r8) —
    * parallel sort + RDD.zipWithIndex per side, full-outer equi-join on
    * the position, no one-task stage.
    * Divergence: `SELECT *` over the join also surfaces the synthetic
    * position columns — declared queries project explicitly. */
  private[dialect] def rewritePositionalJoin(toks0: Vector[Tok]): Vector[Tok] =
    fixpoint(toks0) { (toks, i) =>
      if (up(toks(i)) == "POSITIONAL" && {
            val n = nextNonWs(toks, i); n < toks.length && up(toks(n)) == "JOIN"
          }) {
        val jn = nextNonWs(toks, i)
        def fail(why: String): Nothing = throw new UnsupportedOperationException(
          s"POSITIONAL JOIN: $why — supported form is " +
            "(subquery with ORDER BY) [alias] POSITIONAL JOIN (subquery with ORDER BY) [alias] " +
            "(a distributed scan has no reproducible row order)")
        // right side: ( subquery ) [AS] alias?
        val rOpen = nextNonWs(toks, jn)
        if (rOpen >= toks.length || toks(rOpen) != Punct("(")) fail("right side is not a parenthesized subquery")
        val rClose = matchParen(toks, rOpen)
        var rEnd = rClose
        var rAlias: Option[String] = None
        locally {
          val n = nextNonWs(toks, rClose)
          if (n < toks.length && up(toks(n)) == "AS") {
            val a = nextNonWs(toks, n)
            if (a < toks.length && toks(a).isInstanceOf[Ident]) { rAlias = Some(toks(a).text); rEnd = a }
          } else if (n < toks.length && toks(n).isInstanceOf[Ident] &&
              !(clauseStarters ++ Set("ON", "JOIN", "INNER", "LEFT", "RIGHT",
                "FULL", "CROSS", "USING", "NATURAL", "POSITIONAL")).contains(up(toks(n)))) {
            rAlias = Some(toks(n).text); rEnd = n
          }
        }
        // left side: ( subquery ) [AS] alias?  scanning backward
        var p = prevNonWs(toks, i)
        var lAlias: Option[String] = None
        if (p >= 0 && toks(p).isInstanceOf[Ident]) {
          lAlias = Some(toks(p).text)
          val p2 = prevNonWs(toks, p)
          p = if (p2 >= 0 && up(toks(p2)) == "AS") prevNonWs(toks, p2) else p2
        }
        if (p < 0 || toks(p) != Punct(")")) fail("left side is not a parenthesized subquery")
        val lClose = p
        var lOpen = -1
        locally {
          var d = 0; var j = lClose
          while (j >= 0 && lOpen < 0) {
            toks(j) match {
              case Punct(")") => d += 1
              case Punct("(") => d -= 1; if (d == 0) lOpen = j
              case _ =>
            }
            j -= 1
          }
        }
        if (lOpen < 0) fail("left side is not a parenthesized subquery")
        val sqL = toks.slice(lOpen + 1, lClose)
        val sqR = toks.slice(rOpen + 1, rClose)
        // inject the position column INTO the subquery's select list —
        // its ORDER BY names base-scope columns (e.g. `ORDER BY
        // c_custkey` under `SELECT c_custkey AS ck`), so a wrapper
        // around the subquery could not evaluate them
        def inject(sq: Vector[Tok], posName: String, side: String): String = {
          val ord = topOrderByExprs(sq).getOrElse(fail(s"$side subquery has no top-level ORDER BY"))
          val selIdx = nextNonWs(sq, -1)
          if (selIdx >= sq.length || up(sq(selIdx)) != "SELECT") fail(s"$side side is not a plain SELECT subquery")
          if ({ val n = nextNonWs(sq, selIdx); n < sq.length && up(sq(n)) == "DISTINCT" })
            fail(s"$side side uses DISTINCT (a position column would defeat it)")
          var d = 0; var fromIdx = -1; var j = selIdx
          while (j < sq.length && fromIdx < 0) {
            d += depthDelta(sq(j))
            if (d == 0 && up(sq(j)) == "FROM") fromIdx = j
            j += 1
          }
          if (fromIdx < 0) fail(s"$side side has no FROM clause")
          render(sq.slice(0, fromIdx)).trim +
            s", row_number() OVER (ORDER BY $ord) AS $posName " +
            render(sq.slice(fromIdx, sq.length)).trim
        }
        val la = lAlias.getOrElse("__g_pl")
        val ra = rAlias.getOrElse("__g_pr")
        val repl =
          s"(${inject(sqL, "__g_pos", "left")}) $la " +
            s"FULL JOIN (${inject(sqR, "__g_pos2", "right")}) $ra " +
            s"ON $la.__g_pos = $ra.__g_pos2"
        Some(toks.patch(lOpen, lex(repl), rEnd - lOpen + 1))
      } else None
    }

  /** The rendered expression list of a top-level ORDER BY inside a
    * subquery's tokens (up to a top-level LIMIT/OFFSET or the end);
    * None when the subquery has no top-level ORDER BY. */
  private def topOrderByExprs(sq: Vector[Tok]): Option[String] = {
    var d = 0; var ord = -1
    for ((t, j) <- sq.zipWithIndex) {
      d += depthDelta(t)
      if (d == 0 && up(t) == "ORDER" && {
            val n = nextNonWs(sq, j); n < sq.length && up(sq(n)) == "BY"
          }) ord = j
    }
    if (ord < 0) return None
    val by = nextNonWs(sq, ord)
    var end = sq.length
    var d2 = 0
    for ((t, j) <- sq.zipWithIndex) {
      d2 += depthDelta(t)
      if (j > by && d2 == 0 && (up(t) == "LIMIT" || up(t) == "OFFSET") && j < end)
        end = math.min(end, j)
    }
    Some(render(sq.slice(by + 1, end)).trim)
  }

  /** One FROM-first branch (first non-ws token is FROM) → standard order:
    * hoist the top-level SELECT clause to the front, or synthesize
    * `SELECT *` when the branch has none. */
  private def transposeFromFirst(branch: Vector[Tok]): Vector[Tok] = {
    var d = 0; var selIdx = -1
    for (i <- branch.indices) {
      d += depthDelta(branch(i))
      if (d == 0 && selIdx < 0 && up(branch(i)) == "SELECT") selIdx = i
    }
    if (selIdx < 0) lex("SELECT * ") ++ branch
    else {
      val enders = Set("FROM", "WHERE", "GROUP", "HAVING", "WINDOW", "QUALIFY",
        "ORDER", "LIMIT", "OFFSET")
      var d2 = 0; var end = -1
      for (i <- branch.indices) {
        d2 += depthDelta(branch(i))
        if (end < 0 && i > selIdx && d2 == 0 && enders.contains(up(branch(i)))) end = i
      }
      if (end < 0) end = branch.length
      val selClause = branch.slice(selIdx, end)
      val sel = if (selClause.nonEmpty && isWs(selClause.last)) selClause
        else selClause :+ Ws(" ")
      sel ++ branch.take(selIdx) ++ branch.drop(end)
    }
  }

  private[dialect] def rewriteStatementLevel(toks0: Vector[Tok]): Vector[Tok] = {
    // recurse into ( SELECT ... ) regions first
    var toks = toks0
    var i = 0
    while (i < toks.length) {
      if (toks(i) == Punct("(")) {
        val n = nextNonWs(toks, i)
        if (n < toks.length && up(toks(n)) == "SELECT") {
          val close = matchParen(toks, i)
          val inner = toks.slice(i + 1, close)
          val rewritten = rewriteStatementLevel(inner)
          if (rewritten != inner) {
            toks = toks.patch(i + 1, rewritten, close - i - 1)
            i += rewritten.length + 1
          } else i = close
        }
      }
      i += 1
    }
    rewriteQualify(rewriteDistinctOn(rewriteAsof(rewriteUnnestInExpr(toks))))
  }

  /** `SELECT f(unnest(X)) …` (r10 batch 9): DuckDB allows unnest anywhere
    * in a select item; Spark only allows a generator at the TOP level of
    * the list. Lift the single nested unnest into a LATERAL VIEW explode
    * and reference its output column. Guarded to exactly ONE unnest call
    * in the list — DuckDB ZIPS multiple unnests row-wise where two
    * LATERAL VIEWs would cross-product, so the multi-unnest shape stays
    * loud. GROUP BY / HAVING / WINDOW statements also stay loud (the
    * explode would change aggregation grain). */
  private[dialect] def rewriteUnnestInExpr(toks: Vector[Tok]): Vector[Tok] = {
    val c = splitClauses(toks).orNull
    if (c == null || c.groupIdx >= 0 || c.havingIdx >= 0 || c.windowIdx >= 0)
      return toks
    val selEnd = Seq(c.fromIdx, c.whereIdx, c.qualifyIdx, c.orderIdx,
      c.limitIdx, c.offsetIdx).filter(_ > c.selectIdx)
      .minOption.getOrElse(toks.length)
    // locate top-level-in-an-item unnest calls inside the select list only
    var occurrences = List.empty[(Int, Int)] // (identIdx, closeIdx)
    var i = c.selectIdx + 1
    while (i < selEnd) {
      toks(i) match {
        case Punct("(") if {
            // skip scalar-subquery regions — the statement-level
            // recursion rewrites those on their own (q182's recursive
            // unnest lives inside one; lifting it OUT of its subquery
            // broke the := kwarg)
            val n = nextNonWs(toks, i)
            n < toks.length && up(toks(n)) == "SELECT"
          } =>
          i = matchParen(toks, i)
        case id: Ident if id.upper == "UNNEST" =>
          val n = nextNonWs(toks, i)
          if (n < selEnd && toks(n) == Punct("(")) {
            val close = matchParen(toks, n)
            occurrences ::= (i, close)
            i = close // nested unnest-inside-unnest stays loud via count
          }
        case _ =>
      }
      i += 1
    }
    occurrences match {
      case (uIdx, uClose) :: scala.Nil =>
        // bare `unnest(x)` / `unnest(x) AS a` items are native explode —
        // only rewrite when the call sits INSIDE a larger expression
        val items = splitTopLevel(toks.slice(c.selectIdx + 1, selEnd))
        var acc = c.selectIdx + 1
        var nested = false
        for (item <- items) {
          val end = acc + item.length
          if (uIdx >= acc && uIdx < end) {
            val nw = item.filterNot(isWs)
            // strip an optional trailing [AS] alias before comparing ends
            val woAlias =
              if (nw.length >= 3 && up(nw(nw.length - 2)) == "AS") nw.dropRight(2)
              else if (nw.length >= 2 && nw.last.isInstanceOf[Ident] &&
                !keywordLike(up(nw.last)) && nw(nw.length - 2) == Punct(")")) nw.dropRight(1)
              else nw
            // bare = the item IS the call: starts at the unnest ident and
            // ends at its own closing paren
            val bare = woAlias.headOption.exists(t => up(t) == "UNNEST") &&
              woAlias.length >= 3 && woAlias(1) == Punct("(") && {
                var d0 = 0; var firstZero = -1
                for ((t, ix) <- woAlias.zipWithIndex.drop(1)) {
                  d0 += depthDelta(t)
                  if (d0 == 0 && firstZero < 0) firstZero = ix
                }
                firstZero == woAlias.length - 1
              }
            nested = !bare
          }
          acc = end + 1 // past the comma
        }
        if (!nested) return toks
        val argOpen = nextNonWs(toks, uIdx)
        val arg = render(toks.slice(argOpen + 1, uClose)).trim
        val patched = toks.patch(uIdx, lex("__graft_unn"), uClose - uIdx + 1)
        val shift = patched.length - toks.length
        val lateral = lex(s" LATERAL VIEW explode($arg) __graft_unnv AS __graft_unn ")
        if (c.fromIdx >= 0) {
          val fromEnd = Seq(c.whereIdx, c.qualifyIdx, c.orderIdx, c.limitIdx,
            c.offsetIdx).filter(_ > c.fromIdx)
            .minOption.map(_ + shift).getOrElse(patched.length)
          patched.patch(fromEnd, lateral, 0)
        } else {
          val insertAt = Seq(c.whereIdx, c.qualifyIdx, c.orderIdx, c.limitIdx,
            c.offsetIdx).filter(_ > c.selectIdx)
            .minOption.map(_ + shift).getOrElse(patched.length)
          patched.patch(insertAt,
            lex(" FROM (SELECT 1 AS __graft_one)") ++ lateral, 0)
        }
      case _ => toks
    }
  }

  /** Top-level clause boundaries of a SELECT statement. */
  private[dialect] final case class Clauses(toks: Vector[Tok],
      selectIdx: Int, fromIdx: Int, whereIdx: Int, groupIdx: Int, havingIdx: Int,
      windowIdx: Int, qualifyIdx: Int, orderIdx: Int, limitIdx: Int, offsetIdx: Int)

  private[dialect] def splitClauses(toks: Vector[Tok]): Option[Clauses] = {
    var d = 0
    var sel, frm, whr, grp, hav, win, qua, ord, lim, off = -1
    for (i <- toks.indices) {
      d += depthDelta(toks(i))
      if (d == 0) up(toks(i)) match {
        case "SELECT" if sel < 0 => sel = i
        case "FROM" if sel >= 0 && frm < 0 => frm = i
        case "WHERE" if whr < 0 => whr = i
        case "GROUP" if grp < 0 => grp = i
        case "HAVING" if hav < 0 => hav = i
        case "WINDOW" if win < 0 => win = i
        case "QUALIFY" if qua < 0 => qua = i
        case "ORDER" if ord < 0 => ord = i
        case "LIMIT" if lim < 0 => lim = i
        case "OFFSET" if off < 0 => off = i
        case _ =>
      }
    }
    if (sel < 0) None else Some(Clauses(toks, sel, frm, whr, grp, hav, win, qua, ord, lim, off))
  }

  /** Output name of a select-list item: explicit alias, else last identifier
    * segment of a plain (possibly qualified) column reference. */
  private[dialect] def itemName(item: Vector[Tok]): Option[String] = {
    val nw = item.filterNot(isWs)
    if (nw.isEmpty) None
    else {
      val asIdx = nw.lastIndexWhere(t => up(t) == "AS")
      if (asIdx >= 0 && asIdx == nw.length - 2) Some(nw.last.text)
      else nw match {
        case Vector(id: Ident) => Some(id.text)
        case v if v.length >= 3 && v.forall(t => t.isInstanceOf[Ident] || t == Punct(".")) =>
          Some(v.last.text)
        case v if v.length >= 2 && v.last.isInstanceOf[Ident] && !keywordLike(up(v.last)) =>
          Some(v.last.text) // implicit alias `expr name`
        case _ => None
      }
    }
  }

  /** Split token run on top-level commas. */
  private[dialect] def splitTopLevel(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val out = Vector.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var d = 0
    for (t <- toks) {
      d += depthDelta(t)
      if (d == 0 && t == Punct(",")) { out += cur.result(); cur = Vector.newBuilder[Tok] }
      else cur += t
    }
    out += cur.result()
    out.result()
  }

  /** QUALIFY (DuckDB-ism) → subquery + WHERE on the window predicate. */
  private[dialect] def rewriteQualify(toks: Vector[Tok]): Vector[Tok] =
    splitClauses(toks) match {
      case Some(c) if c.qualifyIdx >= 0 =>
        val qEnd = Seq(c.orderIdx, c.limitIdx, c.offsetIdx).filter(_ > c.qualifyIdx)
          .minOption.getOrElse(toks.length)
        val pred = toks.slice(c.qualifyIdx + 1, qEnd)
        val selectList = toks.slice(c.selectIdx + 1, c.fromIdx)
        val fromPart = toks.slice(c.fromIdx, c.qualifyIdx)
        val tail = toks.slice(qEnd, toks.length)
        // tokens before SELECT (a WITH-CTE prefix) must survive the rebuild
        val prefix = render(toks.take(c.selectIdx)).trim
        val inner = s"SELECT *, (${render(pred).trim}) AS __graft_qualify ${render(fromPart).trim}"
        val outSql = s"$prefix SELECT ${render(selectList).trim} FROM ( $inner ) __graft_q WHERE __graft_qualify ${render(tail).trim}"
        lex(outSql.trim)
      case _ => toks
    }

  /** `SELECT DISTINCT ON (keys) sel FROM … ORDER BY o` →
    * row_number()-per-key = 1 (DuckDB-ism, SURVEY Q40). */
  private[dialect] def rewriteDistinctOn(toks: Vector[Tok]): Vector[Tok] = {
    val c0 = splitClauses(toks).orNull
    if (c0 == null) return toks
    val sel = c0.selectIdx
    val dIdx = nextNonWs(toks, sel)
    if (dIdx >= toks.length || up(toks(dIdx)) != "DISTINCT") return toks
    val onIdx = nextNonWs(toks, dIdx)
    if (onIdx >= toks.length || up(toks(onIdx)) != "ON") return toks
    val open = nextNonWs(toks, onIdx)
    if (open >= toks.length || toks(open) != Punct("(")) return toks
    val close = matchParen(toks, open)
    val keys = render(toks.slice(open + 1, close)).trim
    val selectList = render(toks.slice(close + 1, c0.fromIdx)).trim
    val fromEnd = Seq(c0.orderIdx, c0.limitIdx, c0.offsetIdx).filter(_ >= 0)
      .minOption.getOrElse(toks.length)
    val fromPart = render(toks.slice(c0.fromIdx, fromEnd)).trim
    val orderPart =
      if (c0.orderIdx >= 0) {
        val oEnd = Seq(c0.limitIdx, c0.offsetIdx).filter(_ > c0.orderIdx).minOption.getOrElse(toks.length)
        val byIdx = nextNonWs(toks, c0.orderIdx) // the BY keyword
        render(toks.slice(byIdx + 1, oEnd)).trim
      } else keys
    val tail = if (c0.orderIdx >= 0) render(toks.slice(c0.orderIdx, toks.length)).trim else ""
    // tokens before SELECT (a WITH-CTE prefix) must survive the rebuild
    val prefix = render(toks.take(sel)).trim
    val sql =
      s"$prefix SELECT $selectList FROM (SELECT *, row_number() OVER (PARTITION BY $keys ORDER BY $orderPart) AS __graft_rn $fromPart) __graft_d WHERE __graft_rn = 1 $tail"
    lex(sql.trim)
  }

  /** Structured description of a merge-eligible ASOF statement — bare left
    * and right tables, one equality + one inequality (strict or not, either
    * direction), simple qualified select items, an optional WHERE whose
    * conjuncts reference only qualified simple columns, tail of at most
    * ORDER BY/LIMIT/OFFSET. The engine routes statements matching this
    * shape onto the single-shuffle merge operator
    * ([[graft.operators.AsOfJoin]]); everything else falls back to
    * [[rewriteAsof]]'s range-join SQL.
    *
    * WHERE handling: conjuncts referencing only the LEFT alias are pushed
    * onto the left input before the join (valid — an asof join keeps or
    * drops left rows wholesale, so left-column filters commute); everything
    * else (right/mixed/no-ref conjuncts) applies AFTER the join, exactly
    * where SQL puts the WHERE. Right-side pre-filtering would be WRONG
    * (dropping a right row changes which row is "latest"), which is why
    * `postRightCols` ride along in the operator payload instead. */
  final case class AsofMergeSpec(
      leftTable: String, leftAlias: String,
      rightTable: String, rightAlias: String,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      direction: String, strict: Boolean, isLeftJoin: Boolean,
      selects: Seq[(String, String, String)], // (alias, col, outName)
      leftWhereSql: String, leftWhereCols: Seq[String],
      postWhereSql: String, postLeftCols: Seq[String], postRightCols: Seq[String],
      tailSql: String)

  /** Parse a statement into [[AsofMergeSpec]] if it is merge-eligible. */
  def asofMergeSpec(sql: String): Option[AsofMergeSpec] = {
    val (noFmt, _) = Sanitizer.stripFormat(sql)
    val toks = lex(noFmt)
    var d = 0
    var asofIdx = -1
    for (i <- toks.indices) {
      d += depthDelta(toks(i))
      if (d == 0 && asofIdx < 0 && up(toks(i)) == "ASOF") asofIdx = i
    }
    if (asofIdx < 0) return None
    val c = splitClauses(toks).getOrElse(return None)
    // no CTE prefix, no GROUP/HAVING/QUALIFY/WINDOW (WHERE is handled)
    if (toks.take(c.selectIdx).exists(!isWs(_))) return None
    if (c.groupIdx >= 0 || c.havingIdx >= 0 ||
      c.qualifyIdx >= 0 || c.windowIdx >= 0) return None

    val leftToks = toks.slice(c.fromIdx + 1, asofIdx)
    var j = nextNonWs(toks, asofIdx)
    if (j >= toks.length) return None // trailing ASOF (e.g. a table aliased 'asof')
    val isLeftJoin = up(toks(j)) == "LEFT"
    if (isLeftJoin) j = nextNonWs(toks, j)
    if (j >= toks.length || up(toks(j)) != "JOIN") return None
    val onIdx = {
      var k = j; var dd = 0; var found = -1
      while (k < toks.length && found < 0) {
        dd += depthDelta(toks(k))
        if (dd == 0 && up(toks(k)) == "ON") found = k
        k += 1
      }
      found
    }
    if (onIdx < 0) return None
    val rightToks = toks.slice(j + 1, onIdx)
    val tailStart = Seq(c.orderIdx, c.limitIdx, c.offsetIdx).filter(_ > onIdx)
      .minOption.getOrElse(toks.length)
    val condEnd = if (c.whereIdx > onIdx) c.whereIdx else tailStart
    val condToks = toks.slice(onIdx + 1, condEnd)
    val whereToks = if (c.whereIdx > onIdx) {
      val wIdx = nextNonWs(toks, c.whereIdx) // skip the WHERE keyword itself
      toks.slice(wIdx, tailStart)
    } else Vector.empty[Tok]

    // bare `table [AS] alias` refs only
    def tableAlias(ref: Vector[Tok]): Option[(String, String)] = {
      val nw = ref.filterNot(isWs).filterNot(t => up(t) == "AS")
      nw match {
        case Vector(t: Ident, a: Ident) if t.text.matches("[\\w.]+") => Some((t.text, a.text))
        case _ => None
      }
    }
    val (lsrc, la) = tableAlias(leftToks).getOrElse(return None)
    val (rsrc, ra) = tableAlias(rightToks).getOrElse(return None)

    // conjuncts: exactly one equality + one non-strict inequality, both
    // between simple alias.col refs
    val conjs = {
      val out = Vector.newBuilder[Vector[Tok]]
      var cur = Vector.newBuilder[Tok]
      var dd = 0
      for (t <- condToks) {
        dd += depthDelta(t)
        if (dd == 0 && up(t) == "AND") { out += cur.result(); cur = Vector.newBuilder[Tok] }
        else cur += t
      }
      out += cur.result()
      out.result()
    }
    def qualRef(ts: Vector[Tok]): Option[(String, String)] =
      ts.filterNot(isWs) match {
        case Vector(a: Ident, Punct("."), x: Ident) => Some((a.text, x.text))
        case _ => None
      }
    def binary(conj: Vector[Tok], ops: Set[String]): Option[((String, String), String, (String, String))] = {
      val opIdx = conj.indexWhere { case Punct(op) => ops(op); case _ => false }
      if (opIdx < 0) return None
      for {
        l <- qualRef(conj.take(opIdx))
        r <- qualRef(conj.drop(opIdx + 1))
      } yield (l, conj(opIdx).text, r)
    }
    if (conjs.length != 2) return None
    val eqOpt = conjs.flatMap(binary(_, Set("="))).headOption
    val ineqOpt = conjs.flatMap(binary(_, Set("<=", ">=", "<", ">"))).headOption
    val ((eqL, _, eqR), (inL, op0, inR)) = (eqOpt, ineqOpt) match {
      case (Some(e), Some(i)) => (e, i)
      case _ => return None
    }
    // keys by alias
    val (leftKey, rightKey) = (eqL, eqR) match {
      case ((a1, c1), (a2, c2)) if a1.equalsIgnoreCase(la) && a2.equalsIgnoreCase(ra) => (c1, c2)
      case ((a1, c1), (a2, c2)) if a1.equalsIgnoreCase(ra) && a2.equalsIgnoreCase(la) => (c2, c1)
      case _ => return None
    }
    // normalize inequality to (right OP left)
    val flip = Map("<=" -> ">=", ">=" -> "<=", "<" -> ">", ">" -> "<")
    val (rightTime, op, leftTime) = (inL, inR) match {
      case ((a1, c1), (a2, c2)) if a1.equalsIgnoreCase(ra) && a2.equalsIgnoreCase(la) => (c1, op0, c2)
      case ((a1, c1), (a2, c2)) if a1.equalsIgnoreCase(la) && a2.equalsIgnoreCase(ra) =>
        (c2, flip(op0), c1)
      case _ => return None
    }
    val direction = if (op == "<=" || op == "<") "backward" else "forward"
    val strict = op == "<" || op == ">"

    // select list: simple alias.col [AS out] items
    val selects = splitTopLevel(toks.slice(c.selectIdx + 1, c.fromIdx)).map { item =>
      val nw = item.filterNot(isWs)
      nw match {
        case Vector(a: Ident, Punct("."), x: Ident) => ((a.text, x.text, x.text))
        case Vector(a: Ident, Punct("."), x: Ident, as: Ident, o: Ident) if as.upper == "AS" =>
          ((a.text, x.text, o.text))
        case _ => return None
      }
    }
    if (!selects.forall { case (a, _, _) =>
      a.equalsIgnoreCase(la) || a.equalsIgnoreCase(ra) }) return None

    // alias-qualifier stripper (operator output columns are unqualified)
    def stripQuals(t: Vector[Tok]): String = {
      val out = ArrayBuffer[Tok]()
      var k = 0
      while (k < t.length) {
        val isQual = t(k).isInstanceOf[Ident] &&
          (t(k).text.equalsIgnoreCase(la) || t(k).text.equalsIgnoreCase(ra)) && {
            val nn = nextNonWs(t, k); nn < t.length && t(nn) == Punct(".")
          }
        if (isQual) k = nextNonWs(t, k) + 1
        else { out += t(k); k += 1 }
      }
      render(out.toVector).trim
    }

    // WHERE analysis: conjuncts of qualified simple refs + literals only.
    // Any bare identifier (unqualified column, function call) bails to the
    // range rewrite — stripping quals there could silently re-bind names.
    val whereKw = Set("AND", "OR", "NOT", "BETWEEN", "IN", "IS", "NULL", "LIKE",
      "TRUE", "FALSE", "DATE", "TIMESTAMP", "INTERVAL")
    def analyzeConj(conj: Vector[Tok]): Option[Seq[(String, String)]] = {
      val refs = Seq.newBuilder[(String, String)]
      var k = 0
      while (k < conj.length) {
        conj(k) match {
          case id: Ident =>
            val nn = nextNonWs(conj, k)
            if (nn < conj.length && conj(nn) == Punct(".")) {
              val cn = nextNonWs(conj, nn)
              if (cn >= conj.length || !conj(cn).isInstanceOf[Ident]) return None
              if (!id.text.equalsIgnoreCase(la) && !id.text.equalsIgnoreCase(ra)) return None
              refs += ((id.text, conj(cn).text))
              k = cn + 1
            } else if (whereKw(id.upper)) k += 1
            else return None
          case _ => k += 1
        }
      }
      Some(refs.result())
    }
    // a depth-0 OR makes AND-splitting precedence-unsafe — keep it whole
    val hasTopOr = {
      var dd = 0
      whereToks.exists { t => dd += depthDelta(t); dd == 0 && up(t) == "OR" }
    }
    val whereConjs: Vector[Vector[Tok]] =
      if (whereToks.isEmpty) Vector.empty
      else if (hasTopOr) Vector(whereToks)
      else {
        val out = Vector.newBuilder[Vector[Tok]]
        var cur = Vector.newBuilder[Tok]
        var dd = 0
        for (t <- whereToks) {
          dd += depthDelta(t)
          if (dd == 0 && up(t) == "AND") { out += cur.result(); cur = Vector.newBuilder[Tok] }
          else cur += t
        }
        out += cur.result()
        out.result()
      }
    val analyzed = whereConjs.map { cj =>
      analyzeConj(cj) match {
        case Some(r) => (cj, r)
        case None => return None
      }
    }
    // left-only conjuncts pre-filter the left input; the rest must run
    // after the join (right-side pre-filtering would change which right
    // row is "latest" — see the class doc)
    val (leftConjs, postConjs) = analyzed.partition { case (_, refs) =>
      refs.nonEmpty && refs.forall(_._1.equalsIgnoreCase(la)) }
    def conjSql(cs: Vector[(Vector[Tok], Seq[(String, String)])]): String =
      cs.map(c => "(" + stripQuals(c._1) + ")").mkString(" AND ")
    val leftWhereSql = conjSql(leftConjs)
    val postWhereSql = conjSql(postConjs)
    val leftWhereCols = leftConjs.flatMap(_._2.map(_._2)).distinct
    val postLeftCols = postConjs.flatMap(_._2.collect {
      case (a, cc) if a.equalsIgnoreCase(la) => cc }).distinct
    val postRightCols = postConjs.flatMap(_._2.collect {
      case (a, cc) if a.equalsIgnoreCase(ra) => cc }).distinct

    // tail with alias qualifiers stripped (outer projection has no aliases)
    val tailSql = stripQuals(toks.slice(tailStart, toks.length))
    Some(AsofMergeSpec(lsrc, la, rsrc, ra, leftKey, rightKey, leftTime, rightTime,
      direction, strict, isLeftJoin, selects,
      leftWhereSql, leftWhereCols, postWhereSql, postLeftCols, postRightCols,
      tailSql))
  }

  /** `L la ASOF [LEFT] JOIN R ra ON eq… AND ineq` → unique-left-row-id range
    * join + row_number()=1 pick of the closest right row (SURVEY §2.4 Q22).
    *
    * O(matches) at scale — the engine prefers the merge route
    * ([[asofMergeSpec]] + [[graft.operators.AsOfJoin]]) and uses this
    * textual rewrite as the general fallback (subqueries, WHERE clauses,
    * strict inequalities, expression select items).
    */
  private[dialect] def rewriteAsof(toks: Vector[Tok]): Vector[Tok] = {
    var d = 0
    var asofIdx = -1
    for (i <- toks.indices) {
      d += depthDelta(toks(i))
      if (d == 0 && asofIdx < 0 && up(toks(i)) == "ASOF") asofIdx = i
    }
    if (asofIdx < 0) return toks
    val c = splitClauses(toks).getOrElse(return toks)
    // parse:  FROM <left> <lalias> ASOF [LEFT] JOIN <right> <ralias> ON <cond>
    val leftToks = toks.slice(c.fromIdx + 1, asofIdx)
    var j = nextNonWs(toks, asofIdx)
    if (j >= toks.length) return toks // trailing ASOF (table aliased 'asof')
    val isLeftJoin = up(toks(j)) == "LEFT"
    if (isLeftJoin) j = nextNonWs(toks, j)
    if (j >= toks.length || up(toks(j)) != "JOIN") return toks
    val onIdx = {
      var k = j; var dd = 0
      var found = -1
      while (k < toks.length && found < 0) {
        dd += depthDelta(toks(k))
        if (dd == 0 && up(toks(k)) == "ON") found = k
        k += 1
      }
      found
    }
    if (onIdx < 0) return toks
    val rightToks = toks.slice(j + 1, onIdx)
    val condEnd = Seq(c.whereIdx, c.groupIdx, c.orderIdx, c.limitIdx)
      .filter(_ > onIdx).minOption.getOrElse(toks.length)
    val condToks = toks.slice(onIdx + 1, condEnd)

    // alias = last bare ident of the ref (skip AS)
    def aliasOf(ref: Vector[Tok]): String = {
      val nw = ref.filterNot(isWs).filterNot(t => up(t) == "AS")
      nw.lastOption.collect { case id: Ident => id.text }.getOrElse("")
    }
    def srcOf(ref: Vector[Tok]): String = {
      val nw = ref.filterNot(isWs).filterNot(t => up(t) == "AS")
      if (nw.length <= 1) render(ref).trim
      else render(ref).trim.stripSuffix(nw.last.text).trim
    }
    val la = aliasOf(leftToks); val ra = aliasOf(rightToks)
    val lsrc = srcOf(leftToks); val rsrc = srcOf(rightToks)
    if (la.isEmpty || ra.isEmpty) return toks

    // find the single top-level inequality conjunct → ordering expression
    val conjs = {
      val out = Vector.newBuilder[Vector[Tok]]
      var cur = Vector.newBuilder[Tok]
      var dd = 0
      for (t <- condToks) {
        dd += depthDelta(t)
        if (dd == 0 && up(t) == "AND") { out += cur.result(); cur = Vector.newBuilder[Tok] }
        else cur += t
      }
      out += cur.result()
      out.result()
    }
    val ineqOps = Set("<=", "<", ">=", ">")
    val ineq = conjs.find(_.exists { case Punct(op) => ineqOps(op); case _ => false })
      .getOrElse(return toks)
    val opIdx = ineq.indexWhere { case Punct(op) => ineqOps(op); case _ => false }
    val lhs = ineq.take(opIdx); val rhs = ineq.drop(opIdx + 1)
    val op = ineq(opIdx).text
    def refersTo(ts: Vector[Tok], alias: String) = {
      val nw = ts.filterNot(isWs)
      nw.zipWithIndex.exists { case (t, k) =>
        t.isInstanceOf[Ident] && t.text.equalsIgnoreCase(alias) &&
          k + 1 < nw.length && nw(k + 1) == Punct(".")
      }
    }
    // normalize to (rightExpr OP' leftExpr): the right-side expression orders the pick
    val (rexpr, effOp) =
      if (refersTo(lhs, ra) && !refersTo(lhs, la)) (render(lhs).trim, op)
      else if (refersTo(rhs, ra) && !refersTo(rhs, la))
        (render(rhs).trim, op match { case "<=" => ">="; case "<" => ">"; case ">=" => "<="; case ">" => "<" })
      else return toks
    val dir = if (effOp == "<=" || effOp == "<") "DESC" else "ASC"

    val selectList = splitTopLevel(toks.slice(c.selectIdx + 1, c.fromIdx))
    val names = selectList.map(itemName)
    if (names.exists(_.isEmpty)) return toks
    val outNames = names.flatten.mkString(", ")
    val innerSel = render(toks.slice(c.selectIdx + 1, c.fromIdx)).trim
    val tail = {
      val tailStart = Seq(c.whereIdx, c.groupIdx, c.orderIdx, c.limitIdx)
        .filter(_ > onIdx).minOption.getOrElse(toks.length)
      // strip la./ra. qualifiers in the tail (outer query has no such aliases)
      val t = toks.slice(tailStart, toks.length)
      val out = ArrayBuffer[Tok]()
      var k = 0
      while (k < t.length) {
        val isQual = t(k).isInstanceOf[Ident] &&
          (t(k).text.equalsIgnoreCase(la) || t(k).text.equalsIgnoreCase(ra)) && {
            val nn = nextNonWs(t, k); nn < t.length && t(nn) == Punct(".")
          }
        if (isQual) k = nextNonWs(t, k) + 1 // skip alias and dot
        else { out += t(k); k += 1 }
      }
      val stripped = out.toVector
      // a WHERE tail must merge into the rewrite's own `WHERE rn = 1`, not
      // produce a second WHERE clause
      val firstIdx = stripped.indexWhere(!isWs(_))
      if (firstIdx >= 0 && up(stripped(firstIdx)) == "WHERE") {
        var d2 = 0
        var predEnd = stripped.length
        for (i <- stripped.indices) {
          d2 += depthDelta(stripped(i))
          if (d2 == 0 && i > firstIdx && predEnd == stripped.length &&
            Set("GROUP", "ORDER", "LIMIT", "OFFSET").contains(up(stripped(i))))
            predEnd = i
        }
        val pred = render(stripped.slice(firstIdx + 1, predEnd)).trim
        val rest = render(stripped.slice(predEnd, stripped.length)).trim
        s"AND ( $pred ) $rest".trim
      } else render(stripped).trim
    }
    val joinKw = if (isLeftJoin) "LEFT JOIN" else "JOIN"
    // tokens before SELECT (a WITH-CTE prefix) must survive the rebuild
    val prefix = {
      val p = render(toks.take(c.selectIdx)).trim
      if (p.isEmpty) "" else p + " "
    }
    val sql =
      s"${prefix}SELECT $outNames FROM (" +
        s"SELECT $innerSel, row_number() OVER (PARTITION BY $la.__graft_asof_id ORDER BY $rexpr $dir) AS __graft_asof_rn " +
        s"FROM (SELECT *, monotonically_increasing_id() AS __graft_asof_id FROM $lsrc) $la " +
        s"$joinKw $rsrc $ra ON ${render(condToks).trim}" +
        s") __graft_a WHERE __graft_asof_rn = 1 $tail"
    lex(sql)
  }
}
