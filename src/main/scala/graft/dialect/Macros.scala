package graft.dialect

import org.apache.spark.sql.SparkSession
import Lexer._

/** DuckDB `CREATE MACRO` support (scalar and table macros).
  *
  * The reference passes `CREATE MACRO f(x) AS x + 1` to DuckDB unmodified
  * (`/root/reference/main.py:231`); Spark SQL has no SQL-defined scalar
  * functions usable this way, so the dialect layer keeps a per-session
  * macro registry and expands calls textually (token-level, quote-aware)
  * before translation:
  *
  *   CREATE [OR REPLACE] MACRO add_tax(p, rate := 0.07) AS p * (1 + rate)
  *   SELECT add_tax(o_totalprice) ...   →   SELECT ((o_totalprice) * (1 + (0.07))) ...
  *
  * Call-site binding mirrors DuckDB: positional arguments fill parameters
  * left to right, and `param := value` named arguments bind by name (the
  * only way DuckDB lets a call override a defaulted parameter — positional
  * overriding is a Binder Error there; we accept it as a documented
  * lenience). Overloads by arity use the DuckDB ≥1.1 syntax of
  * comma-separated signature groups in ONE statement —
  * `CREATE MACRO add_x (a) AS a + 1, (a, b) AS a + b` — dispatched at the
  * call site by the first signature (declaration order) the arguments
  * satisfy. Every substituted argument and the whole body are
  * parenthesized, so operator precedence survives textual expansion.
  * Macros may call macros (expansion iterates to a fixpoint, depth-capped
  * against recursion). Table macros (`AS TABLE SELECT …`) store the bare
  * SELECT; expansion parenthesizes it, a valid FROM-position subquery in
  * both engines — parameter defaults compose (`FROM firstn()`). Registry
  * scope is the SparkSession, mirroring DuckDB's per-connection catalog of
  * temp macros.
  */
object Macros {

  final case class Macro(params: Seq[String], defaults: Map[String, String], body: String)

  private val registry: java.util.Map[SparkSession, Map[String, Seq[Macro]]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Map[String, Seq[Macro]]]())

  private val createRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP\s+|TEMPORARY\s+)?MACRO\s+([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)""".r
  private val dropRe =
    """(?is)\s*DROP\s+MACRO\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*""".r

  private def parseParams(toks: Vector[Tok], sql: String): (Seq[String], Map[String, String]) = {
    val params = scala.collection.mutable.ArrayBuffer[String]()
    val defaults = scala.collection.mutable.Map[String, String]()
    splitTopLevel(toks, nested = true).filter(_.exists(!_.isInstanceOf[Ws])).foreach { p =>
      val nw = p.filterNot(_.isInstanceOf[Ws])
      nw.head match {
        case id: Ident =>
          params += id.text.toLowerCase
          if (nw.length >= 2 && nw(1) == Punct(":=")) {
            val eq = p.indexWhere(_ == Punct(":="))
            defaults(id.text.toLowerCase) = render(p.drop(eq + 1)).trim
          }
        case other => throw new IllegalArgumentException(s"bad macro param: ${other.text} in $sql")
      }
    }
    (params.toSeq, defaults.toMap)
  }

  /** True when `toks` reads as a macro parameter list: comma-separated
    * bare identifiers, each optionally `:= default`, or empty. */
  private def looksLikeParamList(toks: Vector[Tok]): Boolean =
    splitTopLevel(toks, nested = true).forall { g =>
      val nw = g.filterNot(_.isInstanceOf[Ws])
      nw.isEmpty || (nw.head.isInstanceOf[Ident] &&
        (nw.length == 1 || nw(1) == Punct(":=")))
    }

  /** A top-level comma at `i` separates scalar-macro overloads iff it is
    * followed by `( param-list ) AS`. The param-list shape check matters:
    * `SELECT 1 AS a, (x + 1) AS b` has the same `, ( … ) AS` silhouette
    * but `(x + 1)` is not a parameter list. Table-macro bodies are never
    * split (see tryDdl). */
  private def isOverloadBoundary(toks: Vector[Tok], i: Int): Boolean = {
    val open = nextNonWs(toks, i)
    if (open >= toks.length || toks(open) != Punct("(")) return false
    val close = matchParen(toks, open)
    if (toks(close) != Punct(")")) return false
    val k = nextNonWs(toks, close)
    k < toks.length && (toks(k) match {
      case id: Ident => id.upper == "AS"
      case _ => false
    }) && looksLikeParamList(toks.slice(open + 1, close))
  }

  /** If `sql` is CREATE/DROP MACRO, apply it to the session registry and
    * return true (the caller returns an empty result, as DuckDB does). */
  def tryDdl(spark: SparkSession, sql: String): Boolean = routeText(sql) match {
    case createRe(name, rest) =>
      val toks = lex("(" + rest)
      val overloads = scala.collection.mutable.ArrayBuffer[Macro]()
      var pos = 0
      while (pos < toks.length) {
        pos = nextNonWs(toks, pos - 1)
        require(pos < toks.length && toks(pos) == Punct("("),
          s"malformed CREATE MACRO: $sql")
        val close = matchParen(toks, pos)
        require(toks(close) == Punct(")"), s"malformed CREATE MACRO: $sql")
        val (params, defaults) = parseParams(toks.slice(pos + 1, close), sql)
        var k = nextNonWs(toks, close)
        require(k < toks.length && (toks(k) match {
          case id: Ident => id.upper == "AS"; case _ => false
        }), s"CREATE MACRO signature not followed by AS: $sql")
        k = nextNonWs(toks, k)
        val isTable = k < toks.length && (toks(k) match {
          case id: Ident => id.upper == "TABLE"; case _ => false
        })
        if (isTable) k = nextNonWs(toks, k)
        // Scalar body extends to the next overload boundary or the end.
        // A TABLE body is greedy to the end: a SELECT list is full of
        // `, (col) AS alias` items indistinguishable from a signature, so
        // overloads are a scalar-macro feature (as DuckDB's expression
        // grammar makes the separating comma unambiguous only there).
        var d = 0; var i = k; var end = toks.length
        while (!isTable && i < toks.length && end == toks.length) {
          d += depthDelta(toks(i), nested = true)
          if (d == 0 && toks(i) == Punct(",") && isOverloadBoundary(toks, i)) end = i
          i += 1
        }
        val body = render(toks.slice(k, end)).trim.stripSuffix(";").trim
        require(body.nonEmpty, s"CREATE MACRO has no body: $sql")
        overloads += Macro(params, defaults, body)
        pos = if (end < toks.length) end + 1 else toks.length
      }
      registry.synchronized {
        val cur = Option(registry.get(spark)).getOrElse(Map.empty)
        registry.put(spark, cur + (name.toLowerCase -> overloads.toSeq))
      }
      true
    case dropRe(name) =>
      registry.synchronized {
        val cur = Option(registry.get(spark)).getOrElse(Map.empty)
        registry.put(spark, cur - name.toLowerCase)
      }
      true
    case _ => false
  }

  /** Expand macro calls in `sql` against the session registry (leftmost
    * call first, iterated to a fixpoint, depth-capped against recursive
    * macros). No-op when the session has no macros. */
  def expand(spark: SparkSession, sql: String): String = {
    val macros = Option(registry.get(spark)).getOrElse(Map.empty)
    if (macros.isEmpty) return sql
    var out = sql
    var steps = 0
    var rewritten = expandOnce(lex(out), macros)
    // expandOnce rewrites ONE leftmost call per step, so the step cap must
    // comfortably exceed any legitimate call-site count (a wide projection
    // can invoke a macro hundreds of times); the length cap catches
    // recursive macros early — their expansion grows without bound.
    while (rewritten != null && steps < 2000 && out.length <= 500000) {
      out = rewritten
      steps += 1
      rewritten = expandOnce(lex(out), macros)
    }
    // A non-null rewrite at either cap means the fixpoint was never
    // reached (self/mutually-recursive macros). Surface the error rather
    // than passing half-expanded SQL to the translator (DuckDB errors on
    // recursive macros at CREATE time; we detect at expansion).
    if (rewritten != null)
      throw new IllegalArgumentException(
        s"macro expansion did not reach a fixpoint after $steps steps " +
          s"(${out.length} chars) — recursive macro? SQL: ${sql.take(200)}")
    out
  }

  /** One leftmost macro-call expansion; null when nothing expanded. */
  private def expandOnce(toks: Vector[Tok], macros: Map[String, Seq[Macro]]): String = {
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case id: Ident if macros.contains(id.text.toLowerCase) => {
          val open = nextNonWs(toks, i)
          if (open < toks.length && toks(open) == Punct("(")) {
            val found = matchParen(toks, open)
            if (toks(found) == Punct(")")) {
              // split call args into positional and `name := value` named
              val argGroups = splitTopLevel(toks.slice(open + 1, found), nested = true)
                .filter(_.exists(!_.isInstanceOf[Ws]))
              val positional = scala.collection.mutable.ArrayBuffer[String]()
              val named = scala.collection.mutable.Map[String, String]()
              argGroups.foreach { g =>
                val nw = g.filterNot(_.isInstanceOf[Ws])
                if (nw.length >= 2 && nw.head.isInstanceOf[Ident] && nw(1) == Punct(":=")) {
                  val eq = g.indexWhere(_ == Punct(":="))
                  named(nw.head.asInstanceOf[Ident].text.toLowerCase) =
                    render(g.drop(eq + 1)).trim
                } else positional += render(g).trim
              }
              // first overload (declaration order) the call satisfies:
              // positional fill left-to-right, named bind by name, the
              // rest must have defaults; no name may double-bind
              val cand = macros(id.text.toLowerCase).find { m =>
                positional.length <= m.params.length &&
                  named.keys.forall(m.params.contains) &&
                  m.params.take(positional.length).forall(p => !named.contains(p)) &&
                  m.params.zipWithIndex.forall { case (p, k) =>
                    k < positional.length || named.contains(p) || m.defaults.contains(p)
                  }
              }
              cand match {
                case Some(m) =>
                  val bound = m.params.zipWithIndex.map { case (p, k) =>
                    p -> (if (k < positional.length) positional(k)
                          else named.getOrElse(p, m.defaults(p)))
                  }.toMap
                  // Substitute param identifiers, but never one that is
                  // dot-qualified (t.x where x is a param is a column of t,
                  // not the macro argument — substituting would corrupt it).
                  // A param BEFORE a dot (x.field) stays substitutable:
                  // struct-field access on the argument is legitimate.
                  val bts = lex(m.body)
                  def afterDot(k: Int): Boolean = {
                    val p = prevNonWs(bts, k)
                    p >= 0 && bts(p) == Punct(".")
                  }
                  val bodyToks = bts.zipWithIndex.map {
                    case (pid: Ident, k)
                        if bound.contains(pid.text.toLowerCase) && !afterDot(k) =>
                      Ident("(" + bound(pid.text.toLowerCase) + ")")
                    case (t, _) => t
                  }
                  val repl = "(" + render(bodyToks) + ")"
                  return render(toks.slice(0, i)) + repl +
                    render(toks.slice(found + 1, toks.length))
                case None => // no overload fits: leave the call for Spark
              }
            }
          }
        }
        case _ =>
      }
      i += 1
    }
    null
  }
}
