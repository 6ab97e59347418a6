package graft.dialect

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style tests (SURVEY §5.2 item 2): lexer losslessness, sanitizer
  * behavior under randomized FORMAT placements, rewrite idempotence,
  * msgpack round-trips. Seeded generators (offline cache has no
  * scalatest/scalacheck bridge artifact, so generation is hand-rolled). */
class DialectPropertySpec extends AnyFunSuite {

  private val rnd = new Random(20260812)

  private val fragments = Vector("SELECT", "FROM", "WHERE", "count()", "x", "t",
    ",", "(", ")", "'a b'", "'it''s'", "\"quoted id\"", "1.5e3", "42", "<=",
    "->", "--c\n", "/*block*/", ";", "[1,2]", "{'k':1}", "abc", "Z9")

  private def sqlFragment(): String =
    Seq.fill(rnd.nextInt(12))(fragments(rnd.nextInt(fragments.length))).mkString(" ")

  test("lexer render∘lex is lossless on random SQL-ish text") {
    (1 to 500).foreach { _ =>
      val s = sqlFragment()
      assert(Lexer.render(Lexer.lex(s)) == s)
    }
  }

  test("lexer is lossless on the whole declared query corpus") {
    graft.DeclaredQueries.all.foreach { case (_, sql) =>
      assert(Lexer.render(Lexer.lex(sql)) == sql)
    }
  }

  test("stripFormat removes only a trailing FORMAT, never strings") {
    val formats = Vector("JSONCompact", "JSON", "CSV", "TSV", "JSONEachRow")
    (1 to 200).foreach { _ =>
      val body = sqlFragment().replace(";", " ")
      val fmt = formats(rnd.nextInt(formats.length))
      val sql = s"SELECT 'FORMAT CSV' AS s FROM t $body"
      val (stripped, f) = Sanitizer.stripFormat(s"$sql FORMAT $fmt")
      assert(f.contains(fmt))
      assert(stripped.startsWith("SELECT 'FORMAT CSV' AS s"))
      assert(!stripped.endsWith(s"FORMAT $fmt"))
    }
  }

  test("splitStatements never splits inside strings or parens") {
    (1 to 100).foreach { _ =>
      val n = 1 + rnd.nextInt(5)
      val stmts = (1 to n).map(i => s"SELECT ';' AS s$i, (1) AS p")
      assert(Sanitizer.splitStatements(stmts.mkString("; ")) == stmts)
    }
  }

  test("translation is idempotent over the declared corpus") {
    graft.DeclaredQueries.all.foreach { case (name, sql) =>
      val once = Translator.sparkSql(sql)
      val twice = Translator.sparkSql(once)
      assert(twice == once, s"$name not idempotent:\n once=$once\n twice=$twice")
    }
    // call rewrites whose output holds a name their own or another rule
    // matches: each translation ends, gives the pinned text, and holds
    val pinned = Seq(
      "SELECT string_split(x, '.') FROM t" -> """SELECT split(x, '\.') FROM t""",
      "SELECT regexp_replace(s, 'a', 'b', 'g') FROM t" -> "SELECT regexp_replace(s, 'a', 'b', 1) FROM t",
      "SELECT regexp_replace(s, 'a', 'b') FROM t" -> "SELECT regexp_replace_first(s, 'a', 'b') FROM t",
      "SELECT regexp_matches(s, '[[:foo:]]') FROM t" -> "SELECT rlike(s, '[[:foo:]]') FROM t",
      "SELECT array_agg(x ORDER BY k DESC) FROM t" ->
        ("SELECT transform(reverse(graft_list_sort(collect_list(named_struct('kn', (k) IS NOT NULL, " +
          "'k', (k), 'v', (x))), false, false)), __g_s -> __g_s.v) FROM t"),
      "SELECT list_sum([1, NULL])" ->
        ("SELECT (CASE WHEN size(filter((array(1, NULL)), __g_n -> __g_n IS NOT NULL)) = 0 " +
          "THEN CAST(NULL AS DOUBLE) ELSE aggregate(filter((array(1, NULL)), __g_n -> __g_n IS NOT NULL), " +
          "CAST(0 AS DOUBLE), (__g_acc, __g_v) -> __g_acc + CAST(__g_v AS DOUBLE)) END)"))
    pinned.foreach { case (sql, want) =>
      val once = scala.concurrent.Await.result(
        scala.concurrent.Future(Translator.sparkSql(sql))(scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration(30, "s"))
      assert(once == want, sql)
      assert(Translator.sparkSql(once) == once, sql)
    }
  }

  test("translate time grows linearly with statement size") {
    val q196 = graft.DeclaredQueries.all.collectFirst {
      case (name, sql) if name.startsWith("q196_") => sql
    }.get
    def minOf3(sql: String): Long = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); Translator.translate(sql); System.nanoTime() - t0
    }.min
    val x4 = Seq.fill(4)(q196).mkString(" UNION ALL ")
    Translator.translate(q196); Translator.translate(x4) // warm-up
    val (t1, t4) = (minOf3(q196), minOf3(x4))
    assert(t4 <= 10 * t1, s"x1 ${t1 / 1000} us, x4 ${t4 / 1000} us")
  }

  test("msgpack pack∘unpack round-trips random values") {
    import graft.flight.Msgpack._
    def leaf(): Value = rnd.nextInt(6) match {
      case 0 => Nil
      case 1 => Bool(rnd.nextBoolean())
      case 2 => Num(rnd.nextLong())
      case 3 => Str(rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
      case 4 => Dbl(rnd.nextDouble() * 1e6 - 5e5)
      case 5 => Bin(Array.fill(rnd.nextInt(20))(rnd.nextInt().toByte))
    }
    def norm(x: Value): Any = x match {
      case Bin(b) => ("bin", b.toSeq)
      case Arr(items) => ("arr", items.map(norm))
      case MapV(kvs) => ("map", kvs.map { case (k, v) => (norm(k), norm(v)) })
      case other => other
    }
    (1 to 300).foreach { _ =>
      val v = MapV(Seq(
        (Str("arr"): Value) -> Arr(Seq.fill(rnd.nextInt(5))(leaf())),
        (Str("leaf"): Value) -> leaf(),
        (Str(rnd.alphanumeric.take(5).mkString): Value) -> leaf()))
      assert(norm(unpack(pack(v))) == norm(v))
    }
  }

  test("long strings and big collections use the wider msgpack headers") {
    import graft.flight.Msgpack._
    val bigStr = Str("x" * 300)
    val bigArr = Arr(Seq.fill(40)(Num(1)))
    val bigMap = MapV((1 to 20).map(i => (Str(s"k$i"): Value, Num(i.toLong))))
    val bigBin = Bin(Array.fill(300)(7.toByte))
    def norm(x: Value): Any = x match {
      case Bin(b) => ("bin", b.toSeq)
      case Arr(items) => ("arr", items.toList.map(norm))
      case MapV(kvs) => ("map", kvs.toList.map { case (k, v) => (norm(k), norm(v)) })
      case other => other
    }
    Seq[Value](bigStr, bigArr, bigMap, bigBin).foreach { v =>
      assert(norm(unpack(pack(v))) == norm(v))
    }
  }
}
