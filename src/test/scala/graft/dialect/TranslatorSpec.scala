package graft.dialect

import org.scalatest.funsuite.AnyFunSuite

class TranslatorSpec extends AnyFunSuite {
  private def t(sql: String): String = Translator.sparkSql(sql)

  test("FORMAT suffix is stripped and reported") {
    val tr = Translator.translate("SELECT 1 FORMAT JSONCompact")
    assert(tr.sql == "SELECT 1")
    assert(tr.format.contains("JSONCompact"))
  }

  test("FORMAT inside a string literal is untouched") {
    val tr = Translator.translate("SELECT 'FORMAT JSON' AS s")
    assert(tr.sql.contains("'FORMAT JSON'"))
    assert(tr.format.isEmpty)
  }

  test("zero-arg count() becomes count(*)") {
    assert(t("SELECT count() FROM t").contains("count(*)"))
  }

  test("count() inside string untouched") {
    assert(t("SELECT 'count()' FROM t").contains("'count()'"))
  }

  test("trailing comma before FROM dropped") {
    assert(t("SELECT a, count() AS c, FROM t") == "SELECT a, count(*) AS c FROM t")
  }

  test("read_parquet becomes parquet.`path` with function-name alias") {
    val s = t("SELECT read_parquet.x FROM read_parquet('/d/f.parquet')")
    assert(s.contains("parquet.`/d/f.parquet` AS read_parquet"))
  }

  test("read_parquet keeps explicit alias") {
    val s = t("SELECT r.x FROM read_parquet('/d/f.parquet') r")
    assert(s.contains("parquet.`/d/f.parquet` r"))
    assert(!s.contains("AS read_parquet"))
  }

  test("read_csv_auto registers a view") {
    val tr = Translator.translate("SELECT * FROM read_csv_auto('/d/f.csv')")
    assert(tr.views.nonEmpty)
    assert(tr.views.head.format == "csv")
    assert(tr.sql.contains(s"${tr.views.head.name} AS read_csv_auto"))
  }

  test("bare quoted file path as table") {
    assert(t("SELECT count(*) FROM '/d/f.parquet'").contains("parquet.`/d/f.parquet`"))
    assert(t("""SELECT 1 FROM "/d/f.csv"""").contains("csv.`/d/f.csv`"))
  }

  test("array literal becomes array(); subscript becomes try_element_at (round 4)") {
    assert(t("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)")
    assert(t("SELECT x[1] FROM t") == "SELECT try_element_at(x, 1) FROM t")
  }

  test("struct literal becomes named_struct") {
    assert(t("SELECT {'a': 1, 'b': 'x'} AS s") == "SELECT named_struct('a', 1, 'b', 'x') AS s")
  }

  test("MAP literal becomes map()") {
    assert(t("SELECT MAP {'k': 'v'}") == "SELECT map('k', 'v')")
  }

  test("ClickHouse toX() functions become casts") {
    assert(t("SELECT toString(x)") == "SELECT CAST(x AS STRING)")
    assert(t("SELECT toInt32(x + 1)") == "SELECT CAST(x + 1 AS INT)")
    // r6: unsigned family widens to the next signed type that holds the
    // full range; toUInt64 needs DECIMAL(20,0)
    assert(t("SELECT toUInt8(x)") == "SELECT CAST(x AS SMALLINT)")
    assert(t("SELECT toUInt32(x)") == "SELECT CAST(x AS BIGINT)")
    assert(t("SELECT toUInt64(x)") == "SELECT CAST(x AS DECIMAL(20,0))")
  }

  test("ClickHouse intDiv/modulo/empty/notEmpty and *UTF8 aliases") {
    assert(t("SELECT intDiv(a, b + 1)") == "SELECT ((a) DIV (b + 1))")
    assert(t("SELECT modulo(a, 3)") == "SELECT ((a) % (3))")
    assert(t("SELECT empty(s)") == "SELECT (graft_len(s) = 0)")
    assert(t("SELECT notEmpty(s)") == "SELECT (graft_len(s) <> 0)")
    // r7 (ADVICE): empty/notEmpty on a syntactic collection expression
    // dispatches to size() (Spark's length() rejects arrays/maps)
    assert(t("SELECT empty([1, 2])") == "SELECT (size(array(1, 2)) = 0)")
    assert(t("SELECT notEmpty(map('k', 'v'))") ==
      "SELECT (size(map('k', 'v')) <> 0)")
    assert(t("SELECT lengthUTF8(s), lowerUTF8(s), upperUTF8(s)") ==
      "SELECT length(s), lower(s), upper(s)")
    assert(t("SELECT substringUTF8(s, 1, 4)") == "SELECT substr(s, 1, 4)")
  }

  test("r7 widening: generate_subscripts, struct_extract, array_slice, printf, from_hex") {
    assert(t("SELECT generate_subscripts(xs, 1) AS i FROM t") ==
      "SELECT explode(sequence(1, size(xs))) AS i FROM t")
    // dim != 1 errors in DuckDB (1-D lists only) — stays untouched, loud
    assert(t("SELECT generate_subscripts(xs, 2) FROM t").contains("generate_subscripts"))
    assert(t("SELECT struct_extract(s, 'a') FROM t") == "SELECT ((s).a) FROM t")
    // dynamic / exotic field names stay untouched (no Spark spelling)
    assert(t("SELECT struct_extract(s, f) FROM t").contains("struct_extract"))
    assert(t("SELECT array_slice(xs, 2, 3)") == t("SELECT list_slice(xs, 2, 3)"))
    assert(t("SELECT printf('%s-%03d', a, b)") == "SELECT format_string('%s-%03d', a, b)")
    assert(t("SELECT from_hex('ff')") == "SELECT unhex('ff')")
  }

  test("function renames: random, json_extract_string, 1-arg log") {
    assert(t("SELECT random()").contains("rand()"))
    assert(t("SELECT json_extract_string(j, '$.k')").contains("get_json_object"))
    assert(t("SELECT log(x)").contains("log10(x)"))
    assert(t("SELECT log(2, x)").contains("log(2, x)"))
  }

  test("VARCHAR cast becomes STRING") {
    assert(t("SELECT CAST(x AS VARCHAR)").contains("AS STRING"))
    assert(t("SELECT CAST(x AS VARCHAR(10))").contains("VARCHAR(10)"))
  }

  test("NULLS LAST injected per DuckDB default, explicit spec kept") {
    assert(t("SELECT a FROM t ORDER BY a") == "SELECT a FROM t ORDER BY a NULLS LAST")
    assert(t("SELECT a FROM t ORDER BY a DESC NULLS FIRST")
      == "SELECT a FROM t ORDER BY a DESC NULLS FIRST")
    assert(t("SELECT a FROM t ORDER BY a LIMIT 5")
      == "SELECT a FROM t ORDER BY a NULLS LAST LIMIT 5")
  }

  test("NULLS LAST injected inside OVER clauses") {
    val s = t("SELECT row_number() OVER (PARTITION BY k ORDER BY v) FROM t")
    assert(s.contains("ORDER BY v NULLS LAST)"))
  }

  test("QUALIFY rewritten to subquery filter") {
    val s = t("SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a")
    assert(s.contains("__graft_qualify"))
    assert(s.startsWith("SELECT a, b FROM ("))
  }

  test("DISTINCT ON rewritten to row_number pick") {
    val s = t("SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v")
    assert(s.contains("row_number() OVER (PARTITION BY k ORDER BY k NULLS LAST, v NULLS LAST)"))
    assert(s.contains("__graft_rn = 1"))
  }

  test("ASOF JOIN rewritten to windowed range join") {
    val s = t("SELECT e.id, o.ts FROM ev e ASOF JOIN ord o ON o.k = e.k AND o.ts <= e.ts")
    assert(s.contains("monotonically_increasing_id()"))
    assert(s.contains("ORDER BY o.ts DESC"))
    assert(s.contains("__graft_asof_rn = 1"))
  }

  test("ASOF JOIN >= direction orders ASC") {
    val s = t("SELECT e.id, o.ts FROM ev e ASOF JOIN ord o ON o.k = e.k AND o.ts >= e.ts")
    assert(s.contains("ORDER BY o.ts ASC"))
  }

  test("QUALIFY inside a subquery is rewritten too") {
    val s = t("SELECT * FROM (SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1) x WHERE b > 0")
    assert(s.contains("__graft_qualify"))
    assert(s.startsWith("SELECT * FROM ("))
    assert(s.endsWith("WHERE b > 0"))
  }

  test("DISTINCT ON inside a subquery is rewritten") {
    val s = t("SELECT count(*) AS c FROM (SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v) d")
    assert(s.contains("__graft_rn = 1"))
    assert(s.startsWith("SELECT count(*) AS c FROM ("))
  }

  test("WITH-CTE prefix survives QUALIFY rewrite") {
    val s = t("WITH c AS (SELECT a, b FROM t) SELECT a, b FROM c QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a")
    assert(s.startsWith("WITH c AS (SELECT a, b FROM t) SELECT"))
    assert(s.contains("__graft_qualify"))
  }

  test("WITH-CTE prefix survives DISTINCT ON rewrite") {
    val s = t("WITH c AS (SELECT k, v FROM t) SELECT DISTINCT ON (k) k, v FROM c ORDER BY k, v")
    assert(s.startsWith("WITH c AS (SELECT k, v FROM t) SELECT"))
    assert(s.contains("__graft_rn = 1"))
  }

  test("WITH-CTE prefix survives ASOF rewrite") {
    val s = t("WITH ev AS (SELECT id, k, ts FROM raw) SELECT e.id, o.ts FROM ev e ASOF JOIN ord o ON o.k = e.k AND o.ts <= e.ts")
    assert(s.startsWith("WITH ev AS (SELECT id, k, ts FROM raw) SELECT"))
    assert(s.contains("__graft_asof_rn = 1"))
  }

  test("read_csv_auto view names are path-derived, not positional") {
    val t1 = Translator.translate("SELECT * FROM read_csv_auto('/a/one.csv')")
    val t2 = Translator.translate("SELECT * FROM read_csv_auto('/b/two.csv')")
    val t1b = Translator.translate("SELECT * FROM read_csv_auto('/a/one.csv')")
    assert(t1.views.head.name != t2.views.head.name) // different files never collide
    assert(t1.views.head.name == t1b.views.head.name) // same file is stable
  }

  test("quantile family maps to percentile forms") {
    assert(t("SELECT quantile_cont(x, 0.5) FROM t").contains("percentile(x, 0.5)"))
    assert(t("SELECT quantile(x, 0.9) FROM t").contains("percentile_approx(x, 0.9)"))
  }

  test("ClickHouse formatDateTime and splitByChar map to Spark forms") {
    val f = t("SELECT formatDateTime(ts, '%Y-%m') AS m FROM t")
    assert(f.contains("date_format(ts,"))
    assert(!f.toLowerCase.contains("formatdatetime"))
    val s = t("SELECT splitByChar(',', csv) AS parts FROM t")
    assert(s.contains("split(csv,"))
  }

  test("a table aliased 'asof' does not crash the asof machinery") {
    assert(Translator.asofMergeSpec("SELECT x FROM trades asof").isEmpty)
    assert(t("SELECT x FROM trades asof") == "SELECT x FROM trades asof")
    assert(Translator.asofMergeSpec("SELECT x FROM trades ASOF LEFT").isEmpty)
  }

  test("UNION BY NAME with duplicate right-branch names passes through untouched") {
    val s = t("SELECT a, b FROM t UNION ALL BY NAME SELECT 1 AS a, 2 AS a, 3 AS b")
    assert(s.contains("BY NAME")) // left for the engine to reject, not silently altered
  }

  test("UNION ALL BY NAME reorders the right branch to the left's name order") {
    val s = t("SELECT a, b FROM t UNION ALL BY NAME SELECT 4 AS b, 3 AS a")
    assert(s == "SELECT a, b FROM t UNION ALL SELECT 3 AS a, 4 AS b")
    val d = t("SELECT a, b FROM t UNION BY NAME SELECT b, a FROM u ORDER BY a")
    assert(d.startsWith("SELECT a, b FROM t UNION SELECT a, b FROM u ORDER BY a"))
    // FROM-less right branch with an ORDER BY tail (caught by live HTTP
    // drive): the select list must stop at ORDER BY
    val e = t("SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 40 AS b, 30 AS a ORDER BY a")
    assert(e.startsWith("SELECT 1 AS a, 2 AS b UNION ALL SELECT 30 AS a, 40 AS b ORDER BY a"))
  }

  test("SEMI/ANTI JOIN become LEFT SEMI/ANTI") {
    assert(t("SELECT * FROM a SEMI JOIN b ON a.x = b.x").contains("LEFT SEMI JOIN"))
    assert(t("SELECT * FROM a ANTI JOIN b ON a.x = b.x").contains("LEFT ANTI JOIN"))
  }

  test("unnest becomes explode") {
    assert(t("SELECT unnest([1,2]) AS u") == "SELECT explode(array(1,2)) AS u")
  }

  test("string_agg with ORDER BY becomes listagg WITHIN GROUP") {
    val s = t("SELECT string_agg(x, ',' ORDER BY x) FROM t GROUP BY k")
    assert(s.contains("listagg"))
    assert(s.contains("WITHIN GROUP"))
  }

  test("statement splitting is quote- and paren-aware") {
    val stmts = Sanitizer.splitStatements("SELECT ';' AS s; SELECT (1); SELECT 2")
    assert(stmts == Seq("SELECT ';' AS s", "SELECT (1)", "SELECT 2"))
  }

  test("catalog prefix strip is token-aware") {
    assert(Sanitizer.stripCatalogPrefix("SELECT * FROM deltalake.s.t", "deltalake")
      == "SELECT * FROM s.t")
    assert(Sanitizer.stripCatalogPrefix("SELECT 'deltalake.s.t'", "deltalake")
      == "SELECT 'deltalake.s.t'")
  }

  test("strftime pattern translation") {
    assert(Translator.strftimeToJava("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss")
  }

  test("strftime call renamed with pattern literal translated") {
    assert(t("SELECT strftime(ts, '%Y-%m')") == "SELECT date_format(ts, 'yyyy-MM')")
  }

  test("regexp_replace 'g' flag dropped (Spark is global by default)") {
    // 'g' → Spark's 4-arg position form (global from pos 1): a 3-arg output
    // would be demoted to first-match if re-translated (idempotence)
    assert(t("SELECT regexp_replace(s, 'a+', 'x', 'g')") == "SELECT regexp_replace(s, 'a+', 'x', 1)")
    // bare 3-arg DuckDB form is first-match-only → graft expression
    assert(t("SELECT regexp_replace(s, 'a+', 'x')") == "SELECT regexp_replace_first(s, 'a+', 'x')")
    // nested commas in args don't confuse the top-level arg count
    assert(t("SELECT regexp_replace(concat(a, b), 'a+', 'x')") ==
      "SELECT regexp_replace_first(concat_ws('', CAST((a) AS STRING), CAST((b) AS STRING)), 'a+', 'x')")
  }

  test("string_split literal separators are regex-quoted; arg_max/min renamed") {
    // '.' must not become match-any: regex-level escape (verbatim
    // literals since r10)
    assert(t("SELECT string_split(x, '.')") == "SELECT split(x, '\\.')")
    // plain-word separators stay readable
    assert(t("SELECT string_split(x, ' ')") == "SELECT split(x, ' ')")
    assert(t("SELECT arg_max(a, b), arg_min(a, b)") == "SELECT max_by(a, b), min_by(a, b)")
  }

  test("ORDER BY ALL keeps the keyword form (no NULLS LAST injection)") {
    assert(t("SELECT a, b FROM t ORDER BY ALL") == "SELECT a, b FROM t ORDER BY ALL")
    assert(t("SELECT a, b FROM t ORDER BY ALL DESC") == "SELECT a, b FROM t ORDER BY ALL DESC")
    // a real column still gets the injection
    assert(t("SELECT a FROM t ORDER BY a") == "SELECT a FROM t ORDER BY a NULLS LAST")
    // and a column literally named all_x is not confused with the keyword
    assert(t("SELECT all_x FROM t ORDER BY all_x") == "SELECT all_x FROM t ORDER BY all_x NULLS LAST")
  }

  test("USING SAMPLE, EXCLUDE, SHOW rewrites") {
    assert(t("SELECT * FROM t USING SAMPLE 10%") == "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(t("SELECT * FROM t USING SAMPLE 100 ROWS") == "SELECT * FROM t TABLESAMPLE (100 ROWS)")
    assert(t("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t")
    // SHOW family → the wide canned-flight shapes (see rewriteMisc)
    val tbls = t("SHOW ALL TABLES")
    assert(tbls.startsWith("SELECT table_name, table_schema AS schema_name"))
    assert(tbls.contains("graft_infoschema_tables"))
    assert(t("SHOW TABLES") == tbls)
    val dbs = t("SHOW DATABASES")
    assert(dbs.startsWith("SELECT catalog_name, schema_name"))
    assert(dbs.contains("graft_infoschema_schemata"))
  }

  test("date_part dow shifts to DuckDB's 0=Sunday; epoch family maps exactly") {
    assert(t("SELECT date_part('dow', d) FROM t") ==
      "SELECT graft_dow(d) FROM t")
    assert(t("SELECT date_part('year', d) FROM t") ==
      "SELECT extract(year FROM d) FROM t")
    // epoch() is FRACTIONAL seconds in DuckDB — unix_timestamp truncates
    assert(t("SELECT epoch(ts) FROM t") ==
      "SELECT (CAST(graft_epoch_us(ts) AS DOUBLE) / 1000000.0) FROM t")
    assert(t("SELECT epoch_ms(ts) FROM t") == "SELECT (graft_epoch_us(ts) DIV 1000) FROM t")
    assert(t("SELECT epoch_us(ts) FROM t") == "SELECT graft_epoch_us(ts) FROM t")
  }

  test("star REPLACE becomes EXCEPT plus appended aliases") {
    assert(t("SELECT * REPLACE (upper(a) AS a) FROM t") ==
      "SELECT * EXCEPT (a), graft_upper(a) AS a FROM t")
    assert(t("SELECT * REPLACE (a + 1 AS a, lower(b) AS b) FROM t WHERE c > 0") ==
      "SELECT * EXCEPT (a, b), a + 1 AS a, graft_lower(b) AS b FROM t WHERE c > 0")
    // the scalar function replace(s, x, y) is untouched
    assert(t("SELECT replace(s, 'a', 'b') FROM t") ==
      "SELECT replace(s, 'a', 'b') FROM t")
  }

  test("list_sum / list_avg become aggregate() lambdas") {
    // r8: NULL elements are skipped and the empty/all-NULL list is NULL
    val s = t("SELECT list_sum(xs) FROM t")
    assert(s.contains("aggregate(filter((xs), __g_n -> __g_n IS NOT NULL), CAST(0 AS DOUBLE)"))
    assert(s.contains("__g_acc + CAST(__g_v AS DOUBLE)"))
    assert(s.contains("CASE WHEN size(filter((xs), __g_n -> __g_n IS NOT NULL)) = 0 THEN CAST(NULL AS DOUBLE)"))
    val a = t("SELECT list_avg(xs) FROM t")
    assert(a.contains("try_divide(aggregate(filter((xs), __g_n -> __g_n IS NOT NULL)"))
    assert(a.contains(", size(filter((xs), __g_n -> __g_n IS NOT NULL))))"))
    // nested argument survives (inner rewritten too)
    val n = t("SELECT list_sum(list_transform(xs, x -> x * 2)) FROM t")
    assert(n.contains("aggregate(filter((transform(xs, x -> x * 2))"))
  }

  test("date_diff / date_part / epoch mappings") {
    assert(t("SELECT date_diff('day', a, b)") == "SELECT datediff(b, a)")
    assert(t("SELECT date_part('year', ts)") == "SELECT extract(year FROM ts)")
    assert(t("SELECT epoch(ts)") == "SELECT (CAST(graft_epoch_us(ts) AS DOUBLE) / 1000000.0)")
    // 2-arg Spark-native datediff untouched
    assert(t("SELECT datediff(b, a)") == "SELECT datediff(b, a)")
  }

  test("ATTACH becomes CREATE DATABASE; USE passes through") {
    assert(t("ATTACH '/tmp/file.db' AS mydb") == "CREATE DATABASE IF NOT EXISTS `mydb`")
    assert(t("ATTACH ':memory:' AS x (TYPE DUCKDB)") == "CREATE DATABASE IF NOT EXISTS `x`")
    assert(t("USE mydb") == "USE mydb")
  }

  test("JSON arrow operators: ->> text form, -> JSON form (r9)") {
    assert(t("SELECT props ->> '$.k' FROM events")
      == "SELECT get_json_object(props, '$.k') FROM events")
    // -> returns JSON (strings stay quoted) — the variant route
    assert(t("SELECT e.props -> '$.k' FROM events e")
      == "SELECT to_json(variant_get(parse_json(e.props), '$.k'), map('ignoreNullFields', 'false')) FROM events e")
    // bare-key paths get the $. root; string-literal LHS and chains work
    assert(t("SELECT props ->> 'k' FROM events")
      == "SELECT get_json_object(props, '$.k') FROM events")
    val chain = t("SELECT '{\"a\": {\"b\": 7}}' -> 'a' ->> 'b'")
    assert(chain.contains("get_json_object(to_json(variant_get(parse_json('"), chain)
    // quoted dotted keys become bracket steps (Spark reads `."a.b"` as
    // two steps — silent NULL before r9). The path carries single quotes,
    // so the r10 literal encoder emits the double-quoted form (verbatim
    // scanner keeps '' as two chars)
    assert(t("SELECT j ->> '$.\"a.b\"'") == "SELECT get_json_object(j, \"$['a.b']\")")
    // lambda arrows are NOT json arrows
    assert(t("SELECT list_transform([1,2], x -> 'b')")
      == "SELECT transform(array(1,2), x -> 'b')")
  }

  test("xor / list_slice / strptime arg-shape rewrites") {
    // or/and/not composition since r8 — an emitted `^` would flip to
    // power() on re-translation (DuckDB ^ IS power)
    assert(t("SELECT xor(a, 5)") == "SELECT (((a) | (5)) & ~((a) & (5)))")
    assert(t("SELECT xor(xor(a, b), c)").contains("| (c)) & ~("))
    // r5: list_slice shares the bracket syntax's guarded form (clamped
    // length, literal bounds constant-fold)
    assert(t("SELECT list_slice(xs, 2, 4)") ==
      "SELECT slice((xs), 2, (CASE WHEN ((4) - (2) + 1) < 0 THEN 0 ELSE ((4) - (2) + 1) END))")
    // r10 batch 7: parse-side patterns use the LENIENT single-letter
    // forms (DuckDB strptime accepts non-zero-padded input; the lenient
    // fields also accept padded input, so this is a strict superset)
    assert(t("SELECT strptime(s, '%Y-%m-%d %H:%M:%S')")
      == "SELECT to_timestamp(s, 'yyyy-M-d H:m:s')")
    // r13: a DYNAMIC format routes through the graft_strptime runtime
    // kernel — the old to_timestamp(s, fmt) rename fed duck %-patterns
    // to the JDK formatter per row, a silent wrong answer (duck itself
    // rejects non-constant formats — permissive superset)
    assert(t("SELECT strptime(s, fmt)") == "SELECT graft_strptime(s, fmt)")
    assert(t("SELECT try_strptime(s, fmt)") == "SELECT graft_strptime_try(s, fmt)")
    // r13: try_strptime with a literal pattern → try_to_timestamp (NULL
    // on parse failure or out-of-range date, duck's strptime/try split)
    assert(t("SELECT try_strptime(s, '%Y-%m-%d')")
      == "SELECT try_to_timestamp(s, 'yyyy-M-d')")
    // a %-literal that does NOT scan stays untranslated (duck errors on
    // %e too — loud on both engines)
    assert(t("SELECT strptime(s, '%Y-%e')") == "SELECT strptime(s, '%Y-%e')")
  }

  test("generate_series: table context -> range(±1 end), scalar -> sequence") {
    assert(t("SELECT * FROM generate_series(1, 9, 2)")
      == "SELECT * FROM range(1, (9) + 1, 2)")
    assert(t("SELECT * FROM generate_series(1, 10)")
      == "SELECT * FROM range(1, (10) + 1)")
    assert(t("SELECT * FROM generate_series(10, 1, -3)")
      == "SELECT * FROM range(10, (1) - 1, -3)")
    // scalar position is the inclusive list constructor
    assert(t("SELECT generate_series(1, 5)") == "SELECT sequence(1, 5)")
    // DuckDB range() is exclusive-end in both engines: passthrough
    assert(t("SELECT * FROM range(1, 5)") == "SELECT * FROM range(1, 5)")
  }

  test("round-4 1:1 renames: array_to_string, list_reverse, countIf") {
    // r8: empty list -> NULL (probe-pinned), hence the size guard
    assert(t("SELECT array_to_string(xs, ',')") ==
      "SELECT (CASE WHEN size((xs)) = 0 THEN CAST(NULL AS STRING) ELSE array_join((xs), ',') END)")
    assert(t("SELECT list_reverse(xs)") == "SELECT reverse(xs)")
    assert(t("SELECT countIf(x > 2)") == "SELECT count_if(x > 2)")
    assert(t("SELECT to_hex(x)") == "SELECT hex(x)")
  }

  test("// becomes graft_intdiv, ** becomes left-assoc power") {
    // r12 num fuzz: duck's // is trunc-long-div only for integral pairs
    // and PLAIN DOUBLE DIVISION otherwise, NULL on zero either way —
    // the kernel dispatches on operand types (the old DIV swap was a
    // loud BINARY_OP_DIFF_TYPES on a double operand)
    assert(t("SELECT a // b FROM t") == "SELECT graft_intdiv(a, b) FROM t")
    assert(t("SELECT a ** 2 FROM t") == "SELECT power(a, 2) FROM t")
    // left-assoc (DuckDB: 2**2**3 = 64) and call/paren operands
    assert(t("SELECT 2 ** 2 ** 3") == "SELECT power(power(2, 2), 3)")
    // abs routes through graft_abs (r13: duck literal-typing parity —
    // INT widens to LONG so abs(-2147483648) is 2147483648, not an
    // ANSI overflow)
    assert(t("SELECT (a + 1) ** abs(b)") == "SELECT power((a + 1), graft_abs(b))")
    // a directly-preceding unary minus is part of the base (-2**2 = 4);
    // a binary minus is not (a - 2**2)
    assert(t("SELECT -2 ** 2") == "SELECT power(-2, 2)")
    assert(t("SELECT a - 2 ** 2 FROM t") == "SELECT a - power(2, 2) FROM t")
  }

  test("GLOB becomes LIKE with translated pattern; SIMILAR TO becomes anchored RLIKE") {
    assert(t("SELECT * FROM t WHERE x GLOB 'ab*c?'")
      == "SELECT * FROM t WHERE x LIKE 'ab%c_' ESCAPE '~'")
    // literal % / _ in a glob escape via '~' (r13: an explicit ESCAPE
    // clause marks deliberate escaping for the LIKE-backslash pass, and
    // a backslash escape would re-encode to chr(92) — not a literal)
    assert(t("SELECT * FROM t WHERE x GLOB 'a%b_c*'")
      == "SELECT * FROM t WHERE x LIKE 'a~%b~_c%' ESCAPE '~'")
    assert(t("SELECT * FROM t WHERE x SIMILAR TO 'S[0-9]+'")
      == "SELECT * FROM t WHERE x RLIKE '^(?:S[0-9]+)$'")
    assert(t("SELECT * FROM t WHERE x NOT SIMILAR TO 'a.b'")
      == "SELECT * FROM t WHERE x NOT RLIKE '^(?:a.b)$'")
    // POSIX classes in the operator's literal map like the regexp
    // functions' patterns (Java matches nothing on `[[:alpha:]]`)
    assert(t("SELECT * FROM t WHERE x SIMILAR TO '[[:alpha:]]+'")
      == """SELECT * FROM t WHERE x RLIKE '^(?:[\p{Alpha}]+)$'""")
    assert(t("SELECT * FROM t WHERE x RLIKE '[[:digit:]][[:foo:]]'")
      == """SELECT * FROM t WHERE x RLIKE '[\p{Digit}][[:foo:]]'""")
  }

  test("dot-call chaining becomes nested calls, before the fn-name map") {
    assert(t("SELECT s.lower() FROM t") == "SELECT graft_lower(s) FROM t")
    assert(t("SELECT s.lower().upper() FROM t") == "SELECT graft_upper(graft_lower(s)) FROM t")
    assert(t("SELECT trim(s).length() FROM t") == "SELECT length(trim(s)) FROM t")
    // args append after the receiver; fn-name map still applies
    // (list_element -> try_element_at: NULL out of bounds, like DuckDB)
    assert(t("SELECT xs.list_element(2) FROM t") == "SELECT try_element_at(xs, 2) FROM t")
    // struct-field access without parens is untouched
    assert(t("SELECT t.s.a FROM t") == "SELECT t.s.a FROM t")
  }

  test("struct_pack becomes named_struct") {
    assert(t("SELECT struct_pack(a := 1, b := 'x')")
      == "SELECT named_struct('a', 1, 'b', 'x')")
    assert(t("SELECT struct_pack(k := f(1, 2)).k")
      == "SELECT named_struct('k', f(1, 2)).k")
  }

  test("IGNORE/RESPECT NULLS move from inside the call to after it") {
    // (the window ORDER BY also gets the usual NULLS LAST injection —
    // DuckDB defaults NULLS LAST on ASC, Spark NULLS FIRST)
    assert(t("SELECT last_value(x IGNORE NULLS) OVER (ORDER BY i) FROM t")
      == "SELECT last_value(x) IGNORE NULLS OVER (ORDER BY i NULLS LAST) FROM t")
    assert(t("SELECT lag(x, 1 RESPECT NULLS) OVER (ORDER BY i) FROM t")
      == "SELECT lag(x, 1) RESPECT NULLS OVER (ORDER BY i NULLS LAST) FROM t")
    // NULLS in ORDER BY item position is untouched
    assert(t("SELECT x FROM t ORDER BY x DESC NULLS LAST")
      == "SELECT x FROM t ORDER BY x DESC NULLS LAST")
  }

  test("list_unique / list_has_all arg shapes; list extras renames") {
    // r6: DuckDB's list_unique/list_distinct drop NULLs (probe-verified);
    // Spark's array_distinct keeps one — both now filter
    assert(t("SELECT list_unique(xs)") ==
      "SELECT size(graft_list_distinct(xs))")
    assert(t("SELECT array_unique(xs)") ==
      "SELECT size(graft_list_distinct(xs))")
    assert(t("SELECT list_distinct(xs)") ==
      "SELECT graft_list_distinct(xs)")
    // r7 (ADVICE): the array_distinct ALIAS gets the same NULL-dropping
    // rewrite — it previously passed through to Spark's native fn
    assert(t("SELECT array_distinct(xs)") ==
      "SELECT graft_list_distinct(xs)")
    assert(t("SELECT time_bucket(INTERVAL 15 MINUTE, ts) FROM events") ==
      "SELECT timestamp_micros(unix_micros(CAST((ts) AS TIMESTAMP)) - pmod(unix_micros(CAST((ts) AS TIMESTAMP)) - (946857600000000), 900000000)) FROM events")
    // month/year widths bucket on the month-index grid since r9
    // (origin 2000-01; probe-pinned)
    val tbm = t("SELECT time_bucket(INTERVAL 1 MONTH, ts) FROM events")
    assert(tbm.contains("make_date") && tbm.contains("pmod"), tbm)
    assert(t("SELECT list_has_all(xs, ys)") == "SELECT (size(array_except((ys), (xs))) = 0)")
    assert(t("SELECT list_has_any(xs, ys)") == "SELECT arrays_overlap(xs, ys)")
    assert(t("SELECT list_position(xs, 3)") == "SELECT array_position(xs, 3)")
    assert(t("SELECT list_intersect(xs, ys)") == "SELECT array_intersect(xs, ys)")
    // list_prepend swaps args: DuckDB (element, list) -> Spark (list, element)
    assert(t("SELECT list_prepend(0, xs)") == "SELECT array_prepend((xs), (0))")
  }

  test("subscripts become try_element_at; slices become slice(start, len)") {
    assert(t("SELECT xs[1] FROM t") == "SELECT try_element_at(xs, 1) FROM t")
    assert(t("SELECT xs[-1] FROM t") == "SELECT try_element_at(xs, -1) FROM t")
    assert(t("SELECT f(x)[2] FROM t") == "SELECT try_element_at(f(x), 2) FROM t")
    assert(t("SELECT [10, 20][1]") == "SELECT try_element_at(array(10, 20), 1)")
    assert(t("SELECT xs[2:4] FROM t") ==
      "SELECT slice(xs, 2, (CASE WHEN ((4) - (2) + 1) < 0 THEN 0 ELSE ((4) - (2) + 1) END)) FROM t")
    assert(t("SELECT xs[:3] FROM t") ==
      "SELECT slice(xs, 1, (CASE WHEN (3) < 0 THEN 0 ELSE (3) END)) FROM t")
    // r5 runtime-divergence guards: literal 0 index → NULL index (DuckDB
    // returns NULL, Spark try_element_at throws); dynamic index gets the
    // CASE zero-guard; string map keys stay unguarded; negative slice
    // bounds normalize to size+k+1; crossed/negative lengths clamp to 0;
    // all guards are CASE (not greatest), so NULL bounds stay NULL like
    // DuckDB. Structural asserts here; exact SEMANTICS are pinned at
    // runtime in OperatorsSpec ("subscript edge semantics match DuckDB").
    assert(t("SELECT xs[0] FROM t") == "SELECT try_element_at(xs, CAST(NULL AS INT)) FROM t")
    assert(t("SELECT xs[i] FROM t") ==
      "SELECT try_element_at(xs, (CASE WHEN CAST((i) AS STRING) = '0' THEN CAST(NULL AS INT) ELSE (i) END)) FROM t")
    assert(t("SELECT m['k'] FROM t") == "SELECT try_element_at(m, 'k') FROM t")
    val negOpen = t("SELECT xs[:-1] FROM t")
    assert(negOpen.contains("slice(xs, 1,") && negOpen.contains("size(xs) + (-1) + 1")
      && !negOpen.contains("greatest"))
    val clampedStart = t("SELECT xs[0:2] FROM t")
    assert(clampedStart.contains("CASE WHEN (0) < 1 THEN 1 ELSE (0) END")
      && !clampedStart.contains("greatest"))
    // list_slice shares the guarded form with the bracket syntax (r5)
    val fnSlice = t("SELECT list_slice(xs, 4, 2) FROM t")
    assert(fnSlice.contains("slice((xs),") && fnSlice.contains("CASE WHEN"))
    // type suffix untouched
    assert(t("CREATE TABLE x (tags VARCHAR[])").contains("[]"))
  }

  test("2-arg trims become TRIM(side set FROM s); to_base becomes conv") {
    assert(t("SELECT ltrim(s, 'ab')") == "SELECT TRIM(LEADING 'ab' FROM s)")
    assert(t("SELECT rtrim(s, '0123')") == "SELECT TRIM(TRAILING '0123' FROM s)")
    assert(t("SELECT trim(s, 'xy')") == "SELECT TRIM(BOTH 'xy' FROM s)")
    // 1-arg and SQL-standard forms untouched
    assert(t("SELECT trim(s)") == "SELECT trim(s)")
    assert(t("SELECT trim(BOTH 'S' FROM s)") == "SELECT trim(BOTH 'S' FROM s)")
    assert(t("SELECT to_base(n, 16)") == "SELECT conv(n, 10, 16)")
  }

  test("fmt-style format becomes format_string; list_aggregate dispatches") {
    assert(t("SELECT format('{} x {}', a, b)") == "SELECT format_string('%s x %s', a, b)")
    // {N} is 0-based in DuckDB, %N$s 1-based in Java
    assert(t("SELECT format('{1}/{0}', a, b)") == "SELECT format_string('%2$s/%1$s', a, b)")
    // printf-style first args are left for the printf mapping
    assert(t("SELECT format('%s', a)") == "SELECT format('%s', a)")
    assert(t("SELECT list_aggregate(xs, 'max')") == "SELECT array_max(xs)")
    assert(t("SELECT list_aggregate(xs, 'min')") == "SELECT array_min(xs)")
    // r8: 'count' counts NON-NULL elements (probe: [1,NULL] -> 1)
    assert(t("SELECT list_aggregate(xs, 'count')") ==
      "SELECT size(filter((xs), __g_n -> __g_n IS NOT NULL))")
  }

  test("FROM-first: bare FROM becomes SELECT *") {
    assert(t("FROM lineitem") == "SELECT * FROM lineitem")
    assert(t("FROM lineitem WHERE l_quantity > 40")
      == "SELECT * FROM lineitem WHERE l_quantity > 40")
  }

  test("FROM-first: trailing SELECT clause is hoisted to the front") {
    assert(t("FROM lineitem SELECT l_orderkey, l_quantity WHERE l_quantity > 40 LIMIT 5")
      == "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 40 LIMIT 5")
    assert(t("FROM orders SELECT o_custkey, count(*) AS n GROUP BY o_custkey")
      == "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey")
    assert(t("FROM region SELECT DISTINCT r_name ORDER BY r_name NULLS LAST")
      == "SELECT DISTINCT r_name FROM region ORDER BY r_name NULLS LAST")
  }

  test("FROM-first: WITH prefix, subqueries, and set-op branches") {
    assert(t("WITH big AS (FROM lineitem WHERE l_quantity > 45) FROM big SELECT count(*) AS n")
      == "WITH big AS (SELECT * FROM lineitem WHERE l_quantity > 45) SELECT count(*) AS n FROM big")
    assert(t("SELECT * FROM (FROM nation) t")
      == "SELECT * FROM (SELECT * FROM nation) t")
    assert(t("FROM nation UNION ALL FROM nation")
      == "SELECT * FROM nation UNION ALL SELECT * FROM nation")
  }

  test("FROM-first: standard statements are untouched") {
    assert(t("SELECT 1 AS x") == "SELECT 1 AS x")
    assert(t("SELECT * FROM t WHERE a = 1") == "SELECT * FROM t WHERE a = 1")
  }

  test("COLUMNS('regex') expands against the FROM table's schema") {
    val lookup: String => Option[Seq[String]] =
      { case "t" => Some(Seq("l_orderkey", "l_linenumber", "l_quantity", "x")); case _ => None }
    assert(Translator.translate("SELECT COLUMNS('l_(orderkey|quantity)') FROM t", lookup).sql
      == "SELECT l_orderkey, l_quantity FROM t")
    // unknown table: left untouched (analysis error downstream, like DuckDB)
    assert(Translator.translate("SELECT COLUMNS('a') FROM unknown", lookup).sql
      == "SELECT COLUMNS('a') FROM unknown")
  }

  test("COLUMNS(lambda) LIKE filter expands with anchored LIKE semantics") {
    val lookup: String => Option[Seq[String]] =
      { case "t" => Some(Seq("l_orderkey", "l_quantity", "other")); case _ => None }
    assert(Translator.translate("SELECT COLUMNS(c -> c LIKE 'l_%') FROM t", lookup).sql
      == "SELECT l_orderkey, l_quantity FROM t")
    // NOT LIKE inverts; LIKE is a full anchored match ('l_' alone matches
    // nothing here even though every l-column merely CONTAINS it)
    assert(Translator.translate("SELECT COLUMNS(c -> c NOT LIKE 'l%') FROM t", lookup).sql
      == "SELECT other FROM t")
    assert(Translator.translate("SELECT COLUMNS(c -> c LIKE 'l_') FROM t", lookup).sql
      == "SELECT COLUMNS(c -> c LIKE 'l_') FROM t")
  }

  test("list comprehensions become transform/filter") {
    assert(t("SELECT [x * 2 FOR x IN xs] AS r FROM t")
      == "SELECT transform(xs, x -> x * 2) AS r FROM t")
    assert(t("SELECT [upper(s) FOR s IN split(v, '-') IF s <> ''] FROM t")
      == "SELECT transform(filter(split(v, '-'), s -> s <> ''), s -> graft_upper(s)) FROM t")
    // literal source list still becomes array(...); subscripts untouched
    assert(t("SELECT [x + 1 FOR x IN [1, 2]] FROM t")
      == "SELECT transform(array(1, 2), x -> x + 1) FROM t")
    assert(t("SELECT xs[2] FROM t") == "SELECT try_element_at(xs, 2) FROM t")
    // IF followed by ( is the conditional function, not a filter
    assert(t("SELECT [IF(x > 0, x, 0) FOR x IN xs] FROM t")
      == "SELECT transform(xs, x -> IF(x > 0, x, 0)) FROM t")
  }

  test("list_reduce seeds with the first element; regexp_extract_all pins group 0") {
    assert(t("SELECT list_reduce(xs, (a, b) -> a + b) FROM t")
      == "SELECT reduce(slice((xs), 2, size(xs) - 1), try_element_at((xs), 1), (a, b) -> a + b) FROM t")
    assert(t("SELECT regexp_extract_all(s, '[0-9]+') FROM t")
      == "SELECT regexp_extract_all(s, '[0-9]+', 0) FROM t")
    // explicit group untouched
    assert(t("SELECT regexp_extract_all(s, '(a)(b)', 2) FROM t")
      == "SELECT regexp_extract_all(s, '(a)(b)', 2) FROM t")
  }

  test("ordered array_agg/list sorts after collecting, key in a struct") {
    // r15: the emitted array_sort is recaptured into the
    // graft_list_sort kernel (duck's NULL keys sort LAST in BOTH
    // directions: asc via the kernel's NULL-high field order, desc via
    // the leading (k IS NOT NULL) flag + reverse)
    assert(t("SELECT array_agg(x ORDER BY k) FROM t GROUP BY g")
      == "SELECT transform(graft_list_sort(collect_list(named_struct('k', (k), 'v', (x))), false, false), __g_s -> __g_s.v) FROM t GROUP BY g")
    assert(t("SELECT list(x ORDER BY k DESC) FROM t GROUP BY g")
      == "SELECT transform(reverse(graft_list_sort(collect_list(named_struct('kn', (k) IS NOT NULL, 'k', (k), 'v', (x))), false, false)), __g_s -> __g_s.v) FROM t GROUP BY g")
    // unordered forms keep the plain rename; multi-key / NULLS forms are
    // left untouched for Spark to reject loudly
    assert(t("SELECT array_agg(x) FROM t GROUP BY g")
      == "SELECT collect_list(x) FROM t GROUP BY g")
    assert(t("SELECT array_agg(x ORDER BY a, b) FROM t GROUP BY g")
      .contains("ORDER BY"))
  }

  test("dayname/monthname/unicode/ord/list_zip map to Spark equivalents") {
    assert(t("SELECT dayname(d), monthname(d) FROM t")
      == "SELECT date_format(d, 'EEEE'), date_format(d, 'MMMM') FROM t")
    assert(t("SELECT unicode(s), ord(s) FROM t")
      == "SELECT (CASE WHEN graft_len(s) = 0 THEN -1 ELSE ascii(s) END), (CASE WHEN graft_len(s) = 0 THEN -1 ELSE ascii(s) END) FROM t")
    assert(t("SELECT list_zip(a, b) FROM t")
      == "SELECT arrays_zip(a, b) FROM t")
  }

  test("POSITIONAL JOIN: ordered subqueries become a position equi-join") {
    val out = t("SELECT a.x, b.y FROM (SELECT c AS x FROM t1 ORDER BY c) a " +
      "POSITIONAL JOIN (SELECT d AS y FROM t2 ORDER BY d DESC) b")
    // NULLS LAST comes from the downstream null-order injection (DuckDB's
    // ASC/DESC default), applied inside the window too — as it must be
    assert(out.contains("row_number() OVER (ORDER BY c NULLS LAST) AS __g_pos"))
    assert(out.contains("row_number() OVER (ORDER BY d DESC NULLS LAST) AS __g_pos2"))
    assert(out.contains("FULL JOIN"))
    assert(out.contains("ON a.__g_pos = b.__g_pos2"))
    // unordered side: loud error, not silent nondeterministic pairing
    val e = intercept[UnsupportedOperationException] {
      t("SELECT * FROM (SELECT c FROM t1) a POSITIONAL JOIN (SELECT d FROM t2 ORDER BY d) b")
    }
    assert(e.getMessage.contains("ORDER BY"))
    val e2 = intercept[UnsupportedOperationException] {
      t("SELECT * FROM t1 a POSITIONAL JOIN (SELECT d FROM t2 ORDER BY d) b")
    }
    assert(e2.getMessage.contains("parenthesized"))
  }

  test("r7 widening: sha256, list_reverse_sort, vector fns, format, strpos") {
    assert(t("SELECT sha256(s)") == "SELECT sha2(s, 256)")
    assert(t("SELECT list_reverse_sort(l)") == "SELECT graft_list_sort(l, true, false)")
    assert(t("SELECT strpos(s, 'x')") == "SELECT instr(s, 'x')")
    // r11: duck list_contains is not three-valued over NULL elements —
    // a NULL-guarded coalesce(exists(...), false) reproduces the matrix
    // with normal binary coercion and first-hit short-circuit (advice
    // r11 — see rewriteArgShapeFns)
    assert(t("SELECT list_contains(l, 2), list_has(l, 3)") ==
      "SELECT (CASE WHEN (l) IS NULL OR (2) IS NULL THEN CAST(NULL AS BOOLEAN) " +
        "ELSE coalesce(exists((l), graft_lc -> graft_lc <=> (2)), false) END), " +
        "(CASE WHEN (l) IS NULL OR (3) IS NULL THEN CAST(NULL AS BOOLEAN) " +
        "ELSE coalesce(exists((l), graft_lc -> graft_lc <=> (3)), false) END)")
    // vector kernels expand to double higher-order math
    val cos = t("SELECT list_cosine_similarity(a, b)")
    assert(cos.contains("zip_with(a, b") && cos.contains("sqrt"))
    assert(t("SELECT list_inner_product(a, b)").contains("zip_with(a, b"))
  }

  test("r7 widening: jaccard/hamming/trunc/even/isinf/isfinite rewrites") {
    assert(t("SELECT jaccard(a, b)") ==
      "SELECT (try_divide(CAST(size(array_intersect(split(a, ''), split(b, ''))) AS DOUBLE), size(array_union(split(a, ''), split(b, '')))))")
    // r14: byte-based kernel (duck counts differing BYTES and errors on
    // unequal byte lengths — the r7 char-split emission compared chars)
    val hm = t("SELECT hamming(a, b)")
    assert(hm == "SELECT graft_mismatches((a), (b))", hm)
    assert(t("SELECT mismatches(a, b)") == hm)
    // r12 num fuzz: isnan/huge guards — floor/ceil return LONG, so
    // |x| > 2^63 ANSI-overflowed and NaN/inf threw where duck passes
    // them through
    assert(t("SELECT trunc(x)") ==
      "SELECT CAST(CASE WHEN isnan(x) OR graft_abs(x) >= 9007199254740992e0 THEN (x) " +
        "WHEN (x) >= 0 THEN floor(x) ELSE ceil(x) END AS DOUBLE)")
    // 2-arg trunc (Spark's date form) passes through
    assert(t("SELECT trunc(d, 'MM')") == "SELECT trunc(d, 'MM')")
    assert(t("SELECT even(x)") ==
      "SELECT CAST(CASE WHEN isnan(x) OR graft_abs(x) >= 9007199254740992e0 THEN (x) " +
        "WHEN (x) >= 0 THEN ceil((x) / 2) * 2 ELSE -(ceil(graft_abs(x) / 2) * 2) END AS DOUBLE)")
    assert(t("SELECT isinf(x)") == "SELECT (graft_abs(x) = CAST('Infinity' AS DOUBLE))")
    assert(t("SELECT isfinite(x)").contains("NOT isnan"))
    // fuzzy kernels + gcd/lcm are registered natives — passthrough
    assert(t("SELECT damerau_levenshtein(a, b), gcd(a, b), lcm(a, b)") ==
      "SELECT damerau_levenshtein(a, b), gcd(a, b), lcm(a, b)")
  }

  test("r7 widening: sample-moment conversion and ordered first/last") {
    // DuckDB skewness/kurtosis are SAMPLE stats; Spark's are population —
    // converted via the exact G1/G2 formulas under non-colliding names
    val sk = t("SELECT skewness(x) FROM t1")
    assert(sk.contains("graft_skewness_g1(x)") && sk.contains("count(x) < 3"))
    val ku = t("SELECT kurtosis(x) FROM t1")
    assert(ku.contains("graft_kurtosis_g2(x)") && ku.contains("count(x) < 4"))
    // first/last with ORDER BY → min_by/max_by; DESC swaps; bare passes
    assert(t("SELECT first(x ORDER BY y) FROM t1") == "SELECT min_by(x, y) FROM t1")
    assert(t("SELECT last(x ORDER BY y) FROM t1") == "SELECT max_by(x, y) FROM t1")
    assert(t("SELECT first(x ORDER BY y DESC) FROM t1") == "SELECT max_by(x, y) FROM t1")
    assert(t("SELECT last(x ORDER BY y DESC) FROM t1") == "SELECT min_by(x, y) FROM t1")
    assert(t("SELECT first(x) FROM t1") == "SELECT first(x) FROM t1")
  }

  test("r7 ClickHouse alias widening: conditional aggs, multiIf, date helpers") {
    assert(t("SELECT sumIf(x, x > 2), avgIf(y, c), countIf(v, c) FROM t1") ==
      "SELECT sum(x) FILTER (WHERE x > 2), avg(y) FILTER (WHERE c), count(v) FILTER (WHERE c) FROM t1")
    // DuckDB's own 1-arg countif stays the count_if rename
    assert(t("SELECT countif(c) FROM t1") == "SELECT count_if(c) FROM t1")
    assert(t("SELECT multiIf(a, 1, b, 2, 3)") ==
      "SELECT (CASE WHEN a THEN 1 WHEN b THEN 2 ELSE 3 END)")
    // r12: CH toStartOfMonth returns Date (pre-wrapped CAST keeps the
    // rewriteDateTruncShape fixpoint); toStartOfDay returns DateTime —
    // the ENCLOSING CAST(… AS TIMESTAMP) sentinel (r13) opts out of the
    // DATE-shape rewrite
    assert(t("SELECT toStartOfMonth(d), toStartOfDay(d)") ==
      "SELECT CAST(date_trunc('MONTH', d) AS DATE), CAST(date_trunc('DAY', CAST((d) AS TIMESTAMP)) AS TIMESTAMP)")
    // CH toStartOfWeek mode 0 = SUNDAY start; Spark week truncs to Monday
    assert(t("SELECT toStartOfWeek(d)") ==
      "SELECT date_sub(CAST(date_trunc('WEEK', date_add(d, 1)) AS DATE), 1)")
    assert(t("SELECT toYYYYMM(d)") == "SELECT (year(d) * 100 + month(d))")
    assert(t("SELECT toDayOfWeek(d)") == "SELECT (((graft_dow(d) + 6) % 7) + 1)")
    // CH position(haystack, needle) → instr (same order); standard IN form untouched
    assert(t("SELECT position(h, n)") == "SELECT instr(h, n)")
    assert(t("SELECT position('or' IN s)") == "SELECT position('or' IN s)")
    assert(t("SELECT arrayJoin(a), has(a, 1), indexOf(a, 2), arrayElement(a, -1)") ==
      "SELECT explode(a), (CASE WHEN (a) IS NULL OR (1) IS NULL THEN CAST(NULL AS BOOLEAN) " +
        "ELSE coalesce(exists((a), graft_lc -> graft_lc <=> (1)), false) END), " +
        "array_position(a, 2), try_element_at(a, -1)")
    assert(t("SELECT arrayStringConcat(a, ','), leftPad(s, 3, '0'), toUnixTimestamp(ts)") ==
      "SELECT array_join(a, ','), lpad(s, 3, '0'), unix_timestamp(ts)")
    assert(t("SELECT toHour(ts), toDayOfYear(d), toDayOfMonth(d)") ==
      "SELECT hour(ts), dayofyear(d), day(d)")
  }

  test("r7 widening: left/right accept DuckDB negative lengths") {
    // probe-pinned: left('ab',-5)='', right('ab',-5)='', left('hello',-2)
    // ='hel', right('hello',-2)='llo', 0 -> '', n>len -> whole string
    val lf = t("SELECT left(s, n)")
    assert(lf == "SELECT substring(s, 1, CASE WHEN (n) >= 0 THEN (n) ELSE greatest(0, graft_len(s) + (n)) END)")
    val rt = t("SELECT right(s, n)")
    assert(rt == "SELECT substring(s, CASE WHEN (n) >= 0 THEN greatest(1, graft_len(s) - (n) + 1) ELSE 1 - (n) END)")
    // join keywords are untouched
    assert(t("SELECT * FROM a LEFT JOIN b USING (k)") ==
      "SELECT * FROM a LEFT JOIN b USING (k)")
  }

  test("r7 session 3: to_json keeps NULL fields; json_group_* macros expand") {
    // DuckDB to_json renders NULL struct fields; Spark drops them unless
    // ignoreNullFields=false is injected
    assert(t("SELECT to_json(s)") ==
      "SELECT to_json(s, map('ignoreNullFields', 'false'))")
    // already-2-arg calls are left alone (no fixpoint re-fire)
    assert(t("SELECT to_json(s, map('a', 'b'))") ==
      "SELECT to_json(s, map('a', 'b'))")
    // json_group_array keeps NULL elements via the never-NULL struct ride
    assert(t("SELECT json_group_array(x) FROM t1") ==
      "SELECT to_json(transform(collect_list(named_struct('v', (x))), __g_j -> __g_j.v), map('ignoreNullFields', 'false')) FROM t1")
    assert(t("SELECT json_group_object(k, v) FROM t1") ==
      "SELECT to_json(map_from_entries(collect_list(named_struct('key', (k), 'value', (v)))), map('ignoreNullFields', 'false')) FROM t1")
  }

  test("to_json over an unterminated string returns, its call left as it is") {
    // the open quote runs to the end of the text, so the call has no close
    // paren; rewritten, its re-lexed output would be the same one-argument
    // call again, so the rule must not fire on it
    val sql = "SELECT get_json_object(to_json(variant_get(parse_json('"
    val run = scala.concurrent.Future(Translator.translate(sql))(scala.concurrent.ExecutionContext.global)
    val tr = scala.concurrent.Await.result(run, scala.concurrent.duration.Duration(5, "s"))
    assert(tr.sql.contains("to_json(variant_get(parse_json('"), tr.sql)
    assert(!tr.sql.contains("ignoreNullFields"), tr.sql)
    // an unterminated literal is left as written; closed ones, '' escapes
    // included, are still re-encoded
    assert(Seq("'", "'a''", "'''").forall(s => !Lexer.Str(s).closed))
    assert(Seq("''", "'a'", "'a'''", "''''").forall(s => Lexer.Str(s).closed))
  }

  test("r7 session 3: entropy/histogram/product/bar/format_bytes renames") {
    assert(t("SELECT entropy(x), histogram(x), product(x) FROM t1") ==
      "SELECT graft_entropy(x), graft_histogram(x), graft_product(x) FROM t1")
    assert(t("SELECT bar(x, 0, 100, 20), format_bytes(n) FROM t1") ==
      "SELECT graft_bar(x, 0, 100, 20), graft_format_bytes(n) FROM t1")
  }

  test("r7 session 3: regexp_extract group-0 default and name-list struct") {
    // DuckDB 2-arg default is group 0; Spark's is 1 — explicit 0 injected
    assert(t("SELECT regexp_extract(s, '[0-9]+')") ==
      "SELECT regexp_extract(s, '[0-9]+', 0)")
    // integer group passes through
    assert(t("SELECT regexp_extract(s, '(a)(b)', 2)") ==
      "SELECT regexp_extract(s, '(a)(b)', 2)")
    // name-list form → named_struct of groups 1..n
    assert(t("SELECT regexp_extract(s, '(a)(b)', ['x', 'y'])") ==
      "SELECT named_struct('x', regexp_extract(s, '(a)(b)', 1), 'y', regexp_extract(s, '(a)(b)', 2))")
  }

  test("r7 session 3: list_grade_up/any_value/select/where expansions") {
    assert(t("SELECT list_any_value(l)") ==
      "SELECT try_element_at(filter((l), __g_x -> __g_x IS NOT NULL), 1)")
    assert(t("SELECT list_select(l, ix)").contains("CASE WHEN __g_i < 1 THEN NULL"))
    assert(t("SELECT list_where(l, m)").contains("zip_with((l), (m)"))
    assert(t("SELECT list_grade_up(l)").contains("'n', (__g_x IS NULL)"))
    // full-name gcd/lcm aliases and numeric to_timestamp
    assert(t("SELECT greatest_common_divisor(a, b), least_common_multiple(a, b)") ==
      "SELECT gcd(a, b), lcm(a, b)")
    assert(t("SELECT to_timestamp(1700000000)") ==
      "SELECT timestamp_seconds(1700000000)")
    // chr: Spark's cuts codepoints to 256 — kernel rename
    assert(t("SELECT chr(233)") == "SELECT graft_chr(233)")
  }

  test("r7 session 3: chsql alias batch (arithmetic forms, search, IPv4)") {
    // divide's dynamic divisor takes the r12 try_divide NULL-on-zero form
    assert(t("SELECT plus(a, 1), minus(a, b), multiply(a, 2), divide(a, b)") ==
      "SELECT ((a) + (1)), ((a) - (b)), ((a) * (2)), (try_divide((a), (b)))")
    assert(t("SELECT intDivOrZero(a, b)") ==
      "SELECT (CASE WHEN (b) = 0 THEN 0 ELSE (a) DIV (b) END)")
    assert(t("SELECT positionCaseInsensitive(h, n)") ==
      "SELECT instr(graft_lower(h), graft_lower(n))")
    assert(t("SELECT multiSearchAny(h, ['a', 'b'])") ==
      "SELECT (CASE WHEN exists((array('a', 'b')), __g_n -> instr((h), __g_n) > 0) THEN 1 ELSE 0 END)")
    assert(t("SELECT toYYYYMMDDhhmmss(ts)").contains("* 10000000000"))
    assert(t("SELECT IPv4NumToString(n)").contains("DIV 16777216 % 256"))
    assert(t("SELECT IPv4StringToNum(s)").contains("__g_a * 256"))
    assert(t("SELECT splitByString('ab', s)") ==
      "SELECT split(s, 'ab')")
    assert(t("SELECT bitCount(n), match(s, 'x.*'), parseDateTimeBestEffort(s)") ==
      "SELECT bit_count(n), rlike(s, 'x.*'), try_to_timestamp(s)")
  }

  test("r7 session 3: EXCLUDE CURRENT ROW for sum/count/avg; others stay loud") {
    val sum = t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t1")
    assert(sum.contains("- coalesce((v), 0)") && sum.contains("CASE WHEN"))
    assert(!sum.toUpperCase.contains("EXCLUDE"))
    assert(t("SELECT count(*) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t1")
      .contains("- 1)"))
    val avg = t("SELECT avg(v) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN 2 PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t1")
    assert(avg.contains("PARTITION BY g") && !avg.toUpperCase.contains("EXCLUDE"))
    // unsupported aggregate keeps EXCLUDE → Spark rejects loudly
    assert(t("SELECT min(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t1")
      .toUpperCase.contains("EXCLUDE CURRENT ROW"))
  }

  test("r7 session 3: quantified subquery comparisons (ANY/ALL/SOME)") {
    // exact equivalences
    assert(t("SELECT 1 WHERE k = ANY (SELECT c FROM t1)") ==
      "SELECT 1 WHERE ((k) IN (SELECT c FROM t1))")
    assert(t("SELECT 1 WHERE k <> ALL (SELECT c FROM t1)") ==
      "SELECT 1 WHERE ((k) NOT IN (SELECT c FROM t1))")
    assert(t("SELECT 1 WHERE k = SOME (SELECT c FROM t1)") ==
      "SELECT 1 WHERE ((k) IN (SELECT c FROM t1))")
    // inequality ALL → max comparison with count guards (per-aggregate
    // splices — Catalyst's MergeScalarSubqueries consolidates them, and
    // the correlated form measures faster this way; see rewriteAnyAll)
    val all = t("SELECT 1 WHERE k > ALL (SELECT c FROM t1)")
    assert(all.contains("max(__g_c)") && all.contains("count(*)") &&
      all.contains("THEN TRUE"))
    // inequality ANY → min comparison, empty → FALSE
    val any = t("SELECT 1 WHERE k <= ANY (SELECT c FROM t1)")
    assert(any.contains("max(__g_c)") && any.contains("THEN FALSE"))
    // GROUP BY ALL and UNION ALL are untouched
    assert(t("SELECT g, count(*) FROM t1 GROUP BY ALL") ==
      "SELECT g, count(*) FROM t1 GROUP BY ALL")
    assert(t("SELECT 1 UNION ALL SELECT 2") == "SELECT 1 UNION ALL SELECT 2")
  }

  test("r7 session 3: struct_insert, step slices, list_sort orders, recursive unnest") {
    assert(t("SELECT struct_insert(s, b := 2)") ==
      "SELECT graft_struct_insert((s), 'b', (2))")
    assert(t("SELECT struct_insert(s, b := 2, c := 'x')") ==
      "SELECT graft_struct_insert(graft_struct_insert((s), 'b', (2)), 'c', ('x'))")
    val sl = t("SELECT l[2:6:2]")
    assert(sl.contains("sequence") && sl.contains("try_element_at") &&
      sl.contains("slice(l, 1, 0)"))
    // r15: every sort spelling routes through the graft_list_sort kernel
    // (duck ranks inner NULLs HIGH inside nested elements; top-level
    // NULL placement rides the flag)
    assert(t("SELECT list_sort(l, 'DESC')") == "SELECT graft_list_sort(l, true, false)")
    assert(t("SELECT list_sort(l, 'ASC')") == "SELECT graft_list_sort(l, false, false)")
    assert(t("SELECT list_sort(l, 'ASC', 'NULLS FIRST')") ==
      "SELECT graft_list_sort(l, false, true)")
    assert(t("SELECT list_sort(l, 'DESC', 'NULLS FIRST')") ==
      "SELECT graft_list_sort(l, true, true)")
    assert(t("SELECT unnest(x, recursive := true)") ==
      "SELECT explode(flatten(x))")
    assert(t("SELECT list_sort(l)") == "SELECT graft_list_sort(l, false, false)")
    assert(t("SELECT unnest(x)") == "SELECT explode(x)")
  }

  test("r7 session 3: USING SAMPLE method forms and seeds") {
    assert(t("SELECT * FROM t1 USING SAMPLE 10% (bernoulli)") ==
      "SELECT * FROM t1 TABLESAMPLE (10 PERCENT)")
    assert(t("SELECT * FROM t1 USING SAMPLE 10% (bernoulli, 42)") ==
      "SELECT * FROM t1 TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
    assert(t("SELECT * FROM t1 USING SAMPLE reservoir(5 ROWS)") ==
      "SELECT * FROM t1 TABLESAMPLE (5 ROWS)")
    assert(t("SELECT * FROM t1 USING SAMPLE 5 ROWS") ==
      "SELECT * FROM t1 TABLESAMPLE (5 ROWS)")
  }

  test("r7 session 3 review fixes: split escaping, exclude no-op, LHS scope, epoch") {
    // splitByString/Char emit regex-level metachar escapes, not
    // \\Q…\\E (RE2 form Java also accepts, but kept explicit)
    assert(t("SELECT splitByString(',', s)") == "SELECT split(s, ',')")
    assert(t("SELECT splitByChar('.', s)") == "SELECT split(s, '\\.')")
    // bare `aggregate` identifier no longer crashes the translator
    assert(t("SELECT aggregate FROM t1") == "SELECT aggregate FROM t1")
    // EXCLUDE CURRENT ROW over a frame that never holds the current row
    // is a NO-OP (clause dropped, no subtraction)
    val noop = t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW) FROM t1")
    assert(noop.contains("sum(v) OVER") && !noop.contains("coalesce") &&
      !noop.toUpperCase.contains("EXCLUDE"))
    // quantified-comparison LHS spans operator-connected primaries
    assert(t("SELECT 1 WHERE 'p' || c = ANY (SELECT s FROM t1)") ==
      "SELECT 1 WHERE (('p' || c) IN (SELECT s FROM t1))")
    assert(t("SELECT 1 WHERE a + b > ALL (SELECT s FROM t1)")
      .contains("((a + b) >"))
    // DuckDB's fractional-seconds epoch part, both syntactic forms
    assert(t("SELECT extract(epoch FROM ts)") ==
      "SELECT (CAST(graft_epoch_us(ts) AS DOUBLE) / 1000000.0)")
    assert(t("SELECT date_part('epoch', ts)") ==
      "SELECT (CAST(graft_epoch_us(ts) AS DOUBLE) / 1000000.0)")
  }

  test("r7 session 3: FILTER on window aggregates becomes a CASE argument") {
    assert(t("SELECT sum(v) FILTER (WHERE c) OVER (ORDER BY k) FROM t1") ==
      "SELECT sum(CASE WHEN (c) THEN (v) END) OVER (ORDER BY k NULLS LAST) FROM t1")
    assert(t("SELECT count(*) FILTER (WHERE c) OVER (PARTITION BY g) FROM t1") ==
      "SELECT count(CASE WHEN (c) THEN 1 END) OVER (PARTITION BY g) FROM t1")
    // grouped-aggregate FILTER stays native (Spark supports it there)
    assert(t("SELECT sum(v) FILTER (WHERE c) FROM t1") ==
      "SELECT sum(v) FILTER (WHERE c) FROM t1")
    // pair-skipping multi-arg aggregates wrap both args since r8 (see the
    // r8 test); non-whitelisted multi-arg forms keep the clause and fail
    // loudly downstream
    assert(t("SELECT arg_max(a, b) FILTER (WHERE c) OVER (ORDER BY k) FROM t1")
      .toUpperCase.contains("FILTER"))
  }

  test("r7 session 3: index lambdas shift DuckDB's 1-based index") {
    assert(t("SELECT list_transform(l, (x, i) -> x + i)") ==
      "SELECT transform(l, (x, __g_ix1) -> x + (__g_ix1 + 1))")
    assert(t("SELECT list_filter(l, (x, i) -> i > 1)") ==
      "SELECT filter(l, (x, __g_ix1) -> (__g_ix1 + 1) > 1)")
    // 1-param lambdas and our own generated __g_* params stay untouched
    assert(t("SELECT list_transform(l, x -> x + 1)") ==
      "SELECT transform(l, x -> x + 1)")
    assert(t("SELECT transform(l, (__g_x, __g_i) -> __g_i)") ==
      "SELECT transform(l, (__g_x, __g_i) -> __g_i)")
    // struct-field access `s.i` in the body is not the index variable
    assert(t("SELECT list_transform(l, (s, i) -> s.i + i)") ==
      "SELECT transform(l, (s, __g_ix1) -> s.i + (__g_ix1 + 1))")
  }

  test("r7 session 3: named WINDOW clause passes through untouched") {
    val sql = "SELECT sum(x) OVER w, rank() OVER w FROM t1 " +
      "WINDOW w AS (PARTITION BY g ORDER BY k) ORDER BY k"
    val out = t(sql)
    assert(out.contains("WINDOW w AS (PARTITION BY g ORDER BY k"))
    assert(out.contains("OVER w"))
  }

  test("r8 advice: EXCLUDE no-op detection is token-wise (multi-token bounds)") {
    // INTERVAL bounds are multi-token: the old \S+ regex missed them and
    // fell through to subtraction — silently wrong where EXCLUDE is a no-op
    val noop = t("SELECT sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND INTERVAL '1' DAY PRECEDING EXCLUDE CURRENT ROW) FROM t1")
    assert(noop.contains("sum(v) OVER") && !noop.contains("coalesce") &&
      !noop.toUpperCase.contains("EXCLUDE"), noop)
    val noopF = t("SELECT sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '1' DAY FOLLOWING AND INTERVAL '2' DAY FOLLOWING EXCLUDE CURRENT ROW) FROM t1")
    assert(noopF.contains("sum(v) OVER") && !noopF.contains("coalesce") &&
      !noopF.toUpperCase.contains("EXCLUDE"), noopF)
    // frames that DO hold the current row still subtract
    val sub = t("SELECT sum(v) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND INTERVAL '1' DAY FOLLOWING EXCLUDE CURRENT ROW) FROM t1")
    assert(sub.contains("coalesce") && !sub.toUpperCase.contains("EXCLUDE"), sub)
    val sub2 = t("SELECT sum(v) OVER (ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t1")
    assert(sub2.contains("coalesce") && !sub2.toUpperCase.contains("EXCLUDE"), sub2)
    // single-token bounds keep working
    val noop1 = t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW) FROM t1")
    assert(!noop1.contains("coalesce") && !noop1.toUpperCase.contains("EXCLUDE"))
  }

  test("r8: = ALL / <> ANY become the count-guarded min=max CASE") {
    val ea = t("SELECT 1 WHERE k = ALL (SELECT c FROM t1)")
    assert(ea.contains("min(__g_c0)") && ea.contains("max(__g_c0)") &&
      ea.contains("THEN TRUE") && ea.contains("THEN FALSE") &&
      ea.contains("CAST(NULL AS BOOLEAN)"), ea)
    // one-row-aggregate form: the subquery is spliced exactly ONCE
    assert(ea.sliding("SELECT c FROM t1".length).count(_ == "SELECT c FROM t1") == 1, ea)
    val na = t("SELECT 1 WHERE k <> ANY (SELECT c FROM t1)")
    assert(na.contains("min(__g_c0)") && na.contains("THEN FALSE") &&
      na.contains("THEN TRUE"), na)
    // != spelling and SOME synonym route the same way
    assert(t("SELECT 1 WHERE k != ANY (SELECT c FROM t1)").contains("min(__g_c0)"))
    // exact equivalences keep their IN forms
    assert(t("SELECT 1 WHERE k = ANY (SELECT c FROM t1)").contains("IN (SELECT"))
    assert(t("SELECT 1 WHERE k <> ALL (SELECT c FROM t1)").contains("NOT IN (SELECT"))
  }

  test("r8: window FILTER on pair-skipping aggregates wraps BOTH arguments") {
    val c = t("SELECT corr(x, y) FILTER (WHERE p) OVER (ORDER BY k) FROM t1")
    assert(c == "SELECT corr(CASE WHEN (p) THEN (x) END, CASE WHEN (p) THEN (y) END) OVER (ORDER BY k NULLS LAST) FROM t1", c)
    assert(t("SELECT regr_slope(x, y) FILTER (WHERE p) OVER (ORDER BY k) FROM t1")
      .contains("regr_slope(CASE WHEN (p) THEN (x) END, CASE WHEN (p) THEN (y) END)"))
    // non-whitelisted multi-arg aggregates keep the clause → loud
    assert(t("SELECT max_by(x, y) FILTER (WHERE p) OVER (ORDER BY k) FROM t1")
      .toUpperCase.contains("FILTER"))
  }

  test("r8: EXCLUDE GROUP / TIES subtract the peer group on RANGE frames") {
    val g = t("SELECT sum(v) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM t1")
    assert(g.contains("sum(v) OVER (PARTITION BY k)") &&
      g.contains("count(v) OVER (PARTITION BY k)") &&
      g.contains("CASE WHEN") && !g.toUpperCase.contains("EXCLUDE"), g)
    val ties = t("SELECT count(*) OVER (PARTITION BY g ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM t1")
    assert(ties.contains("count(*) OVER (PARTITION BY g, k)") &&
      ties.contains("+ 1)") && !ties.toUpperCase.contains("EXCLUDE"), ties)
    // order modifiers are stripped from the peer-group keys
    val mods = t("SELECT sum(v) OVER (ORDER BY k DESC NULLS LAST RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING EXCLUDE GROUP) FROM t1")
    assert(mods.contains("OVER (PARTITION BY k)"), mods)
    // ROWS frames intersect the peer group — unsupported, stays loud
    assert(t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) FROM t1")
      .toUpperCase.contains("EXCLUDE GROUP"))
    // a both-PRECEDING frame holds no peers: EXCLUDE GROUP is a no-op
    val noop = t("SELECT sum(v) OVER (ORDER BY k RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING EXCLUDE GROUP) FROM t1")
    assert(!noop.toUpperCase.contains("EXCLUDE") && !noop.contains("CASE"), noop)
  }

  test("r9 advice: EXCLUDE no-op strip limits (ROWS GROUP/TIES loud, 0-offset edge)") {
    // a both-PRECEDING ROWS frame CAN hold peer rows — EXCLUDE GROUP/TIES
    // must stay loud, never silently strip (advice r8; DuckDB probe:
    // sum OVER (ORDER BY k ROWS 3 PRECEDING..1 PRECEDING EXCLUDE GROUP)
    // removes in-frame peers)
    assert(t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE GROUP) FROM t1")
      .toUpperCase.contains("EXCLUDE GROUP"))
    assert(t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE TIES) FROM t1")
      .toUpperCase.contains("EXCLUDE TIES"))
    // EXCLUDE CURRENT ROW on the same ROWS frame is still a no-op strip
    val cur = t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE CURRENT ROW) FROM t1")
    assert(!cur.toUpperCase.contains("EXCLUDE") && !cur.contains("CASE"), cur)
    // 0-offset nearest bound touches the current row: NOT a no-op —
    // the subtraction rewrite applies (probe: DuckDB excludes the row)
    val zero = t("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND 0 PRECEDING EXCLUDE CURRENT ROW) FROM t1")
    assert(zero.contains("CASE WHEN") && !zero.toUpperCase.contains("EXCLUDE"), zero)
    // RANGE both-preceding GROUP stays a no-op (value-bounded: no peers)
    val rg = t("SELECT sum(v) OVER (ORDER BY k RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING EXCLUDE TIES) FROM t1")
    assert(!rg.toUpperCase.contains("EXCLUDE") && !rg.contains("CASE"), rg)
  }

  test("r9 advice: list_concat NULL-skip form, arrayElement try_element_at, idempotence") {
    // DuckDB list_concat/array_cat SKIP NULL args (probe:
    // list_concat([1,2], NULL) = [1,2]); flatten(array(..)) spelling is
    // not re-captured by the concat→concat_ws stringify
    val lc = t("SELECT list_concat(a, b)")
    assert(lc.contains("flatten(array((a), (b)))") && lc.contains("IS NULL"), lc)
    assert(t("SELECT array_cat(a, b)") == lc.replace("list_concat", "array_cat"))
    // concat on a LIST literal still stringifies (probe:
    // concat([1,2],[3]) = '[1, 2][3]')
    assert(t("SELECT concat([1], [2])").contains("concat_ws"))
    // emissions survive re-translation unchanged (the advice's broken cases)
    for (q <- Seq("SELECT list_concat(a, b)", "SELECT array_cat([1], [2])",
        "SELECT arrayElement(a, 2)", "SELECT list_cat(a, b)")) {
      val once = t(q)
      assert(t(once) == once, s"not idempotent: $q -> $once -> ${t(once)}")
    }
    assert(t("SELECT arrayElement(a, 2)") == "SELECT try_element_at(a, 2)")
  }

  test("r8 fuzz: concat skips NULLs, length dispatches on collections, dow/isodow") {
    // DuckDB concat stringifies and SKIPS NULLs — concat_ws('') over casts
    assert(t("SELECT concat(a, NULL, b)") ==
      "SELECT concat_ws('', CAST((a) AS STRING), CAST((NULL) AS STRING), CAST((b) AS STRING))")
    // length()/len() on a list literal → size; strings untouched
    assert(t("SELECT length([1,2])") == "SELECT size(array(1,2))")
    assert(t("SELECT len([1,2])") == "SELECT size(array(1,2))")
    assert(t("SELECT graft_len(s)") == "SELECT graft_len(s)")
    // extract dow is 0=Sunday in DuckDB (Spark's DOW is 1=Sunday — the
    // passthrough was a silent off-by-one); isodow has no Spark field
    assert(t("SELECT extract(dow FROM d)") == "SELECT graft_dow(d)")
    assert(t("SELECT extract(isodow FROM d)") ==
      "SELECT (((graft_dow(d) + 6) % 7) + 1)")
    assert(t("SELECT date_part('isodow', d)") ==
      "SELECT (((graft_dow(d) + 6) % 7) + 1)")
    assert(t("SELECT date_part('dow', d)") == "SELECT graft_dow(d)")
    // regexp_full_match emission uses || so a NULL pattern stays NULL
    assert(t("SELECT regexp_full_match(s, p)") ==
      "SELECT rlike((s), '^(?:' || (p) || ')$')")
  }

  test("r10 advice: fmod floored modulo, date_diff century/millennium floor grid") {
    // fmod takes the sign of the DIVISOR (probe: fmod(7,-2)=-1,
    // fmod(10,-3)=-2) — pmod matched only for positive divisors
    val fm = t("SELECT fmod(a, b)")
    assert(fm.contains("floor") && !fm.toLowerCase.contains("pmod"), fm)
    assert(t(fm) == fm, s"fmod emission not idempotent: $fm")
    // century/millennium crossings count on the floor grid like decade
    // (probe: date_diff('century', 1899→1900)=1, (1900→1901)=0)
    val dc = t("SELECT date_diff('century', a, b)")
    assert(dc.contains("DIV 100") && !dc.contains("ceil"), dc)
    val dm = t("SELECT date_diff('millennium', a, b)")
    assert(dm.contains("DIV 1000"), dm)
  }

  test("r10: DATE ± INTERVAL casts to TIMESTAMP, mixed/expr intervals rewritten") {
    // date-valued operands get the TIMESTAMP wrap (DuckDB returns
    // TIMESTAMP for DATE ± INTERVAL)
    assert(t("SELECT DATE '2024-01-31' + INTERVAL 1 MONTH") ==
      "SELECT CAST((DATE '2024-01-31') AS TIMESTAMP) + INTERVAL 1 MONTH")
    assert(t("SELECT current_date - INTERVAL 7 DAY") ==
      "SELECT CAST((current_date) AS TIMESTAMP) - INTERVAL 7 DAY")
    assert(t("SELECT to_date(s) + INTERVAL 1 DAY FROM t") ==
      "SELECT CAST((to_date(s)) AS TIMESTAMP) + INTERVAL 1 DAY FROM t")
    // commuted: INTERVAL + DATE
    assert(t("SELECT INTERVAL 1 DAY + DATE '2024-01-01'") ==
      "SELECT INTERVAL 1 DAY + CAST((DATE '2024-01-01') AS TIMESTAMP)")
    // typed columns stay passthrough (can't be told apart at translate
    // time — documented, same posture as DATE - DATE)
    assert(t("SELECT ts + INTERVAL 1 DAY FROM t") ==
      "SELECT ts + INTERVAL 1 DAY FROM t")
    // interval+interval arithmetic untouched
    assert(t("SELECT INTERVAL 1 DAY + INTERVAL 2 HOUR") ==
      "SELECT INTERVAL 1 DAY + INTERVAL 2 HOUR")
    // mixed month+sub-month string interval → chained single-class adds
    // (Spark rejects the mixed literal outright)
    assert(t("SELECT ts + INTERVAL '1 month 2 days' FROM t") ==
      "SELECT ((ts + INTERVAL 1 MONTH) + INTERVAL 172800000000 MICROSECOND) FROM t")
    // expression interval (DuckDB INTERVAL (e) UNIT)
    assert(t("SELECT ts + INTERVAL (n) DAY FROM t") ==
      "SELECT (ts + make_dt_interval(0, 0, 0, (n) * 86400)) FROM t")
    assert(t("SELECT ts - INTERVAL (n) MONTH FROM t") ==
      "SELECT (ts - make_ym_interval(0, (n) * 1)) FROM t")
    // unary context (no left operand) stays put
    assert(t("SELECT - INTERVAL 1 DAY") == "SELECT - INTERVAL 1 DAY")
    // emissions survive re-translation unchanged
    for (q <- Seq("SELECT DATE '2024-01-31' + INTERVAL 1 MONTH",
        "SELECT ts + INTERVAL '1 month 2 days' FROM t",
        "SELECT ts + INTERVAL (n) DAY FROM t",
        "SELECT INTERVAL 1 DAY + DATE '2024-01-01'",
        "SELECT time_bucket(INTERVAL '1 month', d) + INTERVAL 1 DAY FROM t")) {
      val once = t(q)
      assert(t(once) == once, s"not idempotent: $q -> $once -> ${t(once)}")
    }
  }

  test("r10: backslash separator escapes at the regex level only (verbatim literals)") {
    // escapedStringLiterals=true since r10: the regex still needs its own
    // escape (two backslashes = one literal), but the SCANNER chokes on a
    // backslash before the closing quote — the literal encoder hops
    // trailing backslashes out as chr(92) terms
    assert(t("SELECT splitByString('\\', s)") ==
      "SELECT split(s, (chr(92) || chr(92)))")
    assert(t("SELECT splitByChar('\\', s)") ==
      "SELECT split(s, (chr(92) || chr(92)))")
    // mixed: metachar + backslash in one separator
    assert(t("SELECT splitByString('.\\', s)") ==
      "SELECT split(s, ('\\.' || chr(92) || chr(92)))")
    // a mid-string backslash stays a plain verbatim literal
    assert(t("SELECT splitByString('a\\b', s)") ==
      "SELECT split(s, 'a\\\\b')")
  }

  test("r10 batch 9: interval constructors, mixed string interval, epoch_ms dual") {
    assert(t("SELECT to_days(3), to_years(2)") ==
      "SELECT make_interval(0, 0, 0, 3), make_interval(2)")
    assert(t("SELECT to_milliseconds(1500)") ==
      "SELECT make_interval(0, 0, 0, 0, 0, 0, CAST(1500 AS DOUBLE) / 1000.0)")
    // bare MIXED-class string interval (Spark rejects the literal)
    assert(t("SELECT INTERVAL '1 year 2 months 3 days'") ==
      "SELECT make_interval(0, 14, 0, 0, 0, 0, 259200)")
    // single-class strings parse natively and must stay raw for the
    // time_bucket/date_trunc literal scanners
    assert(t("SELECT INTERVAL '5 days'") == "SELECT INTERVAL '5 days'")
    // epoch_ms: literal-integer arg is the INVERSE direction (ms -> ts)
    assert(t("SELECT epoch_ms(1709820309000)") ==
      "SELECT timestamp_millis(1709820309000)")
    assert(t("SELECT epoch_ms(ts) FROM t") == "SELECT (graft_epoch_us(ts) DIV 1000) FROM t")
  }

  test("r10 batch 9: regexp_matches flags and format alignment specs") {
    assert(t("SELECT regexp_matches(s, p, 'i') FROM t") ==
      "SELECT rlike((s), '(?i)' || (p)) FROM t")
    // c (case-sensitive) is both engines' default — a no-op
    assert(t("SELECT regexp_matches(s, 'x', 'c') FROM t") ==
      "SELECT rlike((s), ('x')) FROM t")
    // unsupported options stay loud as a 3-arg rlike — including 'g',
    // which duck itself rejects on regexp_matches
    assert(t("SELECT regexp_matches(s, 'x', 'l') FROM t")
      .startsWith("SELECT rlike(s, 'x',"))
    assert(t("SELECT regexp_matches(s, 'x', 'g') FROM t")
      .startsWith("SELECT rlike(s, 'x',"))
    assert(t("SELECT format('{:>6}', s) FROM t") ==
      "SELECT format_string('%6s', s) FROM t")
    assert(t("SELECT format('{:06d}', n) FROM t") ==
      "SELECT format_string('%06d', n) FROM t")
    assert(t("SELECT format('{:<8s}', s) FROM t") ==
      "SELECT format_string('%-8s', s) FROM t")
    // center alignment has no Java form — stays loud
    assert(t("SELECT format('{:^6}', s) FROM t").startsWith("SELECT format("))
  }

  test("r10 batch 9: nested unnest lifts to LATERAL VIEW; bare stays explode") {
    assert(t("SELECT unnest(xs) * 2 AS u FROM t WHERE n > 3") ==
      "SELECT __graft_unn * 2 AS u FROM t  LATERAL VIEW explode(xs) __graft_unnv AS __graft_unn WHERE n > 3")
    assert(t("SELECT unnest([1,2]) + 100") ==
      "SELECT __graft_unn + 100 FROM (SELECT 1 AS __graft_one) LATERAL VIEW explode(array(1,2)) __graft_unnv AS __graft_unn")
    // bare unnest is Spark-native explode — no restructure
    assert(t("SELECT unnest(xs) FROM t") == "SELECT explode(xs) FROM t")
    assert(t("SELECT unnest(xs) AS u FROM t") == "SELECT explode(xs) AS u FROM t")
    // two unnests would ZIP in duck but cross-product as two lateral
    // views — stays loud (untranslated nested generators)
    val two = t("SELECT unnest(a) + unnest(b) FROM t")
    assert(!two.contains("LATERAL"))
  }

  test("r10 batch 10: operator spellings, GLOB classes, SIMILAR TO raw regex") {
    // Postgres-spelling LIKE operators
    assert(t("SELECT 'abc' ~~ 'a%'") == "SELECT 'abc' LIKE 'a%'")
    assert(t("SELECT s !~~ 'a%' FROM t0") == "SELECT s NOT LIKE 'a%' FROM t0")
    // ~ is duck's FULL regex match; !~ its negation
    assert(t("SELECT s ~ 'ab' FROM t0") ==
      "SELECT (rlike((s), '^(?:' || ('ab') || ')$')) FROM t0")
    assert(t("SELECT s !~ 'ab' FROM t0") ==
      "SELECT (NOT rlike((s), '^(?:' || ('ab') || ')$')) FROM t0")
    // GLOB with a character class routes through an anchored regex;
    // plain patterns keep LIKE
    assert(t("SELECT 'abc' GLOB '[ab]bc'") == "SELECT 'abc' RLIKE '^(?:[ab]bc)$'")
    assert(t("SELECT 'abc' GLOB 'a*'") == "SELECT 'abc' LIKE 'a%' ESCAPE '~'")
    assert(t("SELECT x GLOB '[!a]*.txt' FROM t0") ==
      "SELECT x RLIKE '^(?:[^a].*\\.txt)$' FROM t0")
    // SIMILAR TO is a PURE regex in duck (probed: % is NOT a wildcard)
    assert(t("SELECT 'abc' SIMILAR TO 'a.*'") == "SELECT 'abc' RLIKE '^(?:a.*)$'")
  }

  test("r10 batch 10: ARRAY[] literals and TYPE[]/TYPE[n] cast suffixes") {
    assert(t("SELECT ARRAY[1, 2]") == "SELECT array(1, 2)")
    assert(t("SELECT x::INTEGER[] FROM t0") == "SELECT x::ARRAY<INTEGER> FROM t0")
    assert(t("SELECT x::FLOAT[2] FROM t0") == "SELECT x::ARRAY<FLOAT> FROM t0")
    assert(t("SELECT CAST(x AS DECIMAL(4,2)[]) FROM t0") ==
      "SELECT CAST(x AS ARRAY<DECIMAL(4,2)>) FROM t0")
    // scalar int casts keep the rounding detour
    assert(t("SELECT x::INTEGER FROM t0") ==
      "SELECT CAST(graft_int_round((x)) AS INTEGER) FROM t0")
  }

  test("r10 batch 10: columns() inside an expression replicates the item") {
    val schema: String => Option[Seq[String]] = {
      case "t0" => Some(Seq("a", "bb"))
      case _ => None
    }
    assert(Translator.translate("SELECT count(columns(*)) FROM t0", schema).sql ==
      "SELECT count(a) AS a, count(bb) AS bb FROM t0")
    // explicit alias duplicates per match, like duck
    assert(Translator.translate("SELECT min(columns('b.*')) AS m FROM t0", schema).sql ==
      "SELECT min(bb) AS m FROM t0")
    // bare call still expands in place
    assert(Translator.translate("SELECT columns('b.*') FROM t0", schema).sql ==
      "SELECT bb FROM t0")
    assert(Translator.translate("SELECT columns(*) FROM t0", schema).sql ==
      "SELECT a, bb FROM t0")
  }

  test("r10 batch 12: in-call ORDER BY strips from order-insensitive aggregates") {
    assert(t("SELECT sum(x ORDER BY k) FROM t0") == "SELECT sum(x ) FROM t0")
    assert(t("SELECT avg(DISTINCT x ORDER BY k DESC) FROM t0") ==
      "SELECT avg(DISTINCT x ) FROM t0")
    // order-SENSITIVE heads keep their dedicated rewrites
    assert(t("SELECT any_value(x ORDER BY k) FROM t0") == "SELECT min_by(x, k) FROM t0")
    // window ORDER BY is untouched (beyond the standing NULLS LAST inject)
    assert(t("SELECT sum(x) OVER (ORDER BY k) FROM t0") ==
      "SELECT sum(x) OVER (ORDER BY k NULLS LAST) FROM t0")
  }

  test("r12: dynamic strftime patterns route through the runtime kernel") {
    // literal patterns keep the rewrite-time JDK translation; a pattern
    // EXPRESSION used to bare-rename to date_format (JDK semantics on a
    // duck %-pattern — silent wrong). Duck itself rejects non-constant
    // formats, so the kernel is a permissive superset with duck-pinned
    // specifier semantics.
    assert(t("SELECT strftime(ts, fmt_col) FROM t0") ==
      "SELECT graft_strftime(CAST((ts) AS TIMESTAMP), fmt_col) FROM t0")
    assert(t("SELECT strftime(ts, '%Y-%m')") == "SELECT date_format(ts, 'yyyy-MM')")
  }

  test("r12: date_trunc day-or-coarser gets DuckDB's DATE result shape") {
    // duck's date_trunc returns DATE for day+ units REGARDLESS of input
    // type (probed — even on TIMESTAMP); plural spellings are duck-legal
    // but a silent NULL in Spark → normalized; decade/century/millennium
    // (absent in Spark) emit duck's year-floor arithmetic (1998 → 1990 /
    // 1900 / 1000, probed)
    assert(t("SELECT date_trunc('month', ts)") ==
      "SELECT CAST(date_trunc('MONTH', ts) AS DATE)")
    assert(t("SELECT datetrunc('months', ts)") ==
      "SELECT CAST(date_trunc('MONTH', ts) AS DATE)")
    assert(t("SELECT date_trunc('decade', d)") ==
      "SELECT make_date(year(d) - pmod(year(d), 10), 1, 1)")
    assert(t("SELECT date_trunc('century', d)") ==
      "SELECT make_date(year(d) - pmod(year(d), 100), 1, 1)")
    // sub-day units are TIMESTAMP in both engines — passthrough
    assert(t("SELECT date_trunc('hour', ts)") == "SELECT date_trunc('hour', ts)")
    // already CAST-enclosed (the q50 declared form) → fixpoint skip
    assert(t("SELECT CAST(date_trunc('month', x) AS DATE)") ==
      "SELECT CAST(date_trunc('month', x) AS DATE)")
    // day+ date_trunc is date-valued → DATE−DATE integer-days rewrite
    assert(t("SELECT date_trunc('month', x) - date_trunc('month', y)") ==
      "SELECT datediff(CAST(date_trunc('MONTH', x) AS DATE), CAST(date_trunc('MONTH', y) AS DATE))")
    // r13 (VERDICT r12 #4 + ADVICE): the r12 ARGUMENT-shape skip is
    // gone — a user-written CAST(x AS TIMESTAMP) argument gets the DATE
    // shape, and the `::TIMESTAMP` spelling behaves identically (the
    // two diverged before: `::` rewrites to CAST only in the later
    // rewriteCastFuncs pass)
    assert(t("SELECT date_trunc('month', CAST(x AS TIMESTAMP))") ==
      "SELECT CAST(date_trunc('MONTH', CAST(x AS TIMESTAMP)) AS DATE)")
    assert(t("SELECT date_trunc('month', x::TIMESTAMP)") ==
      "SELECT CAST(date_trunc('MONTH', x::TIMESTAMP) AS DATE)")
    // internal-emission sentinel: an ENCLOSING CAST(… AS TIMESTAMP)
    // opts out (it is midnight-equivalent in both engines — duck casts
    // its DATE result back up)
    assert(t("SELECT CAST(date_trunc('day', x) AS TIMESTAMP)") ==
      "SELECT CAST(date_trunc('day', x) AS TIMESTAMP)")
    // the datediff month-grid emission survives a re-translate intact
    // (its date_trunc calls carry the sentinel)
    val grid = t("SELECT date_diff('month', a, b) FROM ev")
    assert(grid.contains("CAST(date_trunc('month', CAST((b) AS TIMESTAMP)) AS TIMESTAMP)"))
    assert(t(grid) == grid)
  }

  test("r12: / and % with fallible divisors take duck's NULL-on-zero try forms") {
    assert(t("SELECT a / b FROM t0") == "SELECT try_divide(a, b) FROM t0")
    assert(t("SELECT 1 / 0") == "SELECT try_divide(1, 0)")
    // provably non-zero integer literal divisors stay native operators
    assert(t("SELECT a % b, a % 3, a / 2 FROM t0") ==
      "SELECT try_mod(a, b), a % 3, a / 2 FROM t0")
    // left-associativity and multiplicative-run grouping preserved
    assert(t("SELECT a * b / c FROM t0") == "SELECT try_divide(a * b, c) FROM t0")
    assert(t("SELECT a / b / c FROM t0") ==
      "SELECT try_divide(try_divide(a, b), c) FROM t0")
    // window/FILTER suffixes stay inside the operand on either side
    assert(t("SELECT sum(x) OVER (PARTITION BY g) / cnt FROM t0") ==
      "SELECT try_divide(sum(x) OVER (PARTITION BY g), cnt) FROM t0")
    assert(t("SELECT 2 / sum(x) OVER (PARTITION BY g) FROM t0") ==
      "SELECT try_divide(2, sum(x) OVER (PARTITION BY g)) FROM t0")
    // DECIMAL risk (literal or cast) keeps the loud ANSI operator — the
    // r8 adjudication's type-shape concern, now scoped to exactly this
    assert(t("SELECT a / 2.5, CAST(a AS DECIMAL(10,2)) / b FROM t0") ==
      "SELECT a / 2.5, CAST(a AS DECIMAL(10,2)) / b FROM t0")
    // r13 (r12 ADVICE): scientific literals are DOUBLE in duck, not
    // DECIMAL — they no longer suppress the try forms
    assert(t("SELECT a % 0.0e0, a / 2.5e0, b / 1e3 FROM t0") ==
      "SELECT try_mod(a, 0.0e0), try_divide(a, 2.5e0), try_divide(b, 1e3) FROM t0")
  }

  test("r13: round dispatch — DECIMAL keeps Spark round, doubles take duck's FP kernel") {
    // DECIMAL operand: Spark's decimal round matches duck's exact
    // half-away, and the r12 0.0e0 NaN guard coerced the result to
    // DOUBLE — silent precision loss past 2^53 (r12 ADVICE, medium);
    // DECIMAL-risk operands keep plain round with parenthesized digits
    assert(t("SELECT round(CAST(a AS DECIMAL(30,4)), -2) FROM t0") ==
      "SELECT round(CAST(a AS DECIMAL(30,4)), (-2)) FROM t0")
    // non-decimal: graft_round_dbl is duck's std::round(x·10^n)/10^n on
    // the FP product (r13 dec fuzz) — its negative branch returns 0 for
    // NaN/±inf, subsuming the r12 CASE guard
    assert(t("SELECT round(a, -2) FROM t0") ==
      "SELECT graft_round_dbl(a, -2) FROM t0")
    assert(t("SELECT round(a, 4) FROM t0") ==
      "SELECT graft_round_dbl(a, 4) FROM t0")
    assert(t("SELECT round(a) FROM t0") ==
      "SELECT graft_round_dbl(a) FROM t0")
    // integral-marker shapes keep the round( spelling (the engine's own
    // already-integral marker for the int-cast-rounding skip)
    assert(t("SELECT CAST(round(a DIV 7) AS INT) FROM t0") ==
      "SELECT CAST(round(a DIV 7) AS INT) FROM t0")
  }

  test("r12: catalog-typed resolution — strict date minus, string cols, decimal divide") {
    val types = Translator.ColTypes(
      isDateCol = (chain, strict) => chain match {
        case "d1" | "t1.d1" => true // DATE in every defining table
        case "amb" => !strict // DATE in one table, TIMESTAMP in another
        case "t2.amb" => true // table-exact: DATE in t2
        case _ => false
      },
      isStringCol = c => c == "s1" || c == "t1.s1",
      isDecimalCol = c => c == "dec1")
    def tt(sql: String) = Translator.translate(sql, _ => None, types).sql
    // strict minus: unambiguous DATE column → integer days; a name that
    // is non-DATE in some visible table stays untouched (advice r11 — a
    // loose lookup silently datediff'd the TIMESTAMP twin)
    assert(tt("SELECT d1 - d1 FROM t1") == "SELECT datediff(d1, d1) FROM t1")
    assert(tt("SELECT amb - amb FROM t1") == "SELECT amb - amb FROM t1")
    // the ± INTERVAL cast keeps the loose lookup (collision cost is a
    // no-op CAST to TIMESTAMP)
    assert(tt("SELECT amb + INTERVAL 1 DAY FROM t1")
      .contains("CAST((amb) AS TIMESTAMP)"))
    // qualified by a known table → exact resolution beats ambiguity
    assert(tt("SELECT t2.amb - t2.amb FROM t2") ==
      "SELECT datediff(t2.amb, t2.amb) FROM t2")
    // time_bucket on a DATE-typed COLUMN now gets the DATE result shape
    assert(tt("SELECT time_bucket(INTERVAL '7 days', d1) FROM t1")
      .contains("AS DATE) FROM t1"))
    // string-typed column subscripts/slices route through the r12 kernels
    assert(tt("SELECT s1[2], s1[2:4], s1[3:] FROM t1") ==
      "SELECT graft_str_index(s1, 2), graft_str_slice(s1, 2, 4), " +
        "graft_str_slice(s1, 3, 9223372036854775807) FROM t1")
    assert(tt("SELECT array_slice(s1, 2, 4) FROM t1") ==
      "SELECT graft_str_slice(s1, 2, 4) FROM t1")
    // literal NULL bounds fold straight to the typed NULL
    assert(tt("SELECT s1[NULL:3] FROM t1") ==
      "SELECT CAST(NULL AS STRING) FROM t1")
    // DECIMAL-typed operand suppresses the try_divide rewrite
    assert(tt("SELECT dec1 / n FROM t1") == "SELECT dec1 / n FROM t1")
    assert(tt("SELECT n / dec1 FROM t1") == "SELECT n / dec1 FROM t1")
  }

  test("r13 dec fuzz: hugeint-spelled // routes to the exact kernel, decimal-spelled stays double") {
    // HUGEINT cast spelling → exact INT128-style kernel
    val h = t("SELECT CAST('99999999999999999999' AS HUGEINT) // 3 FROM t")
    assert(h.contains("graft_intdiv_exact("), h)
    // nested chains keep the exact kernel on the OUTER link too (the
    // lex round-trip used to flatten the rename's single-token
    // DECIMAL(38,0) into the user spelling and mis-route to double)
    val nested = t("SELECT (CAST(x AS HUGEINT) // 3) // 3 FROM t")
    assert(nested.indexOf("graft_intdiv_exact(") >= 0 &&
      nested.indexOf("graft_intdiv_exact(",
        nested.indexOf("graft_intdiv_exact(") + 1) > 0, nested)
    assert(!nested.contains("graft_intdiv("), nested)
    // >19-digit bare literal is HUGEINT in duck
    assert(t("SELECT 99999999999999999999999 // -7")
      .contains("graft_intdiv_exact("))
    // r14 (r13 ADVICE): 19-digit literals ABOVE bigint max are HUGEINT
    // too (9223372036854775808..9999999999999999999); at or below stay
    // BIGINT and keep the long-division kernel
    assert(t("SELECT 9223372036854775808 // 3")
      .contains("graft_intdiv_exact("))
    assert(t("SELECT 9999999999999999999 // 7")
      .contains("graft_intdiv_exact("))
    assert(t("SELECT 9223372036854775807 // 3")
      .contains("graft_intdiv(") )
    // DECIMAL(38,0) is the HUGEINT image: exact semantics, however
    // spelled (the one reading that survives translate∘translate —
    // SURVEY register); any other precision keeps duck's double //
    assert(t("SELECT CAST(x AS DECIMAL(38,0)) // 3 FROM t")
      .contains("graft_intdiv_exact("))
    assert(t("SELECT CAST(x AS DECIMAL(38,1)) // 3 FROM t")
      .contains("graft_intdiv(") )
    // dotted-literal risk alongside a hugeint operand → double too
    assert(t("SELECT CAST(x AS HUGEINT) // 2.5 FROM t")
      .contains("graft_intdiv("))
    // idempotence of both emissions
    for (q <- Seq(h, nested)) assert(t(q) == q, s"not idempotent: $q")
  }

  test("r14: dynamic LIKE patterns neutralize Spark's default backslash escape") {
    // duck's LIKE has no default escape — a backslash in a column-valued
    // pattern is ordinary; the rewrite flips the escape char to '~'
    // (neutralizing runtime '~'s by doubling) and the ESCAPE clause is
    // the processed marker (fixpoint)
    val d = t("SELECT x LIKE (p || '%') FROM t")
    assert(d.contains("replace(((p || '%')), '~', '~~') ESCAPE '~'"), d)
    assert(t(d) == d, s"not idempotent: ${t(d)}")
    // user-written ESCAPE skips the rewrite (both engines honor it)
    val e = t("SELECT x LIKE p ESCAPE '!' FROM t")
    assert(!e.contains("replace("), e)
    // literal patterns keep the r13 char-class ESCAPE path
    val l = t("SELECT x LIKE 'a\\_c' FROM t")
    assert(l.contains("ESCAPE") && !l.contains("replace("), l)
    // NOT LIKE and bare-ident dynamic patterns too
    val n = t("SELECT x NOT LIKE p FROM t")
    assert(n.contains("NOT LIKE replace((p), '~', '~~') ESCAPE '~'"), n)
  }

  test("r14: DECIMAL(38,s)-mix comparisons pre-widen both sides (dec3.18)") {
    // Spark's comparison coercion at the p=38 cap reduces scale (compares
    // truncated values) where duck compares exactly — both sides wrap to
    // the max scale, meeting at one type with no coercion
    val c = t("SELECT CAST(a AS DECIMAL(38,1)) < CAST(b AS DECIMAL(38,6)) FROM t")
    assert("graft_dec_cast\\(\\(".r.findAllIn(c).size == 2, c)
    assert(", 38, 6\\)".r.findAllIn(c).size == 2, c)
    // idempotent (fixpoint): both sides now show max scale 6
    assert(t(c) == c, s"not idempotent: ${t(c)}")
    // equal scales: untouched
    val eq = t("SELECT CAST(a AS DECIMAL(38,2)) >= CAST(b AS DECIMAL(38,2)) FROM t")
    assert(!eq.contains("38, 2)), 38,"), eq)
    // sub-38 precision never reaches the cap: untouched
    val p20 = t("SELECT CAST(a AS DECIMAL(20,1)) < CAST(b AS DECIMAL(20,6)) FROM t")
    assert(p20 == "SELECT CAST(a AS DECIMAL(20,1)) < CAST(b AS DECIMAL(20,6)) FROM t", p20)
    // boundary keywords fence the operand walk (the WHEN condition ends
    // at THEN; the comparison inside stays scoped)
    val cse = t("SELECT CASE WHEN CAST(a AS DECIMAL(38,1)) = CAST(b AS DECIMAL(38,6)) " +
      "THEN 1 ELSE 0 END FROM t")
    assert(cse.contains("38, 6)"), cse)
    assert(cse.contains("THEN 1 ELSE 0 END"), cse)
    // r15 (ADVICE r14 #3): an inner 38-spelling under a type-changing
    // wrapper is NOT the operand's producer — the DOUBLE-typed left side
    // must stay an exact DOUBLE comparison, not get re-wrapped into a
    // rounding DECIMAL one
    val dbl = t("SELECT CAST(CAST(a AS DECIMAL(38,6)) AS DOUBLE) > CAST(b AS DECIMAL(38,1)) FROM t")
    assert(!dbl.contains("38, 6)"), dbl)
    // arithmetic over a head cast is not a head cast either — conservative
    val arith = t("SELECT CAST(a AS DECIMAL(38,6)) + 1 > CAST(b AS DECIMAL(38,1)) FROM t")
    assert(!arith.contains("graft_dec_cast((CAST(a AS DECIMAL(38,6)) + 1"), arith)
    // parenthesized head producers still fire
    val par = t("SELECT (CAST(a AS DECIMAL(38,1))) < (CAST(b AS DECIMAL(38,6))) FROM t")
    assert(", 38, 6\\)".r.findAllIn(par).size == 2, par)
  }

  test("r13 dec fuzz: risky DECIMAL-target casts take the graft_dec_cast kernel") {
    // decimal literal operand, explicit CAST
    assert(t("SELECT CAST(2.555 AS DECIMAL(38,2))") ==
      "SELECT graft_dec_cast((2.555), 38, 2)")
    // TRY_CAST twin
    assert(t("SELECT TRY_CAST((-3.105 - 0.07) AS DECIMAL(6,2))") ==
      "SELECT graft_dec_cast_try(((-3.105 - 0.07)), 6, 2)")
    // :: suffix spelling (Spark parses :: natively — must be rewritten)
    assert(t("SELECT 2.555::DECIMAL(8,1)") ==
      "SELECT graft_dec_cast((2.555), 8, 1)")
    // bare DECIMAL target is duck's (18,3) default
    assert(t("SELECT CAST(1.5 AS DECIMAL)") ==
      "SELECT graft_dec_cast((1.5), 18, 3)")
    // non-risky operand (plain column) keeps the native Cast…
    assert(t("SELECT CAST(price AS DECIMAL(18,2)) FROM t") ==
      "SELECT CAST(price AS DECIMAL(18,2)) FROM t")
    // …and a bare-DECIMAL target still gets duck's default via the
    // type-name rename
    assert(t("SELECT CAST(price AS DECIMAL) FROM t") ==
      "SELECT CAST(price AS DECIMAL(18,3)) FROM t")
    // idempotence
    val q = t("SELECT CAST(CAST(1.256 AS DECIMAL(8,3)) AS DECIMAL(8,1))")
    assert(t(q) == q, s"not idempotent: $q")
  }

  test("r13 dec fuzz: greatest/least over decimals wrap args in CAST AS DOUBLE") {
    val g = t("SELECT greatest(CAST(a AS DECIMAL(12,0)), 1.25) FROM t")
    assert(g == "SELECT greatest(CAST((CAST(a AS DECIMAL(12,0))) AS DOUBLE), " +
      "CAST((1.25) AS DOUBLE)) FROM t", g)
    assert(t(g) == g, s"not idempotent: $g")
    // hugeint-only operands stay exact (duck keeps HUGEINT for those)
    val h = t("SELECT least(CAST(a AS HUGEINT), CAST(b AS HUGEINT)) FROM t")
    assert(!h.contains("AS DOUBLE"), h)
    // non-decimal args untouched
    assert(t("SELECT greatest(a, b) FROM t") == "SELECT greatest(a, b) FROM t")
  }

  test("r13 dec fuzz: avg over decimal/hugeint splits into sum/count at DOUBLE") {
    val a = t("SELECT avg(CAST(v AS DECIMAL(18,2))) FROM t")
    assert(a == "SELECT CAST(try_divide(sum(CAST(v AS DECIMAL(18,2))), " +
      "count(CAST(v AS DECIMAL(18,2)))) AS DOUBLE) FROM t", a)
    assert(t(a) == a, s"not idempotent: $a")
    // DISTINCT carries through to both halves
    val d = t("SELECT avg(DISTINCT CAST(v AS DECIMAL(4,1))) FROM t")
    assert(d.contains("sum(DISTINCT") && d.contains("count(DISTINCT"), d)
    // window suffix is replicated on both halves
    val w = t("SELECT avg(CAST(v AS DECIMAL(4,1))) OVER (PARTITION BY g) FROM t")
    assert(w.contains("sum(CAST(v AS DECIMAL(4,1))) OVER (PARTITION BY g)") &&
      w.contains("count(CAST(v AS DECIMAL(4,1))) OVER (PARTITION BY g)"), w)
    // FILTER suffix too
    val f = t("SELECT avg(CAST(v AS DECIMAL(4,1))) FILTER (WHERE v > 0) FROM t")
    assert(f.contains("sum(CAST(v AS DECIMAL(4,1))) FILTER (WHERE v > 0)") &&
      f.contains("count(CAST(v AS DECIMAL(4,1))) FILTER (WHERE v > 0)"), f)
    // hugeint input also (duck's avg(HUGEINT) is DOUBLE)
    assert(t("SELECT avg(CAST(v AS HUGEINT)) FROM t").contains("try_divide("))
    // plain double/int avg untouched
    assert(t("SELECT avg(v) FROM t") == "SELECT avg(v) FROM t")
  }

  test("r13: TSTZ-flavored date_diff floors, chained AT TIME ZONE inverts") {
    // duck's sub-day date_diff grids differ by FLAVOR: naive truncates
    // each side toward zero, TSTZ floors on the session calendar (they
    // agree for positive epochs; pre-epoch values diverge by one) —
    // to_timestamp()/timezone() producers are visible at token level
    val f = t("SELECT date_diff('minute', to_timestamp(-1), ts) FROM events")
    assert(f.contains("pmod("), f)
    val n = t("SELECT date_diff('minute', a, b) FROM events")
    assert(!n.contains("pmod("), n)
    // chained AT TIME ZONE: the parenthesized inner producer makes the
    // outer operand TSTZ-flavored → inverse dispatch (from_utc)
    val c = t("SELECT (x AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo' FROM t")
    assert(c.contains("from_utc_timestamp(") && c.contains("to_utc_timestamp("), c)
    assert(t(c) == c, s"not idempotent: $c")
  }

  test("r13: TSTZ mixed-interval subtract applies micros before months") {
    // duck's TSTZ subtract is the exact inverse of add (micros → days →
    // months); naive subtract and all adds go months-first — probed:
    // TSTZ Dec 31 − '1 mon 2 days' = Nov 29, naive = Nov 28
    val z = t("SELECT timezone('UTC', x) - INTERVAL '1 month 2 days' FROM t")
    assert(z.contains("INTERVAL 172800000000 MICROSECOND) - INTERVAL 1 MONTH"), z)
    val n = t("SELECT x - INTERVAL '1 month 2 days' FROM t")
    assert(n.contains("INTERVAL 1 MONTH) - INTERVAL 172800000000 MICROSECOND"), n)
    // add keeps months-first even on TSTZ
    val a = t("SELECT timezone('UTC', x) + INTERVAL '1 month 2 days' FROM t")
    assert(a.contains("INTERVAL 1 MONTH) + INTERVAL 172800000000 MICROSECOND"), a)
    for (q <- Seq(z, n, a)) assert(t(q) == q, s"not idempotent: $q")
  }

  test("r13 string scout: LIKE backslash, split_part empty sep, parse_path family") {
    // duck's LIKE has no default escape — a literal pattern containing a
    // backslash gets an ESCAPE clause with an absent character, so Spark
    // treats the backslash as ordinary like duck does
    val l = t("SELECT 'a_c' LIKE 'a\\_c'")
    assert(l.contains("ESCAPE '~'"), l)
    assert(t(l) == l, s"not idempotent: $l")
    // no backslash → untouched; explicit ESCAPE → untouched
    assert(t("SELECT x LIKE 'a_c' FROM t") == "SELECT x LIKE 'a_c' FROM t")
    assert(t("SELECT x LIKE 'a\\_c' ESCAPE 'z' FROM t") ==
      "SELECT x LIKE 'a\\_c' ESCAPE 'z' FROM t")
    // empty separator splits into characters (duck), OOR/NULL → ''
    val sp = t("SELECT split_part(s, '', 2) FROM t")
    assert(sp.contains("try_element_at(split(s, ''), 2)"), sp)
    assert(t(sp) == sp, s"not idempotent: $sp")
    // parse_path family resolves loudly before — capture-proof emissions
    val pp = t("SELECT parse_path(p), parse_filename(p, true), parse_dirname(p) FROM t")
    assert(pp.contains("array_insert(") && pp.contains("regexp_extract(") &&
      pp.contains("get(filter("), pp)
    assert(t(pp) == pp, s"not idempotent: $pp")
  }

  test("r10 batch 9: generate_series over dates becomes explode(sequence)") {
    assert(t("SELECT * FROM generate_series(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY) AS t(d)") ==
      "SELECT * FROM explode(sequence(CAST(DATE '2024-01-01' AS TIMESTAMP), CAST(DATE '2024-01-04' AS TIMESTAMP), INTERVAL 1 DAY)) AS t(d)")
    // integer form keeps the native range() TVF (end made inclusive)
    assert(t("SELECT * FROM generate_series(1, 5) AS t(g)") ==
      "SELECT * FROM range(1, (5) + 1) AS t(g)")
  }
}
