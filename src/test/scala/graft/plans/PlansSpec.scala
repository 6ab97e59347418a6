package graft.plans

import graft.SparkTestBase

class PlansSpec extends SparkTestBase {

  test("date_trunc-then-date-cast rewrites to trunc-of-date-cast at day-or-coarser units") {
    val df = spark.sql(
      "SELECT CAST(date_trunc('month', TIMESTAMP '2024-03-17 13:45:09') AS DATE) AS m")
    val plan = df.queryExecution.optimizedPlan.toString
    // constant-folded or not, no timestamp-domain truncation may remain
    assert(!plan.contains("date_trunc("), s"TruncTimestamp survived:\n$plan")
  }

  test("rewrite preserves values across units and edge dates") {
    val cases = Seq(
      ("year", "2024-03-17 13:45:09", "2024-01-01"),
      ("quarter", "2024-11-30 23:59:59", "2024-10-01"),
      ("month", "2024-02-29 00:00:00", "2024-02-01"),
      ("week", "2024-01-01 00:00:00", "2024-01-01"), // Monday
      ("week", "2024-01-07 10:00:00", "2024-01-01"),
      ("day", "2023-12-31 23:59:59", "2023-12-31"))
    cases.foreach { case (unit, ts, want) =>
      // non-literal input so the rewrite (not constant folding) is on the
      // execution path
      val got = spark.sql(
        s"SELECT CAST(date_trunc('$unit', ts) AS DATE) AS d FROM (SELECT TIMESTAMP '$ts' AS ts UNION ALL SELECT TIMESTAMP '$ts') LIMIT 1")
        .head.getDate(0).toString
      assert(got == want, s"unit=$unit ts=$ts: got $got want $want")
    }
  }

  test("rewrite fires on the declared q50 shape and the plan shows trunc-of-date") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val df = graft.engine.Engine.sql(spark,
      "SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mon, count(*) AS c FROM lineitem GROUP BY mon ORDER BY mon")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("trunc(cast(") && plan.contains("as date), month)"),
      s"expected trunc-of-date-cast:\n$plan")
    assert(!plan.contains("date_trunc("), s"TruncTimestamp survived:\n$plan")
    assert(df.count() > 0)
  }

  test("sub-day units are left untouched") {
    val df = spark.sql(
      "SELECT CAST(date_trunc('hour', ts) AS DATE) AS d FROM (SELECT TIMESTAMP '2024-03-17 13:45:09' AS ts UNION ALL SELECT TIMESTAMP '2024-03-17 15:45:09') LIMIT 1")
    assert(df.head.getDate(0).toString == "2024-03-17")
  }

  test("ProjectAfterTopK defers computed aliases past the top-k") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val df = spark.sql(
      "SELECT o_orderkey, try_cast(substr(o_orderpriority, 1, 1) AS INT) AS d FROM orders ORDER BY o_orderkey LIMIT 5")
    val physical = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def castsHere(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.expressions.exists(_.toString.contains("try_cast"))
    val topK = physical.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.getOrElse(fail(s"no TakeOrderedAndProject:\n$physical"))
    // the alias is evaluated on the top-k rows only: in the top-k's
    // project list or above it, never below it
    assert(!topK.child.exists(castsHere), s"try_cast below the top-k:\n$physical")
    assert(physical.exists(castsHere), s"try_cast missing:\n$physical")
    // values identical to computing over the already-limited rows
    val got = df.collect().map(r => (r.getLong(0), r.get(1))).toSeq
    val want = spark.sql(
      "SELECT o_orderkey, try_cast(substr(o_orderpriority, 1, 1) AS INT) AS d " +
        "FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)")
      .collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("ProjectAfterTopK leaves sorts on computed columns alone") {
    graft.engine.Engine.registerTables(spark, sfDir)
    // the sort key IS the computed alias — must stay below the sort
    val df = spark.sql(
      "SELECT o_orderkey, length(o_orderpriority) AS l FROM orders ORDER BY l, o_orderkey LIMIT 5")
    assert(df.collect().length == 5)
    // nondeterministic aliases must not move either
    val nd = spark.sql(
      "SELECT o_orderkey, rand() AS r FROM orders ORDER BY o_orderkey LIMIT 5")
    val opt = nd.queryExecution.optimizedPlan
    val outer = opt match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.projectList.mkString
      case _ => ""
    }
    assert(!outer.contains("rand("), s"nondeterministic alias moved:\n$opt")
  }

  test("DecDownscaleCast: coercion-inserted decimal downcasts truncate (r16 default)") {
    // resolution-time rule (session extensions): the CASE unifies the
    // literal branch at scale 2. r16 re-pin (VERDICT r15 #1a —
    // MEASURED): the q236-q241 fingerprint vector uniquely matched
    // the TRUNCATE row; -0.125 → -0.12 under truncate too (toward
    // zero), 2.555 → 2.55 is the cell where truncate and every
    // rounding policy disagree.
    graft.engine.Engine.registerTables(spark, sfDir)
    val caseSql =
      "SELECT CAST(CASE WHEN o_orderkey % 3 = 0 THEN CAST(-0.125 AS DECIMAL(6,3)) % CAST(2.5 AS DECIMAL(2,1)) " +
        "ELSE CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(38,2)) END AS STRING) AS c " +
        "FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey LIMIT 1"
    val v = spark.sql(caseSql).head.getString(0)
    assert(v == "-0.12", s"coercion downscale not truncate: $v")
    // explicit API-level downscale cast too (no translator in this path)
    val e = spark.sql("SELECT CAST(CAST(2.555 AS DECIMAL(6,3)) AS DECIMAL(6,2))")
      .head.getDecimal(0).toPlainString
    assert(e == "2.55", s"explicit downscale not truncate: $e")
    // the 1.0.0 replica truncates too
    spark.conf.set("spark.graft.replicaMode", "true")
    try {
      assert(spark.sql(caseSql).head.getString(0) == "-0.12")
      assert(spark.sql("SELECT CAST(CAST(2.555 AS DECIMAL(6,3)) AS DECIMAL(6,2))")
        .head.getDecimal(0).toPlainString == "2.55")
    } finally spark.conf.unset("spark.graft.replicaMode")
  }

  test("NestedCompare: duck's context-sensitive nested comparison semantics (r15)") {
    graft.engine.Engine.registerTables(spark, sfDir)
    def one(sql: String): org.apache.spark.sql.Row =
      graft.engine.Engine.sql(spark, sql).head
    // VALUE context: three-valued walk — unknown at the first NULL
    // even when a later position could decide; decisive earlier
    // position wins; length decides without touching NULLs
    val v = one("SELECT ([1, NULL] = [1, NULL]) AS a, ([NULL, 1] = [NULL, 2]) AS b, " +
      "([1, NULL] = [2, NULL]) AS c, ([1] < [1, NULL]) AS d, " +
      "({'a': [1, NULL]} = {'a': [1, NULL]}) AS e")
    assert(v.isNullAt(0) && v.isNullAt(1) && !v.getBoolean(2) &&
      v.getBoolean(3) && v.isNullAt(4), v.toString)
    // MAP comparisons: order-sensitive entry-list walk (Spark native
    // refuses maps outright)
    val m = one("SELECT (MAP {'a': 1, 'b': 2} = MAP {'b': 2, 'a': 1}) AS a, " +
      "(MAP {'a': 1, 'b': 9} < MAP {'b': 0}) AS b, " +
      "(MAP {'a': 1} IS NOT DISTINCT FROM MAP {'a': 1}) AS c")
    assert(!m.getBoolean(0) && m.getBoolean(1) && m.getBoolean(2), m.toString)
    // SELECT context: CASE predicates match NULLs-equal and rank
    // inner NULLs HIGH
    val s = one("SELECT CASE WHEN [1, NULL] = [1, NULL] THEN 1 ELSE 0 END AS a, " +
      "CASE WHEN [0, 1] < [0, NULL] THEN 1 ELSE 0 END AS b")
    assert(s.getInt(0) == 1 && s.getInt(1) == 1, s.toString)
    // fold split: constant WHERE folds 3VL (0 rows), column-dependent
    // twin takes the Select path (all rows)
    assert(one("SELECT count(*) AS n FROM orders WHERE ([NULL, 5] > [9, 1]) " +
      "AND o_orderkey < 8").getLong(0) == 0L)
    assert(one("SELECT count(*) AS n FROM orders " +
      "WHERE ([NULL, 5 + o_orderkey * 0] > [9, 1]) AND o_orderkey < 8").getLong(0) == 8L)
    // list_contains matches entries NULLs-equal; list_sort ranks
    // inner NULLs high
    val c = one("SELECT list_contains([[1, NULL]], [1, NULL]) AS a, " +
      "array_to_string(list_transform(list_sort([[1, NULL], [NULL], [1, 2]]), " +
      "x -> array_to_string(list_transform(x, e -> coalesce(e, -9)), '+')), ';') AS b")
    assert(c.getBoolean(0) && c.getString(1) == "1+2;1+-9;-9", c.toString)
    // SCALE: a join keyed on nested equality keeps an equi-join plan
    // (native EqualTo = duck's Select semantics) — no nested-loop
    val j = graft.engine.Engine.sql(spark,
      "SELECT a.k AS ak FROM (SELECT o_orderkey AS k, [o_orderkey % 3, NULL] AS g " +
        "FROM orders WHERE o_orderkey < 8) a JOIN " +
        "(SELECT o_orderkey AS k, [o_orderkey % 3, NULL] AS g " +
        "FROM orders WHERE o_orderkey < 8) b ON a.g = b.g")
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"nested-keyed join lost its equi shape:\n$phys")
    assert(j.count() > 8, "nested-keyed join should match nulls-equal")
  }

  test("FloorCeilToDbl: floor/ceil over doubles stay DOUBLE like duck (r13)") {
    graft.engine.Engine.registerTables(spark, sfDir)
    // duck renders ceil(double) as '-3.0' through string surfaces;
    // Spark's LONG result rendered '-3'
    val v = spark.sql(
      "SELECT CAST(ceil(CAST(o_totalprice AS DOUBLE) * 0 - 2.5) AS STRING) AS s " +
        "FROM orders LIMIT 1").head.getString(0)
    assert(v == "-2.0", s"ceil(double) not duck-typed: $v")
    val f = spark.sql("SELECT floor(CAST(1.5 AS DOUBLE))").head
    assert(f.schema.head.dataType.typeName == "double", f.schema.treeString)
    // DECIMAL floor keeps Spark's DECIMAL(p,0) (matches duck)
    val d = spark.sql("SELECT floor(CAST(1.5 AS DECIMAL(4,1)))").head
    assert(d.schema.head.dataType.typeName.startsWith("decimal"), d.schema.treeString)
  }

  test("DoubleCastToDuckStr: double→string renders duck's plain form (r13)") {
    graft.engine.Engine.registerTables(spark, sfDir)
    // column-bearing: the rule rewrites the Cast before execution
    val v = spark.sql(
      "SELECT CAST(CAST(o_totalprice AS DOUBLE) * 0 + 12345678.5 AS STRING) AS s " +
        "FROM orders LIMIT 1").head.getString(0)
    assert(v == "12345678.5", s"double rendering not duck-form: $v")
    // resolution placement folds literal-only casts with duck form too
    val lit = spark.sql("SELECT CAST(CAST(12345678.5 AS DOUBLE) AS STRING)")
      .head.getString(0)
    assert(lit == "12345678.5", s"literal fold not duck-form: $lit")
  }
}
