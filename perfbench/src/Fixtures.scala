package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import java.io.File

/** Deterministic sf0.1-sized copy of the project's synthetic test tables
  * (TESTDATA.md / FIXTURES.md §A): same table names, column names, types,
  * row counts and value ranges, one parquet file per table. Every value is
  * a hash of the row id, so the files are identical on every machine and
  * independent of the workload seed. */
object Fixtures {

  /** Bump when the generated data changes, so cached copies are rebuilt. */
  val version = "2"

  private def u(salt: Int, m: Long): String = s"pmod(xxhash64(id, $salt), $m)"

  private def pick(salt: Int, values: String*): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), CAST(${u(salt, values.size)} AS INT) + 1)"

  private val words = Seq("a", "the", "spark", "query", "table", "scan", "sort", "hash", "join",
    "group", "agg", "filter", "window", "stream", "batch", "vector", "column", "row", "key",
    "value", "order", "part", "line", "customer", "data", "merge", "fast", "slow", "big", "small")

  private def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def rows(n: Long) = spark.range(0, n, 1, 4)
    Seq(
      "region" -> spark.range(0, 5, 1, 1).selectExpr("CAST(id AS INT) AS r_regionkey",
        "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name"),
      "nation" -> spark.range(0, 25, 1, 1).selectExpr("CAST(id AS INT) AS n_nationkey",
        "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"),
      "customer" -> rows(15000).selectExpr("id AS c_custkey",
        "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
        s"CAST(${u(1, 25)} AS INT) AS c_nationkey",
        s"CAST(round((${u(2, 1099966)} - 99985) / 100.0, 2) AS DOUBLE) AS c_acctbal",
        s"${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} AS c_mktsegment"),
      "supplier" -> rows(1000).selectExpr("id AS s_suppkey",
        "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
        s"CAST(${u(4, 25)} AS INT) AS s_nationkey",
        s"CAST(round((${u(5, 1096406)} - 97602) / 100.0, 2) AS DOUBLE) AS s_acctbal"),
      "part" -> rows(20000).selectExpr("id AS p_partkey",
        s"concat(${pick(6, "blue", "cold", "hot", "new", "old", "red", "small", "large")}, ' ', " +
          s"${pick(7, "anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")}) AS p_name",
        s"concat('Brand#', ${u(8, 25)} + 1) AS p_brand",
        s"${pick(9, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")} AS p_type",
        s"CAST(${u(10, 50)} + 1 AS INT) AS p_size",
        "CAST(900 + (id % 1000) / 10.0 AS DOUBLE) AS p_retailprice"),
      "orders" -> rows(150000).selectExpr("id AS o_orderkey",
        s"${u(11, 15000)} AS o_custkey",
        s"${pick(12, "F", "O", "P")} AS o_orderstatus",
        s"CAST(round(1000 + ${u(13, 49899200)} / 100.0, 2) AS DOUBLE) AS o_totalprice",
        s"CAST(date_add(DATE'1995-01-01', CAST(${u(14, 2404)} AS INT)) AS TIMESTAMP) AS o_orderdate",
        s"${pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} AS o_orderpriority"),
      "lineitem" -> rows(600000).selectExpr(s"${u(16, 150000)} AS l_orderkey",
        s"${u(17, 20000)} AS l_partkey", s"${u(18, 1000)} AS l_suppkey",
        s"CAST(${u(19, 7)} + 1 AS INT) AS l_linenumber",
        s"CAST(${u(20, 50)} + 1 AS DOUBLE) AS l_quantity",
        s"CAST(round((${u(20, 50)} + 1) * (900 + ${u(21, 1200)} / 10.0), 2) AS DOUBLE) AS l_extendedprice",
        s"CAST(${u(22, 11)} / 100.0 AS DOUBLE) AS l_discount", s"CAST(${u(23, 9)} / 100.0 AS DOUBLE) AS l_tax",
        s"${pick(24, "A", "N", "R")} AS l_returnflag", s"${pick(25, "F", "O")} AS l_linestatus",
        s"CAST(date_add(DATE'1995-01-02', CAST(${u(26, 2498)} AS INT)) AS TIMESTAMP) AS l_shipdate"),
      "events" -> rows(100000).selectExpr("id AS event_id",
        s"timestamp_micros(1704067200000000 + id * 25920000 + ${u(27, 25920000)}) AS ts",
        s"${u(28, 1500)} AS user_id",
        s"${pick(29, "click", "error", "purchase", "signup", "view")} AS event_type",
        s"CAST(round(${u(30, 56022)} / 100.0, 2) AS DOUBLE) AS value",
        s"concat('{\"k\": ', ${u(31, 100)}, '}') AS props"),
      "documents" -> rows(5000).selectExpr("id AS doc_id",
        s"concat_ws(' ', transform(sequence(1, CAST(${u(32, 90)} AS INT) + 8), " +
          s"i -> element_at(array(${words.map(w => s"'$w'").mkString(", ")}), " +
          s"CAST(pmod(xxhash64(id, i), ${words.size}) AS INT) + 1))) AS text",
        s"${pick(33, "de", "en", "en", "en", "es", "fr", "zh")} AS lang",
        s"concat('src', ${u(34, 20)}) AS source")
        .withColumn("n_chars", expr("CAST(length(text) AS BIGINT)")),
      "embeddings" -> rows(2000).selectExpr("id AS vec_id",
        "transform(sequence(0, 63), i -> CAST((pmod(xxhash64(id, i), 8001) - 4000) / 20000.0 AS FLOAT)) AS embedding",
        s"CAST(${u(35, 10)} AS INT) AS label"))
  }

  /** Writes `<dir>/<table>.parquet` for every table unless `<dir>` already
    * holds this [[version]]. */
  def ensure(spark: SparkSession, dir: File): Unit = {
    val stamp = new File(dir, "VERSION")
    if (stamp.isFile && new String(java.nio.file.Files.readAllBytes(stamp.toPath)).trim == version)
      return
    deleteTree(dir)
    dir.mkdirs()
    tables(spark).foreach { case (name, df) =>
      val tmp = new File(dir, s"_$name")
      df.coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
      deleteTree(tmp)
    }
    java.nio.file.Files.write(stamp.toPath, version.getBytes)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}
