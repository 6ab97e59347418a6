package graft.tools

import graft.DeclaredQueries
import graft.dialect.Translator
import java.io.File

/** Dev aid and byte-identity check for the translator: print the Spark SQL
  * of every declared DuckDB query and of every non-comment line of
  * `dev/diff_probe_*.txt`, each translated twice — schema-less, and with
  * the fixed [[catalog]] resolvers so the schema-aware branches run.
  * Dumps taken before and after a translator refactor must `cmp` equal.
  *
  * Run: `sbt "runMain graft.tools.DumpTranslations" > dump.txt` (from the
  * repo root, so the probe files are found). */
object DumpTranslations {

  /** Fixed test-table catalog: column → type class. */
  private val catalog: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "int", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "decimal", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "int", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "decimal"),
    "part" -> Seq("p_partkey" -> "int", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "decimal"),
    "orders" -> Seq("o_orderkey" -> "int", "o_custkey" -> "int", "o_orderstatus" -> "string",
      "o_totalprice" -> "decimal", "o_orderdate" -> "date", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
      "l_linenumber" -> "int", "l_quantity" -> "decimal", "l_extendedprice" -> "decimal",
      "l_discount" -> "decimal", "l_tax" -> "decimal", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "date"),
    "events" -> Seq("event_id" -> "int", "ts" -> "timestamp", "user_id" -> "int",
      "event_type" -> "string", "value" -> "double", "props" -> "map"),
    "documents" -> Seq("doc_id" -> "int", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "int"),
    "embeddings" -> Seq("vec_id" -> "int", "embedding" -> "array", "label" -> "int"))

  /** Type classes of a dotted chain's column: exact when qualified by a
    * catalog table, else every table defining the name. */
  private def classes(chain: String): Seq[String] = chain.split('.').toSeq match {
    case Seq(col) => catalog.values.flatten.collect { case (`col`, c) => c }.toSeq
    case parts =>
      val col = parts.last
      catalog.get(parts(parts.length - 2)).map(_.collect { case (`col`, c) => c })
        .getOrElse(catalog.values.flatten.collect { case (`col`, c) => c }.toSeq)
  }
  private def all(chain: String, cls: String) = { val c = classes(chain); c.nonEmpty && c.forall(_ == cls) }
  private def any(chain: String, cls: String) = classes(chain).contains(cls)

  private val types = Translator.ColTypes(
    isMapCol = c => any(c, "map"),
    isCollectionCol = c => any(c, "map") || any(c, "array"),
    isDateCol = (c, strict) => if (strict) all(c, "date") else any(c, "date"),
    isStringCol = c => all(c, "string"),
    isDecimalCol = c => any(c, "decimal"))

  private def schemaOf(table: String): Option[Seq[String]] =
    catalog.get(table.toLowerCase).map(_.map(_._1))

  private def show(label: String, t: => Translator.Translation): Unit = {
    println(s"-- $label")
    try {
      val tr = t
      println(tr.sql)
      tr.views.foreach(v => println(s"--   view: ${v.name} ${v.format} ${v.path}"))
    } catch { case e: Exception => println(s"--   error: ${e.getClass.getName}: ${e.getMessage}") }
  }

  def main(args: Array[String]): Unit = {
    val probes = Option(new File("dev").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("diff_probe_") && f.getName.endsWith(".txt"))
      .sortBy(_.getName).toSeq
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().map(_.trim).zipWithIndex
          .collect { case (q, i) if q.nonEmpty && !q.startsWith("#") => (s"${f.getName}:${i + 1}", q) }
          .toList
        finally src.close()
      }
    (DeclaredQueries.all ++ probes).foreach { case (name, sql) =>
      show(s"$name", Translator.translate(sql))
      show(s"$name [typed]", Translator.translate(sql, schemaOf, types))
      println()
    }
  }
}
