package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  // the production builder, so specs run with the same extensions and
  // parser/time-zone confs as every other session
  lazy val session: SparkSession = {
    val s = graft.engine.Engine.localSession("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
