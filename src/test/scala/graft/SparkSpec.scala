package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; getOrCreate dedupes across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared; stopped by JVM exit
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4, "graft-tests")
      // Catalog tables (bucketed staging) land in a temp warehouse, not
      // a spark-warehouse dir inside the repo.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
