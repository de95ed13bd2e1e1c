package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt),
  * built from the shipped profile so the tests run the settings the
  * engine runs — including the JVM-wide ones, such as the codegen
  * class cache, that the first session to compile fixes for the JVM.
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.defaultBuilder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
