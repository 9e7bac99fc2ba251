package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * runs suites sequentially in the forked test JVM).
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt test JVM exit cleans up
    super.afterAll()
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = Tables.session(cpus = "4", logLevel = "ERROR")
}
