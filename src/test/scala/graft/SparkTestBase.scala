package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; scalatest
  * runs suites sequentially in the forked JVM). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt test JVM exit tears it down
    super.afterAll()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local(cores = 4, logLevel = "ERROR")
}
