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

  /** A session without GraftExtensions' functions, made ready the way any
    * such session is: a child of the suite's session with graft's functions
    * dropped from its own registry (the parent keeps them), then
    * `Session.ensure` unless `ensure` is false. */
  def stripped(ensure: Boolean = true): SparkSession = {
    val s = session.newSession()
    GraftFunctions.all.foreach { case (id, _, _) => s.sessionState.functionRegistry.dropFunction(id) }
    if (ensure) Session.ensure(s)
    s
  }
}
