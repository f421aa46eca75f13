package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for test suites: [[GraftSession]]'s
  * posture, the one the mains ship, on 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()

  /** Drains the async listener bus, so every event of the jobs run so
    * far has reached its listeners. */
  protected def drainListenerBus(): Unit = GraftSession.drainListenerBus(spark)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(cores = 4)
}
