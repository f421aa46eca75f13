package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for test suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()

  /** Drains the async listener bus, so every event of the jobs run so
    * far has reached its listeners. LiveListenerBus.waitUntilEmpty is
    * private[spark] — bytecode-public, reached via reflection.
    */
  protected def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val m = bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
      .get
    if (m.getParameterCount == 0) m.invoke(bus)
    else m.invoke(bus, java.lang.Long.valueOf(30000L))
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
