package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: it is Bench's session
  * (`Bench.session`) at 4 slots, so the suites check the plans that
  * Bench and Verify run. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Bench.session("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
