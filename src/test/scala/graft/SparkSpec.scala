package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: one JVM-wide [[Sessions.local]]
  * session. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
}
