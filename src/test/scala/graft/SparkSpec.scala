package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, on the same
  * [[Session]] policy as every main.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(cpus = 4)

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  lazy val sf: String = "/root/testdata/sf0.001"
}
