package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The tools' own session at `local[8]`, so specs run under the conf,
    * log filter and checkpoint file manager every main gets.
    */
  lazy val session: SparkSession = GraftSession.build("8")
}
