package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's two text contracts, checked without a Spark session: the
  * `SPARK_GRAFT_EXTRA_CONF` parse every main applies, and the take line
  * QueryTime prints in a child JVM and Bench's requalifier parses back.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_EXTRA_CONF parse trims entries, drops ones without '=', keeps '=' in values") {
    assert(GraftSession.parseExtraConf("a=b; c=d=e ;;x") == Seq("a" -> "b", "c" -> "d=e"))
    assert(GraftSession.parseExtraConf("").isEmpty)
  }

  test("a formatted take line parses back to its wall/executor/cpu; stage lines do not match") {
    val stage = GraftSession.StageRecord(7, "save at GraftSession.scala:98", 32,
      4.5, 3.25, 1000L, 20L, 30L, 5L << 20, 12L)
    val take = GraftSession.Take(12.34, 0.5, 5.6, 0.07, Seq(stage), None)
    val out = Seq(
      GraftSession.takeLine("q05_local_supplier_volume", 1, take),
      GraftSession.stageLine(stage),
      GraftSession.takeLine("q05_local_supplier_volume", 2, take.copy(wall = 1.5, cpu = 0.0)),
      GraftSession.stageLine(stage)).mkString("\n")
    assert(GraftSession.parseTakes(out) == Seq((12.34, 5.6, 0.07), (1.5, 5.6, 0.0)))
    assert(GraftSession.parseTakes(GraftSession.stageLine(stage)).isEmpty)
  }
}
