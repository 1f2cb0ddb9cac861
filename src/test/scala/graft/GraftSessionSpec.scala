package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's text contract, checked without a Spark session: the
  * `SPARK_GRAFT_EXTRA_CONF` parse every main applies.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_EXTRA_CONF parse trims entries, drops ones without '=', keeps '=' in values") {
    assert(GraftSession.parseExtraConf("a=b; c=d=e ;;x") == Seq("a" -> "b", "c" -> "d=e"))
    assert(GraftSession.parseExtraConf("").isEmpty)
  }
}
