package graft

import java.nio.file.{Files, Paths}

/** [[Verify]] fails closed: a filter name that is not declared counts as a
  * failure next to the real query's written result.
  */
class VerifySpec extends SparkSpec {

  test("an undeclared query name counts as failed; the declared one is written") {
    val out = tmpDir("graft-verify")
    val s = Verify.run(spark, sf(), out, Set("q6_forecast_revenue", "no_such_query"))
    assert(s.nDeclared == SparkEntry.queries.size)
    assert(s.nWritten == 1)
    assert(s.failed == Seq("no_such_query"))
    assert(Files.isDirectory(Paths.get(out, "q6_forecast_revenue")))
    assert(!Files.exists(Paths.get(out, ".tmp-q6_forecast_revenue")))
    assert(s.json.contains(""""n_written":1,"n_failed":1,"failed":["no_such_query"]"""))
  }
}
