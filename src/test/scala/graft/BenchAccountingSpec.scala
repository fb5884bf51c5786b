package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Bench]]'s failure accounting: a query that throws is reported in
  * `failed` with its exception and never enters a min or a total.
  */
class BenchAccountingSpec extends SparkSpecBase {

  test("a query that throws lands in failed, not in the totals") {
    val s = spark.newSession()
    var calls = 0
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "ok" -> (() => s.range(10).toDF()),
      "throws_at_build" -> (() => throw new IllegalStateException("boom")),
      "throws_at_run" -> (() => s.range(1).select(raise_error(lit("kaput")))),
      // fails in the second pass only
      "flaky" -> (() => { calls += 1; if (calls == 2) sys.error("flaked") else s.range(3).toDF() }))
    val passes = (1 to 3).map(_ => queries.map { case (n, mk) => n -> Bench.timeOne(mk) }.toMap)
    assert(passes.forall(_("ok").isRight))
    val (results, failed) = Bench.minOfPasses(queries.map(_._1), passes)
    assert(results.map(_._1) == Seq("ok"))
    assert(results.head._2 == passes.map(_("ok").toOption.get).min)
    assert(failed.map(_._1) == Seq("throws_at_build", "throws_at_run", "flaky"))
    assert(failed.head._2 == "java.lang.IllegalStateException: boom")
    assert(failed(1)._2.contains("kaput"))
    assert(failed(2)._2 == "java.lang.RuntimeException: flaked")

    val parsed = new ObjectMapper().readTree(Bench.failedJson(failed))
    assert(parsed.size == 3)
    assert(parsed.get(0).get("query").asText == "throws_at_build")
    assert(parsed.get(0).get("error").asText == "java.lang.IllegalStateException: boom")
  }

  test("failedJson escapes quotes, backslashes and control characters") {
    val err = "bad \"value\" at C:\\tmp\nline\t2"
    val parsed = new ObjectMapper().readTree(Bench.failedJson(Seq("q" -> err)))
    assert(parsed.get(0).get("error").asText == err)
    assert(Bench.failedJson(Nil) == "[]")
  }
}
