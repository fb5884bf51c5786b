package graft

import graft.plans.RewriteLatestByToArgMax

/** The shared spec session is a [[GraftSession]], so the recipe's conf
  * and extensions are asserted on it directly. */
class GraftSessionSpec extends SparkSpecBase {

  test("local session carries the scale conf and the SQL extensions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // extensions applied: the injected SQL functions resolve
    import spark.implicits._
    val h = spark.sql("SELECT md5prefix64('abc') AS h").as[Long].collect().head
    assert(h == graft.functions.HashUtil.md5Prefix64("abc"))
    val g = spark.sql("SELECT gramhashes64('abcdefghij', 8) AS g")
      .as[Seq[Long]].collect().head
    assert(g.length == 3)
    assert(g.head == graft.functions.HashUtil.md5Prefix64("abcdefgh") %
      graft.functions.HashUtil.P)
    // ... and the optimizer rule is in the session's optimizer
    assert(spark.sessionState.optimizer.batches.flatMap(_.rules)
      .contains(RewriteLatestByToArgMax))
  }
}
