package graft

/** Every declared query, run once over sf0.001 the way every in-repo run
  * is: built and written to `noop` in one [[ops.Artifacts.scoped]] block
  * ([[Harness.measure]]). None may throw, and none may leave an entry in
  * the SQL cache behind: the scope owns every cache the query persists.
  */
class QuerySweepSpec extends SparkSpec {

  test("every query runs in its scope and leaves no SQL-cache entry") {
    spark.catalog.clearCache()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      val run = Harness.measure(spark, q)(fn(spark, sfDir))
      (q, run, org.apache.spark.sql.CacheEntries(spark))
    }
    val failed = results.collect { case (q, Left(e), _) => s"$q: $e" }
    val leaked = results.collect { case (q, _, n) if n > 0 => s"$q: $n" }
    assert(results.size === SparkEntry.allQ.size)
    assert(failed.isEmpty, s"${failed.size} queries threw:\n" +
      failed.mkString("\n"))
    // entries only accumulate, so the first leaking query is the culprit
    assert(leaked.isEmpty, s"${leaked.size} queries ran with SQL-cache " +
      s"entries left (running count):\n${leaked.mkString("\n")}")
  }
}
