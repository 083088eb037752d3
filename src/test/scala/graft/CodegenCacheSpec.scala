package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A pipeline re-runs the same plan shapes pass after pass, so a warm pass
  * must reuse the classes the previous pass generated. One pass of the
  * three graph queries below generates more classes than Spark's 100-entry
  * default codegen cache holds (q_bowtie alone about 100), so with that
  * default the LRU evicts each class before its next use and every pass
  * recompiles; `GraftSession.configure` sizes the cache so they all stay. */
class CodegenCacheSpec extends SparkSpec {

  private val queries = Seq("q_bowtie", "q_pagerank", "q_ktruss")

  private def runPass(): Unit =
    queries.foreach(q => SparkEntry.queries(q)(spark, sf).collect())

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over the graph queries compiles (almost) no classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    runPass()
    val before = compiled
    runPass()
    val warm = compiled - before
    assert(warm <= 5, s"warm pass compiled $warm generated classes")
  }
}
