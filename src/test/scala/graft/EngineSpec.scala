package graft

import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("registry resolves known pipelines and every query has an oracle") {
    assert(Engine.pipeline("q1_agg") != null)
    // EVERY registered query is oracle-checked — r12 closed the last
    // rows-only exception (q_vocab_hll registers its deterministic
    // relative-error projection like the rest of the sketch family).
    // A new query without an oracle fails here, not silently at the
    // driver's gate.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("registry: disjoint modules, 309 names, 89 twins of registered batch queries") {
    import graft.queries._
    val modules = Seq(
      "TextQueries" -> TextQueries.queries,
      "RelationalQueries" -> RelationalQueries.queries,
      "RelationalQueries.queriesExtra" -> RelationalQueries.queriesExtra,
      "DedupQueries" -> DedupQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries,
      "AnalysisQueries" -> AnalysisQueries.queries)
    // `++` keeps the last of two equal names: an overlap drops a query silently
    for (Seq((a, qa), (b, qb)) <- modules.combinations(2)) {
      val both = qa.keySet & qb.keySet
      assert(both.isEmpty, s"$a and $b both register $both")
    }
    val names = SparkEntry.queries.keySet
    val twins = names.filter(_.endsWith(SparkEntry.Streamed))
    assert(names.size === 309)
    assert(twins.size === 89)
    val orphans = twins.filterNot(t => names(t.stripSuffix(SparkEntry.Streamed)))
    assert(orphans.isEmpty, s"twins without a batch query: $orphans")
    // a twin's oracle is derived from its batch query's, never declared
    val declared = Seq(TextQueries.oracles, RelationalQueries.oracles,
      DedupQueries.oracles, SimilarityQueries.oracles, AnalysisQueries.oracles)
      .flatMap(_.keys).filter(_.endsWith(SparkEntry.Streamed))
    assert(declared.isEmpty, s"declared twin oracles: $declared")
  }

  test("unknown pipeline name fails fast with the catalog in the message") {
    val e = intercept[NoSuchElementException](Engine.pipeline("q_nope"))
    assert(e.getMessage.contains("q_nope"))
    assert(e.getMessage.contains("q1_agg"))
  }

  test("a pipeline runs end-to-end through the facade") {
    assert(Engine.run(spark, "q_doc_freq", "/root/testdata/sf0.001").count() > 0)
  }
}
