package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.InvertedIndex
import graft.queries._
import graft.sources.Corpus

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's registered operator surface (reference U1 —
  * the name-keyed function registry, `mapper/src/available_functions.py:5-19`
  * — generalized to a name → DataFrame-pipeline map). `oracleSql` carries a
  * DuckDB-equivalent per query for the driver's correctness gate.
  *
  * The twin rule: a query named `<q>_streamed` returns `<q>`'s rows from
  * an incremental store, so it is judged by `<q>`'s oracle. `oracleSql`
  * derives every twin's oracle from its batch query's; no module
  * declares an oracle for a `_streamed` name. A twin that runs its batch
  * query's body over a fact store is declared with that body through
  * [[FactTwins]].
  */
object SparkEntry {

  /** A registered query: (session, scale-factor directory) → its rows. */
  type Query = (SparkSession, String) => DataFrame

  /** The name suffix of a streamed twin. */
  val Streamed = "_streamed"

  /** One fact relation read from two sources that hold the same rows:
    * `batch` reads the fixture table, `streamed` the session fact store
    * that ingested it in micro-batches.
    */
  final case class FactTwins(batch: Query, streamed: Query) {

    /** Registers each `name -> body` twice: `name` runs `body` over
      * `batch` and `<name>_streamed` over `streamed`. A source is read
      * only when its query runs.
      */
    def apply(bodies: (String, (SparkSession, String, DataFrame) => DataFrame)*)
        : Map[String, Query] =
      bodies.flatMap { case (name, body) => Seq[(String, Query)](
        name -> ((s, dir) => body(s, dir, batch(s, dir))),
        (name + Streamed) -> ((s, dir) => body(s, dir, streamed(s, dir))))
      }.toMap
  }

  /** Flagship: build the inverted index over the sf0.001 corpus and look up
    * the posting list for one term — the reference's end-to-end job + its
    * natural point query.
    */
  def entry(spark: SparkSession): DataFrame =
    InvertedIndex.lookup(
      InvertedIndex.postings(Corpus.documents(spark, "/root/testdata/sf0.001")),
      "spark")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] =
    TextQueries.queries ++ RelationalQueries.queries ++
      RelationalQueries.queriesExtra ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      AnalysisQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables: the modules' oracles, plus each twin's
    * batch oracle under the twin's name.
    */
  def oracleSql: Map[String, String] = {
    val declared = TextQueries.oracles ++ RelationalQueries.oracles ++
      DedupQueries.oracles ++ SimilarityQueries.oracles ++
      AnalysisQueries.oracles
    declared ++ queries.keys.filter(_.endsWith(Streamed)).flatMap(twin =>
      declared.get(twin.stripSuffix(Streamed)).map(twin -> _))
  }
}
