package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.AnalysisQueries.EventStores
import graft.streaming.{StreamingEmbed, StreamingFacts, StreamingFuzzy, StreamingGraph}

/** The kernel's compact crash windows, table-driven over the value
  * stores: for every parquet sub-store of a store, a compact that died
  * leaving ONLY the complete rewrite (`<sub>__compacting`, between the
  * two renames) or ONLY the moved-aside originals (`<sub>__pre_compact`)
  * must be healed by the store's `recoverStore` so that its accessors
  * serve exactly the rows they served before the compact began.
  */
class StoreRecoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** @param ingest fills a fresh store, including a residual-window
    *               re-append so the collapse has duplicates to absorb
    * @param serve  every accessor's rows, rendered comparably
    */
  private case class Store(name: String, subs: Seq[String],
                           ingest: String => Unit, serve: String => Set[String],
                           recover: String => Unit)

  private def rendered(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private def dropMarker(store: String, batchId: Long): Unit =
    assert(new java.io.File(s"$store/_graft_commits/default/$batchId").delete())

  private val factSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def factStore(name: String, key: String, schema: StructType,
                        rows: => DataFrame): Store =
    Store(name, Seq("facts"),
      store => {
        val df = rows
        for (b <- 0 until 2)
          StreamingFacts.processBatch(df.filter(col(key) % 2 === b), b, store, key, schema): Unit
        dropMarker(store, 1L)
        StreamingFacts.processBatch(df.filter(col(key) % 2 === 1), 1L, store, key, schema): Unit
      },
      store => rendered(StreamingFacts.facts(spark, store, key, schema)) ++
        rendered(StreamingFacts.factsAsOf(spark, store, 0L, key, schema)).map("asof0 " + _),
      StreamingFacts.recoverStore(spark, _))

  private lazy val stores = Seq(
    Store("fuzzy", Seq("vars", "pairs"),
      store => {
        val urls = Seq("doc://a/1", "doc://a/2", "doc://b/1", "doc://b/1/", "doc://c/9")
        StreamingFuzzy.processBatch(urls.take(3).toDF("url"), 0L, store): Unit
        StreamingFuzzy.processBatch(urls.drop(2).toDF("url"), 1L, store): Unit
        dropMarker(store, 1L)
        StreamingFuzzy.processBatch(urls.drop(2).toDF("url"), 1L, store): Unit
      },
      store => rendered(StreamingFuzzy.pairs(spark, store)) ++
        rendered(StreamingFuzzy.urls(spark, store)),
      StreamingFuzzy.recoverStore(spark, _)),
    factStore("facts", "doc_id", factSchema,
      (0L until 12L).map(i => (i, s"text $i")).toDF("doc_id", "text")),
    factStore("facts under the event schema", EventStores.Key, EventStores.Schema,
      (0L until 12L).map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000L), i % 3,
        Seq("view", "click")(i.toInt % 2), i.toDouble, s"""{"k": $i}"""))
        .toDF("event_id", "t", "user_id", "event_type", "value", "props")),
    Store("graph", Seq("edges"),
      store => {
        val contribs = (0L until 24L).map(i => (i % 4, (i * 3 + 1) % 4, 1L + i % 2))
          .toDF("src", "dst", "w")
        for (b <- 0 until 2)
          StreamingGraph.processBatch(contribs.filter(col("src") % 2 === b), b, store): Unit
        dropMarker(store, 1L)
        StreamingGraph.processBatch(contribs.filter(col("src") % 2 === 1), 1L, store): Unit
      },
      store => rendered(StreamingGraph.edges(spark, store)),
      StreamingGraph.recoverStore(spark, _)),
    Store("embed", Seq("vecs", "pairs"),
      store => {
        val emb = (0L until 8L).map(i => (i, Array(10f, i * 0.1f, 0f, 1f)))
          .toDF("vec_id", "embedding")
        StreamingEmbed.processBatch(emb, 0L, store, bits = 4, threshold = 0.9): Unit
        dropMarker(store, 0L)
        StreamingEmbed.processBatch(emb, 0L, store, bits = 4, threshold = 0.9): Unit
        StreamingEmbed.processDeleteBatch(Seq(3L).toDF("vec_id"), 1L, store): Unit
      },
      store => rendered(StreamingEmbed.vectors(spark, store)) ++
        rendered(StreamingEmbed.pairs(spark, store)),
      StreamingEmbed.recoverStore(spark, _)))

  for (s <- stores)
    test(s"${s.name} store: recoverStore heals each sub-store's compact crash windows") {
      for (sub <- s.subs; side <- Seq("__compacting", "__pre_compact")) {
        val store = java.nio.file.Files.createTempDirectory("graft_recover").toString
        s.ingest(store)
        val before = s.serve(store)
        assert(before.nonEmpty)
        val live = new Path(s"$store/$sub")
        val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // the process died with the sub-store's rows only in `side`
        assert(fs.rename(live, new Path(s"$store/$sub$side")))
        s.recover(store)
        assert(s.serve(store) === before, s"$sub left in $side")
        assert(fs.exists(live))
        assert(!fs.exists(new Path(s"$store/${sub}__compacting")))
        assert(!fs.exists(new Path(s"$store/${sub}__pre_compact")))
      }
    }
}
