package graft

import java.nio.file.Files
import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.InvertedIndex
import graft.sources.{Corpus, Html, Sinks}

/** The reference's complete job, hermetically: category page → link
  * filter (S1) → per-doc fetch with a partition-local client (S3, stub
  * transport serving checked-in HTML) → extract → tokenize → index →
  * bucketed sink (K2) → point lookup with bucket pruning.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("S1→K2: crawl, fetch, extract, index, persist, query") {
    // S1: the actual crawl loop (fetch → link filter → pagination →
    // politeness hook), driver-side like the master; the category fixture
    // has a next-page link whose target serves an empty listing
    val category = fixture("category_page.html")
    val crawlFetch: String => String =
      url => if (url == "cat://start") category else "<ul></ul>"
    val urls = Corpus.crawlToCorpus(spark, crawlFetch, "cat://start", sleep = _ => ())
    assert(urls.count() === 3)

    // S3: fetch each url with a partition-local client; /wiki/Alpha_Band
    // serves the article fixture, everything else 404s to empty text
    val article = fixture("article.html")
    val docs = Corpus.fetchText(urls, () => {
      url => if (url == "/wiki/Alpha_Band") Html.extractText(article) else ""
    })
    val byUrl = docs.as[(Long, String, String)].collect().map(d => d._2 -> d).toMap
    assert(byUrl("/wiki/Alpha_Band")._3.startsWith("The Alpha Band was a rock & roll group"))
    assert(byUrl("/wiki/Beta_Singer")._3 === "") // failed fetch keeps its doc_id gap

    // index + K2 bucketed sink + pruned lookup
    val path = Files.createTempDirectory("graft_e2e").toString + "/idx"
    Sinks.writeIndex(InvertedIndex.postings(docs), "t_e2e", path, buckets = 4)
    val lookup = InvertedIndex.lookup(spark.table("t_e2e"), "albums")
    assert(lookup.as[(Long, String)].collect().map(_._2).toSeq === Seq("/wiki/Alpha_Band"))
    PlanScans.assertBucketPruned(lookup, _ == 1)

    // K2 JSON envelope of the same index parses back losslessly
    val json = Files.createTempDirectory("graft_e2e_json").toString + "/index.json"
    Sinks.writeJsonEnvelope(InvertedIndex.index(docs), json)
    val back = Sinks.readJsonEnvelope(spark, json)
    assert(back.count() === InvertedIndex.index(docs).count())
  }

  test("training-data pipeline: curate → decontaminate → repetition-filter → split compose") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docs = Corpus.documents(spark, dir)

    // 1) curation: near-dup-collapsed cluster representatives above the
    //    quality band, text re-attached for the downstream stages
    val curated = graft.queries.DedupQueries.queries("q_curate")(spark, dir)
      .join(docs, Seq("doc_id"))
    assert(curated.count() > 0)

    // 2) decontamination: drop the stand-in eval slice and every doc
    //    sharing a trigram with it
    val evalPred = graft.queries.DedupQueries.evalDocPred
    val hits = graft.queries.DedupQueries.queries("q_decontaminate")(spark, dir)
      .select("doc_id")
    val clean = curated.filter(!evalPred).join(hits, Seq("doc_id"), "left_anti")
    // closure: re-running the operator on the cleaned set finds nothing
    val recheck = graft.operators.Dedup.decontaminate(
      clean.select("doc_id", "text"), docs.filter(evalPred))
    assert(recheck.count() === 0)

    // 3) repetition filter: the Gopher-style drop bands (wide thresholds —
    //    the synthetic corpus is word-soup; the SHAPE is what composes)
    val (top2, dup5) = graft.functions.TextAnalysis.repetitionFracs(col("ts"))
    val kept = clean
      .select(col("doc_id"), graft.functions.Text.tokenize(col("text")).as("ts"))
      .select(col("doc_id"), top2.as("t2"), dup5.as("d5"))
      .filter(col("t2") <= 1.0 && col("d5") <= 2.0)
    val nKept = kept.count()
    assert(nKept > 0)

    // 4) deterministic split: labels PARTITION the kept set, and a second
    //    run reproduces the identical assignment (pure hash arithmetic)
    def label() = kept.select(col("doc_id"),
      graft.functions.TextAnalysis.splitLabel(col("doc_id")).as("split"))
    val labeled = label()
    val byLabel = labeled.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum === nKept)
    assert(byLabel.keySet.subsetOf(Set("train", "val", "test")))
    assert(byLabel.getOrElse("train", 0L) >= byLabel.getOrElse("val", 0L))
    val again = label()
    assert(labeled.except(again).count() === 0 && again.except(labeled).count() === 0)
  }

  test("streaming postings compact into the bucketed index") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val q = graft.streaming.StreamingIndex
      .postingsStream(input.toDF().toDF("doc_id", "url", "text", "ingest_t"))
      .writeStream.format("parquet")
      .option("path", s"$out/postings")
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append").start()
    try {
      input.addData((1L, "u1", "grid search", Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
      input.addData((2L, "u2", "grid compute", Timestamp.valueOf("2024-01-01 10:01:00")))
      q.processAllAvailable()
    } finally q.stop()
    // compaction: micro-batch files → the K2 term-bucketed table
    val path = Files.createTempDirectory("graft_compact").toString + "/idx"
    Sinks.writeIndex(spark.read.parquet(s"$out/postings"), "t_compacted", path, buckets = 4)
    val hits = InvertedIndex.lookup(spark.table("t_compacted"), "grid")
      .as[(Long, String)].collect().map(_._1).sorted
    assert(hits.toSeq === Seq(1L, 2L))
  }
}
