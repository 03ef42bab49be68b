package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{BooleanQuery, InvertedIndex}
import graft.sources.{Corpus, IndexFamily, IndexStore, SessionStores, TermStatsStore}

/** The six index stores build as one concurrent job set (`IndexFamily`):
  * one accessor call builds all six, a failed part surfaces only after
  * its siblings finished and is the only one rebuilt, and the stored
  * relations equal what the chained build derived, whatever the shuffle
  * partitioning.
  */
class IndexFamilySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The six relations of `dir`'s family, as `s` serves them. */
  private def six(s: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "postings" -> IndexStore.postings(s, dir),
    "positional" -> IndexStore.positionalPostings(s, dir),
    "tf" -> TermStatsStore.tf(s, dir),
    "stats" -> TermStatsStore.stats(s, dir),
    "doclen" -> TermStatsStore.docLengths(s, dir),
    "scalars" -> TermStatsStore.scalars(s, dir))

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  /** A corpus under a fresh dir: repeated terms, a stopword-only and an
    * empty document, duplicate doc_ids, spread over three files.
    */
  private def corpus(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_family_" + name).toString
    val words = Seq("spark", "hash", "table", "value", "index", "query", "merge")
    val filler = (0 until 40).map { i =>
      (100L + i, (0 to i % 9).map(j => words((i * 3 + j * j) % words.size)).mkString(" ") +
        (if (i % 4 == 0) " the of and" else ""), if (i % 2 == 0) "web" else "wiki")
    }
    val special = Seq(
      (1L, "Spark spark SPARK hash spark-hash spark", "web"),
      (2L, "the and of a the", "web"),
      (3L, "", "wiki"),
      (4L, "hash table hash", "books"),
      (4L, "duplicate id spark", "web"),
      (5L, "spark", "books"),
      (5L, "spark", "books"))
    (special ++ filler).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .repartition(3).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Last-modified time of every file the six relations read. */
  private def files(rels: Seq[(String, DataFrame)]): Map[String, Long] =
    rels.flatMap(_._2.inputFiles).map(f => f -> new java.io.File(new java.net.URI(f)).lastModified).toMap

  test("one accessor call builds the family; the other five and a new session start no build") {
    val dir = corpus("one_call")
    val built = Jobs.startedBy(spark)(IndexStore.postings(spark, dir): Unit)
    // each part is its own job on its own thread; the jobs carry the
    // caller's job group, or the listener would not count them
    assert(built.size >= 6, s"the family's jobs did not carry the caller's job group: $built")
    val rest = Jobs.startedBy(spark) {
      Seq[(SparkSession, String) => DataFrame](IndexStore.positionalPostings, TermStatsStore.tf,
        TermStatsStore.stats, TermStatsStore.docLengths, TermStatsStore.scalars)
        .foreach(f => f(spark, dir).queryExecution.analyzed)
    }
    assert(rest === Seq.empty, "a sibling accessor started a job after the family was built")
    val mine = six(spark, dir)
    val before = files(mine)
    val other = spark.newSession()
    val theirs = six(other, dir)
    assert(files(theirs) === before, "a new session rewrote a store")
    mine.zip(theirs).foreach { case ((name, a), (_, b)) =>
      assert(b.sparkSession eq other)
      assert(sorted(b) === sorted(a), s"$name differs across sessions")
    }
  }

  test("a failed part surfaces after every sibling finished; the next call builds only it") {
    val sc = spark.sparkContext
    val tag = System.nanoTime()
    val builds = new ConcurrentHashMap[String, AtomicInteger]()
    val finished = ConcurrentHashMap.newKeySet[String]()
    val failing = Map("bad" -> new AtomicBoolean(true), "worse" -> new AtomicBoolean(true))
    val nap = udf { (x: Long) => Thread.sleep(150); x }
    // each part's job is one task, so on 4 cores no part queues behind
    // another: a runner that stops waiting early returns while the slow
    // part's job still runs
    def part(name: String, napRows: Int): IndexFamily.Part = {
      val path = SessionStores.scopedPath("graft_test_family", s"${name}_$tag")
      IndexFamily.Part(name, () => SessionStores.servedPath(spark, path) {
        builds.computeIfAbsent(name, _ => new AtomicInteger()).incrementAndGet()
        if (failing.get(name).exists(_.getAndSet(false)))
          throw new IllegalStateException(s"$name part failed")
        spark.range(0, napRows, 1, 1).select(nap(col("id")).as("v")).write.parquet(path)
        finished.add(name): Unit
      })
    }
    val parts = Seq(part("slow", 8), part("bad", 0), part("fast", 0), part("worse", 0))
    val e = intercept[IllegalStateException](IndexFamily.runParts(parts))
    assert(finished.contains("slow") && finished.contains("fast"),
      s"the failure surfaced before its siblings finished: $finished")
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a part's job outlived the build")
    assert(e.getMessage === "bad part failed", "the first error in part order is rethrown")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("worse part failed"))
    IndexFamily.runParts(parts)
    val counts = parts.map(p => p.name -> builds.get(p.name).get).toMap
    assert(counts === Map("slow" -> 1, "bad" -> 2, "fast" -> 1, "worse" -> 2),
      "a second call must build only the failed parts")
    assert(finished.size === 4)
  }

  test("the family equals the chained derivations under shuffle partitions {1, 7} and AQE on/off") {
    val settings = for (parts <- Seq(1, 7); aqe <- Seq(true, false)) yield (parts, aqe)
    val results = settings.map { case (parts, aqe) =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      val dir = corpus(s"p${parts}_aqe$aqe")
      val rels = six(s, dir).toMap
      val docs = Corpus.documents(s, dir)
      val where = s"shuffle partitions $parts, AQE $aqe"
      // stats as the chained build derived it: an aggregate of the stored tf
      assert(sorted(rels("stats")) === sorted(rels("tf")
        .groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("c"))
        .withColumn("stop", col("term").isin(Text.EffectiveStopwords: _*))), where)
      // scalars as the chained build derived it: an aggregate of the stored docLengths
      assert(sorted(rels("scalars")) === sorted(rels("doclen").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_docs_distinct"),
        avg(col("dl")).as("avgdl"),
        sum(col("dl_all")).cast("long").as("n_corpus"))), where)
      assert(sorted(rels("postings")) === sorted(InvertedIndex.postings(docs)), where)
      assert(sorted(rels("positional")) === sorted(InvertedIndex.positionalPostings(docs)), where)
      for (name <- Seq("postings", "positional", "tf")) {
        val spec = rels(name).queryExecution.analyzed.collectFirst {
          case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
            l.relation.asInstanceOf[HadoopFsRelation].bucketSpec
        }.flatten
        assert(spec === Some(BucketSpec(32, Seq("term"), Seq("term"))), s"$name bucket spec, $where")
      }
      rels.map { case (name, df) => name -> sorted(df) }
    }
    val first = results.head
    assert(first("scalars").head.getLong(0) === 47L && first("scalars").head.getLong(1) === 45L)
    results.zip(settings).tail.foreach { case (r, (parts, aqe)) =>
      for (name <- first.keys)
        assert(r(name) === first(name), s"$name differs under shuffle partitions $parts, AQE $aqe")
    }
  }

  test("the serve shapes give identical rows under shuffle partitions {1, 4, 7} and AQE on/off") {
    // AND-NOT and phrase group once by doc_id over one pruned scan; the
    // stored bm25/ranked read dl and df off the stored tf rows, which a
    // (doc_id, term) aggregate and a term window derived. None of it may
    // depend on how the exchanges split the rows.
    val settings = for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false)) yield (parts, aqe)
    val results = settings.map { case (parts, aqe) =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toLong)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      val dir = corpus(s"serve_p${parts}_aqe$aqe")
      val docs = Corpus.documents(s, dir)
      val where = s"shuffle partitions $parts, AQE $aqe"
      val q = Seq("spark", "hash")
      val got = Seq(
        "andNot" -> BooleanQuery.andNot(IndexStore.postings(s, dir), "spark", Seq("hash")),
        "andNot include excluded" ->
          BooleanQuery.andNot(IndexStore.postings(s, dir), "hash", Seq("table", "hash")),
        "phrase" -> InvertedIndex.phraseQuery(IndexStore.positionalPostings(s, dir),
          Seq("hash", "table")),
        "phrase repeated term" -> InvertedIndex.phraseQuery(
          IndexStore.positionalPostings(s, dir), Seq("hash", "spark", "hash")),
        "bm25" -> TermStatsStore.bm25(s, dir, q, 10),
        "rankedSearch" -> TermStatsStore.rankedSearch(s, dir, q, 10)
      ).map { case (name, df) => name -> sorted(df) }.toMap
      // the corpus repeats doc_ids: the stored scorers and the direct
      // ones still agree row for row
      assert(got("bm25") === sorted(InvertedIndex.bm25Search(docs, q, 10)), where)
      assert(got("rankedSearch") === sorted(InvertedIndex.rankedSearch(docs, q, 10)), where)
      got
    }
    val first = results.head
    Seq("andNot", "phrase", "phrase repeated term", "bm25", "rankedSearch").foreach { name =>
      assert(first(name).nonEmpty, s"$name is empty: the comparison shows nothing")
    }
    assert(first("andNot include excluded").isEmpty)
    results.zip(settings).tail.foreach { case (r, (parts, aqe)) =>
      for (name <- first.keys)
        assert(r(name) === first(name), s"$name differs under shuffle partitions $parts, AQE $aqe")
    }
  }
}
