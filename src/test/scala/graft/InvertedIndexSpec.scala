package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BooleanQuery, InvertedIndex}

/** Golden test from the reference Readme's worked example
  * (reference `Readme.md:224-242`): doc1 "the cat sat", doc2 "the dog ran",
  * doc3 "cat and dog played" → with NLTK stopwords, `the`/`and` drop out.
  */
class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "u1", "the cat sat"),
    (2L, "u2", "the dog ran"),
    (3L, "u3", "cat and dog played")
  ).toDF("doc_id", "url", "text")

  test("golden 3-doc index matches the reference worked example (stopwords on)") {
    val idx = InvertedIndex.index(docs)
      .select($"term", transform($"postings", p => p("doc_id")).as("ids"))
      .as[(String, Seq[Long])].collect().toMap
    assert(idx === Map(
      "cat" -> Seq(1L, 3L), "sat" -> Seq(1L), "dog" -> Seq(2L, 3L),
      "ran" -> Seq(2L), "played" -> Seq(3L)))
  }

  test("posting lists are doc_id-sorted and deduplicated") {
    // same doc text twice in one document: still one posting per (term, doc)
    val dup = Seq((5L, "u5", "cat cat cat"), (4L, "u4", "cat")).toDF("doc_id", "url", "text")
    val postings = InvertedIndex.postings(dup).as[(String, Long, String)].collect()
    assert(postings.count(_._1 == "cat") === 2)
    val idx = InvertedIndex.index(dup)
      .select($"term", transform($"postings", p => p("doc_id")).as("ids"))
      .as[(String, Seq[Long])].head()
    assert(idx._2 === Seq(4L, 5L)) // sorted even though input order was 5, 4
  }

  test("index is invariant under corpus repartitioning (partial-agg contract)") {
    val base = InvertedIndex.index(docs).orderBy("term").as[(String, Seq[(Long, String)])].collect()
    val shuffled = InvertedIndex.index(docs.repartition(7)).orderBy("term")
      .as[(String, Seq[(Long, String)])].collect()
    assert(base === shuffled)
  }

  test("boolean queries: and / or / not") {
    val p = InvertedIndex.postings(docs)
    assert(BooleanQuery.and(p, Seq("cat", "dog")).as[Long].collect().toSet === Set(3L))
    assert(BooleanQuery.or(p, Seq("sat", "ran")).as[Long].collect().toSet === Set(1L, 2L))
    assert(BooleanQuery.andNot(p, "cat", Seq("dog")).as[Long].collect().toSet === Set(1L))
  }

  test("docFreq and topK") {
    val p = InvertedIndex.postings(docs)
    val df = InvertedIndex.docFreq(p).as[(String, Long)].collect().toMap
    assert(df("cat") === 2 && df("sat") === 1)
    val top = InvertedIndex.topKByDocFreq(p, 2).as[(String, Long)].collect()
    assert(top.map(_._1).toSeq === Seq("cat", "dog")) // df=2 each, term tie-break
  }

  test("ranked search: tf-idf scoring, hand-computed on a 4-doc corpus") {
    // doc 4 repeats "cat": tf weighting must rank it above the single-
    // mention docs; "dog" appears in 2 of 4 docs (idf ln(2)), "cat" in 3
    // (idf ln(4/3))
    val corpus = docs.union(Seq((4L, "u4", "cat cat cat")).toDF("doc_id", "url", "text"))
    val got = InvertedIndex.rankedSearch(corpus, Seq("cat", "dog"), 10)
      .as[(Long, Double, Long)].collect()
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val wCat = r6(math.log(4.0 / 3)) // tf=1
    val wDog = r6(math.log(4.0 / 2))
    val expected = Seq(
      (4L, r6(3 * math.log(4.0 / 3)), 1L), // cat×3: 0.863046
      (3L, r6(r6(wCat) + r6(wDog)), 2L),   // both terms: 0.980829... ranks FIRST
      (1L, wCat, 1L),
      (2L, wDog, 1L))
      .sortBy { case (id, s, _) => (-s, id) }
    assert(got.toSeq === expected)
    // stopword query terms are rejected loudly, not silently zero-scored
    val err = intercept[IllegalArgumentException] {
      InvertedIndex.rankedSearch(corpus, Seq("the", "cat"), 5)
    }
    assert(err.getMessage.contains("stopword"))
    // …and so are terms the tokenizer could never produce
    val err2 = intercept[IllegalArgumentException] {
      InvertedIndex.rankedSearch(corpus, Seq("Cat"), 5)
    }
    assert(err2.getMessage.contains("normalized token"))
  }

  test("BM25 search: independent formula cross-check on the 4-doc corpus") {
    // dl (stopwords removed): d1 "cat sat"=2, d2 "dog ran"=2,
    // d3 "cat dog played"=3, d4 "cat cat cat"=3 → N=4, avgdl=2.5
    val corpus = docs.union(Seq((4L, "u4", "cat cat cat")).toDF("doc_id", "url", "text"))
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def w(tf: Long, df: Long, dl: Long): Double =
      r6(math.log((4L - df + 0.5) / (df + 0.5) + 1)
        * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 2.5)))
    val expected = Seq(
      (1L, r6(w(1, 3, 2)), 1L),
      (2L, r6(w(1, 2, 2)), 1L),
      (3L, r6(w(1, 3, 3) + w(1, 2, 3)), 2L),
      (4L, r6(w(3, 3, 3)), 1L))
      .sortBy { case (id, s, _) => (-s, id) }
    val got = InvertedIndex.bm25Search(corpus, Seq("cat", "dog"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === expected)
    // saturation: doc 4's triple "cat" must score BELOW tf-idf's linear
    // credit relative to the two-term doc 3 (both rankings put 3 first,
    // but BM25 compresses the gap doc 4 owed purely to repetition)
    assert(got.head._1 === 3L)
  }

  test("phrase query: consecutive filtered positions, occurrence counts, loud guards") {
    // stopwords ('the', 'on', 'and') drop BEFORE positions are assigned:
    // doc 1's filtered stream is [cat, sat, mat] — "cat sat" adjacent;
    // doc 2 separates them with a real token; doc 3 repeats the phrase;
    // doc 4 has the terms adjacent ONLY ACROSS a dropped stopword
    val corpus = Seq(
      (1L, "u1", "the cat sat on the mat"),
      (2L, "u2", "cat dog sat"),
      (3L, "u3", "cat sat cat sat"),
      (4L, "u4", "the cat and sat")
    ).toDF("doc_id", "url", "text")
    val pos = InvertedIndex.positionalPostings(corpus)
    // (term, doc_id, pos) is unique and positions index the filtered stream
    assert(pos.filter($"doc_id" === 1L).as[(String, Long, Int)].collect().toSet
      === Set(("cat", 1L, 0), ("sat", 1L, 1), ("mat", 1L, 2)))
    val got = InvertedIndex.phraseQuery(pos, Seq("cat", "sat"))
      .as[(Long, Long)].collect().toMap
    // doc 4 matches BECAUSE the stopword vanished from the stream — the
    // documented filtered-position semantics, pinned here
    assert(got === Map(1L -> 1L, 3L -> 2L, 4L -> 1L))
    // guards: stopwords, unindexable casings and 1-term phrases all throw
    intercept[IllegalArgumentException](InvertedIndex.phraseQuery(pos, Seq("the", "cat")))
    intercept[IllegalArgumentException](InvertedIndex.phraseQuery(pos, Seq("Cat", "sat")))
    intercept[IllegalArgumentException](InvertedIndex.phraseQuery(pos, Seq("cat")))
  }

  test("proximity query: banded position pairs, pair count + min distance, loud guards") {
    val corpus = Seq(
      (1L, "u1", "cat alpha beta sat"),   // cat@0, sat@3 → 1 pair, dist 3
      (2L, "u2", "cat sat cat"),          // pairs (0,1),(2,1) → 2 pairs, min 1
      // 7 filtered tokens between them → dist 8 > slop 5 → absent
      (3L, "u3", "cat alpha beta gamma delta epsilon zeta eta sat"),
      (4L, "u4", "cat alone here")
    ).toDF("doc_id", "url", "text")
    val pos = InvertedIndex.positionalPostings(corpus)
    val got = InvertedIndex.proximityQuery(pos, "cat", "sat", 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((1L, 3L)), 2L -> ((2L, 1L))))
    // widening the slop admits doc 3 at its true distance
    val wide = InvertedIndex.proximityQuery(pos, "cat", "sat", 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(wide(3L) === ((1L, 8L)))
    // guards: stopword, same term, zero slop
    intercept[IllegalArgumentException](InvertedIndex.proximityQuery(pos, "the", "cat", 5))
    intercept[IllegalArgumentException](InvertedIndex.proximityQuery(pos, "cat", "cat", 5))
    intercept[IllegalArgumentException](InvertedIndex.proximityQuery(pos, "cat", "sat", 0))
  }

  // ---- the one-pass serve shapes against the formulations they replaced

  /** The former phrase shape: one term slice per phrase position,
    * aligned by (doc_id, pos − i) equi-joins.
    */
  private def phraseByJoins(positional: DataFrame, phrase: Seq[String]): DataFrame =
    phrase.zipWithIndex.map { case (t, i) =>
      positional.filter(col("term") === t).select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))

  /** The former AND-NOT shape: the include slice's distinct docs,
    * left-anti joined with the exclude slice.
    */
  private def andNotByAntiJoin(postings: DataFrame, include: String,
                               exclude: Seq[String]): DataFrame = {
    val inc = postings.filter(col("term") === include).select("doc_id").distinct()
    if (exclude.isEmpty) inc
    else inc.join(postings.filter(col("term").isin(exclude: _*)).select("doc_id"),
      Seq("doc_id"), "left_anti")
  }

  /** 300 documents of 0–24 words over a 5-word vocabulary, with
    * stopwords mixed in, so short phrases match many times per doc.
    */
  private lazy val generated = {
    val vocab = Seq("spark", "hash", "table", "value", "index")
    val rnd = new scala.util.Random(13)
    (1L to 300L).map { id =>
      (id, s"u$id", Seq.fill(rnd.nextInt(25))(
        if (rnd.nextInt(6) == 0) "the" else vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "url", "text")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("phrase query equals the per-term join formulation on a generated index") {
    val positional = InvertedIndex.positionalPostings(generated).cache()
    for (phrase <- Seq(
        Seq("spark", "hash"),
        Seq("spark", "hash", "spark"),            // a repeated term holds two offsets
        Seq("hash", "hash"),
        Seq("value", "table", "spark", "hash"),   // 4 terms
        Seq("index", "value", "index", "value"))) {
      val want = rows(phraseByJoins(positional, phrase))
      assert(want.nonEmpty, s"$phrase matches nothing: the comparison shows nothing")
      assert(rows(InvertedIndex.phraseQuery(positional, phrase)) === want, phrase.mkString(" "))
    }
    positional.unpersist()
  }

  test("AND-NOT equals the anti-join formulation on a generated index") {
    val postings = InvertedIndex.postings(generated).cache()
    for ((inc, exc) <- Seq(
        "spark" -> Seq("hash"),
        "spark" -> Seq("spark"),                  // include ∈ exclude: nothing
        "spark" -> Seq("hash", "spark", "table"),
        "table" -> Seq("hash", "hash"),           // a repeated exclude term
        "value" -> Seq.empty[String],             // no exclude: the include docs
        "index" -> Seq("absent"))) {
      val got = BooleanQuery.andNot(postings, inc, exc)
      assert(got.columns.toSeq === Seq("doc_id"))
      assert(rows(got) === rows(andNotByAntiJoin(postings, inc, exc)), s"$inc NOT $exc")
    }
    assert(BooleanQuery.andNot(postings, "spark", Seq("spark")).isEmpty)
    assert(!BooleanQuery.andNot(postings, "spark", Seq("hash")).isEmpty)
    postings.unpersist()
  }
}
