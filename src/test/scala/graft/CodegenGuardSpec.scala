package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Guards against the silent-interpreted-fallback failure class that hit
  * BENCH_r03: a native expression whose generated Java does not compile
  * makes Spark fall back to interpreted evaluation with only an ERROR log
  * — correctness holds, throughput collapses (q_curate ran 7× slow).
  *
  * Three layers:
  *   1. a static lint on every native expression's generated snippet —
  *      no line may begin with '|', because Spark operator templates
  *      splice snippets into `s"""…""".stripMargin` strings
  *      (ProjectExec.doConsume et al.) and stripMargin runs AFTER
  *      interpolation, silently eating the spliced '|' (the exact
  *      BENCH_r03 bug, Md5Prefix32's byte-packing line);
  *   2. an execution pass per expression under CODEGEN_ONLY factory mode
  *      with whole-stage fallback disabled, so a compile failure is a
  *      test failure instead of a 25× slowdown;
  *   3. a parity table: per expression, a generated projection and an
  *      interpreted one give byte-identical rows on edge-case inputs.
  */
class CodegenGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def str(x: String): UTF8String = if (x == null) null else UTF8String.fromString(x)
  private def strs(xs: String*): ArrayData = new GenericArrayData(xs.map(str).toArray[Any])
  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)
  private def in(i: Int, t: DataType): Expression = BoundReference(i, t, nullable = true)
  private val StrArr = ArrayType(StringType)
  private val Stops = strs("the", "a", "of")
  private val Bloom = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.01)
    bf.putString("seed")
    Literal(graft.plans.BloomContains.serialize(bf), BinaryType)
  }

  /** Every registered scalar function over bound inputs, with the input
    * rows the codegen/interpreted parity table runs: null input, a null
    * element, an empty array, a length mismatch, `w <= 0` and non-hex
    * text wherever the function takes them.
    */
  private val nativeCases: Seq[(String, Expression, Seq[Seq[Any]])] = Seq(
    ("md5_prefix32", graft.plans.Md5Prefix32(in(0, StrArr)),
      Seq(Seq(strs("a", "b c")), Seq(strs()), Seq(strs("a", null)), Seq(null))),
    ("minhash_sigs", graft.plans.MinHashSigs(in(0, ArrayType(LongType)),
      in(1, IntegerType), in(2, IntegerType)),
      Seq(Seq(arr(1L, 2L, 3L), 24, 3), Seq(arr(7L), 2, 2), Seq(arr(), 24, 3),
        Seq(arr(5L), 0, 3), Seq(arr(5L), 2, 0), Seq(null, 24, 3))),
    ("word_shingles", graft.plans.WordShingles(in(0, StrArr), in(1, IntegerType)),
      Seq(Seq(strs("a", "b", "c", "d"), 3), Seq(strs("a", "b"), 3), Seq(strs(), 2),
        Seq(strs("a", null, "c"), 2), Seq(strs("a", null), 3), Seq(strs("a"), 0),
        Seq(null, 2))),
    ("hamming_hex", graft.plans.HammingHex(in(0, StringType), in(1, StringType)),
      Seq(Seq(str("deadbeefdeadbeef"), str("deadbeffdeadbeef")),
        Seq(str("AB"), str("ab")), Seq(str("abc"), str("ab")), Seq(str("zz"), str("aa")),
        Seq(str(""), str("")), Seq(null, str("ab")))),
    ("rolling_hashes", graft.plans.RollingHashes(in(0, StringType), in(1, IntegerType)),
      Seq(Seq(str("rolling hash parity check"), 4), Seq(str("abc"), 4), Seq(str(""), 2),
        Seq(str("abc"), 0), Seq(str("abc"), -1), Seq(null, 3))),
    ("simhash_hex", graft.plans.SimHashHex(in(0, StrArr)),
      Seq(Seq(strs("alpha", "beta", "alpha")), Seq(strs()), Seq(strs("a", null)), Seq(null))),
    ("dot_f64", graft.plans.DotF64(in(0, ArrayType(DoubleType)), in(1, ArrayType(DoubleType))),
      Seq(Seq(arr(1.5, -2.0), arr(3.0, 0.25)), Seq(arr(), arr()), Seq(arr(1.0), arr(1.0, 2.0)),
        Seq(arr(1.0, null), arr(1.0, 2.0)), Seq(arr(Double.NaN), arr(1.0)),
        Seq(null, arr(1.0)))),
    ("run_stats", graft.plans.RunStats(in(0, StrArr)),
      Seq(Seq(strs("ab", "c", "ab")), Seq(strs()), Seq(strs("x", null)), Seq(null))),
    ("entropy_stats", graft.plans.EntropyStats(in(0, StrArr)),
      Seq(Seq(strs("ab", "c", "ab")), Seq(strs()), Seq(strs("x", null)), Seq(null))),
    ("gram_buckets", graft.plans.GramBuckets(in(0, StringType), in(1, IntegerType),
      in(2, IntegerType)),
      Seq(Seq(str("hello world"), 3, 16), Seq(str("ab"), 3, 16), Seq(str(""), 2, 8),
        Seq(str("abc"), 0, 16), Seq(str("abc"), 3, 0), Seq(null, 3, 16))),
    ("gram_shares", graft.plans.GramShares(in(0, StringType), in(1, IntegerType),
      in(2, ArrayType(IntegerType))),
      Seq(Seq(str("hello world"), 16, arr(2, 3)), Seq(str(""), 8, arr(2, 3)),
        Seq(str("abc"), 0, arr(2)), Seq(str("abc"), 8, arr(0)), Seq(str("abc"), 8, arr(2, null)),
        Seq(str("abc"), 8, arr()), Seq(null, 8, arr(2)))),
    ("bloom_contains", graft.plans.BloomContains(Bloom, in(0, StringType)),
      Seq(Seq(str("seed")), Seq(str("other")), Seq(str("")), Seq(null))),
    ("clf_stats", graft.plans.ClfStats(in(0, StrArr), in(1, StrArr), in(2, BooleanType)),
      Seq(Seq(strs("the", "cat", "the", "sat"), Stops, true),
        Seq(strs("the", "cat", "the", "sat"), Stops, false), Seq(strs(), Stops, true),
        Seq(strs("a", null), Stops, true), Seq(strs("a", null), Stops, false),
        Seq(null, Stops, true))),
    ("strip_stops", graft.plans.StripStops(in(0, StrArr), in(1, StrArr)),
      Seq(Seq(strs("the", "cat", null, "a", "sat"), Stops), Seq(strs(), Stops),
        Seq(null, Stops))))

  private def nativeExprs: Map[String, Expression] =
    nativeCases.map { case (name, expr, _) => name -> expr }.toMap

  test("the guard covers every registered scalar function") {
    val scalar = graft.plans.GraftExtensions.functions.collect {
      case (id, info, _) if !classOf[AggregateFunction].isAssignableFrom(
          Class.forName(info.getClassName)) => id.funcName
    }
    assert(nativeCases.map(_._1).sorted === scalar.sorted)
  }

  test("no generated snippet line begins with '|' (stripMargin splice hazard)") {
    spark // force session init (codegen touches SQLConf.get)
    for ((name, expr) <- nativeExprs) {
      val ctx = new CodegenContext
      val code = expr.genCode(ctx).code.toString
      val bad = code.linesIterator.zipWithIndex
        .filter { case (l, _) => l.dropWhile(_.isWhitespace).startsWith("|") }
        .toSeq
      assert(bad.isEmpty,
        s"$name generated code has line(s) starting with '|' — enclosing " +
          s"stripMargin templates will corrupt them: $bad")
    }
  }

  /** Run `body` with codegen forced (compile failures throw instead of
    * falling back to interpreted eval / non-wholestage plans).
    */
  private def withCodegenOnly[A](body: => A): A = {
    val conf = spark.conf
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
    }
  }

  // NOTE: every execution check below reads the real corpus — a
  // Seq(...).toDF source would be folded by ConvertToLocalRelation at
  // optimize time (interpreted eval) and never exercise codegen.

  test("md5_prefix32 + minhash_sigs + word_shingles compile and run CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // shingleSets → word_shingles; hashValues → md5_prefix32;
      // minhashBands → minhash_sigs — the full q_dedup_near hash pipeline
      // at real corpus widths; a wrong-compile throws before any row
      val hv = graft.operators.Dedup.hashValues(
        graft.operators.Dedup.shingleSets(docs, 3))
      val sigs = graft.operators.Dedup.minhashBands(hv, 24, 3)
      assert(sigs.count() > 0)
    }
  }

  test("hamming_hex + rolling_hashes + simhash_hex compile and run CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // simhashPairs fingerprints with simhash_hex and verifies
      // candidates with hamming_hex
      val pairs = graft.operators.Dedup.simhashPairs(docs)
      assert(pairs.count() >= 0)
      val fp = docs.select(
        graft.plans.RollingHashes.rollingHashes(col("text"), 16).as("h"))
      assert(fp.selectExpr("sum(size(h))").head().getLong(0) > 0)
    }
  }

  test("dot_f64 compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      // the q_sim_topk inner loop at real embedding widths
      val top = graft.operators.Similarity.topK(emb, queryId = 0L, k = 5)
      assert(top.count() === 5)
    }
  }

  test("bloom_contains compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // the q_bloom_decontaminate probe at real corpus widths: bench =
      // the eval slice, corpus scan filtered by the codegen'd probe
      val sh = graft.operators.Dedup.shingleSets(docs, 3)
      val flagged = graft.operators.Dedup.decontaminateBloom(
        sh.filter(col("doc_id") % 97 =!= 0), sh.filter(col("doc_id") % 97 === 0))
      assert(flagged.count() > 0)
    }
  }

  test("gram_buckets compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // the q_quality_ft featurizer at real corpus widths: every
      // histogram must hold exactly the gram count and d cells
      val toks = graft.functions.Text.tokenize(col("text"))
      val s = array_join(toks, " ")
      val r = docs.select(length(s).as("len"),
        graft.plans.GramBuckets.gramBuckets(s, 3, 16).as("h"))
      assert(r.filter(size(col("h")) =!= 16).count() === 0)
      // total mass = number of 3-gram windows, row by row
      assert(r.filter(aggregate(col("h"), lit(0L), (a, x) => a + x)
        =!= greatest(col("len") - 2, lit(0))).count() === 0)
    }
  }

  test("gram_shares compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // the r22 one-kernel ft featurizer at real corpus widths: d cells,
      // every share on [0, 10] (×10 gram-mass shares)
      val toks = graft.functions.Text.tokenize(col("text"))
      val s = array_join(toks, " ")
      val r = docs.select(graft.plans.GramShares.gramShares(s, 16, Seq(2, 3)).as("v"))
      assert(r.filter(size(col("v")) =!= 16).count() === 0)
      // ×10 gram-mass shares sum to ~10 (± d·5e-7 cell rounding, and a
      // hair more when byte vs char window counts differ)
      assert(r.filter(aggregate(col("v"), lit(0.0), (a, x) => a + x)
        .between(-1e-4, 10.0 + 1e-4) === false).count() === 0)
    }
  }

  test("run_stats compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // the q_repetition projection at real corpus widths
      val (top2, dup5) = graft.functions.TextAnalysis.repetitionFracs(
        graft.functions.Text.tokenize(col("text")))
      val r = docs.select(top2.as("t"), dup5.as("d"))
      assert(r.agg(sum(col("t") + col("d"))).head().getDouble(0) > 0)
    }
  }

  test("entropy_stats compiles and runs CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      // the q_entropy projection at real corpus widths
      val es = graft.plans.EntropyStats.entropyStats(
        graft.functions.Text.tokenize(col("text"))).as("es")
      val r = docs.select(es).select(col("es.dl"), col("es.s_micros"))
      assert(r.agg(sum(col("dl") + col("s_micros"))).head().getLong(0) > 0)
    }
  }

  test("strip_stops + clf_stats compile and run CODEGEN_ONLY") {
    withCodegenOnly {
      val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      val stop = graft.functions.Text.EffectiveStopwords
      val toks = graft.functions.Text.tokenize(col("text"))
      // the ingest tokenization path (Text.tokensNoStop) and the quality
      // featurizer's one-pass stats, at real corpus widths: stripping
      // removes exactly the stopword tokens clf_stats counts
      val r = docs.select(size(toks).as("n"),
        size(graft.functions.Text.tokensNoStop(col("text"))).as("kept"),
        graft.plans.ClfStats.clfStats(toks, stop).as("cs"))
      assert(r.filter(col("kept") =!= col("cs.n") - col("cs.n_stop")).count() === 0)
      assert(r.agg(sum(col("n") - col("kept"))).head().getLong(0) > 0)
    }
  }

  test("codegen and interpreted projections agree on every registered scalar function") {
    spark // force session init (codegen touches SQLConf.get)
    for ((name, expr, rows) <- nativeCases) {
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(expr))
      for (row <- rows) {
        val input = InternalRow.fromSeq(row)
        val g = generated(input).copy()
        val i = interpreted(input).copy()
        assert(g === i, s"$name(${row.mkString(", ")}): generated $g, interpreted $i")
      }
    }
  }
}
