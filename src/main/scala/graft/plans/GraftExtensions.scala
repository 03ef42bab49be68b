package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine Catalyst extensions, installed at session build via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (`EngineSession`).
  * Registers the native expressions for both the SQL and Column
  * surfaces, and the `PrunedBucketScan` query-stage preparation rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.hammingHexDescriptor)
    ext.injectFunction(GraftExtensions.rollingHashesDescriptor)
    ext.injectFunction(GraftExtensions.minhashSigsDescriptor)
    ext.injectFunction(GraftExtensions.md5Prefix32Descriptor)
    ext.injectFunction(GraftExtensions.wordShinglesDescriptor)
    ext.injectFunction(GraftExtensions.simhashHexDescriptor)
    ext.injectFunction(GraftExtensions.dotF64Descriptor)
    ext.injectFunction(GraftExtensions.runStatsDescriptor)
    ext.injectFunction(GraftExtensions.bloomContainsDescriptor)
    ext.injectFunction(GraftExtensions.entropyStatsDescriptor)
    ext.injectFunction(GramBuckets.descriptor)
    ext.injectFunction(GramShares.descriptor)
    ext.injectFunction(GradSum128.descriptor)
    ext.injectFunction(ClfStats.descriptor)
    ext.injectFunction(StripStops.descriptor)
    ext.injectQueryStagePrepRule(_ => PrunedBucketScan)
  }
}

object GraftExtensions {
  private[plans] val hammingHexDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hamming_hex"),
    new ExpressionInfo(classOf[HammingHex].getName, "hamming_hex"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "hamming_hex(a, b) takes exactly two arguments")
      HammingHex(children.head, children(1))
    })

  private[plans] val rollingHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_hashes"),
    new ExpressionInfo(classOf[RollingHashes].getName, "rolling_hashes"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "rolling_hashes(str, w) takes exactly two arguments")
      RollingHashes(children.head, children(1))
    })

  private[plans] val minhashSigsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sigs"),
    new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "minhash_sigs(hv, numBands, bandSize) takes exactly three arguments")
      MinHashSigs(children.head, children(1), children(2))
    })

  private[plans] val md5Prefix32Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_prefix32"),
    new ExpressionInfo(classOf[Md5Prefix32].getName, "md5_prefix32"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "md5_prefix32(arr) takes exactly one argument")
      Md5Prefix32(children.head)
    })

  private[plans] val wordShinglesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "word_shingles(toks, n) takes exactly two arguments")
      WordShingles(children.head, children(1))
    })

  private[plans] val simhashHexDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_hex"),
    new ExpressionInfo(classOf[SimHashHex].getName, "simhash_hex"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "simhash_hex(terms) takes exactly one argument")
      SimHashHex(children.head)
    })

  private[plans] val dotF64Descriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_f64"),
    new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "dot_f64(a, b) takes exactly two arguments")
      DotF64(children.head, children(1))
    })

  private[plans] val runStatsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("run_stats"),
    new ExpressionInfo(classOf[RunStats].getName, "run_stats"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "run_stats(grams) takes exactly one argument")
      RunStats(children.head)
    })

  private[plans] val bloomContainsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_contains"),
    new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "bloom_contains(filter, value) takes exactly two arguments")
      BloomContains(children.head, children(1))
    })

  private[plans] val entropyStatsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("entropy_stats"),
    new ExpressionInfo(classOf[EntropyStats].getName, "entropy_stats"),
    (children: Seq[Expression]) => {
      require(children.size == 1, "entropy_stats(toks) takes exactly one argument")
      EntropyStats(children.head)
    })
}
