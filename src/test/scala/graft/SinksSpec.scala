package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.InvertedIndex
import graft.sources.Sinks

class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "u1", "the cat sat"),
    (2L, "u2", "the dog ran"),
    (3L, "u3", "cat and dog played")
  ).toDF("doc_id", "url", "text")

  test("K2 parquet sink round-trips and the lookup plan prunes buckets") {
    val path = Files.createTempDirectory("graft_sink").toString + "/idx"
    Sinks.writeIndex(InvertedIndex.postings(docs), "t_sink_spec", path, buckets = 8)
    val back = spark.table("t_sink_spec")
    assert(back.count() === 7) // cat,sat ×(1); dog,ran; cat,dog,played
    val lookup = InvertedIndex.lookup(back, "cat")
    assert(lookup.as[(Long, String)].collect().map(_._1).sorted === Seq(1L, 3L))
    val plan = lookup.queryExecution.executedPlan.toString
    PlanScans.assertBucketPruned(lookup, _ == 1)
    assert(!plan.toLowerCase.contains("exchange"), "point lookup must not shuffle")
  }

  test("writeShards: round-trip equals the packed input, budget bound holds, manifest is deterministic") {
    import org.apache.spark.sql.functions._
    // 40 docs of varying token counts + one empty doc (must be excluded)
    val many = ((1L to 40L).map(i =>
        (i, s"u$i", (1L to (i % 7 + 1)).map(j => s"w$j").mkString(" "))) :+
      (41L, "u41", "!!!")).toDF("doc_id", "url", "text")
    val path = Files.createTempDirectory("graft_shards").toString + "/sh"
    val manifest = Sinks.writeShards(many, path, budget = 16L)
    // round-trip: the shards carry exactly the n_tok > 0 corpus
    val back = spark.read.parquet(path)
    assert(back.select("doc_id").as[Long].collect().sorted === (1L to 40L).toArray)
    assert(back.select("doc_id", "text").as[(Long, String)].collect().toSet
      === many.filter(col("doc_id") <= 40)
        .select("doc_id", "text").as[(Long, String)].collect().toSet)
    // shard token mass is bounded: budget + (longest doc − 1)
    val maxDoc = back.agg(max("n_tok")).as[Long].head()
    val masses = manifest.select("n_tokens").as[Long].collect()
    assert(masses.forall(_ <= 16L + maxDoc - 1),
      s"shard over budget+maxdoc: ${masses.mkString(",")}")
    assert(masses.sum === back.agg(sum("n_tok")).as[Long].head())
    // manifest totals agree with a recount of the read-back data
    val recount = back.groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .as[(Long, Long, Long)].collect().toSet
    assert(manifest.select("shard_id", "n_docs", "n_tokens")
      .as[(Long, Long, Long)].collect().toSet === recount)
    // Hive layout: a shard filter prunes partitions at planning time
    val one = back.filter(col("shard_id") === manifest.select("shard_id").as[Long].head())
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(shard_id"))
    // deterministic: a second export of the same corpus lands the same manifest
    val path2 = Files.createTempDirectory("graft_shards2").toString + "/sh"
    val manifest2 = Sinks.writeShards(many, path2, budget = 16L)
    assert(manifest.as[(Long, Long, Long, Long)].collect().toSet
      === manifest2.as[(Long, Long, Long, Long)].collect().toSet)
    // a content change flips the digest (the checksum actually vouches)
    val path3 = Files.createTempDirectory("graft_shards3").toString + "/sh"
    val tweaked = many.withColumn("text",
      when(col("doc_id") === 10L, lit("w1")).otherwise(col("text"))) // 4 tokens → 1
    val manifest3 = Sinks.writeShards(tweaked, path3, budget = 16L)
    assert(manifest.as[(Long, Long, Long, Long)].collect().toSet
      !== manifest3.as[(Long, Long, Long, Long)].collect().toSet,
      "digest must move when a document's content changes")
  }

  test("K2 JSON envelope has the reference shape") {
    val out = Files.createTempDirectory("graft_json").toString + "/index.json"
    Sinks.writeJsonEnvelope(InvertedIndex.index(docs), out)
    val txt = Files.readString(Paths.get(out))
    // reference shape: {"metadata": {...num_terms...}, "index": {term: [{doc_id, url}...]}}
    assert(txt.startsWith("""{"metadata": {"creation_time":"""))
    assert(txt.contains(""""num_terms": 5"""))
    assert(txt.contains(""""cat":[{"doc_id":1,"url":"u1"},{"doc_id":3,"url":"u3"}]"""))
  }

  test("JSON envelope round-trips: write then read equals the in-memory index") {
    val out = Files.createTempDirectory("graft_rt").toString + "/index.json"
    val idx = InvertedIndex.index(docs)
    Sinks.writeJsonEnvelope(idx, out)
    val back = Sinks.readJsonEnvelope(spark, out)
      .as[(String, Seq[(Long, String)])].collect().toMap
    val orig = idx.as[(String, Seq[(Long, String)])].collect().toMap
    assert(back === orig)
  }

  test("partitioned sink: partition filter prunes directories at planning time") {
    val path = Files.createTempDirectory("graft_part").toString + "/docs"
    val df = Seq(
      (1L, "en", "hello"), (2L, "en", "world"), (3L, "de", "hallo"), (4L, "fr", "salut")
    ).toDF("doc_id", "lang", "text")
    Sinks.writePartitioned(df, path, partitionCol = "lang", sortCol = "doc_id")
    val back = spark.read.parquet(path).filter($"lang" === "en")
    assert(back.select("doc_id").as[Long].collect().sorted === Seq(1L, 2L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), s"no partition pruning:\n$plan")
    // partition pruning is directory-level: only the lang=en files are listed
    assert(!plan.toLowerCase.contains("exchange"))
  }

  test("partitioned sink: DYNAMIC partition pruning — a filtered dim join prunes fact partitions at runtime") {
    val path = Files.createTempDirectory("graft_dpp").toString + "/fact"
    // fact partitioned on a low-cardinality key; dim carries the
    // selective predicate. At plan time the fact filter is unknown — DPP
    // injects the dim's broadcast result into the fact scan's
    // PartitionFilters, so only the matching directories are read: the
    // star-schema scan pattern at 100 TB (filter the date dim, scan only
    // those date partitions of the fact)
    val fact = (0 until 20000).map(i => (i.toLong, s"p${i % 5}", i * 2.0))
      .toDF("id", "pk", "v")
    Sinks.writePartitioned(fact, path, partitionCol = "pk", sortCol = "id")
    // the dim predicate must be a real comparison over a FILE source:
    // DPP only fires for "likely selective" filters (a bare boolean
    // attribute doesn't qualify), and a filter over an in-memory
    // LocalRelation is constant-folded away before the rule ever sees it
    val dimPath = path + "_dim"
    Seq(("p1", "hot"), ("p3", "hot"), ("p0", "cold"), ("p2", "cold"), ("p4", "cold"))
      .toDF("pk", "grp").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    // a LocalRelation dim carries no column stats, so the stats-based
    // benefit estimate can refuse to prune a toy-sized fact; the
    // heuristic fallback ratio is the documented escape (production
    // tables have stats). Scoped to this query build + restored.
    val useStats = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val prev = spark.conf.get(useStats)
    val (plan, rows) = try {
      spark.conf.set(useStats, "false")
      // aggregate a DATA column: a partition-column-only projection reads
      // zero data bytes and the benefit estimate refuses to prune
      val q = spark.read.parquet(path)
        .join(dim.filter($"grp" === "hot"), "pk")
        .groupBy("pk").agg(org.apache.spark.sql.functions.sum($"v").as("sv"))
      // force plan + execution inside the conf window (both are lazy)
      (q.queryExecution.executedPlan.toString, q.as[(String, Double)].collect().toMap)
    } finally spark.conf.set(useStats, prev)
    val expected = fact.filter($"pk".isin("p1", "p3"))
      .groupBy("pk").agg(org.apache.spark.sql.functions.sum($"v").as("sv"))
      .as[(String, Double)].collect().toMap
    assert(rows === expected && expected.size === 2)
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning in the fact scan:\n$plan")
  }

  test("K1 raw mapper envelope round-trips and carries reference metadata") {
    val out = Files.createTempDirectory("graft_k1").toString + "/mapper_3_part0.json"
    val postings = InvertedIndex.postings(docs)
    Sinks.writeMapperEnvelope(postings, mapperId = 3, out)
    val txt = Files.readString(Paths.get(out))
    assert(txt.contains(""""mapper_id": 3"""))
    assert(txt.contains(""""num_terms": 7"""))
    assert(txt.contains(""""creation_time""""))
    val back = Sinks.readMapperEnvelope(spark, out)
      .as[(String, Long, String)].collect().toSet
    assert(back === postings.as[(String, Long, String)].collect().toSet)
  }

  test("K1 shuffled envelope groups occurrences per term and round-trips") {
    val out = Files.createTempDirectory("graft_k1s").toString + "/shuffled_mapper_3.json"
    val postings = InvertedIndex.postings(docs)
    Sinks.writeShuffledEnvelope(postings, mapperId = 3, out)
    val txt = Files.readString(Paths.get(out))
    assert(txt.contains(""""shuffled": true"""))
    assert(txt.contains(""""unique_terms": 5"""))
    assert(txt.contains(""""num_terms": 7"""))
    assert(txt.contains(""""shuffle_time""""))
    // grouped shape: one entry per term with its occurrence list
    assert(txt.contains(""""cat","occurrences":[{"doc_id":1,"url":"u1"},{"doc_id":3,"url":"u3"}]"""))
    val back = Sinks.readShuffledEnvelope(spark, out)
      .as[(String, Long, String)].collect().toSet
    assert(back === postings.as[(String, Long, String)].collect().toSet)
  }

  test("K1 envelopes of an EMPTY posting relation are valid, not an NPE") {
    val dir = Files.createTempDirectory("graft_k1e").toString
    val empty = docs.filter($"doc_id" < 0)
    Sinks.writeMapperEnvelope(InvertedIndex.postings(empty), 1, s"$dir/raw.json")
    Sinks.writeShuffledEnvelope(InvertedIndex.postings(empty), 1, s"$dir/shuf.json")
    assert(Files.readString(Paths.get(s"$dir/raw.json")).contains(""""num_terms": 0"""))
    val shuf = Files.readString(Paths.get(s"$dir/shuf.json"))
    assert(shuf.contains(""""num_terms": 0""") && shuf.contains(""""unique_terms": 0"""))
    assert(Sinks.readShuffledEnvelope(spark, s"$dir/shuf.json").count() === 0)
  }

  test("IndexStore builds once and serves bucket-pruned boolean queries") {
    val p1 = graft.sources.IndexStore.postings(spark, "/root/testdata/sf0.001")
    val p2 = graft.sources.IndexStore.postings(spark, "/root/testdata/sf0.001")
    assert(p1.count() === p2.count())
    PlanScans.assertBucketPruned(p1.filter($"term" === "spark"), _ == 1)
  }

  test("training-shard export: shard layout, read-back manifest, pruning, straddle convention") {
    import java.nio.file.Files
    val path = Files.createTempDirectory("graft_shards").toString + "/shards"
    val corpus = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "source", "text")
    val manifest = Sinks.writeTrainingShards(corpus, path,
      budget = 512L, chunksPerShard = 4L)
    val back = spark.read.parquet(path)
    // every doc lands exactly once, in the shard of its FIRST chunk
    assert(back.count() === corpus.count())
    assert(back.filter(org.apache.spark.sql.functions.expr("shard <> first_chunk DIV 4"))
      .count() === 0)
    // manifest token mass equals the corpus token mass (read-back truth)
    import org.apache.spark.sql.functions._
    val totTok = corpus
      .select(sum(size(graft.functions.Text.tokenize(col("text"))))).head.getLong(0)
    assert(manifest.agg(sum(col("n_tokens"))).head.getLong(0) === totTok)
    assert(manifest.agg(sum(col("n_docs"))).head.getLong(0) === corpus.count())
    // a shard filter prunes directories at planning time
    val pruned = spark.read.parquet(path).filter(col("shard") === 0L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(shard"), s"no partition pruning:\n$plan")
    // the persisted manifest is invisible to the shard scan (underscore dir)
    assert(!back.columns.contains("n_docs"))
    assert(spark.read.parquet(s"$path/_graft_manifest").count() === manifest.count())
  }

  test("shard exports read their manifest back without Spark's ignored-path WARN") {
    // DataSource logs "All paths were ignored" for a read whose root is
    // the underscore-named manifest directory, although it reads it
    val root = Files.createTempDirectory("graft_manifest_warn").toString
    val (_, events) = LogCapture.warnings {
      Sinks.writeShards(docs, s"$root/md5", budget = 4L).collect()
      Sinks.writeTrainingShards(docs, s"$root/packed", budget = 4L).collect()
      // a new session resolves the served manifest again, even when an
      // earlier suite already built the export in this process
      SparkEntry.queries("q_export_manifest")(spark.newSession(), "/root/testdata/sf0.001")
        .collect()
    }
    val ignored = events.filter(_.getMessage.getFormattedMessage.contains("All paths were ignored"))
    assert(ignored.isEmpty, LogCapture.show(ignored))
  }
}
