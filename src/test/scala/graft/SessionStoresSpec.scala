package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionStoresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("servedPath builds exactly once under concurrent first access") {
    // every session store rides this: if two queries race the first
    // touch, a double build is at best wasted minutes and at worst a
    // torn overwrite under a concurrent read
    val path = graft.sources.SessionStores.scopedPath("graft_test_store",
      "concurrent_" + System.nanoTime())
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def serve(): Long =
      graft.sources.SessionStores.servedPath(spark, path) {
        builds.incrementAndGet()
        Thread.sleep(200) // widen the race window
        (0L until 100L).toDF("v").write.mode("overwrite").parquet(path)
      }.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] { def call(): Long = serve() }))
      assert(futures.map(_.get()).forall(_ === 100L))
      assert(builds.get() === 1, s"store built ${builds.get()} times")
    } finally pool.shutdown()
  }

  test("servedPath keyed per path: distinct stores build independently") {
    val a = graft.sources.SessionStores.scopedPath("graft_test_store",
      "a_" + System.nanoTime())
    val b = graft.sources.SessionStores.scopedPath("graft_test_store",
      "b_" + System.nanoTime())
    val va = graft.sources.SessionStores.servedPath(spark, a) {
      Seq(1L).toDF("v").write.mode("overwrite").parquet(a)
    }.as[Long].head()
    val vb = graft.sources.SessionStores.servedPath(spark, b) {
      Seq(2L).toDF("v").write.mode("overwrite").parquet(b)
    }.as[Long].head()
    assert(va === 1L && vb === 2L)
  }

  private val S = graft.sources.SessionStores

  private def jobsStartedBy(body: => Unit): Int = Jobs.startedBy(spark)(body).size

  test("servedPath resolves its relation once per session: a repeat call starts no job") {
    val path = S.scopedPath("graft_test_store", "resolve_" + System.nanoTime())
    val first = S.servedPath(spark, path) {
      (0L until 10L).toDF("v").write.mode("overwrite").parquet(path)
    }
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { again = S.servedPath(spark, path)(fail("built twice")) } === 0,
      "a repeat call re-listed or re-inferred the store")
    assert(again eq first)
    val other = spark.newSession()
    val theirs = S.servedPath(other, path)(fail("built twice"))
    assert(!(theirs eq first), "a new session must resolve its own relation")
    assert(theirs.sparkSession eq other)
    assert(theirs.count() === 10L)
  }

  test("memo builds once under 4 concurrent first calls on one (session, key)") {
    val key = "test.concurrent:" + System.nanoTime()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = S.memo(spark, key) {
            builds.incrementAndGet()
            Thread.sleep(200) // widen the race window
            "built"
          }
        }))
      assert(futures.map(_.get()).forall(_ === "built"))
      assert(builds.get() === 1, s"memo built ${builds.get()} times")
    } finally pool.shutdown()
  }

  test("memo keeps one entry per session: newSession() builds its own") {
    val key = "test.per_session:" + System.nanoTime()
    val other = spark.newSession()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession): Int =
      S.memo(s, key)(builds.incrementAndGet())
    assert(get(spark) === 1)
    assert(get(other) === 2)
    assert(get(spark) === 1 && get(other) === 2)
    assert(builds.get() === 2)
  }

  test("nested memo calls on different keys do not deadlock") {
    // the DedupStore shape: clusters → pairs → hashes, each its own key,
    // entered concurrently from the outer and the inner end
    val tag = System.nanoTime().toString
    def inner(): Int = S.memo(spark, "test.inner:" + tag) { Thread.sleep(100); 1 }
    def middle(): Int = S.memo(spark, "test.middle:" + tag) { Thread.sleep(100); inner() + 1 }
    def outer(): Int = S.memo(spark, "test.outer:" + tag) { middle() + 1 }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls: Seq[() => Int] = Seq(() => outer(), () => inner(), () => middle(), () => outer())
      val futures = calls.map(f => pool.submit(
        new java.util.concurrent.Callable[Int] { def call(): Int = f() }))
      val got = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got === Seq(3, 1, 2, 3))
    } finally pool.shutdownNow()
  }

  test("release unpersists a session's memoized DataFrames and the next call rebuilds") {
    val s = spark.newSession()
    val key = "test.release:" + System.nanoTime()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def get(): org.apache.spark.sql.DataFrame = S.memo(s, key) {
      builds.incrementAndGet()
      val df = s.range(10).toDF("v").persist()
      df.count()
      df
    }
    val first = get()
    assert(first.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    assert(get() eq first)
    S.release(s)
    assert(first.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    val second = get()
    assert(builds.get() === 2)
    assert(!(second eq first) && second.count() === 10L)
    S.release(s)
  }

  test("streamed runs slices 0, 1, 2 in order once per session and returns a path under its family") {
    val family = "graft_test_streamed"
    val name = "store_" + System.nanoTime()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def store(s: org.apache.spark.sql.SparkSession, dir: String): String =
      S.streamed(s, family, name, dir) { (slice, path) => seen += slice.id -> path: Unit }
    val path = store(spark, "/corpus/a")
    assert(seen.map(_._1) === Seq(0L, 1L, 2L))
    assert(seen.forall(_._2 == path), "every slice ingests into the returned path")
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    assert(path.startsWith(s"$tmp/$family/"), path)
    assert(store(spark, "/corpus/a") === path)
    assert(seen.size === 3, "a second call in the same session must run nothing")
    val other = spark.newSession()
    assert(store(other, "/corpus/a") === path)
    assert(seen.map(_._1) === Seq(0L, 1L, 2L, 0L, 1L, 2L), "each session ingests once")
    // another dir or name is another store
    val byDir = store(spark, "/corpus/b")
    val byName = S.streamed(spark, family, name + "_b", "/corpus/a")((_, _) => ())
    assert(Set(path, byDir, byName).size === 3)
    // `build` wraps the ingest: a finishing step runs after slice 2
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    var built = ""
    val wrapped = S.streamed(spark, family, name + "_c", "/corpus/a",
        build = (p, ingest) => { built = p; order += "start"; ingest(); order += "finish": Unit }) {
      (slice, _) => order += slice.id.toString: Unit
    }
    assert(order === Seq("start", "0", "1", "2", "finish"))
    assert(built === wrapped && wrapped.startsWith(s"$tmp/$family/"))
  }

  test("a Slice selects the rows of its key modulo the slice count, each row in exactly one") {
    val keys = spark.range(0, 30).toDF("k")
    val slices = (0 until S.SliceCount).map(b =>
      keys.filter(S.Slice(b)(org.apache.spark.sql.functions.col("k"))).as[Long].collect().toSet)
    for ((got, b) <- slices.zipWithIndex)
      assert(got === (0L until 30L).filter(_ % S.SliceCount == b).toSet)
    assert(slices.map(_.size).sum === 30)
  }

  test("parquet writes once per process and resolves once per session; (family, name) names the store") {
    val name = "parquet_" + System.nanoTime()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def store(s: org.apache.spark.sql.SparkSession, family: String, n: String, v: Long) =
      S.parquet(s, family, n, "/corpus/a") { builds.incrementAndGet(); Seq(v).toDF("v") }
    val first = store(spark, "graft_test_store", name, 1L)
    assert(first.as[Long].collect().toSeq === Seq(1L))
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { again = store(spark, "graft_test_store", name, 9L) } === 0,
      "a repeat call re-wrote or re-listed the store")
    assert(again eq first)
    val other = spark.newSession()
    val theirs = store(other, "graft_test_store", name, 9L)
    assert(!(theirs eq first), "a new session must resolve its own relation")
    assert(theirs.as[Long].collect().toSeq === Seq(1L))
    assert(builds.get() === 1, "written once per process")
    // another name or family is another path, so another key
    val byName = store(spark, "graft_test_store", name + "_b", 2L)
    val byFamily = store(spark, "graft_test_store_b", name, 3L)
    assert(byName.as[Long].head() === 2L && byFamily.as[Long].head() === 3L)
    assert(builds.get() === 3)
    val dirs = Seq(first, byName, byFamily).map(df =>
      new org.apache.hadoop.fs.Path(df.inputFiles.head).getParent.toString)
    assert(dirs.distinct.size === 3, dirs)
  }

  test("first scopedPath of a family deletes dead-process scopes, keeps live and bare ones") {
    // a killed JVM never runs the shutdown hook, so its scope dir stays
    // behind; its `.owner` lock died with it, and the next process sweeps it
    import java.nio.channels.FileChannel
    import java.nio.file.{Files, StandardOpenOption}
    val family = "graft_test_sweep_" + System.nanoTime()
    val root = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), family)
    def scope(name: String, owner: Boolean): java.io.File = {
      val d = new java.io.File(root, name)
      Files.createDirectories(d.toPath.resolve("store"))
      Files.writeString(d.toPath.resolve("store/part-0.parquet"), "x")
      if (owner) Files.createFile(d.toPath.resolve(".owner"))
      d
    }
    val dead = scope("dead0001", owner = true)
    val held = scope("held0001", owner = true)
    val bare = scope("bare0001", owner = false)
    // the test holds `held`'s lock: an in-JVM holder counts as live
    val ch = FileChannel.open(held.toPath.resolve(".owner"), StandardOpenOption.WRITE)
    val lock = ch.lock()
    try {
      val own = new java.io.File(S.scopedPath(family, "store")).getParentFile
      assert(!dead.exists(), "a scope with no live lock holder must be swept")
      assert(held.exists() && new java.io.File(held, "store/part-0.parquet").isFile,
        "a scope whose lock is held must survive")
      assert(bare.exists(), "a scope with no .owner may be mid-claim and must survive")
      assert(new java.io.File(own, ".owner").isFile, "the live scope must hold its .owner")
      assert(own.listFiles().forall(f => f.getName == ".owner"), "no stray claim files")
      S.scopedPath(family, "other")
      assert(held.exists() && own.exists())
    } finally {
      lock.release()
      ch.close()
      Seq(held, bare).foreach { d =>
        Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      }
    }
  }

  private def tableMeta(tbl: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))

  test("bucketed builds once per process, newSession() serves it, 32 buckets by key; (family, name) names the store") {
    val name = "bucketed_" + System.nanoTime()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def store(s: org.apache.spark.sql.SparkSession, family: String, n: String, v: Long) =
      S.bucketed(s, family, n, "/corpus/a", "k") {
        builds.incrementAndGet(); Seq((v, "x")).toDF("k", "v")
      }
    val first = store(spark, "graft_test_bkt", name, 1L)
    assert(first.select("k").as[Long].collect().toSeq === Seq(1L))
    assert(jobsStartedBy { store(spark, "graft_test_bkt", name, 9L) } === 0,
      "a repeat call re-wrote the store")
    val other = spark.newSession()
    val theirs = store(other, "graft_test_bkt", name, 9L)
    assert(theirs.sparkSession eq other)
    assert(theirs.select("k").as[Long].collect().toSeq === Seq(1L))
    assert(builds.get() === 1, "written once per process")
    val tbl = S.tableName("graft_test_bkt", name, "/corpus/a")
    assert(tableMeta(tbl).bucketSpec ===
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(32, Seq("k"), Seq("k"))))
    // another name or family is another table over another path
    val byName = store(spark, "graft_test_bkt", name + "_b", 2L)
    val byFamily = store(spark, "graft_test_bkt_b", name, 3L)
    assert(byName.select("k").as[Long].head() === 2L && byFamily.select("k").as[Long].head() === 3L)
    assert(builds.get() === 3)
    val tables = Seq(("graft_test_bkt", name), ("graft_test_bkt", name + "_b"),
      ("graft_test_bkt_b", name)).map { case (f, n) => S.tableName(f, n, "/corpus/a") }
    assert(tables.distinct.size === 3, tables)
    val locations = tables.map(t => tableMeta(t).location.getPath)
    assert(locations.distinct.size === 3, locations)
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    assert(locations.head.startsWith(s"$tmp/graft_test_bkt/${S.processScope}/"), locations)
  }

  test("bucketed drops and rebuilds a table whose files lie outside this process's scope") {
    // a persistent metastore can hold the table of a previous process,
    // over files in that process's (deleted) scope directory
    val (family, name, dir) = ("graft_test_bkt", "stale_" + System.nanoTime(), "/corpus/a")
    val tbl = S.tableName(family, name, dir)
    val foreign = java.nio.file.Files.createTempDirectory("graft_foreign_scope").resolve("t").toString
    Seq((7L, "old")).toDF("k", "v").write.option("path", foreign).saveAsTable(tbl)
    val served = S.bucketed(spark, family, name, dir, "k")(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val location = tableMeta(tbl).location.getPath
    assert(location.contains(s"/${S.processScope}/") && !location.startsWith(foreign), location)
    assert(served.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
    assert(jobsStartedBy { S.bucketed(spark, family, name, dir, "k")(fail("built twice")) } === 0,
      "a verified table must be served without a check or a rebuild")
  }
}
