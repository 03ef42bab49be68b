package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Shared scaffolding for the session-scoped derived stores (the
  * persisted index, the co-located bucketed tables, the z-ordered
  * rewrite, the per-session memo relations): ONE per-process scope id,
  * the build-once disciplines, the metastore staleness guard for
  * catalog tables, and end-of-process cleanup.
  *
  * LIFETIMES — the one rule for choosing a backing:
  *   - file-backed stores (`servedPath` paths, `bucketed` tables) live
  *     for the PROCESS: built once per target path or table, served to
  *     every session, deleted by the shutdown hook below; a `servedPath`
  *     relation is resolved once per SESSION (a `memo` entry);
  *   - `memo` entries live for the SESSION: built once per
  *     (session, key), evicted by the first miss after that session's
  *     context stops, and released early (persisted blocks
  *     unpersisted) by `release`.
  * A relation that feeds `RangeRank` must stay parquet-backed (a
  * `servedPath` store), never a memoized `.persist()`: an
  * `InMemoryRelation` under its range exchange defeats exchange reuse,
  * and `RangeRank` refuses cached-lineage input (see `PriceQuantiles`).
  *
  * PROCESS SCOPING: store files live under a per-process UUID directory
  * so two concurrent JVMs (each overwriting on build) can never race
  * each other's files.
  *
  * DERIVED STORES — one declaration each:
  *   - naming: a store of a corpus `dir` is named by (family, name, dir);
  *     its files are `scopedPath(family, name + "_" + tagOf(dir))` and
  *     its session key derives from that path, so two stores can share
  *     neither a path nor a key;
  *   - `parquet` writes a DataFrame to that path once per process and
  *     serves it (`servedPath`);
  *   - `bucketed` writes a DataFrame to that path once per process as
  *     the catalog table `tableName(family, name, dir)`, bucketed and
  *     sorted by a key (`Sinks.writeBucketed`), and serves the table;
  *   - `streamed` ingests a streamed twin's store as [[SliceCount]]
  *     micro-batches, batch ids 0, 1, 2 in order, slice `b` holding the
  *     rows whose key is `b` modulo the slice count (every sliced key is
  *     a non-negative id or a hash reduced with `pmod`), once per
  *     (session, store), and returns the path.
  *
  * STALENESS GUARD (catalog tables): with a PERSISTENT metastore, a new
  * JVM can see `tableExists = true` for a table whose files live under
  * a PREVIOUS process's scope directory (possibly already deleted) —
  * serving it would fail or read another process's files. A table whose
  * location is not under THIS process's scope is dropped and rebuilt.
  * The `verified` set caches the check so the DESCRIBE round-trip is
  * paid at most once per table per process.
  *
  * CLEANUP: every scope directory handed out is registered with a JVM
  * shutdown hook that deletes it — the UUID guarantees the hook can
  * only ever delete THIS process's copies, and without it every run
  * leaves table-sized garbage (a full z-ordered lineitem copy, bucketed
  * lineitem+orders) accumulating in the temp dir. A killed JVM runs no
  * hook; the next process sweeps its scopes (`claim`).
  */
private[graft] object SessionStores {

  val processScope: String = java.util.UUID.randomUUID().toString.take(8)

  // PER-TARGET build locks: two threads building the SAME store
  // serialize (second one finds it verified), but a multi-minute index
  // build must not block an already-built layout store's fast-path
  // serve — one global monitor would
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)
  private val verified = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val scopeDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scopeDirs.forEach { d =>
        try deleteRecursively(new java.io.File(d))
        catch { case _: Exception => } // best effort — process is dying
      }
    }, "graft-session-store-cleanup"))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }

  /** md5 tag of the RAW dir string: two distinct corpus dirs that
    * sanitize identically (`/a/b` vs `/a_b`) must not collide on one
    * table name and serve data from the wrong corpus.
    */
  def tagOf(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** Target path for one store under this process's scope directory of
    * `family` (e.g. `graft_index`); the scope dir is registered for
    * end-of-process deletion. The first call of a family claims the
    * scope and sweeps the scopes dead processes left (`claim`).
    */
  def scopedPath(family: String, name: String): String = {
    val d = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/$family/$processScope"
    if (scopeDirs.add(d)) claim(new java.io.File(d))
    s"$d/$name"
  }

  // the owner locks this process holds, one per claimed scope, and the
  // channels of live in-JVM locks met by a sweep (see `claim`)
  private val owned = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()

  /** Hold an OS lock on `<scope>/.owner` for the process's lifetime, then
    * delete every sibling scope whose `.owner` lock can be taken: its
    * process is gone, and so is the shutdown hook that would have deleted
    * it (a killed JVM). The lock file is created and locked under a
    * temporary name and then renamed, so a sweep never sees an unlocked
    * `.owner` of a live scope; a sibling with no `.owner` is left alone.
    * A lock this JVM already holds counts as live, and its sweep channel
    * stays open: closing any channel on a file releases every lock the
    * process holds on it. Best effort: an I/O error skips the sweep.
    */
  private def claim(scope: java.io.File): Unit = {
    import java.nio.channels.{FileChannel, OverlappingFileLockException}
    import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
    try {
      Files.createDirectories(scope.toPath)
      val tmp = Files.createTempFile(scope.toPath, ".owner", ".tmp")
      val lock = FileChannel.open(tmp, StandardOpenOption.WRITE).tryLock()
      Files.move(tmp, scope.toPath.resolve(".owner"), StandardCopyOption.ATOMIC_MOVE)
      owned.add(lock)
      for (sib <- Option(scope.getParentFile.listFiles()).toSeq.flatten
           if sib.getName != processScope && new java.io.File(sib, ".owner").isFile) {
        val ch = FileChannel.open(sib.toPath.resolve(".owner"), StandardOpenOption.WRITE)
        try {
          if (ch.tryLock() != null) deleteRecursively(sib) // null: another process holds it
          ch.close()
        } catch { case _: OverlappingFileLockException => owned.add(ch) }
      }
    } catch { case _: java.io.IOException => }
  }

  /** Serve a plain parquet path store, running `build` (which must write
    * `path`) at most once per process. No catalog involved, so no
    * staleness guard is needed: the path embeds the process scope. The
    * relation is resolved (file listing, schema) once per session and
    * memoized: the target is written once per process, and the only
    * later rewrites of a served path — a directory swap or its crash
    * recovery in `StoreMaintenance` — drop its resolved relations
    * (`unresolve`), so a session never reads a file list that is gone.
    */
  def servedPath(spark: SparkSession, path: String)(build: => Unit): DataFrame = {
    lockFor(path).synchronized {
      if (!verified.contains(path)) {
        build
        verified.add(path): Unit
      }
    }
    memo(spark, "served:" + path)(spark.read.parquet(path))
  }

  /** Drop every session's resolved `servedPath` relation of `path`; the
    * next call lists the path again. No-op for a path never served.
    */
  private[graft] def unresolve(path: String): Unit =
    memos.keySet.removeIf(_._2 == "served:" + path): Unit

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), AnyRef]()

  /** The value `build` returns, computed once per (`s`, `key`) and served
    * for the session's lifetime — a materialized view: a source that
    * changes mid-session keeps serving the value of the first touch.
    * `key` names the store as well as its input (`"dedup.pairs:" + dir`),
    * since every store shares this one map. A hit is one lock-free read;
    * a miss takes the per-key lock, so concurrent first calls build once
    * while builds of different keys may nest (`pairs` inside `clusters`).
    * A miss also evicts the entries of stopped sessions, so the map
    * cannot pin dead sessions or their blocks, and sweeps the checkpoint
    * files those sessions left behind.
    */
  def memo[T](s: SparkSession, key: String)(build: => T): T = {
    val k = (s, key)
    val hit = memos.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else lockFor(key).synchronized {
      val again = memos.get(k)
      if (again != null) again.asInstanceOf[T]
      else {
        memos.keySet.removeIf(_._1.sparkContext.isStopped): Unit
        graft.operators.Dedup.releaseStaleCheckpoints()
        val v = build
        memos.put(k, v.asInstanceOf[AnyRef])
        v
      }
    }
  }

  /** Drop `s`'s memo entries whose key starts with `keyPrefix`,
    * unpersisting every memoized Dataset among them.
    */
  private[graft] def forget(s: SparkSession, keyPrefix: String): Unit = {
    val it = memos.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if ((e.getKey._1 eq s) && e.getKey._2.startsWith(keyPrefix)) {
        e.getValue match {
          case ds: org.apache.spark.sql.Dataset[_] => ds.unpersist(): Unit
          case _ =>
        }
        it.remove()
      }
    }
  }

  /** The number of micro-batches a streamed store ingests its input in. */
  val SliceCount = 3

  /** Micro-batch `id` of a streamed store's ingest. */
  final case class Slice(id: Long) {
    /** This slice's rows: those whose `key` is `id` modulo [[SliceCount]]. */
    def apply(key: Column): Column = pmod(key, lit(SliceCount)) === id
  }

  private def storePath(family: String, name: String, dir: String): String =
    scopedPath(family, name + "_" + tagOf(dir))

  /** The parquet store (family, name, dir): `frame` written once per
    * process, the relation resolved once per session (`servedPath`).
    */
  def parquet(s: SparkSession, family: String, name: String, dir: String)(
      frame: => DataFrame): DataFrame = {
    val path = storePath(family, name, dir)
    servedPath(s, path)(frame.write.mode(SaveMode.Overwrite).parquet(path))
  }

  /** The catalog table of the bucketed store (family, name, dir). */
  private[graft] def tableName(family: String, name: String, dir: String): String =
    s"${family}_${name}_${tagOf(dir)}"

  /** The bucketed store (family, name, dir): `frame` written once per
    * process as the catalog table [[tableName]] over the store's path,
    * `Sinks.Buckets` buckets by `key`, each sorted by `key`
    * (`Sinks.writeBucketed`), behind the staleness guard.
    */
  def bucketed(s: SparkSession, family: String, name: String, dir: String, key: String)(
      frame: => DataFrame): DataFrame = {
    val tbl = tableName(family, name, dir)
    lockFor(tbl).synchronized {
      if (!verified.contains(tbl)) {
        val stale = s.catalog.tableExists(tbl) &&
          !s.sql(s"DESCRIBE TABLE EXTENDED $tbl")
            .filter(col("col_name") === "Location")
            .collect().headOption.exists(_.getString(1).contains(s"/$processScope/"))
        if (stale) s.sql(s"DROP TABLE IF EXISTS $tbl")
        if (stale || !s.catalog.tableExists(tbl))
          Sinks.writeBucketed(frame, tbl, storePath(family, name, dir), key, Sinks.Buckets,
            SaveMode.Overwrite)
        verified.add(tbl): Unit
      }
    }
    s.table(tbl)
  }

  /** The path of the streamed store (family, name, dir), built once per
    * session: `build(path, ingest)` runs `ingest()`, which calls
    * `slice(Slice(b), path)` for b = 0 until [[SliceCount]] in order. A
    * store that settles after its ingest (a compaction) or guards it for
    * the process passes its own `build`.
    */
  def streamed(s: SparkSession, family: String, name: String, dir: String,
               build: (String, () => Unit) => Unit = (_, ingest) => ingest())(
      slice: (Slice, String) => Unit): String = {
    val path = storePath(family, name, dir)
    memo(s, "streamed:" + path) {
      build(path, () => (0 until SliceCount).foreach(b => slice(Slice(b), path)))
      path
    }
  }

  /** End-of-job release for one session: drop its memo entries FIRST,
    * unpersisting their DataFrames (their lineage may reference reliable
    * checkpoints), then delete the context's recorded checkpoint
    * directories (`Dedup.releaseCheckpoints`). This is the safe order —
    * deleting the files under a live cache would leave cached frames
    * that FileNotFound on any block recompute. Only call when no
    * checkpointed data of this context is needed again — see the scope
    * warning on `Dedup.releaseCheckpoints`.
    */
  def release(s: SparkSession): Unit = {
    forget(s, "")
    graft.operators.Dedup.releaseCheckpoints(s)
  }
}
