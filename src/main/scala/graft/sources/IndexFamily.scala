package graft.sources

import org.apache.spark.sql.SparkSession

/** The paper's bulk build as one job set: the six stores the index and
  * the scoring family serve from — `IndexStore.postings` and
  * `positionalPostings`, `TermStatsStore.tf`, `stats`, `docLengths` and
  * `scalars` — are built together, each part its own Spark job, on two
  * driver threads that take three parts each. A small corpus's build is
  * fixed per-job latency (planning, scheduling, the write commit), and
  * two jobs in flight overlap it. Six in flight overlap it further but
  * oversubscribe a 4-core driver with planning and code generation: the
  * JIT's compile queue falls behind during the build and drains into
  * whatever runs next, so the work after the build slows by a varying
  * amount.
  *
  * No part reads another part's output: `stats` aggregates the
  * `(doc_id, term, tf)` rows `tf` stores (beside each posting's `dl` and
  * `df`), and `scalars` the per-document lengths `docLengths` writes,
  * each computed again from the corpus (`TermStatsStore.tfRows`,
  * `wideTfRows` and `docLengthRows`).
  * Each part keeps its own corpus scan and tokenization: a persisted
  * token base shared by the six built fewer documents per second and
  * slowed the streamed micro-batches that follow the build.
  *
  * Every public accessor of the six first calls `ensure`: a memo per
  * (session, dir), so a hit is one map read. A part is the store's own
  * `SessionStores` call (`bucketed` or `parquet`), which builds at most once
  * per process; a new session runs the parts again and each finds its
  * store built.
  */
private[graft] object IndexFamily {

  /** One store of the family; `build` is its served-store call. */
  private[graft] final case class Part(name: String, build: () => Any)

  private def parts(spark: SparkSession, dir: String): Seq[Part] = Seq(
    Part("postings", () => IndexStore.servedPostings(spark, dir)),
    Part("positional", () => IndexStore.servedPositional(spark, dir)),
    Part("tf", () => TermStatsStore.servedTf(spark, dir)),
    Part("stats", () => TermStatsStore.servedStats(spark, dir)),
    Part("doclen", () => TermStatsStore.servedDocLengths(spark, dir)),
    Part("scalars", () => TermStatsStore.servedScalars(spark, dir)))

  /** Build every store of `dir`'s family not yet built in this process. */
  def ensure(spark: SparkSession, dir: String): Unit =
    SessionStores.memo(spark, "index.family:" + dir)(runParts(parts(spark, dir)))

  /** Driver threads the parts run on; part `i` runs on thread `i % Lanes`. */
  private val Lanes = 2

  /** Run the parts on `Lanes` driver threads, each running its parts in
    * order, and wait for all of them. A new thread inherits the caller's
    * Spark local properties (job group, description, scheduler pool), so
    * `cancelJobGroup` and per-query attribution reach the parts' jobs. A
    * failed part does not stop its thread's later parts, and a failure
    * surfaces only once every part has finished: the first error in part
    * order, the others attached as suppressed. A failed part's store is
    * not marked built, so the next call builds only what is missing.
    */
  private[graft] def runParts(parts: Seq[Part]): Unit = {
    val errors = new Array[Throwable](parts.size)
    val threads = (0 until Lanes).map { lane =>
      val t = new Thread(() =>
        parts.indices.filter(_ % Lanes == lane).foreach { i =>
          try parts(i).build() catch { case e: Throwable => errors(i) = e }
        },
        "graft-index-family-" + lane)
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.filter(_ != null).toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil =>
    }
  }
}
