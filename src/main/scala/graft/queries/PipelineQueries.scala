package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.llm.IvfIndex.Trained

/** The shared-substrate memo: intermediates (candidate pairs, trained
  * quantizers, index stores, replay clocks) that several rows read are
  * built once per (session, dataset) and reused, until [[clearCaches]].
  * Substrates read by one family only live in that family's file. */
object PipelineQueries {
  private val maxCacheEntries = 8

  /** ONE memo for every shared substrate, keyed by (substrate name,
    * session, dir, kind). Each query stays independently runnable
    * (the `SparkEntry.queries` contract), but when several run in the
    * same session over the same table dir — exactly what Verify and
    * Bench do — a shared intermediate is built by the first consumer and
    * reused by the rest.
    *
    * Lifecycle, honestly: entries are STRONG references held for the JVM
    * lifetime unless [[clearCaches]] runs; a memo that already holds
    * `maxCacheEntries` distinct (session, dir) pairs clears itself before
    * admitting a new one, which bounds the leak for long-lived drivers
    * cycling sessions/dirs. A caller that rewrites the parquet under a
    * cached dir mid-session must [[clearCaches]] or the queries serve
    * stale substrates (same contract as any materialized view).
    *
    * `getOrElseUpdate` on a TrieMap is non-blocking: the build runs
    * outside any lock and the first finished value wins, so a build may
    * itself read other substrates through this same map (the clusters
    * read the LSH pairs; the residual codebooks read the residual frame,
    * which reads the trained quantizer) — `ConcurrentHashMap
    * .computeIfAbsent` would throw `Recursive update` there. */
  private val substrates = scala.collection.concurrent.TrieMap
    .empty[(String, SparkSession, String, String), Any]

  private[queries] def memo[T](name: String, s: SparkSession, d: String,
                               kind: String = "")(build: => T): T = {
    val dirs = substrates.keySet.map(k => (k._2, k._3))
    if (!dirs((s, d)) && dirs.size >= maxCacheEntries) clearCaches()
    substrates.getOrElseUpdate((name, s, d, kind), build).asInstanceOf[T]
  }

  /** Drop memoized intermediates. Checkpoint BLOCKS are reclaimed by the
    * ContextCleaner once the dropped frames' RDDs are unreachable (an
    * explicit unpersist would be a no-op — localCheckpoint data is not in
    * the CacheManager). Bench calls this between passes so every pass
    * pays the shared pipeline exactly once — timings stay honest. */
  def clearCaches(): Unit = substrates.clear()

  /** Store dirs created by THIS JVM, deleted by a shutdown hook: the
    * pid-suffixed paths fix the r12 cross-process clobber but would
    * otherwise leak one full store per (kind, dataset, JVM) into the
    * temp dir forever — repeated bench/verify runs would eventually
    * fill it (the hazard the old fixed-path scheme bounded by
    * overwriting). In-JVM reuse is unaffected: the hook runs at exit,
    * and within a run the memo (or a rebuild into the same path
    * after clearCaches) serves reads. */
  private val createdStoreDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val storeCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      createdStoreDirs.forEach(p => rm(new java.io.File(p)))
    }))

  private def indexStorePath(kind: String, d: String): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val p = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_idx_${pid}_$dig").getPath
    storeCleanupHook
    createdStoreDirs.add(p)
    p
  }

  /** Materialized-index store paths, memoized per (session, dir, kind).
    * The r12 split: the store builds ONCE per pass — the `ann_*_build`
    * rows time the write — and the `ann_*_indexed` probe rows then time
    * ONLY the pruned read the layout exists for (Bench's name-sorted
    * order runs `*_build` first; a standalone probe invocation still
    * builds on first use, so Verify's per-query contract holds). The
    * path carries the JVM pid plus a digest of the dataset dir, so two
    * concurrent bench/verify JVMs (e.g. sf0.1 and sf1) can never
    * overwrite each other's store mid-query (r12 advice — the fixed
    * `graft_*_idx_q` paths were a cross-process clobber hazard). */
  private[queries] def sharedIndex(s: SparkSession, d: String, kind: String)(
      build: String => Unit): String =
    memo("index", s, d, kind) {
      val p = indexStorePath(kind, d)
      build(p)
      p
    }

  /** Trained-IVF coarse quantizer (k=8 cells, 2 Lloyd rounds — the
    * embed_kmeans configuration, so the oracle's kmeansCtes replay
    * serves the cell assignment verbatim), memoized per (session, dir):
    * every trained-cell query shares one training run. */
  private[queries] def sharedIvfTrained(s: SparkSession, d: String): Trained =
    memo("ivfTrained", s, d)(
      Trained.train(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 2, dim = 64))
}
