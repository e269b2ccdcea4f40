package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one in-process memo registry. Everything computed once and
  * reused — table frames, column profiles, workload statistics, index
  * parameters, trained models, persisted sketch intermediates — is one entry
  * here, keyed by (session, key). This module alone decides how long an
  * entry lives and when it is stale; call sites only name what they build.
  *
  * Keys: each call site prefixes its key with its own tag (`table:`,
  * `profiles:`, `pca:`, a frame's operator tag …) and the rest of the key
  * must identify the INPUT DATA plus every parameter the result depends on —
  * the registry never inspects what it memoizes, so two inputs under one key
  * would silently share the first one's result. Fixture call sites key by
  * the corpus directory.
  *
  * Freshness: an entry built from fixture files names them in `inputs`; the
  * registry records their [[snapshot]] (path, length, mtime) and a later
  * lookup that finds a different snapshot rebuilds the entry and replaces it
  * (unpersisting a frame it replaces). A table rewritten under the same path
  * therefore never serves its old frame, profile or workload statistics.
  * Entries without inputs (operator frames keyed by directory) rely on the
  * key-names-immutable-input contract above.
  *
  * Lifetime: entries live until [[clear]] for their session; entries whose
  * session's SparkContext has stopped are swept on every lookup (their
  * cached blocks died with the context, but the map would otherwise pin the
  * session and everything reachable from it for the JVM lifetime). Sessions
  * a server retires WITHOUT stopping the context still need [[clear]].
  *
  * Acquire: get, build OUTSIDE the map, `putIfAbsent`. Builds nest — a
  * profile build reads its tables through [[graft.catalog.TableRegistry]],
  * an ANN pair build reads the memoized bucket projection — which rules out
  * `computeIfAbsent`: its mapping function must not touch the map, and a
  * nested key landing in the same hash bin dies with
  * `IllegalStateException("Recursive update")` (intermittently, since bins
  * depend on the session's identity hash). A concurrent duplicate build is
  * benign: the `putIfAbsent` loser adopts the winner's value.
  */
object Memo {

  /** @param persisted the registry persisted `value` (a [[frame]]), so it
    *   unpersists it on [[clear]] and on replacement. A plain class: the
    *   compare-and-set on replacement must compare entries by identity. */
  private final class Entry(val value: Any, val snapshot: String, val persisted: Boolean)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  /** The value memoized under `key` for `spark`, built by `build` on a miss
    * or when the snapshot of `inputs` (fixture paths the value reads)
    * changed since it was built. */
  def apply[T](spark: SparkSession, key: String, inputs: Seq[String] = Nil)
      (build: => T): T = acquire(spark, key, inputs, persisted = false)(build)

  /** A persisted (MEMORY_AND_DISK) intermediate frame — repeated builds of
    * the same index or sketch (same session + tag + key) reuse ONE persisted
    * DataFrame instead of stacking a new `.persist()` per call (r3's
    * `simsearch_ivf` leak). The cached data lives in block storage, so
    * memory pressure evicts blocks, never correctness. Callers without a
    * stable key get the plain un-persisted plan.
    *
    * @param persistUnkeyed when true, a key-less call still persists the
    *   built DataFrame (for sketches consumed by several branches of ONE
    *   query, where inlining would recompute them per branch — Spark's
    *   CacheManager dedups identical plans, so repeated key-less calls
    *   share storage rather than stacking it) */
  def frame(spark: SparkSession, cacheKey: Option[String], tag: String,
      persistUnkeyed: Boolean = false)(build: => DataFrame): DataFrame =
    cacheKey match {
      case Some(k) => acquire(spark, s"$tag:$k", Nil, persisted = true)(
        build.persist(StorageLevel.MEMORY_AND_DISK))
      case None if persistUnkeyed => build.persist(StorageLevel.MEMORY_AND_DISK)
      case None => build
    }

  /** Unpersist every frame the registry persisted for `spark` and drop all
    * of its entries. */
  def clear(spark: SparkSession): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        release(e.getValue)
        it.remove()
      }
    }
  }

  /** (path, length, mtime) of every file under `paths` — a directory
    * contributes each file below it — as one comparable string; an
    * unreadable path reads as `path:?`. One file-status call per plain file. */
  def snapshot(spark: SparkSession, paths: Seq[String]): String =
    if (paths.isEmpty) ""
    else {
      val conf = spark.sessionState.newHadoopConf()
      def stamp(st: org.apache.hadoop.fs.FileStatus) =
        s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
      paths.sorted.map { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        try {
          val fs = path.getFileSystem(conf)
          val st = fs.getFileStatus(path)
          if (!st.isDirectory) stamp(st)
          else {
            val files = fs.listFiles(path, true)
            val out = Seq.newBuilder[String]
            while (files.hasNext) out += stamp(files.next())
            out.result().sorted.mkString(",")
          }
        } catch { case _: java.io.IOException => s"$p:?" }
      }.mkString("|")
    }

  private def release(e: Entry): Unit =
    if (e.persisted) e.value.asInstanceOf[DataFrame].unpersist()

  private def acquire[T](spark: SparkSession, key: String, inputs: Seq[String],
      persisted: Boolean)(build: => T): T = {
    entries.keySet().removeIf(_._1.sparkContext.isStopped)
    val k = (spark, key)
    val snap = snapshot(spark, inputs)
    val existing = entries.get(k)
    if (existing != null && existing.snapshot == snap) existing.value.asInstanceOf[T]
    else {
      // a stale frame goes BEFORE the rebuild: CacheManager matches cached
      // data by logical plan, and a re-read of the same path plans equal to
      // the old read, so the new frame's persist would adopt the old blocks
      if (existing != null) release(existing)
      val built = build
      val entry = new Entry(built, snap, persisted)
      val prev =
        if (existing != null && entries.replace(k, existing, entry)) null
        else entries.putIfAbsent(k, entry)
      // the race loser must NOT unpersist: its plan is identical to the
      // winner's, so unpersisting would evict the winner's cache entry and
      // leave the memo serving a permanently-uncached frame; its persist()
      // was a no-op on the already-cached plan, so nothing leaks
      if (prev == null) built else prev.value.asInstanceOf[T]
    }
  }
}
