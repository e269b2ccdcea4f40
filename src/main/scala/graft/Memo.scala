package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** The engine's one in-process memo registry. Everything computed once and
  * reused — table frames, column profiles, workload statistics, index
  * parameters, trained models, persisted sketch intermediates — is one entry
  * here. This module alone decides what identifies an entry, how long it
  * lives and when it is stale; call sites only name what they build and
  * hand over what it reads.
  *
  * Keys: one rule. An entry is (session, tag, inputs). The tag names the
  * computation and every parameter it takes (`table:`, `profiles:`,
  * `minhash_sh:3:20` …); the inputs are what it reads — file paths, or
  * DataFrames. A path is its own identity. A DataFrame is identified by its
  * canonicalized analyzed plan, the plan equality Spark's CacheManager
  * matches cached data on: two builds of the same plan over the same files
  * (`InMemoryFileIndex` equality is its root paths) are one input, two
  * different filters of one table are two. So two inputs never share an
  * entry however a call site names them.
  *
  * Freshness: one rule. The registry records the [[snapshot]] (path,
  * length, mtime) of the files an entry reads — the paths it was given, or
  * the root paths of its frames' file relations — and a lookup that finds
  * a different snapshot rebuilds the entry and replaces it (unpersisting a
  * frame it replaces). A corpus rewritten under the same path therefore
  * never serves its old frame, sketch, profile or model. Frames over no
  * files (in-memory data, checkpointed RDDs) are identified by their data
  * and never go stale.
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

  /** @param inputs path strings, or canonicalized plans */
  private final case class Key(session: SparkSession, tag: String, inputs: Seq[Any])

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value `tag` names for `spark`, reading the files under `paths`. */
  def apply[T](spark: SparkSession, tag: String, paths: Seq[String] = Nil)
      (build: => T): T = acquire(Key(spark, tag, paths), paths, persisted = false)(build)

  /** The value `tag` computes from `inputs`. */
  def of[T](tag: String, inputs: DataFrame*)(build: => T): T = {
    val (key, paths) = keyOf(tag, inputs)
    acquire(key, paths, persisted = false)(build)
  }

  /** The frame `tag` builds from `inputs`, persisted (MEMORY_AND_DISK) — a
    * sketch or index that feeds several branches of a plan, or several
    * keys, is computed once instead of being inlined into every consumer,
    * and repeated builds reuse ONE persisted DataFrame instead of stacking
    * a `.persist()` per call (r3's `simsearch_ivf` leak). The cached data
    * lives in block storage, so memory pressure evicts blocks, never
    * correctness. */
  def frame(tag: String, inputs: DataFrame*)(build: => DataFrame): DataFrame = {
    val (key, paths) = keyOf(tag, inputs)
    acquire(key, paths, persisted = true)(build.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Unpersist every frame the registry persisted for `spark` and drop all
    * of its entries. */
  def clear(spark: SparkSession): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.session eq spark) {
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

  /** The key of `tag` over `inputs`, and the root paths of the files they
    * read (subqueries included). */
  private def keyOf(tag: String, inputs: Seq[DataFrame]): (Key, Seq[String]) = {
    require(inputs.nonEmpty, s"memo entry $tag names no input")
    val spark = inputs.head.sparkSession
    require(inputs.forall(_.sparkSession eq spark), s"memo entry $tag spans sessions")
    val plans = inputs.map(_.queryExecution.analyzed)
    val paths = plans.flatMap(_.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths.map(_.toString)
    }.flatten).distinct
    (Key(spark, tag, plans.map(_.canonicalized: LogicalPlan)), paths)
  }

  private def release(e: Entry): Unit =
    if (e.persisted) e.value.asInstanceOf[DataFrame].unpersist()

  private def acquire[T](k: Key, paths: Seq[String], persisted: Boolean)(build: => T): T = {
    entries.keySet().removeIf(_.session.sparkContext.isStopped)
    val snap = snapshot(k.session, paths)
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
