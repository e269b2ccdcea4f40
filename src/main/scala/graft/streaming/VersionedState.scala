package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The mergeable state of one `foreachBatch` loop, versioned by batch id:
  * version `v<id>` under `<base>_state` holds the state after batch `id`.
  * All four state-carrying loops ([[StreamingAdvisor]], [[StreamingDrift]],
  * [[StreamingAdmission]], [[StreamingIndex]]) follow these rules; each
  * keeps only its own state type, format and merge.
  *
  *   - RESTART: a checkpointed restart resumes batch ids where they left
  *     off, and the next batch merges from the newest version below its
  *     id, so pre-restart state is never lost.
  *   - REPLAY: a batch replayed after a lost streaming commit merges from
  *     the newest version STRICTLY BELOW its own id and overwrites
  *     `v<id>`, so a crash between the state write and the commit cannot
  *     double-count. Its callback re-fires with the same values; consumers
  *     replace by batch id. Writes are plain overwrites: a half-written
  *     version only exists for the batch that crashed mid-write, and its
  *     replay rewrites it before any later batch can merge from it.
  *   - FRESH LINEAGE: batch 0 deletes every version under the root. A
  *     restart WITHOUT a checkpoint renumbers batches from 0 while the old
  *     run's versions survive; left in place they would re-enter the merge
  *     once this run's ids pass theirs. A checkpointed replay of batch 0
  *     loses nothing (it rebuilds `v0` anew). Hence ONE loop per
  *     state root: two loops sharing a base delete each other's state.
  *   - RETENTION: after a batch's work, `keep` versions remain, counting
  *     `v<id>`. `keep >= 2` always retains the merge base a replay of the
  *     current batch needs. Deeper retention serves recovery tooling that
  *     reaches further back than Spark's one-batch replay.
  *
  * All file operations go through the Hadoop FileSystem of the root itself,
  * the resolver the checkpoint and parquet writes use, so the state lands
  * wherever they do (local, HDFS, S3).
  */
private[streaming] final class VersionedState(base: String, conf: Configuration,
    keep: Int) {
  require(keep >= 2, s"keep must retain the merge base and v<id>, got $keep")

  private val root = new Path(base.stripSuffix("/") + "_state")
  private val fs = root.getFileSystem(conf)

  /** The path of version `v<id>`. */
  def version(id: Long): Path = new Path(root, s"v$id")

  private def versions: Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.matches("v\\d+"))
      .map(p => p.getName.drop(1).toLong -> p).sortBy(_._1)

  /** Open batch `id`: sweep the old lineage on batch 0, then return the
    * version to merge from (the newest `v<j>` with `j < id`). */
  def mergeBase(id: Long): Option[Path] = {
    if (id == 0L) versions.foreach { case (_, p) => fs.delete(p, true) }
    versions.filter(_._1 < id).lastOption.map(_._2)
  }

  /** Close batch `id`: keep the `keep − 1` newest versions below it. */
  def retire(id: Long): Unit =
    versions.filter(_._1 < id).dropRight(keep - 1)
      .foreach { case (_, p) => fs.delete(p, true) }

  def readLines(path: Path): Seq[String] = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  def writeLines(id: Long, lines: Seq[String]): Unit = {
    val out = fs.create(version(id), true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }
}

private[streaming] object VersionedState {

  /** Versions a small text state keeps: each is metadata-sized, so it
    * retains three merge bases where a replay needs one. */
  private val textKeep = 4

  /** The loop of a metadata-sized state kept as one text file per version
    * beside `checkpoint`: per micro-batch, read the merge base, `merge` the
    * batch into it, write `v<id>`, retire old versions, then hand
    * (id, base, merged) to `onBatch`. */
  def textLoop[S](input: DataFrame, checkpoint: String)(
      decode: Seq[String] => S, encode: S => Seq[String])(
      merge: (Option[S], DataFrame) => S)(
      onBatch: (Long, Option[S], S) => Unit): StreamingQuery = {
    val store = new VersionedState(checkpoint,
      input.sparkSession.sessionState.newHadoopConf(), textKeep)
    input.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: java.lang.Long) =>
        val base = store.mergeBase(id).map(p => decode(store.readLines(p)))
        val merged = merge(base, batch)
        store.writeLines(id, encode(merged))
        store.retire(id)
        onBatch(id, base, merged)
      }
      .start()
  }
}
