package graft.streaming

import graft.ext.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X67 — the streaming ADMISSION GATE: the `foreachBatch` face of the
  * PII-redaction chain (X62, `pii_redact_clean`) and the Gopher rule
  * battery (`quality_gopher_rules`). Admission screening is where those
  * checks actually run in production: per micro-batch, every arriving
  * document is scored against the IDENTICAL predicates the batch keys
  * report on ([[TextAnalysis.gopherRules]], the X62 sequential
  * email → IPv4 → phone counting), and per-source counters — docs seen,
  * redactions found, quality failures, PII hits, admitted — merge into
  * bounded state.
  *
  * Scale design: the state is O(sources) rows of six longs,
  * metadata-sized at any stream length; the doc stream itself is never
  * retained (each batch contributes one grouped count, the
  * [[StreamingDrift]] shape). Boundedness is the lex-first-cap fold: at
  * most `sourceCap` sources are tracked individually, everything beyond
  * collapses into the `__overflow` row. The fold is ARRIVAL-ORDER
  * INVARIANT — counts are additive and a displaced source's accumulated
  * counts fold wholesale into overflow, so at every point the state is
  * exactly "lex-first cap of all sources seen so far, rest in overflow"
  * regardless of how the stream was micro-batched (the property the
  * batch-twin spec asserts across different splits).
  *
  * Durability: one text file per batch id beside the checkpoint, under
  * the rules of [[VersionedState]].
  */
object StreamingAdmission {

  /** Per-source admission counters. */
  final case class Counts(nDocs: Long, nRedactions: Long, nQualityFail: Long,
      nPiiHit: Long, nAdmitted: Long) {
    def +(o: Counts): Counts = Counts(nDocs + o.nDocs,
      nRedactions + o.nRedactions, nQualityFail + o.nQualityFail,
      nPiiHit + o.nPiiHit, nAdmitted + o.nAdmitted)
  }

  /** Per-doc admission flags over a (source, text, n_chars) frame: the
    * X62 sequential redaction counts (each pattern counted on the PREVIOUS
    * pass's output — the declared ordering semantics), the four Gopher
    * rules, and the admission verdict: ADMITTED ⟺ all four rules pass AND
    * zero PII hits. One scan, per-row regex + array work only. */
  def perDocFlags(docs: DataFrame): DataFrame = {
    val (rLen, rWord, rStop, rRep) =
      TextAnalysis.gopherRules(col("text"), col("n_chars"))
    docs
      .withColumn("n_email", size(regexp_extract_all(col("text"),
        lit(TextAnalysis.emailPat), lit(0))).cast("long"))
      .withColumn("t1",
        regexp_replace(col("text"), TextAnalysis.emailPat, "<EMAIL>"))
      .withColumn("n_ipv4", size(regexp_extract_all(col("t1"),
        lit(TextAnalysis.ipv4Pat), lit(0))).cast("long"))
      .withColumn("t2",
        regexp_replace(col("t1"), TextAnalysis.ipv4Pat, "<IP>"))
      .withColumn("n_phone", size(regexp_extract_all(col("t2"),
        lit(TextAnalysis.phonePat), lit(0))).cast("long"))
      .withColumn("n_red", col("n_email") + col("n_ipv4") + col("n_phone"))
      .withColumn("q_pass", rLen && rWord && rStop && rRep)
      .select(col("source"), col("n_red"), col("q_pass"),
        (col("n_red") > 0L).as("pii_hit"),
        (col("q_pass") && col("n_red") === 0L).as("admitted"))
  }

  /** The batch aggregation both faces share: per-source counters. */
  def perSourceStats(docs: DataFrame): DataFrame =
    perDocFlags(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_red").as("n_redactions"),
        sum(when(!col("q_pass"), 1L).otherwise(0L)).as("n_quality_fail"),
        sum(when(col("pii_hit"), 1L).otherwise(0L)).as("n_pii_hit"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"))

  /** The declared batch twin (`admission_gate`): [[perSourceStats]] plus
    * the exact admitted fraction. The lex-first-cap fold is a STATE
    * policy, not an observability transform — the declared key reports
    * every source (the cap is spec-pinned on the streaming side). */
  def batchTwin(docs: DataFrame): DataFrame =
    perSourceStats(docs)
      .withColumn("admit_frac",
        graft.ext.ExactMath.ratioRounded(col("n_admitted"), col("n_docs"), 6))
      .orderBy("source")

  /** Lex-first-cap fold of a counter map (see the object doc for the
    * arrival-order-invariance argument). */
  def capped(state: Map[String, Counts], sourceCap: Int): Map[String, Counts] = {
    val real = state - Overflow
    if (real.size <= sourceCap) state
    else {
      val keep = real.keys.toSeq.sorted.take(sourceCap).toSet
      val folded = real.filterNot { case (s, _) => keep(s) }.values
        .foldLeft(state.getOrElse(Overflow, Counts(0, 0, 0, 0, 0)))(_ + _)
      real.filter { case (s, _) => keep(s) } + (Overflow -> folded)
    }
  }

  /** The overflow bucket's reserved source name — never a real source
    * name by contract, and excluded from the lex ranking by construction
    * (capped() removes it before ranking), so its own sort position is
    * irrelevant. */
  val Overflow = "__overflow"

  /** A source name as one state-line token: URL-encoded, so a name with a
    * space, a newline or any other character round-trips through the
    * space-separated, line-per-source state file. */
  private def encodeSource(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  private def decodeSource(t: String): String = java.net.URLDecoder.decode(t, "UTF-8")

  /** Start the admission gate over a streaming (source, text, n_chars)
    * frame: per micro-batch, merge the batch's per-source counters into
    * the persisted capped state (versioned at `<checkpoint>_state/v<id>`)
    * and hand the post-merge snapshot to `onBatch`. */
  def monitor(docs: DataFrame, checkpoint: String, sourceCap: Int = 64)(
      onBatch: (Long, Map[String, Counts]) => Unit): StreamingQuery =
    VersionedState.textLoop[Map[String, Counts]](docs, checkpoint)(
      _.map { l =>
        val a = l.split(" ")
        decodeSource(a(0)) -> Counts(a(1).toLong, a(2).toLong, a(3).toLong,
          a(4).toLong, a(5).toLong)
      }.toMap,
      _.toSeq.sortBy(_._1).map { case (s, c) =>
        s"${encodeSource(s)} ${c.nDocs} ${c.nRedactions} ${c.nQualityFail} ${c.nPiiHit} ${c.nAdmitted}"
      }) { (baseOpt, batch) =>
      val base = baseOpt.getOrElse(Map.empty[String, Counts])
      val delta = perSourceStats(batch).collect().map { r =>
        r.getString(0) -> Counts(r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      }.toMap
      capped(
        (base.keySet ++ delta.keySet).iterator.map { s =>
          s -> (base.getOrElse(s, Counts(0, 0, 0, 0, 0)) +
            delta.getOrElse(s, Counts(0, 0, 0, 0, 0)))
        }.toMap, sourceCap)
    } { (id, _, merged) => onBatch(id, merged) }
}
