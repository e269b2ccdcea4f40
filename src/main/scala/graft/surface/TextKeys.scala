package graft
package surface

import graft.ext.{Bpe, ExactMath, QualityModel, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text, quality and tokenization: token and n-gram statistics, language
  * ID, heuristic and learned quality filters, perplexity scoring, PII
  * redaction, BPE training/encoding/sharding, vocabulary sizing, chunking
  * and sequence packing, mixture weighting and epoch planning, corpus
  * health, drift and governance reports.
  */
object TextKeys {

  /** The α=0.5 mixture allocation plan — (source, n_tokens, w_micros,
    * alloc_tokens) for a 2×-corpus token budget. ONE definition shared by
    * `mixture_epochs` (epoch ratios) and `epoch_repeat_plan` (per-doc
    * repeat counts) so the sqrt-weight/ratioRounded chain cannot drift
    * between the two keys and their oracles. Float enters exactly once
    * (sqrt·1e6 → integer micros); the allocation is integer arithmetic in
    * decimal(38,0) — budget×weight never transits a Long. The per-source
    * token rollup is memoized (persisted O(sources) rows) because it feeds
    * three consumers: the weights, the max scalar and the totals scalar. */
  private[graft] def mixtureAllocPlan(s: SparkSession, dir: String): DataFrame = {
    val d = "decimal(38,0)"
    val docs = t(s, dir, "documents")
    val ps = Memo.frame("mixture_ps", docs) {
      docs.select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("source").agg(sum("n_tok").as("n_tokens"))
    }
    val mx = ps.agg(max("n_tokens").as("max_tokens"))
    val w = ps.crossJoin(broadcast(mx)).select(
      col("source"), col("n_tokens"),
      round(sqrt(col("n_tokens").cast("double") / col("max_tokens")) * 1e6)
        .cast("long").as("w_micros"))
    val tots = w.agg(sum("w_micros").as("sum_w"), sum("n_tokens").as("total_tok"))
    w.crossJoin(broadcast(tots))
      .withColumn("alloc_tokens", ExactMath.ratioRounded(
        lit(2L).cast(d) * col("total_tok").cast(d) * col("w_micros").cast(d),
        col("sum_w"), 0).cast("long"))
      .select(col("source"), col("n_tokens"), col("w_micros"), col("alloc_tokens"))
  }

  /** Oracle CTEs of [[mixtureAllocPlan]]'s weights: per-source tokens `ps`,
    * their max `mx`, the sqrt weights in micros `w`, and the totals `t`. */
  private val mixtureWeightCtes: String =
    """ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM ps),
      |w AS (SELECT source, n_tokens,
      |    CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE) / max_tokens) * 1000000) AS BIGINT) AS w_micros
      |  FROM ps, mx),
      |t AS (SELECT CAST(SUM(w_micros) AS BIGINT) AS sum_w,
      |    CAST(SUM(n_tokens) AS BIGINT) AS total_tok FROM w)""".stripMargin

  /** Chained-CTE replay of [[graft.ext.QualityModel]]'s feature build and
    * canonical training schedule (d → f → w0 → … → w12) — shared by the
    * `doc_quality_logreg` and `quality_calibration` oracles so the two
    * replays cannot drift (the pcaOracleCtes discipline). Feature SQL
    * mirrors QualityModel.features op-for-op, including x3's SEQUENCED
    * sum/n-then-/10 divisions (a fused sum/(10n) rounds differently).
    * Ends after the final weight CTE (name it via [[logregFinalW]]); no
    * trailing comma — callers append `,\n<more CTEs>` or `\nSELECT`. */
  private def logregFinalW: String = s"w${QualityModel.trainSteps}"
  private def logregOracleCtes: String = {
    def step(k: Int, prev: String): String = {
      val z = s"($prev.b0*x0 + $prev.b1*x1 + $prev.b2*x2 + $prev.b3*x3)"
      val sig = s"1/(1 + exp(-$z))"
      (0 to 3).map(j =>
        s"MAX($prev.b$j) + ${QualityModel.trainEta}*AVG((y - $sig)*x$j) AS b$j")
        .mkString(s"w$k AS (SELECT ", ", ", s" FROM f, $prev)")
    }
    val steps = (1 to QualityModel.trainSteps)
      .map(k => step(k, s"w${k - 1}")).mkString(",\n")
    s"""WITH d AS (SELECT doc_id, sp,
       |    ${graft.ext.TextAnalysis.qualityMicrosSql("sp")} AS qm
       |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents)),
       |f AS (SELECT doc_id,
       |    CASE WHEN qm >= ${QualityModel.labelThresholdMicros} THEN 1.0 ELSE 0.0 END AS y,
       |    1.0 AS x0,
       |    CAST(LEAST(len(sp), 100) AS DOUBLE)/100 AS x1,
       |    CAST(len(list_filter(sp, t -> t = 'the' OR t = 'a')) AS DOUBLE)/GREATEST(len(sp), 1) AS x2,
       |    LEAST(CAST(list_sum(list_transform(sp, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/GREATEST(len(sp), 1)/10, 1.0) AS x3
       |  FROM d),
       |w0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2, 0.0 AS b3),
       |$steps""".stripMargin
  }

  /** Per-language fertility rollup over (doc_id, text, lang, n_chars) —
    * factored out of the QSpec so the multibyte behavior is unit-testable
    * (the fixture corpus is ASCII-only, so bytes_per_char > 1 never
    * occurs there). */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        sum("n_bytes").as("total_bytes"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("total_bytes"),
        ExactMath.ratioRounded(col("total_chars"), col("total_tokens"), 6)
          .as("chars_per_token"),
        ExactMath.ratioRounded(col("total_bytes"), col("total_chars"), 6)
          .as("bytes_per_char"))
      .orderBy("lang")

  /** The per-doc bigram explode (doc_id, bg), memoized per corpus:
    * it feeds doc_ppl_bigram's count chain (c12 → c1 → V, with c12 itself
    * read twice inside the weight frame) AND its doc-scoring probe join,
    * and heldout_ppl reuses the SAME frame (its is_train flag derives from
    * doc_id post-hoc). Unmaterialized, Catalyst inlined the corpus explode
    * three times per plan — measured 4.5 s → 1.0 s at sf1 for
    * doc_ppl_bigram alone (the memoizedSignatures double-compute class). */
  private def pplBigramsMemo(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Memo.frame("ppl_bigrams", docs) {
      // opt-r15: word bigrams ARE the 2-shingle kernel output for docs of
      // ≥ 2 tokens (the guard excludes the kernel's whole-text collapse),
      // so the interpreted transform+concat runs as one codegen pass
      docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"),
          explode(graft.ext.Dedup.shingles(col("text"), 2)).as("bg"))
    }
  }

  /** [[QualityModel.features]] of the corpus, persisted: the training
    * passes and the scoring pass of both logistic-regression keys read it. */
  private def logregFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Memo.frame("logreg_feat", docs)(QualityModel.features(docs))
  }

  val specs: Seq[QSpec] = Seq(

    QSpec("text_tokens",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy("token"),
      Some(
        """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents) toks
          |GROUP BY token ORDER BY token""".stripMargin)),

    QSpec("token_count",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS INT) AS n_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)),

    QSpec("text_stats_by_source",
      // grouped corpus profiling: per-source doc count, mean length, exact
      // median length — the per-slice quality dashboard of a data pipeline
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          graft.ext.ExactMath.ratioRounded(sum(col("n_chars")), count(lit(1)), 6)
            .as("avg_chars"),
          round(expr("percentile(n_chars, 0.5D)"), 6).as("median_chars"))
        .orderBy("source"),
      Some(
        """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  (CAST(((2000000::HUGEINT * SUM(n_chars) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS avg_chars,
          |  ROUND(quantile_cont(n_chars, 0.5), 6) AS median_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("quality_score",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text"), Seq("the", "a")).as("quality"))
        .orderBy("doc_id"),
      Some(
        s"""SELECT doc_id,
           |  CAST(${TextAnalysis.qualityMicrosSql("sp")} AS DOUBLE) / 1000000 AS quality
           |FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d
           |ORDER BY doc_id""".stripMargin)),

    QSpec("lang_id",
      // marker-token language ID, distinct-match scoring: one codegen
      // array_intersect per language (the r3 filter(isin) HOF form was the
      // bench's 10× regression — interpreted lambdas on a data-proportional
      // path; see TextAnalysis.withLangIdIntersect)
      (s, dir) => TextAnalysis.withLangIdIntersect(
        t(s, dir, "documents"), "text", "lang_pred")
        .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred"),
      Some(
        // first-max-in-order argmax rendered by the ONE shared generator
        // (TextAnalysis.langIdCaseSql) — see its scaladoc
        s"""SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |  SELECT ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred
           |  FROM (SELECT string_split(text, ' ') AS sp FROM documents) d
           |) p GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    QSpec("quality_repetition",
      // Gopher-style duplicate-bigram fraction: flags boilerplate/spam in
      // one codegen scan pass (no shuffle)
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
          |    / CAST(len(g) AS DOUBLE), 6) AS rep_ratio
          |FROM (
          |  SELECT doc_id, CASE WHEN len(sp) < 2 THEN [text]
          |    ELSE list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1]) END AS g
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d) x
          |ORDER BY doc_id""".stripMargin)),

    QSpec("corpus_curate",
      // the curation composite: language filter + quality floor + exact
      // dedup (keep min doc_id per surviving text), all in ONE declarative
      // plan — predicate work stays in the scan stage and dedup is ONE
      // min-struct aggregation on 32-byte sha2 keys (r13: the former
      // keeper-set + left-semi form referenced the scored frame twice, so
      // the string-heavy lang-id/quality scoring ran twice per plan —
      // measured 4.5 s at sf1; the min-struct carries (doc_id, quality)
      // through the shuffle, text never rides, and doc_id's uniqueness
      // makes the struct min exactly the min-doc_id row). This is the
      // "clean corpus" materialization a training pipeline runs before
      // packing; every component reuses an already-oracle-checked
      // operator (lang_id / quality_score / dedup_exact).
      (s, dir) => {
        val scored = TextAnalysis.withLangIdIntersect(
          t(s, dir, "documents"), "text", "lang_pred")
          .withColumn("quality",
            TextAnalysis.qualityScore(col("text"), Seq("the", "a")))
          .where(col("lang_pred") === "en" && col("quality") >= 0.5)
        scored.groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(struct(col("doc_id"), col("quality"))).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.quality").as("quality"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH scored AS (
           |  SELECT doc_id, text,
           |    CAST(${TextAnalysis.qualityMicrosSql("sp")} AS DOUBLE) / 1000000 AS quality,
           |    ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents) d),
           |pass AS (SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.5),
           |keep AS (SELECT MIN(doc_id) AS doc_id FROM pass GROUP BY text)
           |SELECT p.doc_id, p.quality FROM pass p JOIN keep k ON p.doc_id = k.doc_id
           |ORDER BY p.doc_id""".stripMargin)),

    QSpec("pack_sequences",
      // training-sequence packing: per-source concatenation order, 512-token
      // budget; the oracle replays the windowed running sum exactly
      (s, dir) => TextAnalysis.packSequences(t(s, dir, "documents"), "source", 512),
      Some(
        """SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
          |  CAST("offset" AS BIGINT) AS "offset",
          |  CAST("offset" // 512 AS BIGINT) AS seq_id
          |FROM (
          |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
          |    COALESCE(SUM(len(string_split(text, ' '))) OVER (
          |      PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
          |  FROM documents) d
          |ORDER BY source, doc_id""".stripMargin)),

    QSpec("token_count_bpe",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.bpeishTokenCount(col("text")).as("n_units"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, CAST(list_sum(list_transform(sp,
          |    t -> 1 + CAST(FLOOR(GREATEST(length(t) - 1, 0) / 4.0) AS INT))) AS INT) AS n_units
          |FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d
          |ORDER BY doc_id""".stripMargin)),

    QSpec("lang_id_ngram",
      // n-gram-occurrence language ID (the real n-gram heuristic;
      // marker-word variant is `lang_id`). Occurrence counting via
      // length-delta of replace() — plain codegen string ops on both
      // engines, no trigram-array materialization.
      (s, dir) => TextAnalysis.withLangIdOccurrence(
        t(s, dir, "documents"), "text", "lang_pred")
        .groupBy("lang_pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang_pred"),
      Some {
        val score = TextAnalysis.defaultTrigramProfiles.map { case (lang, ps) =>
          lang -> ps.map(p =>
            s"CAST((length(text) - length(replace(text, '$p', ''))) // ${p.length} AS INT)")
            .mkString("(", " + ", ")")
        }
        val Seq(de, en, es, fr, zh) = score.map(_._2)
        s"""SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |  SELECT CASE
           |    WHEN $de >= $en AND $de >= $es AND $de >= $fr AND $de >= $zh THEN 'de'
           |    WHEN $en >= $es AND $en >= $fr AND $en >= $zh THEN 'en'
           |    WHEN $es >= $fr AND $es >= $zh THEN 'es'
           |    WHEN $fr >= $zh THEN 'fr'
           |    ELSE 'zh' END AS lang_pred
           |  FROM documents
           |) p GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
      }),

    QSpec("text_clean",
      // corpus normalization: lowercase, strip non-alphanumerics, collapse
      // whitespace — the canonical pre-tokenization cleanup pass (map-only)
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("clean"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean
          |FROM documents ORDER BY doc_id""".stripMargin)),

    QSpec("pii_redact",
      // PII scrub: deterministic synthetic PII (emails on doc_id%3=0, phone
      // numbers on doc_id%5=0 — the fixture corpus is a clean word-bag) is
      // embedded, then detected (rlike flags) and redacted (global
      // regexp_replace) in one codegen scan pass — no shuffle, no UDF. The
      // flags make selectivity observable: only the injected rows redact.
      (s, dir) => {
        val emailRe = "[a-z0-9]+@[a-z0-9.]+"
        val phoneRe = "555-[0-9]{4}"
        val raw = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" contact u"), col("doc_id").cast("string"), lit("@mail.test")))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(lit(" call 555-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("raw"))
        raw.select(col("doc_id"),
            col("raw").rlike(emailRe).cast("int").as("had_email"),
            col("raw").rlike(phoneRe).cast("int").as("had_phone"),
            regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("clean"))
          .orderBy("doc_id")
      },
      Some(
        """WITH r AS (SELECT doc_id,
          |  text
          |    || CASE WHEN doc_id % 3 = 0
          |         THEN ' contact u' || doc_id || '@mail.test' ELSE '' END
          |    || CASE WHEN doc_id % 5 = 0
          |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |         ELSE '' END AS raw
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(regexp_matches(raw, '[a-z0-9]+@[a-z0-9.]+') AS INT) AS had_email,
          |  CAST(regexp_matches(raw, '555-[0-9]{4}') AS INT) AS had_phone,
          |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
          |    '555-[0-9]{4}', '<PHONE>', 'g') AS clean
          |FROM r ORDER BY doc_id""".stripMargin)),

    QSpec("length_bucket_batches",
      // Loader-side dynamic batching: docs bucketed by token length (floor
      // to 16) and numbered into fixed-size batches of 8 within each
      // (source, bucket) — similar-length sequences batch together, so
      // padding waste is bounded by the bucket width. Most corpora pile up
      // around the modal length, so a (source, bucket) partition is
      // data-proportional — the in-batch number is therefore a TWO-LEVEL
      // count (the vocab_growth_curve discipline): row_number inside
      // 8192-doc-id sub-buckets (bounded frames, parallel), plus a prefix
      // over the per-sub counts — corpus/8192 rows per (source, bucket) —
      // so no window ever sorts a hot length bucket on one task (r12
      // hot-key window audit).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok"))
          .withColumn("bucket", (expr("n_tok div 16") * 16).cast("int"))
          .withColumn("sub", expr("doc_id div 8192"))
        val inSub = Window.partitionBy("source", "bucket", "sub").orderBy("doc_id")
        val subPrefix = d.groupBy("source", "bucket", "sub")
          .agg(count(lit(1)).as("sc"))
          .withColumn("prev", coalesce(sum("sc").over(
            Window.partitionBy("source", "bucket").orderBy("sub")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("source", "bucket", "sub", "prev")
        d.withColumn("rn_in", row_number().over(inSub))
          .join(subPrefix, Seq("source", "bucket", "sub"))
          .withColumn("rn", col("prev") + col("rn_in"))
          .withColumn("batch_id", expr("(rn - 1) div 8").cast("int"))
          .groupBy("source", "bucket", "batch_id")
          .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tok"),
            sum("n_tok").as("sum_tok"))
          .orderBy("source", "bucket", "batch_id")
      },
      Some(
        """WITH d AS (SELECT doc_id, source,
          |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents),
          |b AS (SELECT *, CAST((n_tok // 16) * 16 AS INT) AS bucket FROM d),
          |r AS (SELECT *, row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id) AS rn FROM b)
          |SELECT source, bucket, CAST((rn - 1) // 8 AS INT) AS batch_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(n_tok) AS max_tok,
          |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
          |FROM r GROUP BY source, bucket, batch_id
          |ORDER BY source, bucket, batch_id""".stripMargin)),

    QSpec("doc_lm_quality",
      // Unigram-LM quality scoring (the cheap stand-in for perplexity
      // filtering): mean corpus probability of each doc's tokens. Integer
      // sums end-to-end, one final division — bit-reproducible where a
      // log-space perplexity would drift across libm implementations.
      (s, dir) => graft.ext.TextAnalysis.unigramLmScore(t(s, dir, "documents")),
      Some(
        """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
          |tot AS (SELECT SUM(cnt) AS n FROM tc),
          |per AS (SELECT doc_id, SUM(cnt) AS s, COUNT(*) AS n_tok
          |  FROM toks JOIN tc USING (tok) GROUP BY doc_id)
          |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
          |  (CAST(((2000000000::HUGEINT * s + n_tok * n) // (2::HUGEINT * n_tok * n)) AS DOUBLE) / 1000000000) AS lm_score
          |FROM per, tot ORDER BY doc_id""".stripMargin)),

    QSpec("bpe_merge_step",
      // One BPE-TRAINING iteration over the corpus: frequency-weighted
      // counts of adjacent character pairs inside whitespace tokens — the
      // argmax row is the merge a tokenizer trainer applies next (the
      // surface's other tokenizer keys all APPLY tokenization; this one
      // drives its induction). Scale shape: the corpus-proportional work
      // is one token-count aggregation; the pair explode then runs over
      // the DISTINCT token table (vocabulary-sized, orders of magnitude
      // below corpus size) weighted by occurrence counts — exactly how a
      // real BPE trainer batches its pair statistics. Top-20 by
      // (weighted count desc, pair asc), fully deterministic.
      (s, dir) => {
        val tokc = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        tokc.where(length(col("tok")) >= 2)
          .select(col("cnt"),
            explode(transform(sequence(lit(1), length(col("tok")) - 1),
              i => col("tok").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(sum("cnt").as("weighted_cnt"))
          .orderBy(desc("weighted_cnt"), asc("pair"))
          .limit(20)
      },
      Some(
        """WITH tokc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
          |pairs AS (SELECT cnt,
          |    unnest(list_transform(range(1, length(tok)), i -> tok[i:i+1])) AS pair
          |  FROM tokc WHERE length(tok) >= 2)
          |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weighted_cnt
          |FROM pairs GROUP BY pair
          |ORDER BY weighted_cnt DESC, pair LIMIT 20""".stripMargin)),

    QSpec("mixture_temperature_weights",
      // Temperature-scaled data-mixture weights (the LLaMA-style α=0.5
      // upsampling math): per source, relative sampling weight
      // sqrt(n_tokens_s / n_tokens_max) — computed against the MAX source
      // rather than the sum, deliberately: max() is order-independent, so
      // the pre-round double is identical on every engine, while a
      // cross-source SUM of sqrt irrationals would accumulate in
      // engine-dependent order. sqrt output is irrational → plain round
      // is safe per the SURVEY §5 rounding rule. One token-count
      // aggregation + a broadcast scalar; no shuffle grows with corpus.
      (s, dir) => {
        val perSource = t(s, dir, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
          .groupBy("source").agg(sum("n_tok").as("n_tokens"))
        val mx = perSource.agg(max("n_tokens").as("max_tokens"))
        perSource.crossJoin(broadcast(mx))
          .select(col("source"), col("n_tokens"),
            round(sqrt(col("n_tokens").cast("double") / col("max_tokens")), 6)
              .as("weight"))
          .orderBy("source")
      },
      Some(
        """WITH ps AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |mx AS (SELECT MAX(n_tokens) AS max_tokens FROM ps)
          |SELECT source, n_tokens,
          |  ROUND(sqrt(CAST(n_tokens AS DOUBLE) / max_tokens), 6) AS weight
          |FROM ps, mx ORDER BY source""".stripMargin)),

    QSpec("corpus_health_report",
      // The per-source corpus-health rollup a pipeline owner reads before
      // training: doc count, English fraction, mean quality, exact-dup
      // rate — every column built from an already-triple-verified kernel
      // (marker language ID, integer-exact quality micros, sha2 exact
      // dedup) and every ratio rounded through ExactMath (integer
      // half-up), so the whole report is bit-reproducible. Scale shape:
      // one scan for scoring, one sha2-keyed aggregation + join for the
      // dup flags, one grouped rollup — shuffle keys are 32-byte digests
      // and the source, never text bodies.
      (s, dir) => {
        import graft.ext.{ExactMath, TextAnalysis}
        val docs = t(s, dir, "documents")
        val scored = TextAnalysis.withLangIdIntersect(docs, "text", "lang_pred")
          .withColumn("qm", TextAnalysis.qualityMicros(col("text"), Seq("the", "a")))
        val firstIds = docs.groupBy(sha2(col("text"), 256).as("h"))
          .agg(min("doc_id").as("first_id"))
        scored.withColumn("h", sha2(col("text"), 256))
          .join(firstIds, "h")
          .withColumn("is_dup", (col("doc_id") =!= col("first_id")).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
            sum("qm").as("sum_qm"),
            sum("is_dup").as("n_dup"))
          .select(col("source"), col("n_docs"),
            ExactMath.ratioRounded(col("n_en"), col("n_docs"), 6).as("en_frac"),
            ExactMath.ratioRounded(col("sum_qm"), col("n_docs") * lit(1000000L), 6)
              .as("mean_quality"),
            ExactMath.ratioRounded(col("n_dup"), col("n_docs"), 6).as("dup_rate"))
          .orderBy("source")
      },
      Some {
        import graft.ext.TextAnalysis.{langIdCaseSql, qualityMicrosSql}
        s"""WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS sp FROM documents),
           |scored AS (
           |  SELECT doc_id, source, text,
           |    ${langIdCaseSql("sp")} AS lang_pred,
           |    (${qualityMicrosSql("sp")}) AS qm
           |  FROM d),
           |fi AS (SELECT text, MIN(doc_id) AS first_id FROM d GROUP BY text),
           |j AS (SELECT s.source, s.lang_pred, s.qm,
           |    CASE WHEN s.doc_id <> fi.first_id THEN 1 ELSE 0 END AS is_dup
           |  FROM scored s JOIN fi ON s.text = fi.text)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  (CAST(((2000000::HUGEINT * SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS en_frac,
           |  (CAST(((2000000::HUGEINT * SUM(qm) + COUNT(*) * 1000000) // (2::HUGEINT * COUNT(*) * 1000000)) AS DOUBLE) / 1000000) AS mean_quality,
           |  (CAST(((2000000::HUGEINT * SUM(is_dup) + COUNT(*)) // (2::HUGEINT * COUNT(*))) AS DOUBLE) / 1000000) AS dup_rate
           |FROM j GROUP BY source ORDER BY source""".stripMargin
      }),

    QSpec("vocab_growth_curve",
      // Vocabulary growth as the corpus accretes in doc_id order: per doc,
      // how many token TYPES appear for the first time, and the running
      // distinct-type total — the Heaps-law curve a tokenizer/vocab plan
      // reads before fixing a vocab size. Scale shape: first occurrence is
      // a min-aggregation over the (token → first doc) table (vocabulary-
      // sized after the one corpus-proportional grouping); the cumulative
      // sum runs as a TWO-LEVEL prefix sum so no window ever sees the
      // corpus in one partition: per-doc contributions window inside
      // 1024-doc buckets (parallel across buckets), and only the
      // bucket-total prefix — bucket-count-sized, corpus/1024 — runs as a
      // single-partition window. Only docs introducing ≥1 new type emit.
      (s, dir) => {
        val firstDoc = t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("first_doc"))
        val perDoc = firstDoc.groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_new_types"))
          .withColumn("bkt", expr("doc_id div 1024"))
        val bucketPrefix = perDoc.groupBy("bkt")
          .agg(sum("n_new_types").as("bkt_total"))
          .withColumn("prev_buckets",
            coalesce(sum("bkt_total").over(Window.orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("bkt", "prev_buckets")
        perDoc.join(bucketPrefix, "bkt")
          .withColumn("cum_types",
            col("prev_buckets") + sum("n_new_types").over(
              Window.partitionBy("bkt").orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("doc_id", "n_new_types", "cum_types")
          .orderBy("doc_id")
      },
      Some(
        """WITH fd AS (SELECT tok, MIN(doc_id) AS first_doc FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |pd AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new_types
          |  FROM fd GROUP BY first_doc)
          |SELECT doc_id, n_new_types,
          |  CAST(SUM(n_new_types) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
          |FROM pd ORDER BY doc_id""".stripMargin)),

    QSpec("chunk_overlap",
      // Overlapping fixed-window chunking: 32-token windows on a 24-token
      // stride (8-token overlap) — the RAG / context-window splitter. One
      // generate-and-explode pass per doc; chunk starts come from
      // sequence(), so a doc's chunks never leave its partition and the
      // operator is embarrassingly parallel (no shuffle at all).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .withColumn("n_tok", size(col("toks")))
        d.select(col("doc_id"), col("toks"),
            explode(sequence(lit(1), col("n_tok"), lit(24))).as("start"))
          .withColumn("chunk", slice(col("toks"), col("start"), lit(32)))
          .select(col("doc_id"),
            expr("(start - 1) div 24").cast("int").as("chunk_idx"),
            col("start").cast("int").as("start"),
            size(col("chunk")).as("chunk_tok"),
            element_at(col("chunk"), 1).as("first_tok"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
          |s AS (SELECT doc_id, sp, unnest(range(1, len(sp) + 1, 24)) AS start FROM d)
          |SELECT doc_id, CAST((start - 1) // 24 AS INT) AS chunk_idx,
          |  CAST(start AS INT) AS start,
          |  CAST(len(list_slice(sp, start, least(start + 31, len(sp)))) AS INT) AS chunk_tok,
          |  sp[start] AS first_tok
          |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    QSpec("mixture_sample",
      // Deterministic domain-mixture sampling: each source gets a target
      // keep-rate from its numeric suffix ((n % 5 + 1) × 20%), and a doc is
      // kept iff a Knuth-style integer hash of its id lands under the
      // per-source threshold. Pure integer arithmetic → the same docs are
      // selected on any engine and any run; the selection itself is a
      // stateless map over the scan (no shuffle until the audit rollup).
      // doc_id is pre-reduced mod 1e9+7 BEFORE the Knuth multiply so the
      // product stays < 2^62 for ANY doc_id: without it, Spark (non-ANSI)
      // silently wraps past doc_id ≈ 3.4e9 while DuckDB raises a BIGINT
      // overflow — the engines would diverge exactly at warehouse scale.
      (s, dir) => t(s, dir, "documents")
        .withColumn("srcnum", substring(col("source"), 4, 10).cast("int"))
        .withColumn("thresh", (pmod(col("srcnum"), lit(5)) + 1) * 200)
        .withColumn("keep",
          (pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L),
            lit(1000L)) < col("thresh"))
            .cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum("keep").as("n_sampled"),
          round(max(col("thresh")).cast("double") / 1000d, 2).as("target_rate"))
        .orderBy("source"),
      Some(
        """WITH d AS (SELECT source, doc_id,
          |    ((CAST(substr(source, 4) AS INT) % 5) + 1) * 200 AS thresh
          |  FROM documents)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
          |  CAST(SUM(CASE WHEN ((((doc_id % 1000000007) + 1000000007) % 1000000007) * 2654435761) % 1000 < thresh
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          |  ROUND(MAX(thresh)::DOUBLE / 1000, 2) AS target_rate
          |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("vocab_coverage",
      // Tokenizer sizing: what fraction of all corpus token OCCURRENCES is
      // covered by the top-{10,25,50} most frequent token types? The
      // corpus-proportional work is the one token-count aggregation; the
      // ranking window then runs over the VOCABULARY (type counts, not
      // occurrences — bounded far below corpus size), so the single-
      // partition window is metadata-sized by construction.
      (s, dir) => {
        val tc = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val ranked = tc.withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("tok").asc)))
        val total = tc.agg(sum("cnt").as("total"))
        val levels = Seq(10, 25, 50)
          .foldLeft(Option.empty[DataFrame]) { (acc, n) =>
            val one = ranked.sparkSession.range(1).select(lit(n).as("n_vocab"))
            Some(acc.fold(one)(_.unionAll(one)))
          }.get
        ranked.join(broadcast(levels), col("rank") <= col("n_vocab"))
          .groupBy("n_vocab").agg(sum("cnt").as("covered"))
          .crossJoin(broadcast(total))
          .select(col("n_vocab"), col("covered"), col("total"),
            graft.ext.ExactMath.ratioRounded(col("covered"), col("total"), 6)
              .as("coverage"))
          .orderBy("n_vocab")
      },
      Some(
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
          |tc AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
          |r AS (SELECT tok, cnt,
          |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM tc),
          |tot AS (SELECT SUM(cnt) AS total FROM tc),
          |lv AS (SELECT unnest([10, 25, 50]) AS n_vocab)
          |SELECT CAST(n_vocab AS INT) AS n_vocab,
          |  CAST(SUM(cnt) AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
          |  (CAST(((2000000::HUGEINT * SUM(cnt) + total) // (2::HUGEINT * total)) AS DOUBLE) / 1000000) AS coverage
          |FROM r JOIN lv ON rank <= n_vocab, tot
          |GROUP BY n_vocab, total ORDER BY n_vocab""".stripMargin)),

    QSpec("filter_length_outliers",
      // Percentile-based length trimming: keep docs inside the corpus-wide
      // [P05, P95] character-length band. The percentile pair is ONE
      // two-value aggregate broadcast back over the scan (a 1-row
      // BroadcastNestedLoopJoin, not a data-sized cartesian) — the
      // length-outlier pass every curation pipeline runs before packing.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val q = docs.agg(expr("percentile(n_chars, 0.05D)").as("p05"),
          expr("percentile(n_chars, 0.95D)").as("p95"))
        docs.crossJoin(broadcast(q))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
              .otherwise(0L)).as("n_kept"),
            when(sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
                .otherwise(0L)) === 0, lit(null))
              .otherwise(graft.ext.ExactMath.ratioRounded(
                sum(when(col("n_chars").between(col("p05"), col("p95")),
                  col("n_chars").cast("long")).otherwise(0L)),
                sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
                  .otherwise(0L)), 2)).as("avg_kept_chars"))
          .orderBy("source")
      },
      Some(
        """WITH q AS (SELECT quantile_cont(n_chars, 0.05) AS p05,
          |    quantile_cont(n_chars, 0.95) AS p95 FROM documents)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95) AS BIGINT) AS n_kept,
          |  CASE WHEN COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95) = 0 THEN NULL
          |    ELSE (CAST(((200::HUGEINT * SUM(n_chars) FILTER (WHERE n_chars BETWEEN p05 AND p95)
          |      + COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95))
          |      // (2::HUGEINT * COUNT(*) FILTER (WHERE n_chars BETWEEN p05 AND p95))) AS DOUBLE) / 100)
          |  END AS avg_kept_chars
          |FROM documents, q GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("cms_token_counts",
      // Count-min sketch (d=4 rows × w=64 cells) over corpus token
      // occurrences, reported as (tok, true_cnt, cms_est) for every token
      // type: est ≥ true always (one-sided error), and at these params the
      // fixture corpus produces real collisions, so the key verifies the
      // sketch's estimates AND its characteristic overestimates. Scale
      // shape: cells are sums → partial aggregation on executors IS the
      // sketch merge; the shuffled state is the O(d·w) cell table, never
      // the token stream.
      (s, dir) => Sketches.cmsTokenCounts(t(s, dir, "documents"), d = 4, w = 64),
      Some(
        """WITH tokc AS (SELECT tok, COUNT(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |h AS (SELECT tok, cnt, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM tokc),
          |rb AS (SELECT tok, cnt, i,
          |    ((((i * 2654435761) % 1000000007) * th
          |      + (i * 40503 + 17) % 1000000007) % 1000000007) % 64 AS bucket
          |  FROM h, range(1, 5) t(i)),
          |sk AS (SELECT i, bucket, SUM(cnt) AS cell FROM rb GROUP BY i, bucket)
          |SELECT tok, CAST(MAX(cnt) AS BIGINT) AS true_cnt,
          |  CAST(MIN(cell) AS BIGINT) AS cms_est
          |FROM rb JOIN sk USING (i, bucket) GROUP BY tok ORDER BY tok""".stripMargin)),

    QSpec("cms_error_curve",
      // Third calibration audit (with lsh_recall_curve / ann_recall_at_k):
      // count-min overestimation as a function of sketch WIDTH — the
      // memory/accuracy dial. Squeezing the fixture's 31 token types into
      // 16 cells/row leaves only 10 exactly-estimated types (max over-
      // estimate ~2.7k); at 64 cells, 26 of 31 are exact. Every number is
      // replayed cell-for-cell by the twin (same polynomial bucket family
      // as cms_token_counts), so the error CURVE itself is hash-checked.
      // Scale shape unchanged: per-width cells are sums — map-side combine
      // IS the merge.
      // opt-r15: the two widths ride ONE corpus pass
      // ([[Sketches.cmsTokenCountsMulti]] — the former per-width unionAll
      // tokenized and counted the corpus once per width; the width is just
      // another explode dimension, which is how the oracle already
      // computes the curve). Rows identical per width by associativity.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Sketches.cmsTokenCountsMulti(docs, d = 4, ws = Seq(16, 64))
          .groupBy("w")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("cms_est") === col("true_cnt"), 1L).otherwise(0L)).as("n_exact"),
            max(col("cms_est") - col("true_cnt")).as("max_over"),
            sum(col("cms_est") - col("true_cnt")).as("total_over"))
          .orderBy("w")
      },
      Some(
        """WITH tokc AS (SELECT tok, COUNT(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok),
          |h AS (SELECT tok, cnt, list_reduce(list_prepend(CAST(7 AS BIGINT),
          |    list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS BIGINT))),
          |    (a, c) -> (a * 131 + c) % 1000000007) AS th FROM tokc),
          |ws AS (SELECT unnest([16, 64]) AS w),
          |rb AS (SELECT ws.w, tok, cnt, i,
          |    ((((i * 2654435761) % 1000000007) * th + (i * 40503 + 17) % 1000000007) % 1000000007) % ws.w AS bucket
          |  FROM h, range(1, 5) t(i), ws),
          |sk AS (SELECT w, i, bucket, SUM(cnt) AS cell FROM rb GROUP BY w, i, bucket),
          |est AS (SELECT w, tok, MAX(cnt) AS true_cnt, MIN(cell) AS cms_est
          |  FROM rb JOIN sk USING (w, i, bucket) GROUP BY w, tok)
          |SELECT CAST(w AS INT) AS w, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          |  CAST(count_if(cms_est = true_cnt) AS BIGINT) AS n_exact,
          |  CAST(MAX(cms_est - true_cnt) AS BIGINT) AS max_over,
          |  CAST(SUM(cms_est - true_cnt) AS BIGINT) AS total_over
          |FROM est GROUP BY w ORDER BY w""".stripMargin)),

    QSpec("token_cooccurrence",
      // Co-occurrence lift over a ±4-token WINDOW — the association
      // statistic embedding training starts from (word2vec/GloVe build
      // exactly this windowed matrix). BOUNDED at scale by construction
      // (r4 verdict "What's wrong #2" fix): each token position probes only
      // its k=4 successors through an EQUI-join on (doc_id, pos), so pair
      // fan-out is k×tokens — never in-doc vocabulary², which blows up on a
      // 5k-distinct-token document (12.5M pairs) under the whole-doc form
      // (kept as the fixture-scale twin `token_cooccurrence_doc` below).
      // lift = pair_cnt·N/(cnt_a·cnt_b) in decimal(38) integer-exact
      // arithmetic (r8, ExactMath): pair_cnt·n_tok is bounded by k·N² (N =
      // corpus token count), which overflows LONG past N ≈ 2e9 where Spark
      // (non-ANSI) wraps silently and DuckDB raises — decimal(38) (engine)
      // and HUGEINT (oracle) carry the product exactly instead, and the
      // integer half-up rounding removes the ROUND-on-boundary ambiguity;
      // no log/PMI libm drift; top-50 by lift, full lexicographic tiebreak.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r13 shape: pair generation is ROW-LOCAL (the WindowPairs.pairs
        // codegen kernel emits each position's ≤4 successor pairs straight from
        // the token array), so the k·tokens pair stream feeds partial
        // aggregation in the scan stage — the former probe-explode +
        // (doc_id, pos) self-join shuffled that stream twice before any
        // combining (measured 4.9 s at sf1 for UNCHANGED output). Unigram
        // counts come from one explode pass and the corpus total derives
        // from them (metadata-sized), so no shared frame needs
        // materializing at all.
        def pairKeys(toks: org.apache.spark.sql.Column, k: Int) = {
          import org.apache.spark.sql.GraftColumnBridge
          import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
          require(k > 0, s"window_pairs needs k > 0, got $k")
          GraftColumnBridge.kernel(graft.functions.WindowPairs, "pairs",
            ArrayType(StringType, containsNull = false),
            toks -> ArrayType(StringType), lit(k) -> IntegerType)
        }
        val pairs = docs
          .select(explode(pairKeys(split(col("text"), " "), 4)).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("pair_cnt"))
          .select(substring_index(col("pk"), " ", 1).as("tok_a"),
            substring_index(col("pk"), " ", -1).as("tok_b"),
            col("pair_cnt"))
        // opt-r15: tc feeds three branches (both join sides + the corpus
        // total) and the INITIAL plan shows the explode inlined per branch
        // — but the branches end in byte-identical exchanges, so
        // ReuseExchange computes tc once at runtime; a keyed-persist
        // variant was built and measured exactly FLAT at sf1 (2.50 →
        // 2.51 s), so the plain form stays.
        val tc = docs
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val nt = tc.agg(sum("cnt").as("n_tok"))
        pairs
          .join(tc.select(col("tok").as("tok_a"), col("cnt").as("cnt_a")), "tok_a")
          .join(tc.select(col("tok").as("tok_b"), col("cnt").as("cnt_b")), "tok_b")
          .crossJoin(broadcast(nt))
          .where(col("pair_cnt") >= 5)
          .select(col("tok_a"), col("tok_b"), col("pair_cnt"),
            graft.ext.ExactMath.ratioRounded(
              col("pair_cnt").cast("decimal(38,0)") * col("n_tok").cast("decimal(38,0)"),
              col("cnt_a").cast("decimal(38,0)") * col("cnt_b").cast("decimal(38,0)"), 6)
              .as("lift"))
          .orderBy(desc("lift"), asc("tok_a"), asc("tok_b"))
          .limit(50)
      },
      Some(
        """WITH d AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
          |tp AS (SELECT doc_id, sp, unnest(range(1, len(sp)+1)) AS pos FROM d),
          |tk AS (SELECT doc_id, pos, sp[pos] AS tok FROM tp),
          |pairs AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b
          |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos > a.pos
          |    AND b.pos <= a.pos + 4 AND a.tok <> b.tok),
          |pc AS (SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt FROM pairs GROUP BY 1, 2),
          |tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
          |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk)
          |SELECT tok_a, tok_b, pair_cnt,
          |  (CAST(((2000000::HUGEINT * (pair_cnt::HUGEINT * n_tok) + (ca.cnt::HUGEINT * cb.cnt)) // (2::HUGEINT * (ca.cnt::HUGEINT * cb.cnt))) AS DOUBLE) / 1000000) AS lift
          |FROM pc JOIN tc ca ON pc.tok_a = ca.tok JOIN tc cb ON pc.tok_b = cb.tok, nt
          |WHERE pair_cnt >= 5
          |ORDER BY lift DESC, tok_a, tok_b LIMIT 50""".stripMargin)),

    QSpec("token_cooccurrence_doc",
      // Whole-document co-occurrence (document-frequency lift) — the
      // fixture-scale twin of the windowed key above. Pair counts come from
      // a per-doc self-join over DISTINCT tokens: per-doc pair fan-out is
      // in-doc vocabulary², which the fixture's 31-token vocabulary keeps
      // trivially small but a real corpus does NOT — at scale use
      // `token_cooccurrence` (the ±k window bounds fan-out at k×tokens).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // NOTE(r13): a WindowPairs(k=MaxValue) row-local rewrite was tried
        // and MEASURED SLOWER here (6.4 s vs 3.7 s at sf1) — at whole-doc
        // fan-out the concatenated-pair-key emission costs more than the
        // doc_id equi-join the windowed twin eliminates, so this
        // fixture-scale form keeps the join
        val tokd = docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        val df_ = tokd.groupBy("tok").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val pairs = tokd.as("a")
          .join(tokd.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
          .agg(count(lit(1)).as("pair_docs"))
        pairs
          .join(df_.select(col("tok").as("tok_a"), col("df").as("df_a")), "tok_a")
          .join(df_.select(col("tok").as("tok_b"), col("df").as("df_b")), "tok_b")
          .crossJoin(broadcast(nDocs))
          .where(col("pair_docs") >= 5)
          .select(col("tok_a"), col("tok_b"), col("pair_docs"),
            // decimal(38) exact — pair_docs·n_docs overflows LONG past
            // ~3e9 docs (same class as the windowed key); integer half-up
            graft.ext.ExactMath.ratioRounded(
              col("pair_docs").cast("decimal(38,0)") * col("n_docs").cast("decimal(38,0)"),
              col("df_a").cast("decimal(38,0)") * col("df_b").cast("decimal(38,0)"), 6)
              .as("lift"))
          .orderBy(desc("lift"), asc("tok_a"), asc("tok_b"))
          .limit(50)
      },
      Some(
        """WITH tokd AS (SELECT DISTINCT doc_id, tok FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
          |df AS (SELECT tok, COUNT(*) AS df FROM tokd GROUP BY tok),
          |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
          |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS pair_docs
          |  FROM tokd a JOIN tokd b ON a.doc_id = b.doc_id AND a.tok < b.tok
          |  GROUP BY a.tok, b.tok)
          |SELECT tok_a, tok_b, CAST(pair_docs AS BIGINT) AS pair_docs,
          |  (CAST(((2000000::HUGEINT * (pair_docs::HUGEINT * n_docs) + (da.df::HUGEINT * db.df)) // (2::HUGEINT * (da.df::HUGEINT * db.df))) AS DOUBLE) / 1000000) AS lift
          |FROM p JOIN df da ON p.tok_a = da.tok JOIN df db ON p.tok_b = db.tok, nd
          |WHERE pair_docs >= 5
          |ORDER BY lift DESC, tok_a, tok_b LIMIT 50""".stripMargin)),

    QSpec("ngram_topk",
      // Corpus-wide top-20 contiguous trigrams. Trigram generation is a
      // per-row transform over the token array (no join, no shuffle until
      // the count), and the top-k plans as TakeOrderedAndProject — partial
      // per-partition heaps, never a full sort of the n-gram space. The
      // size<3 guard matters: Spark's sequence(0, n) with n negative
      // generates a DESCENDING sequence, so an unguarded short doc would
      // fabricate out-of-range indices instead of an empty list.
      // opt-r15: trigram list == the 3-shingle kernel output (adjacent
      // tokens joined by the single spaces they were split on), so the
      // interpreted transform+concat runs as the one-pass codegen
      // shingleArray kernel; the size<3 guard keeps its meaning (the
      // kernel collapses short docs to ONE whole-text shingle, which this
      // key must exclude, not emit)
      (s, dir) => t(s, dir, "documents")
        .select(col("text"), split(col("text"), " ").as("tk"))
        .select(explode(when(size(col("tk")) >= 3,
          graft.ext.Dedup.shingles(col("text"), 3))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("ngram")).limit(20),
      Some(
        """WITH d AS (SELECT string_split(text, ' ') AS tk FROM documents),
          |g AS (SELECT UNNEST(list_transform(generate_series(1, len(tk) - 2),
          |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS ngram
          |      FROM d)
          |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
          |FROM g GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20""".stripMargin)),

    QSpec("drift_psi",
      // Distribution drift between corpus slices — the population stability
      // index over the doc-length distribution, reference sources (src0-9)
      // vs candidate sources (src10-19). The monitoring shape for "did this
      // snapshot's data shift?": bucket the metric (width-50 chars, capped),
      // count per side in ONE pass (conditional sums — no second scan, no
      // join), Laplace-smooth the proportions (+0.5 per bucket, so an
      // empty-on-one-side bucket contributes a finite term instead of ±inf),
      // psi_term = (p−q)·ln(p/q) per bucket and the total cross-joined as a
      // broadcast scalar (NOT a global window — that would single-partition
      // the frame). O(buckets) groups at any corpus size; ln's last-ulp
      // engine variance is ~9 orders below the round(6) surface.
      (s, dir) => {
        val d = t(s, dir, "documents").select(
          when(substring(col("source"), 4, 10).cast("int") < 10, "ref")
            .otherwise("cand").as("side"),
          least(expr("n_chars div 50"), lit(12L)).cast("int").as("bucket"))
        val c = d.groupBy("bucket").agg(
          sum(when(col("side") === "ref", 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("side") === "cand", 1L).otherwise(0L)).as("n_cand"))
        val tot = c.agg(sum("n_ref").as("ta"), sum("n_cand").as("tb"),
          count(lit(1)).as("nb"))
        val terms = c.crossJoin(broadcast(tot)).select(
          col("bucket"), col("n_ref"), col("n_cand"),
          ((col("n_ref") + lit(0.5)) / (col("ta") + lit(0.5) * col("nb"))).as("p"),
          ((col("n_cand") + lit(0.5)) / (col("tb") + lit(0.5) * col("nb"))).as("q"))
          .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
        val total = terms.agg(sum("term").as("psi"))
        terms.crossJoin(broadcast(total))
          .select(col("bucket"), col("n_ref"), col("n_cand"),
            round(col("term"), 6).as("psi_term"),
            round(col("psi"), 6).as("psi_total"))
          .orderBy("bucket")
      },
      Some(
        """WITH d AS (SELECT CASE WHEN CAST(source[4:] AS INT) < 10
          |      THEN 'ref' ELSE 'cand' END AS side,
          |    CAST(LEAST(n_chars // 50, 12) AS INT) AS bucket FROM documents),
          |c AS (SELECT bucket,
          |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
          |    CAST(SUM(CASE WHEN side = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS n_cand
          |  FROM d GROUP BY 1),
          |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS ta,
          |    CAST(SUM(n_cand) AS BIGINT) AS tb,
          |    CAST(COUNT(*) AS BIGINT) AS nb FROM c),
          |x AS (SELECT bucket, n_ref, n_cand,
          |    (n_ref + 0.5) / (ta + 0.5 * nb) AS p,
          |    (n_cand + 0.5) / (tb + 0.5 * nb) AS q FROM c, t),
          |y AS (SELECT bucket, n_ref, n_cand, (p - q) * ln(p / q) AS term FROM x),
          |s AS (SELECT SUM(term) AS psi FROM y)
          |SELECT bucket, n_ref, n_cand, ROUND(term, 6) AS psi_term,
          |  ROUND(psi, 6) AS psi_total
          |FROM y, s ORDER BY bucket""".stripMargin)),

    QSpec("doc_quality_logreg",
      // Learned quality filter: distill the integer-exact qualityMicros
      // heuristic (the teacher) into a 4-feature logistic regression via
      // deterministic full-batch gradient descent (w₀=0, the canonical
      // QualityModel schedule). Each step is one scan aggregating 4 means
      // (map-side combine, 4 doubles to the driver) — model cost is
      // O(steps) scans at any corpus size. The surface is the trained
      // model itself (weights, rounded 6) plus its training accuracy,
      // computed from the ROUNDED margin so the correct-count cannot flip
      // on ~1e-15 cross-engine summation jitter. The oracle replays every
      // step as chained CTEs (w0 → … → w12), exactly the
      // embedding_pca_power replay discipline.
      (s, dir) => {
        import s.implicits._
        val feat = logregFeatures(s, dir)
        val w = QualityModel.trainCached(feat, QualityModel.trainSteps, QualityModel.trainEta)
        val acc = feat
          .select(when((round(QualityModel.margin(w), 6) > 0) ===
            (col("y") === 1.0d), 1L).otherwise(0L).as("ok"))
          .agg(sum("ok").as("correct"), count(lit(1)).as("n"))
          .select(ExactMath.ratioRounded(col("correct"), col("n"), 6).as("accuracy"))
        w.zipWithIndex.map { case (x, j) => (j, x) }.toSeq
          .toDF("pos", "w_raw")
          .crossJoin(broadcast(acc))
          .select(col("pos"), round(col("w_raw"), 6).as("weight"), col("accuracy"))
          .orderBy("pos")
      },
      Some {
        val fw = logregFinalW
        logregOracleCtes +
          s""",
             |m AS (SELECT CASE WHEN (ROUND($fw.b0*x0 + $fw.b1*x1 + $fw.b2*x2 + $fw.b3*x3, 6) > 0)
             |      = (y = 1.0) THEN 1 ELSE 0 END AS ok FROM f, $fw),
             |acc AS (SELECT ${ExactMath.ratioRoundedSql("SUM(ok)", "COUNT(*)", 6)} AS accuracy FROM m)
             |SELECT p.pos, ROUND(CASE p.pos WHEN 0 THEN $fw.b0 WHEN 1 THEN $fw.b1
             |    WHEN 2 THEN $fw.b2 ELSE $fw.b3 END, 6) AS weight, acc.accuracy
             |FROM (SELECT unnest([0, 1, 2, 3]) AS pos) p, $fw, acc
             |ORDER BY pos""".stripMargin
      }),

    QSpec("tokenizer_fertility",
      // Per-language tokenizer diagnostics: chars-per-token and
      // bytes-per-char against the table's ground-truth lang label — the
      // fertility table a tokenizer owner reads before committing a vocab
      // (multibyte scripts surface as bytes_per_char > 1, whitespace-poor
      // scripts as high chars_per_token). One grouped aggregation of
      // integer totals; both ratios integer-exact through ExactMath.
      // O(languages) groups at any corpus size.
      (s, dir) => tokenizerFertility(t(s, dir, "documents")),
      Some(
        s"""WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |    CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
           |  FROM documents GROUP BY lang)
           |SELECT lang, n_docs, total_tokens, total_chars, total_bytes,
           |  ${ExactMath.ratioRoundedSql("total_chars", "total_tokens", 6)} AS chars_per_token,
           |  ${ExactMath.ratioRoundedSql("total_bytes", "total_chars", 6)} AS bytes_per_char
           |FROM g ORDER BY lang""".stripMargin)),

    QSpec("mixture_epochs",
      // Token-budget epoch planning: turn mixture_temperature_weights'
      // α=0.5 weights into an executable plan — per source, how many
      // tokens of a fixed budget (2× the corpus) to draw, and the implied
      // epoch count (repetition factor) over that source. Float enters
      // exactly once (sqrt·1e6, the same IEEE chain on every engine,
      // rounded to integer micros); allocation and epochs are then pure
      // integer arithmetic in decimal(38,0) — the budget×weight product
      // NEVER runs through a Long, so there is no overflow cliff at real
      // corpus scale (100 TB ≈ 2.5e13 tokens × 1e6 micros ≈ 1e19+ > Long).
      // Shapes: one token-count aggregation (O(sources) groups), two
      // broadcast scalars, zero data-proportional shuffles.
      (s, dir) => {
        // the weight/allocation chain is the SHARED mixtureAllocPlan —
        // one definition for this key and epoch_repeat_plan (X52)
        mixtureAllocPlan(s, dir)
          .select(col("source"), col("n_tokens"), col("w_micros"), col("alloc_tokens"),
            ExactMath.ratioRounded(col("alloc_tokens"), col("n_tokens"), 3).as("epochs"))
          .orderBy("source")
      },
      Some(
        s"""WITH $mixtureWeightCtes,
           |a AS (SELECT source, n_tokens, w_micros,
           |    CAST(${ExactMath.ratioRoundedSql("2::HUGEINT * total_tok * w_micros", "sum_w", 0)} AS BIGINT) AS alloc_tokens
           |  FROM w, t)
           |SELECT source, n_tokens, w_micros, alloc_tokens,
           |  ${ExactMath.ratioRoundedSql("alloc_tokens", "n_tokens", 3)} AS epochs
           |FROM a ORDER BY source""".stripMargin)),

    QSpec("quality_calibration",
      // Reliability curve of the learned filter (X20) against its teacher:
      // bucket docs by ROUNDED predicted probability (5 equal-width bins;
      // the rounded-margin trick again, so bin membership cannot flip on
      // 1e-15 summation jitter) and report observed positive rate per bin —
      // the calibration table an ML-ops owner reads before trusting the
      // filter's scores as sampling weights. Shares the cached feature
      // frame AND the replayed CTE chain with doc_quality_logreg (one
      // renderer, the pcaOracleCtes discipline). One grouped aggregation
      // over O(bins) groups; pos_rate integer-exact through ExactMath.
      (s, dir) => {
        val feat = logregFeatures(s, dir)
        val w = QualityModel.trainCached(feat, QualityModel.trainSteps, QualityModel.trainEta)
        val p = round(lit(1.0d) / (lit(1.0d) + exp(-QualityModel.margin(w))), 6)
        feat.select(col("y"), p.as("p"))
          .withColumn("bucket", least(floor(col("p") * 5).cast("int"), lit(4)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("y").cast("long")).as("n_pos"),
            round(avg("p"), 6).as("mean_pred"))
          .select(col("bucket"), col("n_docs"), col("n_pos"), col("mean_pred"),
            ExactMath.ratioRounded(col("n_pos"), col("n_docs"), 6).as("pos_rate"))
          .orderBy("bucket")
      },
      Some {
        val fw = logregFinalW
        logregOracleCtes +
          s""",
             |pr AS (SELECT y,
             |    ROUND(1/(1 + exp(-($fw.b0*x0 + $fw.b1*x1 + $fw.b2*x2 + $fw.b3*x3))), 6) AS p
             |  FROM f, $fw),
             |b AS (SELECT CAST(LEAST(FLOOR(p * 5), 4) AS INT) AS bucket, y, p FROM pr),
             |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
             |    ROUND(AVG(p), 6) AS mean_pred
             |  FROM b GROUP BY bucket)
             |SELECT bucket, n_docs, n_pos, mean_pred,
             |  ${ExactMath.ratioRoundedSql("n_pos", "n_docs", 6)} AS pos_rate
             |FROM g ORDER BY bucket""".stripMargin
      }),

    QSpec("lang_id_confusion",
      // Language-ID evaluation: confusion matrix of the marker-intersect
      // predictor against the table's ground-truth lang label, with each
      // cell's share of its true language (the per-class recall diagonal an
      // evaluation harness reads). Cells are O(langs²) — the grouped count
      // is the only corpus-sized pass; per-lang totals join back broadcast.
      // The oracle re-derives the prediction through the ONE shared argmax
      // renderer (TextAnalysis.langIdCaseSql), so predictor and replay
      // cannot drift.
      (s, dir) => {
        val cells = TextAnalysis.withLangIdIntersect(
          t(s, dir, "documents"), "text", "lang_pred")
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
        val totals = cells.groupBy("lang").agg(sum("n_docs").as("n_lang"))
        cells.join(broadcast(totals), Seq("lang"))
          .select(col("lang"), col("lang_pred"), col("n_docs"),
            ExactMath.ratioRounded(col("n_docs"), col("n_lang"), 6)
              .as("share_of_lang"))
          .orderBy("lang", "lang_pred")
      },
      Some(
        s"""WITH p AS (SELECT lang, ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred
           |  FROM (SELECT lang, string_split(text, ' ') AS sp FROM documents) d),
           |c AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
           |  FROM p GROUP BY 1, 2),
           |tt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang FROM c GROUP BY 1)
           |SELECT c.lang, c.lang_pred, c.n_docs,
           |  ${ExactMath.ratioRoundedSql("c.n_docs", "tt.n_lang", 6)} AS share_of_lang
           |FROM c JOIN tt ON c.lang = tt.lang
           |ORDER BY c.lang, c.lang_pred""".stripMargin)),

    QSpec("curation_attrition",
      // Per-stage attrition of the curation cascade — the funnel
      // observability a pipeline owner reads to see WHERE documents die:
      // stage 1 keeps predicted-English, stage 2 keeps teacher-quality ≥
      // the X20 threshold, stage 3 keeps one doc per exact text. All
      // counts integer-exact; the cascade is ONE scan computing the stage
      // flags plus a distinct-count for the dedup stage (survivor count =
      // COUNT(DISTINCT text) among stage-2 keepers — no join needed for
      // counts), assembled into 3 rows via stack. Both heuristics render
      // through their single shared oracle generators.
      (s, dir) => {
        val flagged = TextAnalysis.withLangIdIntersect(
          t(s, dir, "documents"), "text", "lang_pred")
          .withColumn("qm", TextAnalysis.qualityMicros(col("text"), Seq("the", "a")))
          .select(col("text"),
            (col("lang_pred") === "en").as("k1"),
            (col("lang_pred") === "en" &&
              col("qm") >= QualityModel.labelThresholdMicros).as("k2"))
        flagged.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("k1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("k2"), 1L).otherwise(0L)).as("n2"),
          countDistinct(when(col("k2"), col("text"))).as("n3"))
          .selectExpr(
            """stack(3,
              |  '1_lang', n_total, n1,
              |  '2_quality', n1, n2,
              |  '3_exact_dup', n2, n3) as (stage, n_in, n_out)""".stripMargin)
          .withColumn("n_dropped", col("n_in") - col("n_out"))
          .select("stage", "n_in", "n_dropped", "n_out")
          .orderBy("stage")
      },
      Some(
        s"""WITH d AS (SELECT text, string_split(text, ' ') AS sp FROM documents),
           |p AS (SELECT text, ${TextAnalysis.langIdCaseSql("sp")} AS lang_pred,
           |    ${TextAnalysis.qualityMicrosSql("sp")} AS qm
           |  FROM d),
           |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           |    CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |    CAST(SUM(CASE WHEN lang_pred = 'en' AND qm >= ${QualityModel.labelThresholdMicros} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |    CAST(COUNT(DISTINCT CASE WHEN lang_pred = 'en' AND qm >= ${QualityModel.labelThresholdMicros} THEN text END) AS BIGINT) AS n3
           |  FROM p)
           |SELECT stage, n_in, n_in - n_out AS n_dropped, n_out FROM (
           |  SELECT '1_lang' AS stage, n_total AS n_in, n1 AS n_out FROM s
           |  UNION ALL SELECT '2_quality', n1, n2 FROM s
           |  UNION ALL SELECT '3_exact_dup', n2, n3 FROM s) u
           |ORDER BY stage""".stripMargin)),

    QSpec("corpus_diff",
      // Snapshot diff — the dataset-versioning report (what changed between
      // corpus builds): per source, docs added / removed / changed /
      // unchanged between two deterministically-derived snapshots (A drops
      // id%10=3, B drops id%10=7 and revises every id%5=0 text). One
      // full-outer join keyed on doc_id; the engine compares 32-byte sha2
      // digests so document BODIES never ride the diff shuffle at scale —
      // the oracle compares raw texts, which also certifies the digest
      // comparison agrees with text equality on this corpus. All counts
      // integer-exact.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.where(col("doc_id") % 10 =!= 3)
          .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
        val revised = when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))
        val b = docs.where(col("doc_id") % 10 =!= 7)
          .select(col("doc_id").as("doc_id_b"), col("source").as("source_b"),
            sha2(revised, 256).as("hb"))
        a.join(b, col("doc_id") === col("doc_id_b"), "full_outer")
          .select(coalesce(col("source"), col("source_b")).as("source"),
            when(col("doc_id").isNull, 1L).otherwise(0L).as("a"),
            when(col("doc_id_b").isNull, 1L).otherwise(0L).as("r"),
            when(col("doc_id").isNotNull && col("doc_id_b").isNotNull &&
              col("h") =!= col("hb"), 1L).otherwise(0L).as("c"),
            when(col("doc_id").isNotNull && col("doc_id_b").isNotNull &&
              col("h") === col("hb"), 1L).otherwise(0L).as("u"))
          .groupBy("source")
          .agg(sum("a").as("n_added"), sum("r").as("n_removed"),
            sum("c").as("n_changed"), sum("u").as("n_unchanged"))
          .orderBy("source")
      },
      Some(
        """WITH a AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 3),
          |b AS (SELECT doc_id, source,
          |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
          |  FROM documents WHERE doc_id % 10 <> 7)
          |SELECT COALESCE(a.source, b.source) AS source,
          |  CAST(SUM(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
          |  CAST(SUM(CASE WHEN b.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
          |    AND a.text <> b.text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
          |    AND a.text = b.text THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
          |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QSpec("zipf_fit",
      // Zipf-law fit over the token frequency head: OLS slope/intercept of
      // ln(freq) on ln(rank) for the top-30 types — the sanity dial a
      // corpus owner reads against the ~−1 power law (synthetic or
      // template-heavy corpora bend it). Rank order is made TOTAL
      // (cnt desc, tok asc) so both engines pick identical top-30 rows and
      // identical ranks; ln of integer counts is the same IEEE value
      // everywhere, and the five OLS sums run over 30 rows (round(6)
      // swallows summation-order jitter). Scale shape: one corpus-sized
      // token aggregation, then TakeOrdered 30 rows — the window ranks the
      // CONSTANT-size head, never the vocabulary.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val top = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(30)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
        val sums = top
          .select(log(col("rank").cast("double")).as("x"),
            log(col("cnt").cast("double")).as("yv"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum("x").as("sx"), sum("yv").as("sy"),
            sum(col("x") * col("yv")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        sums.select(col("n").cast("int").as("n_tokens"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
      },
      Some(
        """WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY tok),
          |top AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
          |  FROM tc ORDER BY cnt DESC, tok LIMIT 30),
          |v AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS yv FROM top),
          |sagg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(yv) AS sy,
          |    SUM(x*yv) AS sxy, SUM(x*x) AS sxx FROM v)
          |SELECT CAST(n AS INT) AS n_tokens,
          |  ROUND((n*sxy - sx*sy)/(n*sxx - sx*sx), 6) AS slope,
          |  ROUND((sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n, 6) AS intercept
          |FROM sagg""".stripMargin)),

    QSpec("select_dsir",
      // DSIR-shaped importance selection: score every CANDIDATE doc
      // (sources src10+) by how much more likely its tokens are under the
      // TARGET unigram distribution (sources src0-9, the drift_psi split)
      // than under the candidate distribution — per-token log ratio of
      // Laplace-smoothed probabilities, summed per doc; top-20 by score.
      // Determinism: the ln argument is a ratio of integer-exact long
      // products ((2c_t+1)(2N_c+V)) / ((2c_c+1)(2N_t+V)) — identical IEEE
      // input everywhere — rounded to integer MILLI-units per token TYPE
      // before the per-doc sum, so doc scores are exact integers and the
      // top-20 order (score desc, doc_id) cannot jitter. Scale shape: two
      // corpus scans (type counts; doc join on the token hash), weight
      // frame is vocabulary-sized, head is TakeOrdered. Long products hold
      // to ~10^18 token corpora; beyond that lift them to decimal(38,0).
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("doc_id"), col("source"),
          (substring(col("source"), 4, 10).cast("int") < 10).as("is_ref"),
          explode(split(col("text"), " ")).as("tok"))
        // memoized + persisted: the totals scalar and the weight frame
        // both derive from this vocabulary-sized count — without the cache
        // AQE may or may not reuse the underlying corpus scan between them
        val tc = Memo.frame("dsirtc", toks) {
          toks.groupBy("tok").agg(
            sum(when(col("is_ref"), 1L).otherwise(0L)).as("ct"),
            sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
        }
        val tot = tc.agg(sum("ct").as("nt"), sum("cc").as("nc"),
          count(lit(1)).as("vsz"))
        val w = tc.crossJoin(broadcast(tot)).select(col("tok"),
          round(log(((col("ct") * 2 + 1) * (col("nc") * 2 + col("vsz"))).cast("double") /
            ((col("cc") * 2 + 1) * (col("nt") * 2 + col("vsz"))).cast("double")) * 1000.0, 0)
            .cast("long").as("milli"))
        toks.where(!col("is_ref"))
          .join(w, "tok")
          .groupBy("doc_id")
          .agg(min("source").as("source"), count(lit(1)).as("n_tok"),
            sum("milli").as("score_milli"))
          .orderBy(col("score_milli").desc, col("doc_id")).limit(20)
          .select(col("doc_id"), col("source"), col("n_tok"), col("score_milli"),
            ExactMath.ratioRounded(col("score_milli"), col("n_tok"), 3).as("avg_milli"))
      },
      Some(
        s"""WITH toks AS (SELECT doc_id, source,
           |    CAST(source[4:] AS INT) < 10 AS is_ref,
           |    unnest(string_split(text, ' ')) AS tok FROM documents),
           |tc AS (SELECT tok,
           |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
           |  FROM toks GROUP BY tok),
           |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cc) AS BIGINT) AS nc,
           |    CAST(COUNT(*) AS BIGINT) AS vsz FROM tc),
           |w AS (SELECT tok,
           |    CAST(ROUND(ln(CAST((ct*2 + 1) * (nc*2 + vsz) AS DOUBLE) /
           |      CAST((cc*2 + 1) * (nt*2 + vsz) AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM tc, tot),
           |d AS (SELECT doc_id, MIN(source) AS source,
           |    CAST(COUNT(*) AS BIGINT) AS n_tok,
           |    CAST(SUM(milli) AS BIGINT) AS score_milli
           |  FROM toks JOIN w USING (tok) WHERE NOT is_ref GROUP BY doc_id)
           |SELECT doc_id, source, n_tok, score_milli,
           |  ${ExactMath.ratioRoundedSql("score_milli", "n_tok", 3)} AS avg_milli
           |FROM d ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin)),

    QSpec("doc_ppl_bigram",
      // Bigram-LM negative log-likelihood per doc (the CCNet/KenLM
      // perplexity-filter shape, one order up from doc_lm_quality's
      // unigram): train bigram counts on the corpus itself, score each doc
      // by Σ −ln p(w2|w1) with p = (2c₁₂+1)/(2c₁+V) Laplace-smoothed over
      // V = distinct context types. Same integer-milli discipline as
      // select_dsir: each bigram TYPE's −ln p is rounded to milli-units
      // once (identical IEEE input from integer-exact longs), per-doc
      // totals are exact integer sums, the mean is ExactMath. Scale shape:
      // c₁ and V derive FROM the bigram-type frame (no extra corpus pass) —
      // one bigram-count shuffle + one doc-join shuffle, both on the
      // bigram string key.
      (s, dir) => {
        val bi = pplBigramsMemo(s, dir)
        val c12 = Memo.frame("ppl_bigram_types", bi) {
          bi.groupBy("bg").agg(count(lit(1)).as("c12"))
        }
        val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum("c12").as("c1"))
        val v = c1.agg(count(lit(1)).as("vsz"))
        val w = c12.withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(c1, "w1").crossJoin(broadcast(v))
          .select(col("bg"),
            round(log((col("c1") * 2 + col("vsz")).cast("double") /
              (col("c12") * 2 + 1).cast("double")) * 1000.0, 0)
              .cast("long").as("milli"))
        bi.join(w, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("milli").as("nll_milli"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_milli"),
            ExactMath.ratioRounded(col("nll_milli"), col("n_bigrams"), 3).as("avg_milli"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           |bi AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS bg
           |  FROM sp WHERE len(sp) >= 2),
           |c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY bg),
           |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           |  FROM c12 GROUP BY 1),
           |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM c1),
           |w AS (SELECT bg,
           |    CAST(ROUND(ln(CAST(c1.c1*2 + vsz AS DOUBLE) /
           |      CAST(c12.c12*2 + 1 AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1, v),
           |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(milli) AS BIGINT) AS nll_milli
           |  FROM bi JOIN w USING (bg) GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, nll_milli,
           |  ${ExactMath.ratioRoundedSql("nll_milli", "n_bigrams", 3)} AS avg_milli
           |FROM d ORDER BY doc_id""".stripMargin)),

    QSpec("curriculum_order",
      // Deterministic curriculum schedule: rank docs within each source by
      // length (shortest-first — the classic easy-to-hard proxy), then
      // interleave sources round-robin by (rank, source) so every training
      // prefix mixes all sources at matched difficulty. Surface = the
      // first 50 schedule positions. Scale shape: position 50 of the
      // (rank, source) interleave needs per-source rank ≤ 50, so the
      // per-source rank comes from the bounded-heap TopKRows aggregate
      // (≤ 50 rows per source per MAP partition ride the shuffle) — never
      // a row_number window over the corpus partitioned by the ~20-value
      // source key, which would sort a source's every doc on one
      // unsplittable task (r12 hot-key window audit). The global
      // interleave order is only MATERIALIZED for the constant-size head
      // (TakeOrdered 50, then a 50-row window for positions) — at full
      // scale the schedule is a sorted WRITE on the same (rn, source) key.
      (s, dir) => {
        import graft.functions.TopKRows.topKRows
        // heap order is (first field DESC, rest ASC): negate n_chars for
        // shortest-first; doc_id breaks length ties ascending
        val r = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .groupBy("source")
          .agg(topKRows(struct((-col("n_chars")).as("neg"), col("doc_id"),
            col("n_chars")), 50).as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(col("col.doc_id").as("doc_id"), col("source"),
            col("col.n_chars").as("n_chars"), (col("pos") + 1).cast("long").as("rn"))
        r.orderBy(col("rn"), col("source")).limit(50)
          .withColumn("position",
            row_number().over(Window.orderBy(col("rn"), col("source"))).cast("long"))
          .select(col("position"), col("doc_id"), col("source"),
            col("n_chars"), col("rn"))
          .orderBy("position")
      },
      Some(
        """WITH r AS (SELECT doc_id, source, n_chars,
          |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn
          |  FROM documents),
          |h AS (SELECT doc_id, source, n_chars, rn FROM r ORDER BY rn, source LIMIT 50)
          |SELECT CAST(row_number() OVER (ORDER BY rn, source) AS BIGINT) AS position,
          |  doc_id, source, n_chars, rn
          |FROM h ORDER BY position""".stripMargin)),

    QSpec("sample_weight_systematic",
      // Deterministic weighted systematic sampling (the reproducible
      // importance-sampling pass a corpus build wants instead of RNG):
      // within each source, walk docs in id order accumulating weight
      // (n_chars); a doc is selected exactly when its weight interval
      // crosses a multiple of step = max(1, source_total div 16) — docs
      // are picked proportionally to weight, ~16 per source, same picks on
      // every engine and every re-run; all arithmetic integer-exact.
      // Output is O(sources × 16) at ANY corpus size. The running sum is a
      // TWO-LEVEL prefix (the vocab_growth_curve discipline): per-doc
      // weights window inside 8192-doc-id buckets (parallel across
      // buckets), only the per-bucket totals — corpus/8192 rows — prefix
      // within a source, and source totals ride a broadcast groupBy — so
      // no window ever sees a source-proportional row count (source is a
      // ~20-value key: the unsplittable-partition trap, r12 hot-key
      // window audit).
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("bkt", expr("doc_id div 8192"))
        val inBkt = Window.partitionBy("source", "bkt").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val bktPrefix = d.groupBy("source", "bkt")
          .agg(sum("n_chars").as("bt"))
          .withColumn("prev", coalesce(sum("bt").over(
            Window.partitionBy("source").orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("source", "bkt", "prev")
        val totals = d.groupBy("source").agg(sum("n_chars").as("src_total"))
        d.withColumn("cum_in", sum("n_chars").over(inBkt))
          .join(bktPrefix, Seq("source", "bkt"))
          .join(broadcast(totals), "source")
          .withColumn("cum_w", col("prev") + col("cum_in"))
          .withColumn("step", greatest(lit(1L), expr("src_total div 16")))
          .where(expr("cum_w div step") > expr("(cum_w - n_chars) div step"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("cum_w"), col("step"))
          .orderBy("source", "doc_id")
      },
      Some(
        """WITH w AS (SELECT doc_id, source, n_chars,
          |    CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_w,
          |    CAST(GREATEST(1, SUM(n_chars) OVER (PARTITION BY source) // 16) AS BIGINT) AS step
          |  FROM documents)
          |SELECT doc_id, source, n_chars, cum_w, step
          |FROM w WHERE cum_w // step > (cum_w - n_chars) // step
          |ORDER BY source, doc_id""".stripMargin)),

    QSpec("privacy_k_anon_report",
      // k-anonymity governance report over the quasi-identifier
      // (lang, source, 100-char length band): per language, how many QI
      // groups exist, how many fall under k = 5 members, and what share
      // of documents sits in those re-identifiable groups. Two grouped
      // aggregations (QI groups, then language rollup), O(groups) rows
      // after the first — the standard privacy screen before corpus
      // release, integer-exact throughout.
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 100").as("band"))
        .agg(count(lit(1)).as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_groups"),
          sum("n").as("n_docs"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("n_docs_at_risk"))
        .select(col("lang"), col("n_groups"), col("n_small_groups"),
          col("n_docs"), col("n_docs_at_risk"),
          ExactMath.ratioRounded(col("n_docs_at_risk"), col("n_docs"), 6)
            .as("risk_share"))
        .orderBy("lang"),
      Some(
        s"""WITH g AS (SELECT lang, source, n_chars // 100 AS band,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM documents GROUP BY 1, 2, 3)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_groups,
           |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           |  CAST(SUM(n) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
           |  ${ExactMath.ratioRoundedSql("SUM(CASE WHEN n < 5 THEN n ELSE 0 END)", "SUM(n)", 6)} AS risk_share
           |FROM g GROUP BY lang ORDER BY lang""".stripMargin)),

    QSpec("source_token_entropy",
      // Corpus-composition dial: per-source unigram entropy (diversity)
      // and KL divergence to the corpus-wide distribution (how atypical a
      // source's language is) — the two numbers a mixture designer reads
      // before setting weights. Same integer-milli discipline as
      // select_dsir: each token TYPE's ln is taken on a ratio of
      // integer-exact long products, rounded to milli-nats per type, then
      // per-source totals are exact integer Σ c·milli, surfaced through
      // ExactMath. Scale shape: one token-count shuffle on (source, tok),
      // a vocabulary-sized corpus-count join, O(sources) output.
      (s, dir) => {
        // memoized + persisted: three consumers below (per-source totals,
        // corpus counts, the scored join) read this vocabulary-sized frame
        val docs = t(s, dir, "documents")
        val cst = Memo.frame("srctokcnt", docs) {
          docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
            .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        }
        val totals = cst.groupBy("source").agg(sum("c").as("n_s"),
          count(lit(1)).as("n_types"))
        val corpus = cst.groupBy("tok").agg(sum("c").as("cc"))
        val tot = corpus.agg(sum("cc").as("n_c"))
        cst.join(corpus, "tok").join(broadcast(totals), "source")
          .crossJoin(broadcast(tot))
          .select(col("source"), col("n_s"), col("n_types"), col("c"),
            round(log(col("n_s").cast("double") / col("c").cast("double")) * 1000.0, 0)
              .cast("long").as("h_milli"),
            round(log((col("c") * col("n_c")).cast("double") /
              (col("cc") * col("n_s")).cast("double")) * 1000.0, 0)
              .cast("long").as("kl_milli"))
          .groupBy("source")
          .agg(min("n_s").as("n_tokens"), min("n_types").as("n_types"),
            sum(col("c") * col("h_milli")).as("h_sum"),
            sum(col("c") * col("kl_milli")).as("kl_sum"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            ExactMath.ratioRounded(col("h_sum"), col("n_tokens"), 3)
              .as("entropy_milli"),
            ExactMath.ratioRounded(col("kl_sum"), col("n_tokens"), 3)
              .as("kl_milli"))
          .orderBy("source")
      },
      Some(
        s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
           |cst AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
           |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s,
           |    CAST(COUNT(*) AS BIGINT) AS n_types FROM cst GROUP BY source),
           |corpus AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM cst GROUP BY tok),
           |tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS n_c FROM corpus),
           |m AS (SELECT cst.source, n_s, n_types, c,
           |    CAST(ROUND(ln(CAST(n_s AS DOUBLE) / CAST(c AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS h_milli,
           |    CAST(ROUND(ln(CAST(c * n_c AS DOUBLE) / CAST(cc * n_s AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS kl_milli
           |  FROM cst JOIN corpus USING (tok) JOIN totals ON cst.source = totals.source, tot),
           |g AS (SELECT source, MIN(n_s) AS n_tokens, MIN(n_types) AS n_types,
           |    CAST(SUM(c * h_milli) AS BIGINT) AS h_sum,
           |    CAST(SUM(c * kl_milli) AS BIGINT) AS kl_sum
           |  FROM m GROUP BY source)
           |SELECT source, n_tokens, n_types,
           |  ${ExactMath.ratioRoundedSql("h_sum", "n_tokens", 3)} AS entropy_milli,
           |  ${ExactMath.ratioRoundedSql("kl_sum", "n_tokens", 3)} AS kl_milli
           |FROM g ORDER BY source""".stripMargin)),

    QSpec("source_overlap_matrix",
      // Pairwise source redundancy: for every source pair, the count of
      // shared distinct 3-shingles plus Jaccard and containment — the
      // matrix that tells a mixture designer which sources duplicate each
      // other before weights are spent on both. Inverted-index shape: the
      // per-shingle source list NEVER materializes pairs beyond the
      // shingle's own sources (≤ sources each), so total pair work is
      // O(shingles · sources) worst-case and O(shingles) typical — never
      // doc-pairwise. Engine joins on the 64-bit shingle hash (the
      // span_dup_fraction collision argument), the oracle on shingle
      // identity. Output O(sources²) rows, all ratios ExactMath.
      (s, dir) => {
        // memoized + persisted: the per-source sizes and BOTH sides of the
        // inverted-index self-join read this distinct-shingle frame
        val docs = t(s, dir, "documents")
        val sh = Memo.frame("srcshingle", docs) {
          // opt-r15: one-pass distinctShingleHashes kernel (no shingle
          // strings materialize; values bit-identical — see DedupKeys'
          // span_dup_fraction span_shh note)
          docs.select(col("source"),
            explode(graft.ext.Dedup.distinctShingleHashes(col("text"), 3)).as("shh"))
            .distinct()
        }
        val perSrc = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
        val inter = sh.join(sh.select(col("source").as("src_b"), col("shh")), "shh")
          .where(col("source") < col("src_b"))
          .groupBy(col("source").as("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_inter"))
        // the MATRIX includes disjoint pairs at n_inter = 0 (the skew
        // fixture surfaced them) — enumerate all pairs from the tiny
        // per-source frame and left-join the overlap counts
        perSrc.select(col("source").as("src_a"), col("n_sh").as("na"))
          .crossJoin(broadcast(perSrc.select(col("source").as("src_b"), col("n_sh").as("nb"))))
          .where(col("src_a") < col("src_b"))
          .join(inter, Seq("src_a", "src_b"), "left_outer")
          .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
          .select(col("src_a"), col("src_b"), col("n_inter"),
            ExactMath.ratioRounded(col("n_inter"),
              col("na") + col("nb") - col("n_inter"), 6).as("jaccard"),
            ExactMath.ratioRounded(col("n_inter"),
              least(col("na"), col("nb")), 6).as("containment"))
          .orderBy("src_a", "src_b")
      },
      Some(
        s"""WITH sh AS (SELECT DISTINCT source, sh FROM (
           |    SELECT source, unnest(CASE WHEN len(sp) < 3 THEN [text]
           |      ELSE list_transform(range(1, len(sp) - 1),
           |        i -> sp[i] || ' ' || sp[i+1] || ' ' || sp[i+2]) END) AS sh
           |    FROM (SELECT source, text, string_split(text, ' ') AS sp FROM documents) d)),
           |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
           |ov AS (SELECT a.source AS src_a, b.source AS src_b,
           |    CAST(COUNT(*) AS BIGINT) AS n_inter
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
           |  GROUP BY 1, 2),
           |inter AS (SELECT pa.source AS src_a, pb.source AS src_b,
           |    pa.n_sh AS na, pb.n_sh AS nb, COALESCE(ov.n_inter, 0) AS n_inter
           |  FROM per pa JOIN per pb ON pa.source < pb.source
           |  LEFT JOIN ov ON pa.source = ov.src_a AND pb.source = ov.src_b)
           |SELECT src_a, src_b, n_inter,
           |  ${ExactMath.ratioRoundedSql("n_inter", "na + nb - n_inter", 6)} AS jaccard,
           |  ${ExactMath.ratioRoundedSql("n_inter", "LEAST(na, nb)", 6)} AS containment
           |FROM inter
           |ORDER BY src_a, src_b""".stripMargin)),

    QSpec("heldout_ppl",
      // HELD-OUT perplexity — the no-leakage eval twin of doc_ppl_bigram:
      // the bigram LM trains on the murmur3 80% split (split_train_test's
      // exact hash rule) and scores ONLY the held-out 20%. Unseen bigrams
      // and unseen contexts degrade smoothly through the same Laplace
      // formula (coalesce both counts to 0: an unseen context scores
      // ln(V) — the uniform-over-vocabulary floor). Same integer-milli
      // discipline; train counts never see test docs, so this is the
      // number a curation pipeline can legitimately report as model-ready
      // eval evidence. Scale shape identical to doc_ppl_bigram plus two
      // vocabulary-keyed left joins.
      (s, dir) => {
        // shared memoized explode (see pplBigramsMemo); the split flag
        // derives from doc_id, so it rides the cached frame as a cheap
        // post-hoc column instead of forcing a second corpus explode
        val bi = pplBigramsMemo(s, dir)
          .withColumn("is_train", pmod(hash(col("doc_id")), lit(100)) < 80)
        val c12 = bi.where(col("is_train")).groupBy("bg").agg(count(lit(1)).as("c12"))
        val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum("c12").as("c1"))
        val v = c1.agg(count(lit(1)).as("vsz"))
        bi.where(!col("is_train"))
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(c12, Seq("bg"), "left_outer")
          .join(c1, Seq("w1"), "left_outer")
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            round(log((coalesce(col("c1"), lit(0L)) * 2 + col("vsz")).cast("double") /
              (coalesce(col("c12"), lit(0L)) * 2 + 1).cast("double")) * 1000.0, 0)
              .cast("long").as("milli"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("milli").as("nll_milli"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_milli"),
            ExactMath.ratioRounded(col("nll_milli"), col("n_bigrams"), 3).as("avg_milli"))
          .orderBy("doc_id")
      },
      Some(ExactMath.murmurCte("documents", "doc_id", 42) +
        s""",
           |sp AS (SELECT doc_id, string_split(text, ' ') AS sp,
           |    ((sh % 100) + 100) % 100 < 80 AS is_train
           |  FROM documents JOIN msigned ON doc_id = msigned.v),
           |bi AS (SELECT doc_id, is_train,
           |    unnest(list_transform(range(1, len(sp)), i -> sp[i] || ' ' || sp[i+1])) AS bg
           |  FROM sp WHERE len(sp) >= 2),
           |c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi WHERE is_train GROUP BY bg),
           |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           |  FROM c12 GROUP BY 1),
           |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM c1),
           |sc AS (SELECT t.doc_id,
           |    CAST(ROUND(ln(CAST(COALESCE(c1.c1, 0)*2 + vsz AS DOUBLE) /
           |      CAST(COALESCE(c12.c12, 0)*2 + 1 AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS milli
           |  FROM (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bi WHERE NOT is_train) t
           |  LEFT JOIN c12 USING (bg) LEFT JOIN c1 USING (w1), v),
           |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(milli) AS BIGINT) AS nll_milli
           |  FROM sc GROUP BY doc_id)
           |SELECT doc_id, n_bigrams, nll_milli,
           |  ${ExactMath.ratioRoundedSql("nll_milli", "n_bigrams", 3)} AS avg_milli
           |FROM d ORDER BY doc_id""".stripMargin)),

    QSpec("drift_timeline",
      // Temporal drift monitoring — drift_psi's time axis: per UTC day,
      // the population stability index of that day's event-type
      // distribution against the whole stream's mix (the "when did the
      // workload change?" dial; the source-slice PSI answers "which
      // slice?"). Same Laplace smoothing and op order as drift_psi; one
      // (day, type) count pass feeds day totals AND the overall mix (no
      // second scan), both joined back as broadcasts. O(days × types)
      // rows before the O(days) rollup at any stream length.
      (s, dir) => {
        val c = t(s, dir, "events")
          .select(expr("ts div 86400000000000").as("day"), col("event_type"))
          .groupBy("day", "event_type").agg(count(lit(1)).as("c"))
        val dayTot = c.groupBy("day").agg(sum("c").as("n_d"))
        val overall = c.groupBy("event_type").agg(sum("c").as("c_t"))
        val tot = overall.agg(sum("c_t").as("n"), count(lit(1)).as("nt"))
        c.join(broadcast(dayTot), "day")
          .join(broadcast(overall), "event_type")
          .crossJoin(broadcast(tot))
          .select(col("day"), col("n_d"), col("c"),
            ((col("c") + lit(0.5)) / (col("n_d") + lit(0.5) * col("nt"))).as("p"),
            ((col("c_t") + lit(0.5)) / (col("n") + lit(0.5) * col("nt"))).as("q"))
          .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
          .groupBy("day")
          .agg(min("n_d").as("n_events"), round(sum("term"), 6).as("psi"))
          .orderBy("day")
      },
      Some(
        """WITH c AS (SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
          |    CAST(COUNT(*) AS BIGINT) AS c
          |  FROM events GROUP BY 1, 2),
          |dt AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n_d FROM c GROUP BY day),
          |ov AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS c_t FROM c GROUP BY event_type),
          |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS nt FROM ov),
          |x AS (SELECT day, n_d, c,
          |    (c + 0.5) / (n_d + 0.5 * nt) AS p,
          |    (c_t + 0.5) / (n + 0.5 * nt) AS q
          |  FROM c JOIN dt USING (day) JOIN ov USING (event_type), tot)
          |SELECT day, MIN(n_d) AS n_events,
          |  ROUND(SUM((p - q) * ln(p / q)), 6) AS psi
          |FROM x GROUP BY day ORDER BY day""".stripMargin)),

    QSpec("drift_ks",
      // Two-sample Kolmogorov–Smirnov distance on the doc-length
      // distribution, reference sources (src0-9) vs candidate (src10-19) —
      // drift_psi's split. PSI needs a bucketing choice; KS is the
      // bucket-free twin: D = max_x |F_ref(x) − F_cand(x)|. Integer-exact:
      // one (n_chars → side-counts) pass, cumulative counts over the
      // DISTINCT length values, and the CDF gap compared cross-multiplied
      // (|kr·nc − kc·nr|, decimal(38,0) — exact past 10^18-doc corpora
      // where long products overflow). Surface = the single max-gap row:
      // side totals, the length where the max is attained (smallest such
      // length — deterministic argmax) and D = gap/(nr·nc) via ExactMath.
      // Scale shape: the only window runs over DISTINCT n_chars values —
      // bounded by max doc length, not corpus size (the same
      // bounded-cardinality argument as zipf_fit's constant head); the
      // corpus-wide work is one grouped count. TakeOrdered(1) on the gap.
      (s, dir) => {
        val dec = "decimal(38,0)"
        val c = t(s, dir, "documents")
          .select(
            when(substring(col("source"), 4, 10).cast("int") < 10, "ref")
              .otherwise("cand").as("side"),
            col("n_chars"))
          .groupBy("n_chars")
          .agg(sum(when(col("side") === "ref", 1L).otherwise(0L)).as("cr"),
            sum(when(col("side") === "cand", 1L).otherwise(0L)).as("cc"))
        val w = Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = c.agg(sum("cr").as("nr"), sum("cc").as("nc"))
        c.select(col("n_chars"), sum("cr").over(w).as("kr"), sum("cc").over(w).as("kc"))
          .crossJoin(broadcast(tot))
          .withColumn("gap", abs(col("kr").cast(dec) * col("nc").cast(dec)
            - col("kc").cast(dec) * col("nr").cast(dec)))
          .orderBy(desc("gap"), asc("n_chars")).limit(1)
          .select(col("nr").as("n_ref"), col("nc").as("n_cand"),
            col("n_chars").as("ks_at"),
            ExactMath.ratioRounded(col("gap"),
              col("nr").cast(dec) * col("nc").cast(dec), 6).as("ks_d"))
      },
      Some(
        s"""WITH d AS (SELECT CASE WHEN CAST(source[4:] AS INT) < 10
           |      THEN 'ref' ELSE 'cand' END AS side, n_chars FROM documents),
           |c AS (SELECT n_chars,
           |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
           |    CAST(SUM(CASE WHEN side = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS cc
           |  FROM d GROUP BY 1),
           |t AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc FROM c),
           |w AS (SELECT n_chars,
           |    SUM(cr) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kr,
           |    SUM(cc) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kc
           |  FROM c),
           |g AS (SELECT n_chars, abs(CAST(kr AS HUGEINT) * nc - CAST(kc AS HUGEINT) * nr) AS gap
           |  FROM w, t)
           |SELECT nr AS n_ref, nc AS n_cand, n_chars AS ks_at,
           |  ${ExactMath.ratioRoundedSql("gap", "CAST(nr AS HUGEINT) * nc", 6)} AS ks_d
           |FROM g, t ORDER BY gap DESC, n_chars LIMIT 1""".stripMargin)),

    QSpec("quality_gopher_rules",
      // Gopher-style rule battery with PER-RULE observability: a composite
      // quality score (quality_score) tells you a doc is bad; a filter you
      // can operate needs to know WHICH rule fired and at what rate per
      // source. Four rules over the token stream, every one an integer
      // comparison (no float enters the pass/fail decision at all):
      //   r_len      token count ∈ [20, 90]
      //   r_wordlen  mean token length ∈ [3, 5]  (3n ≤ Σlen ≤ 5n
      //              cross-multiplied; Σlen derived as n_chars − (n−1)
      //              under the corpus's single-space tokenization)
      //   r_stop     ≥ 2 stopword ('the'/'a') occurrences
      //   r_rep      duplicate-bigram fraction ≤ 5% ((t−d)·20 ≤ t over
      //              bigram total/distinct counts; < 2 tokens ⇒ no bigrams
      //              ⇒ trivially passes)
      // Surface = per-source doc count, per-rule pass counts, all-rules
      // count and the exact pass fraction. One scan (rules are scan-stage
      // projections), one O(sources)-group shuffle — corpus-linear.
      (s, dir) => {
        // rule columns factored into TextAnalysis.gopherRules (r15) so the
        // streaming admission gate screens with the identical predicates
        val (rLen, rWord, rStop, rRep) =
          TextAnalysis.gopherRules(col("text"), col("n_chars"))
        def cnt(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        t(s, dir, "documents")
          .select(col("source"), rLen.as("rl"), rWord.as("rw"),
            rStop.as("rs"), rRep.as("rr"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            cnt(col("rl")).as("p_len"),
            cnt(col("rw")).as("p_wordlen"),
            cnt(col("rs")).as("p_stop"),
            cnt(col("rr")).as("p_rep"),
            cnt(col("rl") && col("rw") && col("rs") && col("rr")).as("n_pass"))
          .withColumn("pass_frac",
            ExactMath.ratioRounded(col("n_pass"), col("n_docs"), 6))
          .orderBy("source")
      },
      Some(
        s"""WITH s AS (SELECT source, n_chars, string_split(text, ' ') AS sp FROM documents),
           |m AS (SELECT source,
           |    $gopherCounts
           |  FROM s),
           |r AS (SELECT source,
           |    CASE WHEN n BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS r1,
           |    CASE WHEN ch >= 3 * n AND ch <= 5 * n THEN 1 ELSE 0 END AS r2,
           |    CASE WHEN st >= 2 THEN 1 ELSE 0 END AS r3,
           |    CASE WHEN (tbi - dbi) * 20 <= tbi THEN 1 ELSE 0 END AS r4
           |  FROM m)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(r1) AS BIGINT) AS p_len,
           |  CAST(SUM(r2) AS BIGINT) AS p_wordlen,
           |  CAST(SUM(r3) AS BIGINT) AS p_stop,
           |  CAST(SUM(r4) AS BIGINT) AS p_rep,
           |  CAST(SUM(r1 * r2 * r3 * r4) AS BIGINT) AS n_pass,
           |  ${ExactMath.ratioRoundedSql("SUM(r1 * r2 * r3 * r4)", "COUNT(*)", 6)} AS pass_frac
           |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("text_normalize_nfc",
      // Unicode NFC hygiene audit: per source, how many docs change under
      // canonical composition and the char counts before/after — the
      // report that tells a multilingual pipeline whether decomposed forms
      // are defeating its sha2 dedup keys and splitting token types. The
      // normalization itself is the codegen TextSketch.nfc kernel (UAX #15 —
      // the identical algorithm DuckDB's nfc_normalize and python's
      // unicodedata bind, so all three engines agree byte-for-byte). One
      // scan + O(sources) groups; the fixture corpus is ASCII, so
      // n_changed = 0 everywhere is the honest corpus answer — the change
      // path is pinned by Queries12Spec's planted decomposed-é doc.
      (s, dir) => {
        val n = TextAnalysis.nfc(col("text"))
        t(s, dir, "documents")
          .select(col("source"),
            length(col("text")).cast("long").as("cb"),
            length(n).cast("long").as("ca"),
            (col("text") =!= n).as("chg"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("chg"), 1L).otherwise(0L)).as("n_changed"),
            sum("cb").as("chars_before"),
            sum("ca").as("chars_after"))
          .orderBy("source")
      },
      Some(
        """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN text <> nfc_normalize(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          |  CAST(SUM(length(text)) AS BIGINT) AS chars_before,
          |  CAST(SUM(length(nfc_normalize(text))) AS BIGINT) AS chars_after
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("text_script_mix",
      // Unicode script composition per source: ASCII letters, CJK unified
      // ideographs (U+4E00–9FFF), combining diacritics (U+0300–036F) and
      // everything else — the multilingual-corpus composition dial (script
      // mix drives tokenizer choice and per-script quality thresholds).
      // Classes are EXPLICIT codepoint ranges, not regex script properties:
      // \p{IsHan} (Java), \p{Han} (RE2) and python's unicodedata don't
      // agree on property coverage, but a range is the same on every
      // engine. Counting is length(text) − length(regexp_replace(…)) —
      // per-row codegen regex (the pii_redact precedent), one scan,
      // O(sources) groups. ASCII fixture ⇒ cjk/marks = 0 is the honest
      // corpus answer; planted CJK pinned in Queries12Spec.
      (s, dir) => {
        def cnt(pat: String) =
          (length(col("text")) - length(regexp_replace(col("text"), pat, ""))).cast("long")
        t(s, dir, "documents")
          .select(col("source"),
            length(col("text")).cast("long").as("nc"),
            cnt("[A-Za-z]").as("al"),
            cnt("[\\x{4E00}-\\x{9FFF}]").as("cj"),
            cnt("[\\x{0300}-\\x{036F}]").as("cm"))
          .groupBy("source")
          .agg(sum("nc").as("n_chars"),
            sum("al").as("ascii_letters"),
            sum("cj").as("cjk_chars"),
            sum("cm").as("combining_marks"),
            (sum("nc") - sum("al") - sum("cj") - sum("cm")).as("other_chars"))
          .orderBy("source")
      },
      Some(
        """SELECT source,
          |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
          |  CAST(SUM(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS ascii_letters,
          |  CAST(SUM(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g'))) AS BIGINT) AS cjk_chars,
          |  CAST(SUM(length(text) - length(regexp_replace(text, '[\x{0300}-\x{036F}]', '', 'g'))) AS BIGINT) AS combining_marks,
          |  CAST(SUM(length(regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z]', '', 'g'), '[\x{4E00}-\x{9FFF}]', '', 'g'), '[\x{0300}-\x{036F}]', '', 'g'))) AS BIGINT) AS other_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QSpec("epoch_repeat_plan",
      // Executable form of mixture_epochs' fractional epochs: a source
      // planned for e.g. 2.4 epochs repeats every doc twice and gives a
      // deterministic 40%-of-docs subset (murmur3(doc_id) ppm threshold —
      // split_train_test's hash family, so the subset is stable under any
      // partitioning, re-run or engine) a third instance. Surface = per
      // source: docs, whole-epoch base, fractional ppm, extra-instance
      // count and total planned instances. Integer-exact end to end: base
      // and ppm come from ExactMath.intDiv in decimal(38,0) (alloc × 1e6
      // would overflow a Long at 100 TB token counts), the pick is an
      // integer hash compare. Shapes: the per-source token rollup is the
      // SAME memoized frame mixture_epochs builds (one corpus scan serves
      // both keys), the plan is O(sources) rows broadcast onto one
      // documents scan, one O(sources)-group shuffle.
      (s, dir) => {
        val d = "decimal(38,0)"
        // the weight/allocation chain is mixtureAllocPlan — ONE
        // definition shared with mixture_epochs, so the two keys (and
        // their oracles) cannot drift
        val plan = mixtureAllocPlan(s, dir)
          .select(col("source"),
            ExactMath.intDiv(col("alloc_tokens"), col("n_tokens")).as("base_epochs"),
            ExactMath.intDiv(
              (col("alloc_tokens") % col("n_tokens")).cast(d) * lit(1000000L).cast(d),
              col("n_tokens")).as("frac_ppm"))
        t(s, dir, "documents")
          .select(col("source"), pmod(hash(col("doc_id")), lit(1000000)).as("h"))
          .join(broadcast(plan), Seq("source"))
          .groupBy("source", "base_epochs", "frac_ppm")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("h") < col("frac_ppm"), 1L).otherwise(0L)).as("n_extra"))
          .select(col("source"), col("n_docs"), col("base_epochs"), col("frac_ppm"),
            col("n_extra"),
            (col("n_docs") * col("base_epochs") + col("n_extra")).as("planned_instances"))
          .orderBy("source")
      },
      Some(ExactMath.murmurCte("documents", "doc_id", 42) +
        s""", $mixtureWeightCtes,
           |a AS (SELECT source, n_tokens,
           |    CAST(${ExactMath.ratioRoundedSql("2::HUGEINT * total_tok * w_micros", "sum_w", 0)} AS BIGINT) AS alloc_tokens
           |  FROM w, t),
           |plan AS (SELECT source,
           |    CAST(alloc_tokens // n_tokens AS BIGINT) AS base_epochs,
           |    CAST(((alloc_tokens % n_tokens)::HUGEINT * 1000000) // n_tokens AS BIGINT) AS frac_ppm
           |  FROM a),
           |dx AS (SELECT d.source, ((sh % 1000000) + 1000000) % 1000000 AS h
           |  FROM documents d JOIN msigned m ON d.doc_id = m.v)
           |SELECT dx.source, CAST(COUNT(*) AS BIGINT) AS n_docs, base_epochs, frac_ppm,
           |  CAST(SUM(CASE WHEN h < frac_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
           |  CAST(COUNT(*) * base_epochs + SUM(CASE WHEN h < frac_ppm THEN 1 ELSE 0 END) AS BIGINT) AS planned_instances
           |FROM dx JOIN plan ON dx.source = plan.source
           |GROUP BY dx.source, base_epochs, frac_ppm ORDER BY dx.source""".stripMargin)),

    QSpec("pretokenize_bpe_regex",
      // BPE-ish pretokenization counts (X56): the GPT-2 pretokenizer shape —
      // contractions, space-glued letter runs, digit runs, punctuation
      // runs, residual space runs — against the whitespace count the rest
      // of the surface uses, with the pretokens-per-ws-token fertility as
      // the budget dial (a BPE vocab is trained over pretokens, so token
      // budgets planned on whitespace counts are off by exactly this
      // ratio). The pattern is deliberately ASCII-EXPLICIT and
      // lookahead-free: Trino/Java, RE2 (DuckDB) and python re all run
      // leftmost-first greedy alternation identically over explicit
      // classes, where \p{L}/\s property classes and GPT-2's \s+(?!\S)
      // lookahead diverge (RE2 has no lookahead at all — the r10 \s
      // lesson). One behavioral consequence, documented: a space run
      // before a word glues to the word only when it is a SINGLE space
      // (the lookahead-free simplification); longer runs stay standalone.
      // Non-ASCII runs land in the residual class as one pretoken per run
      // — count-identical across engines even where Java iterates UTF-16
      // units, because no ASCII class member is a surrogate.
      //
      // Plan: ONE scan, TWO grouped shuffles — an EXPLICIT two-level
      // aggregation: first keyed (source, pretoken), vocabulary-bounded
      // with map-side combine (this grouping IS the distinct; a flat
      // countDistinct-beside-sums would plan the same two exchanges but
      // shuffle the full exploded stream), then the O(vocab) source
      // rollup. Per-doc scalars (ws count, doc marker) ride position 0
      // through both levels as partial sums. posexplode_OUTER, not
      // posexplode: the outer form keeps zero-pretoken docs (an empty
      // text would otherwise vanish in Spark/DuckDB while the python
      // audit still counts it) AND avoids the implicit size()>0 filter
      // the non-outer generator plans, which re-evaluates the full-text
      // regex 2-3× per row across the Filter/Project boundary. Text never
      // survives past the extract.
      (s, dir) => {
        val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"
        val isDocRow = col("pos").isNull || col("pos") === 0
        t(s, dir, "documents")
          .select(col("source"),
            regexp_extract_all(col("text"), lit(pat), lit(0)).as("pt"),
            size(split(col("text"), " ")).cast("long").as("ws"))
          .select(col("source"), col("ws"),
            posexplode_outer(col("pt")).as(Seq("pos", "p")))
          .groupBy("source", "p")
          .agg(count(col("p")).as("cnt"),
            sum(when(isDocRow, 1L).otherwise(0L)).as("nd"),
            sum(when(isDocRow, col("ws")).otherwise(0L)).as("wsum"))
          .groupBy("source")
          .agg(sum("nd").as("n_docs"),
            sum("cnt").as("pretokens"),
            count(col("p")).as("distinct_pretokens"),
            sum("wsum").as("ws_tokens"))
          .select(col("source"), col("n_docs"), col("pretokens"),
            col("distinct_pretokens"), col("ws_tokens"),
            graft.ext.ExactMath.ratioRounded(
              col("pretokens"), col("ws_tokens"), 6).as("fertility"))
          .orderBy("source")
      },
      Some {
        val pat = "''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"
        s"""WITH b AS (SELECT source,
           |    regexp_extract_all(text, '$pat') AS pt,
           |    len(string_split(text, ' ')) AS ws FROM documents),
           |x AS (SELECT source, ws, u.pos AS pos, u.p AS p FROM (
           |    SELECT source, ws, unnest(CASE WHEN len(pt) = 0
           |      THEN [{'pos': CAST(NULL AS BIGINT), 'p': CAST(NULL AS VARCHAR)}]
           |      ELSE list_transform(range(1, len(pt)+1),
           |        i -> {'pos': i - 1, 'p': pt[i]}) END) AS u FROM b)),
           |g1 AS (SELECT source, p, COUNT(p) AS cnt,
           |    SUM(CASE WHEN pos = 0 OR pos IS NULL THEN 1 ELSE 0 END) AS nd,
           |    SUM(CASE WHEN pos = 0 OR pos IS NULL THEN ws ELSE 0 END) AS wsum
           |  FROM x GROUP BY source, p),
           |g AS (SELECT source,
           |    SUM(nd) AS n_docs,
           |    SUM(cnt) AS pretokens,
           |    COUNT(p) AS distinct_pretokens,
           |    SUM(wsum) AS ws_tokens
           |  FROM g1 GROUP BY source)
           |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(pretokens AS BIGINT) AS pretokens,
           |  CAST(distinct_pretokens AS BIGINT) AS distinct_pretokens,
           |  CAST(ws_tokens AS BIGINT) AS ws_tokens,
           |  ${graft.ext.ExactMath.ratioRoundedSql("pretokens", "ws_tokens", 6)} AS fertility
           |FROM g ORDER BY source""".stripMargin
      }),

    QSpec("bpe_train_merges",
      // X60 — see ext/Bpe.scala for the full scale/determinism story: one
      // corpus scan → vocabulary frame, then 10 deterministic merge rounds
      // (highest-count adjacent pair, (l, r)-lexicographic ties) each one
      // vocab-sized aggregation + a single-row argmax collect. The driver
      // fixture's texts are space-joined lowercase words, so the trained
      // merges are real (whole high-frequency words assemble within 10
      // rounds) and the compression trajectory is strictly decreasing.
      (s, dir) => graft.ext.Bpe.trainMerges(s, t(s, dir, "documents"),
        nMerges = 10),
      Some(graft.ext.Bpe.trainMergesOracleSql(10))),

    QSpec("bpe_encode_fertility",
      // X63 — apply the X60-trained vocabulary: per-source whitespace
      // tokens, ASCII pretokens, and the token count the 10-merge vocab
      // encodes the source to, with encoded-per-ws as the POST-training
      // budget dial (X56's fertility measured the pre-merge stream). The
      // encode never touches symbol strings — counts join the
      // vocabulary-sized (pretoken, n_syms) frame and multiply. Shares the
      // memoized training run with bpe_train_merges.
      (s, dir) => graft.ext.Bpe.encodeFertility(s, t(s, dir, "documents"),
        nMerges = 10),
      Some(graft.ext.Bpe.encodeFertilityOracleSql(10))),

    QSpec("pii_redact_clean",
      // X62 — emit the scrubbed corpus + per-doc redaction counts. The
      // driver fixture plants no PII, so zero counts and pass-through text
      // are the honest corpus answer (the dedup_semantic precedent); the
      // full chain — counts, sequential replacement, emission — is still
      // pinned value-for-value by the oracle, and the planted-PII
      // semantics (including the email-shadows-IP ordering) by
      // Queries14Spec.
      (s, dir) => TextAnalysis.piiRedact(t(s, dir, "documents")).orderBy("doc_id"),
      Some(
        """WITH s1 AS (SELECT doc_id, source, text,
          |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
          |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          |  FROM documents),
          |s2 AS (SELECT doc_id, source, n_email,
          |    len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
          |    regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t2
          |  FROM s1),
          |s3 AS (SELECT doc_id, source, n_email, n_ipv4,
          |    len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
          |    regexp_replace(t2, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted_text
          |  FROM s2)
          |SELECT doc_id, source, CAST(n_email AS BIGINT) AS n_email,
          |  CAST(n_ipv4 AS BIGINT) AS n_ipv4, CAST(n_phone AS BIGINT) AS n_phone,
          |  redacted_text
          |FROM s3 ORDER BY doc_id""".stripMargin)),

    QSpec("bpe_tokenize_shards",
      // X65 — see ext/Bpe.scala tokenizeShards for the full story: per-doc
      // token count + order-pinning polynomial hash of the token-id
      // sequence under the X60-trained 10-merge vocabulary, plus the
      // murmur3(doc_id) pmod 16 shard (the shard_manifest hash family).
      // Shares ONE memoized training run with bpe_train_merges /
      // bpe_encode_fertility; tokenization itself is lookup-only (the
      // final vocab already carries each pretoken's merged symbols).
      (s, dir) => Bpe.tokenizeShards(s, t(s, dir, "documents"),
        nMerges = 10, nShards = 16),
      Some(Bpe.tokenizeShardsOracleSql(10, 16))))
}
