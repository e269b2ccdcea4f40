package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** X6 + north-star text operators: tokenization, quality scoring, language
  * ID, fingerprinting. All per-row higher-order expressions — no UDFs, fully
  * codegen'd, linear scans (the 100 TB posture: these run in the same stage
  * as the parquet scan, no shuffle).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Unicode NFC normalization (codegen — see
    * [[graft.functions.TextSketch.nfc]]). */
  def nfc(text: Column): Column =
    GraftColumnBridge.kernel(graft.functions.TextSketch, "nfc", StringType,
      text -> StringType)

  /** BPE-ish subword count: whitespace tokens plus an extra unit per 4 chars
    * of token beyond the first 4 (deterministic stand-in for a real BPE
    * vocabulary, which isn't available offline). */
  def bpeishTokenCount(text: Column): Column =
    aggregate(tokens(text), lit(0),
      (acc, t) => acc + lit(1) + floor(greatest(length(t) - 1, lit(0)) / 4).cast("int"))

  /** Quality composite ∈ [0,1]: 0.4·min(n_tokens/100,1) +
    * 0.3·stopword_ratio + 0.3·min(avg_token_len/10,1), rounded HALF_UP to
    * 6 decimals — in EXACT INTEGER arithmetic. The fp formulation hit a
    * real cross-engine divergence at sf0.1 (r8): a doc whose true score is
    * exactly 0.2883125 sits on the rounding boundary, where Spark's
    * decimal-string HALF_UP and DuckDB's multiply-then-round disagree on
    * the nearest-double input. Over the common denominator 1000n the score
    * is the rational num/den with
    *   num = 4·min(n,100)·n + 300·stop + 30·min(Σlen,10n),  den = 1000·n,
    * and micros = (2000000·num + den) div (2·den) is exact half-up — no
    * float enters until the final micros/1e6 (≤ 1e6, identical IEEE op on
    * every engine). Overflow headroom: 2000000·num ≈ 2e9·n stays in Long
    * for documents up to ~4.6e9 tokens. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityMicros(text, stopwords).cast("double") / 1000000.0

  /** [[qualityScore]]'s exact integer core: the half-up-rounded score in
    * millionths, as a LONG — the form downstream EXACT aggregations (mean
    * quality per slice) consume without re-entering float space. */
  def qualityMicros(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val stop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long"))
    val num = lit(4L) * least(n, lit(100L)) * n + lit(300L) * stop +
      lit(30L) * least(sumLen, lit(10L) * n)
    val den = lit(1000L) * n
    ExactMath.ldiv(lit(2000000L) * num + den, lit(2L) * den)
  }

  /** DuckDB twin of [[qualityMicros]] (stopwords fixed to the engine-wide
    * 'the'/'a' set) over a pre-split token-list column — ONE renderer for
    * every oracle that re-derives the teacher score (quality_score,
    * doc_quality_logreg, quality_calibration, curation_attrition), so the
    * integer formula cannot drift between replays. */
  def qualityMicrosSql(sp: String): String =
    s"(2000000 * (4 * LEAST(len($sp), 100) * len($sp)" +
      s" + 300 * len(list_filter($sp, t -> t = 'the' OR t = 'a'))" +
      s" + 30 * LEAST(list_sum(list_transform($sp, t -> CAST(length(t) AS BIGINT))), 10 * len($sp)))" +
      s" + 1000 * len($sp)) // (2000 * len($sp))"

  /** Marker-word language ID: per language, count tokens in its marker set;
    * predict the argmax (ties → lexicographically first language). A real
    * system uses char-n-gram profiles; the *shape* (per-language score +
    * argmax, one pass) is identical. */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "die"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("的", "是", "了"))

  /** The language with the highest score, as one expression: a fold of
    * `greatest`/`when` over `scores` in order, so ties go to the first
    * language in profile order (a later one needs a strictly greater
    * score). */
  private def argmaxLang(scores: Seq[(String, Column)]): Column =
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, s)) =>
        (greatest(bestScore, s), when(s > bestScore, lit(lang)).otherwise(bestLang))
    }._2

  /** DuckDB twin of the marker-intersect argmax ([[withLangIdIntersect]])
    * as oracle-SQL text, over a pre-split token-list column — ONE renderer
    * shared by every oracle that re-derives the prediction (lang_id,
    * lang_id_confusion, curation_attrition), so the nested-CASE
    * first-max-in-order tie-break cannot drift between them. list_intersect
    * dedups in both engines, matching array_intersect's distinct-match
    * scoring. */
  def langIdCaseSql(sp: String,
      markers: Seq[(String, Seq[String])] = defaultMarkers): String = {
    val score = markers.map { case (lang, ws) =>
      lang -> s"len(list_intersect($sp, [${ws.map(w => s"'$w'").mkString(", ")}]))"
    }
    // generated from the markers list itself (not a hardcoded 5-language
    // destructure — r10 advice): language i wins iff its score >= every
    // LATER language's score, which is exactly the fold's first-max-in-order
    // tie-break; the last language is the ELSE arm.
    if (score.size == 1) s"'${score.head._1}'"
    else {
      val whens = score.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
        val laters = score.drop(i + 1).map(_._2)
        s"    WHEN ${laters.map(l => s"$s >= $l").mkString(" AND ")} THEN '$lang'"
      }
      ("CASE" +: whens :+ s"    ELSE '${score.last._1}' END").mkString("\n")
    }
  }

  /** Character-n-gram language profiles (the real n-gram heuristic shape):
    * per language, characteristic trigrams (single characters for zh),
    * scored by [[withLangIdOccurrence]]. */
  val defaultTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("er ", "der", "ein", "ich", "sch"),
    "en" -> Seq("the", "he ", "ing", "and", " th"),
    "es" -> Seq("os ", "el ", "ión", "ent", "de "),
    "fr" -> Seq("le ", "es ", "ent", "une", "eur"),
    "zh" -> Seq("的", "是", "了", "我", "在"))

  /** Distinct-marker language ID: score(lang) = |tokens ∩ marker set| via one
    * codegen'd `array_intersect` per language — no interpreted lambda passes.
    * (A form with five interpreted `filter(isin)` HOFs per row measured 10×
    * slower than codegen string ops at sf0.1; `ArrayIntersect` is a native
    * codegen binary expression.) Scores count DISTINCT matched markers, so
    * its DuckDB twin is `len(list_intersect(sp, [...]))` — both engines
    * dedup identically. Argmax tie-break: first language in profile order,
    * a later one needs a strictly greater score. */
  def withLangIdIntersect(df: DataFrame, textCol: String, out: String,
      markers: Seq[(String, Seq[String])] = defaultMarkers): DataFrame = {
    val withToks = df.withColumn("__toks", tokens(col(textCol)))
    val withScores = markers.foldLeft(withToks) { case (d, (lang, ws)) =>
      d.withColumn(s"__s_$lang",
        size(array_intersect(col("__toks"), array(ws.map(lit): _*))))
    }
    val scores = markers.map { case (lang, _) => lang -> col(s"__s_$lang") }
    withScores.withColumn(out, argmaxLang(scores))
      .drop("__toks" +: markers.map(p => s"__s_${p._1}"): _*)
  }

  /** Occurrence-counting language ID: score(lang) = Σ_p over the language's
    * profile n-grams of the non-overlapping occurrence count of p in the
    * text, computed as (len(text) − len(replace(text, p))) / len(p) — plain
    * codegen'd string ops, no array materialization. A trigram-array form
    * would allocate one substring per character position and filter it per
    * language through interpreted higher-order lambdas. Unlike 3-char
    * substr grams, it also scores 1–2-char profile entries (e.g. CJK
    * single-character markers). Argmax tie-break identical: first language
    * in profile order with a strictly greater score. */
  def withLangIdOccurrence(df: DataFrame, textCol: String, out: String,
      profiles: Seq[(String, Seq[String])] = defaultTrigramProfiles): DataFrame = {
    // opt-r15: the length-delta-of-replace() form allocated a full replaced
    // COPY of the text per profile pattern (25 copies/row over the default
    // profiles); LangOccurrenceScore counts the same non-overlapping
    // occurrences allocation-free and replays the identical truncating
    // arithmetic (ShinglerSpec pins equality incl. multi-byte profiles)
    val withScores = profiles.foldLeft(df) { case (d, (lang, ps)) =>
      d.withColumn(s"__s_$lang", GraftColumnBridge.column(
        graft.functions.LangOccurrenceScore(
          GraftColumnBridge.expression(col(textCol)), ps)))
    }
    val scores = profiles.map { case (lang, _) => lang -> col(s"__s_$lang") }
    withScores.withColumn(out, argmaxLang(scores))
      .drop(profiles.map(p => s"__s_${p._1}"): _*)
  }

  /** Duplicate-bigram fraction (Gopher-style repetition signal): 1 −
    * |distinct bigrams| / |bigrams|. High values flag boilerplate/spam.
    * One codegen pass per row (array_distinct over the shingle array), no
    * shuffle — runs in the scan stage at any corpus size. */
  def repetitionRatio(text: Column): Column = {
    // opt-r15: total == size(shingles) and the distinct count run as
    // one-pass codegen kernels (the former size(array_distinct(shingles))
    // materialized every bigram string just to hash and discard it)
    val grams = Dedup.shingles(text, 2)
    // integer-exact: 1 − distinct/total == (total − distinct)/total as a
    // rational; rounded without the engine-ambiguous double ROUND (see
    // ExactMath — denominators with a 2^7 factor land on the boundary)
    ExactMath.ratioRounded(
      (size(grams) - Dedup.distinctShingleCount(text, 2)).cast("long"),
      size(grams).cast("long"), 6)
  }

  /** The four Gopher-style admission rule booleans over (text, n_chars) —
    * the `quality_gopher_rules` battery, factored out so the streaming
    * admission gate (X67) screens with the IDENTICAL predicates the batch
    * observability key reports on. Every rule is an integer comparison (no
    * float enters a pass/fail decision): token count ∈ [20, 90]; mean
    * token length ∈ [3, 5] (cross-multiplied, Σlen derived as
    * n_chars − (n − 1) under the corpus's single-space tokenization);
    * ≥ 2 stopword occurrences; duplicate-bigram fraction ≤ 5%
    * ((t − d) · 20 ≤ t, < 2 tokens trivially passes). All four are
    * scan-stage projections — no shuffle, corpus-linear. */
  def gopherRules(text: Column, nChars: Column)
      : (Column, Column, Column, Column) = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val charsSum = nChars.cast("long") - (n - lit(1L))
    val stops = size(filter(toks, tk => tk.isin("the", "a"))).cast("long")
    val tbi = when(n >= 2L, n - lit(1L)).otherwise(lit(0L))
    val dbi = when(n >= 2L,
      Dedup.distinctShingleCount(text, 2).cast("long"))
      .otherwise(lit(0L))
    (n.between(20L, 90L),
      charsSum >= lit(3L) * n && charsSum <= lit(5L) * n,
      stops >= 2L,
      (tbi - dbi) * lit(20L) <= tbi)
  }

  /** Sequence packing for training-data assembly: documents are concatenated
    * in doc_id order within each shard and cut into fixed token-budget
    * sequences; a document is assigned to the sequence containing its first
    * token (`offset` = running token count before the doc,
    * `seq_id` = offset div budget — the standard "concatenate then chunk"
    * pretraining layout, where a document may continue into the next
    * sequence).
    *
    * The running sum parallelizes PER SHARD (`shardCol`) — never a global
    * single-partition sort (real pipelines pack per worker/shard anyway; a
    * global pack order is neither needed nor reproducible there) — and a
    * shard's own prefix is TWO-LEVEL (the vocab_growth_curve discipline):
    * per-doc token counts window inside 8192-doc-id buckets (bounded
    * frames, parallel across buckets), and only the per-bucket totals —
    * shard/8192 rows — prefix within the shard. A shard can be a handful
    * of sources, i.e. data-proportional, so a plain shard-partitioned
    * window would put a shard's every doc on one unsplittable task (r12
    * hot-key window audit). */
  def packSequences(docs: DataFrame, shardCol: String, budget: Int): DataFrame = {
    // budget 0 would be a mid-stage divide-by-zero under ANSI and silent
    // NULL seq_ids otherwise — refuse driver-side like sampleFramesStub
    require(budget > 0, s"packSequences budget must be positive, got $budget")
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("doc_id"), col(shardCol), size(tokens(col("text"))).as("n_tok"))
      .withColumn("_sub", expr("doc_id div 8192"))
    val inSub = Window.partitionBy(shardCol, "_sub").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val subPrefix = d.groupBy(shardCol, "_sub")
      .agg(sum("n_tok").as("st"))
      .withColumn("_prev", coalesce(sum("st").over(
        Window.partitionBy(shardCol).orderBy("_sub")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(shardCol), col("_sub"), col("_prev"))
    d.withColumn("off_in", coalesce(sum(col("n_tok")).over(inSub), lit(0L)))
      .join(subPrefix, Seq(shardCol, "_sub"))
      .withColumn("offset", col("_prev") + col("off_in"))
      .withColumn("seq_id", expr(s"offset div $budget"))
      .select(col("doc_id"), col(shardCol), col("n_tok"), col("offset"), col("seq_id"))
      .orderBy(shardCol, "doc_id")
  }

  /** Unigram language-model quality score: per doc, the MEAN corpus
    * probability of its tokens — Σ_t cnt(t) / (n_tok_doc · N) where cnt is
    * the corpus-wide count of token t and N the total token count. Docs of
    * rare/atypical tokens score low (the cheap stand-in for LM perplexity
    * filtering, with no log() — every term is an integer sum, so the single
    * final division is bit-reproducible across engines where ln() is not;
    * same rationale as text_tfidf's rational idf).
    *
    * Scale shape: the token-count table is vocabulary-sized (≪ corpus —
    * broadcast it); the per-doc aggregation shuffles on doc_id only. For a
    * web-scale vocabulary that outgrows a broadcast, the same plan works
    * with a shuffled token join — still linear. */
  def unigramLmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tc = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = tc.agg(sum("cnt").as("n"))
    toks.join(broadcast(tc), "tok")
      .groupBy("doc_id")
      .agg(sum("cnt").as("s"), count(lit(1)).as("n_tok"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"),
        // integer-exact 9-decimal rounding (decimal(38) headroom: the
        // 2·10⁹·s product is fine for any corpus a Long can count)
        ExactMath.ratioRounded(col("s"), col("n_tok") * col("n"), 9)
          .as("lm_score"))
      .orderBy("doc_id")
  }

  /** Positional polynomial fingerprint: Σ_i (len(tok_i) · i) mod 1000003 —
    * deterministic, SQL-expressible on any engine (rolling-hash shape
    * without engine-specific hash functions). */
  def polyFingerprint(text: Column): Column = {
    val toks = tokens(text)
    aggregate(zip_with(toks, sequence(lit(1), size(toks)),
      (t, i) => (length(t).cast("long") * i.cast("long")) % 1000003L),
      lit(0L), (acc, x) => (acc + x) % 1000003L)
  }

  /** ASCII-explicit PII patterns (the X50 range discipline: explicit
    * classes, no lookahead, no \d/\w/\b property classes — Java regex, RE2
    * and python re run these identically). Phone is the hyphenated
    * NNN-NNN-NNNN shape on purpose: an un-anchored all-digits pattern
    * would be locale guesswork, and the explicit shape keeps every
    * engine's leftmost-greedy scan byte-identical. */
  private[graft] val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val ipv4Pat = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  private[graft] val phonePat = """[0-9]{3}-[0-9]{3}-[0-9]{4}"""

  /** The X62 redaction chain, exposed for the planted-PII spec: SEQUENTIAL
    * passes (email → IPv4 → phone), each counting on ITS OWN input — so an
    * IPv4 inside an already-redacted email domain is counted zero times,
    * deterministically, on every engine (the count-then-replace order is
    * part of the declared semantics, not an implementation detail). One
    * scan, per-row regex work only — no shuffle, no join; ORDER BY is the
    * declared key's, not the operator's. */
  private[graft] def piiRedact(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_email",
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("t1", regexp_replace(col("text"), emailPat, "<EMAIL>"))
      .withColumn("n_ipv4",
        size(regexp_extract_all(col("t1"), lit(ipv4Pat), lit(0))).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), ipv4Pat, "<IP>"))
      .withColumn("n_phone",
        size(regexp_extract_all(col("t2"), lit(phonePat), lit(0))).cast("long"))
      .withColumn("redacted_text", regexp_replace(col("t2"), phonePat, "<PHONE>"))
      .select(col("doc_id"), col("source"), col("n_email"), col("n_ipv4"),
        col("n_phone"), col("redacted_text"))
}
