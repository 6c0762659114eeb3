package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators for training-data pipelines: token
  * statistics, quality scoring, language identification and document
  * fingerprinting. Everything is a Catalyst column expression —
  * map-only, whole-stage codegen, no shuffles, so each operator
  * scales linearly with input splits.
  */
object TextStats {

  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  def charCount(text: Column): Column = length(text).cast(LongType)

  /** Σ len(token) as long (order-insensitive integer sum). */
  def tokenCharSum(text: Column): Column =
    aggregate(transform(tokens(text), t => length(t).cast(LongType)),
      lit(0L), (acc, x) => acc + x)

  def avgTokenLen(text: Column): Column =
    tokenCharSum(text).cast(DoubleType) / tokenCount(text).cast(DoubleType)

  /** Characters that are not lowercase alphanumerics or space —
    * punctuation-ish count for quality scoring. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 ]", "")).cast(LongType)

  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")).cast(LongType)

  /** Tiny shared stop list (same literal in the DuckDB oracles — the
    * full MLlib list lives in TextPrep for the NLP pipeline). */
  val miniStopWords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  def stopwordCount(text: Column, stops: Seq[String] = miniStopWords): Column =
    size(filter(tokens(text), t => array_contains(typedLit(stops), t))).cast(LongType)

  /** Heuristic quality score in [0,1] from exact integer counts:
    * penalizes very short docs, high punctuation and digit density,
    * rewards stop-word presence (fluency proxy). Deterministic double
    * math over exact longs. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast(DoubleType)
    val lenScore = least(n / lit(50.0), lit(1.0))
    val punct = punctCount(text).cast(DoubleType) / charCount(text).cast(DoubleType)
    val digits = digitCount(text).cast(DoubleType) / charCount(text).cast(DoubleType)
    val stops = least(stopwordCount(text).cast(DoubleType) / n * lit(5.0), lit(1.0))
    (lenScore * lit(0.4) + stops * lit(0.3) +
      (lit(1.0) - least(punct * lit(5.0), lit(1.0))) * lit(0.2) +
      (lit(1.0) - least(digits * lit(5.0), lit(1.0))) * lit(0.1))
  }

  /** Language-marker word lists for the n-gram/stop-word langid
    * heuristic. Order matters for argmax tie-breaks. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is", "of", "to", "a", "in", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "los", "que", "es", "de", "un", "una"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "du", "dans"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(typedLit(markers), t))).cast(LongType)

  /** Argmax over marker scores; 'und' (undetermined) when all zero.
    * CJK presence short-circuits to 'zh'. */
  def predictedLang(text: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> langScore(text, m) }
    val maxScore = greatest(scores.map(_._2): _*)
    val cjk = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", "")) > 0
    val chain = scores.foldLeft(when(cjk, lit("zh"))) { case (acc, (l, sc)) =>
      acc.when(sc === maxScore && maxScore > 0, lit(l))
    }
    chain.otherwise(lit("und"))
  }

  /** Order-insensitive bag fingerprint: exact integer hash of the
    * token multiset — identical content ⇒ identical fingerprint,
    * reproducible in ANSI SQL (sum of per-token codes is
    * order-insensitive, safe under any partitioning). */
  def bagFingerprint(text: Column): Column =
    pmod(
      lit(1000003L) * tokenCount(text) +
        aggregate(
          transform(tokens(text),
            // first CODE POINT, not Spark ascii()'s first UTF-8 byte:
            // DuckDB's ascii() is codepoint-wise, and a negative lead
            // byte would break parity on any non-ASCII token (the same
            // trap round-12 advice flagged in Classifier)
            t => (Classifier.firstCodepoint(t) * lit(31L) + length(t).cast(LongType) * lit(7L))),
          lit(0L), (acc, x) => acc + x),
      lit(1000000007L))

  /** Order-SENSITIVE rolling fingerprint (Karp-Rabin style over the
    * token sequence) — distinguishes permutations. Shape is
    * transform-to-code then left fold, which ANSI SQL mirrors exactly
    * (`list_reduce(list_prepend(0, list_transform(...)), ...)`). */
  def rollingFingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text),
        // codepoint, not byte — see bagFingerprint
        t => Classifier.firstCodepoint(t) * lit(131L) + length(t).cast(LongType)),
      lit(0L),
      (acc, c) => pmod(acc * lit(31L) + c, lit(1000000007L)))

  /** GPT-2-pre-tokenizer-style classes: contraction suffixes, letter
    * runs, digit runs, punctuation runs. No lookbehind and leftmost
    * alternation only, so Java regex (Spark codegen) and RE2 (the
    * DuckDB oracle) agree. */
  val bpeishPattern: String =
    """'(?:[sdmt]|ll|ve|re)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"""

  /** BPE-ish token-count estimate — the subword-aware twin of
    * [[tokenCount]] for budget estimation (real BPE merges need a
    * vocab; the pre-tokenizer split is the stable upper-bound proxy).
    * Map-only, codegen'd. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeishPattern)).cast(LongType)

  /** Gopher-style repetition signals over word n-grams (default
    * bigrams): total/top-gram/duplicate-gram fractions per document.
    * Deliberately DOC-LOCAL: the per-gram counting runs as
    * higher-order functions inside the row (O(distinct·total) per
    * document) instead of an explode + two shuffles of every gram in
    * the corpus — repetition is a per-document property, so at 100 TB
    * this stays map-only while the shuffle formulation moves the
    * entire token stream through an exchange twice. */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 2): DataFrame = {
    val grams = transform(
      sequence(lit(0), size(col("__toks")) - n),
      i => concat_ws(" ", (0 until n).map(j =>
        element_at(col("__toks"), i + j + 1)): _*))
    val total = size(col("__grams")).cast(LongType)
    val distinctN = size(array_distinct(col("__grams"))).cast(LongType)
    val maxCount = array_max(transform(array_distinct(col("__grams")),
      g => size(filter(col("__grams"), x => x === g))))
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), grams.as("__grams"))
      .select(col(idCol),
        total.as("n_grams"),
        (maxCount.cast(DoubleType) / total.cast(DoubleType)).as("top_gram_frac"),
        ((total - distinctN).cast(DoubleType) / total.cast(DoubleType)).as("dup_gram_frac"))
  }

  /** Multi-n repetition profile: per document, the duplicate-gram
    * fraction at several gram sizes in ONE map-only projection —
    * the Gopher-style repetition battery runs 2..4-gram signals
    * together, and computing them in one pass keeps the cost a single
    * scan regardless of how many sizes are profiled (vs one
    * [[repetitionStats]] pass + join per n). Documents shorter than n
    * tokens yield NULL for that size (matching the SQL CASE guard);
    * the conditional branch keeps the inverted-range `sequence()`
    * from ever evaluating. */
  def repetitionProfile(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1))
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val fracs = ns.map { n =>
      val grams =
        if (n == 1) col("__toks")
        else transform(
          sequence(lit(0), size(col("__toks")) - n),
          i => concat_ws(" ", (0 until n).map(j =>
            element_at(col("__toks"), i + j + 1)): _*))
      val total = size(grams).cast(LongType)
      val distinctN = size(array_distinct(grams)).cast(LongType)
      when(size(col("__toks")) >= n,
        (total - distinctN).cast(DoubleType) / total.cast(DoubleType))
        .as(s"dup_frac_$n")
    }
    base.select(col(idCol) +:
      size(col("__toks")).cast(LongType).as("n_tok") +: fracs: _*)
  }

  /** Corpus-statistics document scoring — the integer-exact stand-in
    * for perplexity filtering (the KenLM gate of C4/CCNet-style
    * pipelines): a document whose token occurrences are all
    * corpus-frequent reads like the corpus; one dominated by hapax
    * tokens is gibberish, OCR noise, or another language. Per
    * document: token count, `familiarity` = Σ corpus-frequency over
    * token OCCURRENCES, `n_rare` = occurrences whose token appears at
    * most `rareAtMost` times corpus-wide, and the rarest token's
    * count. All BIGINT — deterministic at any partitioning, no
    * float-sum ordering hazards.
    *
    * Shape: one groupBy(token) for the frequency table, one
    * token-keyed equi-join back (every probe row emits exactly one
    * row — the build side is 1 row/token — so a hot token like "the"
    * skews partition SIZE only, which AQE's skew-join splitting
    * handles; there is no row explosion), one groupBy(doc). This is
    * the two-aggregate shape that survives a vocabulary too large to
    * broadcast; when the vocabulary DOES fit, Spark's AQE broadcasts
    * the frequency side at runtime and the join collapses to
    * map-side. */
  def unigramFamiliarity(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", rareAtMost: Long = 2): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__cnt"))
    toks.join(freq, "__tok")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(col("__cnt")).as("familiarity"),
        sum(when(col("__cnt") <= rareAtMost, 1L).otherwise(0L)).as("n_rare"),
        min(col("__cnt")).as("min_count"))
  }

  /** Corpus vocabulary: the `n` most frequent whitespace tokens with
    * deterministic tie order (count desc, token asc). Returns
    * (rank, token, count) — the frequency-cutoff vocabulary a
    * tokenizer-training or OOV-analysis pass starts from.
    *
    * Scale shape: one hash-partitioned count with map-side combine,
    * then the top-n via orderBy+limit — Spark plans that as
    * TakeOrderedAndProject (a bounded heap per partition, k rows to
    * the driver-side merge), NOT a global sort; the rank window runs
    * over the already-bounded n rows. */
  def vocabTopN(docs: DataFrame, n: Int = 100,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .select(col("rank"), col("token"), col("cnt"))
  }

  /** Vocabulary coverage curve: for each rank r in the top-`n` vocab,
    * the cumulative count and fraction of ALL token occurrences
    * covered by ranks 1..r — the curve that sizes a tokenizer
    * vocabulary ("how big must the vocab be for 95% coverage?").
    * Returns (rank, token, cnt, cum_cnt, total_cnt, coverage).
    *
    * Scale shape: one map-side-combined token count feeds BOTH the
    * top-n heap ([[vocabTopN]]'s TakeOrderedAndProject) and a single
    * scalar total. The static plan prints the count subtree twice
    * (Spark shares no subplans without caching), but both partial-agg
    * exchanges are canonically identical, so AQE's stage cache
    * materializes ONE shuffle stage and the second branch reuses it —
    * the corpus is scanned once at runtime. The cumulative window
    * runs over the already-bounded n rows. Integer counts throughout;
    * the one double (coverage) is a single division per row,
    * identical in any engine. */
  def vocabCoverage(docs: DataFrame, n: Int = 100,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total_cnt"))
    val top = counts
      .orderBy(col("cnt").desc, col("token"))
      .limit(n)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        Window.orderBy(col("cnt").desc, col("token"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    top.crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"), col("cum_cnt"),
        col("total_cnt"),
        (col("cum_cnt").cast(DoubleType) / col("total_cnt").cast(DoubleType))
          .as("coverage"))
  }

  /** Per-document out-of-vocabulary rate against the [[vocabTopN]]
    * corpus vocabulary: (id, n_tokens, n_oov, oov_frac) where a token
    * OCCURRENCE is OOV iff its text is outside the top-`n` vocab —
    * the coverage metric that sizes a vocabulary (or flags
    * out-of-domain documents against a fixed one).
    *
    * Scale shape: the vocab is n rows — broadcast to the token
    * stream's anti-join side; the per-token pass is map-only plus one
    * id-keyed count. */
  def oovStats(docs: DataFrame, n: Int = 100, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val vocab = vocabTopN(docs, n, textCol).select(col("token"))
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val oov = toks.join(broadcast(vocab), Seq("token"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_oov"))
    docs.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
      .join(oov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Pairwise vocabulary overlap between sources: for every
    * (source_a < source_b) pair, each side's distinct-token vocabulary
    * size, the shared count and the vocabulary Jaccard — the
    * mixture-design signal for "are these two feeds the same
    * distribution?" that complements q100's instance-level
    * cross-source duplication matrix with a DISTRIBUTION-level one
    * (two syndicated feeds share documents; two same-domain feeds
    * share vocabulary even with zero shared documents).
    *
    * Scale shape: the distinct (source, token) projection is one
    * token-keyed exchange whose size is Σ per-source vocabularies —
    * vocabulary saturates far below corpus size, so this is the small
    * frame of the pipeline. The shared-count self-join fans out ≤ S
    * rows per token (S = number of sources, an enumerable fleet of
    * feeds, not a data-scaled quantity), so output is bounded by
    * vocab·S² in the worst case and by the true overlap in practice.
    * Pairs with zero overlap still appear (cross of the S-row size
    * frame — broadcast, O(S²) rows). */
  def sourceVocabOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val st = docs.select(col(groupCol).as("__src"),
      explode(tokens(col(textCol))).as("__tok")).distinct()
    val sizes = st.groupBy(col("__src")).agg(count(lit(1)).as("__vocab"))
    val shared = st.select(col("__src").as("source_a"), col("__tok"))
      .join(st.select(col("__src").as("source_b"), col("__tok")), Seq("__tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_vocab"))
    val pairs = broadcast(sizes.select(col("__src").as("source_a"),
        col("__vocab").as("vocab_a")))
      .join(broadcast(sizes.select(col("__src").as("source_b"),
        col("__vocab").as("vocab_b"))),
        col("source_a") < col("source_b"))
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        coalesce(col("shared_vocab"), lit(0L)).as("shared_vocab"))
      .withColumn("jaccard", col("shared_vocab").cast(DoubleType) /
        (col("vocab_a") + col("vocab_b") - col("shared_vocab")).cast(DoubleType))
  }

  /** Truncate every document at the corpus's EXACT length percentile:
    * cap = the ⌈n·pctNum∕pctDen⌉-th smallest token count, docs longer
    * than the cap keep their first `cap` tokens — the Gopher-style
    * outlier-length rule ("cut the 1% of pathological megabyte docs")
    * with an exact, replayable cap instead of an approx-percentile
    * guess that shifts between runs. Output: (id, n_tok, kept_tokens,
    * truncated, trunc_text), trunc_text re-joined single-spaced on
    * BOTH engine and oracle sides so the comparison is well-defined.
    *
    * Scale shape: the cap comes from [[Ranks.exactGroupRank]]'s radix
    * order statistics (every window partition ≤ 4096 rows — never the
    * `row_number() OVER (ORDER BY len)` corpus-in-one-task killer),
    * filtered to one row and broadcast; the truncation itself is a
    * map-only slice. The rank's [0, 1] value is n∕(n+1) — strictly
    * monotone in n and collision-free in double for any real document
    * length (adjacent gap 1∕(n(n+1)) stays above ulp ≈ 2.2e-16 up to
    * n ≈ 2e7 tokens ≈ an 80 MB document). The asc-rank target is read
    * from the DESC radix rank as n − target + 1: tie ORDER may differ
    * between the two spellings but the VALUE at a sorted position is
    * order-unique, and only the value leaves the frame. */
  def truncateAtLengthPercentile(docs: DataFrame,
      pctNum: Long = 99L, pctDen: Long = 100L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(pctNum > 0 && pctDen > 0 && pctNum <= pctDen)
    val counted = docs.select(col(idCol), col(textCol),
      tokenCount(col(textCol)).as("n_tok"))
    val v = col("n_tok").cast(DoubleType) /
      (col("n_tok").cast(DoubleType) + lit(1.0))
    val ranked = Ranks.exactGroupRank(
      counted.withColumn("__g", lit(1)).withColumn("__v0", v),
      "__g", idCol, col("__v0"))
      .select(col(idCol), col("rnk"))
    val n = counted.agg(count(lit(1)).as("__n"))
    val capFrame = ranked.crossJoin(broadcast(n))
      .filter(col("rnk") ===
        expr(s"__n - (($pctNum * __n + $pctDen - 1) div $pctDen) + 1"))
      .join(counted.select(col(idCol), col("n_tok").as("cap_tok")), idCol)
      .select("cap_tok")
    counted.crossJoin(broadcast(capFrame))
      .select(
        col(idCol),
        col("n_tok"),
        least(col("n_tok"), col("cap_tok")).as("kept_tokens"),
        (col("n_tok") > col("cap_tok")).as("truncated"),
        concat_ws(" ", slice(tokens(col(textCol)), lit(1),
          least(col("n_tok"), col("cap_tok")).cast("int"))).as("trunc_text"))
  }

  /** N-gram NOVELTY vs a reference corpus: for each scored doc, the
    * exact fraction (ppm) of its DISTINCT word n-grams that appear
    * nowhere in `ref` — the "is this new text or a remix of what we
    * already have" curation signal. Low novelty flags paraphrased
    * boilerplate and templated spam that exact/MinHash dedup passes
    * (no single reference doc is similar, but every phrase is known);
    * high novelty up-weights genuinely fresh sources in a mixture.
    * The complement of [[unigramFamiliarity]] at phrase granularity —
    * and order-sensitive where a unigram measure is not.
    *
    * Exactness: counts of distinct grams are integers; the score is
    * `n_novel · 1e6 ∕∕ n_grams` (floor), so the oracle replays it
    * bit-for-bit. Docs with fewer than `n` tokens have no grams and
    * are excluded (a 0∕0 score is meaningless).
    *
    * Scale shape: the reference gram set is a distinct aggregation
    * (map-side combined), the membership probe a left join on the
    * 8-byte gram hash — Σ(doc grams) join rows, output-bound, never
    * |docs|·|ref|. AQE broadcasts the reference side when it fits
    * (a curated reference usually does); otherwise it is a plain
    * co-partitioned hash join both sides of which are hash keys only
    * — gram STRINGS never shuffle ([[Dedup.ngramJaccardPairs]]'s
    * hash-the-set trick, same ~1e-10 corpus-wide collision odds).
    */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, n: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // four measured plan rules (the containmentPairs lessons + one):
    // tokens land in an ATTRIBUTE before the gram builder sees them
    // (an inlined split() re-runs the regex per gram element); short
    // docs filter on TOKEN COUNT before the build (the guarded
    // wordNgrams plus a grams-size filter re-evaluates the HOF chain,
    // 13× wall); hashing happens AFTER the explode, scalar-wise (a
    // lambda-over-HOF transform(…, xxhash64) costs ~30×); and the
    // explode is explode_OUTER — on an inner explode,
    // InferFiltersFromGenerate adds `size(__gs) > 0 AND isnotnull`
    // and pushdown re-substitutes TWO full copies of the gram chain
    // (split re-inlined per element) below the scan, ~9× this plan's
    // wall; outer is equivalent here because the token-count filter
    // already guarantees ≥ 1 gram
    def gramHashes(df: DataFrame, cols: Column*) = df
      .select(cols :+ tokens(col(textCol)).as("__tk"): _*)
      .filter(size(col("__tk")) >= n)
      .select(cols :+ Dedup.wordNgramsUnguarded(col("__tk"), n).as("__gs"): _*)
      .select(cols :+ explode_outer(col("__gs")).as("__gstr"): _*)
      .select(cols :+ xxhash64(col("__gstr")).as("__gram"): _*)
    val refGrams = gramHashes(ref).distinct()
    gramHashes(docs, col(idCol))
      .join(refGrams.withColumn("__hit", lit(1)), Seq("__gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_grams"))
  }

  /** Unigram SURPRISAL quality score — the integer-exact proxy for the
    * LM-perplexity filters of the CCNet/Gopher pipelines: a document
    * built from corpus-typical words scores low, one full of rare
    * words scores high. Per token the surprisal is
    * `floor(log2(N div n_tok))` — N the corpus token count, n_tok the
    * token's corpus count — computed with the bit trick
    * `length(bin(x)) - 1` so there is no floating log anywhere:
    * engine and oracle agree bit-for-bit, including at exact powers
    * of two where `floor(log2(·))` in doubles is one ulp from wrong.
    * `surprisal_per_100` (the ×100 floor-divided mean) is the
    * length-normalized score a curation gate thresholds on.
    *
    * Shape at scale: the exploded token stream collapses to
    * (doc, token, n) with map-side combine, and that collapsed frame
    * is PERSISTED — its three consumers (join probe, vocabulary,
    * corpus total) would otherwise each re-scan and re-tokenize the
    * corpus (measured: three parquet scans in the un-persisted plan).
    * The persisted frame is distinct-(doc,token) sized, far smaller
    * than the text it came from. The corpus total is a 1-row
    * broadcast; the vocabulary join shuffles on token (vocab side
    * already hash-partitioned by its groupBy), then one doc-keyed
    * aggregation. Storage follows the [[Dedup.containmentPairs]]
    * contract: registered for the caller's action, released by
    * Bench's post-query sweep / session teardown.
    * Returns (doc_id, n_toks, surprisal_sum, surprisal_per_100). */
  def surprisalScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("__id"),
        explode(filter(tokens(col(textCol)), t => length(t) > lit(0)))
          .as("__tok"))
      .groupBy("__id", "__tok").agg(count(lit(1)).as("__n"))
      .cache()
    perDoc.count() // eager, so the three consumers don't race the cache
    // vocab and total derive FROM the cached collapse (one
    // tokenization, not three) — aliases keep the shared lineage's
    // __n from turning ambiguous
    val vocab = perDoc.groupBy("__tok")
      .agg(sum(col("__n")).as("__nt")).alias("v")
    val total = perDoc.agg(sum(col("__n")).as("__N")).alias("t")
    perDoc.alias("p")
      .join(vocab, col("p.__tok") === col("v.__tok"))
      .crossJoin(broadcast(total))
      .select(col("p.__id").as("__id"),
        col("p.__n").as("__n"),
        (col("p.__n") * (length(bin(expr("t.__N div v.__nt"))) - 1)).as("__s"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__n")).as("n_toks"),
        sum(col("__s")).as("surprisal_sum"))
      .withColumn("surprisal_per_100",
        expr("(surprisal_sum * 100L) div n_toks"))
  }

  /** BIGRAM conditional surprisal — the fluency step up from
    * [[surprisalScore]]'s unigram model: per adjacent pair the score
    * is `floor(log2(n(w1·) div n(w1,w2)))` — how unpredictable w2 is
    * GIVEN w1 under the corpus transition counts (`n(w1·)` = pairs
    * starting with w1). A document of corpus-typical transitions
    * scores ~0; scrambled or off-domain text scores high — the
    * closest an exact integer pipeline gets to an LM perplexity gate,
    * with the same `length(bin(·))−1` bit-trick log2 (engine and
    * oracle agree bit-for-bit). Documents shorter than 2 tokens have
    * no transitions and are absent from the output.
    *
    * Shape at scale: the map-only pair explode collapses to
    * (doc, w1, w2, m) with map-side combine and is PERSISTED (the
    * [[surprisalScore]] lesson — three consumers, one corpus scan);
    * the transition table and its prefix totals derive from the
    * collapse, vocabulary²-bounded, and join back on (w1, w2) / w1.
    * Returns (doc_id, n_pairs, surprisal_sum, surprisal_per_100). */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = filter(tokens(col(textCol)), t => length(t) > lit(0))
    val pd = docs
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("__id"),
        explode_outer(transform(sequence(lit(0), size(col("__t")) - 2),
          i => struct(element_at(col("__t"), i + 1).as("w1"),
            element_at(col("__t"), i + 2).as("w2")))).as("__p"))
      .select(col("__id"), col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
      .groupBy("__id", "__w1", "__w2").agg(count(lit(1)).as("__m"))
      .cache()
    pd.count() // eager, so the three consumers don't race the cache
    val pairTot = pd.groupBy("__w1", "__w2")
      .agg(sum(col("__m")).as("__np")).alias("pc")
    val prefTot = pairTot.groupBy(col("pc.__w1").as("__w1"))
      .agg(sum(col("__np")).as("__nl")).alias("lc")
    pd.alias("p")
      .join(pairTot, col("p.__w1") === col("pc.__w1") &&
        col("p.__w2") === col("pc.__w2"))
      .join(prefTot, col("p.__w1") === col("lc.__w1"))
      .select(col("p.__id").as("__id"), col("p.__m").as("__m"),
        (col("p.__m") * (length(bin(expr("lc.__nl div pc.__np"))) - 1)).as("__s"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__m")).as("n_pairs"),
        sum(col("__s")).as("surprisal_sum"))
      .withColumn("surprisal_per_100",
        expr("(surprisal_sum * 100L) div n_pairs"))
  }

  /** Per-source LEXICAL HEALTH: type-token ratio and hapax share —
    * the two numbers that catch a degenerate feed before any model
    * sees it. A scraped source whose TTR collapses is template spam
    * (the same page a million times); one whose hapax share explodes
    * is OCR noise or mojibake (every "word" unique). Both are exact
    * integer ppm — `n_types·1e6 div n_tokens` and
    * `n_hapax·1e6 div n_types` (hapax = types occurring exactly once
    * WITHIN the source).
    *
    * Shape at scale: one tokenize+explode pass collapsed by
    * (source, token) with map-side combine — the second aggregation
    * then runs over vocabulary-sized data, not the corpus. Returns
    * (source, n_tokens, n_types, ttr_ppm, n_hapax, hapax_ppm). */
  def lexicalHealth(docs: DataFrame, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    docs
      .select(col(sourceCol).as("source"),
        explode(filter(tokens(col(textCol)), t => length(t) > lit(0)))
          .as("__tok"))
      .groupBy("source", "__tok").agg(count(lit(1)).as("__n"))
      .groupBy("source")
      .agg(sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_ppm", expr("(n_types * 1000000L) div n_tokens"))
      .withColumn("hapax_ppm", expr("(n_hapax * 1000000L) div n_types"))
  }

  /** Intra-document REPETITION gate, the per-gram-count half of the
    * MassiveText/Gopher repetition battery (Rae et al. '21 §A1.1).
    * [[repetitionProfile]] (q110) gives the float EXCESS fraction
    * `(total−distinct)/total` per n in one map-only projection — this
    * operator pays one shuffle for per-gram counts and returns the
    * two integer-exact cuts that projection cannot express:
    *  - `rep_ppm` — ALL occurrences of any within-doc duplicated gram
    *    (count ≥ 2) over total grams, the Gopher "fraction of tokens
    *    in duplicate n-grams" accounting (a gram seen twice
    *    contributes 2, not 1 — Gopher cuts dup-3-grams above ~0.18,
    *    i.e. 180000 ppm here);
    *  - `top_gram_ppm` — the single most frequent gram's share, the
    *    Gopher "fraction in most common n-gram" rule that catches the
    *    same-line-repeated-3000× page the aggregate fraction dilutes.
    *
    * Shape at scale: one map-only gram explode collapsed by
    * (doc, gram) with map-side combine — the per-doc rollup then runs
    * over distinct-gram-sized data. Gram strings shuffle once; no
    * joins, no windows. Returns (doc_id, n_grams, n_distinct, n_rep,
    * max_repeat, rep_ppm, top_gram_ppm); docs shorter than n tokens
    * are absent. */
  def repetitionScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    require(n >= 1)
    val toks = filter(tokens(col(textCol)), t => length(t) > lit(0))
    docs
      .select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("__id"),
        explode(transform(sequence(lit(0), size(col("__t")) - n),
          i => concat_ws(" ", (1 to n).map(j => element_at(col("__t"), i + j)): _*)))
          .as("__g"))
      .groupBy("__id", "__g").agg(count(lit(1)).as("__c"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__c") >= 2, col("__c")).otherwise(0L)).as("n_rep"),
        max(col("__c")).as("max_repeat"))
      .withColumn("rep_ppm", expr("(n_rep * 1000000L) div n_grams"))
      .withColumn("top_gram_ppm", expr("(max_repeat * 1000000L) div n_grams"))
  }

  /** Corpus FREQUENCY SPECTRUM — the Zipf doubling histogram: types
    * and token mass per `floor(log2(count))` bucket. A healthy
    * natural-language corpus shows the Zipf signature (types decaying
    * smoothly across buckets, token mass roughly flat); template spam
    * piles token mass into the top buckets with few types, OCR noise /
    * mojibake piles types into bucket 0 (hapaxes) far beyond the Zipf
    * share — the one-page corpus-health read behind [[lexicalHealth]]'s
    * two scalars, and the sizing read for [[vocabCoverage]]. Same
    * `length(bin(·))−1` bit-trick log2 as the surprisal ladder: engine
    * and oracle agree bit-for-bit.
    *
    * Shape at scale: one tokenize+explode collapsed by token
    * (map-side combine), then a ≤64-row bucket aggregate; totals are a
    * 1-row broadcast. Returns (bucket, n_types, n_tokens, type_ppm,
    * token_ppm) ascending. */
  def freqSpectrum(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(filter(tokens(col(textCol)), t => length(t) > lit(0)))
        .as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
    val bucketed = counts
      .select((length(bin(col("__c"))) - 1).cast("long").as("bucket"), col("__c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("__c")).as("n_tokens"))
    val tot = bucketed.agg(sum(col("n_types")).as("__T"),
      sum(col("n_tokens")).as("__N"))
    bucketed.crossJoin(broadcast(tot))
      .withColumn("type_ppm", expr("(n_types * 1000000L) div __T"))
      .withColumn("token_ppm", expr("(n_tokens * 1000000L) div __N"))
      .select("bucket", "n_types", "n_tokens", "type_ppm", "token_ppm")
  }

  /** VOCABULARY COVERAGE at large candidate sizes: for each probe s,
    * the exact token mass covered by the s most frequent types — the
    * "how big a vocabulary do I need" read that sizes a tokenizer
    * before the BPE fit ([[graft.text.Subword]]) burns compute, and
    * the OOV-rate complement (uncovered = 1e6 − coverage_ppm).
    * [[vocabCoverage]] (q108) materializes the top-n ranked types and
    * is the right read when n is small and the actual TOKENS matter;
    * this answers the coverage QUESTION at sizes too large to want
    * materialized (a web-scale corpus has billions of types — probing
    * s = 2^26 must not build a 2^26-row ranked frame).
    *
    * The trick that makes it scale: coverage needs NO per-type rank.
    * All types sharing a count contribute that count each, so ranking
    * detail inside a count level is irrelevant to token mass:
    *   coverage(s) = Σ_levels min(max(s − cum_types_before, 0), n_types) · c
    * over the DISTINCT-COUNT levels (count c, types at that count,
    * cumulative types at higher counts). The vocabulary collapses to
    * one row per distinct count — O(√N_tokens) rows by the classic
    * bound (level c needs c·n_types ≤ N) — so the descending
    * cumulative window is value-domain-sized, never vocab- or
    * corpus-sized, and each probe is one conditional sum over that
    * tiny frame. Exact integers throughout; the oracle replays the
    * same level algebra. Returns (vocab_size, covered_tokens,
    * coverage_ppm) ascending; a probe larger than the vocabulary
    * covers everything (1e6 ppm). */
  def vocabCoverageAt(docs: DataFrame, textCol: String = "text",
      sizes: Seq[Long] = Seq(1L << 8, 1L << 10, 1L << 12, 1L << 14, 1L << 16))
      : DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1))
    val spark = docs.sparkSession
    import spark.implicits._
    // Storage contract: the vocabulary-bounded count frame stays
    // persisted after return (the result plan reads it lazily), and is
    // released by Bench's post-query sweep / session teardown — the
    // [[graft.ops.Dedup.containmentPairs]] / rrfFusion contract.
    // Library callers embedding this in a long-lived session should
    // sweep `spark.sparkContext.getPersistentRDDs` between invocations.
    val counts = docs
      .select(explode(filter(tokens(col(textCol)), t => length(t) > lit(0)))
        .as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .cache()
    counts.count() // eager: levels + the total both read it
    val levels = counts.groupBy("__c").agg(count(lit(1)).as("__nt"))
    // value-domain window: one row per DISTINCT count, O(√N) rows
    val overC = Window.orderBy(col("__c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = levels
      .withColumn("__ct", coalesce(sum(col("__nt")).over(overC), lit(0L)))
    val tot = counts.agg(sum(col("__c")).as("__N"))
    cum.crossJoin(broadcast(sizes.toDF("vocab_size")))
      .groupBy("vocab_size")
      .agg(sum(greatest(least(col("vocab_size") - col("__ct"), col("__nt")),
        lit(0L)) * col("__c")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm", expr("(covered_tokens * 1000000L) div __N"))
      .select("vocab_size", "covered_tokens", "coverage_ppm")
  }

  /** TRIGRAM conditional surprisal with STUPID BACKOFF (Brants et al.,
    * EMNLP'07 "Large Language Models in Machine Translation") — the
    * order-3 completion of the [[surprisalScore]] (unigram) /
    * [[bigramSurprisal]] (bigram) fluency ladder, and the first of the
    * three where the model corpus and the scored corpus MUST differ:
    * a corpus scored against its own trigram table never backs off
    * (every trigram counts itself), so the operator takes an explicit
    * held-out `ref` frame the tables are fit on.
    *
    * Per position (w1,w2,w3) in a scored document the bit cost is
    *   n3(w1,w2,w3) > 0:  floor(log2(c2(w1,w2) div n3))          (trigram hit)
    *   else n2(w2,w3) > 0: P + floor(log2(c1(w2) div n2))        (back off once)
    *   else n1(w3) > 0:   2P + floor(log2(N div n1))             (back off twice)
    *   else:              3P + floor(log2(N))                    (OOV)
    * with P = `penaltyBits` per backoff level — the integer stand-in
    * for stupid backoff's α = 0.4 multiplier (−log2 0.4 ≈ 1.32 bits,
    * rounded up to the default 2 so the penalty stays a whole number
    * and the oracle replays it as a CASE ladder with zero floating
    * point; the same `length(bin(·))−1` bit-trick log2 as q157/q164).
    * c2(w1,w2) = Σ_w n3(w1,w2,w) and c1(w) = Σ_v n2(w,v) are the
    * context totals, so each hit level is an exact conditional
    * probability floor. Documents shorter than 3 tokens are absent.
    *
    * Shape at scale: the scored side collapses to (doc,w1,w2,w3,m)
    * with map-side combine before ANY join (a doc repeating a
    * transition pays the 5-way probe once); the ref side's trigram and
    * bigram count frames are each PERSISTED because two tables derive
    * from each (n3→c2, n2→c1 — the [[surprisalScore]] one-scan
    * lesson), all vocabulary-bounded, all joined back shuffle-keyed.
    * The corpus total is a 1-row broadcast. Nothing corpus-sized hits
    * one task. Returns (doc_id, n_scored, n_tri, n_bi, n_uni, n_oov,
    * surprisal_sum, surprisal_per_100). */
  def backoffSurprisal(docs: DataFrame, ref: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      penaltyBits: Int = 2): DataFrame = {
    require(penaltyBits >= 0)
    val toks = filter(tokens(col(textCol)), t => length(t) > lit(0))
    def grams(df: DataFrame, n: Int, keepNames: String*): DataFrame = {
      val keep = keepNames.map(col)
      val fields = (1 to n).map(j =>
        element_at(col("__t"), col("__i") + j).as(s"__w$j"))
      df.select(keep :+ toks.as("__t"): _*)
        .filter(size(col("__t")) >= n)
        .select(keep :+ explode(sequence(lit(0), size(col("__t")) - n))
          .as("__i") :+ col("__t"): _*)
        .select(keep ++ fields: _*)
    }
    // Storage contract for the three table caches below (n3/n2/uni,
    // each read by a derived context-total frame AND the probe join):
    // they stay persisted after return — the result plan reads them
    // lazily — and are released by Bench's post-query sweep / session
    // teardown, the [[graft.ops.Dedup.containmentPairs]] / rrfFusion
    // contract. Library callers in a long-lived session should sweep
    // `spark.sparkContext.getPersistentRDDs` between invocations.
    val n3 = grams(ref, 3).groupBy("__w1", "__w2", "__w3")
      .agg(count(lit(1)).as("__n3")).cache()
    n3.count() // eager: c2 + the probe join both read it
    val c2 = n3.groupBy(col("__w1").as("__c1w"), col("__w2").as("__c2w"))
      .agg(sum(col("__n3")).as("__c2"))
    val n2 = grams(ref, 2).groupBy(col("__w1").as("__b1"), col("__w2").as("__b2"))
      .agg(count(lit(1)).as("__n2")).cache()
    n2.count() // eager: c1 + the probe join both read it
    val c1 = n2.groupBy(col("__b1").as("__l1")).agg(sum(col("__n2")).as("__c1"))
    val uni = grams(ref, 1).groupBy(col("__w1").as("__u"))
      .agg(count(lit(1)).as("__n1")).cache()
    uni.count() // eager: total + the probe join both read it
    val total = uni.agg(sum(col("__n1")).as("__N"))
    val p = lit(penaltyBits)
    def bits(x: Column): Column = length(bin(x)) - 1
    val scored = grams(docs.select(col(idCol).as("__id"), col(textCol)), 3, "__id")
      .groupBy("__id", "__w1", "__w2", "__w3").agg(count(lit(1)).as("__m"))
    val s = when(col("__n3").isNotNull,
        bits(expr("__c2 div __n3")))
      .when(col("__n2").isNotNull,
        p + bits(expr("__c1 div __n2")))
      .when(col("__n1").isNotNull,
        p * 2 + bits(expr("__N div __n1")))
      .otherwise(p * 3 + bits(col("__N")))
    scored
      .join(n3, Seq("__w1", "__w2", "__w3"), "left_outer")
      .join(c2, col("__w1") === col("__c1w") && col("__w2") === col("__c2w"),
        "left_outer")
      .join(n2, col("__w2") === col("__b1") && col("__w3") === col("__b2"),
        "left_outer")
      .join(c1, col("__w2") === col("__l1"), "left_outer")
      .join(uni, col("__w3") === col("__u"), "left_outer")
      .crossJoin(broadcast(total))
      .select(col("__id"), col("__m"), col("__n3"), col("__n2"),
        col("__n1"), (col("__m") * s).as("__s"))
      .groupBy(col("__id").as(idCol))
      .agg(sum(col("__m")).as("n_scored"),
        sum(when(col("__n3").isNotNull, col("__m")).otherwise(0L)).as("n_tri"),
        sum(when(col("__n3").isNull && col("__n2").isNotNull, col("__m"))
          .otherwise(0L)).as("n_bi"),
        sum(when(col("__n3").isNull && col("__n2").isNull &&
          col("__n1").isNotNull, col("__m")).otherwise(0L)).as("n_uni"),
        sum(when(col("__n3").isNull && col("__n2").isNull &&
          col("__n1").isNull, col("__m")).otherwise(0L)).as("n_oov"),
        sum(col("__s")).as("surprisal_sum"))
      .withColumn("surprisal_per_100",
        expr("(surprisal_sum * 100L) div n_scored"))
  }

  /** VOCABULARY-GROWTH (Heaps'78) audit: distinct types and total
    * token occurrences seen in the first s documents of the
    * deterministic pseudo-shuffle order, at a ladder of prefix sizes
    * — the empirical V(n) curve whose power-law bend tells you how
    * much NEW vocabulary (entities, code identifiers, typo mass)
    * additional corpus actually buys, the sizing instrument for
    * "will 10× more of this source still grow the vocab or just
    * repeat it". Complements [[vocabCoverageAt]] (q179: token mass of
    * a FIXED top-s vocabulary) by walking the other axis: vocabulary
    * as a function of CORPUS size.
    *
    * Deterministic and exact: the prefix order is the standing
    * (knuth-hash, id) permutation ([[graft.ops.Splits.hashBucketN]] at
    * full 2³² range — the q114/q186 order), ranked with the two-phase
    * bucket decomposition (value-domain offsets + in-bucket windows;
    * nothing corpus-sized meets one task). Each type's contribution
    * to every level is decided by its MIN first-seen rank — one
    * map-side-combinable aggregate over the exploded token stream,
    * then a levels×types broadcast comparison (levels is a handful of
    * literals). No per-level rescan of the corpus.
    *
    * Returns one row per level: (prefix_docs, n_docs, n_tokens,
    * n_types) ordered by prefix_docs, where n_docs = min(prefix_docs,
    * corpus size) is the realized prefix. */
  def vocabGrowth(docs: DataFrame,
      levels: Seq[Long] = Seq(16L, 64L, 256L, 1024L, 4096L),
      idCol: String = "doc_id", textCol: String = "text",
      bucketSpan: Long = 1L << 20): DataFrame = {
    require(levels.nonEmpty && levels.forall(_ >= 1))
    val spark = docs.sparkSession
    import spark.implicits._
    val b = docs.select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__tx"),
        Splits.hashBucketN(col(idCol), 1L << 32).as("__hv"))
      .withColumn("__bk", expr(s"__hv div $bucketSpan"))
    val cnts = b.groupBy("__bk").agg(count(lit(1)).as("__c"))
    val overB = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cnts
      .withColumn("__off", coalesce(sum(col("__c")).over(overB), lit(0L)))
      .select(col("__bk"), col("__off"))
    val wIn = Window.partitionBy("__bk").orderBy(col("__hv"), col("__id"))
    val ranked = b.join(broadcast(offs), Seq("__bk"))
      .withColumn("__r", col("__off") + row_number().over(wIn))
      .select(col("__r"),
        filter(tokens(col("__tx")), t => length(t) > lit(0)).as("__t"))
      .cache()
    ranked.count() // eager: type table + per-level token sums read it
    val lv = broadcast(levels.toDF("prefix_docs"))
    // per-type first-seen rank (map-side combinable min)
    val firstSeen = ranked
      .select(col("__r"), explode(col("__t")).as("__tok"))
      .groupBy("__tok").agg(min(col("__r")).as("__fs"))
    val types = firstSeen.crossJoin(lv)
      .groupBy("prefix_docs")
      .agg(sum(when(col("__fs") <= col("prefix_docs"), 1L).otherwise(0L))
        .as("n_types"))
    val toks = ranked
      .select(col("__r"), size(col("__t")).cast(LongType).as("__n"))
      .crossJoin(lv)
      .groupBy("prefix_docs")
      .agg(sum(when(col("__r") <= col("prefix_docs"), col("__n")).otherwise(0L))
        .as("n_tokens"),
        sum(when(col("__r") <= col("prefix_docs"), 1L).otherwise(0L))
          .as("n_docs"))
    toks.join(types, Seq("prefix_docs"))
      .select(col("prefix_docs"), col("n_docs"), col("n_tokens"),
        col("n_types"))
      .orderBy("prefix_docs")
  }

  /** TEMPLATE-PREFIX families: group documents by the exact hash of
    * their first `prefixTokens` tokens and report every family of
    * `minFamily`-plus members — the boilerplate-opening detector
    * (crawler template pages, licence headers, generated-form
    * preambles all share their opening line verbatim while their
    * tails differ, so whole-document dedup misses them). Each family
    * row carries its exact document count, ppm share of the eligible
    * corpus, and the min-id exemplar to inspect. The prefix hash is
    * the replayable [[graft.ops.Classifier.tokenHash]] polynomial
    * fold, so families are stable across engines and reruns.
    *
    * Shape at scale: one map pass computes the prefix hash, one
    * map-side-combinable aggregate sizes the families — family rows,
    * not document rows, cross the final exchange. Documents shorter
    * than `prefixTokens` have no full prefix and are excluded (and
    * counted out of the share denominator).
    *
    * Returns (prefix_hash, n_docs, exemplar_id, share_ppm) for
    * families with n_docs ≥ minFamily, ordered by
    * (n_docs desc, prefix_hash). */
  def templatePrefixFamilies(docs: DataFrame, prefixTokens: Int = 8,
      minFamily: Long = 2L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(prefixTokens >= 1 && minFamily >= 1)
    val t = filter(tokens(col(textCol)), x => length(x) > lit(0))
    val hashed = docs
      .select(col(idCol).as("__id"), t.as("__t"))
      .filter(size(col("__t")) >= prefixTokens)
      .select(col("__id"),
        aggregate(slice(col("__t"), 1, prefixTokens),
          lit(0L), (acc, tk) =>
            (acc * 10007L + Classifier.tokenHash(tk)) % lit(Classifier.HashPrime))
          .as("prefix_hash"))
      .cache()
    hashed.count() // families + the denominator both read it
    val tot = hashed.agg(count(lit(1)).as("__n"))
    hashed.groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("exemplar_id"))
      .filter(col("n_docs") >= minFamily)
      .crossJoin(broadcast(tot))
      .select(col("prefix_hash"), col("n_docs"), col("exemplar_id"),
        expr("(n_docs * 1000000) div __n").as("share_ppm"))
      .orderBy(col("n_docs").desc, col("prefix_hash"))
  }

  /** CODE-SWITCHING / language-mixture profile: slice each document
    * into fixed `windowTokens`-token windows, classify every window
    * with the [[langMarkers]] marker-count argmax (ties break in
    * marker-list order; zero markers → 'und' — the window-local
    * version of [[predictedLang]], WITHOUT the CJK short-circuit,
    * since the window is already a token array), and roll up per
    * document: window count, dominant window language with its exact
    * ppm share, adjacent-window switch count, and the number of
    * distinct non-'und' languages seen. A document-level langid
    * (q18 family) averages the whole text — a 90 % English doc with a
    * 10 % Spanish tail looks purely English; this is the gate that
    * catches mixed-language and template-injected documents before
    * they poison a monolingual training split, and the `n_switches`
    * column is the standard code-switch-rate statistic.
    *
    * Shape at scale: ENTIRELY map-only — every window slice, marker
    * count, argmax, and adjacency comparison is a HOF over the
    * document's own bounded token array; no explode, no shuffle, no
    * window function. A 100 TB corpus runs this scan-bound. Exact
    * integers throughout (`dominant_ppm = dom·10⁶ div n_windows`).
    *
    * Returns (idCol, n_windows, dominant_lang, dominant_ppm,
    * n_switches, n_langs); `dominant_ppm` is NULL for tokenless
    * documents (n_windows = 0, dominant 'und'). */
  def codeSwitchProfile(docs: DataFrame, windowTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens >= 1)
    val w = windowTokens
    val t = filter(tokens(col(textCol)), x => length(x) > lit(0))
    // ceil-div in INTEGER arithmetic (Column `/` is double division)
    val nwin = expr(s"(size(__t) + ${w - 1}) div $w").cast(LongType)
    def windowLang(win: Column): Column = {
      val counts = langMarkers.map { case (l, m) =>
        l -> size(filter(win, tk => array_contains(typedLit(m), tk)))
      }
      val maxc = greatest(counts.map(_._2): _*)
      counts.foldLeft(when(maxc === 0, lit("und"))) { case (acc, (l, c)) =>
        acc.when(c === maxc, lit(l))
      }.otherwise(lit("und"))
    }
    val langsCol = transform(sequence(lit(0L), col("__nw") - 1L),
      wi => windowLang(slice(col("__t"), wi * w + 1, lit(w))))
    val allLangs = langMarkers.map(_._1) :+ "und"
    docs
      .select(col(idCol), t.as("__t"))
      .withColumn("__nw", nwin.cast(LongType))
      // sequence(0, -1) would DESCEND — guard the tokenless case
      .withColumn("__langs",
        when(col("__nw") > 0, langsCol)
          .otherwise(array().cast("array<string>")))
      .select(
        col(idCol),
        col("__nw").as("n_windows"),
        // dominant = first lang in (en, de, es, fr, und) order hitting
        // the max window count; 'und' for tokenless docs
        {
          val cnts = allLangs.map { l =>
            l -> size(filter(col("__langs"), x => x === lit(l))).cast(LongType)
          }
          val mx = greatest(cnts.map(_._2): _*)
          cnts.foldLeft(when(col("__nw") === 0, lit("und"))) {
            case (acc, (l, c)) => acc.when(c === mx, lit(l))
          }.otherwise(lit("und")).as("dominant_lang")
        },
        col("__langs"))
      .withColumn("__dom",
        greatest(allLangs.map(l =>
          size(filter(col("__langs"), x => x === lit(l))).cast(LongType)): _*))
      .withColumn("dominant_ppm",
        when(col("n_windows") > 0,
          expr("(__dom * 1000000) div n_windows")))
      .withColumn("n_switches",
        when(col("n_windows") >= 2,
          aggregate(sequence(lit(1L), col("n_windows") - 1L), lit(0L),
            (acc, i) => acc + when(element_at(col("__langs"), i.cast("int")) =!=
              element_at(col("__langs"), (i + 1L).cast("int")), 1L).otherwise(0L)))
          .otherwise(lit(0L)))
      .withColumn("n_langs",
        size(array_distinct(filter(col("__langs"), x => x =!= lit("und"))))
          .cast(LongType))
      .select(col(idCol), col("n_windows"), col("dominant_lang"),
        col("dominant_ppm"), col("n_switches"), col("n_langs"))
  }
}
