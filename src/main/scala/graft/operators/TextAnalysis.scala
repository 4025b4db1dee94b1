package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-analysis operators for a training-data pipeline (builder
  * north-star "text analysis", generalizing the reference's M11 text
  * machinery to corpus hygiene): language identification, quality
  * scoring, and tokenizer-style token counting.
  *
  * All operators are single-pass projections or one-shuffle aggregates
  * over the documents table — no UDFs, no collect, codegen-friendly —
  * so they stream at scan speed at any corpus size.
  */
object TextAnalysis {

  /** Stopword lexicons for the n-gram/stopword language heuristic.
    * Broadcast-literal `isin` sets (J5 shape, texteExtract.py:117). */
  val EnStop = Seq("the", "a", "of", "and", "in", "to", "is", "on", "for", "with")
  val FrStop = Seq("le", "la", "les", "de", "des", "du", "un", "une", "en", "et")

  /** PII patterns for [[piiScrub]] — lookaround-free on purpose so the
    * identical patterns run under Java regex (Spark) and RE2 (DuckDB
    * oracle). */
  val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PhoneRe = "0[0-9]{9}"

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before release: replace email addresses and phone-shaped
    * numbers with typed placeholders and report per-doc match counts
    * (the audit trail). Pure codegen'd regexp projections — no UDFs,
    * no shuffle; emails are redacted FIRST so a phone-like digit run
    * inside an address is counted once, as an email. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("clean"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"), lit(PhoneRe), lit(0)))
        .cast("long").as("n_phones"))

  /** Count-min sketch over token frequencies — the heavy-hitter
    * counterpart of [[graft.operators.Dedup.kmvDistinct]] in the
    * cross-engine-reproducible sketch family (HLL stays rows-only,
    * q55, because its registers are engine-private). `d` hash rows ×
    * 256 buckets; the bucket key is the FIRST HEX PAIR of a seeded
    * md5, kept as a string so the identical derivation runs in any
    * engine — no numeric hex parsing. Estimate = min over rows of the
    * bucket counter, which upper-bounds the true count by
    * construction (every occurrence of a token lands in its bucket;
    * collisions only add). Probes are the corpus's own top-k tokens
    * (deterministic (count desc, token) order), so exact counts come
    * from the same pass. Counters are d × 256 rows — broadcast-sized
    * at any corpus scale; one explode + two shuffles total. */
  def countMinTopK(docs: DataFrame, d: Int = 4, topK: Int = 20): DataFrame = {
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val stacked = toks.select(col("tok"),
      posexplode(array((0 until d).map(i =>
        substring(md5(concat(col("tok"), lit(s"#$i"))), 1, 2)): _*)))
      .select(col("tok"), col("pos").as("row_i"), col("col").as("bucket"))
    val counters = stacked.groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(desc("exact_n"), asc("tok")).limit(topK)
    probes
      .select(col("tok"), col("exact_n"),
        posexplode(array((0 until d).map(i =>
          substring(md5(concat(col("tok"), lit(s"#$i"))), 1, 2)): _*)))
      .select(col("tok"), col("exact_n"), col("pos").as("row_i"), col("col").as("bucket"))
      .join(counters, Seq("row_i", "bucket"), "left")
      .groupBy(col("tok"), col("exact_n"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
      .select(col("tok"), col("exact_n"), col("cms_est"))
  }

  /** Gopher-style repetition signals (the duplicate-fraction family of
    * quality filters from the Gopher corpus paper, re-expressed
    * relationally): per doc, the duplicate-token fraction — computed
    * as a pure projection via `array_distinct`, no explode — and the
    * most frequent token bigram with its count (explode → count →
    * per-doc top-1 under a `WindowGroupLimit`-pruned rank; ties break
    * to the lexicographically smallest bigram so the result is
    * deterministic). Repeated n-grams are the standard boilerplate
    * predictor at corpus scale; both signals shuffle only on doc_id
    * grain. Single-token docs have no bigram and drop out, matching
    * the oracle. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        col("toks"))
    val counts = base
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode(expr("zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b))")).as("bigram"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id").orderBy(desc("cnt"), asc("bigram"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (lit(1.0d) - col("n_distinct") / col("n_tokens")).as("dup_tok_frac"),
        col("bigram").as("top_bigram"), col("cnt").as("top_bigram_n"))
  }

  /** Corpus-prep text canonicalization — the normalization pass that
    * runs BEFORE tokenization, shingling and dedup (a decomposed
    * `e`+U+0301 and a precomposed `é` must hash identically or near-dup
    * detection silently splits them): Unicode normalization via the
    * native codegen'd `unicode_normalize` expression
    * ([[graft.functions.expressions.UnicodeNormalize]]), C0/C1 control
    * characters stripped (tab/newline included — they become spaces
    * first), and runs of whitespace collapsed to single spaces with
    * ends trimmed. Every step is a codegen'd expression — zero UDFs on
    * a pass that touches every byte of a 100 TB corpus. */
  def normalizeText(docs: DataFrame, form: String = "NFC"): DataFrame = {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form.toUpperCase),
      s"unknown normalization form $form")
    docs.withColumn("text",
      trim(regexp_replace(
        // explicit C0+DEL+C1 range, NOT \p{Cntrl}: Java's POSIX class
        // without UNICODE_CHARACTER_CLASS matches only ASCII C0+DEL,
        // letting C1 controls (U+0080-U+009F, e.g. NEL) through —
        // which would contradict the documented contract (ADVICE r10)
        regexp_replace(expr(s"unicode_normalize(text, '${form.toUpperCase}')"),
          "[\\x00-\\x1f\\x7f-\\x9f]", " "),
        "\\s+", " ")))
  }

  /** Language ID: conditional stopword counts in one groupBy; guess is
    * 'fr'/'en' by majority, 'und' when neither lexicon hits. */
  def langId(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok").isin(EnStop: _*), 1).otherwise(0)).as("n_en"),
        sum(when(col("tok").isin(FrStop: _*), 1).otherwise(0)).as("n_fr"))
      .withColumn("lang_guess",
        when(col("n_fr") > col("n_en"), lit("fr"))
          .when(col("n_en") > 0, lit("en"))
          .otherwise(lit("und")))

  /** Quality signals per document: length, token stats, alphabetic and
    * distinct-token ratios, and a fixed-weight score. Ratios are
    * int/int double divisions (deterministic); the score is one fixed
    * expression tree, so it is bit-stable across engines and
    * partitionings. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(
        max(length(col("text"))).cast("long").as("n_chars"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"),
        sum(length(col("tok"))).as("sum_tok_len"),
        sum(when(col("tok").rlike("^[a-z]+$"), 1).otherwise(0)).as("n_alpha"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_distinct"),
        (col("sum_tok_len") / col("n_tokens")).as("mean_tok_len"),
        (col("n_alpha") / col("n_tokens")).as("alpha_ratio"),
        (col("n_distinct") / col("n_tokens")).as("ttr"))
      .withColumn("quality",
        (col("alpha_ratio") * lit(0.5)) + (col("ttr") * lit(0.3)) +
          (when(col("n_tokens") >= 20 && col("n_tokens") <= 1000, lit(0.2))
            .otherwise(lit(0.0))))

  /** Tokenizer-style token counting: a BPE-ish regex lexer (letter
    * runs, digit runs, single non-alnum marks) counted per doc — the
    * "how many tokens will the model see" estimator. The pattern is
    * RE2-safe (no lookaround) so the oracle runs it verbatim. */
  val BpeIshRe = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(s"($BpeIshRe)")))
        .cast("long").as("bpe_tokens"))

  /** BM25-style keyword relevance ranking (the principled upgrade of
    * the reference's substring keyword search, kpis_search.py): tf
    * saturation with document-length normalization, and a LOG-FREE
    * rational idf — (N - df + 0.5)/(df + 0.5) — which preserves the
    * idf ordering while keeping every operation plain IEEE arithmetic,
    * so scores are bit-reproducible across engines (log() would hit
    * libm divergence). One corpus scan per term for df, one for tf;
    * the per-term stats are scalars broadcast into the scoring
    * projection. */
  /** BIGRAM-LM FLUENCY — the perplexity-proxy quality signal of a
    * statistical LM filter (the CCNet/Gopher "does this read like
    * the corpus" family), kept LOG-FREE so the score is bit-exact on
    * any engine (libm's log diverges across platforms; the r4 BM25
    * lesson): a doc's score is the mean maximum-likelihood transition
    * probability c(w1,w2)/c(w1) of its bigrams under counts trained
    * on `train`. Each IEEE ratio rounds through DECIMAL(28,6) before
    * the sum (the dsum6 discipline) so the per-doc aggregate is
    * order-independent. Two count tables (one corpus pass each), two
    * hash joins on the bigram/context keys — never a vocab² product.
    * Emits (doc_id, n_bigrams, sum_p, fluency). */
  def bigramFluency(train: DataFrame, score: DataFrame): DataFrame = {
    def bigrams(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("doc_id"), col("l"),
          explode(sequence(lit(1), size(col("l")) - 1)).as("i"))
        .select(col("doc_id"),
          element_at(col("l"), col("i")).as("w1"),
          element_at(col("l"), col("i") + lit(1)).as("w2"))
    val t = bigrams(train)
    val c2 = t.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = t.groupBy("w1").agg(count(lit(1)).as("c1"))
    bigrams(score)
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("r", col("c2").cast("double") / col("c1").cast("double"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("sum_p"))
      .withColumn("fluency", col("sum_p") / col("n_bigrams").cast("double"))
  }

  def bm25Rank(docs: DataFrame, terms: Seq[String], topK: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("len", size(col("ws")).cast("double"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("len")) / count(lit(1))).as("avg_len"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("ws"), w => w === t)).cast("double"))
    }
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1d).otherwise(0d)).as(s"df$i"))
    val dfs = withTf.agg(dfCols.head, dfCols.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats)).crossJoin(broadcast(dfs))
    val termScores = terms.indices.map { i =>
      val idf = (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5))
      val tfSat = (col(s"tf$i") * lit(k1 + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avg_len")))
      idf * tfSat
    }
    scored
      .withColumn("score", termScores.reduce(_ + _))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(topK)
      .select(col("doc_id"), col("score"))
  }

  /** Vocabulary building + OOV rate — the tokenizer-prep op: the top
    * `vocabSize` tokens by corpus frequency (ties to the
    * lexicographically smallest token, so the vocabulary is
    * deterministic) and each document's out-of-vocabulary token rate
    * against it. Unlike the unbounded unigram relation of
    * [[unigramQuality]], the vocabulary here is CAPPED by construction
    * — top-N of a groupBy — so it is broadcastable at any corpus size
    * and the per-doc join is a broadcast hash join by design, not by
    * luck. Emits (doc_id, n_tokens, n_oov, oov_rate). */
  def oovRate(docs: DataFrame, vocabSize: Int = 30): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Corpus-frequency quality proxy (the LM-perplexity stand-in that
    * needs no model): score a document by the average corpus frequency
    * of its token occurrences. Two shuffles — the unigram count and
    * the per-doc sum. The unigram table is corpus-derived and therefore
    * UNBOUNDED at web scale (typos, URLs, numbers run to billions of
    * distinct tokens), so it carries NO broadcast hint: AQE broadcasts
    * it when its runtime size is genuinely small and falls back to a
    * shuffled hash join otherwise — a forced hint here would bypass
    * AQE's size check and OOM the driver on a real corpus. Integer
    * sums + one final IEEE division keep it bit-reproducible (a
    * log-prob variant would hit libm divergence across engines). */
  def unigramQuality(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    toks.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("sum_freq"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens").cast("double"))
  }

  /** Per-class precision/recall/F1 over (pred, truth) pairs — the
    * evaluation harness every classifier-shaped pipeline stage
    * (language ID, quality gates, layout detection) needs next to it.
    * Two single-shuffle aggregations (by predicted class, by true
    * class) full-outer-joined on the class, so classes that are only
    * ever predicted or only ever true still appear, with zero counts.
    * Ratios are one long/long IEEE division each and F1 one fixed
    * expression tree — deterministic across engines/partitionings.
    * Emits (cls, n_pred, n_true, tp, precision, recall, f1); precision
    * is null for never-predicted classes, recall for never-true ones. */
  def classifierEval(pairs: DataFrame, predCol: String = "pred",
                     truthCol: String = "truth"): DataFrame = {
    val byPred = pairs.groupBy(col(predCol).as("cls"))
      .agg(count(lit(1)).as("n_pred"),
        sum(when(col(predCol) === col(truthCol), 1L).otherwise(0L)).as("tp"))
    val byTruth = pairs.groupBy(col(truthCol).as("cls"))
      .agg(count(lit(1)).as("n_true"))
    byPred.join(byTruth, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp") / col("n_pred")))
      .withColumn("recall",
        when(col("n_true") > 0, col("tp") / col("n_true")))
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
          (col("precision") + col("recall")) > 0,
          (lit(2) * col("precision") * col("recall")) /
            (col("precision") + col("recall"))))
  }

  /** χ² DISTINCTIVE TERMS per corpus slice — the keyword-extraction
    * op behind "what characterizes this source/domain?" curation
    * reports. For every (slice, term), the 2×2 contingency of term
    * occurrence inside vs outside the slice scores
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)); the top `topK` terms
    * per slice by that score (ties broken by term) come back.
    *
    * One token explode, two bounded aggregations (per-(slice,term),
    * per-slice and per-term totals — each output-bounded by the
    * vocabulary, not the corpus), and the grand total joins back as
    * a one-row broadcast. χ² itself is a fixed IEEE op tree over
    * exact BIGINT counts — deterministic on any engine — and only
    * `restrict to ^[a-z]+$ after lowercasing` tokens participate, so
    * punctuation shards can't pollute the vocabulary. */
  def distinctiveTerms(docs: DataFrame, sliceCol: String,
                       topK: Int = 5): DataFrame = {
    val toks = docs
      .select(col(sliceCol).as("slice"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]+$"))
    val st = toks.groupBy(col("slice"), col("tok"))
      .agg(count(lit(1)).as("a_plus")) // tf(term, slice)
    val sliceTot = st.groupBy(col("slice")).agg(sum(col("a_plus")).as("s_tot"))
    val termTot = st.groupBy(col("tok")).agg(sum(col("a_plus")).as("t_tot"))
    val grand = sliceTot.agg(sum(col("s_tot")).as("n_tot"))
    val cells = st
      .join(sliceTot, "slice").join(termTot, "tok")
      .crossJoin(broadcast(grand))
      .select(col("slice"), col("tok"),
        col("a_plus").as("a"),
        (col("t_tot") - col("a_plus")).as("b"),
        (col("s_tot") - col("a_plus")).as("c"),
        (col("n_tot") - col("t_tot") - col("s_tot") + col("a_plus")).as("d"),
        col("n_tot"))
    // mirrored IEEE op tree (token-for-token in the oracle SQL)
    val ad = col("a").cast("double") * col("d").cast("double")
    val bc = col("b").cast("double") * col("c").cast("double")
    val chi2 = col("n_tot").cast("double") * ((ad - bc) * (ad - bc)) /
      ((col("a") + col("b")).cast("double") *
        (col("c") + col("d")).cast("double") *
        (col("a") + col("c")).cast("double") *
        (col("b") + col("d")).cast("double"))
    import org.apache.spark.sql.expressions.Window
    val ranked = cells.withColumn("chi2", chi2)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("slice"))
          .orderBy(desc("chi2"), col("tok"))))
      .filter(col("rk") <= topK)
    ranked.select(col("slice"), col("rk").cast("long").as("rk"),
      col("tok"), col("a").as("tf_in_slice"), col("chi2"))
  }

  /** INVERTED INDEX build — the search-engine primitive next to BM25:
    * per token its document frequency, total term frequency, and the
    * head of its POSTING LIST (first `postingsCap` doc ids,
    * ascending). Output is bounded to the `topK` highest-df tokens
    * (ties by token) so the query surface stays fixed-size; a
    * production build writes the full lists partitioned BY TOKEN —
    * the same plan minus the top-k, each posting list assembled
    * inside its token's hash partition, never on the driver. The cap
    * keeps the per-row array bounded (the full-list collect_list is
    * the one unbounded-array trap this module bans elsewhere). */
  def invertedIndex(docs: DataFrame, topK: Int = 50,
                    postingsCap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]+$"))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val postings = tf
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
      .filter(col("rk") <= postingsCap)
      .groupBy(col("tok"))
      .agg(array_join(array_sort(collect_list(col("doc_id"))), ",")
        .as("postings_head"))
    // Top-k FIRST (TakeOrderedAndProject: per-partition heap, then a
    // k-row merge — never a vocabulary-sized single-partition sort),
    // THEN rank over the ≤topK survivors. The previous global
    // `row_number().over(Window.orderBy)` + filter was only scale-safe
    // through Spark's InferWindowGroupLimit inference (r14 verdict #3);
    // this shape is safe by construction and R15PlanSpec pins it.
    val top = stats.orderBy(desc("df"), col("tok")).limit(topK)
    broadcast(top).join(postings, "tok")
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("df"), col("tok"))).cast("long"))
      .select(col("rank"), col("tok"), col("df"), col("total_tf"),
        col("postings_head"))
  }

  /** BLOCKED FUZZY NAME MATCHING (entity resolution, r14) — the
    * record-linkage kernel over DISTINCT names: candidate pairs come
    * ONLY from a blocking key (pair space Σ block-size², never n² —
    * the same bucketed stance as every dedup generator in this
    * engine), then the exact edit-distance threshold decides.
    * `levenshtein` is the classic DP with identical semantics in
    * Spark and DuckDB, so the residual predicate replays exactly.
    * Matching runs on the distinct-NAME relation because the name
    * space is language-bounded while ids are corpus-bounded: a
    * duplicated name must pay its DP once, not d² times (the r14
    * bench caught exactly this — see [[fuzzyMatchPairs]]). The
    * contract is explicit: matches outside EVERY blocking key are
    * not candidates. Blocking is MULTI-PASS (the standard
    * record-linkage design): a pair qualifies if ANY key agrees —
    * e.g. first token + last token together catch an edit confined
    * to either word, where a single key's recall collapses
    * (measured: 0.17 single-key vs 1.00 two-key on the part-name
    * fixture — FuzzyMatchSpec keeps that measurement honest).
    * Candidates dedup BEFORE the DP so each pair pays the distance
    * once. Emits (a_name < b_name, dist). */
  def fuzzyMatchNames(rel: DataFrame, nameCol: String,
                      maxDist: Int,
                      blockExprs: Seq[Column]): DataFrame = {
    require(maxDist >= 1, s"fuzzyMatchNames: maxDist must be >= 1")
    blockedNamePairs(rel, nameCol, blockExprs)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= maxDist)
      .select(col("a_name"), col("b_name"),
        col("dist").cast("long").as("dist"))
  }

  /** Shared candidate generator for the blocked fuzzy matchers:
    * multi-pass blocking over the DISTINCT-name relation, candidate
    * pairs deduped before any scorer runs (each pair pays its
    * distance computation once). */
  private def blockedNamePairs(rel: DataFrame, nameCol: String,
                               blockExprs: Seq[Column]): DataFrame = {
    require(blockExprs.nonEmpty, "at least one blocking key")
    val names = rel.select(col(nameCol)).distinct()
    blockExprs.map { be =>
      val keyed = names.withColumn("__blk", be)
      val a = keyed.select(col(nameCol).as("a_name"), col("__blk"))
      val b = keyed.select(col(nameCol).as("b_name"), col("__blk"))
      a.join(b, "__blk")
        .filter(col("a_name") < col("b_name"))
        .select(col("a_name"), col("b_name"))
    }.reduce(_.unionByName(_)).dropDuplicates("a_name", "b_name")
  }

  /** [[fuzzyMatchNames]] with the JARO-WINKLER scorer (r15): the same
    * multi-pass blocked candidate generation, decided by the
    * codegen'd native `jaro_winkler_similarity` expression instead of
    * edit distance — the matcher of choice for names and short
    * titles, where a transposition ("marhta") or a dropped letter
    * near the END should score far better than levenshtein's uniform
    * per-edit penalty, and a shared PREFIX should score better than
    * a shared suffix. Complementary failure modes: levenshtein for
    * bounded-typo part numbers, Jaro-Winkler for human-entered names.
    *
    * The expression mirrors DuckDB's rapidfuzz arithmetic operation
    * for operation ([[graft.functions.expressions.JaroWinkler]]), so
    * the emitted score is oracle-exact as a raw double. Same scale
    * contract as the levenshtein form: the DP/score runs once per
    * DISTINCT candidate pair, pair space Σ block². */
  def fuzzyMatchNamesJw(rel: DataFrame, nameCol: String,
                        minSim: Double,
                        blockExprs: Seq[Column]): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"fuzzyMatchNamesJw: minSim in (0,1], got $minSim")
    blockedNamePairs(rel, nameCol, blockExprs)
      .withColumn("jw", expr("jaro_winkler_similarity(a_name, b_name)"))
      .filter(col("jw") >= minSim)
      .select(col("a_name"), col("b_name"), col("jw"))
  }

  /** Entity-level variant: expand [[fuzzyMatchNames]]' distinct-name
    * matches back to id pairs. The expansion is the caller's choice
    * because its size is SEMANTIC: with d duplicated ids per name the
    * id-pair relation is d² per matched name pair — measured 71 s vs
    * 0.6 s at sf0.1 on the part fixture when the old id-level path
    * ran the DP on every duplicated-name candidate. Names first, the
    * language-bounded relation; ids after, an equi-join. */
  def fuzzyMatchPairs(rel: DataFrame, idCol: String, nameCol: String,
                      maxDist: Int,
                      blockExprs: Seq[Column]): DataFrame = {
    val nm = fuzzyMatchNames(rel, nameCol, maxDist, blockExprs)
    val ids = rel.select(col(idCol).as("__id"), col(nameCol).as("__n"))
    nm
      .join(ids.select(col("__id").as("a_id"), col("__n")),
        col("__n") === col("a_name")).drop("__n")
      .join(ids.select(col("__id").as("b_id"), col("__n")),
        col("__n") === col("b_name")).drop("__n")
      .select(col("a_id"), col("b_id"), col("a_name"), col("b_name"),
        col("dist"))
  }

  /** GOLDEN RECORDS (r15) — the entity-resolution COMPLETION:
    * [[fuzzyMatchNames]]' pairwise matches become entity CLUSTERS
    * (connected components over the distinct-name graph — the
    * [[Dedup.dedupClusters]] min-label machinery with pointer
    * jumping, so chains of transitive variants converge in O(log D)
    * rounds), and each cluster collapses to ONE canonical record by
    * survivorship rules: canonical name = the most FREQUENT member
    * name among the records (ties by name — majority vote, the
    * standard MDM rule), entity id = the minimum member id, plus the
    * record and variant counts.
    *
    * Scale shape: matching and clustering run on the language-bounded
    * DISTINCT-name relation; records join back by ONE name equi-join
    * (the q278 lesson — id expansion never multiplies the DP);
    * survivorship is two name-keyed aggregations. Unmatched names
    * form singleton entities via the left join's coalesce. */
  def goldenRecords(rel: DataFrame, idCol: String, nameCol: String,
                    maxDist: Int, blockExprs: Seq[Column]): DataFrame = {
    val pairs = fuzzyMatchNames(rel, nameCol, maxDist, blockExprs)
      .select(col("a_name").as("doc_a"), col("b_name").as("doc_b"))
    val clusters = Dedup.dedupClusters(pairs, iterations = 8,
        pointerJumping = true)
      .select(col("doc_id").as("__n"), col("cluster").as("__cl"))
    val member = rel.select(col(idCol).as("__id"), col(nameCol).as("__n"))
      .join(clusters, Seq("__n"), "left")
      .withColumn("__cl", coalesce(col("__cl"), col("__n")))
    survivorship(member)
  }

  /** Survivorship tail shared by [[goldenRecords]] and
    * [[goldenRecordsIncremental]]: (__id, __n, __cl) records collapse
    * to one canonical row per entity — majority-vote name with
    * (count desc, name asc) ties via a min_by over the
    * (-count, name) struct (lexicographic struct order does both),
    * entity id = min member id, record/variant counts. */
  private def survivorship(member: DataFrame): DataFrame = {
    val votes = member.groupBy(col("__cl"), col("__n"))
      .agg(count(lit(1)).as("c"))
    val canon = votes.groupBy(col("__cl"))
      .agg(min_by(col("__n"),
        struct((-col("c")).as("nc"), col("__n"))).as("canonical_name"))
    member.groupBy(col("__cl"))
      .agg(min(col("__id")).as("entity_id"),
        count(lit(1)).as("n_records"),
        countDistinct(col("__n")).as("n_variants"))
      .join(canon, Seq("__cl"))
      .select(col("entity_id"), col("canonical_name"),
        col("n_records"), col("n_variants"))
  }

  /** INCREMENTAL GOLDEN RECORDS (r15) — fold a NEW batch of records
    * into an EXISTING entity clustering without re-matching the
    * corpus against itself: the [[graft.operators.Similarity]]
    * batch-vs-corpus incremental stance (q209) applied to entity
    * resolution. The edit-distance DP runs ONLY for candidate pairs
    * involving a genuinely new name (batch-side blocking keys joined
    * against the full name relation — batch-bounded, never corpus²);
    * existing-name pairs are never recomputed because that subgraph
    * is unchanged. Prior entities enter the delta clustering as
    * CONTRACTED nodes (their min-name label stands for the whole
    * cluster), so a new name that BRIDGES two existing entities
    * merges them exactly as a full recompute would — the contracted
    * component's min label equals the full component's min name
    * because each prior label already IS its subset's min. The
    * result is therefore BIT-IDENTICAL to [[goldenRecords]] over the
    * union (R15DifferentialSpec pins it, q290's inputs included), at
    * delta cost. */
  def goldenRecordsIncremental(existing: DataFrame, batch: DataFrame,
                               idCol: String, nameCol: String,
                               maxDist: Int,
                               blockExprs: Seq[Column]): DataFrame = {
    // prior state: the existing corpus' name→cluster map (in
    // production this is the staged artifact of the last run)
    val priorPairs = fuzzyMatchNames(existing, nameCol, maxDist, blockExprs)
      .select(col("a_name").as("doc_a"), col("b_name").as("doc_b"))
    val prior = Dedup.dedupClusters(priorPairs, iterations = 8,
        pointerJumping = true)
      .select(col("doc_id").as("__n"), col("cluster").as("__pl"))
    // the name relations KEEP `nameCol` so the caller's blockExprs
    // resolve against them (the fuzzyMatchNames contract)
    val exNames = existing.select(col(nameCol)).distinct()
    val priorAll = exNames
      .join(prior, exNames(nameCol) === prior("__n"), "left")
      .select(col(nameCol),
        coalesce(col("__pl"), col(nameCol)).as("__pl"))
      .localCheckpoint(true)
    // delta matching: only pairs with a NEW name pay the DP
    val newNames = batch.select(col(nameCol)).distinct()
      .join(exNames, Seq(nameCol), "left_anti")
      .localCheckpoint(true)
    val allNames = exNames.unionByName(newNames)
    val deltaPairs = blockExprs.map { be =>
      val nk = newNames.withColumn("__blk", be)
        .select(col(nameCol).as("n_name"), col("__blk"))
      val ak = allNames.withColumn("__blk", be)
        .select(col(nameCol).as("o_name"), col("__blk"))
      nk.join(ak, "__blk")
        .filter(col("n_name") =!= col("o_name"))
        .select(least(col("n_name"), col("o_name")).as("a_name"),
          greatest(col("n_name"), col("o_name")).as("b_name"))
    }.reduce(_.unionByName(_)).dropDuplicates("a_name", "b_name")
      .filter(levenshtein(col("a_name"), col("b_name")) <= maxDist)
    // contract: prior clusters collapse to their label; new names
    // stand for themselves. CC runs over the TOUCHED subgraph only.
    val lblOf = priorAll
    val contractedPairs = deltaPairs
      .join(lblOf.select(col(nameCol).as("a_name"), col("__pl").as("a_l")),
        Seq("a_name"), "left")
      .join(lblOf.select(col(nameCol).as("b_name"), col("__pl").as("b_l")),
        Seq("b_name"), "left")
      .select(coalesce(col("a_l"), col("a_name")).as("doc_a"),
        coalesce(col("b_l"), col("b_name")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val touched = contractedPairs.head(1).nonEmpty
    val mergeMap =
      if (!touched) priorAll.select(col("__pl").as("__node"),
        col("__pl").as("__mcl")).limit(0)
      else Dedup.dedupClusters(contractedPairs, iterations = 8,
          pointerJumping = true)
        .select(col("doc_id").as("__node"), col("cluster").as("__mcl"))
    // final label per name: prior label (or self for new names),
    // remapped through the delta merge where it participated
    val nameLbl = allNames
      .join(priorAll.select(col(nameCol), col("__pl")), Seq(nameCol), "left")
      .withColumn("__node", coalesce(col("__pl"), col(nameCol)))
      .join(mergeMap, Seq("__node"), "left")
      .select(col(nameCol),
        coalesce(col("__mcl"), col("__node")).as("__cl"))
    val member = existing.unionByName(batch)
      .select(col(idCol).as("__id"), col(nameCol))
      .join(nameLbl, Seq(nameCol))
      .select(col("__id"), col(nameCol).as("__n"), col("__cl"))
    survivorship(member)
  }

  /** CROSS-DOCUMENT REPEATED-SUBSTRING SPANS (r15) — the
    * substring-level face of dedup (the "Deduplicating Training Data
    * Makes Language Models Better" ExactSubstr op, re-expressed for a
    * shuffle engine): find every MAXIMAL run of whitespace tokens of
    * length ≥ `w` that also appears verbatim in ≥ `minDocs` distinct
    * other documents. Doc-level MinHash misses these (boilerplate
    * headers, licence blocks, templated paragraphs shared across
    * otherwise-distinct pages); span-level removal is what stops the
    * model memorizing them.
    *
    * Suffix arrays don't shard; w-token shingles do. A span of
    * length L ≥ w is duplicated iff all its L−w+1 shingles are
    * duplicated, so: (1) per doc, slice the token array into its
    * w-shingles (array ops — no explode until the shingle rows, no
    * window); (2) ONE (shingle → distinct-doc count) aggregation —
    * the only corpus-sized shuffle, map-side partial; (3) semi-join
    * docs' shingle starts against the ≥minDocs survivors (hash join
    * on the shingle); (4) gaps-and-islands over (doc, start) — a
    * window PARTITIONED BY doc — merges overlapping/adjacent
    * duplicated shingles into maximal spans [start, last+w−1].
    *
    * The shingle JOIN KEY here is the w-token string so the DuckDB
    * oracle replays verbatim; at 100 TB you'd key steps 2-3 by
    * xxhash64(shingle) instead (8-byte shuffle keys, collisions
    * acceptable for a dedup screen) — `hashKey = true` does exactly
    * that, and `DupSpanSpec` pins hashed ≡ string on the testdata.
    * Returns (doc_id, span_start 0-based, span_tokens, n_shingles). */
  def dupSpans(docs: DataFrame, w: Int = 8, minDocs: Int = 2,
               hashKey: Boolean = false): DataFrame = {
    require(w >= 2 && minDocs >= 2,
      s"dupSpans: need w >= 2 and minDocs >= 2, got w=$w minDocs=$minDocs")
    val shingles = docShingles(docs, w, hashKey)
    val dup = shingles.groupBy(col("k"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("k"))
    spanIslands(shingles.join(dup, Seq("k"), "left_semi"), w)
  }

  /** INCREMENTAL [[dupSpans]] (r15): spans for a NEW batch of
    * documents duplicated within existing ∪ batch, at DELTA cost —
    * the admission screen a pipeline runs per crawl batch. The
    * corpus-side relation is only the (shingle → distinct-doc count)
    * aggregate (the staged artifact in production — kilobytes per
    * distinct shingle, additive under batch folds); the batch's
    * shingles hash-join against it, and combined count ≥ minDocs
    * flags exactly the shingles the full recompute over the union
    * would flag for batch docs (doc-id spaces disjoint ⇒ the union's
    * distinct count is the SUM of the two sides' counts). Island
    * assembly then touches only the batch. Returns batch-doc spans
    * only. */
  def dupSpansIncremental(existing: DataFrame, batch: DataFrame,
                          w: Int = 8, minDocs: Int = 2,
                          hashKey: Boolean = false): DataFrame = {
    require(w >= 2 && minDocs >= 2,
      s"dupSpansIncremental: need w >= 2 and minDocs >= 2, " +
        s"got w=$w minDocs=$minDocs")
    val shB = docShingles(batch, w, hashKey)
    val dfE = docShingles(existing, w, hashKey).groupBy(col("k"))
      .agg(countDistinct(col("doc_id")).as("dfe"))
    val dfB = shB.groupBy(col("k"))
      .agg(countDistinct(col("doc_id")).as("dfb"))
    val dup = dfB.join(dfE, Seq("k"), "left")
      .filter(coalesce(col("dfe"), lit(0L)) + col("dfb") >= minDocs)
      .select(col("k"))
    spanIslands(shB.join(dup, Seq("k"), "left_semi"), w)
  }

  /** VOCABULARY COVERAGE CURVE (r15): what fraction of corpus tokens
    * a top-k vocabulary covers, for each probe size k — the curve a
    * tokenizer-budget decision reads ("32k vocab covers 97.2%"). One
    * corpus pass to (token → count) — vocabulary-bounded, map-side
    * partial — then a distributed TakeOrdered for the top max(k)
    * relation; the rank/cumsum window runs over those ≤ max(k) rows
    * only (the q232 take-top-k-FIRST idiom: the vocabulary never
    * range-shuffles), with (count desc, token) as the total tie
    * order. Returns (k, covered, total, frac) for every k ≤ |vocab|. */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"vocabCoverage: ks must be non-empty positive, got $ks")
    val sp = docs.sparkSession
    import sp.implicits._
    val counts = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(desc("c"), col("tok")).limit(ks.max)
    val ord = Window.orderBy(desc("c"), col("tok"))
    val ranked = top
      .withColumn("r", row_number().over(ord).cast("long"))
      .withColumn("covered", sum(col("c")).over(
        ord.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = counts.agg(sum(col("c")).as("total"))
    ks.map(_.toLong).toDF("k")
      .join(ranked, col("k") === col("r"))
      .join(broadcast(tot))
      .select(col("k"), col("covered"), col("total"),
        (col("covered").cast("double") / col("total").cast("double"))
          .as("frac"))
  }

  /** EXACT HEAVY HITTERS, two-phase (r15): every token whose corpus
    * frequency exceeds N/(k+1), with its EXACT count — the
    * deterministic face of the Misra-Gries summary.
    *
    * Phase 1 runs Misra-Gries with k counters per partition
    * (`mapPartitions` — one of the few genuinely imperative
    * per-partition algorithms; the summary is O(k) memory
    * regardless of partition size). Completeness is the pigeonhole
    * guarantee: if a token's GLOBAL count exceeds Σnₚ/(k+1) then in
    * at least one partition its local count exceeds nₚ/(k+1), and
    * MG never evicts such a token — so the candidate union covers
    * every true heavy hitter under ANY partitioning. Phase 2
    * recounts ONLY the candidates exactly (a broadcast semi-join of
    * ≤ k·partitions tokens against the token stream) and applies
    * the threshold to the exact counts — the OUTPUT is therefore a
    * pure function of the data, even though the intermediate
    * candidate set is partitioning-dependent (R15OpsSpec pins this
    * under adversarial repartitions). At 100 TB this is the
    * frequent-token pass that never shuffles the full vocabulary:
    * the shuffle carries candidates only. */
  def heavyHitters(docs: DataFrame, k: Int,
                   textCol: String = "text"): DataFrame = {
    require(k >= 1 && k <= 100000, s"heavyHitters: 1 <= k <= 1e5, got $k")
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = docs.select(explode(split(col(textCol), " ")).as("tok"))
    val cands = toks.as[String].mapPartitions { it =>
      val ctr = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (ctr.contains(t)) ctr(t) += 1L
        else if (ctr.size < k) ctr(t) = 1L
        else {
          // decrement-all: the MG step that charges one occurrence
          // of each tracked token against the untracked newcomer
          val dead = ctr.iterator.filter(_._2 == 1L).map(_._1).toArray
          ctr.mapValuesInPlace((_, v) => v - 1L)
          dead.foreach(ctr.subtractOne)
        }
      }
      ctr.keysIterator
    }.toDF("tok").distinct()
    val tot = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .join(broadcast(tot))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("tok"), col("cnt"), col("n_total"))
  }

  /** SOURCE-PAIR CORPUS SIMILARITY (r15): weighted Jaccard over
    * token frequencies, J = Σ min(cₐ,c_b) / Σ max(cₐ,c_b) — "how
    * alike are two ingestion sources?", the mix-design signal plain
    * set-Jaccard can't give when vocabularies mostly coincide (as
    * real web corpora do — frequency PROFILES differ, supports
    * don't).
    *
    * Σmax never needs the union: Σmax = totₐ + tot_b − Σ_shared min,
    * so one (source, token, count) aggregate — |sources|·|vocab|
    * rows, NOT the corpus — self-joins on token (fan-out per token =
    * #sources, catalog-bounded), and the per-source totals ride a
    * broadcast. Exact integers; one IEEE division per pair. */
  def sourceSimilarity(docs: DataFrame,
                       textCol: String = "text"): DataFrame = {
    val sc = docs
      .select(col("source"), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val tot = sc.groupBy(col("source")).agg(sum(col("c")).as("t"))
    sc.as("a")
      .join(sc.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(sum(least(col("a.c"), col("b.c"))).as("sum_min"))
      .join(broadcast(tot.select(col("source").as("s1"),
        col("t").as("t1"))), Seq("s1"))
      .join(broadcast(tot.select(col("source").as("s2"),
        col("t").as("t2"))), Seq("s2"))
      .select(col("s1"), col("s2"), col("sum_min"),
        (col("sum_min").cast("double") /
          (col("t1") + col("t2") - col("sum_min")).cast("double"))
          .as("weighted_jaccard"))
  }

  /** WITHIN-DOC REPETITION RATIO (r15) — the Gopher-style quality
    * rule the existing length/punct/stopword score (q40) doesn't
    * cover: the fraction of a doc's n-grams that are repeats of an
    * earlier n-gram in the SAME doc. Template spam, keyword
    * stuffing, and decode loops all light this up while passing
    * length filters.
    *
    * Pure per-row array computation (transform/slice to the n-gram
    * list, array_distinct for the unique count) — NO shuffle, no
    * explode: the corpus streams through map tasks and the ratio is
    * one exact integer subtraction + one IEEE division per doc.
    * Docs shorter than n tokens are dropped (no n-grams — undefined,
    * not zero). */
  def repetitionRatio(docs: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 16, s"repetitionRatio: 1 <= n <= 16, got $n")
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        expr(s"transform(sequence(0, size(toks) - $n), " +
          s"i -> array_join(slice(toks, i + 1, $n), ' '))").as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        (col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams").cast("double"))
  }

  /** Per-doc w-token shingle starts: (doc_id, start, k) with k the
    * shingle string or its xxhash64 (the 100 TB key). Array ops only
    * until the shingle rows — no window, no join. */
  private def docShingles(docs: DataFrame, w: Int,
                          hashKey: Boolean): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
    toks.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(toks) - $w), " +
            s"i -> array_join(slice(toks, i + 1, $w), ' '))"))
          .as(Seq("start", "sh")))
      .withColumn("k", if (hashKey) xxhash64(col("sh")) else col("sh"))
      .select(col("doc_id"), col("start").cast("long").as("start"), col("k"))
  }

  /** Gaps-and-islands over flagged shingle starts → maximal spans
    * (doc-partitioned windows only). */
  private def spanIslands(flagged: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    // islands: shingle starts s, s' belong to one span iff s' ≤ s+w
    // (their token ranges overlap or touch) — starts are dense
    // integers, so a new island begins when the gap exceeds w
    flagged
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(byDoc) <= w, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) - min(col("start")) + lit(w.toLong))
          .as("span_tokens"),
        count(lit(1)).as("n_shingles"))
      .drop("island")
  }

  /** CHAO1 VOCABULARY-RICHNESS ESTIMATE per group (r16) — "how much
    * vocabulary does this language/source slice have that we have NOT
    * yet seen": the bias-corrected Chao1 estimator
    * D + f₁(f₁−1) / (2(f₂+1)) over whitespace tokens, where D is the
    * observed distinct-token count and f₁/f₂ the tokens seen exactly
    * once/twice. The abundance-based form needs only the
    * (group, token) count relation — ONE vocabulary-bounded aggregate
    * pass — and the bias-corrected denominator is defined at f₂ = 0,
    * so no branch. All counts exact integers; the estimate is one
    * mirrored IEEE chain (the f₁ product runs in doubles, exact to
    * 2⁵³ — past that a vocabulary has other problems). */
  /** SHINGLE NOVELTY SCORE per incoming doc (r16) — the admission
    * readout between "exact dup" and "fully novel": the share of a
    * batch document's DISTINCT shingles never seen in the corpus
    * (1.0 = all new content, 0.0 = pure recombination). The corpus
    * participates ONLY as its distinct-shingle relation — one
    * aggregate, additive under union, the staged-index shape every
    * incremental face here uses — and the batch probes it with one
    * left hash join; the ratio is exact integers + one mirrored
    * division. Docs with fewer than n tokens have no shingles and no
    * row (the [[Dedup.shingles]] domain). */
  def noveltyScore(incoming: DataFrame, corpus: DataFrame,
                   n: Int = 3): DataFrame =
    noveltyScoreAgainst(incoming,
      Dedup.shingles(corpus, n).select(col("shingle")), n)

  /** [[noveltyScore]] probing a PREBUILT distinct-shingle INDEX (a
    * `shingle` column — r17, VERDICT r16 #6): the steady-state ingest
    * shape, where the corpus shingle relation is a MAINTAINED lake
    * artifact appended per admitted batch instead of rebuilt per
    * session. One left hash join against the index; the ratio is
    * exact integers + one mirrored division. */
  def noveltyScoreAgainst(incoming: DataFrame, index: DataFrame,
                          n: Int = 3): DataFrame = {
    val shI = Dedup.shingles(incoming, n)
    val seen = index.select(col("shingle")).distinct()
      .withColumn("__seen", lit(1L))
    shI.join(seen, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_unseen"))
      .select(col("doc_id"), col("n_shingles"), col("n_unseen"),
        (col("n_unseen").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** PAIRWISE TOTAL-VARIATION DISTANCE between source token
    * distributions (r17) — the LOG-FREE drift number between corpus
    * slices (KL/JS would hit libm divergence across engines; TV is
    * pure rational): TV(a,b) = ½ Σ_tok |p_a − p_b|. The numerator is
    * kept EXACT by clearing denominators — Σ|c_a·n_b − c_b·n_a| over
    * co-occurring tokens plus (n_a − Σc_a^co)·n_b + (n_b − Σc_b^co)·n_a
    * for each side's exclusive mass — so only tokens present in BOTH
    * sides ever join (one vocabulary-bounded equi self-join), missing
    * tokens are handled algebraically, and the single division per
    * pair is the only IEEE op. Source count is bounded (a dimension),
    * so the per-token pair fan-out is bounded. */
  def sourceTvDistance(docs: DataFrame, groupCol: String): DataFrame =
    tvFromCounts(
      docs.withColumn("value", explode(split(col("text"), " ")))
        .filter(col("value") =!= "")
        .groupBy(col(groupCol), col("value"))
        .agg(count(lit(1)).as("c")),
      groupCol)

  /** [[sourceTvDistance]] over pre-counted (group, value, c)
    * fragments — additive (the per-slice value distribution is a sum
    * of batch histograms), so a streaming drain committing per-batch
    * counts folds to the one-shot distances bit-exactly; `value` may
    * be any equi-joinable type (tokens, cents buckets). */
  def tvFromCounts(frags: DataFrame, groupCol: String): DataFrame = {
    val d14 = DecimalType(14, 0)
    val counts = frags.groupBy(col(groupCol), col("value"))
      .agg(sum(col("c")).cast("long").as("__c"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).cast("long").as("__n"))
    val a = counts.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol).as("source_a"), col("value").as("__tok"),
        col("__c").as("ca"), col("__n").as("na"))
    val b = counts.join(broadcast(totals), Seq(groupCol))
      .select(col(groupCol).as("source_b"), col("value").as("__tok"),
        col("__c").as("cb"), col("__n").as("nb"))
    val co = a.join(b, Seq("__tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("ca")).cast("long").as("__coa"),
        sum(col("cb")).cast("long").as("__cob"),
        sum(abs((col("ca").cast(d14) * col("nb").cast(d14))
          .cast(DecimalType(29, 0)) -
          (col("cb").cast(d14) * col("na").cast(d14))
            .cast(DecimalType(29, 0)))).cast(DecimalType(33, 0)).as("__sabs"))
    // the PAIR SPINE comes from the group dimension itself (a bounded
    // broadcast cross), not the co-occurrence join — two slices with
    // DISJOINT value sets are exactly the maximally-drifted pairs and
    // must emit tv = 1, not vanish (the co join alone would drop them;
    // the exclusive-mass algebra below already handles all-missing)
    val spine = totals.select(col(groupCol).as("source_a"),
        col("__n").as("na"))
      .join(broadcast(totals.select(col(groupCol).as("source_b"),
        col("__n").as("nb"))), col("source_a") < col("source_b"))
    val full = spine.join(co, Seq("source_a", "source_b"), "left")
      .withColumn("sabs",
        coalesce(col("__sabs"), lit(0L).cast(DecimalType(33, 0))))
      .withColumn("coa", coalesce(col("__coa"), lit(0L)))
      .withColumn("cob", coalesce(col("__cob"), lit(0L)))
    val num = col("sabs") +
      ((col("na") - col("coa")).cast(d14) * col("nb").cast(d14))
        .cast(DecimalType(29, 0)) +
      ((col("nb") - col("cob")).cast(d14) * col("na").cast(d14))
        .cast(DecimalType(29, 0))
    val den = (lit(2L).cast(DecimalType(2, 0)) *
      (col("na").cast(d14) * col("nb").cast(d14)).cast(DecimalType(29, 0)))
      .cast(DecimalType(31, 0))
    full.select(col("source_a"), col("source_b"), col("na"), col("nb"),
      num.cast(DecimalType(34, 0)).cast("string").as("tv_num"),
      when(col("na") > 0 && col("nb") > 0,
        num.cast(DecimalType(34, 0)).cast("double") / den.cast("double"))
        .as("tv"))
  }

  /** PAIRWISE RUZICKA (weighted-Jaccard) SIMILARITY between slice
    * token-count vectors (r18) — the SIMILARITY complement of
    * [[sourceTvDistance]]: R(A, B) = Σ_t min(a_t, b_t) /
    * Σ_t max(a_t, b_t), the multiset generalization of Jaccard (raw
    * counts, not normalized distributions — two slices with the same
    * shape but 10× different volume score LOW here and 0 on TV, which
    * is exactly why a mix report carries both). Integer-exact: the
    * min mass comes from the one co-occurrence equi-join
    * (min(a, b) = 0 unless both present), and Σmax = na + nb − Σmin
    * algebraically — no max-side join, no pair space. The pair spine
    * is the bounded group dimension (the q389 rule), so DISJOINT
    * slices emit R = 0 instead of vanishing. */
  def sourceRuzicka(docs: DataFrame, groupCol: String): DataFrame =
    ruzickaFromCounts(
      docs.withColumn("value", explode(split(col("text"), " ")))
        .filter(col("value") =!= "")
        .groupBy(col(groupCol), col("value"))
        .agg(count(lit(1)).as("c")),
      groupCol)

  /** [[sourceRuzicka]] over pre-counted (group, value, c) fragments —
    * additive like [[tvFromCounts]]. */
  def ruzickaFromCounts(frags: DataFrame, groupCol: String): DataFrame = {
    val counts = frags.groupBy(col(groupCol), col("value"))
      .agg(sum(col("c")).cast("long").as("__c"))
    val totals = counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).cast("long").as("__n"))
    val a = counts.select(col(groupCol).as("source_a"),
      col("value").as("__tok"), col("__c").as("ca"))
    val b = counts.select(col(groupCol).as("source_b"),
      col("value").as("__tok"), col("__c").as("cb"))
    val co = a.join(b, Seq("__tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(least(col("ca"), col("cb"))).cast("long").as("__smin"))
    val spine = totals.select(col(groupCol).as("source_a"),
        col("__n").as("na"))
      .join(broadcast(totals.select(col(groupCol).as("source_b"),
        col("__n").as("nb"))), col("source_a") < col("source_b"))
    spine.join(co, Seq("source_a", "source_b"), "left")
      .withColumn("smin", coalesce(col("__smin"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("smin"),
        when(col("na") + col("nb") > 0,
          col("smin").cast("double") /
            (col("na") + col("nb") - col("smin")).cast("double"))
          .as("ruzicka"))
  }

  /** PAIRWISE COSINE between slice token-COUNT vectors (r19) — the
    * L2 member of the slice-similarity family, beside TV (L1 shape,
    * volume-blind), Ruzicka (weighted Jaccard, volume-sensitive), and
    * min-overlap: cosine is shape-only like TV but weights tokens by
    * their co-magnitude, so it reads dominance by shared HEAD tokens
    * where TV reads total mass displacement. Integer-exact chain: the
    * dot product is ONE co-occurrence equi-join on the token (a_t·b_t
    * = 0 unless both present — never a pair space), the squared norms
    * are per-slice aggregates, and the only IEEE steps are the final
    * mirrored sqrt/division (sqrt is correctly rounded in both
    * engines). The pair spine is the bounded group dimension (the
    * q389 rule): DISJOINT slices emit cosine 0 instead of vanishing.
    * Exact integers emitted as digit strings (the q300 rule — Σc²
    * can pass 2⁵³ long before any width overflows). */
  def sourceCosine(docs: DataFrame, groupCol: String): DataFrame =
    cosineFromCounts(
      docs.withColumn("value", explode(split(col("text"), " ")))
        .filter(col("value") =!= "")
        .groupBy(col(groupCol), col("value"))
        .agg(count(lit(1)).as("c")),
      groupCol)

  /** [[sourceCosine]] over pre-counted (group, value, c) fragments —
    * additive like [[tvFromCounts]]/[[ruzickaFromCounts]]. Width
    * budget, ENFORCED LOUD (r20 — ADVICE r19): per-(group, value)
    * counts must sit below 10¹⁴ (so every product fits DECIMAL(28,0)
    * exactly) and the summed squared-norm/dot sums must not overflow
    * their DECIMAL(38,0) accumulators — with ANSI off a decimal
    * overflow is a silent NULL in Spark while the mirrored DuckDB
    * cast errors, the exact engine/oracle-divergence class
    * [[graft.operators.Stats.fanoFromCounts]] fails loud on. The
    * merged per-cell counts sum in DECIMAL(20,0) first (exact for any
    * long inputs), gate, then downcast. */
  def cosineFromCounts(frags: DataFrame, groupCol: String): DataFrame = {
    val d14 = DecimalType(14, 0)
    val d20 = DecimalType(20, 0)
    val d28 = DecimalType(28, 0)
    val counts = frags.groupBy(col(groupCol), col("value"))
      .agg(sum(col("c").cast(d20)).as("__c0"))
      .withColumn("__c",
        when(col("__c0").isNull ||
            col("__c0") <= lit(-100000000000000L) ||
            col("__c0") >= lit(100000000000000L), raise_error(concat(
          lit("cosineFromCounts: per-(group, value) count exceeds the " +
            "10^14 width budget ("),
          col("__c0").cast("string"),
          lit(") — products must fit DECIMAL(28,0) exactly; shard the " +
            "group or rescale the counts"))))
          .otherwise(col("__c0").cast("long")))
      .select(col(groupCol), col("value"), col("__c"))
    // sums stay at the natural Sum width D38 (p+10 capped); the gates
    // below turn a D38 overflow NULL into the named loud failure
    def gateSum(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"cosineFromCounts: $what sum overflowed DECIMAL(38,0) — " +
          "shard the group or rescale the counts"))).otherwise(c)
    val n2 = counts.groupBy(col(groupCol))
      .agg(sum((col("__c").cast(d14) * col("__c").cast(d14)).cast(d28))
        .as("__n20"))
      .select(col(groupCol),
        gateSum(col("__n20"), "squared-norm").as("__n2"))
    val a = counts.select(col(groupCol).as("source_a"),
      col("value").as("__tok"), col("__c").as("ca"))
    val b = counts.select(col(groupCol).as("source_b"),
      col("value").as("__tok"), col("__c").as("cb"))
    val co = a.join(b, Seq("__tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum((col("ca").cast(d14) * col("cb").cast(d14)).cast(d28))
        .as("__dot0"))
      // NULL here can only be overflow (≥1 non-null product per
      // group) — gate BEFORE the left join, where NULL legitimately
      // means a disjoint pair
      .select(col("source_a"), col("source_b"),
        gateSum(col("__dot0"), "dot-product").as("__dot"))
    val spine = n2.select(col(groupCol).as("source_a"),
        col("__n2").as("na2"))
      .join(broadcast(n2.select(col(groupCol).as("source_b"),
        col("__n2").as("nb2"))), col("source_a") < col("source_b"))
    spine.join(co, Seq("source_a", "source_b"), "left")
      .withColumn("__d", coalesce(col("__dot"), lit(0).cast(d28)))
      .select(col("source_a"), col("source_b"),
        col("__d").cast("string").as("dot_num"),
        col("na2").cast("string").as("na2_num"),
        col("nb2").cast("string").as("nb2_num"),
        when(col("na2") > 0 && col("nb2") > 0,
          col("__d").cast("double") /
            (sqrt(col("na2").cast("double")) *
              sqrt(col("nb2").cast("double"))))
          .as("cosine"))
  }

  /** VOCABULARY GROWTH (Heaps) CURVE (r17) — distinct tokens seen
    * after each tenth of the corpus in doc_id order: the number a
    * data-acquisition plan reads to decide whether more of the same
    * source still buys vocabulary. Threshold doc ids come from
    * [[Stats.rankInGroup]]'s bucketed two-level scan (never a
    * corpus-sized window); each token reduces to its FIRST-OCCURRENCE
    * doc (one aggregate), is assigned the first bucket whose
    * threshold covers it via a fixed 10-way CASE over the collected
    * 10-row threshold table (bounded driver-side metadata — no
    * non-equi join, so no nested-loop plan), and the curve is a
    * cumulative sum over the 10-row aggregate. All exact integers. */
  def heapsCurve(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"heapsCurve: buckets must be >= 1")
    val ids = docs.select(col("doc_id")).withColumn("__g", lit("all"))
    val nDocs = ids.count()
    require(nDocs >= buckets,
      s"heapsCurve: need at least $buckets docs, got $nDocs")
    val ranked = Stats.rankInGroup(ids, "__g", col("doc_id"), col("doc_id"),
      "__rk", 10000.0)
    val thRanks = (1 to buckets).map(b => (b.toLong * nDocs) / buckets)
    val th = ranked.filter(col("__rk").isin(thRanks.distinct: _*))
      .select(col("__rk"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val thIds = thRanks.map(th) // bucket b (1-based) -> threshold doc_id
    val firstOcc = docs
      .withColumn("__tok", explode(split(col("text"), " ")))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok"))
      .agg(min(col("doc_id")).as("__fo"))
    val firstBucket = thIds.zipWithIndex.reverse.foldLeft(lit(null)
        .cast("long")) { case (acc, (tid, i)) =>
      when(col("__fo") <= tid, lit((i + 1).toLong)).otherwise(acc)
    }
    val perBucket = firstOcc.select(firstBucket.as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__new"))
    val sess = docs.sparkSession
    import sess.implicits._
    val allBuckets = (1 to buckets)
      .map(b => (b.toLong, (b.toLong * nDocs) / buckets))
      .toDF("bucket", "n_docs")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    allBuckets.join(perBucket, Seq("bucket"), "left")
      .withColumn("new_tokens", coalesce(col("__new"), lit(0L)).cast("long"))
      .withColumn("vocab", sum(col("new_tokens")).over(w).cast("long"))
      .select(col("bucket"), col("n_docs"), col("new_tokens"), col("vocab"))
  }

  /** RARE-TOKEN TAIL MASS per group (r16) — [[chao1]]'s operational
    * companion: the share of token OCCURRENCES carried by tokens seen
    * at most `maxC` times (the mass a frequency-threshold vocabulary
    * cut would drop — the number that decides the cut). One
    * vocabulary-bounded count pass, exact integers, one mirrored
    * division. */
  def rareTailMass(docs: DataFrame, groupCol: String,
                   maxC: Long = 2L): DataFrame = {
    require(maxC >= 1, s"rareTailMass: maxC must be >= 1, got $maxC")
    val toks = docs
      .withColumn("__tok", explode(split(col("text"), " ")))
      .filter(col("__tok") =!= "")
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    toks.groupBy(col(groupCol)).agg(
        sum(col("__c")).cast("long").as("n_occurrences"),
        sum(when(col("__c") <= maxC, col("__c")).otherwise(0L))
          .cast("long").as("tail_occurrences"))
      .select(col(groupCol), col("n_occurrences"), col("tail_occurrences"),
        (col("tail_occurrences").cast("double") /
          col("n_occurrences").cast("double")).as("tail_share"))
  }

  /** TOKEN BURSTINESS (Fano factor) for the top-k corpus tokens
    * (r16) — "does this token cluster in a few documents or spread
    * evenly": the variance-to-mean ratio of per-document occurrence
    * counts (zeros included — the corpus doc count enters as a
    * broadcast scalar), VMR = (n·Σx² − (Σx)²) / (n·Σx), exact
    * decimal sums with one mirrored IEEE division. VMR ≈ 1 is
    * Poisson-like spread; ≫ 1 is bursty (topical/boilerplate). Top-k
    * by total count (ties to the lexicographically smallest token) is
    * a TakeOrdered, never a global sort. Width budget: Σx² down-cast
    * to (24,0) loudly so n·Σx² stays inside both engines' caps. */
  def tokenBurstiness(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, s"tokenBurstiness: k must be >= 1, got $k")
    val d14 = DecimalType(14, 0)
    val perDoc = docs
      .withColumn("__tok", explode(split(col("text"), " ")))
      .filter(col("__tok") =!= "")
      .groupBy(col("__tok"), col("doc_id"))
      .agg(count(lit(1)).as("__x"))
    val nDocs = docs.agg(count(lit(1)).cast(d14).as("__n"))
    val per = perDoc.groupBy(col("__tok"))
      .agg(sum(col("__x")).cast(d14).as("sx"),
        sum((col("__x").cast(DecimalType(10, 0)) *
          col("__x").cast(DecimalType(10, 0))).cast(DecimalType(20, 0)))
          .cast(DecimalType(24, 0)).as("sx2"))
      .orderBy(desc("sx"), col("__tok")).limit(k)
    per.join(broadcast(nDocs))
      .select(col("__tok").as("token"),
        col("sx").cast("long").as("total_occ"),
        ((col("__n") * col("sx2")).cast(DecimalType(38, 0)) -
          (col("sx") * col("sx")).cast(DecimalType(38, 0)))
          .cast("string").as("vmr_num"),
        (((col("__n") * col("sx2")).cast(DecimalType(38, 0)) -
          (col("sx") * col("sx")).cast(DecimalType(38, 0))).cast("double") /
          (col("__n") * col("sx")).cast("double")).as("vmr"))
  }

  def chao1(docs: DataFrame, groupCol: String): DataFrame = {
    val toks = docs
      .withColumn("__tok", explode(split(col("text"), " ")))
      .filter(col("__tok") =!= "")
      .groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    toks.groupBy(col(groupCol)).agg(
        count(lit(1)).as("d_obs"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).cast("long").as("f1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).cast("long").as("f2"))
      .select(col(groupCol), col("d_obs"), col("f1"), col("f2"),
        (col("d_obs").cast("double") +
          col("f1").cast("double") * (col("f1") - lit(1L)).cast("double") /
            (lit(2.0d) * (col("f2") + lit(1L)).cast("double"))).as("chao1"))
  }
}
