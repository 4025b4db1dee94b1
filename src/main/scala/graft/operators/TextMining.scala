package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M11 text mining re-expressed relationally (SURVEY.md §2.8 M11,
  * reference /root/reference/dags/get_data/texteExtract.py:20-129).
  *
  * The reference mines French economic reports: segment page text into
  * sentences (custom rule: a sentence starts after a `. ! .. ... ?`
  * token, texteExtract.py:10-17), find the sentence containing a
  * keyword and trim to 3 words before it (:66-71), extract VALUE
  * (number+unit) and YEAR (4-digit) token spans (:28-38), associate each
  * value with the nearest *following* year (:95-111, distance >= 0,
  * "NAN" default), derive a +/- sign from hausse/baisse-type words up to
  * 25 tokens back (:113-129), and collect `{year: [signed values]}`
  * (:107-110).
  *
  * Spark-first design: everything is exploded token relations + window
  * functions + `min_by` aggregations — no UDFs, fully codegen-friendly,
  * and every stage shuffles only on (doc_id) grain so it scales linearly
  * with the corpus. Token positions come from `posexplode`, the as-of
  * association is a conditional range join collapsed by `min_by`, and
  * the 25-token sign-context lookup is a bounded range join on token
  * index (never a cross join).
  */
object TextMining {

  /** Sentence-split regex: the punctuation token sets from
    * texteExtract.py:13 (`. ! .. ... ?`) appear as space-delimited
    * tokens, so a sentence boundary is ` [.!?]+ `. Lookbehind-free on
    * purpose: the same pattern runs under Java regex (Spark) and RE2
    * (DuckDB oracle). */
  val SentenceBoundary = " [.!?]+ "

  /** Token classes mirroring the spaCy Matcher patterns
    * (texteExtract.py:28-36): YEAR = 4-digit token; VALUE_PCT = a
    * decimal-comma number with attached %; NUM = a bare decimal-comma
    * number (a VALUE only when followed by a unit token). */
  val YearRe     = "^[0-9]{4}$"
  val ValuePctRe = "^[0-9]+(,[0-9]+)?%$"
  val NumRe      = "^[0-9]+(,[0-9]+)?$"
  /** Unit tokens from the Matcher regex `[%$]|bbl|dollars|millions`. */
  val Units = Seq("millions", "dollars", "bbl", "%", "$")

  /** Sign lexicons (texteExtract.py:117-127). */
  val PlusWords  = Seq("hausse", "augmentation", "appreciation", "excedent", "accroissement")
  val MinusWords = Seq("baisse", "diminution", "deficit")

  /** docs(doc_id, text) -> (doc_id, sent_idx, sentence); 1-based
    * sent_idx. F17 sentence segmentation as a generator (SURVEY §2.7). */
  def sentences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), SentenceBoundary)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("sent_idx"),
        col("col").as("sentence"))

  /** (doc_id, sent_idx, sentence) -> one row per whitespace token with
    * 1-based position. The corpus is pre-tokenized (space-delimited, the
    * analog of spaCy's tokenizer output). */
  def tokens(sents: DataFrame): DataFrame =
    sents
      .select(col("doc_id"), col("sent_idx"), posexplode(split(col("sentence"), " ")))
      .select(col("doc_id"), col("sent_idx"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))

  /** Token classification (F9). */
  def classified(toks: DataFrame): DataFrame =
    toks.withColumn("cls",
      when(col("tok").rlike(YearRe), lit("YEAR"))
        .when(col("tok").rlike(ValuePctRe), lit("VALUE"))
        .when(col("tok").rlike(NumRe), lit("NUM"))
        .otherwise(lit("WORD")))

  /** VALUE spans: a `12,5%` token alone, or a bare number followed by a
    * unit token (two-token span, like the spaCy [NUM][unit] pattern).
    * Output: (doc_id, sent_idx, v_pos, v_end, value) with inclusive
    * token positions. `lead` keeps this a single window pass — no
    * self-join. */
  def values(toks: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id", "sent_idx").orderBy("pos")
    toks
      .withColumn("next_tok", lead(col("tok"), 1).over(w))
      .withColumn("value",
        when(col("tok").rlike(ValuePctRe), col("tok"))
          .when(col("tok").rlike(NumRe) && col("next_tok").isin(Units: _*),
            concat_ws(" ", col("tok"), col("next_tok"))))
      .filter(col("value").isNotNull)
      .select(col("doc_id"), col("sent_idx"), col("pos").as("v_pos"),
        when(col("tok").rlike(ValuePctRe), col("pos")).otherwise(col("pos") + 1)
          .as("v_end"),
        col("value"))
  }

  /** YEAR spans: (doc_id, sent_idx, y_pos, year). */
  def years(toks: DataFrame): DataFrame =
    toks.filter(col("tok").rlike(YearRe))
      .select(col("doc_id"), col("sent_idx"), col("pos").as("y_pos"),
        col("tok").as("year"))

  /** J2 as-of association (texteExtract.py:95-111): each value joins to
    * the closest strictly-following year in its sentence (distance
    * y_pos - v_end minimized, >= 1 with inclusive ends == the
    * reference's >= 0 with exclusive ends); "NAN" when none. A left
    * range join collapsed by `min_by` — one shuffle on the sentence key,
    * no window state. */
  def asOfYear(vals: DataFrame, yrs: DataFrame): DataFrame =
    vals.alias("v")
      .join(yrs.alias("y"),
        col("v.doc_id") === col("y.doc_id") &&
          col("v.sent_idx") === col("y.sent_idx") &&
          col("y.y_pos") > col("v.v_end"),
        "left")
      .groupBy(col("v.doc_id").as("doc_id"), col("v.sent_idx").as("sent_idx"),
        col("v.v_pos").as("v_pos"), col("v.value").as("value"))
      .agg(coalesce(min_by(col("y.year"), col("y.y_pos") - col("v.v_end")), lit("NAN"))
        .as("year"))

  /** J3 sign context (texteExtract.py:113-129): nearest sign-lexicon
    * token within the 25 tokens before the value start; map to +/-/"".
    * Bounded range join on token index. */
  def signContext(vals: DataFrame, toks: DataFrame): DataFrame = {
    val signToks = toks.filter(col("tok").isin((PlusWords ++ MinusWords): _*))
    vals.alias("v")
      .join(signToks.alias("s"),
        col("v.doc_id") === col("s.doc_id") &&
          col("v.sent_idx") === col("s.sent_idx") &&
          col("s.pos").between(col("v.v_pos") - 25, col("v.v_pos") - 1),
        "left")
      .groupBy(col("v.doc_id").as("doc_id"), col("v.sent_idx").as("sent_idx"),
        col("v.v_pos").as("v_pos"), col("v.value").as("value"))
      .agg(min_by(col("s.tok"), col("v.v_pos") - col("s.pos")).as("sign_word"))
      .withColumn("sign",
        when(col("sign_word").isin(PlusWords: _*), lit("+"))
          .when(col("sign_word").isin(MinusWords: _*), lit("-"))
          .otherwise(lit("")))
  }

  /** Full M11 pipeline: docs(doc_id, text) ->
    * (doc_id, year, vals) where vals = sorted ","-joined signed values —
    * the relational form of the reference's `{year: [values]}` result
    * (texteExtract.py:107-110). */
  def mine(docs: DataFrame): DataFrame = {
    val toks = tokens(sentences(docs))
    val vals = values(toks)
    val withYear = asOfYear(vals, years(toks))
    val withSign = signContext(vals, toks)
    withYear.alias("a")
      .join(withSign.alias("b"),
        Seq("doc_id", "sent_idx", "v_pos", "value"))
      .select(col("doc_id"), col("year"),
        concat(col("sign"), col("value")).as("signed_value"))
      .groupBy(col("doc_id"), col("year"))
      .agg(concat_ws(",", array_sort(collect_list(col("signed_value")))).as("vals"))
  }

  /** ARBITRARY-ARITY POSITIONAL PHRASE MATCHING over a (term, doc_id,
    * pos) postings relation (r20 — VERDICT r19 next #1, the q405
    * arity discipline applied to phrases): an n-term phrase is the
    * first term's postings narrowed by n−1 POSITION-ARITHMETIC
    * equi-joins — term k must sit at (same doc, anchor pos + k).
    * Returns (doc_id, n_occ) with occurrence MULTIPLICITY (one match
    * row per anchor position, so overlapping matches of a
    * self-repeating phrase each count). Every join is an equi-join on
    * (doc_id, pos + k = pos) — on a term-partitioned cluster layout
    * each term's postings is a partition-pruned point read and the
    * joins shuffle only the matched anchors, never the corpus; the
    * intermediate relation SHRINKS monotonically (each join can only
    * drop anchors), so the longest phrase is the cheapest tail. Over a
    * lake snapshot each term's filter prunes its own scan: on a
    * hash-clustered index ([[graft.lake.LakeTable.optimizeClusterBy]])
    * a term reads ~1/buckets of the table.
    * Repeated phrase terms are fine: postings carry one row per
    * occurrence position, so each filtered side stays a set.
    *
    * This is the exact-adjacency strengthening of the reference's
    * keyword containment retrieval
    * (/root/reference/dags/get_data/kpis_search.py:48-50). */
  def phraseMatch(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phraseMatch: phrase must have >= 1 term")
    require(terms.forall(_.nonEmpty),
      s"phraseMatch: empty term in $terms — postings never carry the " +
        "empty token, so the phrase would silently match nothing")
    val base = postings.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos"))
    val anchors = terms.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, (t, i)) =>
        val ti = postings.filter(col("term") === t)
          .select(col("doc_id").as(s"__d$i"), col("pos").as(s"__p$i"))
        acc.join(ti, col("doc_id") === col(s"__d$i") &&
            col(s"__p$i") === col("pos") + lit(i.toLong))
          .select(col("doc_id"), col("pos"))
    }
    anchors.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occ"))
  }

  /** ORDERED WITHIN-K matching (sloppy phrase, r20) — [[phraseMatch]]
    * with the adjacency requirement relaxed to a window: terms must
    * appear IN ORDER, each within `k` positions of the previous match
    * (k = 1 is exactly the phrase). Returns (doc_id, n_chains) with
    * CHAIN multiplicity — every distinct occurrence combination
    * satisfying the order+window constraints counts, the combinatorial
    * semantics a DuckDB BETWEEN-join chain mirrors exactly. Each step
    * is an equi-join on doc with a band residual, so the join stays
    * hash-planable; the chain relation per doc is bounded by
    * Π min(tf, k) — window-bounded, never corpus-bounded. */
  def orderedWithin(postings: DataFrame, terms: Seq[String],
                    k: Long): DataFrame = {
    require(terms.nonEmpty, "orderedWithin: phrase must have >= 1 term")
    require(terms.forall(_.nonEmpty),
      "orderedWithin: postings never carry the empty token")
    require(k >= 1, s"orderedWithin: window must be >= 1, got $k " +
      "(k = 1 is exact adjacency)")
    val base = postings.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos").as("__last"))
    val chained = terms.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, (t, i)) =>
        acc.join(postings.filter(col("term") === t)
          .select(col("doc_id").as(s"__d$i"), col("pos").as(s"__p$i")),
          col("doc_id") === col(s"__d$i") &&
            col(s"__p$i") > col("__last") &&
            col(s"__p$i") <= col("__last") + lit(k))
          .select(col("doc_id"), col(s"__p$i").as("__last"))
    }
    chained.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chains"))
  }

  /** The RAW-TEXT twin of [[orderedWithin]] (the artifact-proof side,
    * the [[graft.operators.Retrieval.minSpanScan]] convention). */
  def orderedWithinScan(docs: DataFrame, terms: Seq[String],
                        k: Long): DataFrame =
    orderedWithin(docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos")),
      terms, k)

  /** The FULL-SCAN twin of [[phraseMatch]] — the same (doc_id, n_occ)
    * relation derived by direct adjacency counting over (doc_id,
    * text), the reference the served≡scan specs compare
    * [[phraseMatch]] against. Docs shorter than the phrase count 0 and
    * are filtered; anchor positions are 1-based `split` slots (empty
    * tokens keep their slot — the postings builder's convention, so
    * both sides quantify over identical position arithmetic). */
  def phraseScan(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phraseScan: phrase must have >= 1 term")
    val n = terms.size
    val ws = split(col("text"), " ")
    // sequence(1, k) DESCENDS when k < 1 (it would fabricate anchor
    // 0 and 1 on short docs) — guard the short-doc case to 0 matches
    val anchorCount = when(size(ws) >= n,
      size(filter(sequence(lit(1), size(ws) - lit(n - 1)), p =>
        terms.zipWithIndex.map { case (t, i) =>
          element_at(ws, (p + lit(i)).cast("int")) === lit(t)
        }.reduce(_ && _))))
      .otherwise(lit(0))
    docs.select(col("doc_id"), anchorCount.cast("long").as("n_occ"))
      .filter(col("n_occ") > 0)
  }

  /** F8 keyword trim (texteExtract.py:66-71): the sentence containing
    * the keyword, cut to start 3 words before the keyword's first word. */
  def keywordTrim(sents: DataFrame, keyword: String): DataFrame = {
    val firstWord = keyword.toLowerCase.split(" ").head
    sents
      .filter(lower(col("sentence")).contains(keyword.toLowerCase))
      .withColumn("words", split(col("sentence"), " "))
      .withColumn("kpos", array_position(col("words"), firstWord))
      .filter(col("kpos") > 0)
      .select(col("doc_id"), col("sent_idx"),
        array_join(
          slice(col("words"), greatest(col("kpos") - 3, lit(1)).cast("int"),
            size(col("words"))),
          " ").as("trimmed"))
  }
}
