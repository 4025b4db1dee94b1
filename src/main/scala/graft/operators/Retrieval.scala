package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Index-served RETRIEVAL scoring (r20 — extracted from the q405 query
  * body so retrieval consumers compose operators instead of copying
  * join chains; the same extraction discipline VERDICT r18/r19 applied
  * to arity).
  *
  * The reference's retrieval shape is keyword containment over page
  * text (/root/reference/dags/get_data/kpis_search.py:48-50); these
  * operators are its ranked strengthening over the MAINTAINED index
  * artifacts: BM25 over a (term, doc, tf, len) postings index plus a
  * (df, n_docs, sum_len) stats index, and positional proximity over a
  * (term, doc, pos) positional postings index. Every served plan
  * touches ONLY the query terms' postings — on a term-partitioned
  * cluster layout a partition-pruned point read, never a corpus scan —
  * and every operator has a full-scan twin, the reference the
  * served≡scan specs (ServedTwinSpec, R20Spec) compare it against.
  *
  * DETERMINISM CONTRACT: per-doc contributions fold in TERM-SORTED
  * order through an explicit left-associated `aggregate()` chain from
  * a 0.0 seed, so any query arity scores bit-identically under any
  * partitioning, and a DuckDB oracle mirrors the chain token-for-token
  * (the r19 q405 treatment). A doc missing a query term contributes
  * exactly +0.0 (tf=0 zeroes the tf factor, and x + 0.0 == x bit-exact
  * for the nonnegative contributions), so the served fold skipping
  * absent terms preserves the scan chain. */
object Retrieval {

  /** BM25 constants shared by the served and scan chains (k1 = 1.2,
    * b = 0.75 — the canonical Robertson parameters; 2.2 = k1 + 1,
    * 0.25 = 1 − b). */
  private val K1 = 1.2d
  private val K1p1 = 2.2d
  private val OneMinusB = 0.25d
  private val B = 0.75d

  private def checkTerms(qterms: Seq[String]): Unit = {
    require(qterms.nonEmpty, "retrieval: query must have >= 1 term")
    require(qterms == qterms.sorted && qterms.distinct == qterms,
      s"retrieval: query terms must be sorted and distinct (got " +
        s"$qterms) — the deterministic fold and its mirrored oracle " +
        "quantify over the term-sorted addition chain")
  }

  /** (df per query term, 1-row (n_docs, sum_len)) slices of the
    * q392-family folded stats index (kind/term/v rows). */
  private def statsSlices(stats: DataFrame,
                          qterms: Seq[String]): (DataFrame, DataFrame) = {
    val dfRel = stats.filter(col("kind") === "df" &&
        col("term").isin(qterms.map(x => x: Any): _*))
      .select(col("term"), col("v").as("df"))
    val one = stats.agg(
      max(when(col("kind") === "stats" && col("term") === "n_docs",
        col("v"))).as("n_docs"),
      max(when(col("kind") === "stats" && col("term") === "sum_len",
        col("v"))).as("sum_len"))
    (dfRel, one)
  }

  private def avgLen: Column =
    col("sum_len").cast("double") / col("n_docs").cast("double")

  /** POSTINGS-SERVED BM25 scores — (doc_id, score) for every doc
    * containing ≥ 1 query term, from the maintained postings
    * ((term, doc_id, len, tf)) + stats indexes: one broadcast df-join,
    * one posting filter, one per-doc term-sorted fold. */
  def bm25Served(postings: DataFrame, stats: DataFrame,
                 qterms: Seq[String]): DataFrame = {
    checkTerms(qterms)
    val (dfRel, one) = statsSlices(stats, qterms)
    val contrib =
      ((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) *
        ((col("tf").cast("double") * lit(K1p1)) /
          (col("tf").cast("double") + lit(K1) *
            (lit(OneMinusB) + lit(B) * col("len").cast("double") / avgLen)))
    postings
      .filter(col("term").isin(qterms.map(x => x: Any): _*))
      .join(broadcast(dfRel), "term")
      .crossJoin(broadcast(one))
      .withColumn("__c", contrib)
      .groupBy(col("doc_id"))
      // deterministic term-ordered fold: terms are unique per doc,
      // sort_array orders the (term, c) structs by term, and the
      // HOF left-folds from 0.0
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("__c")))),
        lit(0.0d), (acc, x) => acc + x.getField("__c")).as("score"))
  }

  /** The FULL-SCAN twin of [[bm25Served]] — the same (doc_id, score)
    * relation computed from raw (doc_id, text), summed in the same
    * term-sorted order from the same 0.0 seed (docs with score 0, i.e.
    * no query term, are filtered — they have no posting to serve). */
  def bm25Scan(docs: DataFrame, stats: DataFrame,
               qterms: Seq[String]): DataFrame = {
    checkTerms(qterms)
    val (_, one) = statsSlices(stats, qterms)
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(Seq(col("doc_id"),
        size(col("ws")).cast("double").as("blen")) ++
        qterms.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), w => w === t)).cast("double").as(s"tf$i")
        }: _*)
    def term(tf: Column, dfc: Column): Column =
      ((col("n_docs").cast("double") - dfc.cast("double") + lit(0.5)) /
        (dfc.cast("double") + lit(0.5))) *
        ((tf * lit(K1p1)) /
          (tf + lit(K1) * (lit(OneMinusB) + lit(B) * col("blen") / avgLen)))
    val dfs = qterms.zipWithIndex.map { case (t, i) =>
      val slice = stats.filter(col("kind") === "df" && col("term") === t)
        .select(col("v").as(s"df$i"))
      // An out-of-vocabulary term has NO df row: its 0-row slice would
      // crossJoin the whole scan relation to empty — a silent
      // served≡scan mismatch with no named cause (ADVICE r20). The
      // served side is unaffected (no postings either), so fail loud
      // here with the actual failure mode named.
      require(!slice.isEmpty,
        s"bm25Scan: query term '$t' has no df row in the stats index " +
          "(out-of-vocabulary) — the scan twin cannot price it; drop " +
          "the term or rebuild the stats index over the full corpus")
      slice
    }
    dfs.foldLeft(base.crossJoin(broadcast(one))) {
        (acc, dfi) => acc.crossJoin(broadcast(dfi))
      }
      .withColumn("score", qterms.indices.foldLeft(lit(0.0d)) {
        (acc, i) => acc + term(col(s"tf$i"), col(s"df$i"))
      })
      .filter(col("score") > 0)
      .select(col("doc_id"), col("score"))
  }

  /** MIN POSITION GAP per doc between two terms, served from the
    * positional postings index ((term, doc_id, pos)) — (doc_id, gap)
    * with gap = min |pos_b − pos_a| over all occurrence pairs, only
    * for docs containing BOTH terms. The pair space is per-doc
    * tf(a)·tf(b) — occurrence-bounded, never corpus-bounded — and the
    * join is an equi-join on doc over two term-pruned reads. */
  def minPairGap(positional: DataFrame, a: String, b: String): DataFrame = {
    require(a.nonEmpty && b.nonEmpty,
      "minPairGap: postings never carry the empty token")
    // a repeated pair would join each occurrence with ITSELF and
    // report gap 0 (maximum proximity) for every doc containing the
    // term — reject loud, the minSpan discipline (ADVICE r20)
    require(a != b,
      s"minPairGap: terms must be distinct (got '$a' twice) — a " +
        "repeated pair matches the same occurrence against itself")
    positional.filter(col("term") === a)
      .select(col("doc_id"), col("pos").as("__pa"))
      .join(positional.filter(col("term") === b)
        .select(col("doc_id").as("__db"), col("pos").as("__pb")),
        col("doc_id") === col("__db"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("__pb") - col("__pa"))).cast("long").as("gap"))
  }

  /** The FULL-SCAN twin of [[minPairGap]] over (doc_id, text): both
    * terms' position arrays via one array filter each, min over the
    * flattened pairwise |Δpos|. Positions here are 1-based slots
    * where the postings are 0-based — the DIFFERENCE is shift-
    * invariant, so the two sides agree exactly. */
  def minPairGapScan(docs: DataFrame, a: String, b: String): DataFrame = {
    require(a != b, // the minPairGap guard, mirrored so the twins agree
      s"minPairGapScan: terms must be distinct (got '$a' twice)")
    val ws = split(col("text"), " ")
    def posArr(t: String): Column =
      filter(sequence(lit(1), size(ws)), p => element_at(ws, p) === lit(t))
    docs.select(col("doc_id"),
        array_min(flatten(transform(posArr(a), pa =>
          transform(posArr(b), pb => abs(pb - pa))))).cast("long").as("gap"))
      .filter(col("gap").isNotNull)
  }

  /** MIN COVERING SPAN per doc for an arbitrary-arity term set, served
    * from the positional postings index — (doc_id, span) with span =
    * min over all occurrence combinations of (max pos − min pos + 1),
    * only for docs containing EVERY term: the classical proximity
    * measure a positional index exists for (1 = adjacent somewhere,
    * large = terms scattered). The combination space is per-doc
    * Π tf(term) — occurrence-bounded like [[minPairGap]]'s pair space,
    * never corpus-bounded — and each join is an equi-join on doc over
    * a term-pruned read. Distinct terms required: a repeated term
    * would match the SAME occurrence twice and undercount the span. */
  def minSpan(positional: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "minSpan: need >= 1 term")
    require(terms.distinct == terms,
      s"minSpan: terms must be distinct (got $terms)")
    require(terms.forall(_.nonEmpty),
      "minSpan: postings never carry the empty token")
    val base = positional.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos").as("__p0"))
    if (terms.size == 1)
      return base.groupBy(col("doc_id"))
        .agg(min(lit(1L)).cast("long").as("span"))
    val joined = terms.zipWithIndex.drop(1).foldLeft(base) {
      case (acc, (t, i)) =>
        acc.join(positional.filter(col("term") === t)
          .select(col("doc_id").as(s"__d$i"), col("pos").as(s"__p$i")),
          col("doc_id") === col(s"__d$i"))
          .drop(s"__d$i")
    }
    val ps = terms.indices.map(i => col(s"__p$i"))
    joined.groupBy(col("doc_id"))
      .agg(min(greatest(ps: _*) - least(ps: _*) + lit(1L))
        .cast("long").as("span"))
  }

  /** The RAW-TEXT twin of [[minSpan]] — the same relation derived from
    * (doc_id, text) via `posexplode` instead of the maintained
    * artifact. The join shape is shared deliberately: the proof this
    * twin powers is about the ARTIFACT (no ingest batch dropped or
    * double-appended), while the independent-computation check is the
    * DuckDB oracle's job (it quantifies over raw text in another
    * engine). */
  def minSpanScan(docs: DataFrame, terms: Seq[String]): DataFrame =
    minSpan(docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos")),
      terms)

  /** The PROXIMITY term of a ranked score: 1 / (1 + gap) for a present
    * pair, EXACTLY +0.0 for an absent one (so adding it preserves the
    * base chain bit-exactly on docs without the pair — the +0.0
    * identity the fold determinism rests on). One IEEE division over
    * an exact integer gap; a DuckDB CASE mirrors it token-for-token. */
  def proximityTerm(gap: Column): Column =
    when(gap.isNull, lit(0.0d))
      .otherwise(lit(1.0d) / (lit(1.0d) + gap.cast("double")))
}
