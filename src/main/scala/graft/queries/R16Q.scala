package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._

/** Round-16 additions — the reporting/eval layer a training-data
  * pipeline runs on top of the r13–r15 machinery: exact inequality
  * and diversity numbers (Gini, Gini–Simpson — the log-free exact
  * alternatives to entropy), Chao1 vocabulary richness, robust
  * trimmed means, per-group modes, Wilson intervals (batch + the
  * streaming fragment face), cumulative-gains deciles for model eval,
  * exact HITS steps, the asymmetric set-CONTAINMENT join Jaccard
  * misses, deterministic stratified splits, and the Merkle repair
  * plan (its apply-and-reconcile identity pinned by R16Spec). All
  * oracle-gated; decimal width budgets mirror DuckDB's hard multiply
  * cap (p1+p2 ≤ 38). */
object R16Q {

  private val stagedPairs =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** The loose-threshold (3/5) containment pair relation SHARED by
    * q363 and q380 — staged once per (session, sf) into a temp lake
    * table (the q103 clustersArtifact pattern): the quadratic-verify
    * pair space is the expensive leg and both consumers read the SAME
    * relation, so the cost is paid once (and `graft.Bench` reports it
    * in its `staging` metric instead of twice in query time). */
  private def containPairsArtifact(s: org.apache.spark.sql.SparkSession,
                                   d: String): org.apache.spark.sql.DataFrame =
    stagedPairs.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      graft.lake.LakeTable.createTemp(s,
        graft.operators.Dedup.containmentJoin(
          Tables.documents(s, d), n = 3, minConNum = 3, minConDen = 5),
        "graft-contain35")
    }.snapshot()

  private val stagedPairs910 =
    new graft.lake.Stamps.StampedMemo[graft.lake.LakeTable]()

  /** The strict-threshold (9/10) containment pair relation SHARED by
    * q348 and q397 (r18 — VERDICT r17 next #3: q397 re-paid the q348
    * pair join fresh every run; the q363/q380 lesson applied): staged
    * once per (session, sf), both consumers read the same snapshot,
    * and the build cost rides the bench `staging` metric. */
  private[queries] def containPairs910Artifact(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    stagedPairs910.getOrBuild(
      s"${Qx.sessionKey(s)}|$d", Qx.tableStamp(d, "documents")) {
      graft.lake.LakeTable.createTemp(s,
        graft.operators.Dedup.containmentJoin(
          Tables.documents(s, d), n = 3, minConNum = 9, minConDen = 10),
        "graft-contain910")
    }.snapshot()

  /** Force the shared artifacts for (session, sf) — bench hygiene
    * (the VERDICT r8 staging discipline). */
  def stageArtifacts(s: org.apache.spark.sql.SparkSession,
                     d: String): Unit = {
    containPairsArtifact(s, d)
    containPairs910Artifact(s, d)
    ()
  }

  val queries: Map[String, Q] = Map(

    // EXACT GINI COEFFICIENT (r16): how concentrated is order value
    // across orders, per priority class — the inequality number a
    // data-mix report carries. Rank-sum form over exact cents; ranks
    // ride rankInGroup's bucketed two-level scan (few groups — the
    // q262 hazard), sums exact decimal, one mirrored IEEE division.
    // `Stats.giniExact`.
    "q343_gini_inequality" -> ((s, d) =>
      graft.operators.Stats.giniExact(
        Tables.orders(s, d), "o_orderpriority",
        floor(col("o_totalprice") * lit(100.0)).cast("long"),
        col("o_orderkey"))
        .orderBy("o_orderpriority")),

    // CHAO1 VOCABULARY RICHNESS (r16): per language, how much
    // vocabulary the slice has that we have NOT yet seen — the
    // bias-corrected abundance estimator D + f1(f1−1)/(2(f2+1)) over
    // whitespace tokens. One vocabulary-bounded aggregate pass;
    // counts exact; one mirrored IEEE chain. `TextAnalysis.chao1`.
    "q344_chao1_vocab" -> ((s, d) =>
      graft.operators.TextAnalysis.chao1(Tables.documents(s, d), "lang")
        .orderBy("lang")),

    // EXACT TRIMMED MEAN (r16): the robust per-type value location —
    // drop the top/bottom 10% BY RANK (deterministic (cents, id)
    // order via rankInGroup — never a group-sized window), average
    // the exact remainder. `Stats.trimmedMean`.
    "q345_trimmed_mean" -> ((s, d) =>
      graft.operators.Stats.trimmedMean(
        Tables.events(s, d), "event_type",
        floor(col("value") * lit(100.0)).cast("long"), col("event_id"))
        .orderBy("event_type")),

    // PER-GROUP MODE (r16): the most frequent props-k per event type,
    // ties to the smallest k — a (group, value) count aggregate plus
    // a rank over that AGGREGATE relation (value-domain bounded).
    // `Stats.modeBy`.
    "q346_group_mode" -> ((s, d) =>
      graft.operators.Stats.modeBy(
        Tables.events(s, d).withColumn("k",
          get_json_object(col("props"), "$.k").cast("long")),
        "event_type", col("k"))
        .orderBy("event_type")),

    // EXACT HITS STEPS (r16): hub/authority estimates on the q136
    // synthetic user graph — two unnormalized mutual-reinforcement
    // steps in integer/decimal arithmetic, engine-exact (the q300
    // discipline; big columns emitted as canonical digit strings).
    // Each step one edges⋈scores hash join + a node groupBy.
    // `LinkAnalysis.hitsExact`.
    "q347_hits_scores" -> ((s, d) =>
      graft.operators.LinkAnalysis.hitsExact(
        Tables.events(s, d).select(
          col("user_id").as("src"),
          ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst")))
        .orderBy("node")),

    // SET-CONTAINMENT JOIN (r16): the ASYMMETRIC near-dup relation —
    // "A is ≥90% inside B" finds boilerplate supersets and
    // quote-expansions whatever |B| is, which Jaccard's symmetric
    // union denominator hides. Containment prefix filter (pigeonhole
    // on the contained side's rarest shingles) + positional residual,
    // both stages equi joins; exact recount verifies. Recall 1.0 by
    // theorem — R16Spec holds the brute-force differential. Since r18
    // the pair relation is the STAGED 9/10 artifact shared with q397
    // (deterministic pipeline, so the lake round trip is bit-exact).
    // `Dedup.containmentJoin` via `containPairs910Artifact`.
    "q348_containment_join" -> ((s, d) =>
      containPairs910Artifact(s, d)
        .orderBy("doc_a", "doc_b")),

    // WILSON SCORE INTERVAL (r16): per event type, the share of
    // low-k events with the confidence interval that behaves at
    // small n / extreme p. Exact (n, x) integers; the textbook chain
    // as one mirrored IEEE tree (z constants written as 1.96*1.96 on
    // both sides so the fold is bit-identical). `Stats.wilsonInterval`.
    "q349_wilson_ci" -> ((s, d) =>
      graft.operators.Stats.wilsonInterval(
        Tables.events(s, d), "event_type",
        (get_json_object(col("props"), "$.k").cast("long") < 10)
          .cast("long"))
        .orderBy("event_type")),

    // GINI–SIMPSON DIVERSITY (r16): per user, the event-type
    // diversity 1 − Σp² — the log-free diversity number (Shannon
    // needs ln, which is not cross-engine reproducible): exact
    // rational (n² − Σc²)/n², one IEEE division.
    // `Stats.diversityIndex`.
    "q350_gini_simpson" -> ((s, d) =>
      graft.operators.Stats.diversityIndex(
        Tables.events(s, d), "user_id", col("event_type"))
        .orderBy("user_id")),

    // DETERMINISTIC STRATIFIED SPLIT (r16): exact 80/10/10 per
    // language — rank within stratum by (md5 hash, id) (the no-RNG
    // permutation idiom) through rankInGroup, cut by integer
    // arithmetic: the same doc lands in the same split on any
    // engine, partitioning, or re-run. `Corpus.stratifiedSplit`.
    "q351_stratified_split" -> ((s, d) =>
      graft.operators.Corpus.stratifiedSplit(
        Tables.documents(s, d), "lang")
        .orderBy("lang", "doc_id")),

    // CUMULATIVE GAINS / LIFT DECILES (r16): the model-eval decile
    // table — rows ranked by (cents desc, id) through rankInGroup on
    // the negated score (the rank work rides the bucket dimension,
    // q262 discipline), decile by integer arithmetic, cumulative
    // precision / recall / lift as mirrored divisions over exact
    // integers. The one-row totals relation rides a broadcast
    // (q102's embed-the-scalars). `Stats.cumulativeGains`.
    "q352_lift_deciles" -> ((s, d) =>
      graft.operators.Stats.cumulativeGains(
        Tables.events(s, d).withColumn("k",
          get_json_object(col("props"), "$.k").cast("long")),
        floor(col("value") * lit(100.0)).cast("long"),
        (col("k") < 25).cast("long"), col("event_id"), k = 10)
        .orderBy("decile")),

    // STREAMING WILSON (r16): q349's interval maintained in-stream —
    // each micro-batch commits its per-type (n, x) COUNT fragment
    // (kilobytes, additive — the q297 sufficient-statistic idiom);
    // the read side folds fragments and runs the same chain. A
    // 4-batch drain must reproduce the batch answer BIT-EXACTLY, so
    // the oracle is q349's batch SQL. `Stats.wilsonFromTotals`.
    "q353_stream_wilson" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            when(get_json_object(col("props"), "$.k").cast("long") < 10,
              1L).otherwise(0L).as("s"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("s")).cast("long").as("x"))
      }
      graft.operators.Stats.wilsonFromTotals(frags, "event_type")
        .orderBy("event_type")
    }),

    // STREAMING DIVERSITY (r16): q350's index per event type over the
    // props-k distribution, in-stream — per-batch (type, k, c) count
    // fragments (additive under summation), read-side fold through
    // the same exact rational. Oracle = the batch SQL.
    // `Stats.diversityFromCounts`.
    "q354_stream_diversity" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("cat"))
          .groupBy(col("event_type"), col("cat"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.diversityFromCounts(frags, "event_type")
        .orderBy("event_type")
    }),

    // MERKLE REPAIR (r16): q342's diff turned into the minimal
    // reconciliation plan (upsert/insert/delete — DIFF-sized, what an
    // anti-entropy repairer actually ships): b minus (delete ∪ upsert
    // keys) plus a's rows for (upsert ∪ insert) keys equals a
    // row-for-row (exceptAll both directions, pinned by R16Spec on
    // this query's a/b). `Integrity.repairPlan`.
    "q355_merkle_repair" -> ((s, d) => {
      val cols = Seq("event_id", "user_id", "event_type", "props")
      val a = Tables.events(s, d).select(cols.map(col): _*)
      val bkt = graft.operators.Integrity.bucketExpr("event_id", 64)
      val b = a.filter(col("event_id") % 49999 =!= 3)
        .withColumn("props", when(bkt === 3,
          concat(col("props"), lit(" "))).otherwise(col("props")))
        .unionByName(a.filter(col("event_id") % 49999 === 5)
          .withColumn("event_id", col("event_id") + 100000000L))
      graft.operators.Integrity.repairPlan(
        a, b, "event_id", cols, buckets = 64).orderBy("event_id")
    }),

    // STREAMING MODE (r16): q346's per-type mode maintained in-stream
    // — per-batch (type, k, c) count fragments (additive), read-side
    // fold re-ranks the merged counts. Oracle = q346's batch SQL.
    // `Stats.modeFromCounts`.
    "q356_stream_mode" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("value"))
          .groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.modeFromCounts(frags, "event_type")
        .orderBy("event_type")
    }),

    // COCHRAN–ARMITAGE TREND TEST (r16): does the high-value-event
    // rate move monotonically with the props-k quartile — the ordered
    // counterpart of q336's two-proportion z-test. Six exact integer
    // sums, one dose-bounded aggregate pass, one mirrored IEEE chain;
    // T′ emitted as a canonical digit string. `Stats.trendTest`.
    "q357_trend_test" -> ((s, d) =>
      graft.operators.Stats.trendTest(
        Tables.events(s, d),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25"),
        (floor(col("value") * lit(100.0)).cast("long") > 50000L)
          .cast("long"))),

    // HASH-THRESHOLD SPLIT + GROWTH-STABILITY PROOF (r16): the
    // growth-STABLE split design (assignment = pure function of the
    // id) vs q351's exact-proportion rank split (which re-deals when
    // n changes). The stability contract — splitting the
    // corpus-minus-batch assigns every surviving doc identically to
    // splitting the full corpus — is pinned by R16Spec on this query's
    // corpus. `Corpus.hashSplit`.
    "q358_stable_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.hashSplit(docs)
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    }),

    // CHARACTER DIVERSITY (r16): per-doc Gini–Simpson over the first
    // 200 characters — the log-free gibberish/low-entropy-text signal
    // (a run of one repeated character scores ~0, natural text high).
    // Exact rational; the per-char explode is bounded at 200 rows per
    // doc. `Stats.diversityIndex`.
    "q359_char_diversity" -> ((s, d) => {
      val ch = Tables.documents(s, d)
        .filter(length(col("text")) >= 1)
        .withColumn("i", explode(sequence(lit(1),
          least(length(col("text")), lit(200)))))
        .select(col("doc_id"), expr("substring(text, i, 1)").as("ch"))
      graft.operators.Stats.diversityIndex(ch, "doc_id", col("ch"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL CONTAINMENT (r16): q348's admission screen per
    // crawl batch at DELTA cost — prefixes from the BATCH side only,
    // global order frozen on the CORPUS document frequencies (the
    // q333 index design; the containment prefix theorem holds under
    // ANY total order, and the exact verify recount makes the output
    // order-independent). Bit-identity to the full recompute
    // restricted to incoming contained-sides is pinned by R16Spec.
    // `Dedup.containmentJoinAgainst`.
    "q360_containment_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Dedup.containmentJoinAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0)).orderBy("doc_a", "doc_b")
    }),

    // STREAMING TREND TEST (r16): q357's statistic maintained
    // in-stream — per-batch (dose, n, x) fragments (additive), fold
    // through the same exact chain. Oracle = q357's batch SQL.
    // `Stats.trendTestFromCounts`.
    "q361_stream_trend" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(
            expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25")
              .as("w"),
            (floor(col("value") * lit(100.0)).cast("long") > 50000L)
              .cast("long").as("s"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("n"), sum(col("s")).cast("long").as("x"))
      }
      graft.operators.Stats.trendTestFromCounts(frags)
    }),

    // SHINGLE NOVELTY SCORE (r16): per batch doc, the share of its
    // distinct 3-shingles the corpus has never seen — the admission
    // readout between "exact dup" and "fully novel". Corpus = one
    // distinct-shingle relation (additive staged index), batch probes
    // it with one left hash join. `TextAnalysis.noveltyScore`.
    "q362_novelty_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.TextAnalysis.noveltyScore(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0))
        .orderBy("doc_id")
    }),

    // CROSS-SOURCE CONTAINMENT REPORT (r16): which source pairs leak
    // content into each other — the q348 join at a looser 3/5
    // threshold, rolled up per (source_a, source_b) with same-source
    // pairs excluded. The syndication/boilerplate provenance report a
    // corpus audit ships. Composition query: containment machinery +
    // two dimension joins + a bounded rollup.
    "q363_cross_source_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val src = docs.select(col("doc_id"), col("source"))
      containPairsArtifact(s, d)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_b")), "doc_b")
        .filter(col("source_a") =!= col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // LORENZ CURVE POINTS (r16): q343's visual companion — per
    // priority class, the cumulative share of order value held by
    // each rank decile (the inequality curve itself, not just its
    // area). Ranks ride rankInGroup; the cumulative window runs over
    // the (group, band) AGGREGATE. `Stats.lorenzPoints`.
    "q364_lorenz_points" -> ((s, d) =>
      graft.operators.Stats.lorenzPoints(
        Tables.orders(s, d), "o_orderpriority",
        floor(col("o_totalprice") * lit(100.0)).cast("long"),
        col("o_orderkey"))
        .orderBy("o_orderpriority", "band")),

    // φ COEFFICIENT (r16): exact 2×2 association between "low-k
    // event" and "high-value event" — the feature↔label
    // co-occurrence number with no estimated moments. One aggregate
    // pass; numerator exact (digit string), denominator a mirrored
    // double chain. Flags built the q353 Wilson way
    // (when(cond,1).otherwise(0)) so a NULL predicate lands in the 0
    // cell on BOTH engines — the oracle's CASE ... ELSE 0 does the
    // same, and a bare boolean cast would have dropped NULL rows from
    // all four cells (ADVICE r16). `Stats.phiAssociation`.
    "q365_phi_association" -> ((s, d) =>
      graft.operators.Stats.phiAssociation(
        Tables.events(s, d),
        when(get_json_object(col("props"), "$.k").cast("long") < 25, 1L)
          .otherwise(0L),
        when(floor(col("value") * lit(100.0)).cast("long") > 50000L, 1L)
          .otherwise(0L))),

    // STREAMING GINI (r16): q343's coefficient per event type,
    // in-stream — per-batch (type, cents, c) HISTOGRAM fragments
    // (additive), folded through the closed-form tied-block rank
    // algebra (division-free). A 4-batch drain must reproduce the
    // batch rank-sum answer BIT-EXACTLY. `Stats.giniFromCounts`.
    "q366_stream_gini" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            floor(col("value") * lit(100.0)).cast("long").as("value"))
          .groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.giniFromCounts(frags, "event_type")
        .orderBy("event_type")
    }),

    // RARE-TOKEN TAIL MASS (r16): per language, the share of token
    // occurrences a count-≤2 vocabulary cut would drop — chao1's
    // operational companion (q344 says how much vocabulary is
    // unseen; this says what cutting the seen tail costs). One
    // vocabulary-bounded pass. `TextAnalysis.rareTailMass`.
    "q367_rare_tail" -> ((s, d) =>
      graft.operators.TextAnalysis.rareTailMass(
        Tables.documents(s, d), "lang")
        .orderBy("lang")),

    // TOKEN BURSTINESS (r16): Fano factor (variance-to-mean of
    // per-doc occurrence counts, zeros included) for the top-20
    // corpus tokens — ≈1 reads Poisson-spread, ≫1 reads
    // bursty/topical/boilerplate. Exact decimal sums; the corpus doc
    // count rides a ONE-ROW broadcast scalar; the top-k is a
    // TakeOrdered. `TextAnalysis.tokenBurstiness`.
    "q368_token_burstiness" -> ((s, d) =>
      graft.operators.TextAnalysis.tokenBurstiness(
        Tables.documents(s, d), k = 20)
        .orderBy("token")),

    // EMBEDDING NORM OUTLIERS (r16): the corrupt-vector screen — each
    // embedding's EXACT quantized squared norm (the gramMatrix
    // fixed-point idiom: ×2¹⁶ floor per coordinate, integer squares),
    // flagged against Tukey fences from `exactRankStats`' distributed
    // selection (the q308 IQR rule, integer-only comparisons). The
    // constant group key constant-folds into one-row broadcasts
    // (q296's pattern).
    "q369_embedding_norm_outliers" -> ((s, d) => {
      val nq = Tables.embeddings(s, d).select(col("vec_id"),
          expr("aggregate(embedding, 0L, (acc, x) -> acc + " +
            "CAST(FLOOR(CAST(x AS DOUBLE) * 65536.0D) AS BIGINT) * " +
            "CAST(FLOOR(CAST(x AS DOUBLE) * 65536.0D) AS BIGINT))")
            .as("norm_q"))
        .withColumn("g", lit("all"))
      val th = graft.operators.Stats.exactRankStats(nq, "g", "norm_q")
        .select(col("p25"), col("p75"))
      nq.join(broadcast(th))
        .withColumn("iqr", col("p75") - col("p25"))
        .select(col("vec_id"), col("norm_q"),
          (!(lit(2L) * col("norm_q") >= lit(2L) * col("p25") -
              lit(3L) * col("iqr") &&
             lit(2L) * col("norm_q") <= lit(2L) * col("p75") +
              lit(3L) * col("iqr"))).as("is_outlier"))
        .orderBy("vec_id")
    }),

    // l-DIVERSITY AUDIT (r16): q318 k-anonymity's companion — a
    // quasi-identifier combo can be k-anonymous yet leak if its
    // SENSITIVE values are homogeneous; flag combos with fewer than
    // l distinct sensitive values. One groupBy + count distinct.
    "q370_l_diversity" -> ((s, d) =>
      Tables.events(s, d).select(col("event_type"),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10")
            .as("k_band"),
          (col("user_id") % 50).as("sensitive"))
        .groupBy(col("event_type"), col("k_band"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("sensitive")).as("n_distinct"))
        .withColumn("at_risk", col("n_distinct") < 5)
        .orderBy("event_type", "k_band")),

    // Q–Q TABLE (r16): the drift DIAGNOSIS readout q292's monitor
    // triggers — decile-by-decile quantile alignment of two slices
    // (even/odd users), each threshold an exact order statistic at
    // rank ⌊d(n+1)/10⌋ from rankInGroup's bucketed scan, pivoted
    // with the integer gap per decile.
    "q371_qq_table" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("slice"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"),
        col("event_id"))
      val ranked = graft.operators.Stats.rankInGroup(ev, "slice",
        col("cents"), col("event_id"), "r", bucketWidth = 10000.0)
      val counts = ev.groupBy(col("slice")).agg(count(lit(1)).as("n"))
      val targets = counts
        .withColumn("decile",
          explode(array((1 to 9).map(i => lit(i.toLong)): _*)))
        .withColumn("rk", expr("greatest(1L, (decile * (n + 1)) div 10)"))
        .select(col("slice").as("tslice"), col("decile"), col("rk"))
      ranked.join(targets,
          col("slice") === col("tslice") && col("r") === col("rk"))
        .groupBy(col("decile"))
        .agg(max(when(col("slice") === "even", col("cents"))).as("q_even"),
          max(when(col("slice") === "odd", col("cents"))).as("q_odd"))
        .select(col("decile"), col("q_even"), col("q_odd"),
          (col("q_even") - col("q_odd")).as("gap"))
        .orderBy("decile")
    }),

    // STREAMING φ (r16): q365's coefficient in-stream — per-batch
    // 2×2 CELL count fragments (additive), read-side fold through
    // the same exact chain. Oracle = q365's batch SQL. NULL
    // predicates land in the 0 cell (when/otherwise, the q365 fix —
    // ADVICE r16). `Stats.phiFromCounts`.
    "q372_stream_phi" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(
            when(get_json_object(col("props"), "$.k").cast("long") < 25,
              1L).otherwise(0L).as("a"),
            when(floor(col("value") * lit(100.0)).cast("long") > 50000L,
              1L).otherwise(0L).as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.phiFromCounts(frags)
    }),

    // MAD OUTLIER SCREEN (r16): the robust anomaly gate the IQR
    // fences (q308) can't give when half the data is identical —
    // median absolute deviation via TWO distributed-selection passes
    // (median of cents, then median of |cents − med|), outliers as
    // the pure-integer comparison |x − med| > 3·MAD. All thresholds
    // broadcast back from exactRankStats; no global sort anywhere.
    // r22 (guide §2.3 "aggregate before you shuffle"): the raw rows are
    // counted into (event_type, cents) fragments ONCE — a single
    // map-side-combined shuffle of the value multiset — and BOTH
    // selection passes, the deviation transform, and the outlier sums
    // run on the merged fragments. Bit-equal to the r16 raw-row form
    // by exactRankStatsWeighted's fragment contract (exactRankStats is
    // the weight-1 delegation of the same code path), and |v − med| is
    // a per-distinct-value map, so deviation counts are the same
    // multiset. At scale this replaces three raw scans + two raw
    // shuffles with one scan + one count shuffle.
    "q373_mad_outliers" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * lit(100.0)).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val med = graft.operators.Stats.exactRankStatsWeighted(
          counts, "event_type", "cents", "c")
        .select(col("event_type"), col("p50").as("med"))
      val dev = counts.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("cents") - col("med")))
      val mad = graft.operators.Stats.exactRankStatsWeighted(
          dev.select(col("event_type"), col("absdev"), col("c")),
          "event_type", "absdev", "c")
        .select(col("event_type"), col("p50").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
          sum(col("c")).cast("long").as("n"),
          sum(when(col("absdev") > lit(3L) * col("mad"), col("c"))
            .otherwise(0L)).cast("long").as("n_outliers"))
        .orderBy("event_type")
    }),

    // STREAMING Q–Q TABLE (r16): q371's decile thresholds in-stream —
    // per-batch (slice, cents, c) HISTOGRAM fragments (additive), the
    // read-side fold locating each decile's value from the merged
    // histogram's running counts (an order statistic depends only on
    // the value multiset, so the fold ≡ the raw-row rank BIT-EXACTLY;
    // R16Spec pins decilesFromCounts ≡ the rankInGroup thresholds).
    // Oracle = q371's batch SQL. `Stats.decilesFromCounts`.
    "q374_stream_qq" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(
            when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
              .as("slice"),
            floor(col("value") * lit(100.0)).cast("long").as("value"))
          .groupBy(col("slice"), col("value"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.decilesFromCounts(frags, "slice")
        .groupBy(col("decile"))
        .agg(max(when(col("slice") === "even", col("q"))).as("q_even"),
          max(when(col("slice") === "odd", col("q"))).as("q_odd"))
        .select(col("decile"), col("q_even"), col("q_odd"),
          (col("q_even") - col("q_odd")).as("gap"))
        .orderBy("decile")
    }),

    // REFERENTIAL-INTEGRITY AUDIT (r16): orphan-FK and childless-PK
    // rates across the star schema — the lake hygiene report a 100 TB
    // warehouse runs nightly. Each leg is ONE anti-join (hash,
    // key-partitioned); counts exact. On this generator's consistent
    // data every orphan count is 0 and customers-without-orders is
    // the one legitimately non-zero row — the audit proves the
    // CHECKS, the zeros are the expected healthy reading.
    "q375_fk_orphans" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val p = Tables.part(s, d)
      val legs = Seq(
        ("lineitem->orders",
          li.select(col("l_orderkey").as("k")),
          o.select(col("o_orderkey").as("k"))),
        ("lineitem->part",
          li.select(col("l_partkey").as("k")),
          p.select(col("p_partkey").as("k"))),
        ("orders->customer",
          o.select(col("o_custkey").as("k")),
          c.select(col("c_custkey").as("k"))),
        ("customer<-orders",
          c.select(col("c_custkey").as("k")),
          o.select(col("o_custkey").as("k"))))
      legs.map { case (nm, child, parent) =>
        // one pass per leg: left join against the distinct parent
        // keys, orphans = misses — no second scan for the total
        child.join(parent.distinct().withColumn("__hit", lit(1L)),
            Seq("k"), "left")
          .agg(lit(nm).as("rel"), count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L)).cast("long")
              .as("n_unmatched"))
      }.reduce(_ unionByName _)
        .orderBy("rel")
    }),

    // SCD TYPE-2 INTERVAL BUILD (r16): each user's event-type CHANGE
    // HISTORY as validity intervals — the dimension-table build every
    // warehouse runs: change points from one lag inside the USER
    // partition (deterministic (ts, id) order), valid_to from the
    // next change's lead, open intervals NULL. Row-level lake op, no
    // corpus-sized partition anywhere.
    "q376_scd2_intervals" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"))
      val changes = ev
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      changes
        .withColumn("version", row_number().over(w2).cast("long"))
        .withColumn("valid_to", lead(col("ts_us"), 1).over(w2))
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from"), col("valid_to"))
        .orderBy("user_id", "version")
    }),

    // DEGREE ASSORTATIVITY (r16): do hubs link to hubs on the q136
    // synthetic user graph — Pearson over edges of (src out-degree,
    // dst in-degree), exact sums + the q298 mirrored double chain.
    // `LinkAnalysis.assortativity`.
    "q377_assortativity" -> ((s, d) =>
      graft.operators.LinkAnalysis.assortativity(
        Tables.events(s, d).select(
          col("user_id").as("src"),
          ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150)
            .as("dst")))),

    // TOP-K RANKING OVERLAP (r16): how similar are two scoring
    // functions' top sets — the offline eval a ranker swap runs
    // before shipping. Two TakeOrdered top-100s (value-cents desc vs
    // props-k desc, ties by id — never a global sort), one full-outer
    // join, exact Jaccard.
    "q378_topk_overlap" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val byCents = ev.orderBy(desc("cents"), col("event_id")).limit(100)
        .select(col("event_id")).withColumn("__a", lit(1L))
      val byK = ev.orderBy(desc("k"), col("event_id")).limit(100)
        .select(col("event_id")).withColumn("__b", lit(1L))
      byCents.join(byK, Seq("event_id"), "full_outer")
        .agg(
          sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).cast("long").as("n_both"),
          count(lit(1)).as("n_union"))
        .select(col("n_both"), col("n_union"),
          (col("n_both").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
    }),

    // STREAMING REFERENTIAL AUDIT (r16): q375's hygiene check on the
    // ingest path — each micro-batch left-joins its rows against the
    // STATIC parent keys and commits one (n_rows, n_unmatched) COUNT
    // fragment (additive); the fold is the corpus audit. The child
    // key is deliberately damaged (user_id×11 walks past the customer
    // key range) so the non-zero leg is exercised.
    "q379_stream_fk" -> ((s, d) => {
      val parent = Tables.customer(s, d)
        .select(col("c_custkey").as("k")).distinct()
        .withColumn("__hit", lit(1L))
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select((col("user_id") * 11).as("k"))
          .join(parent, Seq("k"), "left")
          .agg(lit("events->customer(x11)").as("rel"),
            count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L)).cast("long")
              .as("n_unmatched"))
      }
      frags.groupBy(col("rel"))
        .agg(sum(col("n_rows")).cast("long").as("n_rows"),
          sum(col("n_unmatched")).cast("long").as("n_unmatched"))
    }),

    // CONTAINMENT CLUSTERS (r16): q348's directed pairs closed into
    // boilerplate FAMILIES — symmetrized edges through the q103
    // pointer-jumping connected components, min-doc-id labels. The
    // asymmetric twin of q334's Jaccard clusters. Oracle: the same
    // quadratic pair definition + a recursive min-label closure.
    "q380_containment_clusters" -> ((s, d) => {
      val pairs = containPairsArtifact(s, d)
        .select(col("doc_a"), col("doc_b"))
      graft.operators.Dedup.dedupClusters(pairs, iterations = 8,
          pointerJumping = true)
        .orderBy("doc_id")
    }),

    // STREAMING SCD2 (r16): q376's dimension history maintained
    // in-stream — O(1) state per key (the last observed attribute),
    // change rows emitted per batch under the CHRONOLOGICAL drain
    // (the CDC contract; out-of-order arrival fails loud), versions
    // and valid_to derived read-side from the change-sized relation.
    // A chronological multi-batch RocksDB drain must reproduce the
    // batch interval build BIT-EXACTLY — the oracle is q376's SQL.
    // `Stateful.Scd2Changes`.
    "q381_stream_scd2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val changes = graft.streaming.MicroBatch.updateRun(s, d,
        splitParts = Some(4), chronological = true) { stream =>
        import s.implicits._
        graft.streaming.Stateful.scd2Changes(
          graft.Tables.toEventTime(stream)
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1))
          .toDF("user_id", "event_type", "ts_us", "event_id")
      }
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      changes
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to", lead(col("ts_us"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from"), col("valid_to"))
        .orderBy("user_id", "version")
    })
  )

  // ---------------------------------------------------------------
  // Oracles
  // ---------------------------------------------------------------

  val oracles: Map[String, String] = Map(

    // mirrors q343: same rank-sum algebra; decimal operand widths
    // pre-cast down so no multiply exceeds DuckDB's hard 38-digit cap
    "q343_gini_inequality" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS g,
        |         CAST(floor(o_totalprice * 100.0) AS BIGINT) AS x,
        |         o_orderkey AS tie
        |  FROM orders
        |), r AS (
        |  SELECT g, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY x, tie)
        |         AS BIGINT) AS r
        |  FROM b
        |), a AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(14,0))) AS DECIMAL(27,0)) AS sx,
        |    CAST(SUM(CAST(2*r AS DECIMAL(12,0)) * CAST(x AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS srx2
        |  FROM r GROUP BY g
        |)
        |SELECT g AS o_orderpriority, n, CAST(sx AS VARCHAR) AS sum_x,
        |  CASE WHEN sx > 0 THEN
        |    CAST(srx2 - CAST(n + 1 AS DECIMAL(11,0)) * sx AS DOUBLE)
        |      / CAST(CAST(n AS DECIMAL(11,0)) * sx AS DOUBLE)
        |  END AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    "q344_chao1_vocab" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT lang, tok, COUNT(*) AS c FROM toks
        |  WHERE tok <> '' GROUP BY lang, tok
        |), a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_obs,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM c GROUP BY lang
        |)
        |SELECT lang, d_obs, f1, f2,
        |  CAST(d_obs AS DOUBLE)
        |    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
        |      / (2.0 * CAST(f2 + 1 AS DOUBLE)) AS chao1
        |FROM a ORDER BY lang""".stripMargin,

    "q345_trimmed_mean" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |         CAST(floor(value * 100.0) AS BIGINT) AS x,
        |         event_id AS tie
        |  FROM events
        |), r AS (
        |  SELECT g, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY x, tie)
        |         AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM b
        |), f AS (
        |  SELECT g, x FROM r
        |  WHERE r > (n * 1) // 10 AND r <= n - (n * 1) // 10
        |)
        |SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
        |FROM f GROUP BY g ORDER BY event_type""".stripMargin,

    "q346_group_mode" ->
      """WITH k AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS v
        |  FROM events
        |), c AS (
        |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM k GROUP BY event_type, v
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY n DESC, v) AS rn
        |  FROM c
        |)
        |SELECT event_type, v AS mode, n FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    "q347_hits_scores" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS src,
        |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst
        |  FROM events
        |), a1 AS (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS a1 FROM e GROUP BY dst
        |), h1 AS (
        |  SELECT e.src, CAST(SUM(CAST(a1.a1 AS DECIMAL(20,0)))
        |                     AS DECIMAL(38,0)) AS h1
        |  FROM e JOIN a1 USING (dst) GROUP BY e.src
        |), a2 AS (
        |  SELECT e.dst, CAST(SUM(h1.h1) AS DECIMAL(38,0)) AS a2
        |  FROM e JOIN h1 USING (src) GROUP BY e.dst
        |), n AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |)
        |SELECT n.node, COALESCE(a1.a1, 0) AS auth1,
        |  COALESCE(CAST(h1.h1 AS VARCHAR), '0') AS hub1,
        |  COALESCE(CAST(a2.a2 AS VARCHAR), '0') AS auth2
        |FROM n LEFT JOIN a1 ON n.node = a1.dst
        |       LEFT JOIN h1 ON n.node = h1.src
        |       LEFT JOIN a2 ON n.node = a2.dst
        |ORDER BY node""".stripMargin,

    // mirrors q348: the quadratic containment definition itself — the
    // prefix+positional filters are exact necessary conditions, so
    // hash identity proves recall 1.0 on this corpus
    "q348_containment_join" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE)
        |         AS containment
        |FROM inter i
        |JOIN sz sa ON i.doc_a = sa.doc_id
        |JOIN sz sb ON i.doc_b = sb.doc_id
        |WHERE i.inter * 10 >= sa.sz * 9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q349_wilson_ci" -> wilsonSql,

    "q350_gini_simpson" ->
      """WITH c AS (
        |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY user_id, event_type
        |), g AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_categories,
        |    CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(CAST(cnt AS DECIMAL(14,0)) * CAST(cnt AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS s2
        |  FROM c GROUP BY user_id
        |)
        |SELECT user_id, n_categories, n,
        |  CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0)) - s2
        |       AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0))
        |           AS DOUBLE) AS diversity
        |FROM g ORDER BY user_id""".stripMargin,

    "q351_stratified_split" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) AS hh
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id)
        |         AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM h
        |)
        |SELECT lang, doc_id, r, n,
        |  CASE WHEN r <= (n * 8) // 10 THEN 'train'
        |       WHEN r <= (n * 9) // 10 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY lang, doc_id""".stripMargin,

    "q352_lift_deciles" ->
      """WITH b AS (
        |  SELECT CAST(floor(value * 100.0) AS BIGINT) AS cents,
        |    CASE WHEN CAST(props->>'$.k' AS BIGINT) < 25
        |         THEN 1 ELSE 0 END AS y,
        |    event_id
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY cents DESC, event_id)
        |         AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
        |    CAST(SUM(y) OVER () AS BIGINT) AS tot_pos
        |  FROM b
        |), d AS (
        |  SELECT ((r - 1) * 10) // n + 1 AS decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    MAX(n) AS n, MAX(tot_pos) AS tot_pos
        |  FROM r GROUP BY ((r - 1) * 10) // n + 1
        |), c AS (
        |  SELECT decile, n_rows, n_pos,
        |    CAST(SUM(n_rows) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rows,
        |    CAST(SUM(n_pos) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
        |    n, tot_pos
        |  FROM d
        |)
        |SELECT decile, n_rows, n_pos, cum_rows, cum_pos,
        |  CAST(cum_pos AS DOUBLE) / CAST(cum_rows AS DOUBLE)
        |    AS cum_precision,
        |  CASE WHEN tot_pos > 0 THEN
        |    CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)
        |  END AS cum_recall,
        |  CASE WHEN tot_pos > 0 THEN
        |    (CAST(cum_pos AS DOUBLE) * CAST(n AS DOUBLE))
        |      / (CAST(cum_rows AS DOUBLE) * CAST(tot_pos AS DOUBLE))
        |  END AS cum_lift
        |FROM c ORDER BY decile""".stripMargin,

    // q353 drains to the same totals q349 aggregates one-shot — the
    // fragments are additive, so the oracle IS the batch SQL
    "q353_stream_wilson" -> wilsonSql,

    "q354_stream_diversity" ->
      """WITH c AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS cat,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, cat
        |), g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_categories,
        |    CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(CAST(cnt AS DECIMAL(14,0)) * CAST(cnt AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS s2
        |  FROM c GROUP BY event_type
        |)
        |SELECT event_type, n_categories, n,
        |  CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0)) - s2
        |       AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0))
        |           AS DOUBLE) AS diversity
        |FROM g ORDER BY event_type""".stripMargin,

    // q356 drains to the same (type, value) counts q346 aggregates
    // one-shot — the fragments are additive, so the oracle IS q346's
    "q356_stream_mode" ->
      """WITH k AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS v
        |  FROM events
        |), c AS (
        |  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM k GROUP BY event_type, v
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY n DESC, v) AS rn
        |  FROM c
        |)
        |SELECT event_type, v AS mode, n FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    // mirrors q357: same six exact sums, same width budget (every
    // multiply inside DuckDB's p1+p2 <= 38 cap), same IEEE chain
    // mirrors q357/q361: same six exact sums, same width budget
    "q357_trend_test" -> trendSql,

    // mirrors q358: the pure md5-threshold assignment; growth
    // stability is pinned by R16Spec, so it needs no oracle leg
    "q358_stable_split" ->
      """SELECT doc_id,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) % 10 AS bucket,
        |  CASE WHEN CAST(('0x' ||
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 10 < 8 THEN 'train'
        |       WHEN CAST(('0x' ||
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q359_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM documents,
        |       UNNEST(generate_series(1, least(len(text), 200))) AS g(i)
        |  WHERE len(text) >= 1
        |), c AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ch GROUP BY doc_id, ch
        |), g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_categories,
        |    CAST(SUM(cnt) AS BIGINT) AS n,
        |    CAST(SUM(CAST(cnt AS DECIMAL(14,0)) * CAST(cnt AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS s2
        |  FROM c GROUP BY doc_id
        |)
        |SELECT doc_id, n_categories, n,
        |  CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0)) - s2
        |       AS DOUBLE)
        |    / CAST(CAST(n AS DECIMAL(14,0)) * CAST(n AS DECIMAL(14,0))
        |           AS DOUBLE) AS diversity
        |FROM g ORDER BY doc_id""".stripMargin,

    // mirrors q360: the full quadratic replay restricted to incoming
    // contained-sides — R16Spec pins the incremental path equal to it,
    // so the oracle needs no frozen-order replica (the q333 rule)
    "q360_containment_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |       CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE)
        |         AS containment
        |FROM inter i
        |JOIN sz sa ON i.doc_a = sa.doc_id
        |JOIN sz sb ON i.doc_b = sb.doc_id
        |WHERE i.inter * 10 >= sa.sz * 9 AND i.doc_a % 5 = 0
        |ORDER BY doc_a, doc_b""".stripMargin,

    // q361 drains to the same (dose, n, x) totals q357 aggregates —
    // additive fragments, so the oracle IS q357's batch SQL
    "q361_stream_trend" -> trendSql,

    "q362_novelty_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), corpus AS (
        |  SELECT DISTINCT s FROM sh WHERE doc_id % 5 <> 0
        |), i AS (
        |  SELECT doc_id, s FROM sh WHERE doc_id % 5 = 0
        |)
        |SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unseen,
        |  CAST(SUM(CASE WHEN c.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM i LEFT JOIN corpus c ON i.s = c.s
        |GROUP BY i.doc_id ORDER BY doc_id""".stripMargin,

    "q363_cross_source_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sz sa ON i.doc_a = sa.doc_id
        |  WHERE i.inter * 5 >= sa.sz * 3
        |)
        |SELECT da.source AS source_a, db.source AS source_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pairs p
        |JOIN documents da ON p.doc_a = da.doc_id
        |JOIN documents db ON p.doc_b = db.doc_id
        |WHERE da.source <> db.source
        |GROUP BY da.source, db.source
        |ORDER BY source_a, source_b""".stripMargin,

    "q364_lorenz_points" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS g,
        |         CAST(floor(o_totalprice * 100.0) AS BIGINT) AS x,
        |         o_orderkey AS tie
        |  FROM orders
        |), r AS (
        |  SELECT g, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY x, tie)
        |         AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM b
        |), d AS (
        |  SELECT g, ((r - 1) * 10) // n + 1 AS band,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(x AS DECIMAL(27,0))) AS DECIMAL(27,0)) AS s
        |  FROM r GROUP BY g, ((r - 1) * 10) // n + 1
        |), c AS (
        |  SELECT g, band, n_rows,
        |    CAST(SUM(s) OVER (PARTITION BY g ORDER BY band
        |      ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,0)) AS cum,
        |    CAST(SUM(s) OVER (PARTITION BY g) AS DECIMAL(28,0)) AS tot
        |  FROM d
        |)
        |SELECT g AS o_orderpriority, band, n_rows,
        |  CAST(cum AS VARCHAR) AS cum_value,
        |  CASE WHEN tot > 0 THEN
        |    CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) END AS cum_share
        |FROM c ORDER BY o_orderpriority, band""".stripMargin,

    // mirrors q365/q372: exact 2x2 cells + the phi chain
    "q365_phi_association" -> phiSql,

    "q367_rare_tail" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |  WHERE tok <> '' GROUP BY lang, tok
        |)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_occurrences,
        |  CAST(SUM(CASE WHEN c <= 2 THEN c ELSE 0 END) AS BIGINT)
        |    AS tail_occurrences,
        |  CAST(SUM(CASE WHEN c <= 2 THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(c) AS DOUBLE) AS tail_share
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    "q368_token_burstiness" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), pd AS (
        |  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM t WHERE tok <> '' GROUP BY tok, doc_id
        |), nd AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(14,0)) AS n FROM documents
        |), per AS (
        |  SELECT tok, CAST(SUM(x) AS DECIMAL(14,0)) AS sx,
        |    CAST(SUM(CAST(x AS DECIMAL(10,0)) * CAST(x AS DECIMAL(10,0)))
        |         AS DECIMAL(24,0)) AS sx2
        |  FROM pd GROUP BY tok ORDER BY sx DESC, tok LIMIT 20
        |)
        |SELECT tok AS token, CAST(sx AS BIGINT) AS total_occ,
        |  CAST(CAST(n * sx2 AS DECIMAL(38,0))
        |       - CAST(sx * sx AS DECIMAL(38,0)) AS VARCHAR) AS vmr_num,
        |  CAST(CAST(n * sx2 AS DECIMAL(38,0))
        |       - CAST(sx * sx AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE) AS vmr
        |FROM per, nd ORDER BY token""".stripMargin,

    // mirrors q369: the same quantized norm and the exactRankStats
    // rank convention (value at rank greatest(1, (a(n+1)) div b))
    "q369_embedding_norm_outliers" ->
      """WITH nq AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(embedding,
        |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536.0) AS BIGINT)
        |           * CAST(FLOOR(CAST(x AS DOUBLE) * 65536.0) AS BIGINT)))
        |         AS BIGINT) AS norm_q
        |  FROM embeddings
        |), r AS (
        |  SELECT vec_id, norm_q,
        |    CAST(row_number() OVER (ORDER BY norm_q) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM nq
        |), th AS (
        |  SELECT
        |    MAX(CASE WHEN rn = greatest(1, (n + 1) // 4) THEN norm_q END)
        |      AS p25,
        |    MAX(CASE WHEN rn = greatest(1, (3 * (n + 1)) // 4) THEN norm_q END)
        |      AS p75
        |  FROM r
        |)
        |SELECT nq.vec_id, nq.norm_q,
        |  NOT (2 * nq.norm_q >= 2 * th.p25 - 3 * (th.p75 - th.p25)
        |       AND 2 * nq.norm_q <= 2 * th.p75 + 3 * (th.p75 - th.p25))
        |    AS is_outlier
        |FROM nq, th ORDER BY vec_id""".stripMargin,

    "q370_l_diversity" ->
      """SELECT event_type,
        |  CAST(props->>'$.k' AS BIGINT) // 10 AS k_band,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT user_id % 50) AS BIGINT) AS n_distinct,
        |  COUNT(DISTINCT user_id % 50) < 5 AS at_risk
        |FROM events
        |GROUP BY event_type, CAST(props->>'$.k' AS BIGINT) // 10
        |ORDER BY event_type, k_band""".stripMargin,

    // mirrors q371/q374: exact decile order statistics per slice
    "q371_qq_table" -> qqSql,

    // q372 drains to the same 2×2 cells q365 aggregates one-shot
    "q372_stream_phi" -> phiSql,

    // mirrors q373: the exactRankStats p50 rank convention
    // (value at rank greatest(1, (n+1) div 2)), applied twice
    "q373_mad_outliers" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS cents
        |  FROM events
        |), r1 AS (
        |  SELECT event_type, cents,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |                            ORDER BY cents) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e
        |), med AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = greatest(1, (n + 1) // 2) THEN cents END)
        |      AS med
        |  FROM r1 GROUP BY event_type
        |), d AS (
        |  SELECT e.event_type, abs(e.cents - m.med) AS absdev, m.med
        |  FROM e JOIN med m USING (event_type)
        |), r2 AS (
        |  SELECT event_type, absdev,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |                            ORDER BY absdev) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM d
        |), mad AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = greatest(1, (n + 1) // 2) THEN absdev END)
        |      AS mad
        |  FROM r2 GROUP BY event_type
        |)
        |SELECT d.event_type, MAX(d.med) AS med, MAX(mad.mad) AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN d.absdev > 3 * mad.mad THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY d.event_type ORDER BY event_type""".stripMargin,

    // q374 drains to the same (slice, value) histogram q371 ranks
    "q374_stream_qq" -> qqSql,

    "q375_fk_orphans" ->
      """SELECT 'customer<-orders' AS rel,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM (SELECT c_custkey AS k FROM customer) ch
        |LEFT JOIN (SELECT DISTINCT o_custkey AS pk FROM orders) p
        |  ON ch.k = p.pk
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM (SELECT l_orderkey AS k FROM lineitem) ch
        |LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p
        |  ON ch.k = p.pk
        |UNION ALL
        |SELECT 'lineitem->part',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM (SELECT l_partkey AS k FROM lineitem) ch
        |LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p
        |  ON ch.k = p.pk
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM (SELECT o_custkey AS k FROM orders) ch
        |LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
        |  ON ch.k = p.pk
        |ORDER BY rel""".stripMargin,

    // mirrors q376/q381: lag-detected change points + interval windows
    "q376_scd2_intervals" -> scd2Sql,

    // q381 drains to the same change rows q376 lag-detects one-shot
    "q381_stream_scd2" -> scd2Sql,

    // q366 folds additive (type, cents, c) histogram fragments; the
    // oracle replays the raw rank-sum — equal by the tied-block
    // closed form (R16Spec pins giniFromCounts ≡ giniExact)
    "q366_stream_gini" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |         CAST(floor(value * 100.0) AS BIGINT) AS x,
        |         event_id AS tie
        |  FROM events
        |), r AS (
        |  SELECT g, x,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY x, tie)
        |         AS BIGINT) AS r
        |  FROM b
        |), a AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(14,0))) AS DECIMAL(27,0)) AS sx,
        |    CAST(SUM(CAST(2*r AS DECIMAL(12,0)) * CAST(x AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS srx2
        |  FROM r GROUP BY g
        |)
        |SELECT g AS event_type, n, CAST(sx AS VARCHAR) AS sum_x,
        |  CASE WHEN sx > 0 THEN
        |    CAST(srx2 - CAST(n + 1 AS DECIMAL(11,0)) * sx AS DOUBLE)
        |      / CAST(CAST(n AS DECIMAL(11,0)) * sx AS DOUBLE)
        |  END AS gini
        |FROM a ORDER BY event_type""".stripMargin,

    "q377_assortativity" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id AS src,
        |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst
        |  FROM events
        |), od AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS j FROM e GROUP BY src
        |), idg AS (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS k FROM e GROUP BY dst
        |), g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(j) AS BIGINT) AS sj, CAST(SUM(k) AS BIGINT) AS sk,
        |    CAST(SUM(CAST(j AS DECIMAL(14,0)) * CAST(k AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS sjk,
        |    CAST(SUM(CAST(j AS DECIMAL(14,0)) * CAST(j AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS sj2,
        |    CAST(SUM(CAST(k AS DECIMAL(14,0)) * CAST(k AS DECIMAL(14,0)))
        |         AS DECIMAL(38,0)) AS sk2
        |  FROM e JOIN od USING (src) JOIN idg USING (dst)
        |)
        |SELECT m, sj, sk, CAST(sjk AS VARCHAR) AS sum_jk,
        |  CASE WHEN CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)
        |              - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) > 0
        |         AND CAST(m AS DOUBLE) * CAST(sk2 AS DOUBLE)
        |              - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) > 0 THEN
        |    (CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
        |       - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
        |    / sqrt((CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)
        |              - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
        |           * (CAST(m AS DOUBLE) * CAST(sk2 AS DOUBLE)
        |              - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)))
        |  END AS assortativity
        |FROM g""".stripMargin,

    "q378_topk_overlap" ->
      """WITH e AS (
        |  SELECT event_id, CAST(floor(value * 100.0) AS BIGINT) AS cents,
        |         CAST(props->>'$.k' AS BIGINT) AS k
        |  FROM events
        |), a AS (
        |  SELECT event_id FROM e ORDER BY cents DESC, event_id LIMIT 100
        |), b AS (
        |  SELECT event_id FROM e ORDER BY k DESC, event_id LIMIT 100
        |), j AS (
        |  SELECT a.event_id IS NOT NULL AND b.event_id IS NOT NULL AS in_both
        |  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id
        |)
        |SELECT CAST(SUM(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_both,
        |       CAST(COUNT(*) AS BIGINT) AS n_union,
        |       CAST(SUM(CASE WHEN in_both THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS jaccard
        |FROM j""".stripMargin,

    // q379 drains to the same (n_rows, n_unmatched) totals the batch
    // join aggregates one-shot — per-batch anti counts are additive
    "q379_stream_fk" ->
      """SELECT 'events->customer(x11)' AS rel,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM (SELECT user_id * 11 AS k FROM events) ch
        |LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p
        |  ON ch.k = p.pk""".stripMargin,

    // mirrors q380: the quadratic containment pairs + the q334
    // recursive min-label closure
    "q380_containment_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(l) - 2)) AS g(i)
        |), sz AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), res AS (
        |  SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN sz sa ON i.doc_a = sa.doc_id
        |  WHERE i.inter * 5 >= sa.sz * 3
        |), edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM res
        |  UNION ALL SELECT doc_b, doc_a FROM res
        |), reach AS (
        |  SELECT u AS id, u AS lbl FROM edges
        |  UNION
        |  SELECT e.u AS id, r.lbl AS lbl FROM edges e JOIN reach r ON e.v = r.id
        |), labels AS (
        |  SELECT id AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY id
        |)
        |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin,

    // mirrors q355: the direct by-key diff (q342's oracle) with the
    // status→action mapping; R16Spec applies the plan and pins that
    // it reconciles b to a, so that identity needs no oracle leg
    "q355_merkle_repair" ->
      """WITH bb AS (
        |  SELECT event_id, user_id, event_type,
        |         CASE WHEN CAST(('0x' ||
        |                substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
        |                AS BIGINT) % 64 = 3
        |              THEN props || ' ' ELSE props END AS props
        |  FROM events WHERE event_id % 49999 <> 3
        |  UNION ALL
        |  SELECT event_id + 100000000, user_id, event_type, props
        |  FROM events WHERE event_id % 49999 = 5
        |), ha AS (
        |  SELECT event_id, md5(concat_ws('|',
        |    COALESCE(CAST(event_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(user_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(event_type AS VARCHAR), '∅'),
        |    COALESCE(CAST(props AS VARCHAR), '∅'))) AS h
        |  FROM events
        |), hb AS (
        |  SELECT event_id, md5(concat_ws('|',
        |    COALESCE(CAST(event_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(user_id AS VARCHAR), '∅'),
        |    COALESCE(CAST(event_type AS VARCHAR), '∅'),
        |    COALESCE(CAST(props AS VARCHAR), '∅'))) AS h
        |  FROM bb
        |)
        |SELECT COALESCE(ha.event_id, hb.event_id) AS event_id,
        |       CASE WHEN ha.h IS NULL THEN 'delete'
        |            WHEN hb.h IS NULL THEN 'insert'
        |            ELSE 'upsert' END AS action
        |FROM ha FULL OUTER JOIN hb ON ha.event_id = hb.event_id
        |WHERE ha.h IS NULL OR hb.h IS NULL OR ha.h <> hb.h
        |ORDER BY event_id""".stripMargin
  )

  /** q376/q381 share this batch SQL (and r17's q382/q383 disordered
    * drains — the buffered detector re-sorts inside the watermark, so
    * the change relation is arrival-order independent) — the
    * streaming change detector emits exactly the lag-change rows, so
    * the interval build folds identically. */
  private[queries] lazy val scd2Sql: String =
    """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_type, ts_us, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id) AS prev
        |  FROM e
        |), ch AS (
        |  SELECT user_id, event_type, ts_us, event_id FROM c
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id) AS BIGINT)
        |    AS version,
        |  event_type, ts_us AS valid_from,
        |  lead(ts_us) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, event_id) AS valid_to
        |FROM ch ORDER BY user_id, version""".stripMargin

  /** q371/q374 share this batch SQL — (slice, value, c) histogram
    * fragments are additive and an order statistic depends only on
    * the value multiset, so the streaming fold equals the raw-row
    * rank thresholds bit-exactly. */
  private lazy val qqSql: String =
    """WITH b AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
        |           AS slice,
        |         CAST(floor(value * 100.0) AS BIGINT) AS cents,
        |         event_id
        |  FROM events
        |), r AS (
        |  SELECT slice, cents,
        |    CAST(row_number() OVER (PARTITION BY slice
        |                            ORDER BY cents, event_id) AS BIGINT)
        |      AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY slice) AS BIGINT) AS n
        |  FROM b
        |), d AS (
        |  SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS decile
        |), th AS (
        |  SELECT r.slice, d.decile, r.cents AS q
        |  FROM r JOIN d ON r.r = greatest(1, (d.decile * (r.n + 1)) // 10)
        |)
        |SELECT decile,
        |  MAX(CASE WHEN slice = 'even' THEN q END) AS q_even,
        |  MAX(CASE WHEN slice = 'odd' THEN q END) AS q_odd,
        |  MAX(CASE WHEN slice = 'even' THEN q END)
        |    - MAX(CASE WHEN slice = 'odd' THEN q END) AS gap
        |FROM th GROUP BY decile ORDER BY decile""".stripMargin

  /** q365/q372 share this batch SQL — the 2×2 cell counts are
    * additive, so the streaming fold equals the one-shot
    * coefficient bit-exactly. */
  private lazy val phiSql: String =
    """WITH b AS (
        |  SELECT CASE WHEN CAST(props->>'$.k' AS BIGINT) < 25
        |              THEN 1 ELSE 0 END AS a,
        |         CASE WHEN CAST(floor(value * 100.0) AS BIGINT) > 50000
        |              THEN 1 ELSE 0 END AS b
        |  FROM events
        |), g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM b
        |)
        |SELECT n11, n10, n01, n00,
        |  CAST(CAST(CAST(n11 AS DECIMAL(14,0)) * CAST(n00 AS DECIMAL(14,0))
        |            AS DECIMAL(29,0))
        |     - CAST(CAST(n10 AS DECIMAL(14,0)) * CAST(n01 AS DECIMAL(14,0))
        |            AS DECIMAL(29,0)) AS VARCHAR) AS phi_num,
        |  CASE WHEN n11 + n10 > 0 AND n01 + n00 > 0
        |        AND n11 + n01 > 0 AND n10 + n00 > 0 THEN
        |    CAST(CAST(CAST(n11 AS DECIMAL(14,0)) * CAST(n00 AS DECIMAL(14,0))
        |              AS DECIMAL(29,0))
        |       - CAST(CAST(n10 AS DECIMAL(14,0)) * CAST(n01 AS DECIMAL(14,0))
        |              AS DECIMAL(29,0)) AS DOUBLE)
        |      / sqrt(CAST(n11 + n10 AS DOUBLE) * CAST(n01 + n00 AS DOUBLE)
        |             * CAST(n11 + n01 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
        |  END AS phi
        |FROM g""".stripMargin

  /** q357/q361 share this batch SQL — per-batch dose fragments
    * are additive, so the streaming fold equals the one-shot
    * statistic; every multiply sits inside DuckDB's p1+p2 <= 38
    * hard cap. */
  private lazy val trendSql: String =
    """WITH b AS (
        |  SELECT CAST(props->>'$.k' AS BIGINT) // 25 AS w,
        |    CASE WHEN CAST(floor(value * 100.0) AS BIGINT) > 50000
        |         THEN 1 ELSE 0 END AS s
        |  FROM events
        |), per AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(s) AS BIGINT) AS x
        |  FROM b GROUP BY w
        |), g AS (
        |  SELECT CAST(SUM(n) AS DECIMAL(14,0)) AS nn,
        |    CAST(SUM(x) AS DECIMAL(14,0)) AS xx,
        |    CAST(SUM(CAST(w AS DECIMAL(3,0)) * CAST(x AS DECIMAL(14,0)))
        |         AS DECIMAL(17,0)) AS swx,
        |    CAST(SUM(CAST(w AS DECIMAL(3,0)) * CAST(n AS DECIMAL(14,0)))
        |         AS DECIMAL(17,0)) AS swn,
        |    CAST(SUM(CAST(w AS DECIMAL(3,0)) * CAST(w AS DECIMAL(3,0))
        |             * CAST(n AS DECIMAL(14,0)))
        |         AS DECIMAL(20,0)) AS sw2n
        |  FROM per
        |)
        |SELECT CAST(nn AS BIGINT) AS n, CAST(xx AS BIGINT) AS x,
        |  CAST(CAST(nn * swx AS DECIMAL(38,0))
        |       - CAST(xx * swn AS DECIMAL(38,0)) AS VARCHAR) AS t_scaled,
        |  CASE WHEN CAST(xx * (nn - xx) AS DECIMAL(29,0)) > 0
        |        AND CAST(nn * sw2n AS DECIMAL(38,0))
        |            - CAST(swn * swn AS DECIMAL(38,0)) > 0 THEN
        |    CAST(CAST(nn * swx AS DECIMAL(38,0))
        |         - CAST(xx * swn AS DECIMAL(38,0)) AS DOUBLE)
        |      / sqrt((CAST(CAST(xx * (nn - xx) AS DECIMAL(29,0)) AS DOUBLE)
        |              * CAST(CAST(nn * sw2n AS DECIMAL(38,0))
        |                     - CAST(swn * swn AS DECIMAL(38,0)) AS DOUBLE))
        |             / CAST(nn AS DOUBLE))
        |  END AS z
        |FROM g""".stripMargin

  /** q349/q353 share this batch SQL — the streaming drain commits
    * additive (n, x) fragments whose fold equals the one-shot totals
    * bit-exactly. z² is written CAST(1.96 AS DOUBLE)*CAST(1.96 AS
    * DOUBLE), NOT 3.8416 and not bare 1.96*1.96: DuckDB folds bare
    * decimal literals in exact decimal (3.8416) whose double image
    * differs from the IEEE product double(1.96)² by one ulp —
    * measured, not hypothetical. */
  private lazy val wilsonSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(props->>'$.k' AS BIGINT) < 10
      |         THEN 1 ELSE 0 END AS s
      |  FROM events
      |), g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(s) AS BIGINT) AS x
      |  FROM b GROUP BY event_type
      |)
      |SELECT event_type, n, x,
      |  CASE WHEN n > 0 THEN
      |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) END AS p_hat,
      |  CASE WHEN n > 0 THEN
      |    ((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |        + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE)))
      |     - 1.96 * sqrt(
      |         CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |           * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |           / CAST(n AS DOUBLE)
      |         + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
      |           / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE))
      |  END AS wilson_lo,
      |  CASE WHEN n > 0 THEN
      |    ((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |        + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n AS DOUBLE)))
      |     + 1.96 * sqrt(
      |         CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
      |           * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
      |           / CAST(n AS DOUBLE)
      |         + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
      |           / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
      |    / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n AS DOUBLE))
      |  END AS wilson_hi
      |FROM g ORDER BY event_type""".stripMargin
}
