package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Qx._

/** Round-15 additions: N-dimensional z-order layout (q284), CEP
  * alternation — type SETS per step (q285), incremental grouped
  * exact quantiles under appends (q286), golden-record entity
  * resolution (q287), the full streaming step-pattern language
  * (q288), and MATCH_RECOGNIZE-style match measures (q289). */
object R15Q {

  val queries: Map[String, Q] = Map(

    // lake — 3-D OPTIMIZE ZORDER (r15, VERDICT r14 next #8): q178
    // proves the 2-D grid; this gates the generalized k-dim Morton
    // chain end-to-end. Three DECORRELATED derived dimensions, one
    // unclustered directory, z-optimized into 64 directories (4
    // strips per dimension); pruning then works on ALL THREE columns
    // — the property no single- or two-column sort gives the third
    // dimension (LakeScanSpec pins it by files read). The query
    // answers a 3-D range predicate with a plain filter; the oracle
    // replays the predicate over the raw rows — hash identity proves
    // the rewrite was layout-only AND that pruning lost no matching
    // row.
    "q284_zorder3d" -> ((s, d) => {
      val base = Tables.events(s, d).select(
        col("event_id"), (col("event_id") % 1000).as("a"),
        ((col("user_id") * 48271 + col("event_id")) % 1000).as("b"),
        ((col("event_id") * 40503 + col("user_id")) % 1000).as("c"),
        col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-zo3")
      t.optimizeZOrder(Seq("a", "b", "c"), buckets = 64)
      t.snapshot()
        .filter(col("a").between(100, 349) && col("b").between(100, 349) &&
          col("c").between(100, 349))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // CEP ALTERNATION (r15, VERDICT r14 next #7): the MATCH_RECOGNIZE
    // `(view|click)+ purchase` shape — per-step type SETS on top of
    // q268's quantified step machinery. The anchor's (view|click)+
    // run consumes a maximal contiguous IN-SET stretch (members may
    // interleave — per-SET run encoding, not per-type), then one
    // user+id equi-join lands the purchase, error-guarded. The oracle
    // replays the set-membership run encoding in SQL windows.
    // `EventAnalytics.matchStepsAlt`; R15CepSpec holds the
    // brute-force and degenerate-singleton differentials.
    "q285_cep_alternation" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.EventAnalytics.matchStepsAlt(ev,
        Seq(Seq("view", "click") -> "plus", Seq("purchase") -> "one"),
        guards = Map(1 -> Seq("error")), withinSec = 604800L)
        .orderBy("user_id", "a_id")
    }),

    // INCREMENTAL GROUPED EXACT QUANTILES (r15, VERDICT r14 next #6)
    // — the two r14 wins composed: q283's distributed exact selection
    // maintained under a MULTI-BATCH streaming drain without full
    // recompute. Each micro-batch commits only its per-(group, value)
    // count FRAGMENT (the q149 sketch-commit idiom — kilobytes per
    // batch, additive, exact); the read side merges fragments by
    // summation and runs the SAME weighted selection
    // (`Stats.exactRankStatsWeighted`, which `exactRankStats` itself
    // delegates through — the paths cannot drift). The oracle is
    // q283's: a 4-batch drain must reproduce the batch answer
    // BIT-EXACTLY. Plan-pinned no-unpartitioned-window in R15PlanSpec.
    "q286_stream_quantile_exact" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type"),
            floor(col("value") * lit(100.0)).cast("long").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.exactRankStatsWeighted(
        frags, "event_type", "cents", "c")
        .orderBy("event_type")
    }),

    // GOLDEN RECORDS (r15): q278's pairwise fuzzy matches completed
    // into entities — connected components over the distinct-name
    // graph (pointer-jumping min-label CC), then survivorship: most
    // frequent name wins (ties by name), entity id = min member id.
    // The oracle replays CC as a recursive reachability CTE (the q103
    // idiom) and the majority vote as a windowed rank.
    // `TextAnalysis.goldenRecords`.
    "q287_golden_record" -> ((s, d) =>
      graft.operators.TextAnalysis.goldenRecords(
        Tables.part(s, d), "p_partkey", "p_name", maxDist = 3,
        blockExprs = Seq(
          split(col("p_name"), " ").getItem(0),
          element_at(split(col("p_name"), " "), -1)))
        .orderBy("entity_id")),

    // STREAMING CEP ALTERNATION (r15): q285's (view|click)+ purchase
    // pattern matched IN-STREAM — the full step-pattern language
    // (quantifiers, sets, guards) over an unbounded keyed stream via
    // `Stateful.StreamingSteps` (per-user capped history, per-batch
    // re-derivation with the single-key greedy matcher). A 3-batch
    // RocksDB drain must converge to EXACTLY the batch operator's
    // answer: the oracle is q285's SQL verbatim, so batch, stream,
    // and DuckDB all hash-agree.
    "q288_stream_cep_alternation" -> ((s, d) => {
      val sink = graft.streaming.MicroBatch.updateRun(s, d,
        splitParts = Some(3)) { stream =>
        import s.implicits._
        graft.streaming.Stateful.streamingSteps(
          graft.Tables.toEventTime(stream)
            .filter(col("event_type").isin("view", "click", "purchase", "error"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"), col("event_id"))
            .as[(Long, String, Long, Long)].groupByKey(_._1),
          steps = Seq(Seq("view", "click") -> "plus",
            Seq("purchase") -> "one"),
          guards = Map(1 -> Seq("error")),
          withinUs = 604800L * 1000000L)
          .toDF("user_id", "seq", "a_id", "b_id", "gap_sec")
      }
      // converged matches: the last emission set per user
      val last = sink.groupBy(col("user_id"))
        .agg(max(col("seq")).as("seq"))
      sink.join(last, Seq("user_id", "seq"))
        .select(col("user_id"), col("a_id"), col("b_id"), col("gap_sec"))
        .orderBy("user_id", "a_id")
    }),

    // CEP MEASURES (r15): MATCH_RECOGNIZE's COUNT(B.*) analog —
    // match_len counts the events MAPPED to the match (run length for
    // plus/star steps via rn arithmetic over the carried run-end
    // structs, 1 per one/opt step; computed in the same staged pass,
    // no extra shuffle). Same pattern as q285 with the measure
    // exposed; the oracle carries rn through its run encoding and
    // emits rl.rn − a.rn + 2 (the (view|click)+ run plus the
    // purchase).
    "q289_cep_measures" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.EventAnalytics.matchStepsAlt(ev,
        Seq(Seq("view", "click") -> "plus", Seq("purchase") -> "one"),
        guards = Map(1 -> Seq("error")), withinSec = 604800L,
        withLen = true)
        .orderBy("user_id", "a_id")
    }),

    // INCREMENTAL GOLDEN RECORDS (r15): fold a new record batch into
    // q287's entity clustering at DELTA cost — the DP runs only for
    // pairs involving a genuinely new name; prior entities enter the
    // delta CC as contracted min-label nodes, so bridging merges are
    // exact. Bit-identity to the full recompute (both directions of
    // except) is pinned by R15DifferentialSpec; the oracle is q287's
    // full-table replay verbatim. `TextAnalysis.goldenRecordsIncremental`.
    "q290_incremental_entities" -> ((s, d) => {
      val part = Tables.part(s, d)
      val blocks = Seq(
        split(col("p_name"), " ").getItem(0),
        element_at(split(col("p_name"), " "), -1))
      val existing = part.filter(col("p_partkey") % 10 =!= 3)
      val batch = part.filter(col("p_partkey") % 10 === 3)
      graft.operators.TextAnalysis.goldenRecordsIncremental(
        existing, batch, "p_partkey", "p_name", maxDist = 3,
        blockExprs = blocks).orderBy("entity_id")
    }),

    // GROUPING SETS (r15): the CUBE face of the relational surface —
    // every (event_type × iso-dow) subtotal plus both marginals and
    // the grand total in ONE aggregation pass (Catalyst expands the
    // grouping sets before the shuffle, so it stays a single
    // hash-aggregate, not 4 unioned scans). ISO day-of-week is
    // derived engine-identically (Spark's Sunday=1 dayofweek shifted
    // to Monday=1..Sunday=7, DuckDB's isodow); NULL grouping markers
    // are COALESCEd to sentinels so the hash compare is total.
    "q291_cube_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        (pmod(dayofweek(col("ts")) + lit(5), lit(7)) + lit(1))
          .cast("long").as("dow"),
        col("value"))
      ev.cube(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(coalesce(col("event_type"), lit("ALL")).as("etype"),
          coalesce(col("dow"), lit(-1L)).as("dow"),
          col("n"), col("total"))
        .orderBy("etype", "dow")
    }),

    // DISTRIBUTION DRIFT monitor (r15): the check a pipeline runs
    // before admitting a new batch — order totals before/after
    // 1998-01-01, $20k fixed-width bins, per-bin counts plus the
    // exact scaled total-variation contribution |r·C − c·R| (integer
    // arithmetic throughout — no ln, the q102 rational rule; the sum
    // over bins ÷ 2RC is the exact TV distance). One pass over each
    // slice, then bin-count-sized algebra. `Stats.featureDrift`.
    "q292_feature_drift" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderdate"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      graft.operators.Stats.featureDrift(
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
        "cents", binWidth = 2000000L)
        .orderBy("bin")
    }),

    // REPEATED-SUBSTRING SPANS (r15): substring-level dedup — every
    // maximal ≥8-token run appearing verbatim in ≥2 distinct
    // documents (the boilerplate/licence-block leak MinHash's
    // doc-level granularity misses). Shingle slice per doc (array
    // ops, no window), ONE (shingle → distinct-doc count) shuffle,
    // semi-join back, gaps-and-islands per doc. The oracle replays
    // the identical shingle/island algebra over string_split.
    // `TextAnalysis.dupSpans`; DupSpanSpec pins the xxhash64-keyed
    // 100 TB variant ≡ the string-keyed oracle path.
    "q293_dup_spans" -> ((s, d) =>
      graft.operators.TextAnalysis.dupSpans(
        Tables.documents(s, d), w = 8, minDocs = 2)
        .orderBy("doc_id", "span_start")),

    // BOUNDED-HOP WEIGHTED SSSP (r15): 4-round Bellman-Ford from
    // user 0 over the q136 synthetic user graph with derived integer
    // weights — each round a frontier⋈edges hash join + min groupBy
    // (the Pregel superstep on DataFrames), only improved nodes
    // re-expand, integer-exact so partitioning-proof. The oracle
    // enumerates ≤4-edge walks in a recursive CTE and takes the min.
    // `LinkAnalysis.ssspBounded`.
    "q294_sssp_bounded" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
          col("user_id").as("src"),
          ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst"))
        .withColumn("w", pmod(col("src") + col("dst"), lit(9L)) + lit(1L))
      graft.operators.LinkAnalysis.ssspBounded(edges, source = 0L, hops = 4)
        .orderBy("node")
    }),

    // DETERMINISTIC NEGATIVE SAMPLING (r15): contrastive training
    // pairs — for each (customer, purchased part) positive, 2
    // pseudo-random catalog parts the customer never bought.
    // Multiplicative-hash slot per (anchor, item, j) → broadcast
    // catalog index join → anti-join true positives; pure integer
    // arithmetic, so the epoch build replays bit-identically on any
    // engine/partitioning. In-query require pins the dense-0..n−1
    // catalog contract the slot→item map needs. `Corpus.negativeSample`.
    "q295_negative_sampling" -> ((s, d) => {
      val part = Tables.part(s, d)
      val np = part.agg(min(col("p_partkey")).cast("long"),
        max(col("p_partkey")).cast("long"), count(lit(1))).head()
      require(np.getLong(0) == 0L && np.getLong(1) == np.getLong(2) - 1L,
        s"negative sampling needs a dense 0..n-1 part catalog, got $np")
      val pos = Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
        .distinct()
      graft.operators.Corpus.negativeSample(
        pos, "cust", "item",
        part.select(col("p_partkey").as("idx"),
          col("p_partkey").as("cat_item")),
        "idx", "cat_item", k = 2, nCatalog = np.getLong(2))
        .select(col("anchor"), col("pos_item"),
          col("j").cast("long").as("j"), col("neg_item"))
        .orderBy("anchor", "pos_item", "j")
    }),

    // RFM SEGMENTATION (r15): the marketing/cohort scoring table —
    // per-customer recency (days vs corpus max date), frequency,
    // monetary (exact cents), each quartile-scored 1..4 against the
    // customer population WITHOUT a global sort: thresholds come from
    // `Stats.exactRankStats` (distributed selection, q283 machinery)
    // and broadcast back as one row. Recency scores reversed (recent
    // = good). The oracle replays the q283 rank formulas per metric.
    "q296_rfm_segments" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val mx = o.agg(max(col("o_orderdate")).as("mxd"))
      val cust = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("lastd"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))).as("mond"))
        .join(broadcast(mx))
        .select(col("o_custkey"),
          ((unix_micros(col("mxd").cast("timestamp")) -
            unix_micros(col("lastd").cast("timestamp"))) /
            lit(86400000000L)).cast("long").as("rec"),
          col("freq"), (col("mond") * lit(100)).cast("long").as("mon"))
      // ONE distributed-selection pass over all three metrics: stack
      // them long-form (metric = the selection GROUP), then fold the
      // 3-row stats relation into a single threshold row — no
      // constant-key join for Catalyst to degrade into a cartesian
      val stacked = cust.select(col("o_custkey"),
          explode(map(lit("rec"), col("rec"), lit("freq"), col("freq"),
            lit("mon"), col("mon"))).as(Seq("metric", "v")))
      val thCols = Seq("rec", "freq", "mon").flatMap(m =>
        Seq("p25", "p50", "p75").map(p =>
          max(when(col("metric") === m, col(p))).as(s"${p}_$m")))
      val th = graft.operators.Stats.exactRankStats(stacked, "metric", "v")
        .agg(thCols.head, thCols.tail: _*)
      def gt(c: String, p: String) =
        (col(c) > col(p)).cast("long")
      cust.join(broadcast(th))
        .select(col("o_custkey"), col("rec"), col("freq"), col("mon"),
          (lit(4L) - gt("rec", "p25_rec") - gt("rec", "p50_rec") -
            gt("rec", "p75_rec")).as("r_score"),
          (lit(1L) + gt("freq", "p25_freq") + gt("freq", "p50_freq") +
            gt("freq", "p75_freq")).as("f_score"),
          (lit(1L) + gt("mon", "p25_mon") + gt("mon", "p50_mon") +
            gt("mon", "p75_mon")).as("m_score"))
        .withColumn("segment", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
        .orderBy("o_custkey")
    }),

    // STREAMING DRIFT (r15): q292's monitor maintained in-stream —
    // each micro-batch commits only its (side, bin, count) fragment
    // (kilobytes, additive — the q149/q286 sketch-commit idiom), the
    // read side merges fragments and runs the same exact TV algebra.
    // Slices split by event_id hash (a holdout-shard drift baseline);
    // a 4-batch drain must reproduce the one-shot batch answer
    // BIT-EXACTLY, so the oracle is the batch SQL over events.
    // `Stats.featureDriftFromCounts`.
    "q297_stream_drift" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(
            when(pmod(col("event_id"), lit(3)) === 0, lit("ref"))
              .otherwise(lit("cur")).as("side"),
            floor(floor(col("value") * lit(100.0)) / lit(500))
              .cast("long").as("bin"))
          .groupBy(col("side"), col("bin"))
          .agg(count(lit(1)).as("c"))
      }
      graft.operators.Stats.featureDriftFromCounts(frags)
        .orderBy("bin")
    }),

    // CUPED-ADJUSTED EXPERIMENT LIFT (r15): the variance-reduction
    // estimator every experimentation platform runs — per-user
    // pre/post metrics (even/odd event ids as the pre/post split,
    // user_id parity as the A/B arm), pooled
    // θ = cov(X,Y)/var(X) from EXACT decimal sufficient statistics
    // (n, Σx, Σy, Σxy, Σx² — one pass, map-side partial), adjusted
    // group means ȳ_g − θ(x̄_g − x̄) evaluated in a mirrored IEEE
    // expression tree so both engines emit identical doubles.
    "q298_cuped_lift" -> ((s, d) => {
      import org.apache.spark.sql.types.DecimalType
      // operand widths chosen so every decimal product stays inside
      // BOTH engines' 38-digit cap: x,y ≤ 10¹⁴ cents per user
      // (fail-loud on cast overflow), products (28,0), n·Σ (38,0),
      // ΣΣ (38,0); the final num/den subtraction happens in double
      // space with a mirrored IEEE expression tree on both engines
      val d14 = DecimalType(14, 0)
      val d19 = DecimalType(19, 0)
      val d28 = DecimalType(28, 0)
      val d10 = DecimalType(10, 0)
      val per = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_id") % 2 === 0,
            floor(col("value") * lit(100.0)).cast("long"))
            .otherwise(lit(0L))).cast("long").as("x"),
          sum(when(col("event_id") % 2 =!= 0,
            floor(col("value") * lit(100.0)).cast("long"))
            .otherwise(lit(0L))).cast("long").as("y"))
        .withColumn("grp", pmod(col("user_id"), lit(2L)))
      val g = per.agg(count(lit(1)).cast(d10).as("n"),
        sum(col("x").cast(DecimalType(18, 0))).cast(d19).as("sx"),
        sum(col("y").cast(DecimalType(18, 0))).cast(d19).as("sy"),
        sum(col("x").cast(d14) * col("y").cast(d14)).cast(d28).as("sxy"),
        sum(col("x").cast(d14) * col("x").cast(d14)).cast(d28).as("sxx"))
      val theta = g.select(col("n").cast("long").as("n"), col("sx"),
        (((col("n") * col("sxy")).cast("double") -
          (col("sx") * col("sy")).cast("double")) /
          ((col("n") * col("sxx")).cast("double") -
            (col("sx") * col("sx")).cast("double"))).as("theta"))
      per.groupBy(col("grp"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("x").cast(DecimalType(18, 0))).as("gsx"),
          sum(col("y").cast(DecimalType(18, 0))).as("gsy"))
        .join(broadcast(theta))
        .select(col("grp"), col("n_users"),
          col("gsx").cast("long").as("sum_x"),
          col("gsy").cast("long").as("sum_y"),
          col("theta"),
          (col("gsy").cast("double") / col("n_users") -
            col("theta") * (col("gsx").cast("double") / col("n_users") -
              col("sx").cast("double") / col("n"))).as("adj_mean"))
        .orderBy("grp")
    }),

    // DATASET CARD (r15): the one-artifact corpus summary a training
    // run records next to its data — doc/source/lang counts, exact
    // token and char totals, exact-duplicate doc count, and the
    // median doc length BY DISTRIBUTED SELECTION (no global sort) —
    // all BIGINT metrics in one long (metric, value) relation, each
    // leg a bounded aggregation over ONE documents pass per leg.
    "q299_dataset_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      val basics = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars").cast("long")).as("total_chars"))
      val tok = toks.agg(sum(col("nt")).as("total_ws_tokens"))
      val dups = docs.groupBy(md5(col("text")))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .agg(coalesce(sum(col("c")), lit(0L)).as("exact_dup_docs"))
      val med = graft.operators.Stats.exactRankStats(
        toks.withColumn("g", lit("all")), "g", "nt")
        .select(col("p50").as("p50_ws_tokens"))
      def long1(df: org.apache.spark.sql.DataFrame, c: String) =
        df.select(lit(c).as("metric"), col(c).cast("long").as("value"))
      long1(basics, "n_docs")
        .unionAll(long1(basics, "n_langs"))
        .unionAll(long1(basics, "n_sources"))
        .unionAll(long1(basics, "total_chars"))
        .unionAll(long1(tok, "total_ws_tokens"))
        .unionAll(long1(dups, "exact_dup_docs"))
        .unionAll(long1(med, "p50_ws_tokens"))
        .orderBy("metric")
    }),

    // EXACT POWER ITERATION (r15): two unnormalized Krylov steps on
    // the q224 Gram matrix — the dominant-eigenvector estimate behind
    // PCA curation, engine-exact in integer/decimal arithmetic (the
    // normalized double continuation is spec-pinned by Rayleigh
    // residual in R15OpsSpec; cross-engine bit-identity holds only
    // for the exact steps, which is why the query gates THESE). The
    // one corpus-sized pass is the Gram partial aggregation;
    // everything downstream runs on the 64×64 matrix relation.
    // `Stats.powerIterationExact`.
    "q300_power_iteration" -> ((s, d) =>
      graft.operators.Stats.powerIterationExact(
        Tables.embeddings(s, d), "embedding", d = 64)
        .orderBy("i")),

    // ASSOCIATION RULES (r15): market-basket pair mining over order
    // baskets — distinct parts per order, a<b pair self-join keyed on
    // the order (pair blowup bounded by basket size, the candidate
    // generator every FP-growth-style miner bootstraps from), then
    // support / confidence / lift with counts exact and the ratios as
    // mirrored one-division IEEE trees. The one-row basket-universe
    // count rides a broadcast scalar (q102 pattern).
    "q301_association_rules" -> ((s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("it"))
        .distinct()
      val nOrders = items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val nItem = items.groupBy(col("it")).agg(count(lit(1)).as("n_it"))
      val pairs = items.alias("x")
        .join(items.alias("y"), col("x.ok") === col("y.ok") &&
          col("x.it") < col("y.it"))
        .groupBy(col("x.it").as("a"), col("y.it").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(nItem.select(col("it").as("a"), col("n_it").as("n_a")), "a")
        .join(nItem.select(col("it").as("b"), col("n_it").as("n_b")), "b")
        .join(broadcast(nOrders))
        .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
          col("n_orders"),
          (col("n_ab").cast("double") / col("n_a")).as("conf"),
          ((col("n_ab").cast("double") * col("n_orders")) /
            (col("n_a").cast("double") * col("n_b"))).as("lift"))
        .orderBy("a", "b")
    }),

    // 2-D SKYLINE (r15): the Pareto frontier of (cheapest price,
    // largest size) over parts — no corpus-sized global window: the
    // strictly-cheaper running max decomposes into a bounded
    // bucket-aggregate prefix + bucket-partitioned range windows +
    // an equal-price window (exact under every tie case). The oracle
    // is the quadratic NOT EXISTS dominance definition itself.
    // `Stats.skyline2D`.
    "q302_skyline" -> ((s, d) =>
      graft.operators.Stats.skyline2D(
        Tables.part(s, d).select(col("p_partkey"),
          floor(col("p_retailprice") * lit(100.0)).cast("long")
            .as("price_cents"),
          col("p_size").cast("long").as("size")),
        "price_cents", "size", bucketWidth = 10000L)
        .orderBy("p_partkey")),

    // STREAMING BASKET MINING (r15): q301's candidate statistics
    // maintained in-stream. A basket (user, day) can SPAN micro-
    // batches, so per-batch pair counts are NOT additive — the
    // correct commit unit is the batch's distinct (user, day, type)
    // PRESENCE fragment (additive under union-distinct), with the
    // pair join run at read over the merged presence relation. The
    // q297 lesson generalized: commit the sufficient statistic, not
    // the answer. A 4-batch drain must reproduce the batch SQL
    // bit-exactly.
    "q303_stream_basket" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        graft.Tables.toEventTime(ev)
          .select(col("user_id").as("u"),
            floor(unix_micros(col("ts").cast("timestamp")) /
              lit(86400000000L)).cast("long").as("day"),
            col("event_type").as("t"))
          .distinct()
      }
      val present = frags.distinct()
      val pairs = present.alias("x")
        .join(present.alias("y"),
          col("x.u") === col("y.u") && col("x.day") === col("y.day") &&
            col("x.t") < col("y.t"))
        .groupBy(col("x.t").as("a"), col("y.t").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs.orderBy("a", "b")
    }),

    // STREAMING SKYLINE (r15): the Pareto frontier maintained under
    // appends via its MERGE LAW — skyline(A ∪ B) = skyline(skyline(A)
    // ∪ skyline(B)) (dominance is transitive, so a batch's dominated
    // points can never rejoin the frontier). Each micro-batch commits
    // only ITS OWN frontier (a bounded fragment however large the
    // batch); the read side re-runs the same operator over the
    // fragments. The non-additive twin of the q297/q303 sufficient-
    // statistic lesson. A 4-batch drain must equal the one-shot
    // quadratic-dominance oracle bit-exactly.
    "q304_stream_skyline" -> ((s, d) => {
      def pts(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_id"),
          floor(col("value") * lit(100.0)).cast("long").as("x"),
          pmod(col("event_id") * lit(40503L), lit(100000L)).as("y"))
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        graft.operators.Stats.skyline2D(pts(ev), "x", "y",
          bucketWidth = 500L)
      }
      graft.operators.Stats.skyline2D(frags, "x", "y", bucketWidth = 500L)
        .orderBy("event_id")
    }),

    // CUSUM CHANGE-POINT DETECTION (r15): Page's one-sided cumulative
    // sums over the gapless daily grid — the slow-drift detector the
    // q230/q277 window scores miss by design. Exact 1e6 fixed-point
    // with the series' own integer mean as reference and μ/20 slack;
    // the sequential fold runs per group over the ≤history-days array
    // (the q271 Holt stance) and the oracle replays it as a recursive
    // CTE. `EventAnalytics.cusumDaily`.
    "q305_cusum" -> ((s, d) =>
      graft.operators.EventAnalytics.cusumDaily(Tables.events(s, d))
        .orderBy("event_type", "day")),

    // PERSONALIZED PAGERANK (r15): the teleport mass restarts at user
    // 7 — relevance-to-seed ranking (related items / seed expansion)
    // on the q136 synthetic graph, same 10¹² integer fixed point and
    // unrolled-rounds oracle with the restart term in the update.
    // `LinkAnalysis.pageRankPersonalizedInt`.
    "q306_personalized_pagerank" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
        col("user_id").as("src"),
        ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst"))
      graft.operators.LinkAnalysis.pageRankPersonalizedInt(
        edges, source = 7L, iters = 3)
        .orderBy("node")
    }),

    // MEDIAN IMPUTATION (r15): the repair step every feature pipeline
    // runs — replace invalid values (negative balances here) with the
    // per-group median of the VALID ones, the median coming from
    // q283's distributed selection (no per-group sort) and joining
    // back as a groups-sized broadcast. Exact cents, so the imputed
    // value is bit-identical to the oracle's rank formula.
    "q307_impute_median" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * lit(100.0)).cast("long").as("cents"))
      val med = graft.operators.Stats.exactRankStats(
        c.filter(col("cents") >= 0), "seg", "cents")
        .select(col("seg"), col("p50"))
      c.join(broadcast(med), "seg")
        .select(col("c_custkey"), col("seg"), col("cents"),
          (col("cents") < 0).as("imputed"),
          when(col("cents") < 0, col("p50")).otherwise(col("cents"))
            .as("repaired"))
        .orderBy("c_custkey")
    }),

    // IQR OUTLIER FENCES (r15): Tukey's 1.5·IQR rule per event type —
    // the feature-engineering outlier screen, kept integer-exact by
    // scaling the comparison by 2 (2v ≷ 2q ± 3·IQR) instead of
    // multiplying by 1.5. Thresholds from ONE distributed-selection
    // pass; the corpus pass is a broadcast-join + filter + rollup.
    "q308_iqr_fences" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
      val q = graft.operators.Stats.exactRankStats(ev, "event_type", "cents")
        .select(col("event_type"), col("p25"), col("p75"))
      ev.join(broadcast(q), "event_type")
        .withColumn("iqr", col("p75") - col("p25"))
        .withColumn("inlier",
          lit(2L) * col("cents") >= lit(2L) * col("p25") - lit(3L) * col("iqr") &&
            lit(2L) * col("cents") <= lit(2L) * col("p75") + lit(3L) * col("iqr"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("inlier"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("inlier"), 0L).otherwise(1L)).as("n_dropped"),
          min(when(col("inlier"), col("cents"))).as("kept_min"),
          max(when(col("inlier"), col("cents"))).as("kept_max"))
        .orderBy("event_type")
    }),

    // QUANTILE NORMALIZATION (r15; plan rewired r16 per VERDICT r15
    // #3): each value's within-group fractional rank r/(n+1) — the
    // rank-based feature scaling robust to any marginal distribution.
    // Rank is a TOTAL (value, id) order so ties replay exactly, but
    // NOT through a window partitioned only by event_type over raw
    // rows (few groups ⇒ a corpus-sized partition through one task,
    // the q262 scale-killer class): ranks ride `Stats.rankInGroup`
    // (bucket counts → bounded offset window over the AGGREGATE
    // relation → (group, bucket)-partitioned exact order), and n is a
    // per-group count broadcast back. The fraction is the single
    // mirrored IEEE division. R15cSpec pins the plan shape.
    "q309_quantile_normalize" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
      val counts = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Stats.rankInGroup(ev, "event_type",
          col("cents"), col("event_id"), "r", bucketWidth = 10000.0)
        .join(broadcast(counts), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("cents"),
          col("r"), col("n"),
          (col("r").cast("double") /
            (col("n") + lit(1L)).cast("double")).as("qn"))
        .orderBy("event_id")
    }),

    // INCREMENTAL DUP SPANS (r15): q293's admission screen per crawl
    // batch at DELTA cost — the corpus side participates only as its
    // (shingle → distinct-doc count) aggregate (the staged artifact;
    // additive), the batch's shingles hash-join against it, and the
    // island assembly touches only the batch. Bit-identity to the full
    // union recompute restricted to batch docs (both-direction except)
    // is pinned by R15OpsSpec; the oracle is the full replay with the
    // batch-doc restriction. `TextAnalysis.dupSpansIncremental`.
    "q310_incremental_dupspans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      graft.operators.TextAnalysis.dupSpansIncremental(
        existing, batch, w = 8, minDocs = 2).orderBy("doc_id", "span_start")
    }),

    // STREAMING CUSUM (r15): q305's slow-drift detector maintained
    // in-stream — per-day counts are additive, so each micro-batch
    // commits only its (g, day, n) fragment and the read side
    // re-spines and folds (`cusumFromDaily`, which the batch operator
    // itself delegates through — the paths cannot drift). A 4-batch
    // drain must reproduce q305's recursive-CTE oracle bit-exactly.
    "q311_stream_cusum" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        graft.Tables.toEventTime(ev)
          .select(col("event_type").as("g"),
            datediff(to_date(col("ts")), lit("2020-01-01")).cast("long")
              .as("day"))
          .groupBy(col("g"), col("day"))
          .agg(count(lit(1)).as("n"))
      }
      graft.operators.EventAnalytics.cusumFromDaily(frags)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type", "day")
    }),

    // VOCABULARY COVERAGE CURVE (r15): corpus token coverage at
    // vocabulary sizes 5/10/25 (the fixture pool holds 31 distinct
    // tokens; real corpora probe 8k/32k/128k) — the tokenizer-budget
    // curve. The
    // vocabulary never range-shuffles: top-k FIRST via distributed
    // TakeOrdered, rank/cumsum over the ≤max(k) survivors (q232 idiom),
    // (count desc, token) total tie order replayed in the oracle.
    // `TextAnalysis.vocabCoverage`.
    "q312_vocab_coverage" -> ((s, d) =>
      graft.operators.TextAnalysis.vocabCoverage(
        Tables.documents(s, d), Seq(5, 10, 25))
        .orderBy("k")),

    // EXACT ROC AUC (r15): tie-corrected Mann-Whitney AUC per event
    // type — the model-eval pass over scored rows. Never pairs: one
    // aggregation to the (group, distinct score) counts (bounded by
    // the cents domain), a group-partitioned prefix window, exact
    // DECIMAL sums, one IEEE chain. Label is the deterministic
    // event_id % 3 fixture; score is value in cents (ties real).
    // `Stats.rocAuc`.
    "q313_roc_auc" -> ((s, d) =>
      graft.operators.Stats.rocAuc(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * lit(100.0)).cast("long"))
          .withColumn("label", (col("event_id") % 3 === 0).cast("long")),
        "event_type", col("label"), col("cents"))
        .orderBy("event_type")),

    // INTEGER-EXACT RANKING EVAL (r15): AP@10 and MRR@10 per user —
    // the retrieval-eval stage. Reciprocals are scaled by lcm(1..20)
    // into exact integers so the AP sum never touches floats until
    // ONE final division (float-sum order is engine-dependent; this
    // is bit-exact on any engine / partitioning). All windows
    // user-partitioned. `Stats.rankingEval`.
    "q314_ranking_eval" -> ((s, d) =>
      graft.operators.Stats.rankingEval(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * lit(100.0)).cast("long"))
          .withColumn("rel", (col("event_id") % 4 === 0).cast("long")),
        "user_id", col("cents"), col("event_id"), col("rel"), k = 10)
        .orderBy("user_id")),

    // CALIBRATION BINS + Brier (r15): reliability diagram over a
    // deterministic permille-probability fixture whose labels are
    // drawn BY the probability (hash-threshold), so the curve is
    // near-diagonal and the gap column is the miscalibration signal.
    // One map-side-combinable aggregation; `bins` rows shuffle.
    // `Stats.calibrationBins`.
    "q315_calibration" -> ((s, d) =>
      graft.operators.Stats.calibrationBins(
        Tables.events(s, d)
          .withColumn("p", (col("event_id") * 7919 + col("user_id")) % 1000)
          .withColumn("label",
            (((col("event_id") * 104729 + 17) % 1000) < col("p"))
              .cast("long")),
        col("p"), col("label"), bins = 10)
        .orderBy("bin")),

    // EXACT HEAVY HITTERS (r15): tokens over the N/(k+1) frequency
    // bar with exact counts — phase 1 is per-partition Misra-Gries
    // (candidate completeness by pigeonhole under ANY partitioning),
    // phase 2 recounts candidates exactly, so the OUTPUT is
    // partitioning-independent even though the sketch isn't
    // (R15OpsSpec pins this under adversarial repartitions). The
    // fixture vocabulary is near-uniform over 31 tokens, so k=31
    // puts the bar just under the common counts — the discriminating
    // regime. `TextAnalysis.heavyHitters`.
    "q316_heavy_hitters" -> ((s, d) =>
      graft.operators.TextAnalysis.heavyHitters(
        Tables.documents(s, d), k = 31)
        .orderBy("tok")),

    // ITEM-ITEM COSINE (r15): the collaborative-filtering similarity
    // matrix over distinct (user, item) touches — user-keyed equi
    // self-join pair generator (Σ d_u² bounded by the per-user cap),
    // exact counts, broadcast degree join, one IEEE chain per pair.
    // `EventAnalytics.itemCosine`.
    "q317_item_cosine" -> ((s, d) =>
      graft.operators.EventAnalytics.itemCosine(
        Tables.events(s, d).withColumn("item", col("event_id") % 50),
        "user_id", "item", minCo = 2, maxItemsPerUser = 1000)
        .orderBy("i", "j")),

    // K-ANONYMITY AUDIT (r15): quasi-identifier combinations shared
    // by fewer than k=5 rows — the privacy screen on (event_type,
    // day, value-hundreds). One partial-aggregated rollup; the
    // output is the rare tail only. `Profile.kAnonymity`.
    "q318_k_anonymity" -> ((s, d) =>
      graft.operators.Profile.kAnonymity(
        Tables.events(s, d).select(
          col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") / 100.0).cast("long").as("vb")),
        Seq("event_type", "day", "vb"), k = 5)
        .orderBy("event_type", "day", "vb")),

    // STREAMING HEAVY HITTERS (r15): q316's threshold maintained
    // in-stream — per-batch (type, count) fragments are additive
    // (the q311 sketch-commit idiom), the read side sums and applies
    // the EXACT N/(k+1) bar, k=4. A 4-batch drain must reproduce the
    // batch computation bit-exactly.
    "q319_stream_heavy" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      }
      val counts = frags.groupBy(col("event_type"))
        .agg(sum(col("n")).as("cnt"))
      val tot = frags.agg(sum(col("n")).as("n_total"))
      counts.join(broadcast(tot))
        .filter(col("cnt") * 5 > col("n_total"))
        .orderBy("event_type")
    }),

    // EMBEDDING CENTROID DRIFT (r15): cosine between each label's
    // REF (even vec_id) and CUR (odd vec_id) centroid — direction
    // shift in embedding space, the check a corpus/model refresh
    // runs. Exact per-(label,dim) component sums; the 1/n scalings
    // cancel so no mean is materialized. `Similarity.centroidDrift`.
    "q320_centroid_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Similarity.centroidDrift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
        .orderBy("label")
    }),

    // WITHIN-DOC REPETITION (r15): duplicate-bigram fraction per doc
    // — the Gopher-style stuffing/loop screen; pure map-side array
    // ops, no shuffle. `TextAnalysis.repetitionRatio`.
    "q321_repetition" -> ((s, d) =>
      graft.operators.TextAnalysis.repetitionRatio(
        Tables.documents(s, d), n = 2)
        .orderBy("doc_id")),

    // TWO-SAMPLE KS DISTANCE (r15): exact distribution-shift test
    // per event type between even/odd user populations on value
    // cents — max |F_A − F_B| decided by integer cross-
    // multiplication, one division. `Stats.ksTest`.
    "q322_ks_shift" -> ((s, d) =>
      graft.operators.Stats.ksTest(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * lit(100.0)).cast("long"))
          .withColumn("side", (col("user_id") % 2).cast("long")),
        "event_type", col("cents"), col("side"))
        .orderBy("event_type")),

    // SOURCE-PAIR WEIGHTED JACCARD (r15): frequency-profile
    // similarity between ingestion sources — the mix-design signal
    // set-Jaccard can't give when supports coincide (here all
    // sources share ~31 tokens but at different rates). The
    // (source, token, count) relation is catalog×vocab-bounded; the
    // token self-join fans out by #sources only.
    // `TextAnalysis.sourceSimilarity`.
    "q323_source_similarity" -> ((s, d) =>
      graft.operators.TextAnalysis.sourceSimilarity(
        Tables.documents(s, d))
        .orderBy("s1", "s2")),

    // STREAMING KS (r15): q322's shift detector maintained in-stream
    // — per-(group, value) side counts are additive, each
    // micro-batch commits only its fragment, and the read side
    // merges through `ksFromCounts` (which the batch operator itself
    // delegates through — the paths cannot drift). A 4-batch drain
    // must reproduce q322's oracle bit-exactly.
    "q324_stream_ks" -> ((s, d) => {
      val frags = graft.streaming.MicroBatch.appendRunPerBatch(s, d,
        maxFilesPerTrigger = Some(1), splitParts = Some(4)) { ev =>
        ev.select(col("event_type").as("g"),
            floor(col("value") * lit(100.0)).cast("long").as("v"),
            (col("user_id") % 2).cast("long").as("side"))
          .groupBy(col("g"), col("v"))
          .agg(sum(lit(1L) - col("side")).as("ca"),
            sum(col("side")).as("cb"))
      }
      graft.operators.Stats.ksFromCounts(frags)
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    })
  )

  val oracles: Map[String, String] = Map(

    "q284_zorder3d" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events
         |WHERE event_id % 1000 BETWEEN 100 AND 349
         |  AND (user_id * 48271 + event_id) % 1000 BETWEEN 100 AND 349
         |  AND (event_id * 40503 + user_id) % 1000 BETWEEN 100 AND 349
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q285_cep_alternation" ->
      """WITH e AS (
        |  SELECT user_id u, event_type t, event_id id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) ts
        |  FROM events
        |  WHERE event_type IN ('view','click','purchase','error')
        |), x AS (
        |  SELECT u, t, ts, id,
        |    first_value(CASE WHEN t='purchase' THEN ts END IGNORE NULLS)
        |      OVER w AS np_ts,
        |    first_value(CASE WHEN t='purchase' THEN id END IGNORE NULLS)
        |      OVER w AS np_id,
        |    first_value(CASE WHEN t='error' THEN ts END IGNORE NULLS)
        |      OVER w AS ne_ts,
        |    CASE WHEN (lag(t) OVER wo IN ('view','click'))
        |              = (t IN ('view','click'))
        |         THEN 0 ELSE 1 END AS nw
        |  FROM e
        |  WINDOW w AS (PARTITION BY u ORDER BY ts, id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |         wo AS (PARTITION BY u ORDER BY ts, id)
        |), r AS (
        |  SELECT *, SUM(nw) OVER (PARTITION BY u ORDER BY ts, id
        |                          ROWS UNBOUNDED PRECEDING) AS run
        |  FROM x
        |), rr AS (
        |  SELECT *,
        |    last_value(ts) OVER wr AS rl_ts,
        |    last_value(id) OVER wr AS rl_id
        |  FROM r
        |  WINDOW wr AS (PARTITION BY u, run ORDER BY ts, id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND UNBOUNDED FOLLOWING)
        |)
        |SELECT a.u AS user_id, a.id AS a_id, rl.np_id AS b_id,
        |       (rl.np_ts - a.ts) // 1000000 AS gap_sec
        |FROM rr a
        |JOIN rr rl ON rl.u = a.u AND rl.id = a.rl_id
        |WHERE a.t IN ('view','click')
        |  AND rl.np_ts IS NOT NULL
        |  AND (rl.ne_ts IS NULL OR rl.ne_ts >= rl.np_ts)
        |  AND rl.np_ts - a.ts <= 604800000000
        |ORDER BY user_id, a_id""".stripMargin,

    // q283's oracle verbatim: the fragment merge must be invisible
    "q286_stream_quantile_exact" ->
      """WITH v AS (
        |  SELECT event_type g,
        |         CAST(floor(value * 100.0) AS BIGINT) AS cents
        |  FROM events
        |), rk AS (
        |  SELECT g, cents,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY cents)
        |         AS BIGINT) AS r,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM v
        |)
        |SELECT g AS event_type, MAX(n) AS n,
        |  MIN(cents) AS min_v,
        |  MAX(CASE WHEN r = greatest(1, (1 * (n + 1)) // 4)
        |      THEN cents END) AS p25,
        |  MAX(CASE WHEN r = greatest(1, (1 * (n + 1)) // 2)
        |      THEN cents END) AS p50,
        |  MAX(CASE WHEN r = greatest(1, (3 * (n + 1)) // 4)
        |      THEN cents END) AS p75,
        |  MAX(CASE WHEN r = greatest(1, (9 * (n + 1)) // 10)
        |      THEN cents END) AS p90,
        |  MAX(cents) AS max_v
        |FROM rk GROUP BY g ORDER BY event_type""".stripMargin,

    "q287_golden_record" ->
      """WITH RECURSIVE p AS (
        |  SELECT DISTINCT p_name,
        |         split_part(p_name, ' ', 1) AS blk1,
        |         split_part(p_name, ' ', -1) AS blk2
        |  FROM part
        |), cand AS (
        |  SELECT a.p_name AS a_name, b.p_name AS b_name
        |  FROM p a JOIN p b ON b.blk1 = a.blk1 AND a.p_name < b.p_name
        |  UNION
        |  SELECT a.p_name, b.p_name
        |  FROM p a JOIN p b ON b.blk2 = a.blk2 AND a.p_name < b.p_name
        |), pairs AS (
        |  SELECT a_name AS u, b_name AS v FROM cand
        |  WHERE levenshtein(a_name, b_name) <= 3
        |), edges AS (
        |  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        |), reach AS (
        |  SELECT u AS id, u AS lbl FROM edges
        |  UNION
        |  SELECT e.u AS id, r.lbl AS lbl FROM edges e JOIN reach r ON e.v = r.id
        |), labels AS (
        |  SELECT id, MIN(lbl) AS cl FROM reach GROUP BY id
        |), member AS (
        |  SELECT pt.p_partkey AS id, pt.p_name AS nm,
        |         COALESCE(l.cl, pt.p_name) AS cl
        |  FROM part pt LEFT JOIN labels l ON l.id = pt.p_name
        |), votes AS (
        |  SELECT cl, nm, COUNT(*) AS c FROM member GROUP BY cl, nm
        |), canon AS (
        |  SELECT cl, nm AS canonical_name FROM (
        |    SELECT cl, nm,
        |           row_number() OVER (PARTITION BY cl
        |             ORDER BY c DESC, nm) AS rn
        |    FROM votes) q
        |  WHERE rn = 1
        |)
        |SELECT MIN(m.id) AS entity_id, c.canonical_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_records,
        |       CAST(COUNT(DISTINCT m.nm) AS BIGINT) AS n_variants
        |FROM member m JOIN canon c ON c.cl = m.cl
        |GROUP BY m.cl, c.canonical_name
        |ORDER BY entity_id""".stripMargin,

    // q287's full-table oracle verbatim: the delta fold must be invisible
    "q290_incremental_entities" ->
      """WITH RECURSIVE p AS (
        |  SELECT DISTINCT p_name,
        |         split_part(p_name, ' ', 1) AS blk1,
        |         split_part(p_name, ' ', -1) AS blk2
        |  FROM part
        |), cand AS (
        |  SELECT a.p_name AS a_name, b.p_name AS b_name
        |  FROM p a JOIN p b ON b.blk1 = a.blk1 AND a.p_name < b.p_name
        |  UNION
        |  SELECT a.p_name, b.p_name
        |  FROM p a JOIN p b ON b.blk2 = a.blk2 AND a.p_name < b.p_name
        |), pairs AS (
        |  SELECT a_name AS u, b_name AS v FROM cand
        |  WHERE levenshtein(a_name, b_name) <= 3
        |), edges AS (
        |  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        |), reach AS (
        |  SELECT u AS id, u AS lbl FROM edges
        |  UNION
        |  SELECT e.u AS id, r.lbl AS lbl FROM edges e JOIN reach r ON e.v = r.id
        |), labels AS (
        |  SELECT id, MIN(lbl) AS cl FROM reach GROUP BY id
        |), member AS (
        |  SELECT pt.p_partkey AS id, pt.p_name AS nm,
        |         COALESCE(l.cl, pt.p_name) AS cl
        |  FROM part pt LEFT JOIN labels l ON l.id = pt.p_name
        |), votes AS (
        |  SELECT cl, nm, COUNT(*) AS c FROM member GROUP BY cl, nm
        |), canon AS (
        |  SELECT cl, nm AS canonical_name FROM (
        |    SELECT cl, nm,
        |           row_number() OVER (PARTITION BY cl
        |             ORDER BY c DESC, nm) AS rn
        |    FROM votes) q
        |  WHERE rn = 1
        |)
        |SELECT MIN(m.id) AS entity_id, c.canonical_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_records,
        |       CAST(COUNT(DISTINCT m.nm) AS BIGINT) AS n_variants
        |FROM member m JOIN canon c ON c.cl = m.cl
        |GROUP BY m.cl, c.canonical_name
        |ORDER BY entity_id""".stripMargin,

    // q285's oracle verbatim: stream must equal batch
    "q288_stream_cep_alternation" ->
      """WITH e AS (
        |  SELECT user_id u, event_type t, event_id id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) ts
        |  FROM events
        |  WHERE event_type IN ('view','click','purchase','error')
        |), x AS (
        |  SELECT u, t, ts, id,
        |    first_value(CASE WHEN t='purchase' THEN ts END IGNORE NULLS)
        |      OVER w AS np_ts,
        |    first_value(CASE WHEN t='purchase' THEN id END IGNORE NULLS)
        |      OVER w AS np_id,
        |    first_value(CASE WHEN t='error' THEN ts END IGNORE NULLS)
        |      OVER w AS ne_ts,
        |    CASE WHEN (lag(t) OVER wo IN ('view','click'))
        |              = (t IN ('view','click'))
        |         THEN 0 ELSE 1 END AS nw
        |  FROM e
        |  WINDOW w AS (PARTITION BY u ORDER BY ts, id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |         wo AS (PARTITION BY u ORDER BY ts, id)
        |), r AS (
        |  SELECT *, SUM(nw) OVER (PARTITION BY u ORDER BY ts, id
        |                          ROWS UNBOUNDED PRECEDING) AS run
        |  FROM x
        |), rr AS (
        |  SELECT *,
        |    last_value(ts) OVER wr AS rl_ts,
        |    last_value(id) OVER wr AS rl_id
        |  FROM r
        |  WINDOW wr AS (PARTITION BY u, run ORDER BY ts, id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND UNBOUNDED FOLLOWING)
        |)
        |SELECT a.u AS user_id, a.id AS a_id, rl.np_id AS b_id,
        |       (rl.np_ts - a.ts) // 1000000 AS gap_sec
        |FROM rr a
        |JOIN rr rl ON rl.u = a.u AND rl.id = a.rl_id
        |WHERE a.t IN ('view','click')
        |  AND rl.np_ts IS NOT NULL
        |  AND (rl.ne_ts IS NULL OR rl.ne_ts >= rl.np_ts)
        |  AND rl.np_ts - a.ts <= 604800000000
        |ORDER BY user_id, a_id""".stripMargin,

    "q289_cep_measures" ->
      """WITH e AS (
        |  SELECT user_id u, event_type t, event_id id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) ts
        |  FROM events
        |  WHERE event_type IN ('view','click','purchase','error')
        |), x AS (
        |  SELECT u, t, ts, id,
        |    first_value(CASE WHEN t='purchase' THEN ts END IGNORE NULLS)
        |      OVER w AS np_ts,
        |    first_value(CASE WHEN t='purchase' THEN id END IGNORE NULLS)
        |      OVER w AS np_id,
        |    first_value(CASE WHEN t='error' THEN ts END IGNORE NULLS)
        |      OVER w AS ne_ts,
        |    row_number() OVER wo AS rn,
        |    CASE WHEN (lag(t) OVER wo IN ('view','click'))
        |              = (t IN ('view','click'))
        |         THEN 0 ELSE 1 END AS nw
        |  FROM e
        |  WINDOW w AS (PARTITION BY u ORDER BY ts, id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |         wo AS (PARTITION BY u ORDER BY ts, id)
        |), r AS (
        |  SELECT *, SUM(nw) OVER (PARTITION BY u ORDER BY ts, id
        |                          ROWS UNBOUNDED PRECEDING) AS run
        |  FROM x
        |), rr AS (
        |  SELECT *,
        |    last_value(ts) OVER wr AS rl_ts,
        |    last_value(id) OVER wr AS rl_id
        |  FROM r
        |  WINDOW wr AS (PARTITION BY u, run ORDER BY ts, id
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                AND UNBOUNDED FOLLOWING)
        |)
        |SELECT a.u AS user_id, a.id AS a_id, rl.np_id AS b_id,
        |       (rl.np_ts - a.ts) // 1000000 AS gap_sec,
        |       CAST(rl.rn - a.rn + 2 AS BIGINT) AS match_len
        |FROM rr a
        |JOIN rr rl ON rl.u = a.u AND rl.id = a.rl_id
        |WHERE a.t IN ('view','click')
        |  AND rl.np_ts IS NOT NULL
        |  AND (rl.ne_ts IS NULL OR rl.ne_ts >= rl.np_ts)
        |  AND rl.np_ts - a.ts <= 604800000000
        |ORDER BY user_id, a_id""".stripMargin,

    "q291_cube_rollup" ->
      s"""SELECT COALESCE(event_type, 'ALL') AS etype,
         |       COALESCE(dow, -1) AS dow,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM (SELECT event_type,
         |             CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
         |             value
         |      FROM events)
         |GROUP BY CUBE(event_type, dow)
         |ORDER BY etype, dow""".stripMargin,

    "q292_feature_drift" ->
      """WITH b AS (
        |  SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |              THEN 'ref' ELSE 'cur' END AS side,
        |         CAST(floor(o_totalprice * 100.0) AS BIGINT) // 2000000
        |           AS bin
        |  FROM orders
        |), g AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM b GROUP BY bin
        |), t AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
        |         CAST(SUM(n_cur) AS BIGINT) AS tot_cur
        |  FROM g
        |)
        |SELECT bin, n_ref, n_cur, tot_ref, tot_cur,
        |  CAST(CAST(abs(CAST(n_ref AS DECIMAL(18,0)) * CAST(tot_cur AS DECIMAL(18,0))
        |         - CAST(n_cur AS DECIMAL(18,0)) * CAST(tot_ref AS DECIMAL(18,0)))
        |       AS DECIMAL(38,0)) AS VARCHAR) AS tv_scaled
        |FROM g, t
        |ORDER BY bin""".stripMargin,

    "q293_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8
        |), sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
        |         array_to_string(l[i:i+7], ' ') AS k
        |  FROM toks, UNNEST(generate_series(1, len(l) - 7)) AS g(i)
        |), dup AS (
        |  SELECT k FROM sh GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
        |), f AS (
        |  SELECT s.doc_id, s.start FROM sh s JOIN dup USING (k)
        |), w AS (
        |  SELECT doc_id, start,
        |    CASE WHEN start - lag(start)
        |           OVER (PARTITION BY doc_id ORDER BY start) <= 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM f
        |), i AS (
        |  SELECT doc_id, start,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM w
        |)
        |SELECT doc_id, MIN(start) AS span_start,
        |       MAX(start) - MIN(start) + 8 AS span_tokens,
        |       COUNT(*) AS n_shingles
        |FROM i GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "q294_sssp_bounded" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT user_id AS src,
        |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst,
        |         (user_id + (user_id * 3 + event_id % 5 + 1) % 150) % 9 + 1
        |           AS w
        |  FROM events
        |), walk AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
        |         0 AS hops
        |  UNION ALL
        |  SELECT e.dst, walk.dist + e.w, walk.hops + 1
        |  FROM walk JOIN e ON e.src = walk.node
        |  WHERE walk.hops < 4
        |)
        |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
        |ORDER BY node""".stripMargin,

    "q295_negative_sampling" ->
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS anchor, l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), np AS (SELECT COUNT(*) AS n FROM part),
        |c AS (
        |  SELECT anchor, item AS pos_item, CAST(j AS BIGINT) AS j,
        |    (anchor * 1000003 + item * 7919 + j * 104729)
        |      % (SELECT n FROM np) AS neg_item
        |  FROM pos, UNNEST(generate_series(1, 2)) AS g(j)
        |)
        |SELECT anchor, pos_item, j, neg_item
        |FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.anchor = c.anchor
        |                    AND p.item = c.neg_item)
        |ORDER BY anchor, pos_item, j""".stripMargin,

    "q296_rfm_segments" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    (epoch_us(CAST((SELECT MAX(o_orderdate) FROM orders)
        |                   AS TIMESTAMP))
        |     - epoch_us(CAST(MAX(o_orderdate) AS TIMESTAMP)))
        |      // 86400000000 AS rec,
        |    CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS mon
        |  FROM orders GROUP BY o_custkey
        |), q AS (
        |  SELECT
        |    MAX(CASE WHEN rr = greatest(1, (n + 1) // 4) THEN rec END)
        |      AS p25_rec,
        |    MAX(CASE WHEN rr = greatest(1, (n + 1) // 2) THEN rec END)
        |      AS p50_rec,
        |    MAX(CASE WHEN rr = greatest(1, (3 * (n + 1)) // 4) THEN rec END)
        |      AS p75_rec,
        |    MAX(CASE WHEN rf = greatest(1, (n + 1) // 4) THEN freq END)
        |      AS p25_freq,
        |    MAX(CASE WHEN rf = greatest(1, (n + 1) // 2) THEN freq END)
        |      AS p50_freq,
        |    MAX(CASE WHEN rf = greatest(1, (3 * (n + 1)) // 4) THEN freq END)
        |      AS p75_freq,
        |    MAX(CASE WHEN rm = greatest(1, (n + 1) // 4) THEN mon END)
        |      AS p25_mon,
        |    MAX(CASE WHEN rm = greatest(1, (n + 1) // 2) THEN mon END)
        |      AS p50_mon,
        |    MAX(CASE WHEN rm = greatest(1, (3 * (n + 1)) // 4) THEN mon END)
        |      AS p75_mon
        |  FROM (SELECT rec, freq, mon,
        |          CAST(row_number() OVER (ORDER BY rec) AS BIGINT) AS rr,
        |          CAST(row_number() OVER (ORDER BY freq) AS BIGINT) AS rf,
        |          CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS rm,
        |          CAST(COUNT(*) OVER () AS BIGINT) AS n
        |        FROM cust)
        |)
        |SELECT o_custkey, rec, freq, mon,
        |  4 - CAST(rec > p25_rec AS BIGINT) - CAST(rec > p50_rec AS BIGINT)
        |    - CAST(rec > p75_rec AS BIGINT) AS r_score,
        |  1 + CAST(freq > p25_freq AS BIGINT) + CAST(freq > p50_freq AS BIGINT)
        |    + CAST(freq > p75_freq AS BIGINT) AS f_score,
        |  1 + CAST(mon > p25_mon AS BIGINT) + CAST(mon > p50_mon AS BIGINT)
        |    + CAST(mon > p75_mon AS BIGINT) AS m_score,
        |  CAST(4 - CAST(rec > p25_rec AS BIGINT) - CAST(rec > p50_rec AS BIGINT)
        |         - CAST(rec > p75_rec AS BIGINT) AS VARCHAR)
        |  || CAST(1 + CAST(freq > p25_freq AS BIGINT)
        |            + CAST(freq > p50_freq AS BIGINT)
        |            + CAST(freq > p75_freq AS BIGINT) AS VARCHAR)
        |  || CAST(1 + CAST(mon > p25_mon AS BIGINT)
        |            + CAST(mon > p50_mon AS BIGINT)
        |            + CAST(mon > p75_mon AS BIGINT) AS VARCHAR) AS segment
        |FROM cust, q
        |ORDER BY o_custkey""".stripMargin,

    "q297_stream_drift" ->
      """WITH b AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN 'ref' ELSE 'cur' END
        |           AS side,
        |         CAST(floor(value * 100.0) AS BIGINT) // 500 AS bin
        |  FROM events
        |), g AS (
        |  SELECT bin,
        |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM b GROUP BY bin
        |), t AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
        |         CAST(SUM(n_cur) AS BIGINT) AS tot_cur
        |  FROM g
        |)
        |SELECT bin, n_ref, n_cur, tot_ref, tot_cur,
        |  CAST(CAST(abs(CAST(n_ref AS DECIMAL(18,0)) * CAST(tot_cur AS DECIMAL(18,0))
        |         - CAST(n_cur AS DECIMAL(18,0)) * CAST(tot_ref AS DECIMAL(18,0)))
        |       AS DECIMAL(38,0)) AS VARCHAR) AS tv_scaled
        |FROM g, t
        |ORDER BY bin""".stripMargin,

    "q298_cuped_lift" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0
        |             THEN CAST(floor(value * 100.0) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_id % 2 <> 0
        |             THEN CAST(floor(value * 100.0) AS BIGINT)
        |             ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 AS grp
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(19,0)) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(19,0)) AS sy,
        |    CAST(SUM(CAST(x AS DECIMAL(14,0)) * CAST(y AS DECIMAL(14,0)))
        |         AS DECIMAL(28,0)) AS sxy,
        |    CAST(SUM(CAST(x AS DECIMAL(14,0)) * CAST(x AS DECIMAL(14,0)))
        |         AS DECIMAL(28,0)) AS sxx
        |  FROM per
        |), th AS (
        |  SELECT CAST(n AS BIGINT) AS n, sx,
        |    (CAST(n * sxy AS DOUBLE) - CAST(sx * sy AS DOUBLE))
        |      / (CAST(n * sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE))
        |      AS theta
        |  FROM g
        |)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(x AS DECIMAL(18,0))) AS BIGINT) AS sum_x,
        |  CAST(SUM(CAST(y AS DECIMAL(18,0))) AS BIGINT) AS sum_y,
        |  theta,
        |  CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
        |    - theta * (CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE)
        |                 / COUNT(*)
        |               - CAST(sx AS DOUBLE) / n) AS adj_mean
        |FROM per, th
        |GROUP BY grp, theta, sx, n
        |ORDER BY grp""".stripMargin,

    "q299_dataset_card" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents
        |), med AS (
        |  SELECT MAX(CASE WHEN r = greatest(1, (n + 1) // 2) THEN nt END)
        |    AS v
        |  FROM (SELECT nt,
        |          CAST(row_number() OVER (ORDER BY nt) AS BIGINT) AS r,
        |          CAST(COUNT(*) OVER () AS BIGINT) AS n
        |        FROM toks)
        |)
        |SELECT 'exact_dup_docs' AS metric,
        |  CAST(COALESCE((SELECT SUM(c) FROM (
        |    SELECT COUNT(*) AS c FROM documents GROUP BY md5(text)
        |    HAVING COUNT(*) > 1)), 0) AS BIGINT) AS value
        |UNION ALL
        |SELECT 'n_docs', CAST(COUNT(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'p50_ws_tokens', v FROM med
        |UNION ALL
        |SELECT 'total_chars', CAST(SUM(n_chars) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'total_ws_tokens', CAST(SUM(nt) AS BIGINT) FROM toks
        |ORDER BY metric""".stripMargin,

    "q300_power_iteration" ->
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 65536.0) AS BIGINT))
        |         AS qv
        |  FROM embeddings
        |), idx AS (
        |  SELECT unnest(generate_series(1, 64)) AS p
        |), cells AS (
        |  SELECT a.p AS pi, b.p AS pj FROM idx a CROSS JOIN idx b
        |), gm AS (
        |  SELECT pi, pj, CAST(SUM(qv[pi] * qv[pj]) AS BIGINT) AS g
        |  FROM q CROSS JOIN cells GROUP BY pi, pj
        |), s AS (
        |  SELECT pi AS sp FROM gm WHERE pi = pj
        |  ORDER BY g DESC, pi LIMIT 1
        |), v1 AS (
        |  SELECT pi AS p, g AS v FROM gm WHERE pj = (SELECT sp FROM s)
        |), v2 AS (
        |  SELECT gm.pi AS p,
        |    CAST(SUM(CAST(gm.g AS DECIMAL(20,0)) * CAST(v1.v AS DECIMAL(16,0)))
        |         AS DECIMAL(38,0)) AS v
        |  FROM gm JOIN v1 ON gm.pj = v1.p GROUP BY gm.pi
        |)
        |SELECT CAST(v1.p - 1 AS BIGINT) AS i, v1.v AS v1,
        |       CAST(v2.v AS VARCHAR) AS v2
        |FROM v1 JOIN v2 ON v1.p = v2.p
        |ORDER BY i""".stripMargin,

    "q301_association_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem
        |), n_orders AS (
        |  SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items
        |), n_item AS (
        |  SELECT it, CAST(COUNT(*) AS BIGINT) AS n_it FROM items GROUP BY it
        |), pairs AS (
        |  SELECT x.it AS a, y.it AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.it < y.it
        |  GROUP BY x.it, y.it HAVING COUNT(*) >= 2
        |)
        |SELECT a, b, n_ab, na.n_it AS n_a, nb.n_it AS n_b, n_orders,
        |  CAST(n_ab AS DOUBLE) / na.n_it AS conf,
        |  (CAST(n_ab AS DOUBLE) * n_orders)
        |    / (CAST(na.n_it AS DOUBLE) * nb.n_it) AS lift
        |FROM pairs
        |JOIN n_item na ON na.it = a
        |JOIN n_item nb ON nb.it = b
        |CROSS JOIN n_orders
        |ORDER BY a, b""".stripMargin,

    "q302_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100.0) AS BIGINT) AS price_cents,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part
        |)
        |SELECT p_partkey, price_cents, size
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        |    AND (q.price_cents < p.price_cents OR q.size > p.size))
        |ORDER BY p_partkey""".stripMargin,

    "q303_stream_basket" ->
      """WITH pres AS (
        |  SELECT DISTINCT user_id AS u,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    event_type AS t
        |  FROM events
        |)
        |SELECT x.t AS a, y.t AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |FROM pres x JOIN pres y
        |  ON x.u = y.u AND x.day = y.day AND x.t < y.t
        |GROUP BY x.t, y.t
        |ORDER BY a, b""".stripMargin,

    "q304_stream_skyline" ->
      """WITH p AS (
        |  SELECT event_id, CAST(floor(value * 100.0) AS BIGINT) AS x,
        |         (event_id * 40503) % 100000 AS y
        |  FROM events
        |)
        |SELECT event_id, x, y FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.x <= p.x AND q.y >= p.y AND (q.x < p.x OR q.y > p.y))
        |ORDER BY event_id""".stripMargin,

    "q305_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS g,
        |         CAST(date_diff('day', DATE '2020-01-01',
        |                        CAST(ts AS DATE)) AS BIGINT) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT g, unnest(generate_series(MIN(day), MAX(day))) AS day
        |  FROM daily GROUP BY g
        |), filled AS (
        |  SELECT s.g, s.day, COALESCE(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d ON s.g = d.g AND s.day = d.day
        |), mus AS (
        |  SELECT g, mu, mu // 20 AS slack, (mu // 20) * 5 AS h
        |  FROM (SELECT g,
        |          CAST((SUM(n) * 1000000) // COUNT(*) AS BIGINT) AS mu
        |        FROM filled GROUP BY g)
        |), idx AS (
        |  SELECT g, day, n,
        |         row_number() OVER (PARTITION BY g ORDER BY day) AS rn
        |  FROM filled
        |), c AS (
        |  SELECT i.g, i.day, i.n, i.rn,
        |    greatest(CAST(0 AS BIGINT), i.n * 1000000 - m.mu - m.slack)
        |      AS sp,
        |    greatest(CAST(0 AS BIGINT), m.mu - i.n * 1000000 - m.slack)
        |      AS sn
        |  FROM idx i JOIN mus m ON m.g = i.g WHERE i.rn = 1
        |  UNION ALL
        |  SELECT i.g, i.day, i.n, i.rn,
        |    greatest(CAST(0 AS BIGINT),
        |             c.sp + (i.n * 1000000 - m.mu - m.slack)),
        |    greatest(CAST(0 AS BIGINT),
        |             c.sn + (m.mu - i.n * 1000000 - m.slack))
        |  FROM c JOIN idx i ON i.g = c.g AND i.rn = c.rn + 1
        |  JOIN mus m ON m.g = i.g
        |)
        |SELECT c.g AS event_type, c.day, CAST(c.n AS BIGINT) AS n,
        |       c.sp, c.sn, (c.sp > m.h OR c.sn > m.h) AS alarm
        |FROM c JOIN mus m ON m.g = c.g
        |ORDER BY event_type, day""".stripMargin,

    "q306_personalized_pagerank" -> {
      val rounds = (1 to 3).map { i =>
        s"""s$i AS (
           |  SELECT n.node,
           |         CAST(CASE WHEN n.node = 7 THEN 150000000000
           |                   ELSE 0 END
           |              + (85 * COALESCE(i$i.insum, 0)) // 100
           |              AS BIGINT) AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(s.score // o.od) AS insum
           |    FROM e JOIN od o ON e.src = o.src
           |    JOIN s${i - 1} s ON e.src = s.node
           |    GROUP BY e.dst
           |  ) i$i ON n.node = i$i.node)""".stripMargin
      }
      ("""WITH e AS (
         |  SELECT DISTINCT user_id AS src,
         |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst
         |  FROM events
         |),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         |s0 AS (SELECT node,
         |       CAST(CASE WHEN node = 7 THEN 1000000000000 ELSE 0 END
         |            AS BIGINT) AS score FROM nodes)""".stripMargin
        +: rounds).mkString(",\n") +
        "\nSELECT node, score FROM s3 ORDER BY node"
    },

    "q307_impute_median" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |         CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents
        |  FROM customer
        |), med AS (
        |  SELECT seg,
        |    MAX(CASE WHEN r = greatest(1, (n + 1) // 2) THEN cents END)
        |      AS p50
        |  FROM (SELECT seg, cents,
        |          CAST(row_number() OVER (PARTITION BY seg ORDER BY cents)
        |               AS BIGINT) AS r,
        |          CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS n
        |        FROM c WHERE cents >= 0)
        |  GROUP BY seg
        |)
        |SELECT c_custkey, c.seg, cents, cents < 0 AS imputed,
        |       CASE WHEN cents < 0 THEN m.p50 ELSE cents END AS repaired
        |FROM c JOIN med m ON m.seg = c.seg
        |ORDER BY c_custkey""".stripMargin,

    "q308_iqr_fences" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100.0) AS BIGINT) AS cents
        |  FROM events
        |), q AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN r = greatest(1, (n + 1) // 4) THEN cents END)
        |      AS p25,
        |    MAX(CASE WHEN r = greatest(1, (3 * (n + 1)) // 4) THEN cents END)
        |      AS p75
        |  FROM (SELECT event_type, cents,
        |          CAST(row_number() OVER (PARTITION BY event_type
        |                                  ORDER BY cents) AS BIGINT) AS r,
        |          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |            AS n
        |        FROM e)
        |  GROUP BY event_type
        |), f AS (
        |  SELECT e.event_type, e.cents,
        |    (2 * e.cents >= 2 * q.p25 - 3 * (q.p75 - q.p25) AND
        |     2 * e.cents <= 2 * q.p75 + 3 * (q.p75 - q.p25)) AS inlier
        |  FROM e JOIN q ON q.event_type = e.event_type
        |)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN inlier THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN inlier THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dropped,
        |  MIN(CASE WHEN inlier THEN cents END) AS kept_min,
        |  MAX(CASE WHEN inlier THEN cents END) AS kept_max
        |FROM f GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q309_quantile_normalize" ->
      """SELECT event_id, event_type, cents,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |                          ORDER BY cents, event_id) AS BIGINT)
        |    AS r,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |                          ORDER BY cents, event_id) AS DOUBLE)
        |    / CAST(COUNT(*) OVER (PARTITION BY event_type) + 1 AS DOUBLE)
        |    AS qn
        |FROM (SELECT event_id, event_type,
        |        CAST(floor(value * 100.0) AS BIGINT) AS cents
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    // q293's oracle with the batch-doc restriction on the OUTPUT only
    // (shingle doc-frequencies still count the whole union)
    "q310_incremental_dupspans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8
        |), sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
        |         array_to_string(l[i:i+7], ' ') AS k
        |  FROM toks, UNNEST(generate_series(1, len(l) - 7)) AS g(i)
        |), dup AS (
        |  SELECT k FROM sh GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2
        |), f AS (
        |  SELECT s.doc_id, s.start FROM sh s JOIN dup USING (k)
        |), w AS (
        |  SELECT doc_id, start,
        |    CASE WHEN start - lag(start)
        |           OVER (PARTITION BY doc_id ORDER BY start) <= 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM f
        |), i AS (
        |  SELECT doc_id, start,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM w
        |)
        |SELECT doc_id, MIN(start) AS span_start,
        |       MAX(start) - MIN(start) + 8 AS span_tokens,
        |       COUNT(*) AS n_shingles
        |FROM i WHERE doc_id % 5 = 0
        |GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "q311_stream_cusum" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS g,
        |         CAST(date_diff('day', DATE '2020-01-01',
        |                        CAST(ts AS DATE)) AS BIGINT) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT g, unnest(generate_series(MIN(day), MAX(day))) AS day
        |  FROM daily GROUP BY g
        |), filled AS (
        |  SELECT s.g, s.day, COALESCE(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d ON s.g = d.g AND s.day = d.day
        |), mus AS (
        |  SELECT g, mu, mu // 20 AS slack, (mu // 20) * 5 AS h
        |  FROM (SELECT g,
        |          CAST((SUM(n) * 1000000) // COUNT(*) AS BIGINT) AS mu
        |        FROM filled GROUP BY g)
        |), idx AS (
        |  SELECT g, day, n,
        |         row_number() OVER (PARTITION BY g ORDER BY day) AS rn
        |  FROM filled
        |), c AS (
        |  SELECT i.g, i.day, i.n, i.rn,
        |    greatest(CAST(0 AS BIGINT), i.n * 1000000 - m.mu - m.slack)
        |      AS sp,
        |    greatest(CAST(0 AS BIGINT), m.mu - i.n * 1000000 - m.slack)
        |      AS sn
        |  FROM idx i JOIN mus m ON m.g = i.g WHERE i.rn = 1
        |  UNION ALL
        |  SELECT i.g, i.day, i.n, i.rn,
        |    greatest(CAST(0 AS BIGINT),
        |             c.sp + (i.n * 1000000 - m.mu - m.slack)),
        |    greatest(CAST(0 AS BIGINT),
        |             c.sn + (m.mu - i.n * 1000000 - m.slack))
        |  FROM c JOIN idx i ON i.g = c.g AND i.rn = c.rn + 1
        |  JOIN mus m ON m.g = i.g
        |)
        |SELECT c.g AS event_type, c.day, CAST(c.n AS BIGINT) AS n,
        |       c.sp, c.sn, (c.sp > m.h OR c.sn > m.h) AS alarm
        |FROM c JOIN mus m ON m.g = c.g
        |ORDER BY event_type, day""".stripMargin,

    "q312_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY tok
        |), tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts
        |), ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |           AS r,
        |         CAST(SUM(c) OVER (ORDER BY c DESC, tok
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS cum
        |  FROM counts
        |)
        |SELECT r AS k, cum AS covered, total,
        |       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS frac
        |FROM ranked, tot
        |WHERE r IN (5, 10, 25)
        |ORDER BY k""".stripMargin,

    // mirrors Stats.rocAuc token for token: per-distinct-score
    // counts, prefix negatives, exact DECIMAL sum, num2/2/P/N chain
    "q313_roc_auc" ->
      """WITH scored AS (
        |  SELECT event_type, CAST(FLOOR(value * 100.0) AS BIGINT) AS s,
        |         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM events
        |), per_s AS (
        |  SELECT event_type, s, CAST(SUM(y) AS BIGINT) AS p,
        |         CAST(COUNT(*) - SUM(y) AS BIGINT) AS m
        |  FROM scored GROUP BY 1, 2
        |), nb AS (
        |  SELECT event_type, p, m,
        |    COALESCE(CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS nb
        |  FROM per_s
        |)
        |SELECT event_type, CAST(SUM(p) AS BIGINT) AS pos,
        |       CAST(SUM(m) AS BIGINT) AS neg,
        |       CAST(SUM(CAST(p AS DECIMAL(19,0)) *
        |                CAST(2 * nb + m AS DECIMAL(19,0))) AS DOUBLE)
        |         / 2.0 / CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
        |         / CAST(CAST(SUM(m) AS BIGINT) AS DOUBLE) AS auc
        |FROM nb GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors Stats.rankingEval: lcm(1..20)-scaled reciprocals keep
    // AP integer-exact; 232792560 = lcm(1..20)
    "q314_ranking_eval" ->
      """WITH base AS (
        |  SELECT user_id, CAST(FLOOR(value * 100.0) AS BIGINT) AS sc,
        |         event_id,
        |         CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END AS rel
        |  FROM events
        |), ranked AS (
        |  SELECT user_id, rel,
        |    CAST(SUM(rel) OVER (PARTITION BY user_id) AS BIGINT) AS r_total,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |         ORDER BY sc DESC, event_id) AS BIGINT) AS rank
        |  FROM base
        |), top AS (
        |  SELECT *, CAST(SUM(rel) OVER (PARTITION BY user_id ORDER BY rank
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hits
        |  FROM ranked WHERE rank <= 10
        |)
        |SELECT user_id, MAX(r_total) AS r_total,
        |  CAST(SUM(CASE WHEN rel = 1
        |           THEN hits * (232792560 // rank) END) AS DOUBLE) /
        |    CAST(232792560 * least(MAX(r_total), 10) AS DOUBLE) AS ap_k,
        |  CAST(232792560 // MIN(CASE WHEN rel = 1 THEN rank END) AS DOUBLE)
        |    / CAST(232792560 AS DOUBLE) AS rr_k
        |FROM top GROUP BY user_id ORDER BY user_id""".stripMargin,

    // mirrors Stats.calibrationBins: permille fixture, label drawn by
    // the probability, exact integer sums, three divisions + |gap|
    "q315_calibration" ->
      """WITH base AS (
        |  SELECT (event_id * 7919 + user_id) % 1000 AS p,
        |         CASE WHEN (event_id * 104729 + 17) % 1000 <
        |                   (event_id * 7919 + user_id) % 1000
        |              THEN 1 ELSE 0 END AS y
        |  FROM events
        |)
        |SELECT p * 10 // 1000 AS bin, COUNT(*) AS n,
        |       CAST(SUM(y) AS BIGINT) AS pos,
        |       CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DOUBLE) /
        |         CAST(COUNT(*) * 1000 AS DOUBLE) AS mean_pred,
        |       CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) /
        |         CAST(COUNT(*) AS DOUBLE) AS rate,
        |       abs(CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DOUBLE) /
        |             CAST(COUNT(*) * 1000 AS DOUBLE) -
        |           CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) /
        |             CAST(COUNT(*) AS DOUBLE)) AS gap,
        |       CAST(SUM(CAST(p - 1000 * y AS DECIMAL(19,0)) *
        |                CAST(p - 1000 * y AS DECIMAL(19,0))) AS DOUBLE) /
        |         CAST(COUNT(*) * 1000000 AS DOUBLE) AS brier
        |FROM base GROUP BY bin ORDER BY bin""".stripMargin,

    // the exact-threshold semantics of TextAnalysis.heavyHitters —
    // the MG candidate phase is invisible to the result
    "q316_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM t
        |)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt, n_total
        |FROM t, tot GROUP BY tok, n_total
        |HAVING COUNT(*) * 32 > n_total
        |ORDER BY tok""".stripMargin,

    "q317_item_cosine" ->
      """WITH ui0 AS (
        |  SELECT DISTINCT user_id AS u, event_id % 50 AS i FROM events
        |), ui AS (
        |  SELECT u, i FROM (
        |    SELECT u, i, row_number() OVER (PARTITION BY u ORDER BY i) AS r
        |    FROM ui0) WHERE r <= 1000
        |), deg AS (
        |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM ui GROUP BY i
        |), co AS (
        |  SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS co
        |  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |)
        |SELECT co.j, co.i, co.co, di.n AS ni, dj.n AS nj,
        |       CAST(co.co AS DOUBLE) /
        |         sqrt(CAST(di.n AS DOUBLE) * CAST(dj.n AS DOUBLE)) AS cosine
        |FROM co JOIN deg di ON di.i = co.i JOIN deg dj ON dj.i = co.j
        |ORDER BY co.i, co.j""".stripMargin,

    "q318_k_anonymity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(FLOOR(value / 100.0) AS BIGINT) AS vb,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3
        |HAVING COUNT(*) < 5
        |ORDER BY 1, 2, 3""".stripMargin,

    // the streamed fragments are additive, so the oracle is the
    // plain batch threshold
    "q319_stream_heavy" ->
      """WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt, n_total
        |FROM events, tot GROUP BY 1, 3
        |HAVING COUNT(*) * 5 > n_total
        |ORDER BY event_type""".stripMargin,

    // mirrors Similarity.centroidDrift: dyadic 2^30 quantization,
    // exact component sums, decimal dot/norms; decimal → varchar →
    // double because DuckDB's direct int128-decimal→double cast is
    // not correctly rounded (the q37 oracle's established detour)
    "q320_centroid_drift" ->
      """WITH ex AS (
        |  SELECT vec_id, label, i AS pos,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
        |              AS DECIMAL(18,0)) AS x
        |  FROM (SELECT vec_id, label, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)
        |), r AS (
        |  SELECT label, pos, SUM(x) AS s FROM ex
        |  WHERE vec_id % 2 = 0 GROUP BY 1, 2
        |), c AS (
        |  SELECT label, pos, SUM(x) AS s FROM ex
        |  WHERE vec_id % 2 = 1 GROUP BY 1, 2
        |), j AS (
        |  SELECT r.label,
        |    SUM(CAST(r.s AS DECIMAL(19,0)) * CAST(c.s AS DECIMAL(19,0)))
        |      AS dot,
        |    SUM(CAST(r.s AS DECIMAL(19,0)) * CAST(r.s AS DECIMAL(19,0)))
        |      AS n2r,
        |    SUM(CAST(c.s AS DECIMAL(19,0)) * CAST(c.s AS DECIMAL(19,0)))
        |      AS n2c
        |  FROM r JOIN c ON r.label = c.label AND r.pos = c.pos
        |  GROUP BY r.label
        |)
        |SELECT label,
        |       CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
        |         (sqrt(CAST(CAST(n2r AS VARCHAR) AS DOUBLE)) *
        |          sqrt(CAST(CAST(n2c AS VARCHAR) AS DOUBLE)))
        |         AS centroid_cos
        |FROM j ORDER BY label""".stripMargin,

    "q321_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |), g AS (
        |  SELECT doc_id, array_to_string(l[i:i+1], ' ') AS gm
        |  FROM toks, UNNEST(generate_series(1, len(l) - 1)) AS t(i)
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(COUNT(DISTINCT gm) AS BIGINT) AS n_distinct,
        |       CAST(COUNT(*) - COUNT(DISTINCT gm) AS DOUBLE) /
        |         CAST(COUNT(*) AS DOUBLE) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors Stats.ksTest: integer cross-multiplied ECDF gap,
    // decided in decimal space, one division
    "q322_ks_shift" ->
      """WITH e AS (
        |  SELECT event_type, CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
        |         user_id % 2 AS side
        |  FROM events
        |), perv AS (
        |  SELECT event_type, v,
        |         CAST(SUM(1 - side) AS BIGINT) AS ca,
        |         CAST(SUM(side) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type,
        |    CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY v
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumA,
        |    CAST(SUM(cb) OVER (PARTITION BY event_type ORDER BY v
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumB,
        |    CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS ta,
        |    CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS tb
        |  FROM perv
        |)
        |SELECT event_type, MAX(ta) AS n_a, MAX(tb) AS n_b,
        |  CAST(MAX(abs(CAST(cumA AS DECIMAL(19,0)) * CAST(tb AS DECIMAL(19,0)) -
        |               CAST(cumB AS DECIMAL(19,0)) * CAST(ta AS DECIMAL(19,0))))
        |       AS DOUBLE) /
        |  CAST(CAST(MAX(ta) AS DECIMAL(19,0)) * CAST(MAX(tb) AS DECIMAL(19,0))
        |       AS DOUBLE) AS ks
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors TextAnalysis.sourceSimilarity: weighted Jaccard with
    // sum-max = tot_a + tot_b - sum-min (never materializes the
    // union)
    "q323_source_similarity" ->
      """WITH sc AS (
        |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM sc GROUP BY 1
        |), shared AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(SUM(least(a.c, b.c)) AS BIGINT) AS sum_min
        |  FROM sc a JOIN sc b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT s1, s2, sum_min,
        |       CAST(sum_min AS DOUBLE) /
        |         CAST(t1.t + t2.t - sum_min AS DOUBLE) AS weighted_jaccard
        |FROM shared
        |JOIN tot t1 ON t1.source = shared.s1
        |JOIN tot t2 ON t2.source = shared.s2
        |ORDER BY s1, s2""".stripMargin,

    // the streamed fragments are additive, so the oracle is exactly
    // q322's
    "q324_stream_ks" ->
      """WITH e AS (
        |  SELECT event_type, CAST(FLOOR(value * 100.0) AS BIGINT) AS v,
        |         user_id % 2 AS side
        |  FROM events
        |), perv AS (
        |  SELECT event_type, v,
        |         CAST(SUM(1 - side) AS BIGINT) AS ca,
        |         CAST(SUM(side) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type,
        |    CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY v
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumA,
        |    CAST(SUM(cb) OVER (PARTITION BY event_type ORDER BY v
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumB,
        |    CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS ta,
        |    CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS tb
        |  FROM perv
        |)
        |SELECT event_type, MAX(ta) AS n_a, MAX(tb) AS n_b,
        |  CAST(MAX(abs(CAST(cumA AS DECIMAL(19,0)) * CAST(tb AS DECIMAL(19,0)) -
        |               CAST(cumB AS DECIMAL(19,0)) * CAST(ta AS DECIMAL(19,0))))
        |       AS DOUBLE) /
        |  CAST(CAST(MAX(ta) AS DECIMAL(19,0)) * CAST(MAX(tb) AS DECIMAL(19,0))
        |       AS DOUBLE) AS ks
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
