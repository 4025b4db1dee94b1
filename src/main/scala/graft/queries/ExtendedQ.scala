package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import Qx._

/** Remaining SURVEY §2 surface: catalog DDL + degenerate append
  * (S3/S5), lake-table stage handoff (S14), keyword-filtered crop
  * selection (P6/M5), array-HOF aggregate mean (A1), OCR page-text
  * assembly (M2/F2), layout figure-first (P7/M7/M13), and the
  * session/sliding event-time windows the survey declares as streaming
  * extensions (computed here in batch; the same expressions run under
  * readStream). */
object ExtendedQ {

  val queries: Map[String, Q] = Map(
    // S3/S5 — Spark-SQL DDL (the CQL-replacement seam) + bulk and
    // single-row appends into the managed table, read back
    "q58_table_ddl" -> ((s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_lake")
      s.sql("DROP TABLE IF EXISTS graft_lake.region_copy")
      // explicit fresh LOCATION: the session catalog is in-memory (no
      // Hive metastore here), so a leftover warehouse dir from an
      // earlier JVM would otherwise collide with CREATE
      val loc = Qx.tempDir("graft-ddl").resolve("region_copy")
      s.sql("CREATE TABLE graft_lake.region_copy (r_regionkey INT, r_name STRING) " +
        s"USING parquet LOCATION '$loc'")
      Tables.region(s, d).write.mode("append").insertInto("graft_lake.region_copy")
      import s.implicits._
      Seq((99, "REGION_99")).toDF("r_regionkey", "r_name")
        .write.mode("append").insertInto("graft_lake.region_copy")
      s.table("graft_lake.region_copy").orderBy("r_regionkey")
    }),

    // S14 — /tmp file handoff replaced by a lake-table checkpoint
    // between pipeline stages
    "q59_stage_checkpoint" -> ((s, d) => {
      val stage = Qx.tempDir("graft-stage").resolve("stage1").toString
      Tables.orders(s, d).filter(col("o_totalprice") > 100000)
        .select(col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(stage)
      s.read.parquet(stage)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")
    }),

    // lake maintenance — schema evolution: two parquet batches with
    // different column sets read back under mergeSchema; the late
    // column is null for early rows
    "q94_schema_merge" -> ((s, d) => {
      val dir = Qx.tempDir("graft-evolve").resolve("t").toString
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") < 5000)
        .select(col("event_id"), col("event_type"))
        .write.mode("overwrite").parquet(dir)
      ev.filter(col("event_id") >= 5000)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          dsum(coalesce(col("value"), lit(0d))).as("total"))
        .orderBy("event_type")
    }),

    // lake maintenance — small-file compaction: a fragmented write
    // (one file per shuffle partition) rewritten into 4 files;
    // contents must be identical, file count must actually shrink
    "q95_compaction" -> ((s, d) => {
      val frag = Qx.tempDir("graft-frag").resolve("t").toString
      val compact = Qx.tempDir("graft-compact").resolve("t").toString
      Tables.events(s, d).repartition(32, col("event_id"))
        .write.mode("overwrite").parquet(frag)
      val before = s.read.parquet(frag)
      before.coalesce(4).write.mode("overwrite").parquet(compact)
      val nFrag = new java.io.File(frag).listFiles().count(_.getName.endsWith(".parquet"))
      val nComp = new java.io.File(compact).listFiles().count(_.getName.endsWith(".parquet"))
      require(nComp < nFrag, s"compaction did not shrink files: $nFrag -> $nComp")
      s.read.parquet(compact)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // skew mitigation as a gated query: the salted join must be
    // result-identical to the plain equi-join (salting is a plan
    // rewrite, not new semantics)
    "q98_salted_join" -> ((s, d) =>
      graft.operators.Skew.saltedJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        Seq("l_orderkey"), nSalts = 8)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("o_custkey")),

    // skew mitigation for hot GROUP BY keys: two-phase salted
    // aggregation (partials on (key, salt), merge on key) must be
    // result-identical to the plain groupBy — sums ride an exact
    // decimal so the two-phase reassociation cannot drift
    "q139_salted_agg" -> ((s, d) =>
      graft.operators.Skew.saltedAgg(
        Tables.events(s, d).select(col("event_type"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v")),
        "event_type", nSalts = 8, countAs = "n", sumCol = "v", sumAs = "total_dec")
        .select(col("event_type"), col("n"), col("total_dec").cast("double").as("total"))
        .orderBy("event_type")),

    // SQL front-end end-to-end: the same engine driven entirely
    // through spark.sql over registered views — multi-CTE pipeline
    // with a join, a window, and an aggregate; proves the textual
    // surface (incl. Catalyst planning of the registered views) works
    // exactly like the DataFrame API
    "q101_sql_pipeline" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      s.sql(
        """WITH ranked AS (
          |  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
          |         row_number() OVER (PARTITION BY c.c_mktsegment
          |                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
          |  FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          |)
          |SELECT c_mktsegment, COUNT(*) AS n,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_total
          |FROM ranked WHERE rk <= 10
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    // RECURSIVE CTE through spark.sql (r13): Spark 4's WITH RECURSIVE
    // (UnionLoop) walking the synthetic user graph — per-hop count of
    // distinct nodes reachable from node 0 within 3 hops, the
    // breadth-first shape every hierarchy/graph-closure query takes.
    // Bounded recursion (hop guard in the recursive branch), dedup in
    // the outer aggregate. Identical SQL text runs on DuckDB.
    "q253_recursive_cte" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("v_events")
      s.sql(
        """WITH RECURSIVE edges AS (
          |  SELECT DISTINCT user_id AS src,
          |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst
          |  FROM v_events
          |), walk (node, hop) AS (
          |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
          |  UNION ALL
          |  SELECT e.dst, w.hop + 1
          |  FROM walk w JOIN edges e ON e.src = w.node
          |  WHERE w.hop < 3
          |)
          |SELECT hop, COUNT(DISTINCT node) AS n_reachable
          |FROM walk GROUP BY hop ORDER BY hop""".stripMargin)
    }),

    // bucketed co-located join as a gated query: both sides bucketed
    // 8 ways on the join key, so the join runs shuffle-free (the
    // no-Exchange property is asserted in ScaleSpec; here the gate
    // proves the results are identical to the plain join)
    "q99_bucketed_join" -> ((s, d) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_lake")
      s.sql("DROP TABLE IF EXISTS graft_lake.orders_bq")
      s.sql("DROP TABLE IF EXISTS graft_lake.customer_bq")
      val root = Qx.tempDir("graft-bucket")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", root.resolve("orders_bq").toString)
        .mode("overwrite").format("parquet").saveAsTable("graft_lake.orders_bq")
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", root.resolve("customer_bq").toString)
        .mode("overwrite").format("parquet").saveAsTable("graft_lake.customer_bq")
      s.table("graft_lake.orders_bq")
        .join(s.table("graft_lake.customer_bq"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    // lake maintenance — CDC apply through the transactional lake
    // module: create the table, MERGE the change set (deletes + upserts
    // keyed on event_id), read the resulting snapshot. The MERGE is
    // LakeTable.merge's anti-join + union rewrite committed through the
    // atomic manifest log (lake/LakeTable.scala).
    "q96_cdc_apply" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val table = graft.lake.LakeTable.createTemp(s, base, "graft-cdc")
      // deterministic change set: delete ids ending in 7, upsert ids
      // ending in 3 with value*2 and type 'patched'
      val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
      val upserts = base.filter(col("event_id") % 10 === 3)
        .select(col("event_id"), lit("patched").as("event_type"),
          (col("value") * 2).as("value"))
      table.merge(upserts, Seq("event_id"), Some(deletes))
      table.snapshot()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake maintenance — time travel through the lake module: commit
    // v2 as an overwrite that drops rows, then read v1. Data dirs are
    // immutable; the v1 manifest still serves the original table.
    "q97_snapshot_read" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val table = graft.lake.LakeTable.createTemp(s, base, "graft-versions")
      table.overwrite(base.filter(col("event_id") % 10 =!= 7)) // v2
      table.snapshot().count() // v2 is current and readable...
      table.snapshot(1L)       // ...but time travel still serves v1's rows
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — version history across a MERGE: both the pre-MERGE and
    // post-MERGE snapshots, aggregated side by side from one table.
    // Proves time travel returns exactly the pre-MERGE rows after the
    // log has moved on (VERDICT r4 #1d).
    "q105_time_travel_merge" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val table = graft.lake.LakeTable.createTemp(s, base, "graft-tt")
      val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
      val upserts = base.filter(col("event_id") % 10 === 3)
        .select(col("event_id"), lit("patched").as("event_type"),
          (col("value") * 2).as("value"))
      val v2 = table.merge(upserts, Seq("event_id"), Some(deletes))
      def agg(df: org.apache.spark.sql.DataFrame, v: Long) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .withColumn("version", lit(v))
      agg(table.snapshot(1L), 1L).unionByName(agg(table.snapshot(v2), 2L))
        .select(col("version"), col("event_type"), col("n"), col("total"))
        .orderBy("version", "event_type")
    }),

    // range/interval overlap join — the named Spark-lacking operator,
    // as a bucketed equi-join (never a nested loop; PlanAuditSpec
    // walks this plan). Oracle is the brute-force theta join, so the
    // hash match proves the bucket decomposition is complete AND the
    // first-shared-bucket dedup emits each pair exactly once.
    "q118_interval_join" -> ((s, d) => {
      val ints = Tables.events(s, d).filter(col("event_id") < 1500)
        .select(col("event_id").as("id"),
          ((col("event_id") % 400) * 7).as("s"))
        .withColumn("e", col("s") + (col("id") % 37) + 1)
      graft.operators.Intervals.overlapJoin(ints, ints, bucket = 32,
          selfPairs = true)
        .orderBy("a_id", "b_id")
    }),

    // relational reshaping — pivot to a wide per-user metrics frame,
    // then unpivot (melt) back to long: the round trip must reproduce
    // the plain group-by exactly (absent combos surface as nulls in
    // the wide frame and are dropped on the way back)
    "q116_pivot_roundtrip" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
      wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
        .filter(col("n").isNotNull)
        .orderBy("user_id", "event_type")
    }),

    // source format — ORC round-trip (the second columnar format the
    // engine speaks natively besides parquet; same pushdown/pruning
    // machinery, verified in PushdownSpec for parquet): write events
    // as ORC, read back with a pushable filter, aggregate
    "q115_orc_roundtrip" -> ((s, d) => {
      val dir = Qx.tempDir("graft-orc").resolve("events").toString
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — vacuum under the gate: after GC of the old versions the
    // live snapshot must be byte-identical to the pre-vacuum state
    // (only history disappears, never current data)
    "q113_vacuum_read" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val table = graft.lake.LakeTable.createTemp(s, base, "graft-vac")
      table.append(base.filter(col("event_id") % 10 === 0)) // v2
      table.overwrite(base.filter(col("event_id") % 10 =!= 7)) // v3
      val (dropped, deleted) = table.vacuum(retainVersions = 1)
      require(dropped == 2 && deleted >= 1, s"vacuum did nothing: $dropped/$deleted")
      table.snapshot()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — data skipping via per-commit min/max column stats: five
    // appends each covering a disjoint eid_mod range record their
    // ranges in the manifest; a narrow range filter on the snapshot
    // opens exactly ONE of the five directories (LakeScanSpec pins it
    // by files read), and its result equals the plain filtered scan
    // the oracle runs. This is the manifest-level half of the skipping
    // story (parquet row-group min/max is the other half, PushdownSpec)
    "q131_stats_skip" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), (col("event_id") % 1000).as("eid_mod"),
          col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        base.filter(col("eid_mod") < 200), "graft-skip", statsCols = Seq("eid_mod"))
      (1 to 4).foreach { i =>
        t.append(base.filter(col("eid_mod") >= i * 200 && col("eid_mod") < (i + 1) * 200),
          statsCols = Seq("eid_mod"))
      }
      t.snapshot()
        .filter(col("eid_mod") >= 450 && col("eid_mod") <= 549)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — row-level version diff (CDC read): what changed between
    // the pre-MERGE and post-MERGE snapshots. Immutable dirs make the
    // diff incremental (shared dirs cancel without being read); the
    // oracle recomputes the added/removed multisets from the fixture's
    // closed-form change set
    "q133_version_diff" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-diff")
      val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
      val upserts = base.filter(col("event_id") % 10 === 3)
        .select(col("event_id"), lit("patched").as("event_type"),
          (col("value") * 2).as("value"))
      val v2 = t.merge(upserts, Seq("event_id"), Some(deletes))
      t.diff(1L, v2)
        .groupBy(col("change"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("change", "event_type")
    }),

    // lake — INCREMENTAL aggregate maintenance: the v2 aggregate is
    // produced from the v1 aggregate plus signed deltas over
    // diff(v1, v2) — v2 itself is never rescanned (at 100 TB the diff
    // reads only rewritten dirs; an append's delta reads one dir).
    // All totals stay in exact decimal space until one final double
    // cast, so the incrementally-maintained result is bit-identical
    // to the oracle's full recompute of v2
    "q135_incremental_agg" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-inc")
      val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
      val upserts = base.filter(col("event_id") % 10 === 3)
        .select(col("event_id"), lit("patched").as("event_type"),
          (col("value") * 2).as("value"))
      val v2 = t.merge(upserts, Seq("event_id"), Some(deletes))
      val aggV1 = t.snapshot(1L).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n1"), sum(col("value").cast(dec)).as("t1"))
      val delta = t.diff(1L, v2).groupBy(col("event_type"))
        .agg(sum(when(col("change") === "added", 1L).otherwise(-1L)).as("dn"),
          sum(when(col("change") === "added", col("value").cast(dec))
            .otherwise(-col("value").cast(dec))).as("dt"))
      aggV1.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("t1"), lit(0).cast(dec)) + coalesce(col("dt"), lit(0).cast(dec)))
            .cast("double").as("total"))
        .filter(col("n") > 0)
        .orderBy("event_type")
    }),

    // lake — schema evolution through the commit log: v1 writes two
    // columns, the append brings a third; the declared schema merges
    // at commit (Delta mergeSchema shape) and the snapshot resolves
    // against the LOG schema, so pre-evolution rows surface the new
    // column as null — no footer-based mergeSchema scan anywhere
    "q137_schema_evolution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 2 === 0).select(col("event_id"), col("value")),
        "graft-evolve2")
      t.append(ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("value"), col("event_type")))
      t.snapshot()
        .groupBy(coalesce(col("event_type"), lit("pre-evolution")).as("etype"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("etype")
    }),

    // integer-exact PageRank over a deterministic link graph derived
    // from events (src = user, dst = scattered target): 3 damped
    // rounds, every quantity a BIGINT at the 10^12 scale, every
    // division integer — bit-identical in any engine, no IEEE
    // accumulation anywhere. The oracle unrolls the same 3 rounds as
    // chained CTEs
    "q136_pagerank" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
        col("user_id").as("src"),
        ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst"))
      graft.operators.LinkAnalysis.pageRankInt(edges, iters = 3)
        .orderBy("node")
    }),

    // Triangle enumeration (r13) over the q136 synthetic graph:
    // id-oriented canonical edges make each triangle appear exactly
    // once as x<y<z; wedge + closure are both hash equi-joins on a
    // single vertex key. The companion per-node rollup is the
    // clustering-coefficient numerator.
    "q225_triangles" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
        col("user_id").as("src"),
        ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst"))
      graft.operators.LinkAnalysis.triangles(edges)
        .orderBy("x", "y", "z")
    }),

    // Local clustering coefficient (r13): q225's triangles exploded
    // back to their corners over the degree table — one exact IEEE
    // division per node, NULL below degree 2.
    "q228_clustering_coeff" -> ((s, d) => {
      val edges = Tables.events(s, d).select(
        col("user_id").as("src"),
        ((col("user_id") * 3 + col("event_id") % 5 + 1) % 150).as("dst"))
      graft.operators.LinkAnalysis.clusteringCoefficient(edges)
        .orderBy("node")
    }),

    // lake — CHANGE FEED across a version range: the CDC read a
    // downstream consumer tails instead of rescanning snapshots. One
    // append (reads only the appended dir) + one delete-only merge
    // (full-rewrite compare), each change tagged with its introducing
    // version; the oracle states the closed-form change set
    "q151_change_feed" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        base.filter(col("event_id") % 4 =!= 0), "graft-cdc")
      t.append(base.filter(col("event_id") % 4 === 0)) // v2: adds
      val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
      t.merge(base.limit(0), Seq("event_id"), Some(deletes)) // v3: removes
      t.changeFeed(1L, 3L)
        .groupBy(col("version"), col("change"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("version", "change", "event_type")
    }),

    // lake — INCREMENTAL VIEW MAINTENANCE (r13): a rollup materialized
    // at v1 is kept current by folding the CHANGE FEED's +added/
    // −removed deltas (integer cents, so increments are exact and
    // associative) instead of rescanning the table — the consumer
    // pattern q151's CDC read exists for, and the reason it matters at
    // 100 TB: the delta pass reads only what commits v2..v3 touched.
    // Maintained ≡ full recompute (both exceptAll directions empty) is
    // pinned by ServedTwinSpec.
    "q254_incremental_rollup" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val cents = col("value").cast(DecimalType(18, 2)) * lit(100)
      val t = graft.lake.LakeTable.createTemp(s,
        base.filter(col("event_id") % 4 =!= 0), "graft-ivm")
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(cents).cast("long").as("cents"))
      val r1 = rollup(t.snapshot(1L))
      t.append(base.filter(col("event_id") % 4 === 0))
      t.merge(base.limit(0), Seq("event_id"),
        Some(base.filter(col("event_id") % 10 === 7).select(col("event_id"))))
      val delta = t.changeFeed(1L, 3L)
        .groupBy(col("event_type"))
        .agg(sum(when(col("change") === "added", 1L).otherwise(-1L)).as("dn"),
          sum(when(col("change") === "added", cents).otherwise(-cents))
            .cast("long").as("dcents"))
      val maintained = r1.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("cents"), lit(0L)) +
            coalesce(col("dcents"), lit(0L))).as("cents"))
        .filter(col("n") > 0)
      maintained.select(col("event_type"), col("n"),
        (col("cents").cast("double") / lit(100.0)).as("total"))
        .orderBy("event_type")
    }),

    // TEXTRANK KEYWORDS (r13): the composition flagship — documents →
    // adjacent-token co-occurrence graph (lead window per doc, both
    // directions, letter-only tokens) → the SAME integer-exact
    // PageRank q136 runs on the user graph → top-20 words. One
    // operator reused on a different node type (strings), oracle =
    // the generic unrolled-rounds SQL over the word-graph CTE.
    "q256_textrank" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val pairs = toks.withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull &&
          col("tok").rlike("^[a-z]+$") && col("nxt").rlike("^[a-z]+$") &&
          col("tok") =!= col("nxt"))
      val edges = pairs.select(col("tok").as("src"), col("nxt").as("dst"))
        .union(pairs.select(col("nxt").as("src"), col("tok").as("dst")))
      graft.operators.LinkAnalysis.pageRankInt(edges, iters = 3)
        .orderBy(desc("score"), asc("node"))
        .limit(20)
        .withColumnRenamed("node", "word")
    }),

    // DYNAMIC PARTITION OVERWRITE (r13): the partitioned-write mode a
    // backfill job needs — overwriting a partitioned table replaces
    // ONLY the partitions present in the incoming data (here: click
    // values doubled), every other partition's files untouched. Under
    // static mode the same write would wipe the table; the row-count
    // require would catch exactly that.
    "q255_dynamic_overwrite" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val root = Qx.tempDir("graft-dynov").resolve("t")
      ev.write.partitionBy("event_type").parquet(root.toString)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        ev.filter(col("event_type") === "click")
          .withColumn("value", col("value") * lit(2.0)) // *2 is IEEE-exact
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(root.toString)
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      val back = s.read.parquet(root.toString)
      require(back.count() == ev.count(),
        "dynamic overwrite must leave untouched partitions intact")
      back.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // PageRank TO CONVERGENCE (VERDICT r7 next #5) on a closed-form
    // ring+star graph: tol = Some(0) is a true integer fixpoint (exact
    // BIGINT deltas, no epsilon), the budget fail-loud. Ring nodes are
    // a fixpoint from the start (od = in = 1 keeps score at Scale:
    // 0.15S + 0.85S exact at the 10^12 scale); star leaves drop to the
    // base term after round 1; the center stabilizes in round 2 at
    // Base + 85*Base (100 leaves, the DIV 100 cancelling exactly), so
    // round 3 proves the fixpoint and the loop stops well inside the
    // budget. The oracle states the closed-form fixpoint directly
    "q146_pagerank_converged" -> ((s, d) => {
      val ring = s.range(50)
        .select(col("id").as("src"), ((col("id") + 1) % 50).as("dst"))
      val star = s.range(100, 200)
        .select(col("id").as("src"), lit(99L).as("dst"))
      graft.operators.LinkAnalysis.pageRankInt(
        ring.union(star), iters = 8, tol = Some(0L))
        .orderBy("node")
    }),

    // z-order layout arithmetic: Morton-interleave two scattered
    // dimensions and aggregate per curve segment (z >> 28) — min/max
    // of BOTH source dimensions stay narrow within a segment, which
    // is what makes z-sorted lake files prunable on either column
    // (ZOrderSpec demonstrates the 2-D pruning on a real LakeTable;
    // this query gates the bit arithmetic against DuckDB's shifts)
    "q132_zorder_layout" -> ((s, d) => {
      val pts = Tables.events(s, d).select(
        ((col("event_id") * 40503) % 65536).as("x"),
        ((col("user_id") * 48271 + col("event_id")) % 65536).as("y"))
      pts.withColumn("z", graft.functions.ZOrder.interleave(col("x"), col("y")))
        .groupBy(shiftright(col("z"), 28).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          sum(col("z")).as("z_sum"))
        .orderBy("bucket")
    }),

    // lake — OPTIMIZE ZORDER as a user-callable maintenance op (q132
    // gates the Morton arithmetic, ZOrderSpec pins the grid; this
    // gates the END-TO-END rewrite): build a single-directory
    // unclustered table over two decorrelated dimensions, z-optimize
    // it into 16 stat-carrying directories, and answer a 2-D range
    // query with a plain filter, which skips on BOTH columns
    // (LakeScanSpec pins it by files read). The oracle replays the
    // same predicate over the raw rows — hash identity proves the
    // rewrite was layout-only
    "q178_zorder_optimize" -> ((s, d) => {
      val base = Tables.events(s, d).select(
        col("event_id"), (col("event_id") % 1000).as("a"),
        ((col("user_id") * 48271 + col("event_id")) % 1000).as("b"),
        col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-zoq")
      t.optimizeZOrder(Seq("a", "b"), buckets = 16)
      t.snapshot()
        .filter(col("a").between(100, 199) && col("b").between(100, 199))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — bloom-filter point-lookup skipping (the equality analog
    // of q131's range skipping, the public Delta bloom-index idea):
    // five appended directories hold DISJOINT key ranges, each commit
    // records a per-directory bloom over the key, and the point filter
    // prunes to (nearly) one directory before reading (LakeScanSpec
    // pins it by files read). The oracle replays the equality
    // predicate over the raw rows — hash identity proves skipping
    // never loses a matching row
    "q179_bloom_point_lookup" -> ((s, d) => {
      val base = Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 500).as("k"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s, base.filter(col("k") < 100),
        "graft-bpl", bloomCols = Seq("k"))
      (1 to 4).foreach { i =>
        t.append(base.filter(col("k") >= i * 100 && col("k") < (i + 1) * 100),
          bloomCols = Seq("k"))
      }
      t.snapshot()
        .filter(col("k") === 237)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // P6/M5 — keyword-filtered crop selection: first detection per
    // page whose text matches (explode -> filter -> rn = 1)
    "q60_crop_select" -> ((s, d) => {
      val w = Window.partitionBy("page_id").orderBy("line_id")
      GridQ.ocrLines(s, d)
        .filter(col("text").contains("2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("page_id"), col("line_id"), col("text"))
        .orderBy("page_id")
    }),

    // A1 — aggregate/transform HOF mean (the exploded-patch mean
    // shape, ocr.py:80-89, kept entirely inside one projection)
    "q61_hof_mean" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("aggregate(transform(split(text, ' '), w -> length(w)), 0, (acc, x) -> acc + x)")
            .cast("long").as("sum_len"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("mean_len", col("sum_len") / col("n_tokens"))
        .orderBy("doc_id")),

    // M2/F2 — page text = OCR line texts joined in line order
    "q62_page_text" -> ((s, d) =>
      GridQ.ocrLines(s, d)
        .groupBy(col("page_id"))
        .agg(array_join(
          expr("transform(array_sort(collect_list(struct(line_id, text))), s -> s.text)"),
          " ").as("page_text"))
        .orderBy("page_id")),

    // P7/M7/M13 — layout-block Figure filter + first-figure-per-page
    // (graphData.py:104, first-match at :156-158)
    "q63_figure_first" -> ((s, d) => {
      val w = Window.partitionBy("page_id").orderBy("block_id")
      Tables.events(s, d).filter(col("event_id") < 5000)
        .select((col("event_id") % 200).as("page_id"), col("event_id").as("block_id"),
          element_at(
            array(lit("Text"), lit("Title"), lit("List"), lit("Table"), lit("Figure")),
            (col("event_id") % 5 + 1).cast("int")).as("block_type"))
        .filter(col("block_type") === "Figure")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("page_id"), col("block_id"), col("block_type"))
        .orderBy("page_id")
    }),

    // streaming-extension semantics in batch: session windows (1h gap)
    "q64_session_window" -> ((s, d) =>
      Tables.events(s, d).filter(col("user_id") < 30)
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"))
        .orderBy("user_id", "session_start")),

    // streaming-extension semantics in batch: DYNAMIC-GAP session
    // windows — the gap is a per-ROW expression (clicks/views cool off
    // in 10 minutes, everything else holds the session for an hour),
    // so a session's end is the RUNNING MAX of ts+gap(event), not
    // last+constant. The oracle states exactly that: new session when
    // ts >= max(ts+gap) over all preceding rows of the key
    "q190_dynamic_sessions" -> ((s, d) =>
      Tables.events(s, d).filter(col("user_id") < 30)
        .groupBy(col("user_id"), session_window(col("ts"),
          when(col("event_type").isin("click", "view"), "10 minutes")
            .otherwise("1 hour")))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n"))
        .orderBy("user_id", "session_start")),

    // streaming-extension semantics in batch: sliding windows (2d / 1d)
    "q65_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .count()
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("count").as("n"))
        .orderBy("day", "event_type")),

    // lake — Delta wire-format round trip (VERDICT r7 next #1): build a
    // multi-version lake table, export the snapshot as a standalone
    // Delta table (parquet + spec-conformant _delta_log JSON any
    // external Delta reader opens), then read it back THROUGH THE LOG
    // REPLAY path — live-file set from add actions, schema from
    // metaData's schemaString, never footer inference. The oracle
    // recomputes the same aggregate from the source rows, so the hash
    // gate proves export → log replay → scan loses nothing
    "q144_delta_roundtrip" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        base.filter(col("event_id") % 10 =!= 7), "graft-dexp")
      t.append(base.filter(col("event_id") % 10 === 7)) // v2: full set again
      val dest = Qx.tempDir("graft-delta-q").resolve("t")
      val nFiles = graft.lake.DeltaInterop.exportSnapshot(t, dest)
      require(nFiles > 0, "delta export wrote no data files")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — PARTITIONED Delta round trip (VERDICT r8 next #2): export
    // with hive-layout partition directories + add.partitionValues (the
    // shape most production Delta tables have), then read back through
    // log replay, which reconstructs the partition column as typed
    // literals per partition group — the values live in the LOG, not
    // the parquet files. The oracle recomputes per-row output from the
    // source, so the hash gate proves the reconstructed column is
    // value-identical to the original, null partitions included
    "q157_partitioned_delta" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 5 === 0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-pdx")
      val dest = Qx.tempDir("graft-pdelta-q").resolve("t")
      val n = graft.lake.DeltaInterop.exportSnapshot(t, dest,
        partitionBy = Seq("o_orderpriority"))
      require(n > 0, "partitioned delta export wrote no data files")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // lake — ICEBERG wire-format round trip (VERDICT r8 next #4, the
    // second half of BASELINE.json:7's "Delta/Iceberg"): export a lake
    // snapshot as a spec-shaped v1 Iceberg table (parquet + JSON table
    // metadata + Avro manifest list + Avro manifest, no connector jar —
    // avro ships with Spark), then read it back through the real
    // metadata chain: version-hint → metadata.json → snapshot →
    // manifest list → manifests → live files with the DECLARED schema.
    // The oracle recomputes the aggregate from the source rows, so the
    // hash gate proves the whole chain loses nothing
    "q160_iceberg_roundtrip" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("event_id") % 3 === 0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-icex")
      val dest = Qx.tempDir("graft-iceberg-q").resolve("t")
      val nFiles = graft.lake.IcebergInterop.exportSnapshot(t, dest)
      require(nFiles > 0, "iceberg export wrote no data files")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — IDENTITY-PARTITIONED Iceberg round trip (q157's shape on
    // the Iceberg side): per-tuple data directories + typed partition
    // records in the manifest + the identity spec in the metadata; the
    // read is a FLAT scan because Iceberg's hidden partitioning keeps
    // partition source columns physically in the files (guarded
    // against hive-migrated layouts by a footer check). The oracle
    // recomputes from the source rows, proving the partition column
    // survives the round trip value-identical
    "q161_iceberg_partitioned" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 7 === 0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-icepx")
      val dest = Qx.tempDir("graft-icepart-q").resolve("t")
      val n = graft.lake.IcebergInterop.exportSnapshot(t, dest,
        identityPartitionBy = Seq("o_orderpriority"))
      require(n > 0, "partitioned iceberg export wrote no data files")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // lake — Iceberg SNAPSHOT TIME TRAVEL over an exported history
    // (q112/q133's shape through the Iceberg wire format): lake
    // version v becomes snapshot-id v, one manifest per immutable data
    // dir (reused across manifest lists, never rewritten — Iceberg's
    // own design), data files hard-linked. Reading snapshots 1 and 2
    // must reproduce the two lake states exactly; the oracle states
    // both in closed form
    "q162_iceberg_time_travel" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        base.filter(col("event_id") % 2 === 0), "graft-icett") // v1: evens
      t.append(base.filter(col("event_id") % 2 === 1)) // v2: all
      val dest = Qx.tempDir("graft-icett-q").resolve("t")
      require(graft.lake.IcebergInterop.exportHistory(t, dest) == 2,
        "expected 2 snapshots")
      def agg(df: org.apache.spark.sql.DataFrame, v: Long) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .withColumn("version", lit(v))
      agg(graft.lake.IcebergInterop.readIceberg(s, dest, 1L), 1L)
        .unionByName(agg(graft.lake.IcebergInterop.readIceberg(s, dest, 2L), 2L))
        .select(col("version"), col("event_type"), col("n"), col("total"))
        .orderBy("version", "event_type")
    }),

    // lake — Iceberg v2 POSITION DELETES round trip: export writes the
    // snapshot's rows as data files plus a spec-shaped position-delete
    // file (file_path + pos with the reserved column ids, content=1
    // delete manifest, sequence numbers in the v2 metadata) for every
    // row matching the predicate; the read applies the deletes as a
    // distributed anti-join on (path, `_metadata.row_index`). The
    // oracle recomputes the aggregate from the source with the inverse
    // predicate, so the hash gate proves delete application is exact —
    // no resurrected rows, no over-deletion
    "q166_iceberg_pos_deletes" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("event_id") % 3 === 1)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-icev2x")
      val dest = Qx.tempDir("graft-icev2-q").resolve("t")
      val (nFiles, nDeleted) = graft.lake.IcebergInterop.exportSnapshotV2(
        t, dest, col("event_type") === "error")
      require(nFiles > 0 && nDeleted > 0,
        s"expected data files and deleted rows, got ($nFiles, $nDeleted)")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — DELTA DELETION VECTORS (VERDICT r9 next #4): export a
    // PARTITIONED Delta table whose adds carry DV descriptors (protocol
    // 3/7 with readerFeatures=[deletionVectors] — the default output of
    // current Delta writers), then read it back: log replay resolves
    // each descriptor to its roaring bitmap and the deleted positions
    // are subtracted by a distributed anti-join on
    // (file_path, _metadata.row_index). o_orderpriority includes
    // '4-NOT SPECIFIED' — a partition value the URI form of file_path
    // escapes — so the hash gate also proves the encoded-space path
    // matching (literal vs %20) loses no file's vector
    "q194_delta_deletion_vectors" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 3 === 0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-dvx")
      val dest = Qx.tempDir("graft-dv-q").resolve("t")
      val (nFiles, nDeleted) = graft.lake.DeltaInterop.exportSnapshotDV(
        t, dest, col("o_totalprice") > 200000.0,
        partitionBy = Seq("o_orderpriority"))
      require(nFiles > 0 && nDeleted > 0,
        s"expected data files and DV-deleted rows, got ($nFiles, $nDeleted)")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // lake — ICEBERG EQUALITY DELETES (VERDICT r9 next #5): export the
    // Flink-CDC upsert shape — data at sequence 1, then ONE commit at
    // sequence 2 carrying both an equality-delete file on event_id
    // (errors + every upsert key) and the replacement rows. The reader
    // applies equality deletes only to data files with a STRICTLY
    // LOWER data sequence number, so the seq-2 upserts survive the
    // seq-2 delete that kills their seq-1 predecessors; the oracle
    // recomputes survivors + upserts from the source, so the hash gate
    // proves the strict ordering (a <= reader loses every upsert; an
    // ordering-blind one resurrects the old rows too)
    "q195_iceberg_equality_deletes" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("event_id") % 4 === 1)
      val upserts = base.filter(col("event_id") % 9 === 0)
        .withColumn("value", col("value") + 1000.0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-eqx")
      val dest = Qx.tempDir("graft-eqdel-q").resolve("t")
      val (nFiles, nKeys) = graft.lake.IcebergInterop.exportSnapshotV2CDC(
        t, dest, Seq("event_id"), col("event_type") === "error", upserts)
      require(nFiles > 0 && nKeys > 0,
        s"expected data files and delete keys, got ($nFiles, $nKeys)")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — ICEBERG DAY-TRANSFORM PARTITIONS (VERDICT r9 next #6):
    // export events partitioned by day(ts) (hidden partitioning: the
    // files keep ts physically, the manifests carry the transformed
    // day), then read a 5-day window through readIcebergPruned —
    // manifest-level file skipping, asserted here (the scan must touch
    // fewer files than the table holds) so the hash gate only passes
    // when pruning actually pruned AND lost no in-range row
    "q196_iceberg_day_partitions" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-dayx")
      val dest = Qx.tempDir("graft-day-q").resolve("t")
      val n = graft.lake.IcebergInterop.exportSnapshot(t, dest,
        transformPartitionBy = Seq("ts" -> "day"))
      require(n > 0, "day-partitioned iceberg export wrote no data files")
      val total = graft.lake.IcebergInterop.readIceberg(s, dest).inputFiles.length
      val pruned = graft.lake.IcebergInterop.readIcebergPruned(s, dest, "ts",
        java.time.LocalDate.of(2024, 1, 10), java.time.LocalDate.of(2024, 1, 14))
      require(pruned.inputFiles.length < total,
        s"manifest pruning scanned ${pruned.inputFiles.length}/$total files")
      pruned
        .filter(col("ts") >= "2024-01-10 00:00:00" && col("ts") < "2024-01-15 00:00:00")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("day")
    }),

    // lake — DELTA COLUMN MAPPING (the renamed-column production
    // layout): export a PARTITIONED name-mode table — parquet files
    // store col-<uuid> physical names, partitionValues/hive dirs key
    // by the physical name, metaData.partitionColumns stays logical,
    // protocol (2,5) — and read it back: the scan runs in physical
    // space and surfaces logical names. The oracle recomputes per-row
    // output from the source, so the hash gate proves the mapping
    // loses nothing and the reconstructed partition column is
    // value-identical
    "q197_delta_column_mapping" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .filter(col("o_orderkey") % 6 === 0)
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-cmx")
      val dest = Qx.tempDir("graft-cm-q").resolve("t")
      val n = graft.lake.DeltaInterop.exportSnapshotMapped(
        t, dest, partitionBy = Seq("o_orderpriority"))
      require(n > 0, "column-mapped delta export wrote no data files")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // Funnel analysis (view → click → purchase): per user, the
    // earliest view, the earliest click STRICTLY AFTER it, the
    // earliest purchase strictly after that — per-step converted-user
    // counts via `EventAnalytics.funnelSteps` (per-stage conditional
    // min-aggregations on the user key, each stage's entry relation
    // materialized once and joined downstream as a user-keyed
    // dimension; differential-tested against a per-user reference
    // fold).
    "q200_funnel_steps" -> ((s, d) =>
      graft.operators.EventAnalytics
        .funnelSteps(Tables.events(s, d), Seq("view", "click", "purchase"))
        .orderBy("step")),

    // Windowed funnel (VERDICT r12 next #2) — the form every real
    // conversion funnel takes: a step only counts within Δt of the
    // previous step's entry (here 24 h per transition; the sf0.01
    // median transition gap is ~1.3 days, so the bound genuinely
    // bites and the counts differ from q200's). The window is one
    // more conjunct in the existing per-stage join filter — same
    // plan shape, still no per-user arrays.
    "q204_windowed_funnel" -> ((s, d) =>
      graft.operators.EventAnalytics
        .funnelSteps(Tables.events(s, d), Seq("view", "click", "purchase"),
          within = Seq(86400L, 86400L))
        .orderBy("step")),

    // Retention cohorts: users bucketed by the ISO week of their first
    // event; for every later active week, the (cohort, week-offset)
    // cell counts retained users. Two aggregations — distinct
    // (user, week) then first-week per user — both partitioned on
    // user_id before the final small (cohort, offset) rollup; the
    // events table is touched once and never carried per-user in
    // memory.
    "q201_retention_cohorts" -> ((s, d) => {
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .distinct()
      val first = wk.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      wk.join(first, "user_id")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          expr("datediff(week, cohort) div 7").as("week_offset"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "week_offset")
    }),

    // A/B experiment readout: users deterministically hash-split into
    // two arms (the q83 md5 idiom — no RNG, so assignment reproduces
    // on any engine), then per-arm reach, purchase conversion, and
    // decimal-exact purchase value. The arm column is derived in the
    // scan projection; both aggregations partition on arm (2 keys) —
    // at 100 TB the cost is the one events pass, not the rollup.
    "q202_ab_metrics" -> ((s, d) => {
      val arms = Tables.events(s, d).withColumn("arm",
        when(substring(md5(col("user_id").cast("string")), 1, 2) < "80",
          lit("A")).otherwise(lit("B")))
      val users = arms.groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val purch = arms.filter(col("event_type") === "purchase")
        .groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("n_purchasers"),
          dsum(col("value")).as("total_value"))
      users.join(purch, Seq("arm"), "left")
        .select(col("arm"), col("n_users"),
          coalesce(col("n_purchasers"), lit(0L)).as("n_purchasers"),
          coalesce(col("total_value"), lit(0.0)).as("total_value"),
          (coalesce(col("n_purchasers"), lit(0L)).cast("double") /
            col("n_users").cast("double")).as("conversion"))
        .orderBy("arm")
    }),

    // Any-order span conversion (r13): "did view AND click AND
    // purchase within 3 days of each other, in any order" — the
    // unordered complement of q200/q204, read on first occurrences.
    // Two shuffles ((user, type) min then user rollup), no arrays.
    "q211_span_conversion" -> ((s, d) =>
      graft.operators.EventAnalytics.spanConversion(
        Tables.events(s, d), Seq("view", "click", "purchase"),
        withinSeconds = 3L * 86400L)),

    // First-touch journey paths (r13): the order in which each user
    // first met each event type, counted by path — the Sankey rollup.
    // The per-user list is bounded by the event-type DIMENSION (5
    // here), the one place collect_list is scale-safe; tie order is
    // engine-exact via zero-padded epoch|type sort keys.
    "q212_event_paths" -> ((s, d) =>
      graft.operators.EventAnalytics.firstTouchPaths(Tables.events(s, d))
        .orderBy(desc("n_users"), col("path"))),

    // Weekly churn/resurrection cohorts (VERDICT r12 next #6 — the
    // q201 retention skeleton completed): every (week, user) activity
    // cell classified new/retained/resurrected from the lag over the
    // user partition, plus a churned cell at w+7 for activity gaps,
    // bounded to the last observed week.
    "q207_churn_cohorts" -> ((s, d) =>
      graft.operators.EventAnalytics.weeklyChurn(Tables.events(s, d))
        .orderBy("week", "status")),

    // Co-occurrence lift (r13): the association/recommender readout —
    // per-user type sets self-joined on the user key (output bounded
    // by the type dimension²), lift from exact counts, one-row
    // user-universe broadcast.
    "q233_cooccurrence_lift" -> ((s, d) =>
      graft.operators.EventAnalytics.cooccurrenceLift(Tables.events(s, d))
        .orderBy("type_a", "type_b")),

    // Calendar resample + gap fill (r13): per type, a complete day
    // spine with zero-filled silent days and a 7-day trailing ROWS
    // window over the gapless grid.
    // Exact EWMA (r13): the smoothing pass after q234's gapless grid —
    // classic recursion in fixed-point 1e6 integers (truncating div,
    // identical in both engines), sequential per-group fold over a
    // days-bounded array. `operators/EventAnalytics.ewmaDaily`.
    "q246_ewma_daily" -> ((s, d) =>
      graft.operators.EventAnalytics.ewmaDaily(Tables.events(s, d),
        alphaDen = 8)
        .orderBy("event_type", "day")),

    "q234_resample_daily" -> ((s, d) =>
      graft.operators.EventAnalytics.resampleDaily(Tables.events(s, d))
        .orderBy("event_type", "day")),

    // First-order Markov transition matrix (r13): adjacent-event
    // (from, to) counts per user sequence with P(to|from) — the full-
    // sequence complement of q212's first-touch paths. One lag
    // window on the user partition, one type×type-bounded rollup.
    "q235_transition_matrix" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.EventAnalytics.transitionMatrix(
        ev, tsCol = "ts_us")
        .orderBy("from_type", "to_type")
    }),

    // Last-touch attribution (r13): every purchase credited to the
    // user's most recent preceding non-purchase event type — one
    // ignoreNulls last() carry over the user partition, no per-user
    // arrays, "(direct)" for untouched conversions.
    "q237_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      graft.operators.EventAnalytics.lastTouchAttribution(
        ev, convType = "purchase", tsCol = "ts_us")
        .orderBy("channel")
    }),

    // lake — ICEBERG PARTITION-SPEC EVOLUTION: the first era of the
    // table is partitioned identity(event_type); the spec then evolves
    // to day(ts) and the second era lands under it — old files are
    // NEVER rewritten (the spec's core promise), the current snapshot
    // unions manifests of both specs, and pruning applies each
    // manifest's OWN spec, keeping any manifest whose spec cannot
    // prove exclusion. Both prune directions are asserted to actually
    // skip files, and the hash gate proves neither direction lost an
    // in-range row from either era.
    "q203_iceberg_spec_evolution" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      val t = graft.lake.LakeTable.createTemp(s, base, "graft-evoq")
      val dest = Qx.tempDir("graft-evo-q").resolve("t")
      val (n0, n1) = graft.lake.IcebergInterop.exportSnapshotEvolved(t, dest,
        oldSpec = Seq("event_type" -> "identity"),
        newSpec = Seq("ts" -> "day"),
        oldWhere = col("ts") < "2024-01-08 00:00:00")
      require(n0 > 0 && n1 > 0, s"both spec eras must write files, got ($n0, $n1)")
      val total = graft.lake.IcebergInterop.readIceberg(s, dest).inputFiles.length
      val byDay = graft.lake.IcebergInterop.readIcebergPruned(s, dest, "ts",
        java.time.LocalDate.of(2024, 1, 10), java.time.LocalDate.of(2024, 1, 14))
      require(byDay.inputFiles.length < total,
        s"evolved-IN prune scanned ${byDay.inputFiles.length}/$total files")
      val byType = graft.lake.IcebergInterop.readIcebergPruned(
        s, dest, "event_type", "click", "click")
      require(byType.inputFiles.length < total,
        s"evolved-AWAY prune scanned ${byType.inputFiles.length}/$total files")
      byDay
        .filter(col("ts") >= "2024-01-10 00:00:00" && col("ts") < "2024-01-15 00:00:00")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("key"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(lit("by_day").as("probe"), col("key"), col("n"), col("total"))
        .unionByName(
          byType.filter(col("event_type") === "click")
            .groupBy(col("event_type").as("key"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
            .select(lit("by_type").as("probe"), col("key"), col("n"), col("total")))
        .orderBy("probe", "key")
    }),

    // lake — ICEBERG SNAPSHOT EXPIRY (VERDICT r12 next #5, the
    // Iceberg twin of q137's vacuum): a three-snapshot history
    // (create → append → compaction-style overwrite) exports with
    // SHARED manifests, then all but the current snapshot expire.
    // The requires pin the invariants that make expiry correct:
    // pre-expiry time travel to snapshot 1 reads, expiry physically
    // removes the manifests and data files only dropped snapshots
    // reached (the overwrite orphaned both earlier eras), post-expiry
    // time travel to an expired id refuses at snapshot resolution,
    // and the hash gate proves the surviving current read lost
    // nothing.
    "q206_snapshot_expiry" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val t = graft.lake.LakeTable.createTemp(s,
        orders.filter(col("o_orderkey") % 3 === 0), "graft-expq")
      t.append(orders.filter(col("o_orderkey") % 3 === 1))
      t.overwrite(orders.filter(col("o_orderkey") % 3 === 2))
      val dest = Qx.tempDir("graft-exp-q").resolve("t")
      val nSnaps = graft.lake.IcebergInterop.exportHistory(t, dest)
      require(nSnaps == 3, s"expected 3 exported snapshots, got $nSnaps")
      val first = t.versions.head
      require(graft.lake.IcebergInterop.readIceberg(s, dest, first).count() > 0,
        "pre-expiry time travel to the first snapshot must read")
      val res = graft.lake.IcebergInterop.expireSnapshots(dest, retainLast = 1)
      require(res.expired == t.versions.init,
        s"expected to expire ${t.versions.init}, got ${res.expired}")
      require(res.deletedManifests > 0 && res.deletedDataFiles > 0,
        s"overwrite-orphaned manifests/files must be removed, got $res")
      val refused =
        try { graft.lake.IcebergInterop.readIceberg(s, dest, first); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "time travel to an expired snapshot must refuse")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // lake — ICEBERG REFS (branches/tags, r13): a 3-snapshot history;
    // snapshot 1 is tagged "baseline", making time travel addressable
    // by NAME and — the retention rule that makes tags durable —
    // protecting it from expiry: retainLast=1 expires ONLY the
    // untagged middle snapshot. Dropping the tag re-exposes snapshot
    // 1 to the next expiry. The hash gate reads the current state.
    "q244_iceberg_refs" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val t = graft.lake.LakeTable.createTemp(s,
        orders.filter(col("o_orderkey") % 3 === 0), "graft-refq")
      t.append(orders.filter(col("o_orderkey") % 3 === 1))
      t.append(orders.filter(col("o_orderkey") % 3 === 2))
      val dest = Qx.tempDir("graft-ref-q").resolve("t")
      require(graft.lake.IcebergInterop.exportHistory(t, dest) == 3)
      val Seq(v1, v2, v3) = t.versions
      val ib = graft.lake.IcebergInterop
      ib.setRef(dest, "baseline", v1, "tag")
      val tagged = ib.readIcebergRef(s, dest, "baseline").count()
      require(tagged == ib.readIceberg(s, dest, v1).count(),
        "ref read must equal its snapshot's time travel")
      require(ib.refSnapshotId(dest, "main") == v3,
        "main must resolve to the current snapshot")
      val res = ib.expireSnapshots(dest, retainLast = 1)
      require(res.expired == Seq(v2),
        s"expiry must drop ONLY the untagged middle snapshot: $res")
      require(ib.readIcebergRef(s, dest, "baseline").count() == tagged,
        "the tagged snapshot must survive expiry and still read")
      ib.dropRef(dest, "baseline")
      require(ib.expireSnapshots(dest, retainLast = 1).expired == Seq(v1),
        "after dropRef the snapshot must expire normally")
      ib.readIceberg(s, dest)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // lake — ICEBERG TIMESTAMP TIME TRAVEL (FOR SYSTEM_TIME AS OF):
    // a 3-commit history exports with strictly increasing snapshot
    // timestamps; reading as-of a point between commits 2 and 3 must
    // resolve to exactly snapshot 2's data (the hash gate), a
    // timestamp before the first snapshot must refuse rather than
    // serve the oldest state, and the far future resolves to current.
    "q217_iceberg_as_of" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 3 === 0), "graft-asofq")
      t.append(ev.filter(col("event_id") % 3 === 1))
      t.append(ev.filter(col("event_id") % 3 === 2))
      val dest = Qx.tempDir("graft-asof-q").resolve("t")
      require(graft.lake.IcebergInterop.exportHistory(t, dest) == 3,
        "expected 3 exported snapshots")
      val log = graft.lake.IcebergInterop.snapshotLog(dest)
      require(log.map(_._2).sliding(2).forall(w => w(0) < w(1)),
        s"snapshot timestamps must strictly increase, got $log")
      val refused =
        try {
          graft.lake.IcebergInterop.readIcebergAsOf(s, dest, log.head._2 - 1L)
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "as-of before the first snapshot must refuse")
      require(graft.lake.IcebergInterop
        .readIcebergAsOf(s, dest, log.last._2 + 86400000L).count() ==
        graft.lake.IcebergInterop.readIceberg(s, dest).count(),
        "as-of far future must resolve to the current snapshot")
      graft.lake.IcebergInterop
        .readIcebergAsOf(s, dest, log(1)._2 + 30000L) // between commits 2 and 3
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — ICEBERG MANIFEST COMPACTION (rewrite_manifests): a
    // 3-append history leaves the current snapshot with 3 manifests;
    // compaction merges them into one EXISTING-status manifest under
    // a new replace snapshot without touching a data file. The
    // requires pin the contract: reads identical before/after,
    // pre-compaction snapshots still time-travel, and a subsequent
    // expiry removes the 3 old manifests while deleting ZERO data
    // files — file-level reachability must see every file shared
    // with the merged manifest (manifest-level reasoning would lose
    // the table here).
    "q210_manifest_compaction" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 3 === 0), "graft-mcq")
      t.append(ev.filter(col("event_id") % 3 === 1))
      t.append(ev.filter(col("event_id") % 3 === 2))
      val dest = Qx.tempDir("graft-mc-q").resolve("t")
      val nSnaps = graft.lake.IcebergInterop.exportHistory(t, dest)
      require(nSnaps == 3, s"expected 3 exported snapshots, got $nSnaps")
      val before = graft.lake.IcebergInterop.readIceberg(s, dest).count()
      val merged = graft.lake.IcebergInterop.rewriteManifests(dest)
      require(merged == 3, s"expected 3 manifests merged, got $merged")
      require(graft.lake.IcebergInterop.readIceberg(s, dest).count() == before,
        "manifest compaction must not change the data")
      require(graft.lake.IcebergInterop
        .readIceberg(s, dest, t.versions.head).count() > 0,
        "pre-compaction snapshots must still time-travel")
      val res = graft.lake.IcebergInterop.expireSnapshots(dest, retainLast = 1)
      require(res.deletedManifests == 3 && res.deletedDataFiles == 0,
        s"expiry after compaction must drop 3 manifests, 0 data files: $res")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — ICEBERG DATA-FILE COMPACTION (rewrite_data_files, r13 —
    // the physical twin of q210's manifest compaction): a 3-append
    // history lands 12 small data files; bin-packing rewrites them
    // into ONE target-size file under a new replace snapshot with
    // per-bin row-count assertions. Pre-compaction snapshots still
    // time-travel (their files are untouched), and the subsequent
    // expiry physically drops exactly the 12 rewritten-away small
    // files — file-level reachability keeps the compacted output.
    "q221_iceberg_rewrite_data" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 3 === 0).repartition(4), "graft-rdfq")
      t.append(ev.filter(col("event_id") % 3 === 1).repartition(4))
      t.append(ev.filter(col("event_id") % 3 === 2).repartition(4))
      val dest = Qx.tempDir("graft-rdf-q").resolve("t")
      val nSnaps = graft.lake.IcebergInterop.exportHistory(t, dest)
      require(nSnaps == 3, s"expected 3 exported snapshots, got $nSnaps")
      val before = graft.lake.IcebergInterop.readIceberg(s, dest).count()
      val res = graft.lake.IcebergInterop.rewriteDataFiles(s, dest)
      require(res.compactedFiles == 12 && res.newFiles == 1 &&
        res.carriedFiles == 0,
        s"expected 12 files bin-packed into 1, got $res")
      require(graft.lake.IcebergInterop.readIceberg(s, dest).count() == before,
        "data-file compaction must not change the data")
      require(graft.lake.IcebergInterop
        .readIceberg(s, dest, t.versions.head).count() > 0,
        "pre-compaction snapshots must still time-travel")
      val exp = graft.lake.IcebergInterop.expireSnapshots(dest, retainLast = 1)
      require(exp.deletedDataFiles == 12,
        s"expiry must drop exactly the 12 rewritten-away small files: $exp")
      graft.lake.IcebergInterop.readIceberg(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — DELTA OPTIMIZE (r13, the Delta twin of q221): a 3-commit
    // history lands 12 small files; OPTIMIZE folds them into one
    // compacted file under a single dataChange=false remove+add
    // commit. Reads identical before/after, prior versions still
    // time-travel from the tombstoned (but on-disk) originals.
    "q227_delta_optimize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 3 === 0).repartition(4), "graft-optq")
      t.append(ev.filter(col("event_id") % 3 === 1).repartition(4))
      t.append(ev.filter(col("event_id") % 3 === 2).repartition(4))
      val dest = Qx.tempDir("graft-opt-q").resolve("t")
      val nCommits = graft.lake.DeltaInterop.exportHistory(t, dest)
      require(nCommits == 3, s"expected 3 exported commits, got $nCommits")
      val before = graft.lake.DeltaInterop.readDelta(s, dest).count()
      val res = graft.lake.DeltaInterop.optimize(s, dest)
      require(res.compactedFiles == 12 && res.newFiles == 1 &&
        res.carriedFiles == 0 && res.version == 3,
        s"expected 12 files packed into 1 at commit 3, got $res")
      require(graft.lake.DeltaInterop.readDelta(s, dest).count() == before,
        "OPTIMIZE must not change the data")
      require(graft.lake.DeltaInterop.readDelta(s, dest, version = 0L).count() > 0,
        "pre-OPTIMIZE versions must still time-travel")
      // vacuum completes the maintenance loop: the 12 tombstoned
      // originals are reclaimed and the hash gate below proves the
      // compacted file alone carries the whole table
      val vacuumed = graft.lake.DeltaInterop.vacuumDelta(s, dest)
      require(vacuumed == 12,
        s"vacuum must reclaim exactly the 12 tombstoned files, got $vacuumed")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    }),

    // lake — DELTA RESTORE (r13): the missing leg of the Delta
    // maintenance triad (optimize/vacuum/restore). A 3-commit history;
    // RESTORE to commit 0 tombstones the later files as ONE new commit
    // (history preserved — commit 2 still time-travels), then RESTORE
    // forward to commit 2 re-adds them (the vacuumed-file guard's
    // happy path). The hash gate reads the final state = full table.
    "q243_delta_restore" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val t = graft.lake.LakeTable.createTemp(s,
        ev.filter(col("event_id") % 3 === 0).repartition(4), "graft-restq")
      t.append(ev.filter(col("event_id") % 3 === 1).repartition(4))
      t.append(ev.filter(col("event_id") % 3 === 2).repartition(4))
      val dest = Qx.tempDir("graft-rest-q").resolve("t")
      require(graft.lake.DeltaInterop.exportHistory(t, dest) == 3)
      val full = graft.lake.DeltaInterop.readDelta(s, dest).count()
      val v0 = graft.lake.DeltaInterop.readDelta(s, dest, version = 0L).count()
      val back = graft.lake.DeltaInterop.restore(s, dest, toVersion = 0L)
      require(back == graft.lake.DeltaInterop.RestoreResult(0, 8, 3L),
        s"restore to v0 must tombstone the 8 later files in commit 3: $back")
      require(graft.lake.DeltaInterop.readDelta(s, dest).count() == v0,
        "restored table must read as commit 0's content")
      require(graft.lake.DeltaInterop.readDelta(s, dest, version = 2L)
        .count() == full, "restore must preserve history (commit 2 intact)")
      val fwd = graft.lake.DeltaInterop.restore(s, dest, toVersion = 2L)
      require(fwd == graft.lake.DeltaInterop.RestoreResult(8, 0, 4L),
        s"restore to v2 must re-add the 8 files in commit 4: $fwd")
      graft.lake.DeltaInterop.readDelta(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("event_type")
    })
  )

  /** The q136 oracle: the same integer-exact PageRank rounds unrolled
    * as chained CTEs (DuckDB `//` = Spark `DIV` on positive BIGINTs;
    * SUM promotes to HUGEINT, cast back). */
  /** General unrolled integer-PageRank oracle: `prelude` is a CTE
    * chain whose LAST definition must be `e(src, dst)` (distinct
    * edges — mirror pageRankInt's dedup), `tail` the final SELECT
    * over s<iters>. Node ids may be any equatable type (q136 walks
    * BIGINT users, q256 walks word strings). */
  private def pagerankSqlOver(prelude: String, iters: Int,
                              tail: String): String = {
    val head = prelude +
      """,
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        |s0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS score FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""s$i AS (
         |  SELECT n.node,
         |         CAST(150000000000 + (85 * COALESCE(i$i.insum, 0)) // 100 AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(s.score // o.od) AS insum
         |    FROM e JOIN od o ON e.src = o.src JOIN s${i - 1} s ON e.src = s.node
         |    GROUP BY e.dst
         |  ) i$i ON n.node = i$i.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") + "\n" + tail
  }

  private def pagerankSql(iters: Int): String = pagerankSqlOver(
    """WITH e AS (
      |  SELECT DISTINCT user_id AS src, (user_id * 3 + event_id % 5 + 1) % 150 AS dst
      |  FROM events
      |)""".stripMargin,
    iters, s"SELECT node, score FROM s$iters ORDER BY node")

  val oracles: Map[String, String] = Map(
    "q136_pagerank" -> pagerankSql(3),

    "q256_textrank" -> pagerankSqlOver(
      """WITH adj AS (
        |  SELECT tok, nxt FROM (
        |    SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY i)
        |             AS nxt
        |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |                 generate_subscripts(string_split(text, ' '), 1)
        |                   AS i
        |          FROM documents)
        |  )
        |  WHERE nxt IS NOT NULL AND tok <> nxt
        |    AND regexp_matches(tok, '^[a-z]+$')
        |    AND regexp_matches(nxt, '^[a-z]+$')
        |), e AS (
        |  SELECT tok AS src, nxt AS dst FROM adj
        |  UNION
        |  SELECT nxt, tok FROM adj
        |)""".stripMargin,
      3,
      "SELECT node AS word, score FROM s3 ORDER BY score DESC, word LIMIT 20"),

    "q255_dynamic_overwrite" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * 2
         |                     ELSE value END AS DECIMAL(18,2)))
         |       AS DOUBLE) AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q225_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT least(user_id, (user_id * 3 + event_id % 5 + 1) % 150) AS a,
        |         greatest(user_id, (user_id * 3 + event_id % 5 + 1) % 150) AS b
        |  FROM events
        |  WHERE user_id <> (user_id * 3 + event_id % 5 + 1) % 150
        |)
        |SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |FROM e e1 JOIN e e2 ON e2.a = e1.b
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |ORDER BY x, y, z""".stripMargin,

    "q233_cooccurrence_lift" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id AS u, event_type AS t FROM events
        |), nu AS (
        |  SELECT COUNT(DISTINCT u) AS n_users FROM ut
        |), pt AS (
        |  SELECT t, COUNT(*) AS n_t FROM ut GROUP BY t
        |), pairs AS (
        |  SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
        |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |  GROUP BY a.t, b.t
        |)
        |SELECT type_a, type_b, n_both,
        |       pa.n_t AS n_a, pb.n_t AS n_b,
        |       (CAST(n_both AS DOUBLE) * CAST(nu.n_users AS DOUBLE)) /
        |       (CAST(pa.n_t AS DOUBLE) * CAST(pb.n_t AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN pt pa ON pairs.type_a = pa.t
        |JOIN pt pb ON pairs.type_b = pb.t
        |CROSS JOIN nu
        |ORDER BY type_a, type_b""".stripMargin,

    "q237_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id
        |                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS channel
        |  FROM events
        |)
        |SELECT COALESCE(channel, '(direct)') AS channel,
        |       COUNT(*) AS n_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM e WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    "q235_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |             ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS next_t
        |  FROM events
        |), pairs AS (
        |  SELECT event_type AS from_type, next_t AS to_type, COUNT(*) AS n
        |  FROM seq WHERE next_t IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
        |  FROM pairs GROUP BY from_type
        |)
        |SELECT p.from_type, p.to_type, p.n,
        |       CAST(p.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
        |FROM pairs p JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // mirrors EventAnalytics.ewmaDaily: q234's gapless grid + a
    // recursive-CTE fixed-point recursion (// truncates toward zero,
    // exactly like Spark's div)
    "q246_ewma_daily" ->
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
        |), idx AS (
        |  SELECT g, day, n,
        |         row_number() OVER (PARTITION BY g ORDER BY day) AS rn
        |  FROM filled
        |), ew AS (
        |  SELECT g, day, n, rn, n * 1000000 AS s FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.g, i.day, i.n, i.rn,
        |         e.s + (i.n * 1000000 - e.s) // 8
        |  FROM ew e JOIN idx i ON i.g = e.g AND i.rn = e.rn + 1
        |)
        |SELECT g AS event_type, day, CAST(n AS BIGINT) AS n,
        |       CAST(s AS DOUBLE) / 1e6 AS ewma
        |FROM ew ORDER BY event_type, day""".stripMargin,

    "q234_resample_daily" ->
      """WITH daily AS (
        |  SELECT event_type AS g,
        |         CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT g, unnest(generate_series(MIN(day), MAX(day))) AS day
        |  FROM daily GROUP BY g
        |), filled AS (
        |  SELECT s.g, s.day, COALESCE(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d ON s.g = d.g AND s.day = d.day
        |)
        |SELECT g AS event_type, day, n,
        |       CAST(SUM(n) OVER (PARTITION BY g ORDER BY day
        |            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling7
        |FROM filled ORDER BY event_type, day""".stripMargin,

    "q228_clustering_coeff" ->
      """WITH e AS (
        |  SELECT DISTINCT least(user_id, (user_id * 3 + event_id % 5 + 1) % 150) AS a,
        |         greatest(user_id, (user_id * 3 + event_id % 5 + 1) % 150) AS b
        |  FROM events
        |  WHERE user_id <> (user_id * 3 + event_id % 5 + 1) % 150
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e
        |  ) GROUP BY node
        |), tpn AS (
        |  SELECT node, COUNT(*) AS n_triangles FROM (
        |    SELECT x AS node FROM tri UNION ALL
        |    SELECT y FROM tri UNION ALL SELECT z FROM tri
        |  ) GROUP BY node
        |)
        |SELECT d.node, d.degree,
        |       COALESCE(t.n_triangles, 0) AS n_triangles,
        |       CASE WHEN d.degree >= 2
        |            THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE) /
        |                 CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |       END AS coeff
        |FROM deg d LEFT JOIN tpn t ON d.node = t.node
        |ORDER BY d.node""".stripMargin,

    "q137_schema_evolution" ->
      s"""SELECT CASE WHEN event_id % 2 = 1 THEN event_type
         |            ELSE 'pre-evolution' END AS etype,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY etype ORDER BY etype""".stripMargin,
    "q58_table_ddl" ->
      """SELECT * FROM (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL
        |  SELECT 99 AS r_regionkey, 'REGION_99' AS r_name
        |) ORDER BY r_regionkey""".stripMargin,

    "q59_stage_checkpoint" ->
      s"""SELECT o_custkey, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_totalprice > 100000
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q98_salted_join" ->
      s"""SELECT o.o_custkey AS o_custkey, COUNT(*) AS n,
         |       ${sqlDsum("l.l_extendedprice")} AS total
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_custkey ORDER BY o_custkey""".stripMargin,

    "q139_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q101_sql_pipeline" ->
      """WITH ranked AS (
        |  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY c.c_mktsegment
        |                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS top_total
        |FROM ranked WHERE rk <= 10
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q99_bucketed_join" ->
      s"""SELECT c.c_mktsegment AS c_mktsegment, COUNT(*) AS n,
         |       ${sqlDsum("o.o_totalprice")} AS total
         |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q96_cdc_apply" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM (
         |  SELECT event_id, event_type, value FROM events
         |  WHERE event_id % 10 <> 7 AND event_id % 10 <> 3
         |  UNION ALL
         |  SELECT event_id, 'patched' AS event_type, value * 2 AS value
         |  FROM events WHERE event_id % 10 = 3
         |)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q97_snapshot_read" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q105_time_travel_merge" ->
      s"""SELECT version, event_type, n, total FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM events GROUP BY event_type
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS version, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM (
         |    SELECT event_id, event_type, value FROM events
         |    WHERE event_id % 10 <> 7 AND event_id % 10 <> 3
         |    UNION ALL
         |    SELECT event_id, 'patched' AS event_type, value * 2 AS value
         |    FROM events WHERE event_id % 10 = 3
         |  ) GROUP BY event_type
         |) ORDER BY version, event_type""".stripMargin,

    "q113_vacuum_read" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 10 <> 7
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q131_stats_skip" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 1000 BETWEEN 450 AND 549
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q178_zorder_optimize" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events
         |WHERE event_id % 1000 BETWEEN 100 AND 199
         |  AND (user_id * 48271 + event_id) % 1000 BETWEEN 100 AND 199
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q179_bloom_point_lookup" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 500 = 237
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q135_incremental_agg" ->
      s"""WITH v2 AS (
         |  SELECT event_type, value FROM events WHERE event_id % 10 NOT IN (3, 7)
         |  UNION ALL
         |  SELECT 'patched' AS event_type, value * 2 AS value
         |  FROM events WHERE event_id % 10 = 3
         |)
         |SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM v2 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q133_version_diff" ->
      s"""WITH base AS (SELECT event_id, event_type, value FROM events),
         |added AS (
         |  SELECT 'patched' AS event_type, value * 2 AS value
         |  FROM base WHERE event_id % 10 = 3
         |),
         |removed AS (
         |  SELECT event_type, value FROM base WHERE event_id % 10 IN (3, 7)
         |)
         |SELECT 'added' AS change, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM added GROUP BY event_type
         |UNION ALL
         |SELECT 'removed' AS change, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM removed GROUP BY event_type
         |ORDER BY change, event_type""".stripMargin,

    "q132_zorder_layout" ->
      s"""WITH pts AS (
         |  SELECT (event_id * 40503) % 65536 AS x,
         |         (user_id * 48271 + event_id) % 65536 AS y
         |  FROM events
         |),
         |zc AS (
         |  SELECT x, y, ${graft.functions.ZOrder.sqlInterleave("x", "y")} AS z FROM pts
         |)
         |SELECT CAST((z >> 28) AS BIGINT) AS bucket, COUNT(*) AS n,
         |       MIN(x) AS min_x, MAX(x) AS max_x,
         |       MIN(y) AS min_y, MAX(y) AS max_y,
         |       CAST(SUM(z) AS BIGINT) AS z_sum
         |FROM zc GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q115_orc_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 2 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q116_pivot_roundtrip" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q118_interval_join" ->
      """WITH ints AS (
        |  SELECT event_id AS id, (event_id % 400) * 7 AS s,
        |         (event_id % 400) * 7 + (event_id % 37) + 1 AS e
        |  FROM events WHERE event_id < 1500
        |)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap
        |FROM ints a JOIN ints b
        |  ON a.id < b.id AND a.s < b.e AND b.s < a.e
        |ORDER BY a_id, b_id""".stripMargin,

    "q94_schema_merge" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |       COUNT(CASE WHEN event_id >= 5000 THEN value END) AS n_with_value,
         |       ${sqlDsum("CASE WHEN event_id >= 5000 THEN value ELSE 0 END")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q95_compaction" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q60_crop_select" ->
      s"""WITH ${GridQ.ocrSql}
         |SELECT page_id, rid AS line_id, text FROM (
         |  SELECT page_id, rid, text,
         |         row_number() OVER (PARTITION BY page_id ORDER BY rid) AS rn
         |  FROM ocr WHERE contains(text, '2')
         |) WHERE rn = 1 ORDER BY page_id""".stripMargin,

    "q61_hof_mean" ->
      """SELECT doc_id,
        |       CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS BIGINT) AS sum_len,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |       CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS BIGINT)
        |         / CAST(len(string_split(text, ' ')) AS BIGINT) AS mean_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q62_page_text" ->
      s"""WITH ${GridQ.ocrSql}
         |SELECT page_id, string_agg(text, ' ' ORDER BY rid) AS page_text
         |FROM ocr GROUP BY page_id ORDER BY page_id""".stripMargin,

    "q63_figure_first" ->
      """SELECT page_id, block_id, block_type FROM (
        |  SELECT page_id, block_id, block_type,
        |         row_number() OVER (PARTITION BY page_id ORDER BY block_id) AS rn
        |  FROM (
        |    SELECT event_id % 200 AS page_id, event_id AS block_id,
        |           (['Text', 'Title', 'List', 'Table', 'Figure'])[CAST(event_id % 5 + 1 AS INT)] AS block_type
        |    FROM events WHERE event_id < 5000
        |  ) WHERE block_type = 'Figure'
        |) WHERE rn = 1 ORDER BY page_id""".stripMargin,

    "q64_session_window" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |i AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n
        |FROM i GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q190_dynamic_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         ts + CASE WHEN event_type IN ('click', 'view')
        |                   THEN INTERVAL 10 MINUTE
        |                   ELSE INTERVAL 1 HOUR END AS win_end
        |  FROM events WHERE user_id < 30
        |), m AS (
        |  SELECT user_id, ts,
        |         CASE WHEN max(win_end) OVER w IS NULL
        |              OR ts >= max(win_end) OVER w THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), i AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       count(*) AS n
        |FROM i GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q65_sliding_window" ->
      """SELECT day, event_type, count(*) AS n FROM (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type FROM events
        |  UNION ALL
        |  SELECT strftime(date_trunc('day', ts) - INTERVAL 1 DAY, '%Y-%m-%d') AS day, event_type
        |  FROM events
        |) GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    "q144_delta_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q157_partitioned_delta" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 5 = 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q160_iceberg_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 3 = 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q161_iceberg_partitioned" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 7 = 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q166_iceberg_pos_deletes" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 3 = 1 AND event_type <> 'error'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q194_delta_deletion_vectors" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice <= 200000.0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q195_iceberg_equality_deletes" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total FROM (
         |  SELECT event_type, value FROM events
         |  WHERE event_id % 4 = 1 AND event_type <> 'error' AND event_id % 9 <> 0
         |  UNION ALL
         |  SELECT event_type, value + 1000.0 AS value FROM events
         |  WHERE event_id % 4 = 1 AND event_id % 9 = 0
         |) GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q196_iceberg_day_partitions" ->
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
         |GROUP BY day ORDER BY day""".stripMargin,

    "q197_delta_column_mapping" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 6 = 0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q162_iceberg_time_travel" ->
      s"""SELECT version, event_type, n, total FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, event_type, COUNT(*) AS n,
         |         ${sqlDsum("value")} AS total
         |  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS version, event_type, COUNT(*) AS n,
         |         ${sqlDsum("value")} AS total
         |  FROM events GROUP BY event_type
         |) ORDER BY version, event_type""".stripMargin,

    // the closed-form change set: v2 adds the %4==0 rows; v3's
    // delete-only merge removes the %10==7 rows (the lake state at v2
    // is ALL events, so the removed set is exactly that filter)
    "q151_change_feed" ->
      s"""SELECT version, change, event_type, n, total FROM (
         |  SELECT CAST(2 AS BIGINT) AS version, 'added' AS change, event_type,
         |         COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM events WHERE event_id % 4 = 0 GROUP BY event_type
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT) AS version, 'removed' AS change, event_type,
         |         COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM events WHERE event_id % 10 = 7 GROUP BY event_type
         |) ORDER BY version, change, event_type""".stripMargin,

    // the integer fixpoint in closed form: ring nodes hold Scale
    // (10^12); star leaves hold the base term 0.15*Scale; the center
    // holds Base + (85 * 100 * Base) DIV 100 = 86 * Base
    "q146_pagerank_converged" ->
      """SELECT node, score FROM (
        |  SELECT i AS node, CAST(1000000000000 AS BIGINT) AS score FROM range(50) t(i)
        |  UNION ALL
        |  SELECT CAST(99 AS BIGINT) AS node, CAST(86 * 150000000000 AS BIGINT) AS score
        |  UNION ALL
        |  SELECT i AS node, CAST(150000000000 AS BIGINT) AS score FROM range(100, 200) t(i)
        |) ORDER BY node""".stripMargin,

    "q200_funnel_steps" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |),
        |c AS (
        |  SELECT e.user_id AS user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |),
        |p AS (
        |  SELECT e.user_id AS user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT step, CAST(n_users AS BIGINT) AS n_users FROM (
        |  SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
        |  UNION ALL
        |  SELECT '2_click' AS step, COUNT(*) AS n_users FROM c
        |  UNION ALL
        |  SELECT '3_purchase' AS step, COUNT(*) AS n_users FROM p
        |) ORDER BY step""".stripMargin,

    "q204_windowed_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |),
        |c AS (
        |  SELECT e.user_id AS user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |   AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 86400 SECOND
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |),
        |p AS (
        |  SELECT e.user_id AS user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |   AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 86400 SECOND
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT step, CAST(n_users AS BIGINT) AS n_users FROM (
        |  SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
        |  UNION ALL
        |  SELECT '2_click' AS step, COUNT(*) AS n_users FROM c
        |  UNION ALL
        |  SELECT '3_purchase' AS step, COUNT(*) AS n_users FROM p
        |) ORDER BY step""".stripMargin,

    "q201_retention_cohorts" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events
        |),
        |f AS (SELECT user_id, MIN(week) AS cohort FROM wk GROUP BY user_id)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |       CAST((wk.week - f.cohort) // 7 AS BIGINT) AS week_offset,
        |       COUNT(*) AS n_users
        |FROM wk JOIN f ON wk.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin,

    "q202_ab_metrics" ->
      s"""WITH a AS (
         |  SELECT user_id, event_type, value,
         |         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 2) < '80'
         |              THEN 'A' ELSE 'B' END AS arm
         |  FROM events
         |),
         |u AS (SELECT arm, COUNT(DISTINCT user_id) AS n_users FROM a GROUP BY arm),
         |p AS (SELECT arm, COUNT(DISTINCT user_id) AS n_purchasers,
         |             ${sqlDsum("value")} AS total_value
         |      FROM a WHERE event_type = 'purchase' GROUP BY arm)
         |SELECT u.arm AS arm, u.n_users AS n_users,
         |       COALESCE(p.n_purchasers, 0) AS n_purchasers,
         |       COALESCE(p.total_value, 0.0) AS total_value,
         |       CAST(COALESCE(p.n_purchasers, 0) AS DOUBLE) /
         |       CAST(u.n_users AS DOUBLE) AS conversion
         |FROM u LEFT JOIN p ON u.arm = p.arm
         |ORDER BY arm""".stripMargin,

    "q210_manifest_compaction" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q221_iceberg_rewrite_data" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q227_delta_optimize" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q243_delta_restore" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q217_iceberg_as_of" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
         |FROM events WHERE event_id % 3 IN (0, 1)
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q211_span_conversion" ->
      """WITH f AS (
        |  SELECT user_id, event_type, MIN(ts) AS first_ts
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY user_id, event_type
        |),
        |per AS (
        |  SELECT user_id, COUNT(*) AS n_types,
        |         epoch_us(MAX(first_ts)) - epoch_us(MIN(first_ts)) AS span_us
        |  FROM f GROUP BY user_id
        |)
        |SELECT COUNT(*) AS n_users,
        |       COUNT(*) FILTER (n_types = 3) AS n_all_steps,
        |       COUNT(*) FILTER (n_types = 3 AND span_us <= 259200000000)
        |         AS n_converted
        |FROM per""".stripMargin,

    "q212_event_paths" ->
      """WITH f AS (
        |  SELECT user_id, event_type, MIN(ts) AS first_ts
        |  FROM events GROUP BY user_id, event_type
        |),
        |paths AS (
        |  SELECT user_id,
        |         array_to_string(list_transform(
        |           list_sort(list(printf('%020d|%s', epoch_us(first_ts), event_type))),
        |           x -> string_split(x, '|')[2]), '>') AS path
        |  FROM f GROUP BY user_id
        |)
        |SELECT path, COUNT(*) AS n_users FROM paths
        |GROUP BY path ORDER BY n_users DESC, path""".stripMargin,

    "q206_snapshot_expiry" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${sqlDsum("o_totalprice")} AS total
         |FROM orders WHERE o_orderkey % 3 = 2
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q244_iceberg_refs" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |       ${sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    // closed-form final table state: all events minus the deleted ids
    "q254_incremental_rollup" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100)
        |                 AS BIGINT) AS DOUBLE) / 100.0 AS total
        |FROM events WHERE event_id % 10 <> 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical recursion, `events` for the temp view
    "q253_recursive_cte" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT user_id AS src,
        |         (user_id * 3 + event_id % 5 + 1) % 150 AS dst
        |  FROM events
        |), walk (node, hop) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
        |  UNION ALL
        |  SELECT e.dst, w.hop + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hop < 3
        |)
        |SELECT hop, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_reachable
        |FROM walk GROUP BY hop ORDER BY hop""".stripMargin,

    "q207_churn_cohorts" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events
        |),
        |a AS (
        |  SELECT user_id, week,
        |         lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev,
        |         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next
        |  FROM wk
        |),
        |mx AS (SELECT MAX(week) AS max_week FROM wk),
        |cells AS (
        |  SELECT week,
        |         CASE WHEN prev IS NULL THEN 'new'
        |              WHEN week - prev = 7 THEN 'retained'
        |              ELSE 'resurrected' END AS status
        |  FROM a
        |  UNION ALL
        |  SELECT week + 7 AS week, 'churned' AS status
        |  FROM a, mx
        |  WHERE (next IS NULL OR next - week > 7) AND week + 7 <= mx.max_week
        |)
        |SELECT strftime(week, '%Y-%m-%d') AS week, status, COUNT(*) AS n_users
        |FROM cells GROUP BY 1, 2 ORDER BY week, status""".stripMargin,

    "q203_iceberg_spec_evolution" ->
      s"""SELECT probe, key, n, total FROM (
         |  SELECT 'by_day' AS probe, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS key,
         |         COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM events
         |  WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-15 00:00:00'
         |  GROUP BY 2
         |  UNION ALL
         |  SELECT 'by_type' AS probe, event_type AS key,
         |         COUNT(*) AS n, ${sqlDsum("value")} AS total
         |  FROM events WHERE event_type = 'click'
         |  GROUP BY 2
         |) ORDER BY probe, key""".stripMargin
  )
}
