package graft.lake

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The transactional contract of the lake module (VERDICT r4 #1c):
  * commit atomicity under races, exactly-once batch replay, and time
  * travel across MERGE. Runs on sf0.001 events. */
class LakeTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def events = Tables.events(spark, sf)
    .select(col("event_id"), col("event_type"), col("value"))

  test("create / append / overwrite / snapshot versions") {
    val base = events.filter(col("event_id") < 100)
    val extra = events.filter(col("event_id").between(100, 199))
    val t = LakeTable.createTemp(spark, base)
    assert(t.latestVersion === 1L)
    assert(t.snapshot().count() === base.count())
    t.append(extra)
    assert(t.latestVersion === 2L)
    assert(t.snapshot().count() === base.count() + extra.count())
    t.overwrite(extra)
    assert(t.latestVersion === 3L)
    assert(t.snapshot().count() === extra.count())
    // time travel: every earlier version still serves its exact rows
    assert(t.snapshot(1L).count() === base.count())
    assert(t.snapshot(2L).count() === base.count() + extra.count())
  }

  test("MERGE applies upserts+deletes; time travel returns pre-MERGE rows") {
    val base = events
    val t = LakeTable.createTemp(spark, base)
    val deletes = base.filter(col("event_id") % 10 === 7).select(col("event_id"))
    val upserts = base.filter(col("event_id") % 10 === 3)
      .select(col("event_id"), lit("patched").as("event_type"),
        (col("value") * 2).as("value"))
    val v2 = t.merge(upserts, Seq("event_id"), Some(deletes))
    val now = t.snapshot()
    assert(now.count() === base.count() - deletes.count())
    assert(now.filter(col("event_id") % 10 === 7).count() === 0)
    assert(now.filter(col("event_id") % 10 === 3)
      .filter(col("event_type") =!= "patched").count() === 0)
    // the pre-MERGE snapshot is byte-identical to the original table
    val v1 = t.snapshot(v2 - 1)
    assert(v1.count() === base.count())
    assert(v1.orderBy("event_id").collect().toSeq ===
      base.orderBy("event_id").collect().toSeq)
  }

  test("two writers racing to the same version: exactly one winner") {
    val df = events.limit(10)
    val root = Files.createTempDirectory("graft-race").resolve("t")
    val a = LakeTable.create(spark, root, df)
    val b = LakeTable.open(spark, root)
    // both handles believe they are creating version 2 — the atomic
    // create-if-absent publish must admit exactly one
    a.commitManifest(2L, "append", Nil, None)
    val e = intercept[ConcurrentCommitException] {
      b.commitManifest(2L, "append", Nil, None)
    }
    assert(e.getMessage.contains("version 2"))
    assert(a.latestVersion === 2L)
  }

  test("concurrent appenders with retry all land; no commit is lost") {
    val df = events.limit(20)
    val t = LakeTable.createTemp(spark, df)
    val nWriters = 6
    val start = new CountDownLatch(1)
    val threads = (1 to nWriters).map { _ =>
      new Thread(() => {
        start.await()
        var done = false
        while (!done) {
          try { t.append(df); done = true }
          catch { case _: ConcurrentCommitException => /* re-read log, retry */ }
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(t.latestVersion === 1L + nWriters) // every append got its own version
    assert(t.snapshot().count() === df.count() * (1 + nWriters))
  }

  test("commitBatch is a no-op on replayed (appId, batchId)") {
    val b0 = events.filter(col("event_id") % 2 === 0)
    val b1 = events.filter(col("event_id") % 2 === 1)
    val root = Files.createTempDirectory("graft-txn").resolve("t")
    val t = LakeTable.createEmpty(spark, root)
    t.commitBatch(b0, "app", 0L)
    t.append(events.limit(5))      // a foreign commit advances the log...
    t.commitBatch(b0, "app", 0L)   // ...replay still detected (incremental scan)
    t.commitBatch(b1, "app", 1L)
    assert(t.latestVersion === 4L) // create + batch0 + append + batch1
    assert(t.snapshot().count() === b0.count() + 5 + b1.count())
    // a FRESH handle (cold txn cache → full log scan, the
    // recovery-after-driver-restart path) must also detect the replay
    val t2 = LakeTable.open(spark, root)
    t2.commitBatch(b0, "app", 0L)
    t2.commitBatch(b1, "app", 1L)
    assert(t2.latestVersion === 4L)
    // a different appId with the same batchId is NOT a replay
    t2.commitBatch(b1, "other-app", 1L)
    assert(t2.latestVersion === 5L)
  }

  test("vacuum retains the newest versions and deletes unreferenced data") {
    val base = events.filter(col("event_id") < 100)
    val extra = events.filter(col("event_id").between(100, 199))
    val t = LakeTable.createTemp(spark, base)
    t.append(extra)        // v2 = base + extra (shares v1's data dir)
    t.overwrite(extra)     // v3 = extra only
    val (droppedManifests, deletedDirs) = t.vacuum(retainVersions = 1)
    assert(droppedManifests === 2)
    assert(deletedDirs === 2) // v1's dir and v2's append dir: only v3's survives
    assert(t.versions === Seq(3L))
    assert(t.snapshot().count() === extra.count()) // current snapshot intact
    intercept[IllegalArgumentException](t.snapshot(1L)) // time travel expired
    // idempotent: nothing left to collect
    assert(t.vacuum(retainVersions = 1) === ((0, 0)))
  }

  test("empty snapshots are typed: schema persists in the manifest") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    // declared up front: a never-written sink still answers column refs
    val t = LakeTable.createEmpty(spark,
      Files.createTempDirectory("graft-schema").resolve("t"), Some(schema))
    val empty = t.snapshot()
    assert(empty.schema === schema)
    assert(empty.select(col("event_id")).count() === 0)
    // learned from the first data commit: an overwrite back to empty
    // (vacuum-style truncation via merge of nothing) keeps the type
    val t2 = LakeTable.createEmpty(spark,
      Files.createTempDirectory("graft-schema2").resolve("t"))
    t2.commitBatch(events.limit(3), "app", 0L)
    assert(t2.snapshot().select(col("event_id")).count() === 3)
    // time travel to the pre-schema create degrades to zero columns
    assert(t2.snapshot(1L).schema.isEmpty)
  }

  test("vacuum carries txn markers forward: replay after vacuum is still a no-op") {
    val b0 = events.filter(col("event_id") % 3 === 0)
    val b1 = events.filter(col("event_id") % 3 === 1)
    val b2 = events.filter(col("event_id") % 3 === 2)
    val root = Files.createTempDirectory("graft-vactxn").resolve("t")
    val t = LakeTable.createEmpty(spark, root)
    t.commitBatch(b0, "app", 0L)
    t.commitBatch(b1, "app", 1L)
    t.commitBatch(b2, "app", 2L)
    val total = t.snapshot().count()
    // retain only the head: every txn-marked manifest would drop, so
    // vacuum must publish a carry manifest before dropping
    t.vacuum(retainVersions = 1)
    assert(t.snapshot().count() === total)
    // a FRESH handle (cold cache, the restart-after-vacuum path) must
    // still see the markers and treat replays as no-ops
    val t2 = LakeTable.open(spark, root)
    val vBefore = t2.latestVersion
    t2.commitBatch(b0, "app", 0L)
    t2.commitBatch(b2, "app", 2L)
    assert(t2.latestVersion === vBefore)
    assert(t2.snapshot().count() === total)
    // ...while the NEXT batch commits normally
    t2.commitBatch(b0, "app", 3L)
    assert(t2.snapshot().count() === total + b0.count())
  }

  test("retention contract: retained snapshot survives vacuum, vacuumed read fails loudly") {
    val base = events.filter(col("event_id") < 100)
    val extra = events.filter(col("event_id").between(100, 199))
    val t = LakeTable.createTemp(spark, base)
    t.overwrite(extra) // v2: v1's data dir is now referenced only by v1
    val retained = t.snapshot()     // reader on the head: protected
    val stale = t.snapshot(1L)      // reader on v1: NOT protected
    assert(stale.count() === base.count()) // readable pre-vacuum
    t.vacuum(retainVersions = 1)
    assert(retained.count() === extra.count()) // head reader unaffected
    // time travel to the vacuumed version fails loudly at the manifest
    intercept[IllegalArgumentException](t.snapshot(1L))
    // a pre-vacuum DataFrame over deleted files fails loudly at scan
    intercept[Exception] {
      val n = stale.count()
      assert(n === base.count(), s"stale read silently served $n rows")
    }
  }

  test("concurrent commitBatch writers with distinct appIds all land via retry") {
    val df = events.limit(20)
    val root = Files.createTempDirectory("graft-cbrace").resolve("t")
    val t = LakeTable.createEmpty(spark, root)
    val nWriters = 6
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to nWriters).map { i =>
      new Thread(() => {
        start.await()
        try LakeTable.open(spark, root).commitBatch(df, s"app-$i", 0L)
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(failures.isEmpty, s"retry loop leaked: ${failures.asScala.map(_.getMessage)}")
    assert(t.latestVersion === 1L + nWriters)
    assert(t.snapshot().count() === df.count() * nWriters)
  }

  test("vacuum keeps data dirs still referenced by retained versions") {
    val base = events.filter(col("event_id") < 100)
    val extra = events.filter(col("event_id").between(100, 199))
    val t = LakeTable.createTemp(spark, base)
    t.append(extra) // v2 references v1's dir + its own
    val (dropped, deleted) = t.vacuum(retainVersions = 1)
    assert(dropped === 1 && deleted === 0) // v1's dir lives on inside v2
    assert(t.snapshot().count() === base.count() + extra.count())
  }

  test("stats skipping: pruned scan equals full scan, provably-excluded dirs skipped") {
    val t = LakeTable.createTemp(spark, events.filter(col("event_id") < 100),
      statsCols = Seq("event_id"))
    (1 to 4).foreach { i =>
      t.append(events.filter(col("event_id") >= i * 100 && col("event_id") < (i + 1) * 100),
        statsCols = Seq("event_id"))
    }
    val (kept, total) = t.prunedDirs("event_id", 250, 260)
    assert(total === 5 && kept.size === 1)
    // the filtered snapshot (which skips) equals the unskipped truth:
    // the same filter over the rows the table was built from
    val pruned = t.snapshot()
      .filter(col("event_id").between(250, 260))
      .select("event_id").collect().map(_.getLong(0)).sorted
    val full = events.filter(col("event_id") < 500)
      .filter(col("event_id").between(250, 260))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(pruned === full && pruned.nonEmpty)
    // a range outside every dir prunes everything and returns a TYPED empty
    val (none, _) = t.prunedDirs("event_id", 10000, 20000)
    assert(none.isEmpty)
    assert(t.snapshot().filter(col("event_id").between(10000, 20000)).count() === 0)
    assert(t.snapshot().filter(col("event_id").between(10000, 20000))
      .columns.contains("event_id"))
  }

  test("stats survive append carry, overwrite expiry, vacuum carry, and no-stat dirs read") {
    val t = LakeTable.createTemp(spark, events.filter(col("event_id") < 100),
      statsCols = Seq("event_id"))
    // an append WITHOUT stats: its dir must always survive pruning
    t.append(events.filter(col("event_id").between(100, 199)))
    val (kept, total) = t.prunedDirs("event_id", 0, 10)
    assert(total === 2 && kept.size === 2, "statless dir must be unprunable")
    // append WITH stats carries the older stats forward
    t.append(events.filter(col("event_id").between(200, 299)), statsCols = Seq("event_id"))
    val (kept2, total2) = t.prunedDirs("event_id", 250, 299)
    assert(total2 === 3 && kept2.size === 2, s"expected statless+matching dirs, got $kept2")
    // overwrite expires every old stat; only the new dir's stats remain
    t.overwrite(events.filter(col("event_id") < 50), statsCols = Seq("event_id"))
    val (kept3, total3) = t.prunedDirs("event_id", 200, 299)
    assert(total3 === 1 && kept3.isEmpty, "overwrite must expire old stats and prune")
    // vacuum carries live stats into its carry manifest (if one is made)
    t.append(events.filter(col("event_id").between(50, 99)), statsCols = Seq("event_id"))
    t.vacuum(retainVersions = 1)
    val (kept4, total4) = t.prunedDirs("event_id", 75, 80)
    assert(total4 === 2 && kept4.size === 1, "stats must survive vacuum")
  }

  test("schema evolution: appended columns surface as null on old rows; types locked") {
    val t = LakeTable.createTemp(spark,
      events.filter(col("event_id") < 100).select(col("event_id"), col("value")))
    t.append(events.filter(col("event_id").between(100, 199))
      .select(col("event_id"), col("value"), col("event_type")))
    val snap = t.snapshot()
    assert(snap.columns.toSeq === Seq("event_id", "value", "event_type"))
    assert(snap.filter(col("event_type").isNull).count() === 100)
    assert(snap.filter(col("event_type").isNotNull).count() === 100)
    // time travel shows the PRE-evolution schema
    assert(t.snapshot(1L).columns.toSeq === Seq("event_id", "value"))
    // a later subset append reads back with the evolved superset schema
    t.append(events.filter(col("event_id").between(200, 249)).select(col("event_id")))
    assert(t.snapshot().columns.toSeq === Seq("event_id", "value", "event_type"))
    assert(t.snapshot().filter(col("value").isNull).count() === 50)
    // incompatible type change fails loud
    val bad = events.filter(col("event_id") < 10)
      .select(col("event_id"), col("event_type").as("value"))
    assertThrows[IllegalArgumentException](t.append(bad))
  }

  test("diff across a schema evolution aligns on the merged declared schema") {
    val t = LakeTable.createTemp(spark,
      events.filter(col("event_id") < 100).select(col("event_id"), col("value")))
    t.append(events.filter(col("event_id").between(100, 149))
      .select(col("event_id"), col("value"), col("event_type"))) // evolves schema
    val d = t.diff(1L, 2L)
    assert(d.columns.toSeq === Seq("event_id", "value", "event_type", "change"))
    val rows = d.collect()
    assert(rows.length === 50 && rows.forall(_.getString(3) === "added"))
    assert(rows.forall(r => !r.isNullAt(2))) // appended rows carry the new column
  }

  test("streaming commitBatch records stats: micro-batches prune like time slices") {
    val t = LakeTable.createEmpty(spark, Files.createTempDirectory("graft-sstat").resolve("t"))
    (0 to 2).foreach { b =>
      t.commitBatch(events.filter(col("event_id") >= b * 100 && col("event_id") < (b + 1) * 100),
        "app-stats", b, statsCols = Seq("event_id"))
    }
    // a narrow range opens exactly one micro-batch's directory — the
    // streaming-append-by-time skipping pattern
    val (kept, total) = t.prunedDirs("event_id", 150, 160)
    assert(total === 3 && kept.size === 1)
    val n = t.snapshot()
      .filter(col("event_id").between(150, 160)).count()
    assert(n === 11)
  }

  test("diff: append diffs to exactly the appended rows; identical versions diff empty") {
    val base = events.filter(col("event_id") < 100)
    val extra = events.filter(col("event_id").between(100, 149))
    val t = LakeTable.createTemp(spark, base)
    t.append(extra) // v2
    val d12 = t.diff(1L, 2L).collect()
    assert(d12.forall(_.getString(3) === "added"))
    assert(d12.length === extra.count())
    // reversed direction flips added to removed
    val d21 = t.diff(2L, 1L).collect()
    assert(d21.forall(_.getString(3) === "removed") && d21.length === d12.length)
    assert(t.diff(2L, 2L).count() === 0)
    // a merge diff reports both sides
    val dels = base.filter(col("event_id") % 10 === 1).select(col("event_id"))
    val v3 = t.merge(events.limit(0), Seq("event_id"), Some(dels))
    val d23 = t.diff(2L, v3).groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d23 === Map("removed" -> dels.count()))
  }

  test("string-column stats prune lexicographic ranges") {
    val byType = events.filter(col("event_type") < "m")
    val t = LakeTable.createTemp(spark, byType, statsCols = Seq("event_type"))
    t.append(events.filter(col("event_type") >= "m"), statsCols = Seq("event_type"))
    val (kept, total) = t.prunedDirs("event_type", "c", "f")
    assert(total === 2 && kept.size === 1)
    val pruned = t.snapshot()
      .filter(col("event_type").between("c", "f")).count()
    val full = events.filter(col("event_type").between("c", "f")).count()
    assert(pruned === full && pruned > 0)
  }

  test("date-column stats prune via lexicographic ISO order (no NumberFormatException)") {
    val dated = events.select(col("event_id"),
      to_date(concat(lit("2024-0"), (col("event_id") % 9 + 1).cast("string"), lit("-15")))
        .as("d"))
    val early = dated.filter(col("d") < "2024-05-01")
    val late = dated.filter(col("d") >= "2024-05-01")
    val t = LakeTable.createTemp(spark, early, statsCols = Seq("d"))
    t.append(late, statsCols = Seq("d"))
    // dates are stored as "yyyy-MM-dd" strings; pruning must compare
    // lexicographically, not parse them as doubles
    val (kept, total) = t.prunedDirs("d", "2024-06-01", "2024-07-31")
    assert(total === 2 && kept.size === 1)
    val pruned = t.snapshot()
      .filter(col("d").between("2024-06-01", "2024-07-31")).count()
    val full = dated.filter(col("d").between("2024-06-01", "2024-07-31")).count()
    assert(pruned === full && pruned > 0)
  }

  test("empty-string min/max is not confused with the all-null sentinel") {
    import spark.implicits._
    // dir 1: true min IS the empty string — must NOT prune anywhere
    val withEmpty = Seq((1L, ""), (2L, "b"), (3L, "c")).toDF("id", "s")
    val t = LakeTable.createTemp(spark, withEmpty, statsCols = Seq("s"))
    // dir 2: all-null column — MUST prune on any range
    val allNull = Seq((4L, null: String), (5L, null: String)).toDF("id", "s")
    t.append(allNull, statsCols = Seq("s"))
    val (kept, total) = t.prunedDirs("s", "", "a")
    assert(total === 2 && kept.size === 1) // all-null dir pruned, empty-string dir kept
    // the contract: the skipping read is identical to filtering the rows
    val pruned = t.snapshot().filter(col("s").between("", "a")).count()
    val full = withEmpty.unionByName(allNull).filter(col("s").between("", "a")).count()
    assert(pruned === full && pruned === 1) // the "" row survives
  }

  test("stat values containing newlines never corrupt the manifest") {
    import spark.implicits._
    val evil = Seq((1L, "x\ndir=evil\nversion=99"), (2L, "zz")).toDF("id", "s")
    val t = LakeTable.createTemp(spark, evil, statsCols = Seq("s", "id"))
    // manifest stays well-formed: one version, one data dir, snapshot intact
    assert(t.versions === Seq(1L))
    assert(t.snapshot().count() === 2)
    // the string column is simply unprunable (stat skipped); id still prunes
    val (keptS, _) = t.prunedDirs("s", "a", "b")
    assert(keptS.size === 1)
    val (keptId, _) = t.prunedDirs("id", 100, 200)
    assert(keptId.isEmpty)
  }

  test("mergeBatch: exactly-once via the txn log, not content idempotence") {
    import spark.implicits._
    val t = LakeTable.createTemp(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    // batch 0 sets id 1 -> 100
    t.mergeBatch(Seq((1L, 100.0)).toDF("id", "v"), Seq("id"), "app-m", 0L)
    // batch 1 sets id 1 -> 200 and deletes id 2
    t.mergeBatch(Seq((1L, 200.0)).toDF("id", "v"), Seq("id"), "app-m", 1L,
      deletes = Some(Seq(Tuple1(2L)).toDF("id")))
    def state() = t.snapshot().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(state() === Map(1L -> 200.0))
    val head = t.latestVersion
    // REPLAY batch 0 after batch 1 landed: must be a no-op — the txn
    // log, not content, is what prevents resurrecting v=100
    t.mergeBatch(Seq((1L, 100.0)).toDF("id", "v"), Seq("id"), "app-m", 0L)
    assert(t.latestVersion === head)
    assert(state() === Map(1L -> 200.0))
    // a COLD handle on the same table also refuses the replay
    val cold = LakeTable.open(spark, t.root)
    cold.mergeBatch(Seq((1L, 100.0)).toDF("id", "v"), Seq("id"), "app-m", 1L)
    assert(cold.latestVersion === head)
    assert(state() === Map(1L -> 200.0))
  }

  test("two mergeBatch writers racing: both land, states serialize") {
    import spark.implicits._
    val t = LakeTable.createTemp(spark, Seq((1L, 0.0), (2L, 0.0)).toDF("id", "v"))
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    // DISTINCT appIds: two independent streams merging into one table.
    // (With a shared appId the batchIds form ONE monotonic sequence, so
    // whichever of 5/6 lands second-with-a-smaller-id is BY CONTRACT an
    // already-applied replay and must no-op — that ordering-dependent
    // outcome made the original same-appId version of this test flaky.)
    val threads = Seq(
      ("A", "app-race-A", Seq((1L, 100.0)).toDF("id", "v"), 5L),
      ("B", "app-race-B", Seq((1L, 200.0)).toDF("id", "v"), 6L))
      .map { case (name, app, ups, bid) =>
        new Thread(() => {
          start.await()
          // separate handles: each pays its own txn scan, like two executors
          try LakeTable.open(spark, t.root).mergeBatch(ups, Seq("id"), app, bid)
          catch { case e: Throwable => results.put(name, e) }
        })
      }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(results.isEmpty, s"a merge writer failed: $results")
    // both commits landed (one of them after retrying a lost race)
    assert(t.latestVersion === 3L)
    // the final state is ONE of the two serialized orders, never a blend
    val v1 = t.snapshot().filter(col("id") === 1L).collect().head.getDouble(1)
    assert(v1 === 100.0 || v1 === 200.0)
    // and both replay markers are in force on a cold handle
    val cold = LakeTable.open(spark, t.root)
    cold.mergeBatch(Seq((1L, 999.0)).toDF("id", "v"), Seq("id"), "app-race-A", 5L)
    cold.mergeBatch(Seq((1L, 999.0)).toDF("id", "v"), Seq("id"), "app-race-B", 6L)
    assert(t.latestVersion === 3L)
    assert(t.snapshot().filter(col("id") === 1L).collect().head.getDouble(1) === v1)
    // the same-appId ordering contract, pinned EXPLICITLY: after both
    // merges, a smaller batchId under an existing appId is a replay
    // no-op even though that batch never wrote (monotonic batchIds are
    // Structured Streaming's checkpoint guarantee — two writers must
    // not share an appId)
    cold.mergeBatch(Seq((1L, 777.0)).toDF("id", "v"), Seq("id"), "app-race-B", 2L)
    assert(t.latestVersion === 3L)
  }

  test("changeFeed tags each change with its introducing version") {
    val base = events.filter(col("event_id") < 100)
    val t = LakeTable.createTemp(spark, base)
    t.append(events.filter(col("event_id").between(100, 149))) // v2
    val dels = base.filter(col("event_id") % 10 === 1).select(col("event_id"))
    t.merge(events.limit(0), Seq("event_id"), Some(dels)) // v3
    val feed = t.changeFeed(1L, 3L)
      .groupBy("version", "change").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(feed === Map((2L, "added") -> 50L, (3L, "removed") -> dels.count()))
    // a single-step feed equals diff with the version column
    assert(t.changeFeed(2L, 3L).drop("version").exceptAll(t.diff(2L, 3L)).count() === 0)
  }

  test("changeFeed straddling a schema evolution null-fills the narrow steps") {
    import spark.implicits._
    val t = LakeTable.createTemp(spark, Seq((1L, "a")).toDF("id", "s"))
    t.append(Seq((2L, "b")).toDF("id", "s")) // v2: narrow add
    t.append(Seq((3L, "c", 7.5)).toDF("id", "s", "score")) // v3: widened add
    val feed = t.changeFeed(1L, 3L)
    assert(feed.columns.toSet === Set("id", "s", "change", "score", "version"))
    val rows = feed.orderBy("version").collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq === Seq(2L, 3L))
    assert(rows.forall(_.getString(2) === "added"))
    assert(rows.head.isNullAt(rows.head.fieldIndex("score"))) // narrow step null-fills
    assert(rows.last.getDouble(rows.last.fieldIndex("score")) === 7.5)
  }

  test("diff backward across a schema evolution when one side's dirs are empty") {
    import spark.implicits._
    val v1df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val t = LakeTable.createTemp(spark, v1df)
    // v2 widens the schema via append (shared dir cancels, so the
    // v1-only side is EMPTY): previously the empty-side placeholder
    // resolved the narrow v1 schema while the non-empty side read with
    // the merged one, and exceptAll failed on arity
    t.append(Seq((3L, "c", 1.5)).toDF("id", "s", "score")) // v2: schema +score
    val d = t.diff(2L, 1L)
    assert(d.columns.toSeq === Seq("id", "s", "score", "change"))
    val rows = d.collect()
    assert(rows.length === 1 && rows.head.getString(3) === "removed" &&
      rows.head.getLong(0) === 3L)
    // and the forward direction across the same evolution
    val fwd = t.diff(1L, 2L).collect()
    assert(fwd.length === 1 && fwd.head.getString(3) === "added")
  }
}
