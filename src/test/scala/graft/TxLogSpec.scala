package graft

import graft.sources.TxLog
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** GraftLog protocol behaviors no SQL oracle can see: snapshot isolation,
  * optimistic-concurrency conflicts, stats-pruned copy-on-write, checkpoint
  * replay, compaction invariance, orphan vacuum. The two declared
  * txlog_* keys oracle the data lifecycle itself. */
class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val p = ScratchDir.create(s"graft_txspec_$name")
    java.nio.file.Files.delete(java.nio.file.Paths.get(p)) // create() wants to own the dir
    p
  }

  private def orders = Tables.load(spark, sfDir, "orders")

  test("append/read round-trip preserves rows exactly; log never lists data dir") {
    val tb = fresh("rt")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.filter($"o_orderkey" % 2 === 0))
    TxLog.append(spark, tb, orders.filter($"o_orderkey" % 2 === 1))
    val got = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    val want = orders.orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(got == want)
    // A data file the log does not reference must be invisible to readers.
    val stray = TxLog.snapshot(spark, tb).limit(5)
    stray.write.parquet(s"$tb/stray-batch")
    assert(TxLog.snapshot(spark, tb).count() == want.size,
      "unreferenced data files must not leak into snapshots")
  }

  test("time travel: every committed version stays readable after later mutations") {
    val tb = fresh("tt")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))          // v1
    TxLog.overwrite(spark, tb, orders.limit(10))        // v2
    TxLog.deleteWhere(spark, tb, $"o_orderkey" >= 0)    // v3: empty
    assert(TxLog.snapshot(spark, tb, Some(1L)).count() == 100)
    assert(TxLog.snapshot(spark, tb, Some(2L)).count() == 10)
    assert(TxLog.snapshot(spark, tb, Some(3L)).count() == 0)
    assert(TxLog.history(tb).map(_._2) ==
      Seq("create", "append", "overwrite", "delete"))
  }

  test("merge: stats-pruned COW rewrites only key-overlapping files") {
    val tb = fresh("merge")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    // Two disjoint key-range files around the corpus midpoint (sf0.001
    // keys are 0..1499): [0, 700) and [700, ...).
    TxLog.append(spark, tb,
      orders.filter($"o_orderkey" < 700).coalesce(1))
    TxLog.append(spark, tb,
      orders.filter($"o_orderkey" >= 700).coalesce(1))
    val (before, _) = TxLog.state(tb)
    val lowFile = before.find(_.max.exists(m => BigDecimal(m) < 700)).get
    val highFile = before.find(f => f.path != lowFile.path).get
    // Source touches only the low range.
    val src = orders.filter($"o_orderkey" < 500)
      .withColumn("o_orderpriority", lit("X"))
    TxLog.merge(spark, tb, src, "o_orderkey")
    val (after, _) = TxLog.state(tb)
    assert(after.map(_.path).contains(highFile.path),
      "non-overlapping file must survive the merge untouched")
    assert(!after.map(_.path).contains(lowFile.path),
      "overlapping file must be rewritten")
    // Data law: merge == SQL upsert twin.
    val got = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    val base = orders
    val want = base.join(src.select($"o_orderkey".as("_k")),
        $"o_orderkey" === $"_k", "left_anti")
      .unionByName(src)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("snapshotRange opens only stats-overlapping files; wrong-schema append refuses") {
    val tb = fresh("range")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.filter($"o_orderkey" < 700).coalesce(1))
    TxLog.append(spark, tb, orders.filter($"o_orderkey" >= 700).coalesce(1))
    val pruned = TxLog.snapshotRange(spark, tb, "100", "399")
    assert(pruned.inputFiles.length == 1,
      s"range [100,399] must open ONE of the two files, got ${pruned.inputFiles.length}")
    assert(pruned.count() ==
      orders.filter($"o_orderkey".between(100, 399)).count())
    // Schema contract: a mis-shaped batch refuses instead of corrupting.
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, orders.drop("o_totalprice"))
    }
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb,
        orders.withColumn("extra", lit(1)))
    }
  }

  test("conflict: a rewrite loses to a concurrent commit that removed its files") {
    val tb = fresh("conflict")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(50))
    val (files, _) = TxLog.state(tb)
    // Writer A plans a compaction of the current files... but B overwrites
    // first. A's commit must fail the expectActive re-validation, not
    // resurrect removed files.
    TxLog.overwrite(spark, tb, orders.limit(5))
    intercept[java.util.ConcurrentModificationException] {
      // Simulate A committing its stale plan via the same path every
      // rewrite op uses: claiming the OLD (now-removed) files.
      TxLog.commit(tb, "compact", Nil, files.map(_.path),
        expectActive = true)
    }
  }

  test("concurrent appends: both racers land, distinct versions, union visible") {
    val tb = fresh("race")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    val batches = Seq(
      orders.filter($"o_orderkey" % 2 === 0).limit(200).cache(),
      orders.filter($"o_orderkey" % 2 === 1).limit(200).cache())
    batches.foreach(_.count())
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val fs = batches.map(b => Future(TxLog.append(spark, tb, b)))
    val vs = Await.result(Future.sequence(fs), 120.seconds)
    assert(vs.toSet.size == 2, s"racers must claim distinct versions: $vs")
    assert(TxLog.snapshot(spark, tb).count() == 400)
  }

  test("compaction is layout-only; checkpoint replay equals tail replay") {
    val tb = fresh("compact")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    // 12 commits → crosses the checkpoint interval (10).
    (0 until 12).foreach { i =>
      TxLog.append(spark, tb, orders.filter($"o_orderkey" % 12 === i))
    }
    val before = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(before.size == orders.count(),
      "12 residue batches must cover the table")
    val nFilesBefore = TxLog.state(tb)._1.size
    TxLog.compact(spark, tb, target = 2)
    val after = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must never change the rows")
    assert(TxLog.state(tb)._1.size < nFilesBefore)
    // Checkpoint exists and a fresh read (which replays checkpoint + tail)
    // agrees with full-history replay — verified implicitly by the reads
    // above; verify the file exists so the path is actually exercised.
    assert(new java.io.File(s"$tb/_graft_log").listFiles()
      .exists(_.getName.endsWith(".checkpoint.json")))
  }

  test("streaming txLogSink: exactly-once table contents; replayed batch is a no-op") {
    val tb = fresh("stream")
    TxLog.create(spark, tb, Tables.events, Some("event_id"))
    // 3-file feed of the events corpus (the StreamingSpec convention).
    val feed = ScratchDir.create("graft_txlog_feed")
    val raw = Tables.load(spark, sfDir, "events")
    (0 until 3).foreach { i =>
      raw.filter(pmod($"event_id", lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(s"$feed/f$i")
    }
    // File-source streams read a flat directory (the StreamingSpec
    // flatten convention): move the part files up.
    locally {
      val d = new java.io.File(feed)
      var idx = 0
      d.listFiles().filter(_.isDirectory).sortBy(_.getName).foreach { sub =>
        sub.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(d, f"p$idx%03d.parquet").toPath)
          idx += 1
        }
        sub.listFiles().foreach(_.delete()); sub.delete()
      }
    }
    val ckpt = ScratchDir.create("graft_txlog_ckpt")
    val stream = graft.streaming.Streams
      .eventsStream(spark, feed, maxFilesPerTrigger = 1)
    graft.streaming.Streams
      .txLogSink(spark, stream, tb, ckpt, appId = "spec-writer")
      .awaitTermination()
    assert(TxLog.snapshot(spark, tb).count() == raw.count())
    // Restart replay: a batchId at or below the last committed one no-ops.
    val last = TxLog.txnVersion(tb, "spec-writer")
    assert(last >= 0)
    assert(!TxLog.appendBatch(spark, tb, raw.limit(10), "spec-writer", last),
      "replayed batchId must be skipped")
    assert(TxLog.snapshot(spark, tb).count() == raw.count(),
      "replay must not duplicate rows")
    // A DIFFERENT writer's batchId 0 is independent.
    assert(TxLog.appendBatch(spark, tb, raw.limit(1), "other-writer", 0L))
    assert(TxLog.snapshot(spark, tb).count() == raw.count() + 1)
  }

  test("tableChanges tails appended rows by version; refuses rewrite ranges") {
    val tb = fresh("cdc")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                      // v1
    TxLog.append(spark, tb, orders.filter($"o_orderkey" >= 100)
      .limit(50))                                                   // v2
    val ch = TxLog.tableChanges(spark, tb, 1L, 2L)
    assert(ch.count() == 50)
    assert(ch.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // Empty range: empty frame, schema intact.
    assert(TxLog.tableChanges(spark, tb, 2L, 2L).count() == 0)
    // A COW rewrite inside the range re-adds surviving rows — refuse.
    TxLog.deleteWhere(spark, tb, $"o_orderkey" > 10)                // v3
    intercept[IllegalArgumentException] {
      TxLog.tableChanges(spark, tb, 1L, 3L).count()
    }
  }

  test("vacuum deletes only orphans; all committed versions still read") {
    val tb = fresh("vacuum")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))
    TxLog.overwrite(spark, tb, orders.limit(10))
    // Orphan: a failed writer's data files (no commit record).
    orders.limit(7).write.parquet(s"$tb/batch-failed-writer")
    // Default retention protects a LIVE writer's fresh staged files —
    // these orphans are seconds old, so the default window keeps them.
    assert(TxLog.vacuum(tb) == 0,
      "retention window must protect fresh (possibly in-flight) files")
    val deleted = TxLog.vacuum(tb, retainMs = -1000L) // force-expire window
    assert(deleted >= 1, "the failed writer's files are orphans")
    assert(TxLog.snapshot(spark, tb, Some(1L)).count() == 100,
      "historical versions survive vacuum")
    assert(TxLog.snapshot(spark, tb, Some(2L)).count() == 10)
  }

  test("vacuum vs long-running reader: a snapshot resolved BEFORE rewrites " +
      "and a zero-retention vacuum still reads its exact rows (round-16, " +
      "VERDICT r15 item 7)") {
    // The reader-side contract: vacuum deletes only files referenced by
    // NO committed version, and the log never expires versions — so the
    // files behind a RESOLVED snapshot stay referenced (by its own
    // version) no matter how many rewrites land or how aggressive the
    // retention window is. This spec is the proof the contract covers
    // readers, not just in-flight writers: the window here (-1000 ms)
    // would admit deleting ANY unreferenced file, old or new.
    val tb = fresh("vacrdr")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                       // v1
    // Long-running serve: resolve the snapshot (file list pinned NOW).
    val serve = TxLog.snapshot(spark, tb)
    val expect = serve.agg(sum($"o_orderkey")).head.getLong(0)
    val v1Files = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(tb))
      try {
        val it = w.iterator()
        val buf = List.newBuilder[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          if (p.toString.endsWith(".parquet") &&
              !p.toString.contains("_graft_log")) buf += p
        }
        buf.result()
      } finally w.close()
    }
    assert(v1Files.nonEmpty)
    val expectOdd = serve.filter($"o_orderkey" % 2 =!= 0).count()
    // Overlapping mutations: a COW delete and a compaction both REMOVE
    // v1's files from the LATEST version while the serve is in flight.
    TxLog.deleteWhere(spark, tb, $"o_orderkey" % 2 === 0)            // v2
    TxLog.compact(spark, tb, target = 1)                             // v3
    // Plus a genuine orphan, proving this vacuum really deletes.
    orders.limit(5).write.parquet(s"$tb/crashed-writer")
    val deleted = TxLog.vacuum(tb, retainMs = -1000L)
    assert(deleted >= 1, "the planted orphan must be vacuumed")
    v1Files.foreach { p =>
      assert(java.nio.file.Files.exists(p),
        s"$p backs a committed version — vacuum must never touch it")
    }
    // The resolved serve completes bit-identically after the vacuum.
    assert(serve.agg(sum($"o_orderkey")).head.getLong(0) == expect,
      "resolved snapshot must read its exact rows across vacuum")
    assert(serve.count() == 100)
    // And the post-rewrite world is intact too.
    assert(TxLog.snapshot(spark, tb).count() == expectOdd)
  }

  test("vacuum is path-encoding-safe: a table dir with a space never loses " +
      "live files (advice round-11)") {
    // input_file_name() percent-encodes the space; AddFile.path must be the
    // decoded OS path or every referenced file looks like an orphan.
    val base = ScratchDir.create("graft_txspec_sp")
    val tb = s"$base/my tbl"
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))
    assert(TxLog.vacuum(tb, retainMs = -1000L) == 0,
      "no orphans exist — deleting anything here is deleting live data")
    assert(TxLog.snapshot(spark, tb).count() == 100,
      "committed rows survive vacuum under a URI-escapable table path")
  }

  test("zombie writer: a stale (appId, batchId) is re-checked inside the " +
      "commit claim loop, not only at the pre-check (advice round-11)") {
    val tb = fresh("zombie")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    assert(TxLog.appendBatch(spark, tb, orders.limit(10), "app", 5L))
    val v = TxLog.latestVersion(tb)
    // Simulate the zombie that already passed appendBatch's pre-check
    // (its txnVersion read happened before the replacement committed):
    // drive the private commit directly with the stale mark — the in-loop
    // re-check must turn it into a -1 skip, not a duplicate append.
    val rc = TxLog.commit(tb, "streaming-append", Nil, Nil,
      txn = Some(("app", 5L)))
    assert(rc == -1L, "stale txn mark must skip inside the claim loop")
    assert(TxLog.latestVersion(tb) == v, "no commit record may land")
    assert(TxLog.snapshot(spark, tb).count() == 10, "no duplicate rows")
    // A genuinely newer batch still commits.
    assert(TxLog.appendBatch(spark, tb, orders.limit(3), "app", 6L))
    assert(TxLog.snapshot(spark, tb).count() == 13)
  }

  test("schema evolution: add-column reads old files with nulls, time " +
      "travel keeps the old schema, stale-schema appends refuse") {
    val tb = fresh("evolve")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                    // v1
    TxLog.addColumn(tb, "o_band", "string")                       // v2
    // Appends must now carry the evolved schema — the v1-shaped batch
    // would silently corrupt reads if accepted.
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, orders.limit(1))
    }
    TxLog.append(spark, tb, orders.orderBy($"o_orderkey".desc)
      .limit(50).withColumn("o_band", lit("NEW")))                // v3
    val snap = TxLog.snapshot(spark, tb)
    assert(snap.schema.fieldNames.contains("o_band"))
    assert(snap.count() == 150)
    assert(snap.filter($"o_band".isNull).count() == 100,
      "pre-evolve rows must read as NULL in the new column")
    assert(snap.filter($"o_band" === "NEW").count() == 50)
    // Time travel to the pre-evolve version reads the ORIGINAL schema.
    val v1 = TxLog.snapshot(spark, tb, Some(1L))
    assert(!v1.schema.fieldNames.contains("o_band"))
    assert(v1.count() == 100)
    // Evolution survives a checkpoint: push past the interval and re-read.
    (0 until TxLog.CheckpointInterval).foreach { i =>
      TxLog.append(spark, tb, orders.limit(1).withColumn("o_band", lit(s"b$i")))
    }
    assert(TxLog.snapshot(spark, tb).schema.fieldNames.contains("o_band"))
    // Duplicate column add refuses.
    intercept[IllegalArgumentException] { TxLog.addColumn(tb, "o_band", "string") }
  }

  test("rename column: zero-rewrite metadata change, old files serve the " +
      "new name, time travel across the rename reads each era's schema") {
    val tb = fresh("rename")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                     // v1
    val filesBefore = TxLog.history(tb).map(_._3).sum
    TxLog.renameColumn(tb, "o_orderstatus", "status")              // v2
    assert(TxLog.history(tb).map(_._3).sum == filesBefore,
      "rename must add no files (pure metadata)")
    val snap = TxLog.snapshot(spark, tb)
    assert(snap.schema.fieldNames.contains("status") &&
      !snap.schema.fieldNames.contains("o_orderstatus"))
    // The PRE-rename files serve the renamed column's values intact.
    assert(snap.filter($"status".isin("F", "O", "P")).count() == 100)
    // Time travel to v1 reads the pre-rename schema.
    val v1 = TxLog.snapshot(spark, tb, Some(1L))
    assert(v1.schema.fieldNames.contains("o_orderstatus"))
    assert(v1.select("o_orderstatus").collect().toSeq ==
      snap.select("status").collect().toSeq)
    // Appends post-rename carry the new logical name; both eras union.
    TxLog.append(spark, tb,
      orders.limit(10).withColumnRenamed("o_orderstatus", "status")) // v3
    assert(TxLog.snapshot(spark, tb).count() == 110)
    // statsCol follows a rename; pruned reads still work.
    TxLog.renameColumn(tb, "o_orderkey", "okey")                   // v4
    assert(TxLog.snapshotRange(spark, tb, "1", "5")
      .filter($"okey".between(1, 5)).count() ==
      TxLog.snapshot(spark, tb).filter($"okey".between(1, 5)).count())
    // The vacated name can be re-added; it starts EMPTY everywhere (the
    // old physical column must not leak through the new logical name).
    TxLog.addColumn(tb, "o_orderstatus", "string")                 // v5
    assert(TxLog.snapshot(spark, tb)
      .filter($"o_orderstatus".isNotNull).count() == 0,
      "re-added name must not resurrect the renamed column's bytes")
  }

  test("drop-then-readd: dropped values never resurrect; drop is " +
      "zero-rewrite; stats column refuses to drop") {
    val tb = fresh("dropreadd")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                     // v1
    intercept[IllegalArgumentException] { TxLog.dropColumn(tb, "o_orderkey") }
    val filesBefore = TxLog.history(tb).map(_._3).sum
    TxLog.dropColumn(tb, "o_orderpriority")                        // v2
    assert(TxLog.history(tb).map(_._3).sum == filesBefore,
      "drop must add no files (pure metadata)")
    val dropped = TxLog.snapshot(spark, tb)
    assert(!dropped.schema.fieldNames.contains("o_orderpriority"))
    assert(dropped.count() == 100)
    // Time travel BEFORE the drop still reads the column (the bytes stay).
    assert(TxLog.snapshot(spark, tb, Some(1L))
      .filter($"o_orderpriority".isNotNull).count() == 100)
    // Re-add the same logical name: it must be NULL for every pre-drop
    // row — the dropped physical column must NOT resurrect.
    TxLog.addColumn(tb, "o_orderpriority", "string")               // v3
    val readd = TxLog.snapshot(spark, tb)
    assert(readd.filter($"o_orderpriority".isNotNull).count() == 0,
      "re-added column must start empty, not serve dropped bytes")
    TxLog.append(spark, tb, orders.limit(5)
      .withColumn("o_orderpriority", lit("READD")))                // v4
    val after = TxLog.snapshot(spark, tb)
    assert(after.filter($"o_orderpriority" === "READD").count() == 5)
    assert(after.filter($"o_orderpriority".isNull).count() == 100)
    // The lifecycle survives a checkpoint replay.
    (0 until TxLog.CheckpointInterval).foreach { i =>
      TxLog.append(spark, tb, orders.limit(1)
        .withColumn("o_orderpriority", lit(s"p$i")))
    }
    assert(TxLog.snapshot(spark, tb)
      .filter($"o_orderpriority".isNull).count() == 100)
  }

  test("legacy log (no recorded mapping): rename/drop/re-add work under " +
      "the identity mapping and never recycle a dropped id's bytes") {
    // Simulate a pre-round-12 table: the create commit carries a meta
    // WITHOUT cols/maxColId (the legacy wire format, parsed with identity
    // mapping defaults).
    val tb = fresh("legacy")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tb))
    TxLog.commit(tb, "create", Nil, Nil,
      Some(TxLog.Meta(Tables.orders.toDDL, Some("o_orderkey"))))
    TxLog.append(spark, tb, orders.limit(20))
    // Rename on the identity mapping: old files serve the new name.
    TxLog.renameColumn(tb, "o_orderpriority", "prio")
    assert(TxLog.snapshot(spark, tb).filter($"prio".isNotNull).count() == 20)
    // Drop the HIGHEST-id column, then re-add the same name: the re-add
    // must get a fresh id + physical name (no resurrection), even though
    // the legacy meta never recorded maxColId.
    TxLog.dropColumn(tb, "prio")
    TxLog.addColumn(tb, "prio", "string")
    assert(TxLog.snapshot(spark, tb).filter($"prio".isNotNull).count() == 0,
      "legacy drop-then-readd must not resurrect dropped bytes")
    TxLog.append(spark, tb, orders.limit(3)
      .withColumn("prio", lit("NEW"))
      .withColumnRenamed("o_orderpriority", "_drop").drop("_drop"))
    assert(TxLog.snapshot(spark, tb).filter($"prio" === "NEW").count() == 3)
  }

  test("type widening: old narrow files read under the wide schema; " +
      "non-lossless widens refuse; merge still prunes soundly") {
    import org.apache.spark.sql.types._
    val tb = fresh("widen")
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("v", FloatType), StructField("tag", StringType)))
    TxLog.create(spark, tb, schema, Some("k"))
    TxLog.append(spark, tb, spark.range(1, 101)
      .select($"id".cast("int").as("k"), ($"id" * 1.5).cast("float").as("v"),
        lit("narrow").as("tag")))                                  // v1
    TxLog.widenColumn(tb, "k", "bigint")                           // v2
    TxLog.widenColumn(tb, "v", "double")                           // v3
    val snap = TxLog.snapshot(spark, tb)
    assert(snap.schema("k").dataType == LongType)
    assert(snap.schema("v").dataType == DoubleType)
    // Old int32/float values read promoted, exactly.
    assert(snap.agg(sum($"k")).head.getLong(0) == (1L to 100L).sum)
    assert(snap.filter($"k" === 100L).head.getDouble(1) == 150.0)
    // Appends must now carry the WIDE schema.
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, spark.range(200, 201)
        .select($"id".cast("int").as("k"), lit(1f).as("v"),
          lit("x").as("tag")))
    }
    TxLog.append(spark, tb, spark.range(1000000000000L, 1000000000001L)
      .select($"id".as("k"), lit(2.5d).as("v"), lit("wide").as("tag"))) // v4
    assert(TxLog.snapshot(spark, tb).count() == 101)
    // Stats pruning stays numeric-sound across mixed-width files.
    assert(TxLog.snapshotRange(spark, tb, "1", "10").count() == 10)
    // Merge on the widened stats key works across old+new files.
    TxLog.merge(spark, tb, spark.range(50, 51)
      .select($"id".as("k"), lit(9.9d).as("v"), lit("merged").as("tag")),
      key = "k")
    val m = TxLog.snapshot(spark, tb)
    assert(m.count() == 101 && m.filter($"tag" === "merged").count() == 1)
    // Lossy promotions refuse.
    intercept[IllegalArgumentException] { TxLog.widenColumn(tb, "k", "int") }
    intercept[IllegalArgumentException] {
      TxLog.widenColumn(tb, "tag", "bigint")
    }
  }

  test("clustered append writes tight near-disjoint file ranges; range " +
      "read opens only overlapping files") {
    val tb = fresh("cluster")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders, clusterBy = Some("o_orderkey"),
      targetFiles = 4)
    val (files, meta) = TxLog.state(tb)
    assert(files.size == 4, s"targetFiles=4 → 4 files, got ${files.size}")
    // Range-clustered files must be pairwise key-disjoint.
    val ranges = files.map(f => (BigDecimal(f.min.get), BigDecimal(f.max.get)))
      .sortBy(_._1)
    ranges.sliding(2).foreach { case Seq((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"clustered file ranges overlap: $ranges")
    case _ => }
    // A narrow range read opens exactly the one overlapping file.
    val lo = ranges.head._1
    val cand = TxLog.overlapping(files, meta, lo.toString, lo.toString)
    assert(cand.size == 1, s"point lookup must open 1 file, got ${cand.size}")
    // Contents are unchanged by clustering (decimal sum: order-exact).
    def dsum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum($"o_totalprice".cast("decimal(18,4)"))).head.getDecimal(0)
    assert(dsum(TxLog.snapshot(spark, tb)) == dsum(orders))
    assert(TxLog.snapshot(spark, tb).count() == orders.count())
  }

  test("graftlog streaming source: tails append commits exactly once, " +
      "tags versions, survives restart from checkpoint, fails on rewrites") {
    val tb = fresh("stream")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.filter($"o_orderstatus" === "F")) // v1
    TxLog.append(spark, tb, orders.filter($"o_orderstatus" === "O")) // v2
    val ckpt = ScratchDir.create("graft_stream_ckpt")
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long)]() // (commit_version, o_orderkey)
    // Raw delivery COUNT alongside the set: the set dedups, so it only
    // proves no-loss — the counter catches double delivery too (review
    // round-11).
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    def run(): Unit = {
      val q = spark.readStream.format("graftlog").option("path", tb).load()
        .select("_commit_version", "o_orderkey")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r =>
            seen.add((r.getLong(0), r.getLong(1)))
            delivered.incrementAndGet()
          }
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    val nF = orders.filter($"o_orderstatus" === "F").count()
    val nO = orders.filter($"o_orderstatus" === "O").count()
    assert(seen.size == nF + nO, s"expected ${nF + nO}, saw ${seen.size}")
    assert(delivered.get() == nF + nO,
      s"rows delivered MORE than once: ${delivered.get()} vs ${nF + nO}")
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.map(_._1).toSet == Set(1L, 2L),
      "rows must carry their commit versions")
    // Incremental tail after restart: ONLY the new commit arrives (the
    // checkpointed offset proves exactly-once across restarts).
    TxLog.append(spark, tb, orders.filter($"o_orderstatus" === "P")) // v3
    run()
    val nP = orders.filter($"o_orderstatus" === "P").count()
    assert(seen.size == nF + nO + nP,
      s"restart must deliver exactly the new commit (saw ${seen.size})")
    assert(delivered.get() == nF + nO + nP,
      s"restart re-delivered rows: ${delivered.get()} vs ${nF + nO + nP}")
    assert(seen.asScala.map(_._1).toSet == Set(1L, 2L, 3L))
    // A copy-on-write rewrite inside the tail range fails the stream
    // (append-only change semantics — the tableChanges contract).
    TxLog.deleteWhere(spark, tb, $"o_totalprice" > 100000)            // v4
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog").option("path", tb).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("rewrite") ||
      Option(err.getCause).exists(_.getMessage.contains("rewrite")),
      s"rewrite in range must fail the stream: ${err.getMessage}")
  }

  test("graftlog startingVersion: a table with a HISTORICAL rewrite is " +
      "tailable from past it; user-supplied schemas are refused") {
    val tb = fresh("startver")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(100))                 // v1
    TxLog.deleteWhere(spark, tb, $"o_orderkey" > 50)           // v2: rewrite
    TxLog.append(spark, tb, orders.orderBy($"o_orderkey".desc)
      .limit(30))                                              // v3
    // Default (full history) fails on the v2 rewrite...
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog").option("path", tb).load()
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // ...but startingVersion = 3 tails the appends past it,
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graftlog").option("path", tb)
      .option("startingVersion", "3").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.addAndGet(df.count()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(got.get() == 30, s"startingVersion=3 must deliver exactly v3's " +
      s"30 rows, got ${got.get()}")
    // ...and a user schema is rejected up front, not silently ignored.
    intercept[IllegalArgumentException] {
      spark.readStream.format("graftlog").option("path", tb)
        .schema(Tables.orders).load()
    }
  }

  test("graftlog detects mid-stream schema evolution with an explicit " +
      "restart error, not the engine's opaque arity assert") {
    val tb = fresh("evostream")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(10))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog").option("path", tb).load()
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try {
        q.processAllAvailable() // v1 drains fine
        TxLog.addColumn(tb, "o_band", "string") // evolve mid-stream
        TxLog.append(spark, tb, orders.limit(5).withColumn("o_band", lit("x")))
        q.processAllAvailable() // next batch must fail CLEARLY
      } finally q.stop()
    }
    val msg = err.getMessage +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("restart"), s"expected a restart-the-stream error: $msg")
  }

  test("graftlog across a RENAME: mid-stream rename fails with the " +
      "restart error; a stream started after it serves the new name") {
    val tb = fresh("renamestream")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(10))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog").option("path", tb).load()
        .writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
      try {
        q.processAllAvailable()
        TxLog.renameColumn(tb, "o_orderstatus", "status") // evolve mid-stream
        TxLog.append(spark, tb,
          orders.limit(5).withColumnRenamed("o_orderstatus", "status"))
        q.processAllAvailable()
      } finally q.stop()
    }
    val msg = err.getMessage +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("restart"), s"expected a restart-the-stream error: $msg")
    // The RESTARTED stream (the documented recovery) serves the renamed
    // logical column, with pre-rename files' values intact through the
    // physical mapping.
    var got = 0L
    val q2 = spark.readStream.format("graftlog").option("path", tb).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got += b.filter(col("status").isin("F", "O", "P")).count(); ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(got == 15L, s"restarted stream must serve all rows under the " +
      s"renamed column, got $got")
  }

  test("log -> transform -> log: exactly-once on BOTH ends (graftlog " +
      "source + txLogSink), incremental across restarts, replay no-op") {
    import org.apache.spark.sql.types.StructType
    val src = fresh("pipe_src")
    val dst = fresh("pipe_dst")
    TxLog.create(spark, src, Tables.orders, Some("o_orderkey"))
    TxLog.create(spark, dst, StructType.fromDDL(
      "o_orderkey bigint, o_custkey bigint, o_totalprice double"),
      Some("o_orderkey"))
    TxLog.append(spark, src, orders.filter($"o_orderstatus" === "F")) // v1
    val ckpt = ScratchDir.create("graft_pipe_ckpt")
    def runPipe(checkpoint: String = ckpt): Unit = {
      val in = spark.readStream.format("graftlog").option("path", src).load()
      val out = in.filter($"o_totalprice" > 100000)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val q = streaming.Streams.txLogSink(spark, out, dst, checkpoint,
        appId = "pipe-app")
      q.awaitTermination()
    }
    runPipe()
    def expect(statuses: String*): Long = orders
      .filter($"o_orderstatus".isin(statuses: _*) && $"o_totalprice" > 100000)
      .count()
    assert(TxLog.snapshot(spark, dst).count() == expect("F"))
    // Incremental: a new source commit flows through on the next run —
    // ONLY the delta is read (checkpointed source offset) and appended
    // (idempotent sink txn).
    TxLog.append(spark, src, orders.filter($"o_orderstatus" === "O")) // v2
    runPipe()
    assert(TxLog.snapshot(spark, dst).count() == expect("F", "O"))
    // Restart-replay: a FRESH checkpoint re-delivers the full source as
    // replayed batch ids; the sink's (appId, batchId) high-water mark
    // turns every replay into a no-op — destination contents unchanged.
    val ckpt2 = ScratchDir.create("graft_pipe_ckpt2")
    runPipe(ckpt2)
    assert(TxLog.snapshot(spark, dst).count() == expect("F", "O"),
      "replayed batches must not duplicate destination rows")
  }

  test("merge fails fast on duplicate or null source keys (Delta MERGE " +
      "multiple-match semantics)") {
    val tb = fresh("dupkeys")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(50))
    val rows = TxLog.snapshot(spark, tb).count()
    val dup = orders.limit(1).unionAll(orders.limit(1))
    val e = intercept[IllegalArgumentException] {
      TxLog.merge(spark, tb, dup, "o_orderkey")
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    val withNull = orders.limit(1)
      .withColumn("o_orderkey", lit(null).cast("bigint"))
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, tb, withNull, "o_orderkey")
    }
    assert(TxLog.snapshot(spark, tb).count() == rows,
      "a rejected merge must not mutate the table")
  }

  test("mergeBatch: exactly-once upsert under batch replay — a re-applied " +
      "non-idempotent update never doubles; streaming merge sink end-to-end") {
    val tb = fresh("mergebatch")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(200))
    // A non-idempotent update: price += 1000 on keys % 5 == 0. Applying
    // it twice via plain merge WOULD double — the txn mark must not.
    val upd = TxLog.snapshot(spark, tb).filter($"o_orderkey" % 5 === 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000)
    val wantSum = BigDecimal(TxLog.snapshot(spark, tb)
      .agg(sum($"o_totalprice".cast("decimal(18,2)"))).head.getDecimal(0)) +
      BigDecimal(1000) * upd.count()
    assert(TxLog.mergeBatch(spark, tb, upd, "o_orderkey", "merge-app", 0L))
    def price(): BigDecimal = BigDecimal(TxLog.snapshot(spark, tb)
      .agg(sum($"o_totalprice".cast("decimal(18,2)"))).head.getDecimal(0))
    assert(price() == wantSum)
    // Replay (same appId, same batchId): skipped, sum unchanged.
    assert(!TxLog.mergeBatch(spark, tb, upd, "o_orderkey", "merge-app", 0L),
      "replayed merge batch must be skipped")
    assert(price() == wantSum, "a replayed merge must not re-apply")
    // End-to-end through the streaming sink: a fresh checkpoint
    // re-delivers batch 0 — destination contents must not change.
    val feed = ScratchDir.create("graft_mergesink_feed")
    upd.coalesce(1).write.mode("overwrite").parquet(feed)
    def runSink(ckpt: String): Unit = {
      val in = spark.readStream.schema(TxLog.snapshot(spark, tb).schema)
        .parquet(feed)
      streaming.Streams.txLogMergeSink(spark, in, tb, "o_orderkey",
        ckpt, appId = "merge-app").awaitTermination()
    }
    // The sink's appId already has batchId 0 committed (the direct
    // mergeBatch above), so even the FIRST run's batch 0 is a replay.
    runSink(ScratchDir.create("graft_mergesink_c1"))
    assert(price() == wantSum, "sink replay of batch 0 must be a no-op")
    // A different appId's batch 0 applies once — and only once across
    // a second restart-with-fresh-checkpoint.
    val upd2 = TxLog.snapshot(spark, tb).filter($"o_orderkey" % 5 === 0)
      .withColumn("o_totalprice", $"o_totalprice" + 1000)
    upd2.coalesce(1).write.mode("overwrite").parquet(feed)
    val want2 = wantSum + BigDecimal(1000) * upd2.count()
    def runSink2(ckpt: String): Unit = {
      val in = spark.readStream.schema(TxLog.snapshot(spark, tb).schema)
        .parquet(feed)
      streaming.Streams.txLogMergeSink(spark, in, tb, "o_orderkey",
        ckpt, appId = "merge-app-2").awaitTermination()
    }
    runSink2(ScratchDir.create("graft_mergesink_c2"))
    assert(price() == want2)
    runSink2(ScratchDir.create("graft_mergesink_c3"))
    assert(price() == want2,
      "restart with a fresh checkpoint must not re-apply the merge")
  }

  test("CHECK constraints: violating append/merge rejected at commit, " +
      "version + snapshot unchanged; null passes CHECK; drop unblocks") {
    val tb = fresh("cons")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.addConstraint(spark, tb, "pos_price", "o_totalprice > 0")
    TxLog.append(spark, tb, orders.limit(100))
    val v0 = TxLog.latestVersion(tb)
    val rows0 = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().toSeq
    // Violating append: rejected whole, nothing committed, no new files.
    val poison = orders.limit(20)
      .withColumn("o_totalprice", -$"o_totalprice")
    val e = intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, poison)
    }
    assert(e.getMessage.contains("pos_price") &&
      e.getMessage.contains("20 row(s)"), e.getMessage)
    assert(TxLog.latestVersion(tb) == v0,
      "a rejected commit must not advance the version")
    assert(TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().toSeq == rows0)
    // Violating MERGE: also rejected before any log record.
    intercept[IllegalArgumentException] {
      TxLog.merge(spark, tb,
        orders.limit(5).withColumn("o_totalprice", lit(-1.0)), "o_orderkey")
    }
    assert(TxLog.latestVersion(tb) == v0)
    // SQL CHECK semantics: NULL passes (spell NOT NULL explicitly).
    TxLog.addConstraint(spark, tb, "clerk_nn", "o_orderpriority IS NOT NULL")
    val withNullPrice = orders.filter($"o_orderkey" % 2 === 1).limit(10)
      .withColumn("o_totalprice", lit(null).cast("double"))
    TxLog.append(spark, tb, withNullPrice) // null price passes pos_price
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, orders.limit(3)
        .withColumn("o_orderpriority", lit(null).cast("string")))
    }
    // Drop unblocks the previously-poison batch.
    TxLog.dropConstraint(tb, "pos_price")
    TxLog.append(spark, tb, poison)
    assert(TxLog.snapshot(spark, tb).filter($"o_totalprice" < 0).count() == 20)
  }

  test("CHECK constraints block rename/drop of referenced columns " +
      "(no orphaned constraint can break later writes)") {
    val tb = fresh("consevolve")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.addConstraint(spark, tb, "pos_price", "o_totalprice > 0")
    val e1 = intercept[IllegalArgumentException] {
      TxLog.renameColumn(tb, "o_totalprice", "price")
    }
    assert(e1.getMessage.contains("pos_price"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TxLog.dropColumn(tb, "o_totalprice")
    }
    assert(e2.getMessage.contains("pos_price"), e2.getMessage)
    // Backtick-quoted references guard too (ADVICE round-13): expr()
    // accepts `o_orderdate` as an identifier, so the mention scan must.
    TxLog.addConstraint(spark, tb, "date_set", "`o_orderdate` is not null")
    val e3 = intercept[IllegalArgumentException] {
      TxLog.renameColumn(tb, "o_orderdate", "odate")
    }
    assert(e3.getMessage.contains("date_set"), e3.getMessage)
    TxLog.dropConstraint(tb, "date_set")
    // Unreferenced columns still evolve freely; after dropping the
    // constraint the rename goes through and writes keep working.
    TxLog.renameColumn(tb, "o_orderpriority", "o_prio")
    TxLog.dropConstraint(tb, "pos_price")
    TxLog.renameColumn(tb, "o_totalprice", "price")
    TxLog.append(spark, tb, orders.limit(5)
      .withColumnRenamed("o_orderpriority", "o_prio")
      .withColumnRenamed("o_totalprice", "price"))
    assert(TxLog.snapshot(spark, tb).count() == 5)
  }

  test("soak composition: graftlog tail -> transform -> merge sink with " +
      "CHECK + dead-letter converges exactly-once across incremental " +
      "restart and crash-replay; poison updates divert, clean state kept") {
    val src = fresh("soaksrc")
    val dst = fresh("soakdst")
    TxLog.create(spark, src, Tables.orders, Some("o_orderkey"))
    def transform(df: org.apache.spark.sql.DataFrame) = df
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice" * lit(0.9)).as("revenue"))
    TxLog.create(spark, dst, transform(orders.limit(0)).schema,
      Some("o_orderkey"))
    TxLog.addConstraint(spark, dst, "pos_revenue", "revenue > 0")
    val dlq = ScratchDir.create("graft_soak_dlq")
    val ckpt = ScratchDir.create("graft_soak_ckpt")
    def runOnce(checkpoint: String): Unit =
      streaming.Streams.txLogMergeSinkWithDeadLetter(spark,
        spark.readStream.format("graftlog").option("path", src).load()
          .drop("_commit_version")
          .transform(transform),
        dst, key = "o_orderkey", checkpointDir = checkpoint,
        appId = "soak-app", deadLetterDir = dlq).awaitTermination()
    // v1: clean low keys; v2: high keys, a third poisoned (negative
    // price -> transformed revenue violates the CHECK). Key-disjoint so
    // commits coalescing into one micro-batch keep merge keys unique.
    TxLog.append(spark, src, orders.filter($"o_orderkey" < 700))
    TxLog.append(spark, src, orders.filter($"o_orderkey" >= 700)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 3 === 0, -$"o_totalprice")
          .otherwise($"o_totalprice")))
    runOnce(ckpt)
    val nLow = orders.filter($"o_orderkey" < 700).count()
    val nHighClean = orders
      .filter($"o_orderkey" >= 700 && $"o_orderkey" % 3 =!= 0).count()
    val nHighPoison = orders
      .filter($"o_orderkey" >= 700 && $"o_orderkey" % 3 === 0).count()
    assert(TxLog.snapshot(spark, dst).count() == nLow + nHighClean)
    assert(TxLog.snapshot(spark, dst).filter($"revenue" <= 0).count() == 0)
    assert(spark.read.parquet(dlq).count() == nHighPoison)
    // v3: UPDATES to the low keys (price doubled), a fifth poisoned —
    // the incremental restart tails ONLY this commit; poisoned updates
    // divert and their keys KEEP the v1 state (a poison update must not
    // clobber good data).
    TxLog.append(spark, src, orders.filter($"o_orderkey" < 700)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 5 === 0, -$"o_totalprice" * 2)
          .otherwise($"o_totalprice" * 2)))
    runOnce(ckpt)
    val snap = TxLog.snapshot(spark, dst)
    assert(snap.count() == nLow + nHighClean,
      "updates must not change the key population")
    // Spot the merge semantics: updated keys carry doubled revenue,
    // poisoned-update keys keep the original.
    val want = orders.filter($"o_orderkey" < 700)
      .select($"o_orderkey",
        when($"o_orderkey" % 5 === 0, $"o_totalprice" * 0.9)
          .otherwise($"o_totalprice" * 2 * 0.9).as("want"))
    val bad = snap.join(want, "o_orderkey")
      .filter(abs($"revenue" - $"want") > 1e-9).count()
    assert(bad == 0, s"$bad keys diverge from the last-clean-writer state")
    val dlqRows = spark.read.parquet(dlq).count()
    assert(dlqRows == nHighPoison + orders
      .filter($"o_orderkey" < 700 && $"o_orderkey" % 5 === 0).count())
    // Crash-replay: a fresh checkpoint replays every source commit; the
    // (appId, batchId) marks + dead-letter overwrite leave BOTH sides
    // exactly as they were.
    val contentsBefore = snap.orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    runOnce(ScratchDir.create("graft_soak_ckpt2"))
    assert(TxLog.snapshot(spark, dst).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq == contentsBefore,
      "crash-replay must not change the table")
    assert(spark.read.parquet(dlq).count() == dlqRows,
      "crash-replay must not duplicate dead letters")
  }

  test("clustered OPTIMIZE: churned appends decay range pruning, " +
      "compact(clusterBy) restores fresh-ingest file opens, contents " +
      "invariant; zorder variant also contents-invariant") {
    val tb = fresh("optimize")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    // Fresh CLUSTERED ingest baseline: tight per-file key ranges.
    TxLog.append(spark, tb, orders, clusterBy = Some("o_orderkey"),
      targetFiles = 8)
    def opensFor(range: (Int, Int)): Int =
      TxLog.snapshotRange(spark, tb, range._1.toString, range._2.toString)
        .inputFiles.length
    val freshOpens = opensFor((100, 299))
    val total = orders.count()
    // Churn: 6 UNCLUSTERED appends, each spanning the whole key range —
    // the decay mode a long-lived table accumulates.
    (0 until 6).foreach { i =>
      TxLog.deleteWhere(spark, tb, $"o_orderkey" % 6 === i)
      TxLog.append(spark, tb,
        orders.filter($"o_orderkey" % 6 === i).coalesce(1))
    }
    val before = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(before.size == total, "churn must preserve the row set")
    val churnOpens = opensFor((100, 299))
    assert(churnOpens > freshOpens,
      s"whole-range churn files must decay pruning: fresh=$freshOpens " +
        s"churned=$churnOpens")
    // OPTIMIZE with the cluster key: contents invariant, pruning restored
    // to the fresh-ingest level.
    TxLog.compact(spark, tb, target = 8, clusterBy = Some("o_orderkey"))
    val after = TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(after == before, "OPTIMIZE must never change the rows")
    val optOpens = opensFor((100, 299))
    assert(optOpens <= freshOpens,
      s"post-OPTIMIZE opens must match fresh clustered ingest: " +
        s"fresh=$freshOpens optimized=$optOpens")
    // Time travel to the pre-OPTIMIZE version still reads the old layout.
    val vPre = TxLog.latestVersion(tb) - 1
    assert(TxLog.snapshot(spark, tb, Some(vPre)).count() == total)
    // Z-order variant: contents invariant (locality is a physical
    // property; the logical table is unchanged).
    TxLog.compact(spark, tb, target = 4,
      zorderBy = Some(("o_custkey", "o_orderkey")))
    assert(TxLog.snapshot(spark, tb).orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq == before)
    intercept[IllegalArgumentException] {
      TxLog.compact(spark, tb, 4, clusterBy = Some("o_orderkey"),
        zorderBy = Some(("o_custkey", "o_orderkey")))
    }
  }

  test("dead-letter streaming sink: poison rows divert (not crash, not " +
      "vanish); clean rows land exactly once; replay duplicates neither") {
    val tb = fresh("deadletter")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.addConstraint(spark, tb, "pos_price", "o_totalprice > 0")
    val feed = ScratchDir.create("graft_dl_feed")
    val dlq = ScratchDir.create("graft_dl_out")
    val clean = orders.limit(120)
    val poison = orders.limit(150).filter($"o_orderkey" % 4 === 0)
      .withColumn("o_totalprice", -$"o_totalprice")
    clean.unionByName(poison).coalesce(1)
      .write.mode("overwrite").parquet(feed)
    val in1 = spark.readStream
      .schema(TxLog.snapshot(spark, tb).schema).parquet(feed)
    streaming.Streams.txLogSinkWithDeadLetter(spark, in1, tb,
      ScratchDir.create("graft_dl_c1"),
      appId = "dl-app", deadLetterDir = dlq).awaitTermination()
    val nClean = clean.count()
    val nPoison = poison.count()
    assert(TxLog.snapshot(spark, tb).count() == nClean,
      "clean rows must land; poison rows must not")
    assert(TxLog.snapshot(spark, tb).filter($"o_totalprice" <= 0).count() == 0)
    val deadLetters = spark.read.parquet(dlq)
    assert(deadLetters.count() == nPoison,
      "every poison row must be preserved in the dead-letter channel")
    assert(deadLetters.filter($"o_totalprice" > 0).count() == 0)
    // Replay with a fresh checkpoint: append skipped by the txn mark,
    // dead letters overwritten in place — neither side duplicates.
    val in2 = spark.readStream
      .schema(TxLog.snapshot(spark, tb).schema).parquet(feed)
    streaming.Streams.txLogSinkWithDeadLetter(spark, in2, tb,
      ScratchDir.create("graft_dl_c2"),
      appId = "dl-app", deadLetterDir = dlq).awaitTermination()
    assert(TxLog.snapshot(spark, tb).count() == nClean)
    assert(spark.read.parquet(dlq).count() == nPoison)
    // Drop the constraint and replay once more: the batch now has zero
    // violations, so its stale dead-letter partition must be DELETED —
    // dead letters cannot outlive the constraint change (ADVICE r13) —
    // and the append is still skipped by the (appId, batchId) mark.
    TxLog.dropConstraint(tb, "pos_price")
    val in3 = spark.readStream
      .schema(TxLog.snapshot(spark, tb).schema).parquet(feed)
    streaming.Streams.txLogSinkWithDeadLetter(spark, in3, tb,
      ScratchDir.create("graft_dl_c3"),
      appId = "dl-app", deadLetterDir = dlq).awaitTermination()
    assert(TxLog.snapshot(spark, tb).count() == nClean,
      "replayed batch must still be idempotent after the constraint drop")
    val part0 = new org.apache.hadoop.fs.Path(s"$dlq/batch_id=0")
    val fs = part0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(part0),
      "zero-violation replay must delete the stale dead-letter partition")
  }

  test("CHECK constraints: ADD validates existing data; time travel to " +
      "pre-constraint versions unaffected; constraints survive checkpoints") {
    val tb = fresh("consadd")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(50)
      .withColumn("o_totalprice", -$"o_totalprice"))
    // Existing data violates → ADD must be rejected with the count.
    val e = intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, tb, "pos_price", "o_totalprice > 0")
    }
    assert(e.getMessage.contains("50 existing row(s)"), e.getMessage)
    // Clean the data, add the constraint, then verify time travel to the
    // pre-constraint version still reads the (then-valid) negative rows.
    val vNeg = TxLog.latestVersion(tb)
    TxLog.deleteWhere(spark, tb, $"o_totalprice" <= 0)
    TxLog.addConstraint(spark, tb, "pos_price", "o_totalprice > 0")
    assert(TxLog.snapshot(spark, tb, asOf = Some(vNeg)).count() == 50,
      "time travel must see pre-constraint history unchanged")
    // Enough commits to cross a checkpoint: enforcement must persist
    // through checkpoint replay (meta rides the same renderer).
    (1 to TxLog.CheckpointInterval).foreach { i =>
      TxLog.append(spark, tb, orders.limit(2))
    }
    intercept[IllegalArgumentException] {
      TxLog.append(spark, tb, orders.limit(1)
        .withColumn("o_totalprice", lit(-5.0)))
    }
  }

  test("same-version commit race: barrier-synced writer pairs each claim " +
      "a distinct contiguous version, every record lands whole, no stage " +
      "temps survive") {
    // Round-17 (VERDICT r16 item 7): the claim loop's EEXIST-retry path
    // is the optimistic-concurrency core — two writers that both read
    // latestVersion = v must resolve to ONE owner of v+1 and one clean
    // retry, never a clobbered or half-written record. Direct commit()
    // calls (no Spark write inside the window) keep the race window
    // tight enough that the link race actually fires across 24 rounds.
    val tb = fresh("claimrace")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    val rounds = 24
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(tag: String) = {
      val t = new Thread(() => {
        (0 until rounds).foreach { r =>
          barrier.await()
          TxLog.commit(tb, "append",
            Seq(TxLog.AddFile(s"$tb/synth_${tag}_$r.parquet", 1L,
              None, None)),
            Nil)
        }
      })
      t.setDaemon(true) // a dead partner must not hang the suite's JVM
      t
    }
    val (a, b) = (writer("a"), writer("b"))
    a.start(); b.start(); a.join(120000); b.join(120000)
    assert(!a.isAlive && !b.isAlive, "writers must finish (no starvation)")
    // One version per commit, contiguous — a lost race that silently
    // dropped or double-claimed a version would break the sequence.
    val vs = TxLog.versions(tb)
    assert(vs == (0L to 2L * rounds).toSeq,
      s"expected versions 0..${2 * rounds}, got $vs")
    // Every writer's every file is in the replayed state exactly once:
    // the loser's retry re-committed its OWN record, the winner's was
    // never clobbered (link, not rename), and no record tore.
    val paths = TxLog.state(tb)._1.map(_.path)
    assert(paths.distinct.size == paths.size, "duplicate AddFile paths")
    val expected = for (t <- Seq("a", "b"); r <- 0 until rounds)
      yield s"$tb/synth_${t}_$r.parquet"
    assert(paths.toSet == expected.toSet,
      s"state must replay both writers' ${expected.size} files, " +
        s"got ${paths.size}")
    // The staged dot-temp is always linked-then-deleted, even on a lost
    // race — leftovers would accumulate forever in a real log dir.
    val stray = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$tb/_graft_log"))
    val tmps = try stray.iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith(".stage-")).toSeq
      finally stray.close()
    assert(tmps.isEmpty, s"staged temp files survived the race: $tmps")
  }

  test("overwrite vs overwrite on one base version: exactly one winner, " +
      "loser aborts cleanly, readers never see partial state") {
    // The rewrite arm of the same race: both writers snapshot the SAME
    // active file set, so whichever claims its version second must fail
    // expectActive re-validation (its remove set is already gone) — one
    // winner, one ConcurrentModificationException, and a concurrent
    // reader polling snapshots sees only {base, winner} row counts.
    val tb = fresh("owrace")
    TxLog.create(spark, tb, Tables.orders, Some("o_orderkey"))
    TxLog.append(spark, tb, orders.limit(50))
    val batchA = orders.limit(7).cache();  batchA.count()
    val batchB = orders.limit(11).cache(); batchB.count()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try seen.add(TxLog.snapshot(spark, tb).count())
        catch { case t: Throwable => readerErr.set(t); stop.set(true) }
      }
    })
    reader.setDaemon(true)
    reader.start()
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    val attempts = Seq(batchA, batchB).map(df =>
      Future(scala.util.Try(TxLog.overwrite(spark, tb, df))))
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    stop.set(true); reader.join(30000)
    assert(readerErr.get() == null,
      s"reader must never see torn state: ${readerErr.get()}")
    val (wins, losses) = results.partition(_.isSuccess)
    assert(wins.size == 1 && losses.size == 1,
      s"exactly one overwrite must win, got $results")
    losses.head.failed.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException],
        s"loser must abort with the conflict exception, got $e"))
    val finalCount = TxLog.snapshot(spark, tb).count()
    assert(finalCount == 7 || finalCount == 11,
      s"final state must be exactly one writer's batch, got $finalCount")
    // Reader observations are drawn from {base, winner} only — never a
    // mix of both overwrites, never a half-applied remove.
    val legal = Set(50L, finalCount)
    assert(seen.iterator().asScala.forall(legal),
      s"reader saw illegal snapshot counts: $seen (legal: $legal)")
    // The loser's data files (written before its failed commit) must be
    // orphans, not state: vacuum reclaims them without touching history.
    TxLog.vacuum(tb, retainMs = 0L)
    assert(TxLog.snapshot(spark, tb).count() == finalCount)
    assert(TxLog.snapshot(spark, tb, asOf = Some(1L)).count() == 50,
      "pre-race version must survive the post-race vacuum")
  }
}
