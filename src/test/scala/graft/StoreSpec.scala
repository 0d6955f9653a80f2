package graft

import graft.store.TsdbStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TSDB store tier (§1.1 last row): day-partitioned write/append round
  * trip, upsert-on-read resolution, and the memo contract — the
  * invariants behind the gated store_read_pruned / store_upsert_latest
  * queries. */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def events = graft.core.Tables.events(spark, TestSpark.sfSmoke)

  test("ensureEventsStore builds base + update batch once; memo returns the same path") {
    val p1 = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val p2 = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    assert(p1 === p2)
    // day directories exist on disk (the partition layout IS the index)
    val dirs = new java.io.File(p1).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date="))
    assert(dirs.nonEmpty, s"no event_date= partition dirs under $p1")
    // row accounting: base + every-1000th update batch
    val base = events.count()
    val updates = TsdbStore.updateBatch(events).count()
    assert(TsdbStore.read(spark, p1).count() === base + updates)
    assert(updates > 0, "fixture must contain at least one update version")
  }

  test("latestByKey resolves appended versions: bumped value wins per updated key") {
    val path = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val latest = TsdbStore.latestByKey(
      TsdbStore.read(spark, path), Seq("user_id"), "event_id", Seq("value"))
    // every user whose events include an updated row must resolve to
    // the UPDATE's version id (≥ 10⁷) and its bumped value
    val updated = TsdbStore.updateBatch(events)
      .select(col("user_id"), col("event_id"), col("value"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(updated.nonEmpty)
    val got = latest.filter(col("user_id").isin(updated.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    updated.foreach { case (u, (vid, v)) =>
      // the update batch has exactly one row per selected base event;
      // a user could own several updated events — the max id wins
      val (gotVid, gotV) = got(u)
      assert(gotVid >= 10000000L, s"user $u resolved a base version $gotVid")
      if (gotVid == vid) assert(gotV === v, s"user $u value not the update's")
    }
    // and untouched users resolve to base versions
    val untouched = latest.filter(!col("user_id").isin(updated.keys.toSeq: _*))
    assert(untouched.filter(col("last_event_id") >= 10000000L).count() === 0L)
  }

  test("compact reclaims exactly the superseded versions, full rows survive") {
    val src = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val dst = TsdbStore.ensureCompactedStore(spark, TestSpark.sfSmoke)
    val srcDf = TsdbStore.read(spark, src)
    val dstDf = TsdbStore.read(spark, dst)
    // compacted rows = distinct (user_id, ts) keys of the source
    assert(dstDf.count() === srcDf.select("user_id", "ts").distinct().count())
    assert(dstDf.columns.sorted === srcDf.columns.sorted) // full rows, not a projection
    // every updated key kept the UPDATE's version (event_id ≥ 10⁷)
    val updatedKeys = TsdbStore.updateBatch(events).select("user_id", "ts")
    val keptOld = dstDf.join(updatedKeys, Seq("user_id", "ts"), "left_semi")
      .filter(col("event_id") < 10000000L)
    assert(keptOld.count() === 0L, "compaction kept a superseded base version")
    // and the day layout survived the rewrite
    val dirs = new java.io.File(dst).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date="))
    assert(dirs.nonEmpty)
    // clustered write: at most one data file per day directory
    dirs.foreach { dn =>
      val files = new java.io.File(dst, dn).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length <= 1, s"$dn has ${files.length} files — write not clustered")
    }
  }

  test("bucketed store: latestByKey resolves with ZERO exchange") {
    spark.sql("DROP TABLE IF EXISTS graft_store_bucketed_t")
    TsdbStore.writeBucketed(
      events.select("event_id", "ts", "user_id", "value"),
      "graft_store_bucketed_t", "user_id", buckets = 8)
    val latest = TsdbStore.latestByKey(
      spark.table("graft_store_bucketed_t"), Seq("user_id"), "event_id", Seq("value"))
    val plan = latest.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed upsert resolution still shuffles:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    // and it computes the same answer as the unbucketed path
    val viaBuckets = latest.orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val viaPlain = TsdbStore.latestByKey(
        events.select("event_id", "ts", "user_id", "value"),
        Seq("user_id"), "event_id", Seq("value"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(viaBuckets.toSeq === viaPlain.toSeq && viaBuckets.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS graft_store_bucketed_t")
  }

  test("streaming ingest lands in the day-partitioned store layout and reads back pruned") {
    // the production TSDB ingest path: writeStream → parquet file sink
    // partitioned by event_date, exactly-once via the sink's commit
    // log + checkpoint. Two micro-batches replay the smoke corpus;
    // the read-back must equal the batch-written store's content and
    // the day filter must prune partitions the same way.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.to_date
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_store").toFile
    val out = new java.io.File(dir, "data").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = graft.streaming.StreamOps.ingestToStore(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      "ts", out, ckpt)
    val (a, b) = rows.splitAt(rows.size / 2)
    ms.addData(a); q.processAllAvailable()
    ms.addData(b); q.processAllAvailable()
    q.stop()
    val back = TsdbStore.read(spark, out)
    assert(back.count() === rows.size.toLong)
    // day directories exist; a one-day filter prunes at the scan
    val days = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date="))
    assert(days.length > 1, s"expected multiple day dirs, got ${days.toSeq}")
    val oneDay = days.head.stripPrefix("event_date=")
    val pruned = back.filter(col("event_date") === lit(java.sql.Date.valueOf(oneDay)))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"), plan)
    // content equals the batch write of the same rows per day
    val batchCounts = events.groupBy(to_date(col("ts")).as("d"))
      .count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val streamCounts = back.groupBy("event_date")
      .count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(streamCounts === batchCounts)
  }

  test("shared sketch frames are DISK-memoized (a cache miss is a file read, not a recompute)") {
    // the round-12 bench robustness finding: `.cache()`d shared frames
    // inflated 5–23× on the contended bench box when evicted; the fix
    // materializes them once to parquet (graft.core.DiskMemo) — assert
    // the returned frame is literally a file scan of a diskmemo
    // artifact, and that a rebuild resolves to the SAME artifact
    // (plan-keyed sharing across sibling queries).
    val a = graft.text.NearDup.simhashDf(spark, TestSpark.sfSmoke)
    val b = graft.text.NearDup.simhashDf(spark, TestSpark.sfSmoke)
    def scanPath(df: org.apache.spark.sql.DataFrame): String = {
      val rels = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten
      assert(rels.length === 1, s"expected one file scan, got $rels")
      rels.head
    }
    val pa = scanPath(a)
    assert(pa.contains("graft_diskmemo_"), s"not a diskmemo artifact: $pa")
    assert(scanPath(b) === pa, "identical constructions must share one artifact")
    assert(a.count() > 0 && a.count() === b.count())
  }

  test("retention expiry drops exactly the pre-cutoff day partitions, metadata-only") {
    val full = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val kept = TsdbStore.ensureRetainedStore(spark, TestSpark.sfSmoke)
    def days(p: String) = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date=")).sorted
    val cutoff = TsdbStore.retentionCutoff.toString
    assert(days(kept).toSeq === days(full).filter(_.stripPrefix("event_date=") >= cutoff).toSeq)
    assert(days(kept).nonEmpty && days(kept).length < days(full).length)
    // retained rows are byte-identical to the full store's post-cutoff rows
    val fullPost = TsdbStore.read(spark, full)
      .filter(col("event_date") >= lit(TsdbStore.retentionCutoff))
    assert(TsdbStore.read(spark, kept).count() === fullPost.count())
    assert(TsdbStore.read(spark, kept).exceptAll(fullPost).count() === 0L)
  }

  test("hourly rollup: one file per day dir; content = hour×type aggregate of the store") {
    val src = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val dst = TsdbStore.ensureRollupStore(spark, TestSpark.sfSmoke)
    val dirs = new java.io.File(dst).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("event_date="))
    assert(dirs.nonEmpty)
    dirs.foreach { dn =>
      val files = new java.io.File(dst, dn).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length <= 1, s"$dn has ${files.length} files — write not clustered")
    }
    val expect = TsdbStore.read(spark, src)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val got = TsdbStore.read(spark, dst)
      .select("hour_ts", "event_type", "n", "sum_value")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).count() === 0L)
  }

  test("incremental rollup refresh rewrites ONLY the touched day partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_incroll").toString
    val src = s"$dir/src"; val dst = s"$dir/rollup"
    // three-day base store
    val base = Seq(
      (1L, "2024-03-01 10:15:00", "view", 10.0),
      (2L, "2024-03-01 11:20:00", "view", 20.0),
      (3L, "2024-03-02 10:05:00", "click", 5.0),
      (4L, "2024-03-03 09:00:00", "view", 7.5))
      .toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    TsdbStore.writeDayPartitioned(base, "ts", src)
    TsdbStore.rollupHourly(spark, src, dst, "ts", "event_type", "value")
    def partFiles(day: String) =
      Option(new java.io.File(s"$dst/event_date=$day").listFiles)
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    val d1Before = partFiles("2024-03-01")
    val d3Before = partFiles("2024-03-03")
    assert(d1Before.nonEmpty && d3Before.nonEmpty)
    // a batch touching ONLY day 2
    val batch = Seq((5L, "2024-03-02 10:40:00", "click", 3.0))
      .toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    TsdbStore.appendDayPartitioned(batch, "ts", src)
    Thread.sleep(1100) // mtime granularity can be a full second
    TsdbStore.rollupRefreshDays(spark, src, dst, batch, "ts", "event_type", "value")
    // untouched day partitions are byte-identical (same files, same
    // sizes, same mtimes) — the refresh never rewrote them
    assert(partFiles("2024-03-01") == d1Before)
    assert(partFiles("2024-03-03") == d3Before)
    // the refreshed rollup equals the full recompute of base + batch
    val got = TsdbStore.read(spark, dst)
      .select("hour_ts", "event_type", "n", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    val full = s"$dir/full"
    TsdbStore.rollupHourly(spark, src, full, "ts", "event_type", "value")
    val want = TsdbStore.read(spark, full)
      .select("hour_ts", "event_type", "n", "sum_value")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // and the day-2 cell actually absorbed the batch row
    val d2 = TsdbStore.read(spark, dst)
      .filter(col("event_type") === "click").agg(sum(col("n"))).head().getLong(0)
    assert(d2 === 2L)
  }

  test("as-of-version read at V = 10^7 - 1 reproduces the exact pre-append state") {
    val path = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val asof = TsdbStore.latestByKey(
      TsdbStore.read(spark, path).filter(col("event_id") <= 9999999L),
      Seq("user_id"), "event_id", Seq("value"))
    val base = TsdbStore.latestByKey(
      events.select("event_id", "ts", "user_id", "event_type", "value"),
      Seq("user_id"), "event_id", Seq("value"))
    assert(asof.count() === base.count())
    assert(asof.exceptAll(base).count() === 0L,
      "time travel to the pre-append version diverged from the original table")
  }

  test("schema evolution: merged read surfaces the appended column, NULL on base rows") {
    val path = TsdbStore.ensureEvolvedStore(spark, TestSpark.sfSmoke)
    val merged = TsdbStore.readMerged(spark, path)
    assert(merged.columns.contains("batch_tag"))
    val updates = TsdbStore.updateBatch(events).count()
    assert(merged.filter(col("batch_tag").isNotNull).count() === updates)
    assert(merged.filter(col("batch_tag") === "u1").count() === updates)
    // base rows: present, tag NULL — no row lost to the schema change
    assert(merged.filter(col("batch_tag").isNull).count() === events.count())
  }

  test("empty bulk load then non-empty append leaves a uniformly partitioned, readable store") {
    // the ADVICE round-12 mixed-layout hazard: writeDayPartitioned of
    // an EMPTY frame leaves a root-level schema-marker file; a later
    // real append must remove it or partition discovery sees
    // conflicting structures and the store is unreadable — exactly the
    // empty-backfill-then-stream shape.
    val dir = java.nio.file.Files.createTempDirectory("graft_store_backfill").toFile
    val path = new java.io.File(dir, "store").getAbsolutePath
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val src = events.select(cols.map(col): _*)
    TsdbStore.writeDayPartitioned(src.limit(0), "ts", path)
    // marker keeps the empty store readable
    assert(TsdbStore.read(spark, path).count() === 0L)
    TsdbStore.appendDayPartitioned(src.limit(500), "ts", path)
    val back = TsdbStore.read(spark, path) // must not throw on mixed layout
    assert(back.count() === 500L)
    assert(back.columns.contains("event_date"), "partition column must survive")
    val rootFiles = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(rootFiles.isEmpty, "schema-marker file must be removed after a real append")
  }

  test("vacuum report: superseded rows are exactly the update batch; share device exact") {
    val rows = graft.ops.Registry.queries("store_vacuum_report")(spark, TestSpark.sfSmoke)
      .collect()
    assert(rows.nonEmpty)
    // base events are (user_id, ts)-unique, so the only superseded
    // versions are the every-1000th update batch — totals must agree
    val expected = events.filter(col("event_id") % 1000 === 0).count()
    assert(rows.map(_.getLong(3)).sum === expected,
      s"Σ n_superseded != update-batch size $expected")
    rows.foreach { r =>
      val (n, live, sup, share) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(sup == n - live)
      assert(share == ((sup * 20000L + n) / (2L * n)).toDouble / 10000.0,
        s"${r.get(0)}: share device mismatch")
    }
  }

  test("every store fixture lives in its own DiskMemo directory (deleted at JVM exit)") {
    val paths = Seq(
      TsdbStore.ensureEventsStore _, TsdbStore.ensureCompactedStore _,
      TsdbStore.ensureRetainedStore _, TsdbStore.ensureRollupStore _,
      TsdbStore.ensureIncRollupStore _, TsdbStore.ensureEvolvedStore _,
    ).map(_(spark, TestSpark.sfSmoke))
    paths.foreach { p =>
      assert(new java.io.File(p).getParentFile.getName.startsWith("graft_diskmemo_"),
        s"store fixture outside the DiskMemo root: $p")
    }
    assert(paths.distinct.length === paths.length)
  }

  test("a base event_id at the version offset fails the store build loudly") {
    // the v1 incremental rollup tells base rows from batch rows by
    // event_id < 10^7; a larger base id must not be silently dropped
    val dir = java.nio.file.Files.createTempDirectory("graft_guard").toFile
    val minId = events.agg(min("event_id")).head().getLong(0)
    events.withColumn("event_id",
        when(col("event_id") === minId, lit(10000000L)).otherwise(col("event_id")))
      .write.parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    val e =
      try intercept[Exception](TsdbStore.ensureEventsStore(spark, dir.getAbsolutePath))
      finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("events store invariant violated")), msgs.mkString("\n"))
  }

  test("Caches.release drops the memo: tables reload, stores rebuild, rows unchanged") {
    def dataFiles(p: String): Set[String] = {
      def rec(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(rec)
        else if (f.getName.endsWith(".parquet")) Seq(f.getName) else Nil
      rec(new java.io.File(p)).toSet
    }
    def rows(p: String): Seq[String] =
      TsdbStore.read(spark, p).collect().map(_.toString).toSeq.sorted
    val t1 = graft.core.Tables.events(spark, TestSpark.sfSmoke)
    val p1 = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    val (files1, rows1) = (dataFiles(p1), rows(p1))
    graft.core.Caches.release(spark)
    val t2 = graft.core.Tables.events(spark, TestSpark.sfSmoke)
    assert(!(t1 eq t2), "Tables must reload after release")
    val p2 = TsdbStore.ensureEventsStore(spark, TestSpark.sfSmoke)
    assert(p2 === p1)
    assert(dataFiles(p2) !== files1, "the store build did not run again")
    assert(rows(p2) === rows1)
  }
}
