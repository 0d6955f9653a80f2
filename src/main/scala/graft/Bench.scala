package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // 1-min load average sampled BEFORE this JVM's own work ramps the
    // box — contention context for envelope comparisons (BASELINE.md's
    // r9/r10 spread on identical code was host noise; record the
    // covariate so future regressions can be attributed).
    val loadavg =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      catch { case _: Throwable => "-1" }
    // Cumulative CPU-steal jiffies (/proc/stat field 8): the
    // VM-noisy-neighbor covariate loadavg CANNOT see — round-14
    // measured a uniform ~1.5× total inflation at loadavg < 1.8 that
    // only hypervisor steal explains. The JSON ships the during-run
    // DELTA so a slow total can be attributed to the host, not the
    // code.
    def stealJiffies(): Long =
      try scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    val steal0 = stealJiffies()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Join-strategy knobs ride the SHARED graft.core.GraftSession
    // helper since round 19 (verdict item 7): one definition for the
    // library builder, Bench, and Verify, so the oracle-certified
    // config is exactly the benched config. Env overrides
    // (SPARK_GRAFT_PREFER_SMJ/_SHJ_LOCALMAP/_BROADCAST) documented
    // there. Strategy choice never changes results — every declared
    // query re-certified against its unchanged DuckDB oracle.
    val spark = graft.core.GraftSession.joinTuned(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions) // TVF + strategy + rewrite
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // One throwaway action absorbs JVM/codegen/task-pool warmup so it
    // isn't attributed to whichever query happens to run first; queries
    // then run in the stable Registry declaration order (round-1 lesson:
    // Map iteration order made agg_pivot "cost" 5.96 s of warmup).
    try { spark.read.parquet(s"$sfDir/lineitem.parquet").count() }
    catch { case _: Throwable => () }
    // optional comma-separated key filter for local perf loops (the
    // driver never sets it — full registry runs by default)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Per-key failures are caught so one broken key can't zero the
    // whole artifact — but they are COUNTED and shipped (round-15
    // lesson: a silently-swallowed ARITHMETIC_OVERFLOW made two
    // "zero failures" envelope rows wrong; the error cost ~0 s so the
    // total looked healthy while a key was down).
    val failed = Seq.newBuilder[String]
    // Per-key steal sampling (round-16, verdict item 3): the run-level
    // steal delta proved decisive for attributing slow totals to the
    // hypervisor; sampling /proc/stat around EACH key attributes a
    // contended run at key granularity (which keys ate the stolen
    // jiffies) instead of leaving the total's inflation anonymous.
    // One ~50 µs file read per key — invisible at 400 keys.
    val results: Seq[(String, Double, Long)] = ops.Registry.all
      .filter(op => only.forall(_.contains(op.key)))
      .map { op =>
      val s0 = stealJiffies()
      val t0 = System.nanoTime()
      // toRdd.count(), NOT df.count() (round-16 honesty fix): count()
      // re-optimizes with zero required columns, and ColumnPruning then
      // DELETES every Window (and any projection-only compute) from the
      // measured plan — verified: win_rolling_time's count() plan has no
      // Window node at all. toRdd executes the query's OWN optimized
      // plan, materializing every output column — what a consumer pays.
      try { op.build(spark, sfDir).queryExecution.toRdd.count() }
      catch { case e: Throwable =>
        failed += op.key
        System.err.println(s"[bench] ${op.key} failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val s1 = stealJiffies()
      (op.key, dt, if (s0 < 0 || s1 < 0) -1L else s1 - s0)
    }
    val failedKeys = failed.result()
    // stdout carries the per-query map at 0.1 ms resolution (4
    // decimals) — round-19 truncation guard (verdict item 8: the r17
    // stdout line was cut mid-map and the round lost its PERF
    // comparison; trimming ~8 chars/key shrinks the line ~3 KB).
    // target/bench_full.json keeps the FULL-precision map.
    def r4(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val qsFull = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // top-10 stolen keys ride the (truncation-exposed) stdout line;
    // the full per-key steal map ships in target/bench_full.json
    val stealTop = results.sortBy(-_._3).take(10)
      .map { case (k, _, s) => s"\"" + k + "\":" + s }.mkString("{", ",", "}")
    val stealAll = results.map { case (k, _, s) => s"\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Post-run covariates (round-12 verdict item 7): storage-memory
    // occupancy and cached-RDD block health, so a contended-box run
    // can CONFIRM cache eviction as the inflation mechanism instead of
    // inferring it from per-query deltas. All from public APIs:
    // SparkStatusTracker executor infos + getRDDStorageInfo.
    val loadavgEnd =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0)
      catch { case _: Throwable => "-1" }
    val (memUsed, memTotal) =
      try {
        val ex = spark.sparkContext.statusTracker.getExecutorInfos
        (ex.map(_.usedOnHeapStorageMemory).sum, ex.map(_.totalOnHeapStorageMemory).sum)
      } catch { case _: Throwable => (-1L, -1L) }
    val (rddMem, rddDisk, rddPartsCached, rddPartsTotal) =
      try {
        val infos = spark.sparkContext.getRDDStorageInfo
        (infos.map(_.memSize).sum, infos.map(_.diskSize).sum,
          infos.map(_.numCachedPartitions.toLong).sum,
          infos.map(_.numPartitions.toLong).sum)
      } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }
    val cov =
      s""""loadavg1m_end":$loadavgEnd,"cpu_steal_jiffies":${stealJiffies() - steal0},""" +
        s""""storage_mem_used":$memUsed,""" +
        s""""storage_mem_total":$memTotal,"cached_rdd_mem_bytes":$rddMem,""" +
        s""""cached_rdd_disk_bytes":$rddDisk,"cached_rdd_parts":$rddPartsCached,""" +
        s""""cached_rdd_parts_expected":$rddPartsTotal"""
    val failJson = failedKeys.map("\"" + _ + "\"").mkString("[", ",", "]")
    // stdout line and file line share every part but the per-query map
    // (and the file's extra steal map), assembled from the same pieces
    val prefix =
      s"""{"metric":"total","value":$total,"unit":"sec","loadavg1m":$loadavg,$cov,""" +
        s""""failures":${failedKeys.length},"failed_keys":$failJson,""" +
        s""""steal_top10":$stealTop,""" +
        s""""queries":"""
    val suffix = s""","sf":"$sfDir""""
    val line = prefix + qs + suffix + "}"
    // The driver truncates long stdout tails, losing most of the
    // per-query map from the shipped artifact; persist the full line
    // (plus the FULL per-key steal map, too wide for stdout) to a
    // stable path as well (round-10 verdict item 6). Printed BEFORE
    // the metric line so that stays the final stdout line.
    try {
      val p = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      // full-precision per-query map + full steal map live here
      val fileLine = prefix + qsFull + suffix + s""","steal_by_key":$stealAll}"""
      java.nio.file.Files.write(p, fileLine.getBytes("UTF-8"))
      println(s"""{"metric":"bench_full_path","path":"${p.toAbsolutePath}"}""")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench_full.json: $e")
    }
    println(line)
    spark.stop()
  }
}
