package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostics-only (round 19, verdict item 2): dissect the per-key
  * orchestration floor — the 326 sub-0.8 s keys that sum to ~130 s of
  * the 410-key bench. For each key, run the op `reps` times and split
  * wall time into:
  *
  *   - build: the `op.build` call (DataFrame construction — includes
  *     `spark.read.parquet` file listing + footer schema inference);
  *   - analysis/optimization/planning: QueryPlanningTracker phases;
  *   - exec: the rest (codegen compile + job scheduling + task run).
  *
  * Rep 0 is the cold number (what the bench pays); later reps show
  * which costs are one-time (codegen cache, file-index reuse).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.FloorProbe key1,key2 3"
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("win_nth_value", "ts_shift_time", "str_map_replace"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.joinTuned(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    val byKey = graft.ops.Registry.all.map(op => op.key -> op).toMap
    println(f"${"key"}%-28s rep ${"build"}%7s ${"analyze"}%7s ${"optim"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s")
    keys.foreach { k =>
      val op = byKey.getOrElse(k, sys.error(s"unknown key $k"))
      (0 until reps).foreach { r =>
        val t0 = System.nanoTime()
        val df = op.build(spark, sfDir)
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.toRdd.count()
        val t2 = System.nanoTime()
        val ph = qe.tracker.phases.map { case (n, s) => n -> (s.endTimeMs - s.startTimeMs) }
        val an = ph.getOrElse("analysis", 0L)
        val opt = ph.getOrElse("optimization", 0L)
        val pl = ph.getOrElse("planning", 0L)
        val build = (t1 - t0) / 1e6
        val total = (t2 - t0) / 1e6
        val exec = (t2 - t1) / 1e6 - an - opt - pl
        println(f"$k%-28s $r%3d ${build}%7.0f ${an}%7d ${opt}%7d ${pl}%7d ${exec}%7.0f ${total}%7.0f")
      }
    }
    spark.stop()
  }
}
