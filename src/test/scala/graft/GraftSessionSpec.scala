package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one-call session entry must wire the full extension stack: SQL
  * function, optimizer rule, and the as-of planner strategy. Uses a
  * dedicated session (newSession would share extensions anyway; the
  * builder path is what library users run). */
class GraftSessionSpec extends AnyFunSuite {

  test("builder session has dot_native, the rewrite rule, and the as-of strategy") {
    // force the shared test session to exist first so getOrCreate below
    // reuses its SparkContext but applies our extensions to a NEW session
    // (cleared default; restored after — do NOT stop() the shared context)
    val orig = TestSpark.spark
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val s = graft.core.GraftSession.builder("graft-session-spec")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      // SQL function registered
      val d = s.sql("SELECT dot_native(array(1D, 2D), array(3D, 4D)) AS d")
        .head().getDouble(0)
      assert(d == 11.0)
      // optimizer rule rewrites the HOF pattern (non-literal input so
      // constant folding can't collapse it first)
      val plan = s.range(3).selectExpr(
        "aggregate(zip_with(array(cast(id as double), 2D), array(3D, 4D), (x,y) -> x*y), 0D, (acc,x) -> acc+x) AS d")
      assert(plan.queryExecution.optimizedPlan.toString.contains("dot_native"),
        plan.queryExecution.optimizedPlan.toString)
      assert(plan.collect().map(_.getDouble(0)).sorted.toSeq == Seq(8.0, 11.0, 14.0))
      // planner strategy resolves the custom as-of node
      import org.apache.spark.sql.functions._
      val probe = s.range(3).select(col("id"),
        timestamp_micros(col("id") * 100).as("ts"), col("id").as("k"))
      val build = s.range(2).select(col("id").as("k"),
        timestamp_micros(col("id") * 50).as("ts"), lit(1.5).as("v"))
      val asof = graft.plans.AsofJoinPlan.asof(probe, build,
        on = "ts", by = Seq("k"), payload = Seq("v"))
      assert(asof.queryExecution.executedPlan.toString.contains("AsofJoin ts"))
      assert(asof.count() == 3)
      // SQL TVF surface: same operator straight from SQL text
      probe.createOrReplaceTempView("tvf_probe")
      build.createOrReplaceTempView("tvf_build")
      val viaSql = s.sql(
        "SELECT * FROM asof_join('tvf_probe', 'tvf_build', 'ts', 'k', 'v') ORDER BY id")
      assert(viaSql.queryExecution.executedPlan.toString.contains("AsofJoin ts"))
      val sqlRows = viaSql.select("id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val apiRows = asof.select("id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(sqlRows == apiRows && sqlRows.nonEmpty)
      // TVF direction + strict args (tolerance slot skipped with -1)
      val fwdSql = s.sql(
        "SELECT * FROM asof_join('tvf_probe', 'tvf_build', 'ts', 'k', 'v', -1, 'forward') ORDER BY id")
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val fwdApi = graft.plans.AsofJoinPlan.asof(probe, build,
          on = "ts", by = Seq("k"), payload = Seq("v"), direction = "forward")
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(fwdSql == fwdApi && fwdSql.nonEmpty)
      val strictSql = s.sql(
        "SELECT * FROM asof_join('tvf_probe', 'tvf_build', 'ts', 'k', 'v', -1, 'backward', false) ORDER BY id")
        .select("id", "matched_ts").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getTimestamp(1).getTime))).toMap
      val strictApi = graft.plans.AsofJoinPlan.asof(probe, build,
          on = "ts", by = Seq("k"), payload = Seq("v"), allowExactMatches = false)
        .select("id", "matched_ts").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getTimestamp(1).getTime))).toMap
      assert(strictSql == strictApi)
      // id 0: probe ts 0 == build(k=0) ts 0 — strict must NOT take it
      assert(strictSql(0L).isEmpty)
      // TVF misuse fails loudly, not silently
      val wrongArity = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('tvf_probe', 'tvf_build')").collect()
      }
      assert(wrongArity.getMessage.contains("asof_join"), wrongArity.getMessage)
      val emptyBy = intercept[Exception] {
        s.sql("SELECT * FROM asof_join('tvf_probe', 'tvf_build', 'ts', '', 'v')").collect()
      }
      assert(emptyBy.getMessage.contains("by"), emptyBy.getMessage)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
    }
  }

  test("joinTuned's generated-class cache keeps more than Spark's default 100 classes") {
    // Each query inlines its own long literals, so each compiles its own
    // class: 150 distinct classes per loop. At Spark's default cache size
    // (100) the second loop recompiles every one of them.
    val spark = TestSpark.spark
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def loop(): Unit = (1 to 150).foreach { k =>
      spark.range(10).selectExpr(s"id * ${k}L + ${k}L AS v").collect()
    }
    val c0 = compiles.getCount
    loop()
    val c1 = compiles.getCount
    loop()
    val c2 = compiles.getCount
    assert(c1 - c0 >= 150, s"first loop compiled ${c1 - c0} classes")
    assert(c2 - c1 == 0, s"second loop recompiled ${c2 - c1} classes")
  }
}
