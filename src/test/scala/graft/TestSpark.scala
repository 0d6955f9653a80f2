package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole suite (sessions are ~5 s to start;
  * per-spec sessions would dominate `sbt test`). Built through
  * `GraftSession.joinTuned`, like Bench and Verify, so the suite runs
  * the join-strategy and generated-class-cache settings they run. This
  * is the test JVM's first session, so the static cache size applies. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.joinTuned(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions) // mirror Verify/Bench
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfSmoke = "/root/testdata/sf0.001"
}
