package graft

import graft.core.DiskMemo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-13 eviction-proofing device (core/DiskMemo): `.cache()`
  * semantics with a filesystem artifact — the contracts that make it
  * safe to substitute for the in-memory cache everywhere. */
class DiskMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten

  test("identical constructions share ONE artifact; results equal the source frame") {
    val build = () => graft.core.Tables.documents(spark, TestSpark.sfSmoke)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val a = DiskMemo.persist(build(), "dm_test")
    val b = DiskMemo.persist(build(), "dm_test")
    assert(scanPaths(a) === scanPaths(b))
    assert(scanPaths(a).head.contains("graft_diskmemo_"))
    val exp = build().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = a.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exp)
  }

  test("distinct LOCAL fixtures with identical schemas get DISTINCT artifacts") {
    // LocalRelation.toString omits rows — the digest must fold the row
    // values in (the ApiSpec id-collision regression, pinned here)
    val x = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val y = Seq((1L, "a"), (3L, "c")).toDF("id", "v")
    val px = DiskMemo.persist(x, "dm_local")
    val py = DiskMemo.persist(y, "dm_local")
    assert(scanPaths(px) !== scanPaths(py))
    assert(py.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("wide plans key on ALL columns, not the truncated rendering") {
    // 40 columns > the default 25-field toString truncation: two frames
    // differing only in a late column must not collide
    def wide(last: Int) = {
      val cols = (1 to 39).map(i => lit(i).as(s"c$i")) :+ lit(last).as("c40")
      Seq(1).toDF("seed").select(cols: _*)
    }
    val p1 = DiskMemo.persist(wide(100), "dm_wide")
    val p2 = DiskMemo.persist(wide(200), "dm_wide")
    assert(scanPaths(p1) !== scanPaths(p2))
    assert(p2.head().getInt(39) === 200)
  }

  test("different tags never collide even on the same plan") {
    val df = Seq((1L, 2.0)).toDF("k", "v")
    val a = DiskMemo.persist(df, "dm_tag_a")
    val b = DiskMemo.persist(df, "dm_tag_b")
    assert(scanPaths(a) !== scanPaths(b))
  }

  test("same-schema RDD-backed frames get DISTINCT artifacts (opaque-leaf identity)") {
    // LogicalRDD canonicalizes to schema only — without the identity
    // fold both frames digest identically and the second silently
    // reads the first's rows (ADVICE round 15, medium)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val rddA = spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, "b")))
    val rddB = spark.sparkContext.parallelize(Seq(Row(9L, "z")))
    val a = DiskMemo.persist(spark.createDataFrame(rddA, schema), "dm_rdd")
    val b = DiskMemo.persist(spark.createDataFrame(rddB, schema), "dm_rdd")
    assert(scanPaths(a) !== scanPaths(b))
    assert(a.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(b.collect().map(_.getLong(0)).toSet === Set(9L))
  }

  test("ensure builds a key once and hands a session the same frame object") {
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val a = DiskMemo.ensure(spark, "dm_ensure_once")(build)
    val b = DiskMemo.ensure(spark, "dm_ensure_once")(build)
    assert(a eq b, "a repeated ensure must return the memoized frame")
    assert(builds === 1)
    assert(scanPaths(a).head.contains("graft_diskmemo_"))
    assert(a.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("streaming frames pass through untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val s = ms.toDF()
    assert(DiskMemo.persist(s, "dm_stream") eq s)
  }
}
