package perfbench

import java.io.File

import scala.collection.mutable

import graft.store.TsdbStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The tsdb-ingest loop, rebuilt from nothing on every pass through
  * `graft.store.TsdbStore`'s public functions:
  *
  *  - a `writeDayPartitioned` bulk load of the base events;
  *  - per batch: `appendDayPartitioned` (re-versioned keys and late,
  *    out-of-order timestamps), then a `latestByKey` read and a
  *    partition-pruned `read`;
  *  - after every `every`-th batch: `compact` into the other store
  *    directory, `rollupRefreshDays` of the hourly rollup over the
  *    batches since the last maintenance, and `expirePartitions` of one
  *    more leading day;
  *  - one evolved-schema batch, read back with `readMerged`.
  *
  * The batches and the loop shape come from the corpus's ingest
  * directory (perfbench/corpus.py). In traced passes each step also
  * records bytes ingested and written, the live and latest-version
  * store bytes around each compaction, and the live file count.
  */
final class Ingest(spark: SparkSession, corpus: String, root: File,
                   tracer: Harness.Tracer, stats: mutable.Map[String, Double]) {
  private val dir = s"$corpus/ingest"
  private val plan = {
    val p = new java.util.Properties
    val r = new java.io.FileReader(s"$dir/plan.properties")
    try p.load(r) finally r.close()
    p
  }
  private val batches = plan.getProperty("batches").toInt
  private val every = plan.getProperty("every").toInt
  private val days = plan.getProperty("days").toInt
  private val start = java.time.LocalDate.parse(plan.getProperty("start"))
  private def batchFile(b: Int) = f"$dir/batch_$b%02d.parquet"
  val steps: Int = 3 + 3 * batches + 3 * (batches / every)

  private var last: String = ""

  private def day(n: Int) = java.sql.Date.valueOf(start.plusDays(n.toLong))

  /** Drops the previous pass's directories; called outside pass timing. */
  def prepare(): Unit = { Harness.deleteRec(root); root.mkdirs() }

  def pass(p: Int): Seq[Harness.Op] = {
    val base = new File(root, s"p$p")
    val stores = Array(s"$base/store_a", s"$base/store_b")
    val rollup = s"$base/rollup"
    var cur = 0
    val ops = mutable.ArrayBuffer[Harness.Op]()
    def step(id: String)(body: => Unit): Unit =
      ops += Harness.Op(s"ingest.$id", "tsdb_ingest", () => body)

    def writing(layer: String, input: Option[String])(body: => Unit): Unit = {
      val before = if (tracer.on) Harness.files(base).map(_.getPath).toSet else Set.empty[String]
      tracer.span(layer)(body)
      if (tracer.on) {
        stats("store_written_b") += Harness.files(base).filterNot(f => before(f.getPath))
          .map(_.length).sum.toDouble
        input.foreach(f => stats("store_ingested_b") += new File(f).length.toDouble)
      }
    }
    def readStep(id: String)(q: => org.apache.spark.sql.DataFrame): Unit =
      step(id)(tracer.span("store.read")(q.queryExecution.toRdd.count()))

    step("load")(writing("store.write", Some(s"$dir/base.parquet"))(TsdbStore.writeDayPartitioned(
      spark.read.parquet(s"$dir/base.parquet"), "ts", stores(cur))))
    for (b <- 1 to batches) {
      step(s"append_$b")(writing("store.append", Some(batchFile(b)))(
        TsdbStore.appendDayPartitioned(spark.read.parquet(batchFile(b)), "ts", stores(cur))))
      readStep(s"latest_$b")(TsdbStore.latestByKey(TsdbStore.read(spark, stores(cur)),
        Seq("event_id"), "version", Seq("value")))
      val lo = (b * 7) % (days - 3)
      readStep(s"pruned_$b")(TsdbStore.read(spark, stores(cur))
        .filter(col("event_date").between(day(lo), day(lo + 2))))
      if (b % every == 0) {
        val k = b / every
        step(s"compact_$k") {
          val (src, dst) = (stores(cur), stores(1 - cur))
          val live = if (tracer.on) Harness.bytes(new File(src)).toDouble else 0.0
          writing("store.compact", None)(
            TsdbStore.compact(spark, src, dst, Seq("event_id"), "version", "ts"))
          if (tracer.on) {
            stats("store_live_b") += live
            stats("store_latest_b") += Harness.bytes(new File(dst)).toDouble
          }
          Harness.deleteRec(new File(src))
          cur = 1 - cur
        }
        step(s"rollup_$k") {
          val delta = (b - every + 1 to b).map(i => spark.read.parquet(batchFile(i))).reduce(_ union _)
          writing("store.rollup", None)(TsdbStore.rollupRefreshDays(
            spark, stores(cur), rollup, delta, "ts", "event_type", "value"))
        }
        step(s"expire_$k")(writing("store.expire", None)(
          TsdbStore.expirePartitions(stores(cur), day(k))))
      }
    }
    step("evolved")(writing("store.append", Some(s"$dir/evolved.parquet"))(
      TsdbStore.appendDayPartitioned(spark.read.parquet(s"$dir/evolved.parquet"), "ts",
        stores(cur))))
    step("merged_read") {
      tracer.span("store.read")(latest(stores(cur)).queryExecution.toRdd.count())
      if (tracer.on)
        stats("store_files") += Harness.files(new File(stores(cur)))
          .count(_.getName.endsWith(".parquet")).toDouble
      last = stores(cur)
    }
    ops.toSeq
  }

  private def latest(path: String) =
    TsdbStore.latestByKey(TsdbStore.readMerged(spark, path), Seq("event_id"), "version",
      Seq("ts", "user_id", "event_type", "value", "props", "tag"))

  /** The latest version of every key in the last pass's final store,
    * for the untimed check against a DuckDB fold over the inputs. */
  def dumpLatest(path: String): Unit =
    latest(last).coalesce(1).write.mode("overwrite").parquet(path)
}
