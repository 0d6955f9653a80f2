package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Schema is inferred from the parquet footers — the engine, like the
  * reference (a pandas extension: dynamic per-column dtypes), never
  * hand-declares schemas (SURVEY §1.3).
  *
  * At 100 TB each of these would be a directory of many files,
  * time/key-partitioned; `spark.read.parquet(path)` is unchanged — the
  * scan parallelism and partition pruning come from the file layout,
  * not the reader call.
  */
object Tables {
  /** Loaded frames are memoized per (session, key) in
    * [[DiskMemo.frame]]: each `spark.read.parquet` lists the files and
    * infers the schema from the footers (80–260 ms of driver-side work
    * per call), so a table is loaded once per session and corpus. The
    * source tables under sfDir are immutable for the life of a session;
    * a long-lived session over a regenerated corpus calls
    * `graft.core.Caches.release`. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    DiskMemo.frame(spark, s"$sfDir/$name") { spark.read.parquet(s"$sfDir/$name.parquet") }

  /** events with `ts` exactly as the parquet footer declares it — no
    * rebuild. The legacy nanosAsLong flag is set so a timestamp[ns]
    * footer (which Spark 4 otherwise refuses with PARQUET_TYPE_ILLEGAL)
    * loads as raw int64 ns; on µs/ms footers the flag is a no-op and
    * `ts` loads as a native timestamp. Use this when the caller needs
    * the physical column (pushdown queries, fixture re-writes). */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    DiskMemo.frame(spark, s"$sfDir/events.raw") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/events.parquet")
    }

  /** Back-compat alias: meaningful only against ns-era testdata. */
  def eventsRawNanos(spark: SparkSession, sfDir: String): DataFrame =
    eventsRaw(spark, sfDir)

  /** Schema-ADAPTIVE events loader — the testdata generator has shipped
    * `ts` as both int64 ns-since-epoch and parquet timestamp[us] across
    * regens, so the loader inspects the loaded dtype once (a footer
    * read, no data scan) and normalizes to Spark's native TimestampType
    * at µs precision either way:
    *
    *  - LongType (ns era, via the nanosAsLong legacy flag): rebuild with
    *    integer `ts div 1000` — NOT /1000 double division; a double
    *    mantissa can't hold ns-since-epoch exactly and rounding could
    *    flip a µs — then `timestamp_micros`.
    *  - TimestampType / TimestampNTZType (µs era): `cast("timestamp")`.
    *    The session is pinned UTC (GraftSession), so NTZ↔LTZ is
    *    instant-identical and the cast keeps every `unix_micros`/window
    *    call site type-stable.
    *
    * Either branch yields the same column type and the same instants,
    * so all 128 downstream events queries are regen-proof.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    DiskMemo.frame(spark, s"$sfDir/events.normalized") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = eventsRaw(spark, sfDir)
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType | TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case other => throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other — expected int64 ns or timestamp")
      }
    }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
