package graft.core

import org.apache.spark.sql.SparkSession

/** Cache lifecycle for long-lived sessions.
  *
  * The engine shares work across a session's queries through one
  * driver-side memo, [[DiskMemo]], not Spark's in-memory relation
  * cache (no `.cache()` call remains in the engine). It holds the
  * loaded tables and artifact scans per (session, key), and the
  * build-once directories (parquet artifacts and the store fixtures)
  * per key. Keys that carry a corpus stamp re-derive automatically
  * when the corpus is regenerated.
  *
  * Single-shot drivers (`graft.Bench`, `graft.Verify`) need no
  * cleanup: the memo goes with the JVM, and an exit hook deletes its
  * directories. A long-lived session iterating over MANY corpora should
  * call [[release]] between corpora so retired entries don't
  * accumulate; the next use rebuilds and overwrites each directory.
  */
object Caches {
  /** Drop every memo entry (JVM-wide), plus any entries a caller put
    * in Spark's in-memory relation cache. */
  def release(spark: SparkSession): Unit = {
    DiskMemo.clear()
    spark.catalog.clearCache()
  }
}
