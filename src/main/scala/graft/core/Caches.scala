package graft.core

import org.apache.spark.sql.SparkSession

/** Cache lifecycle for long-lived sessions.
  *
  * The engine shares work across a session's queries through
  * driver-side memos, not Spark's in-memory relation cache (no
  * `.cache()` call remains in the engine):
  *  - `Tables`: the loaded parquet DataFrame per (session, corpus,
  *    table), so a table is listed and schema-inferred once;
  *  - `DiskMemo`: the artifact path per plan or caller key (write-once
  *    parquet under `java.io.tmpdir`) and the artifact-scan DataFrame
  *    per (session, path);
  *  - `graft.text.NearDup`: the dedup cluster labels and capped n-gram
  *    pair stats per (session, corpus stamp);
  *  - `graft.store.TsdbStore`: the built, compacted, retained and
  *    rollup store paths per corpus digest.
  * Keys that carry a corpus stamp re-derive automatically when the
  * corpus is regenerated.
  *
  * Single-shot drivers (`graft.Bench`, `graft.Verify`) need no
  * cleanup: every memo goes with the JVM. A long-lived session
  * iterating over MANY corpora should call [[release]] between
  * corpora so retired entries don't accumulate. DiskMemo artifact
  * FILES stay on disk until JVM exit; [[release]] drops only the
  * memo entries, so the next use rebuilds and overwrites them.
  */
object Caches {
  /** Drop every engine-held memo listed above (NearDup's entries for
    * `spark` only; the others JVM-wide), plus any entries a caller put
    * in Spark's in-memory relation cache. */
  def release(spark: SparkSession): Unit = {
    graft.text.NearDup.clearMemo(spark)
    graft.store.TsdbStore.clearMemo(spark)
    DiskMemo.clear()
    Tables.clearMemo()
    spark.catalog.clearCache()
  }
}
