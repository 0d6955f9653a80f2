package graft.core

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users: a `SparkSession.Builder`
  * pre-loaded with everything the engine's semantics assume —
  *
  *  - `GraftExtensions` (native `dot_native` Expression, the sound
  *    HOF→native optimizer rule, and the custom as-of planner strategy);
  *  - UTC session time zone and µs parquet timestamps (the
  *    cross-engine determinism contract, SURVEY §2.0);
  *  - ns-as-long parquet reads (the TSDB raw-ns range-scan fast path);
  *  - AQE on (runtime coalescing + skew-join splitting at scale);
  *  - the [[joinTuned]] defaults: join strategy and a generated-class
  *    cache large enough that repeated queries compile nothing. The
  *    cache size is a static conf, so it applies only if this builder
  *    creates the JVM's first SparkContext.
  *
  * Callers still pick master/shuffle partitions for their cluster:
  * {{{
  * val spark = GraftSession.builder().master("local[8]")
  *   .config("spark.sql.shuffle.partitions", "8").getOrCreate()
  * }}}
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder =
    joinTuned(SparkSession.builder()
      .appName(appName)
      // both forms: the conf string applies at cold SparkContext start
      // (spark-submit), withExtensions also covers new sessions built
      // over an already-running context (static conf is ignored then)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true"))

  /** The engine's session defaults, applied by ONE helper from the
    * library builder, `graft.Bench`, `graft.Verify`, the tools and the
    * test suite alike, so the oracle-certified config is exactly the
    * benched and tested config. None of these settings changes results,
    * only the physical plan or how much code is compiled.
    *
    * Join strategy (guide §3.1 / §9), env-overridable so a smaller
    * host — or an A/B — can restore Spark defaults ("true"/"0"/"10m"):
    *  - preferSortMergeJoin=false lets the planner pick shuffled-hash
    *    when its per-partition build side fits (its own size checks
    *    still gate it — SMJ stays the fallback);
    *  - the AQE localMap threshold rewrites SMJ→SHJ at runtime per
    *    measured partition size — scale-adaptive by construction;
    *  - the 64m broadcast threshold is sized to executor memory
    *    (128 GiB / 32 tasks here → worst-case ~2 GiB of concurrent
    *    build relations); production sizes it the same way.
    *
    * Generated-class cache: `spark.sql.codegen.cache.maxEntries` is
    * fixed at 2000 (Spark's default is 100). Spark keeps ONE LRU of
    * compiled whole-stage and expression classes per JVM, keyed on
    * the generated source. One pass over a dozen time-series keys
    * compiles about 200 distinct classes, so at 100 entries a repeated
    * query finds its classes evicted and compiles them again; at 2000
    * a repeated query compiles nothing.
    *  - It is a static conf: it takes effect only when set before the
    *    JVM's first SparkContext starts. A session built over an
    *    already-running context keeps that context's value.
    *  - The cache is sized once, when the JVM first generates code.
    *  - It raises no memory bound for a single cold pass: the cache
    *    retains only classes that were actually compiled, so a run
    *    that compiles fewer than 100 classes holds the same set either
    *    way. */
  def joinTuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.join.preferSortMergeJoin",
      sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
    .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCALMAP", "64m"))
    .config("spark.sql.autoBroadcastJoinThreshold",
      sys.env.getOrElse("SPARK_GRAFT_BROADCAST", "64m"))
    .config("spark.sql.codegen.cache.maxEntries", "2000")
}
