package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one memo: every piece of work shared across a
  * session's queries goes through this object.
  *
  *  - [[frame]] — a DataFrame per (session, key). It holds loaded
  *    tables (`Tables`, so each table is listed and schema-inferred
  *    once per session) and artifact scans (so an artifact's footers
  *    are read once per session). Metadata only: each query still
  *    plans and scans the data itself.
  *  - [[dir]] — a directory built once per key under this JVM's root.
  *    Parquet artifacts ([[ensure]], [[persist]], [[persistDerived]])
  *    and the `graft.store.TsdbStore` gate fixtures live here.
  *  - [[stamp]] — the name:size:mtime walk that caller keys fold in,
  *    so a regenerated corpus re-keys and rebuilds.
  *
  * An artifact is the eviction-proof twin of `.cache()`: it is written
  * once to parquet and every consumer reads the FILE, so under memory
  * pressure a miss costs a columnar file read, never a recompute of the
  * upstream pipeline. Artifact forms:
  *  - [[ensure]] — caller-keyed (corpus dir + content stamp + tag);
  *  - [[persist]] — plan-keyed drop-in for `.cache()`: the key is a
  *    sha-256 digest of the frame's CANONICALIZED logical plan (expr
  *    ids normalized, so two identical constructions collide — the
  *    sharing `.cache()` gave) plus the [[stamp]] of every file-source
  *    root in the plan. Streaming frames pass through untouched.
  *
  * Builds are EAGER (the write runs at first call), so the first query
  * of a family pays the build and its siblings read the artifact. The
  * root directory is per JVM (sha-256 digest + a per-JVM uid), so
  * concurrent JVMs over the same corpus never race on one path, and a
  * JVM-exit hook deletes it best-effort. `graft.core.Caches.release`
  * calls [[clear]].
  */
object DiskMemo {

  /** Per-JVM discriminator: two JVMs never share (or race on) a path. */
  private lazy val jvmUid: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "") + "_" +
      Integer.toHexString(System.identityHashCode(DiskMemo))

  private lazy val root: java.io.File = {
    val d = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_diskmemo_$jvmUid")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
    d
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** Keyed on the SparkSession object itself (identity equality), so
    * two sessions never share a frame. Get-then-putIfAbsent, not
    * computeIfAbsent: `mk` may itself call [[frame]] (the normalized
    * events loader reads the raw one), and a nested computeIfAbsent on
    * one map throws "Recursive update" when the keys share a bin. */
  private val frames =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def frame(spark: SparkSession, key: String)(mk: => DataFrame): DataFrame = {
    val k = (spark, key)
    val hit = frames.get(k)
    if (hit != null) hit
    else { val df = mk; frames.putIfAbsent(k, df); frames.get(k) }
  }

  /** digest(key) → built directory. Builds NEST (pair stats read the
    * shingle artifact; the store fixtures copy the base store), so the
    * build does not run inside computeIfAbsent (see [[frames]]).
    * Instead a per-key lock serializes concurrent builders of the SAME
    * key (the build runs at most once per key until [[clear]]), while
    * nested builds of other keys take their own lock. Build
    * dependencies form a DAG, so lock order is consistent and cannot
    * deadlock. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once directory: the first call per `key` runs `build` on an
    * empty directory under the root (a rebuild after [[clear]] starts
    * from scratch, so appending builds stay idempotent); every call
    * returns its path. */
  private[graft] def dir(key: String)(build: String => Unit): String = {
    val dg = sha16(key)
    var path = built.get(dg)
    if (path == null) {
      // the lock-object lambda touches no other map — never recursive
      buildLocks.computeIfAbsent(dg, _ => new Object).synchronized {
        path = built.get(dg)
        if (path == null) {
          val d = new java.io.File(root, dg)
          deleteRec(d)
          path = d.getAbsolutePath
          build(path)
          built.put(dg, path)
        }
      }
    }
    path
  }

  /** name:size:mtime of `f`, recursing into directories in name order;
    * the bare path when `f` does not exist (a non-local URI keys on its
    * path, and a regenerated corpus there needs `Caches.release`). */
  private[graft] def stamp(f: java.io.File): String =
    if (!f.exists) f.getPath
    else if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .sortBy(_.getName).map(stamp).mkString("[", ",", "]")
    else s"${f.getName}:${f.length}:${f.lastModified}"

  private def read(spark: SparkSession, path: String): DataFrame =
    frame(spark, path)(spark.read.parquet(path))

  /** Build-once / read-everywhere: the first call per `key` (full
    * caller-provided key — fold a content stamp in when the source can
    * regenerate) materializes `build` to parquet; every call in one
    * session returns the same scan of that artifact. */
  def ensure(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    read(spark, ensurePath(key)(build))

  /** [[ensure]]'s artifact PATH — for consumers that splice the
    * artifact into generated SQL (`parquet.\`path\``) instead of
    * reading it through the DataFrame API (the TVF tier). */
  def ensurePath(key: String)(build: => DataFrame): String =
    dir(key)(p => build.write.mode("overwrite").parquet(p))

  /** [[stamp]] of every file-source root feeding `df` — the regen
    * guard of the plan-keyed forms. */
  private def sourceStamp(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case other => Seq(other.toString)
      }
    }.flatten.sorted
    roots.map { r =>
      val f =
        try {
          val u = new java.net.URI(r)
          if (u.getPath != null) new java.io.File(u.getPath) else new java.io.File(r)
        } catch { case _: Throwable => new java.io.File(r) }
      if (f.exists) stamp(f) else r
    }.mkString(";")
  }

  /** Full-fidelity key text for the canonicalized plan. Two plan
    * `toString` hazards make the naive spelling COLLIDE distinct
    * frames (caught by ApiSpec's id-collision case):
    *  - LocalRelation prints only its schema, never its rows — two
    *    in-memory fixtures with the same shape would share one
    *    artifact; fold a value-hash of every local row into the key;
    *  - wide plans truncate ("... N more fields") at
    *    spark.sql.debug.maxToStringFields — raise it around the
    *    rendering so a 60-column sketch agg keys on all 60. */
  private def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    val conf = df.sparkSession.conf
    val k = "spark.sql.debug.maxToStringFields"
    val prev = conf.getOption(k)
    conf.set(k, "1000000")
    val rendered =
      try plan.toString
      finally prev match {
        case Some(v) => conf.set(k, v)
        case None    => conf.unset(k)
      }
    val localData = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        s"${l.data.length}:${l.data.map(_.hashCode()).mkString(",")}"
    }.mkString("|")
    s"$rendered#$localData#${opaqueLeafIds(df)}"
  }

  /** Identity fold for leaves the key cannot otherwise discriminate:
    * a LogicalRDD / ExternalRDD from
    * `createDataFrame(rdd, schema)` canonicalizes to nothing but its
    * schema — two same-shape RDD-backed frames would share one digest
    * and the second would silently read the first's rows. File sources
    * are covered by [[sourceStamp]] and LocalRelation by the row-hash
    * fold, so those contribute nothing here (sharing across identical
    * constructions is preserved); every OTHER leaf folds a per-instance
    * identity on the ORIGINAL analyzed plan, trading cross-construction
    * sharing for correctness. Same-DataFrame re-persist still shares
    * (same leaf objects → same ids). The identity is a monotonic
    * counter in an IdentityHashMap, NOT System.identityHashCode — the
    * latter is a non-unique 32-bit value whose collision would
    * silently serve another frame's rows; the map's
    * strong refs are bounded by the number of distinct opaque frames
    * persisted per JVM, the same lifetime as the artifacts
    * themselves. */
  private val leafSeq = new java.util.concurrent.atomic.AtomicLong()
  private val leafIds = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
  private def leafId(o: AnyRef): Long = leafIds.synchronized {
    var id = leafIds.get(o)
    if (id == null) { id = leafSeq.incrementAndGet(); leafIds.put(o, id) }
    id
  }
  private def opaqueLeafIds(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range => LRange}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case _: LocalRelation | _: OneRowRelation | _: LRange => Nil
      case l: LogicalRelation if l.relation.isInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation] => Nil
      case other => Seq(s"${other.nodeName}@${leafId(other)}")
    }.mkString(",")
  }

  /** Drop-in for `.cache()` on a deterministic batch frame: memoized on
    * (canonicalized plan + local-relation row hashes, source file
    * stamps, tag). Identical constructions (e.g. the same corpus
    * pipeline built by two sibling queries) resolve to ONE artifact —
    * the sharing `.cache()` gave, minus the evictability. Streaming
    * frames return unchanged. */
  def persist(df: DataFrame, tag: String = ""): DataFrame = {
    if (df.isStreaming) return df
    read(df.sparkSession, persistPath(df, tag).get)
  }

  /** Memoize a DERIVED frame keyed on its INPUT's construction:
    * like [[persist]], but the artifact holds
    * `build` while the digest comes from `keyDf` (plan + local rows +
    * source stamps + tag). The point is to let `build` embed values
    * that only exist after an eager driver action on `keyDf` (e.g.
    * ParallelRank's approxQuantile bucket bounds): with [[persist]]
    * every sibling caller must re-run that action just to CONSTRUCT
    * the plan being looked up, paying the sketch job on every hit —
    * keying on the input makes a hit a pure parquet read. Safe iff
    * `build` is a deterministic pure function of `keyDf` and `tag`
    * (callers fold every other parameter into the tag). `build` is
    * by-name: a hit never evaluates it. */
  def persistDerived(keyDf: DataFrame, tag: String)(build: => DataFrame): DataFrame = {
    if (keyDf.isStreaming) return build
    read(keyDf.sparkSession, ensurePath(
      s"derived|$tag|${keyDf.schema.catalogString}|${planKey(keyDf)}|${sourceStamp(keyDf)}")(
      build))
  }

  /** [[persist]]'s artifact PATH (None for streaming frames, which
    * cannot materialize). Same plan-keyed digest as persist, so a TVF
    * expansion that keys off the identical frame construction resolves
    * to the artifact its DataFrame twin built. */
  def persistPath(df: DataFrame, tag: String = ""): Option[String] = {
    if (df.isStreaming) return None
    Some(ensurePath(
      s"$tag|${df.schema.catalogString}|${planKey(df)}|${sourceStamp(df)}")(df))
  }

  /** Forget every memo entry: the next use rebuilds each directory
    * (artifact files stay until JVM exit or that rebuild). The frames
    * go too, or a rebuild would stale a kept listing. */
  private[graft] def clear(): Unit = { built.clear(); frames.clear() }
}
