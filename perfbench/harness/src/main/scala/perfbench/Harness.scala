package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.ops.Registry
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run: set-up, one cold pass in a fresh session, then warm
  * passes over the same operations in that session, one operation at a
  * time (a single closed-loop client).
  *
  * The session is built like `graft.Bench`'s: `GraftSession.joinTuned`
  * with `GraftExtensions`, `local[cpus]` and
  * `spark.sql.shuffle.partitions = cpus`. A registry operation is timed
  * as `OpSpec.build` followed by `queryExecution.toRdd.count()`, the
  * basis `graft.Bench` uses.
  *
  * With `trace=1`, warm passes alternate between traced and untraced.
  * Traced passes record one span per operation and per layer call, plus
  * SparkListener and engine counters per operation; untraced passes give
  * the tracing overhead. Everything is written to `out` when the run
  * ends: result.json, and with tracing spans.jsonl and ops.jsonl.
  * Outputs of every registry operation are then dumped under out/dump by
  * `graft.Verify` for the untimed correctness check.
  *
  * Arguments are key=value pairs: corpus, out, seed, trace, cpus, warm
  * (number of warm passes), keys (comma-separated registry keys), ingest
  * (0|1), inject_fail (0|1: add an operation that throws).
  */
object Harness {

  final case class Op(id: String, key: String, run: () => Unit)

  final case class Span(name: String, start: Long, end: Long, parent: Int,
                        op: String, pass: Int)

  /** Spans kept in memory, written once at the end of the run. */
  final class Tracer {
    var on = false
    var op = ""
    var pass = 0
    val spans = ArrayBuffer[Span]()
    private var stack: List[Int] = Nil

    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val idx = spans.length
        spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op, pass)
        stack = idx :: stack
        try body
        finally {
          spans(idx) = spans(idx).copy(end = System.nanoTime())
          stack = stack.tail
        }
      }

    /** Adds the analysis / optimization / planning phases of `qe`'s
      * tracker as children of whichever of this operation's spans holds
      * them, clipped to that span (the tracker has ms resolution). */
    def addPhases(tracker: QueryPlanningTracker, firstSpan: Int): Unit = if (on) {
      val nowNs = System.nanoTime()
      val nowMs = System.currentTimeMillis()
      def ns(ms: Long) = nowNs - (nowMs - ms) * 1000000L
      for (phase <- Seq("analysis", "optimization", "planning");
           summary <- tracker.phases.get(phase)) {
        val s = ns(summary.startTimeMs)
        val holder = (spans.length - 1 to firstSpan by -1).find { i =>
          val p = spans(i)
          p.name != "op" && p.parent >= 0 && spans(p.parent).name == "op" && s >= p.start - 1000000L
        }.getOrElse(firstSpan)
        val h = spans(holder)
        val start = math.min(math.max(s, h.start), h.end)
        val end = math.max(start, math.min(ns(summary.endTimeMs), h.end))
        spans += Span(phase, start, end, holder, op, pass)
      }
    }
  }

  /** SparkListener totals; read only after the bus is drained. */
  final class ExecListener extends SparkListener {
    private val c = new Array[Long](11)
    /** Totals so far; the last field is the largest task peak memory
      * since the previous snapshot. */
    def snapshot(): Array[Long] = synchronized { val r = c.clone(); c(10) = 0; r }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c(0) += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c(1) += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      c(2) += 1
      c(3) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c(4) += m.executorCpuTime
        c(5) += m.jvmGCTime
        c(6) += m.shuffleWriteMetrics.bytesWritten
        c(7) += m.shuffleReadMetrics.totalBytesRead
        c(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        c(9) += m.inputMetrics.bytesRead
        c(10) = math.max(c(10), m.peakExecutionMemory)
      }
    }
  }
  val listenerFields = Seq("jobs", "stages", "tasks", "task_ms", "task_cpu_ns", "gc_ms",
    "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b", "peak_task_mem_b")

  // ---- small file helpers -------------------------------------------

  def files(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.flatMap(files)

  def bytes(root: File): Long = files(root).map(_.length).sum

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRec)
    f.delete(): Unit
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(value), UTF_8)

  def writeJsonLines(path: String, values: Iterable[Any]): Unit =
    Files.writeString(Paths.get(path), values.map(json.writeValueAsString).mkString("", "\n", "\n"), UTF_8)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads), in ns. Time the host's
    * hypervisor steals from this VM is not charged to it. */
  def processCpuNs(): Long = osBean.getProcessCpuTime

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  // ---- the run --------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val corpus = kv("corpus")
    val out = new File(kv("out"))
    val seed = kv("seed").toLong
    val trace = kv("trace") == "1"
    val cpus = kv("cpus")
    val warmPasses = kv("warm").toInt
    val keys = kv.getOrElse("keys", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val ingest = kv.get("ingest").contains("1")
    val injectFail = kv.get("inject_fail").contains("1")
    val tmp = new File(sys.props("java.io.tmpdir"))
    out.mkdirs()

    // Set-up, once in this fresh JVM: session build through the warmup action.
    val t0 = System.nanoTime()
    val session = graft.core.GraftSession.joinTuned(SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    session.read.parquet(s"$corpus/lineitem.parquet").count()
    val setupS = (System.nanoTime() - t0) / 1e9
    val sc = session.sparkContext

    val tracer = new Tracer
    val listener = new ExecListener
    if (trace) sc.addSparkListener(listener)

    // ---- operations ----
    val specs = Registry.all.map(op => op.key -> op).toMap
    val unknown = keys.filterNot(specs.contains)
    require(unknown.isEmpty, s"unknown registry keys: ${unknown.mkString(",")}")

    def registryOp(k: String): Op = Op(k, k, () => {
      val first = tracer.spans.length
      val df = tracer.span("build")(specs(k).build(session, corpus))
      val qe = df.queryExecution
      tracer.span("exec")(qe.toRdd.count())
      tracer.addPhases(qe.tracker, first)
    })

    val regOps = keys.map(registryOp) ++
      (if (injectFail) Seq(Op("selftest_throw", "selftest_throw",
        () => throw new IllegalStateException("injected failure"))) else Nil)

    // per-operation counters recorded in traced passes
    val opRecords = ArrayBuffer[Map[String, Any]]()
    val storeStats = mutable.Map[String, Double]().withDefaultValue(0.0)

    // ---- the tsdb-ingest loop ----
    lazy val ing = new Ingest(session, corpus, new File(tmp, "bench_ingest"), tracer, storeStats)

    val passSeconds = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val passCpuSeconds = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val samples = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, ArrayBuffer[Double]]]()
    val cpuSamples = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, ArrayBuffer[Double]]]()
    val failures = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    var attempted = 0L

    def diskMemoEntries(): Map[String, Long] =
      Option(tmp.listFiles).toSeq.flatten.filter(_.getName.startsWith("graft_diskmemo_"))
        .flatMap(d => Option(d.listFiles).toSeq.flatten)
        .map(f => f.getAbsolutePath -> bytes(f)).toMap

    def counters(): (Array[Long], Long, Long, Long, Map[String, Long]) = {
      ListenerBusShim.drain(sc)
      (listener.snapshot(), HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
        diskMemoEntries())
    }

    def runOp(op: Op, pass: Int, kind: String, traced: Boolean): Unit = {
      val before = if (traced) counters() else null
      storeStats.clear()
      tracer.op = op.id
      tracer.pass = pass
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val ok =
        try { tracer.span("op")(op.run()); true }
        catch {
          case e: Throwable =>
            failures(op.key) += 1
            System.err.println(s"[perfbench] ${op.id} failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (processCpuNs() - c0) / 1e6
      attempted += 1
      val sampleKey = s"$kind${if (traced) "_traced" else ""}"
      if (ok) {
        samples.getOrElseUpdate(sampleKey, mutable.LinkedHashMap())
          .getOrElseUpdate(op.id, ArrayBuffer()) += ms
        cpuSamples.getOrElseUpdate(sampleKey, mutable.LinkedHashMap())
          .getOrElseUpdate(op.id, ArrayBuffer()) += cpuMs
      }
      if (traced) {
        val after = counters()
        val newMemo = after._5.keySet -- before._5.keySet
        val fields = listenerFields.indices.map { i =>
          listenerFields(i) -> (if (i == 10) after._1(i) else after._1(i) - before._1(i))
        } ++ Seq(
          "files_listed" -> (after._2 - before._2),
          "codegen_compiles" -> (after._3 - before._3),
          "codegen_ns" -> (after._4 - before._4),
          "diskmemo_builds" -> newMemo.size.toLong,
          "diskmemo_build_b" -> newMemo.toSeq.map(after._5).sum,
        )
        opRecords += Map("op" -> op.id, "pass" -> pass, "kind" -> kind, "ms" -> ms) ++
          fields ++ storeStats
      }
    }

    def runPass(pass: Int, kind: String, traced: Boolean): Unit = {
      val rnd = new scala.util.Random(seed * 1000003L + pass)
      if (ingest) ing.prepare()
      val ingestOps = if (ingest) ing.pass(pass) else Nil
      // seeded shuffle of the registry operations, merged at seeded
      // positions with the ingest steps, which keep their order
      var reg = rnd.shuffle(regOps).toList
      var steps = ingestOps.toList
      val order = ArrayBuffer[Op]()
      while (reg.nonEmpty || steps.nonEmpty) {
        if (steps.isEmpty || (reg.nonEmpty && rnd.nextInt(reg.size + steps.size) < reg.size)) {
          order += reg.head; reg = reg.tail
        } else { order += steps.head; steps = steps.tail }
      }
      tracer.on = traced
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      order.foreach(runOp(_, pass, kind, traced))
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9
      tracer.on = false
      val passKey = s"$kind${if (traced) "_traced" else ""}"
      passSeconds.getOrElseUpdate(passKey, ArrayBuffer()) += dt
      passCpuSeconds.getOrElseUpdate(passKey, ArrayBuffer()) += cpu
      System.err.println(f"[perfbench] pass $pass $kind traced=$traced ${order.size} ops $dt%.3f s")
    }

    // A fixed number of warm passes, so a faster pass never changes how
    // many passes the medians are taken over. Traced runs alternate
    // traced and untraced warm passes, starting traced.
    runPass(0, "cold", trace)
    for (pass <- 1 to warmPasses) runPass(pass, "warm", trace && pass % 2 == 1)
    val peakRss = vmHwmMb()
    val artifactMb = bytes(tmp) / 1e6

    // ---- untimed output dumps for the correctness check ----
    val dumpStart = System.nanoTime()
    session.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    if (ingest) ing.dumpLatest(s"$out/ingest_latest")
    // graft.Verify reuses this session, dumps every key with its oracle
    // SQL and declared status under out/dump, and stops the session.
    if (keys.nonEmpty) graft.Verify.main(Array(corpus, s"$out/dump", keys.mkString(",")))
    val dumpS = (System.nanoTime() - dumpStart) / 1e9

    if (trace) {
      writeJsonLines(s"$out/spans.jsonl", tracer.spans)
      writeJsonLines(s"$out/ops.jsonl", opRecords)
    }
    writeJson(s"$out/result.json", Map(
      "setup_s" -> setupS,
      "pass_s" -> passSeconds,
      "pass_cpu_s" -> passCpuSeconds,
      "samples_ms" -> samples,
      "samples_cpu_ms" -> cpuSamples,
      "attempted" -> attempted,
      "failed" -> failures.toMap,
      "passes" -> (1 + warmPasses),
      "ops_per_pass" -> (regOps.size + (if (ingest) ing.steps else 0)),
      "peak_rss_mb" -> peakRss,
      "artifact_mb" -> artifactMb,
      "dump_s" -> dumpS,
    ))
    session.stop()
  }
}
