package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, one-client benchmark harness for the gate queries.
  *
  * It reaches the engine only through `SparkEntry.queries(name)(spark, dir)`,
  * a `noop` write of the result (an action that computes every output column,
  * unlike `count()`, which lets Catalyst prune them) and
  * `SparkEntry.oracleSql`. Listeners are attached from outside.
  *
  * Run: Harness <workload> <dataDir> <outDir> <seed> <seconds> <minPasses>
  *        <warmPasses> <trace 0|1> <comma-separated queries>
  *        [<query made to throw>]
  *
  * 1. Set-up: session start, one untimed pass in a seed-shuffled order that
  *    writes every result as parquet under `outDir/results` for the DuckDB
  *    oracle check, then `warmPasses` untimed `noop` passes (JIT and codegen
  *    warm-up).
  * 2. Timed passes until `seconds` have elapsed (at least `minPasses`), each
  *    in its own seed-shuffled order. With tracing on, passes alternate
  *    untraced and traced so the overhead is measured in the same run.
  * 3. `outDir/harness.json`: environment, set-up and per-query timings, and
  *    with tracing the in-memory spans (query > phase > job > stage), the
  *    executed QueryExecutions and per-phase codegen counts. */
object Harness {
  /** Exits without Spark's orderly shutdown, which costs seconds per run;
    * the caller removes the session's local dirs. */
  def main(args: Array[String]): Unit = {
    val rc = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(rc)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, seedS, secondsS, minPassesS, warmPassesS, traceS,
      queryList) = args.take(9)
    val failing = args.lift(9).toSet
    val (seed, seconds, minPasses) = (seedS.toLong, secondsS.toDouble, minPassesS.toInt)
    val trace = traceS == "1"
    val names = queryList.split(",").toVector
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val fns = names.map { n =>
      n -> (if (failing(n)) (_: SparkSession, _: String) =>
        throw new IllegalStateException(s"$n made to throw by the self-check")
      else all(n))
    }.toMap

    HeapPeak.install()
    val nproc = Runtime.getRuntime.availableProcessors
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.nanoTime() - tSession) / 1e6
    val sc = spark.sparkContext
    val out = Paths.get(outDir)
    Files.createDirectories(out.resolve("results"))

    def phase[T](q: String, ph: String, span: String)(body: => T): T = {
      sc.setJobGroup(s"$workload/$q/$ph", s"$workload/$q/$ph")
      sc.setLocalProperty(Tracer.SpanKey, span)
      try body finally { sc.clearJobGroup(); sc.setLocalProperty(Tracer.SpanKey, null) }
    }

    // 1. set-up: a pass that writes every result for the oracle, then untimed
    // noop passes, because each of the first few passes after a cold one is
    // still 5-20% faster than the one before while the JIT catches up
    val tWarm = System.nanoTime()
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val checkMs = mutable.LinkedHashMap.empty[String, String]
    new Random(seed).shuffle(names).foreach { q =>
      val t = System.nanoTime()
      try phase(q, "check", s"check/$q") {
        fns(q)(spark, dataDir).write.mode("overwrite")
          .parquet(out.resolve(s"results/$q").toString)
      } catch { case e: Throwable => checkErrors(q) = Json.err(e) }
      checkMs(q) = Json.num((System.nanoTime() - t) / 1e6)
    }
    for (w <- 1 to warmPassesS.toInt) new Random(seed + w).shuffle(names).foreach { q =>
      try phase(q, "warm", s"warm/$q") {
        fns(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () } // counted once, in the check pass
    }
    val warmMs = (System.nanoTime() - tWarm) / 1e6
    val setupDoneMs = System.currentTimeMillis()

    // 2. timed passes
    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && p % 2 == 1
      if (traced) tracer.attach()
      val rows = mutable.ArrayBuffer.empty[String]
      val passStart = System.nanoTime()
      val passStartUs = Tracer.nowUs()
      new Random(seed * 1000003L + p).shuffle(names).foreach { q =>
        val qStartUs = Tracer.nowUs()
        val a = System.nanoTime()
        var b = a
        val err = try {
          val df = phase(q, "build", s"$p/$q/build") {
            tracer.codegen(s"$p/$q/build")(fns(q)(spark, dataDir))
          }
          b = System.nanoTime()
          phase(q, "action", s"$p/$q/action") {
            tracer.codegen(s"$p/$q/action")(
              df.write.format("noop").mode("overwrite").save())
          }
          None
        } catch { case e: Throwable => Some(Json.err(e)) }
        val c = System.nanoTime()
        rows += Json.obj("q" -> Json.str(q), "start_us" -> qStartUs.toString,
          "end_us" -> Tracer.nowUs().toString,
          "build_ms" -> Json.num((b - a) / 1e6), "action_ms" -> Json.num((c - b) / 1e6),
          "error" -> err.map(Json.str).getOrElse("null"))
      }
      val wallMs = (System.nanoTime() - passStart) / 1e6
      if (traced) tracer.detach()
      passes += Json.obj("pass" -> p.toString, "traced" -> traced.toString,
        "start_us" -> passStartUs.toString, "end_us" -> Tracer.nowUs().toString,
        "wall_ms" -> Json.num(wallMs), "queries" -> rows.mkString("[", ",", "]"))
      p += 1
    }

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    val env = Json.obj(
      "nproc" -> nproc.toString,
      "heap_max_gb" -> Json.num(Runtime.getRuntime.maxMemory / 1e9),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
    Files.writeString(out.resolve("harness.json"), Json.obj(
      "workload" -> Json.str(workload), "env" -> env,
      "session_ms" -> Json.num(sessionMs), "warm_ms" -> Json.num(warmMs),
      "setup_done_ms" -> setupDoneMs.toString,
      "check_errors" -> checkErrors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"),
      "check_ms" -> Json.obj(checkMs.toSeq: _*),
      "passes" -> passes.mkString("[", ",", "]"),
      "codegen_run" -> Json.obj(
        "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toString,
        "compile_ms" -> Json.num(CodeGenerator.compileTime / 1e6)),
      "peak_rss_kb" -> Tracer.peakRssKb.toString,
      "heap_committed_bytes" -> HeapPeak.committed.toString,
      "heap_after_gc_peak_bytes" -> HeapPeak.bytes.toString,
      "collections" -> HeapPeak.count.toString,
      "trace" -> tracer.json))
  }
}

/** In-memory spans for the traced passes, written out once at the end.
  * A phase span id (`<pass>/<query>/<build|action>`) travels to every job
  * as a local property, so jobs started on Spark's own threads (broadcasts,
  * AQE stages) still name their parent. */
class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val jobOpen = mutable.Map.empty[Int, (Long, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Array[Long]]]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val qes = mutable.ArrayBuffer.empty[String]
  private val codegenRows = mutable.ArrayBuffer.empty[String]
  @volatile private var on = false

  def attach(): Unit = {
    Drain(spark); on = true
    spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    Drain(spark); on = false
    spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Compile count and janino time inside one phase (synchronous, exact). */
  def codegen[T](span: String)(body: => T): T = {
    if (!on) return body
    val (n0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    try body finally synchronized {
      codegenRows += Json.obj("span" -> Json.str(span),
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0).toString,
        "compile_ms" -> Json.num((CodeGenerator.compileTime - t0) / 1e6))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    // the result stage (highest id) carries the job's own call site; the
    // other stages carry their RDD's creation site (long form), and every
    // RDD of every stage its own (short form, `op at File.scala:line`)
    val byId = e.stageInfos.sortBy(-_.stageId)
    val sites = Json.obj(
      "job" -> Json.str(byId.headOption.map(_.details).getOrElse("")),
      "stages" -> byId.drop(1).map(s => Json.str(s.details)).mkString("[", ",", "]"),
      "rdds" -> byId.flatMap(_.rddInfos.sortBy(-_.id).map(r => Json.str(r.callSite)))
        .distinct.mkString("[", ",", "]"))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobOpen(e.jobId) = (e.time * 1000, span, sites)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (start, span, sites) =>
      jobs += Json.obj("job" -> e.jobId.toString, "parent" -> Json.str(span),
        "start_us" -> start.toString, "end_us" -> (e.time * 1000).toString,
        "callsites" -> sites)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val row = if (m == null) Array(e.taskInfo.duration, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else Array(e.taskInfo.duration, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled + m.memoryBytesSpilled,
        if (e.taskInfo.successful) 0L else 1L)
    tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += row
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val ts = tasks.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer.empty)
    def sum(i: Int) = ts.map(_(i)).sum
    stages += Json.obj("stage" -> si.stageId.toString,
      "job" -> stageJob.get(si.stageId).map(_.toString).getOrElse("null"),
      "start_us" -> (si.submissionTime.getOrElse(0L) * 1000).toString,
      "end_us" -> (si.completionTime.getOrElse(0L) * 1000).toString,
      "tasks" -> ts.size.toString, "failed_tasks" -> sum(8).toString,
      "task_run_ms" -> ts.map(_(1)).mkString("[", ",", "]"),
      "task_ms" -> sum(0).toString, "run_ms" -> sum(1).toString, "cpu_ms" -> sum(2).toString,
      "gc_ms" -> sum(3).toString, "shuffle_write_bytes" -> sum(4).toString,
      "shuffle_read_bytes" -> sum(5).toString, "fetch_wait_ms" -> sum(6).toString,
      "spill_bytes" -> sum(7).toString)
  }

  private def qe(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    // task input metrics miss parquet's vectored reads, so scans are counted
    // by the scan node's own "size of files read" metric
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(p =>
        Json.obj("path" -> Json.str(p.toString),
          "bytes" -> s.metrics.get("filesSize").map(_.value).getOrElse(0L).toString))
    }.flatten
    qes += Json.obj("start_us" -> (start * 1000).toString,
      "analysis_ms" -> ms("analysis").toString, "optimization_ms" -> ms("optimization").toString,
      "planning_ms" -> ms("planning").toString,
      "scans" -> scans.mkString("[", ",", "]"))
  }
  override def onSuccess(f: String, q: QueryExecution, ns: Long): Unit = qe(q)
  override def onFailure(f: String, q: QueryExecution, e: Exception): Unit = qe(q)

  def json: String = synchronized {
    Json.obj("jobs" -> jobs.mkString("[", ",", "]"), "stages" -> stages.mkString("[", ",", "]"),
      "query_executions" -> qes.mkString("[", ",", "]"),
      "codegen" -> codegenRows.mkString("[", ",", "]"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  def nowUs(): Long = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  /** Resident-set high-water mark of this JVM (Linux), in KiB. */
  def peakRssKb: Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Largest heap in use right after a collection, over every collection of
  * the run: the live set plus what the collector could not yet free. The heap itself is fixed and pre-touched, so the process's resident
  * set cannot show how much of it the engine needs; this can. */
object HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val collections = new AtomicLong(0L)

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) => record(n), null, null)
    case _ => ()
  }

  private def record(n: Notification): Unit = {
    if (n.getType != GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) return
    val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
    // G1's concurrent-cycle pauses (remark, cleanup) free no young space, so
    // the heap "after" them still holds a full eden
    if (!info.getGcAction.endsWith("of minor GC") && !info.getGcAction.endsWith("of major GC"))
      return
    val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum
    peak.accumulateAndGet(used, math.max(_, _))
    collections.incrementAndGet()
  }
  def bytes: Long = peak.get
  def count: Long = collections.get
  def committed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
