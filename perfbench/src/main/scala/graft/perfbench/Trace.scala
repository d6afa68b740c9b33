package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts for one benchmark run, kept in memory and written as
  * JSON lines at the end (`records`).
  *
  * Span tree: pass -> op (one call into a module's public function) ->
  * Spark job -> stage. Passes and ops are timed here; jobs, stages and
  * task counters come from a SparkListener; executed-plan counts from a
  * QueryExecutionListener; micro-batch progress from a
  * StreamingQueryListener. A job is parented by the `perfbench.span`
  * local property, which Spark copies onto every job the op's thread (or
  * a thread it starts, such as a stream's) submits. Plans and progress
  * are parented by the op that is open when they are delivered: the
  * listener bus is drained before each op closes. `roots` are the dirs
  * whose files an op writes are counted; `scanTables` the index tables
  * whose scanned rows are counted.
  *
  * Only traced passes record spans and counters. Micro-batch durations
  * are recorded in every pass: the report carries their latencies.
  */
final class Tracer(spark: SparkSession, roots: Seq[Path], scanTables: Seq[String]) {
  @volatile var tracing = false
  @volatile private var currentOp = ""
  private val out = new ConcurrentLinkedQueue[String]()
  private var nextId = 0
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()

  def nowMicros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
  def records: Seq[String] = out.asScala.toSeq

  private def str(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def emit(kind: String, fields: (String, Any)*): Unit =
    out.add((("t" -> kind) +: fields).map { case (k, v) =>
      str(k) + ":" + (v match {
        case s: String => str(s)
        case x => x.toString
      })
    }.mkString("{", ",", "}"))

  private def freshId(prefix: String): String = synchronized {
    nextId += 1; s"$prefix$nextId"
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** One pass; returns its wall seconds and the body's value. */
  def pass[T](n: Int, traced: Boolean)(body: String => T): (Double, T) = {
    tracing = traced
    val id = freshId("p")
    val t0 = nowMicros()
    val v = body(id)
    val t1 = nowMicros()
    if (traced) emit("span", "id" -> id, "parent" -> "", "kind" -> "pass",
      "name" -> s"pass$n", "layer" -> "bench", "start_us" -> t0, "end_us" -> t1)
    tracing = false
    ((t1 - t0) / 1e6, v)
  }

  /** One call into a layer's public function, inside pass `parent`. */
  def op[T](parent: String, name: String, layer: String)(body: => T): T = {
    val id = freshId("o")
    val sc = spark.sparkContext
    val before = if (tracing) fsSnapshot() else Map.empty[String, (Long, Long)]
    currentOp = id
    if (tracing) sc.setLocalProperty("perfbench.span", id)
    val t0 = nowMicros()
    try body
    finally {
      val t1 = nowMicros()
      if (tracing) {
        drain()
        sc.setLocalProperty("perfbench.span", null)
        val after = fsSnapshot()
        val written = after.filter { case (p, v) => !before.get(p).contains(v) }
        emit("span", "id" -> id, "parent" -> parent, "kind" -> "op",
          "name" -> name, "layer" -> layer, "start_us" -> t0, "end_us" -> t1,
          "files_written" -> written.size,
          "bytes_written" -> written.values.map(_._1).sum)
      }
      currentOp = ""
    }
  }

  /** Path -> (size, mtime) of every regular file under the run's roots. */
  private def fsSnapshot(): Map[String, (Long, Long)] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val st = Files.walk(r)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally st.close()
    }.toMap

  // ── Spark jobs, stages, tasks ─────────────────────────────────────────
  private final class StageAcc(val job: Int, val submitted: Long) {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var in = 0L; var outB = 0L
    var peakMem = 0L; var gcMs = 0L
  }
  private val jobParent = mutable.Map.empty[Int, (String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).flatMap(x => Option(x.getProperty("perfbench.span")))
      p.foreach { op =>
        jobParent(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobParent.remove(e.jobId).foreach { case (op, start) =>
        emit("job", "id" -> s"j${e.jobId}", "parent" -> op,
          "start_us" -> start * 1000L, "end_us" -> e.time * 1000L,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { j =>
        stages((i.stageId, i.attemptNumber())) =
          new StageAcc(j, i.submissionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { a =>
        val m = e.taskMetrics
        a.tasks += 1
        a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitted)
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.in += m.inputMetrics.bytesRead
          a.outB += m.outputMetrics.bytesWritten
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages.remove((i.stageId, i.attemptNumber())).foreach { a =>
        emit("stage", "id" -> s"s${i.stageId}.${i.attemptNumber()}",
          "parent" -> s"j${a.job}",
          "start_us" -> a.submitted * 1000L,
          "end_us" -> i.completionTime.getOrElse(System.currentTimeMillis()) * 1000L,
          "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "wait_ms" -> a.waitMs, "gc_ms" -> a.gcMs,
          "shuffle_write" -> a.shufW, "shuffle_read" -> a.shufR,
          "spill" -> a.spill, "scan" -> a.in, "write" -> a.outB,
          "peak_mem" -> a.peakMem)
      }
    }
  }

  // ── Executed plans ────────────────────────────────────────────────────
  // Rows read from the `scanTables` (standing-index tables, by path
  // fragment) are counted per plan.

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case x => x.children ++ x.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (tracing && currentOp.nonEmpty) {
        val ns_ = nodes(qe.executedPlan)
        val exprs = ns_.flatMap(_.expressions.flatMap(_.collect { case e => e }))
        val custom = ns_.count(n => n.getClass.getName.startsWith("graft.plans."))
        val graftExprs = exprs.count(_.getClass.getName.startsWith("graft."))
        val interp = exprs.count(_.isInstanceOf[CodegenFallback])
        val joinRows = ns_.filter(_.getClass.getSimpleName.contains("Join"))
          .flatMap(rows).foldLeft(0L)(math.max)
        val outRows = ns_.iterator.flatMap(rows).nextOption().getOrElse(0L)
        val bcast = ns_.collect { case b: BroadcastExchangeExec =>
          b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum
        val scans = scanTables.map { t =>
          t -> ns_.collect { case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(t)) =>
            rows(s).getOrElse(0L) }.sum
        }
        emit("plan", (Seq[(String, Any)]("parent" -> currentOp, "custom" -> custom,
          "graft_exprs" -> graftExprs, "interpreted" -> interp,
          "join_rows" -> joinRows, "out_rows" -> outRows, "broadcast" -> bcast) ++
          scans.map { case (t, r) => s"scan:$t" -> r }): _*)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ── Micro-batch progress ──────────────────────────────────────────────
  val progressMs = new ConcurrentLinkedQueue[Long]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (currentOp.nonEmpty) {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progressMs.add(d("triggerExecution"))
        if (tracing) emit("progress", "parent" -> currentOp,
          "trigger_ms" -> d("triggerExecution"), "add_ms" -> d("addBatch"),
          "plan_ms" -> d("queryPlanning"), "offset_ms" -> (d("latestOffset") + d("getBatch")),
          "commit_ms" -> (d("walCommit") + d("commitOffsets")),
          "rows" -> p.numInputRows)
      }
  }

  def install(traced: Boolean): Unit = {
    spark.streams.addListener(streamListener)
    if (traced) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
    }
  }
}
