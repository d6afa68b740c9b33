package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement spine: every tool (Bench, Verify, PlanDump,
  * ScaleTest, and this object's own modes) builds its session and times
  * its queries here, so a profile or a ladder describes the session Bench
  * measures.
  *
  * Usage: [SPARK_GRAFT_SF_DIR=<dir>] runMain graft.Harness <mode>:<query> ...
  *   plan:q     formatted physical plan (before execution)
  *   raw:q      the executed-plan tree string (before execution)
  *   time:q     one warm run, then three timed runs, one JSON line each
  *   profile:q  in-JVM stack sampling over three runs; hottest frames
  *   ops:q      per-operator rows, time, shuffle and spill bytes from the
  *              executed AQE-final plans' SQLMetrics of a timed run
  * A bare query name is `plan:`. The SF defaults to Bench's (sf0.1). */
object Harness {

  /** The session conf for `env`: SPARK_GRAFT_CPUS cores (default 4, as
    * everywhere) and as many shuffle partitions, UTC, the tmpfs shuffle
    * dir ([[ShuffleDir]]), the bypass-merge threshold 1 (one file per
    * mapper, measured suite-faster), and no UI. Starts no session. */
  def conf(env: Map[String, String] = sys.env): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.local.dir" -> ShuffleDir.path,
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
      "spark.ui.enabled" -> "false")
  }

  /** The session every tool and spec runs on: [[conf]] plus
    * GraftExtensions (SQL functions, optimizer rule, and the custom
    * planner strategies — a streaming query's session clone inherits
    * them). */
  def session(env: Map[String, String] = sys.env): SparkSession = {
    val spark = conf(env).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Points java.io.tmpdir at tmpfs (SPARK_GRAFT_TMPDIR wins) for the
    * query-timing tools: staged streaming landing zones, TEMPORARY stream
    * checkpoints, offset/commit logs and state-store files are all
    * sf0.1-sized and land there (ShuffleDir's rationale). Not for
    * ScaleTest, whose staged corpora are multi-GB. */
  def useTmpfsTmpdir(): Unit =
    sys.env.get("SPARK_GRAFT_TMPDIR")
      .orElse {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) {
          val d = new java.io.File(shm, "graft_bench_tmp")
          d.mkdirs()
          Some(d.getAbsolutePath)
        } else None
      }
      .foreach(t => System.setProperty("java.io.tmpdir", t))

  /** One measured run: wall seconds, process CPU ms, GC ms, the failure
    * (if any), and the host's 1-min load average at run end. */
  final case class Run(wall: Double, cpuMs: Long, gcMs: Long,
      error: Option[Throwable], load: Double) {
    def ok: Boolean = error.isEmpty
    /** The wall time of a run that must not fail (ladder legs). */
    def seconds: Double = { error.foreach(e => throw e); wall }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcNowMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Times `body` (failure caught and returned), then releases the
    * [[TrackedCaches]] and the catalog cache OUTSIDE the timed
    * window: queries cache intermediates for intra-query reuse, and stale
    * blocks would squeeze execution memory for the next run (and let a
    * repeat run replay a cache instead of redoing the work). */
  def measure(spark: SparkSession)(body: => Unit): Run = {
    val g0 = gcNowMs()
    val c0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    TrackedCaches.release()
    spark.catalog.clearCache()
    Run(wall, (osBean.getProcessCpuTime - c0) / 1000000, gcNowMs() - g0, error,
      osBean.getSystemLoadAverage)
  }

  /** Materializes every column of `df` through the `noop` sink (a bare
    * count() would let Catalyst prune computed columns). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** [[measure]] of building `df` and writing it to `noop` — building
    * runs inside the window, as its eager parts (index builds, collects)
    * are part of the query. */
  def run(spark: SparkSession, df: => DataFrame): Run = measure(spark)(noop(df))

  /** GC plus a short sleep, outside any timed window: released caches are
    * only queued for the ContextCleaner, and at 100x a neighbor's
    * unreaped shuffle/broadcast debris inflated the next row 3-6x. */
  def settle(): Unit = { System.gc(); Thread.sleep(500) }

  /** Short git HEAD of the working tree the measurement ran from — a
    * published perf figure carries the commit it was measured at.
    * Best-effort: "unknown" outside a git checkout. */
  def gitHead(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
    } catch { case _: Exception => "unknown" }

  def main(args: Array[String]): Unit = {
    useTmpfsTmpdir()
    val spark = session()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    println(s"[harness] commit=${gitHead()} " +
      s"cores=${spark.sparkContext.defaultParallelism} sf=$sf")
    args.foreach { arg =>
      val (mode, name) = arg.split(":", 2) match {
        case Array(m, n) => (m, n)
        case _ => ("plan", arg)
      }
      val fn = SparkEntry.queries(name)
      def df: DataFrame = fn(spark, sf)
      mode match {
        case "plan" =>
          println(s"########## $name")
          println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        case "raw" =>
          println(s"########## $name")
          println(df.queryExecution.executedPlan.toString.take(20000))
        case "time" =>
          run(spark, df)
          (1 to 3).foreach { i =>
            settle()
            val r = run(spark, df)
            println(s"""{"query":"$name","run":$i,"wallS":${r.wall},""" +
              s""""cpuMs":${r.cpuMs},"gcMs":${r.gcMs},"ok":${r.ok},"load":${r.load}}""")
          }
        case "profile" => profile(spark, name, df)
        case "ops" => ops(spark, name, df)
        case other =>
          throw new IllegalArgumentException(
            s"unknown mode '$other' (plan|raw|time|profile|ops)")
      }
    }
    spark.stop()
  }

  /** Samples every live thread's stack at ~100 Hz across three runs (after
    * a warm run) and prints the hottest RUNNABLE top frames, so a
    * regression's CPU owner is attributable to an operator or codegen
    * path. GRAFT_PROFILE_CALLER_OF=<pattern> also counts the nearest
    * spark/graft callers of matching top frames. */
  private def profile(spark: SparkSession, name: String, df: => DataFrame): Unit = {
    run(spark, df)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && st.nonEmpty &&
              t.getName != "graft-profiler") {
            // A thread whose TOP frame is an I/O-poll/park primitive is idle
            // despite reporting RUNNABLE (epoll waiters do): drop the sample,
            // or an idle event loop outranks the real CPU owner. Matched by
            // contains: frames carry a classloader/module prefix
            // ("app//io.netty...", "java.base@17/java.net...").
            val frames = st.iterator.map(_.toString).toSeq
            val idle = frames.headOption.exists(f =>
              f.contains("java.net.") || f.contains("sun.nio") ||
                f.contains("java.io.FileDescriptor") ||
                f.contains("Unsafe.park") || f.contains("epollWait") ||
                f.contains("Reference.waitForReferencePendingList") ||
                f.contains("Object.wait"))
            val top = if (idle) None else frames.headOption
            top.foreach(f => counts.merge(f, 1, (a, b) => a + b))
            sys.env.get("GRAFT_PROFILE_CALLER_OF").foreach { pat =>
              if (top.exists(_.contains(pat)))
                frames.filter(f => f.contains("spark") || f.contains("graft"))
                  .take(4).zipWithIndex.foreach { case (f, i) =>
                    counts.merge(s"CALLER[$i] $f", 1, (a, b) => a + b)
                  }
            }
          }
        }
        Thread.sleep(10)
      }
    }, "graft-profiler")
    sampler.setDaemon(true)
    sampler.start()
    val wall = (1 to 3).map(_ => run(spark, df).wall).sum
    sampling = false
    sampler.join()
    println(f"[profile] $name 3 timed runs in $wall%.2f s; hottest frames:")
    counts.asScala.toSeq.sortBy(-_._2.intValue()).take(30).foreach {
      case (f, c) => println(f"[profile]   $c%6d  $f")
    }
  }

  /** Per-operator breakdown of one timed run (after a warm run): every SQL
    * execution the run issued — the query's eager collects, then the
    * write — is read back from a QueryExecutionListener, and each executed
    * AQE-final plan is printed one operator per row with its output rows,
    * its own timing metrics (ms, summed over tasks), and its shuffle-write
    * and spill bytes. A cached relation's plan is printed once, under its
    * first scan. */
  private def ops(spark: SparkSession, name: String, df: => DataFrame): Unit = {
    run(spark, df)
    settle()
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.add((f, qe, ns))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r = try run(spark, df) finally {
      GraftColumnBridge.drainListeners(spark)
      spark.listenerManager.unregister(listener)
    }
    println(f"[ops] $name wall=${r.wall}%.2f s cpu=${r.cpuMs} ms gc=${r.gcMs} ms " +
      s"ok=${r.ok} executions=${execs.size}")
    println("[ops]   operator  rows  time_ms  shuffle_write_bytes  spill_bytes")
    val seenCaches = scala.collection.mutable.Set.empty[SparkPlan]
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    // Returns the subtree's (shuffle write, spill) bytes; operators with no
    // figure at all (InputAdapter, a bare Project) are not printed.
    def show(p: SparkPlan, depth: Int): (Long, Long) = {
      val timeMs = p.metrics.values.collect {
        case m if m.metricType == "timing" => m.value
        case m if m.metricType == "nsTiming" => m.value / 1000000
      }.sum
      val rows = p.metrics.get("numOutputRows").map(_.value)
      val (shuf, spill) = (metric(p, "shuffleBytesWritten"), metric(p, "spillSize"))
      if (rows.nonEmpty || timeMs + shuf + spill > 0)
        println(s"[ops]   ${"  " * depth}${p.nodeName}  ${rows.getOrElse("-")}  " +
          s"$timeMs  $shuf  $spill")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil // its metrics live on the original
        case m: InMemoryTableScanExec if seenCaches.add(m.relation.cachedPlan) =>
          Seq(m.relation.cachedPlan)
        case x => x.children ++ x.subqueries
      }
      kids.map(show(_, depth + 1)).foldLeft((shuf, spill)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }
    }
    execs.asScala.zipWithIndex.foreach { case ((f, qe, ns), i) =>
      println(f"[ops] execution ${i + 1} ($f) ${ns / 1e6}%.0f ms")
      val (shuf, spill) = show(qe.executedPlan, 1)
      println(s"[ops] execution ${i + 1} total shuffle_write_bytes=$shuf spill_bytes=$spill")
    }
  }
}
