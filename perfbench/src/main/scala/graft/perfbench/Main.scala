package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables, TrackedCaches}
import graft.llm.{AnnIndex, Similarity, StandingIndex}
import graft.pipeline.SongAnalytics
import graft.streaming.DocStreams

/** The benchmark's JVM side: one workload, one closed-loop client thread.
  *
  *   Main --workload <name> --inputs <dir> --warm <dir> --ready <file>
  *        --out <dir> --tmp <dir> --seconds <n> --trace <0|1>
  *
  * `--inputs` and `--warm` are generated trees (perfbench/gen.py): `data/`
  * in the `graft.Tables` schemas, `json/` in the reference song/log
  * schemas, `serve/` with llm_data probes, mutation batches and the op
  * schedule. They are written while the session starts; `--ready` appears
  * when they are complete. Each op persists its result under
  * `<out>/res`, where the output checks read it after the timed window.
  * The run writes `result.json` (and `spans.jsonl` when traced) under
  * `--out`; perfbench/run.py turns those into metrics.
  */
object Main {

  final case class Op(name: String, layer: String, kind: String, body: () => Unit)

  final class Ctx(val spark: SparkSession, root: String, val ix: String, val res: String) {
    val data = s"$root/data"
    val json = s"$root/json"
    val serve = s"$root/serve"
  }

  /** A shipped query, run to a persisted result. */
  def query(c: Ctx, name: String, layer: String): Op =
    Op(name, layer, "call", () => SparkEntry.queries(name)(c.spark, c.data)
      .write.mode("overwrite").parquet(s"${c.res}/$name"))

  trait Workload {
    /** Standing state the timed ops serve from. */
    def prepare(c: Ctx): Unit = ()
    /** Distinct passes the inputs allow (mutation batches are finite). */
    def passes(c: Ctx): Int = Int.MaxValue
    def ops(c: Ctx, pass: Int): Seq[Op]
    /** The warm-up pass over the small input, run after `prepare`. */
    def warmOps(w: Ctx): Seq[Op] = ops(w, 0)
    /** SparkEntry queries whose outputs are checked against their oracle SQL. */
    def oracle: Seq[String] = Nil
    /** Checks made inside the JVM: (name, error or ""). */
    def check(c: Ctx): Seq[(String, String)] = Nil
    /** Standing-index state at the end of the timed window. */
    def census(c: Ctx): Seq[(String, Any)] = Nil
  }

  // ── etl_star ──────────────────────────────────────────────────────────
  /** The paper's pipeline, then star-schema analytics through graft.ops
    * (an aggregate, a window, a sketch, percentiles) and the graft.plans
    * physical nodes. No graft.functions kernel, no standing index and no
    * stream runs here. */
  object EtlStar extends Workload {
    val queries = Seq(
      "q_groupby_count" -> "ops.Relational",
      "q_window_rank" -> "ops.Analytics",
      "q_topk_per_key" -> "ops.Advanced",
      "q_attribution" -> "ops.EventAnalytics",
      "q_approx_quantile" -> "ops.Sketches",
      "q_equidepth_hist" -> "ops.Stats")
    override def oracle: Seq[String] = queries.map(_._1)

    /** One op per SongAnalytics call; the star tables land as partitioned
      * parquet under `<res>/etl` (songs by year only: by year and artist
      * the write is thousands of one-row files). */
    def pipeline(c: Ctx): Seq[Op] = {
      import SongAnalytics._
      val s = c.spark
      val out = s"${c.res}/etl"
      var songs, logs, songsClean, logsClean, songsDim, artists, users, time,
        plays: DataFrame = null
      def p(name: String)(f: => Unit) = Op(name, "pipeline", "call", () => f)
      Seq(
        p("readJson.songs") { songs = readJson(s, s"${c.json}/songs.json", songSchema) },
        p("readJson.logs") { logs = readJson(s, s"${c.json}/logs.json", logSchema) },
        p("cleanSongs") { songsClean = cleanSongs(songs) },
        p("buildSongsDim") { songsDim = buildSongsDim(songsClean) },
        p("buildArtistsDim") { artists = buildArtistsDim(songsClean) },
        p("cleanLogs") { logsClean = cleanLogs(logs) },
        p("buildUsersDim") { users = buildUsersDim(logsClean) },
        p("buildTimeDim") { time = buildTimeDim(logsClean) },
        p("buildSongplays") { plays = buildSongplays(logsClean, time, artists, songsDim) },
        p("writePartitioned.songs") { writePartitioned(songsDim, s"$out/songs", Seq("year")) },
        p("writePartitioned.artists") { writePartitioned(artists, s"$out/artists", Nil) },
        p("writePartitioned.users") { writePartitioned(users, s"$out/users", Nil) },
        p("writePartitioned.time") { writePartitioned(time, s"$out/time", Seq("year", "month")) },
        p("writePartitioned.songplays") {
          writePartitioned(plays, s"$out/songplays", Seq("year", "month")) })
    }

    def ops(c: Ctx, pass: Int): Seq[Op] =
      pipeline(c) ++ queries.map { case (q, l) => query(c, q, l) }
  }

  // ── llm_data ──────────────────────────────────────────────────────────
  /** The LLM-data layers in one pass: batch curation (quality signals
    * through graft.functions kernels, MinHash dedup shuffles), serving
    * from an IVF standing index built in set-up (two single-query probes,
    * an append, a delete and a compaction per pass, from the generated
    * schedule), and the streaming ingest-dedup gate over a staged landing
    * zone.
    * Every mutation runs under the marker protocol (marker suspended,
    * re-stamped only after success). */
  object LlmData extends Workload {
    val curation = Seq(
      "q_gopher_rules" -> "llm.QualitySignals",
      "q_dedup_minhash" -> "llm.Dedup")
    val gates = Seq("q_stream_ingest_dedup" -> "streaming.DocStreams")
    override def oracle: Seq[String] = (curation ++ gates).map(_._1)

    final class State(c: Ctx) {
      val ivf = s"${c.ix}/ivf"
      val emb = Tables.embeddings(c.spark, c.data).select("vec_id", "embedding")
      val probeVecs = c.spark.read.parquet(s"${c.serve}/probe_vecs.parquet")
        .select("vec_id", "embedding")
      val probeIds = probeVecs.select("vec_id").collect().map(_.getLong(0)).sorted
      /** pass -> the two probe query indexes of that pass. */
      val schedule: Map[Int, (Int, Int)] =
        Files.readAllLines(Paths.get(s"${c.serve}/schedule.txt")).asScala
          .map(_.trim).filter(_.nonEmpty).map { l =>
            val Array(p, a, b) = l.split(" ").map(_.toInt); p -> (a, b) }.toMap
      // Mutation ledger, for the reference and the census.
      val appended = mutable.ArrayBuffer.empty[String]
      val deleted = mutable.Set.empty[Long]
    }
    private var st: State = null

    override def prepare(c: Ctx): Unit = {
      st = new State(c)
      AnnIndex.buildIfStale(c.spark, c.data, st.ivf)
      DocStreams.stageDocs(c.spark, c.data)
    }
    override def passes(c: Ctx): Int = st.schedule.size

    def ops(c: Ctx, pass: Int): Seq[Op] =
      curation.map { case (q, l) => query(c, q, l) } ++ serving(c, pass) ++
        gates.map { case (q, l) => query(c, q, l) }

    /** The standing index is built once, over the real input (a build
      * costs as much as the rest of the warm pass); the warm pass probes
      * it read-only and leaves mutations to the timed passes. */
    override def warmOps(w: Ctx): Seq[Op] =
      curation.map { case (q, l) => query(w, q, l) } ++
        serving(w, 0).filter(_.kind == "probe") ++ gates.map { case (q, l) => query(w, q, l) }

    def serving(c: Ctx, pass: Int): Seq[Op] = {
      val x = st
      val s = c.spark
      val (qa, qb) = x.schedule(pass)
      def probe(q: Int) = Op("ann_probe", "llm.AnnIndex", "probe", () =>
        AnnIndex.probe(s, x.ivf, x.probeVecs.filter(col("vec_id") === x.probeIds(q))).collect())
      Seq(
        probe(qa),
        Op("ann_append", "llm.AnnIndex", "mutate", () => {
          val path = s"${c.serve}/arrive_vecs_$pass.parquet"
          StandingIndex.withMarkerSuspended(x.ivf) {
            AnnIndex.append(s, x.ivf, s.read.parquet(path).select("vec_id", "embedding")) }
          x.appended += path
        }),
        probe(qb),
        Op("ann_delete", "llm.AnnIndex", "mutate", () => {
          val b = s.read.parquet(s"${c.serve}/delete_vecs_$pass.parquet").select("vec_id")
          StandingIndex.withMarkerSuspended(x.ivf) { AnnIndex.delete(s, x.ivf, b) }
          x.deleted ++= b.collect().map(_.getLong(0))
        }),
        Op("compact_ann", "llm.AnnIndex", "mutate", () => AnnIndex.compact(s, x.ivf)))
    }

    /** Standing probes against the reference AnnIndexSpec uses: the
      * frozen centroids, every live vector (corpus plus appends minus
      * deletes) assigned to its argmin cell, exact cosine over the probed
      * cells. */
    override def check(c: Ctx): Seq[(String, String)] = {
      import graft.functions.VectorFunctions.floatCosine
      val x = st
      val s = c.spark
      def rowsOf(df: DataFrame) = df.collect().map(_.toString).toSeq
      val name = "llm_data.ann_probe"
      try {
        val got = rowsOf(AnnIndex.probe(s, x.ivf, x.probeVecs))
        val cents = s.read.parquet(s"${x.ivf}/centroids")
        val nprobe = Similarity.probesFor(Similarity.centroidsFor(x.emb.count()))
        val q = Similarity.probeCells(Similarity.scaledOf(x.probeVecs), cents, nprobe)
          .withColumnRenamed("vec_id", "query_id")
          .join(x.probeVecs.select(col("vec_id").as("query_id"), col("embedding").as("qe")), "query_id")
        val live = x.appended.map(s.read.parquet(_).select("vec_id", "embedding"))
          .foldLeft(x.emb)(_ unionByName _)
          .filter(!col("vec_id").isin(x.deleted.toSeq: _*))
        val want = rowsOf(Similarity.assignCells(Similarity.scaledOf(live), cents)
          .join(live, "vec_id").join(q, Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(floatCosine(col("qe"), col("embedding")), 4).as("cos"))
          .orderBy("query_id", "neighbor_id"))
        Seq(name -> (if (got == want) "" else s"${got.size} rows vs reference ${want.size}; " +
          "first diff " + got.zipAll(want, "-", "-").find { case (a, b) => a != b }.getOrElse("")))
      } catch { case t: Throwable => Seq(name -> s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    }

    override def census(c: Ctx): Seq[(String, Any)] = {
      val files = Files.walk(Paths.get(c.ix))
      val data = try files.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toList finally files.close()
      val cells = c.spark.read.parquet(s"${st.ivf}/cells").count()
      Seq("index_files" -> data.size, "index_bytes" -> dirBytes(Paths.get(c.ix)),
        "index_rows" -> Map("/ivf/cells" -> cells))
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  // ── driver ────────────────────────────────────────────────────────────
  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case null => "null"
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = a("workload") match {
      case "etl_star" => EtlStar
      case "llm_data" => LlmData
      case w => sys.error(s"unknown workload $w")
    }
    val (inputs, warm, out, tmp) = (a("inputs"), a("warm"), a("out"), a("tmp"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Files.createDirectories(Paths.get(out))

    // Session: the keys graft.Bench sets, with every scratch dir private to this run.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ready = Paths.get(a("ready"))
    while (!Files.exists(ready)) Thread.sleep(20)

    // fs.* counts the standing-index files only (ctx.ix below).
    val ix = s"$tmp/ix"
    val tracer = new Tracer(spark, Seq(Paths.get(ix)), Seq("/ivf/cells"))
    tracer.install(trace)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(_.getCollectionTime).sum

    val failures = mutable.ArrayBuffer.empty[(String, String)]
    val opLat = mutable.ArrayBuffer.empty[(String, String, Double)]
    var attempted = 0L

    def runOps(ops: Seq[Op], passId: String, record: Boolean): Unit = ops.foreach { op =>
      val t0 = System.nanoTime()
      try tracer.op(passId, op.name, op.layer)(op.body())
      catch {
        case e: Throwable =>
          if (record) failures += (op.name -> s"${e.getClass.getName}: ${e.getMessage}")
          System.err.println(s"[perfbench] ${op.name} failed: $e")
      } finally {
        val ms = (System.nanoTime() - t0) / 1e6
        System.err.println(f"[perfbench] ${op.name} $ms%.0f ms")
        if (record) { attempted += 1; opLat += ((op.kind, op.name, ms)) }
        TrackedCaches.release()
        spark.catalog.clearCache()
      }
    }

    // Set-up: the standing builds the timed ops serve from, then a warm
    // pass over the small input. It runs once: a repetition costs as much
    // as the cold pass itself (see perfbench/README.md).
    val t0 = System.nanoTime()
    val ctx = new Ctx(spark, inputs, ix, s"$out/res")
    workload.prepare(ctx)
    runOps(workload.warmOps(new Ctx(spark, warm, ctx.ix, s"$tmp/warm_res")), "", record = false)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9

    // Timed window: a closed loop of passes. Traced runs alternate untraced
    // and traced passes, at least untraced-traced-untraced: the tracing
    // overhead is measured in-run, against untraced passes on both sides
    // of a traced one (later passes run faster while the JIT settles).
    val passRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minPasses = if (trace) 3 else 1
    val nPasses = workload.passes(ctx)
    val w0 = System.nanoTime()
    var i = 0
    while (i < nPasses && (i < minPasses || (System.nanoTime() - w0) / 1e9 < seconds)) {
      val traced = trace && i % 2 == 1
      val c0 = cpuBean.getProcessCpuTime
      val g0 = gcMs()
      val (wall, _) = tracer.pass(i, traced)(pid => runOps(workload.ops(ctx, i), pid, record = true))
      passRows += Map("wall_s" -> wall, "cpu_s" -> (cpuBean.getProcessCpuTime - c0) / 1e9,
        "gc_s" -> (gcMs() - g0) / 1e3, "traced" -> traced)
      i += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val codegenMs = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e6
    val census = workload.census(ctx)

    // Output checks, outside the timed window: the last pass's persisted
    // results go to DuckDB (run.py); the standing probes are checked here.
    val checks = workload.check(ctx)

    val result = Map[String, Any](
      "workload" -> a("workload"), "setup_s" -> setupS, "session_s" -> sessionS,
      "window_s" -> windowS, "passes" -> passRows,
      "attempted" -> attempted,
      "failures" -> failures.map { case (k, v) => Map("op" -> k, "error" -> v) },
      "op_ms" -> opLat.groupBy(_._1).map { case (k, v) => k -> v.map(_._3) },
      "op_ms_by_name" -> opLat.groupBy(_._2).map { case (k, v) => k -> v.map(_._3) },
      "microbatch_ms" -> tracer.progressMs.asScala.toSeq,
      "peak_rss_mb" -> peakRssMb, "retained_heap_mb" -> retainedMb, "codegen_ms" -> codegenMs, "cpus" -> cpus.toInt,
      "census" -> census.toMap,
      "oracle" -> workload.oracle.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "checks" -> checks.map { case (k, v) => Map("name" -> k, "error" -> v) },
      "res_dir" -> ctx.res)
    Files.write(Paths.get(s"$out/result.json"), json(result).getBytes("UTF-8"))
    if (trace) {
      Files.write(Paths.get(s"$out/spans.jsonl"),
        tracer.records.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
