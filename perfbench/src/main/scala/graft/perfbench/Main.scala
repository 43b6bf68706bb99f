package graft.perfbench

import graft.job.JobCorpus
import graft.planner.{CompassSession, SketchTemplateCache}
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Benchmark JVM. Runs one workload against the engine's public
  * (or package-visible) entry points and writes raw observations — per
  * query start/end, results, COMPASS plan figures, spans, listener
  * counts, effective configuration — to `<run-dir>/result.json`.
  * `perfbench/run.py` launches it, checks every result against DuckDB
  * and turns the observations into metrics.
  *
  * Usage: Main --workload <job_compass_x1|analytics_sf01> --seed <n>
  *   --seconds <n> --trace <0|1> --clients <n> --run-dir <dir>
  *   --imdb-dir <dir> --sf-dir <dir> --entries <a,b,...>
  */
object Main {

  private def nowMs: Double = System.nanoTime() / 1e6

  /** One timed observation. `parent` is the index of the enclosing span
    * in the same pass (-1 for a query's root span).
    */
  final case class Span(query: Int, name: String, start: Double, end: Double, parent: Int)

  /** Per-query outcome of one pass. */
  final case class QueryRun(name: String, lap: Int, start: Double, end: Double,
      result: Long, error: Option[String], plan: Option[PlanFigures])

  /** What the COMPASS scope published for one query. */
  final case class PlanFigures(sketchMs: Long, enumerateMs: Long,
      sketchRows: Long, instances: Int)

  /** Spans collected by the traced pass; appends are synchronized because
    * `clients` threads record concurrently.
    */
  final class Tracer(enabled: Boolean) {
    private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    def all: Seq[Span] = spans.synchronized(spans.toSeq)
    def add(s: Span): Int = spans.synchronized { spans += s; spans.size - 1 }
    def span[A](query: Int, name: String, parent: Int)(body: => A): A =
      if (!enabled) body
      else {
        val t0 = nowMs
        try body finally add(Span(query, name, t0, nowMs, parent))
      }
    /** Reserve the root span first so children can point at it. */
    def open(query: Int, name: String): Int =
      if (enabled) add(Span(query, name, nowMs, Double.NaN, -1)) else -1
    def close(idx: Int): Unit =
      if (enabled) spans.synchronized { spans(idx) = spans(idx).copy(end = nowMs) }
    def isOn: Boolean = enabled
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val clients = opts("clients").toInt
    val runDir = Paths.get(opts("run-dir")).toAbsolutePath
    val out = new Json

    if (workload.startsWith("job_")) redirectJobData(opts("imdb-dir"))
    val spark = SparkSession.builder()
      .master(s"local[$clients]")
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", clients.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyS = uptimeS
    try {
      out.obj("config") {
        out.field("clients", clients)
        out.field("spark_version", spark.version)
        out.field("java_version", System.getProperty("java.version"))
        out.field("jvm", s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}")
        out.field("heap_max_mb", Runtime.getRuntime.maxMemory() >> 20)
        out.field("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).mkString(" "))
        out.obj("parent_conf")(confOf(spark).foreach { case (k, v) => out.field(k, v) })
      }
      out.field("session_s", sessionReadyS)
      workload match {
        case "job_compass_x1" =>
          runCompass(spark, out, seed, seconds, traced, clients, runDir)
        case "analytics_sf01" =>
          runAnalytics(spark, out, seed, seconds, traced, runDir,
            opts("sf-dir"), opts("entries").split(",").toSeq)
        case other => sys.error(s"unknown workload $other")
      }
    } finally spark.stop()
    Files.writeString(runDir.resolve("result.json"), out.result)
  }

  /** `JobCorpus` writes and reads its synthetic IMDb under a fixed
    * `/tmp` path shared by every JVM on the host. The benchmark moves that
    * directory, under its own name (which carries the corpus's data
    * version), into `root`, a directory it owns: no run reads data or
    * marker files another process wrote, and nothing lands outside the
    * benchmark's own tree. Fails loudly if the corpus stops deriving its
    * location from `dataPath`.
    */
  private def redirectJobData(root: String): Unit = {
    val dir = Paths.get(root, Paths.get(JobCorpus.dataPath).getFileName.toString).toString
    val f = JobCorpus.getClass.getDeclaredField("dataPath")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    if (java.lang.reflect.Modifier.isStatic(f.getModifiers))
      u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), dir)
    else u.putObject(JobCorpus, u.objectFieldOffset(f), dir)
    require(JobCorpus.dataPathFor(1) == dir,
      s"JobCorpus data path is ${JobCorpus.dataPathFor(1)}, expected $dir")
  }

  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def confOf(s: SparkSession): Seq[(String, String)] =
    s.conf.getAll.toSeq.sortBy(_._1)

  // ---------------------------------------------------------------------
  // job_compass_x1
  // ---------------------------------------------------------------------

  /** One query per JOB family (the corpus's own representative subset):
    * every join-graph shape of the 113, at a cost that fits a run.
    */
  private val JobQueries: Seq[String] = JobCorpus.compassSubset
  private val JobLaps = 1

  private def runCompass(spark: SparkSession, out: Json, seed: Long,
      seconds: Double, traced: Boolean, clients: Int, runDir: Path): Unit = {
    var t = nowMs
    JobCorpus.ensureData(spark, 1)
    out.field("ensure_data_s", (nowMs - t) / 1000)
    val exec = JobCorpus.executionSession(spark, 1)
    out.obj("child_conf")(out.obj("job_execution_x1")(
      confOf(exec).foreach { case (k, v) => out.field(k, v) }))
    val templateDir = runDir.resolve("sketch-templates")
    val templates = new SketchTemplateCache(templateDir)
    t = nowMs
    val warmCs = new CompassSession(exec, templateCache = Some(templates))
    out.field("templates_warmed", JobCorpus.warmCompassAt(spark, warmCs, 1, JobQueries))
    out.field("template_warm_s", (nowMs - t) / 1000)
    warmCs.close()
    val byName = JobCorpus.queries.toMap
    val rnd = seeded(seed)
    def pass(tracer: Tracer): Unit = timedPass(spark, out, seconds, JobLaps, tracer) { lap =>
      val order = rnd.shuffle(JobQueries)
      dropFilteredTier(templateDir)
      val cs = new CompassSession(exec, templateCache = Some(templates))
      val (h0, m0) = (templates.hits, templates.misses)
      val runs = closedLoop(order, clients, lap) { (name, qi) =>
        val scope = cs.newScope()
        try {
          val root = tracer.open(qi, "query")
          val df = tracer.span(qi, "spark.analyze", root)(exec.sql(byName(name)))
          // optimize extracts the join graph without timing it, so the
          // traced pass times a replayed extraction of the same plan
          // (outside the layer tree) and lays its duration out inside
          // optimize, like the sketch and enumeration figures below.
          val extractMs = if (!tracer.isOn) 0.0 else {
            val e0 = nowMs
            graft.plans.JoinGraphExtractor.extract(df.queryExecution.analyzed)
            val e1 = nowMs
            tracer.add(Span(qi, "trace.extract_replay", e0, e1, root))
            e1 - e0
          }
          val o0 = nowMs
          val opt = scope.optimize(df)
          val o1 = nowMs
          val plan = scope.lastPlan.map(p => PlanFigures(p.sketchBuildMillis,
            p.enumerateMillis, p.sketchCounts.values.sum, p.order.size))
          if (tracer.isOn) {
            val oi = tracer.add(Span(qi, "planner.optimize", o0, o1, root))
            // Laid out in the order optimizeIn runs them: extract, sketch
            // build, enumerate; the rest of optimize is the splice.
            val x1 = math.min(o1, o0 + extractMs)
            tracer.add(Span(qi, "plans.extract", o0, x1, oi))
            plan.foreach { p =>
              val s1 = math.min(o1, x1 + p.sketchMs)
              tracer.add(Span(qi, "sketch.build", x1, s1, oi))
              tracer.add(Span(qi, "enumerate", s1, math.min(o1, s1 + p.enumerateMs), oi))
            }
          }
          tracer.span(qi, "spark.plan", root)(opt.queryExecution.executedPlan)
          val n = tracer.span(qi, "spark.execute", root)(opt.collect()(0).getLong(0))
          if (root >= 0) tracer.close(root)
          (n, plan)
        } finally cs.dropScope(scope)
      }
      val counters = Map(
        "filtered_builds" -> cs.filteredMisses,
        "filtered_hits" -> cs.filteredHits,
        "filtered_disk_hits" -> cs.filteredDiskHits,
        "template_hits" -> (templates.hits - h0),
        "template_misses" -> (templates.misses - m0))
      cs.close()
      (runs, counters)
    }
    out.arr("passes") {
      pass(new Tracer(false))
      if (traced) { pass(new Tracer(true)); pass(new Tracer(false)) }
    }
    out.field("oracle_sql", JobCorpus.duckOracleSqlFor(JobQueries, JobCorpus.dataPathFor(1)))
  }

  /** The filtered tier of the template cache lives on disk beside the
    * unfiltered templates; each timed lap starts without it.
    */
  private def dropFilteredTier(dir: Path): Unit = {
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("filtered-"))
      .foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  // ---------------------------------------------------------------------
  // analytics_sf01
  // ---------------------------------------------------------------------

  /** Timed laps per pass: as many as the run budget affords on a 4-core
    * host (one lap of the four entries takes ~6 s there).
    */
  private val AnalyticsLaps = 3

  private def runAnalytics(spark: SparkSession, out: Json, seed: Long,
      seconds: Double, traced: Boolean, runDir: Path, sfDir: String,
      names: Seq[String]): Unit = {
    val byName = graft.Queries.all.map(e => e.name -> e).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown analytics entries: ${unknown.mkString(",")}")
    // Check lap, untimed: each entry's result is written the way Verify
    // writes it, for the DuckDB compare; it is also the JIT and codegen
    // warm-up (a second, materializing warm-up round did not fit the run
    // budget).
    val checkDir = runDir.resolve("check")
    val t = nowMs
    out.arr("check") {
      names.foreach { name =>
        val err = try {
          byName(name).run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(checkDir.resolve(name).toString)
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
        graft.operators.OpCaches.releaseAll(spark)
        out.objItem {
          out.field("name", name)
          err.foreach(out.field("error", _))
          byName(name).oracle.foreach(o => out.field("oracle",
            o.replace(graft.Queries.VerifyOutToken, checkDir.toString)))
        }
      }
    }
    out.field("check_lap_s", (nowMs - t) / 1000)
    val rnd = seeded(seed)
    def pass(tracer: Tracer): Unit = timedPass(spark, out, seconds, AnalyticsLaps, tracer) { lap =>
      val order = rnd.shuffle(names)
      val runs = closedLoop(order, 1, lap) { (name, qi) =>
        try {
          val root = tracer.open(qi, "query")
          val b0 = nowMs
          val df = byName(name).run(spark, sfDir)
          val b1 = nowMs
          if (tracer.isOn) {
            val bi = tracer.add(Span(qi, s"operators.$name.build", b0, b1, root))
            df.queryExecution.tracker.phases.get("analysis").foreach { p =>
              tracer.add(Span(qi, "spark.analyze", math.max(b0, b1 - p.durationMs), b1, bi))
            }
          }
          tracer.span(qi, "spark.plan", root)(df.queryExecution.executedPlan)
          val n = tracer.span(qi, "spark.execute", root)(df.queryExecution.toRdd.count())
          if (root >= 0) tracer.close(root)
          (n, None)
        } finally graft.operators.OpCaches.releaseAll(spark)
      }
      (runs, Map.empty[String, Long])
    }
    out.arr("passes") {
      pass(new Tracer(false))
      if (traced) { pass(new Tracer(true)); pass(new Tracer(false)) }
    }
  }

  // ---------------------------------------------------------------------
  // Shared machinery
  // ---------------------------------------------------------------------

  /** The seed fixes the submission order of every lap; the query set
    * never changes.
    */
  private def seeded(seed: Long) = new scala.util.Random(new java.util.Random(seed))

  /** Closed loop: `clients` threads each take the next query in `order`
    * as soon as their previous one returns. A failing query is recorded,
    * never retried.
    */
  private def closedLoop(order: Seq[String], clients: Int, lap: Int)(
      run: (String, Int) => (Long, Option[PlanFigures])): Seq[QueryRun] = {
    val next = new AtomicInteger(0)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryRun]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < order.size) {
          val qi = lap * order.size + i
          val t0 = nowMs
          val r = try {
            val (n, plan) = run(order(i), qi)
            QueryRun(order(i), lap, t0, nowMs, n, None, plan)
          } catch { case e: Throwable =>
            QueryRun(order(i), lap, t0, nowMs, -1, Some(
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"), None)
          }
          runs.add(r)
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    runs.asScala.toSeq.sortBy(_.start)
  }

  /** At least `minLaps` whole laps, and more until `seconds` have passed. Records wall, CPU,
    * heap high-water, GC and JIT time, and — when traced — spans and
    * Spark listener counts.
    */
  private def timedPass(spark: SparkSession, out: Json, seconds: Double, minLaps: Int,
      tracer: Tracer)(lap: Int => (Seq[QueryRun], Map[String, Long])): Unit = {
    System.gc()
    val listener = if (tracer.isOn) Some(new SparkCounters) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    heapPools.foreach(p => try p.resetPeakUsage() catch { case _: UnsupportedOperationException => () })
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (gc0, jit0, cpu0) = (gcMs, jitMs, os.getProcessCpuTime)
    val codegen0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val setupS = uptimeS
    val t0 = nowMs
    val runs = scala.collection.mutable.ArrayBuffer.empty[QueryRun]
    val counters = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var laps = 0
    while (laps < minLaps || nowMs - t0 < seconds * 1000) {
      val (r, c) = lap(laps)
      runs ++= r
      c.foreach { case (k, v) => counters(k) += v }
      laps += 1
    }
    val wallMs = nowMs - t0
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    val heapPeak = heapPools.map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    val (gc1, jit1) = (gcMs, jitMs)
    val codegenMs =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - codegen0) / 1e6
    listener.foreach { l => l.settle(); spark.sparkContext.removeSparkListener(l) }
    out.objItem {
      out.field("traced", tracer.isOn)
      out.field("setup_s", setupS)
      out.field("laps", laps)
      out.field("wall_ms", wallMs)
      out.field("cpu_ms", cpuMs)
      out.field("heap_peak_mb", heapPeak / 1048576.0)
      out.field("gc_ms", gc1 - gc0)
      out.field("jit_ms", jit1 - jit0)
      out.field("codegen_compile_ms", codegenMs)
      out.obj("counters")(counters.toSeq.sortBy(_._1).foreach { case (k, v) => out.field(k, v) })
      listener.foreach(l => out.obj("spark")(l.fields.foreach { case (k, v) => out.field(k, v) }))
      out.arr("queries")(runs.foreach { r =>
        out.objItem {
          out.field("name", r.name)
          out.field("lap", r.lap)
          out.field("start_ms", r.start - t0)
          out.field("end_ms", r.end - t0)
          out.field("result", r.result)
          r.error.foreach(out.field("error", _))
          r.plan.foreach { p =>
            out.field("sketch_ms", p.sketchMs)
            out.field("enumerate_ms", p.enumerateMs)
            out.field("sketch_rows", p.sketchRows)
            out.field("instances", p.instances)
          }
        }
      })
      out.arr("spans")(tracer.all.foreach { s =>
        out.rawItem(s"""[${s.query},${Json.str(s.name)},${Json.num(s.start - t0)},${Json.num(s.end - t0)},${s.parent}]""")
      })
    }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.isValid && p.getType == MemoryType.HEAP)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
}
