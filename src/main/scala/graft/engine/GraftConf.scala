package graft.engine

import org.apache.spark.sql.SparkSession

/** The one engine configuration. Every `SparkSession` the program builds
  * starts from [[builder]], every JOB child session is made by
  * [[jobChildProfile]], and every `GRAFT_*` / `SPARK_GRAFT_*` environment
  * knob is read here and nowhere else — [[resolved]] lists each knob's
  * effective value for the bench and verify records (`GraftConfSpec`
  * scans `src/` to keep it that way).
  *
  * The base session sets no join policy: Spark's defaults
  * (`preferSortMergeJoin=true`, AQE shuffled-hash threshold 0) are the
  * shipped configuration (OPTIMIZATION_r22.md — the 128m threshold
  * OOM-ed q_triangles through unspillable concurrent hash builds, and the
  * session-wide SMJ flip was reverted in 270e0a4).
  *
  * Print the README knob table: `sbt "runMain graft.engine.GraftConf"`.
  */
object GraftConf {

  /** One environment knob: its name, the default shown in the README,
    * what it controls, and how a raw value (None = unset) resolves.
    */
  final class Knob private[GraftConf] (val name: String, val default: String,
      val doc: String)(resolve: Option[String] => String) {
    def raw: Option[String] = sys.env.get(name)
    def value: String = resolve(raw)
  }

  private def knob(name: String, default: String, doc: String)(
      resolve: Option[String] => String = _.getOrElse(default)): Knob =
    new Knob(name, default, doc)(resolve)

  private def intOr(d: Int)(raw: Option[String]): String =
    raw.flatMap(_.toIntOption).getOrElse(d).toString

  /** A generated table directory under `~/testdata` (TESTDATA.md). */
  def testData(sf: String): String =
    java.nio.file.Paths.get(sys.props("user.home"), "testdata", sf).toString

  val SfDir: Knob = knob("SPARK_GRAFT_SF_DIR", "~/testdata/sf0.1",
    "table directory Bench and PlanDump read")(_.getOrElse(testData("sf0.1")))
  val Cpus: Knob = knob("SPARK_GRAFT_CPUS", "available processors",
    "`local[N]` master and `spark.sql.shuffle.partitions`")(
    _.flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors).toString)
  val BenchOut: Knob = knob("GRAFT_BENCH_OUT", "target/bench_full.json",
    "Bench's full per-entry record")()
  val PlansDir: Knob = knob("GRAFT_PLANS_DIR", "plans/r22",
    "PlanDump output directory")()
  val SketchCacheDir: Knob = knob("GRAFT_SKETCH_CACHE_DIR",
    "<java.io.tmpdir>/graft-sketch-templates",
    "on-disk sketch template cache")(
    _.getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-sketch-templates"))
  val JobThreads: Knob = knob("GRAFT_JOB_THREADS", "4",
    "JOB corpus submission threads (at least 1)")(
    r => math.max(1, intOr(4)(r).toInt).toString)
  val JobCodegen: Knob = knob("GRAFT_JOB_CODEGEN", "0",
    "`1` keeps whole-stage codegen on in the JOB child profile")(
    r => if (r.contains("1")) "1" else "0")
  val CorpusTimeoutMin: Knob = knob("GRAFT_CORPUS_TIMEOUT_MIN", "15",
    "JOB corpus lap timeout, minutes")(intOr(15))
  val QueryCapSec: Knob = knob("GRAFT_QUERY_CAP_SEC", "120",
    "per-query cap of the scale-campaign laps, seconds")(intOr(120))
  val FilteredCacheCap: Knob = knob("GRAFT_FILTERED_CACHE_CAP", "512",
    "filtered-sketch files kept on disk")(intOr(512))
  val StreamPartitions: Knob = knob("GRAFT_STREAM_PARTITIONS", "auto",
    "streaming child-session partitions (`auto` = per-entry chooser)")(
    _.flatMap(_.toIntOption).map(_.toString).getOrElse("auto"))
  val StreamSink: Knob = knob("GRAFT_STREAM_SINK", "memory",
    "`file` drains append-mode streams through a parquet file sink")(
    r => if (r.contains("file")) "file" else "memory")

  /** Every knob, in README order. */
  val inventory: Seq[Knob] = Seq(SfDir, Cpus, BenchOut, PlansDir,
    SketchCacheDir, JobThreads, JobCodegen, CorpusTimeoutMin, QueryCapSec,
    FilteredCacheCap, StreamPartitions, StreamSink)

  /** Every knob's effective value in this process. */
  def resolved: Seq[(String, String)] = inventory.map(k => k.name -> k.value)

  def sfDir: String = SfDir.value
  def cpus: Int = Cpus.value.toInt
  def streamPartitions: Option[Int] = StreamPartitions.value.toIntOption
  def streamFileSink: Boolean = StreamSink.value == "file"

  /** The base session settings; idempotent (applying them twice is
    * applying them once). Partitions track cores: one shuffle partition
    * per local core.
    */
  def setup(b: SparkSession.Builder, cpus: Int = cpus): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The only session builder in the program. */
  def builder(cpus: Int = cpus): SparkSession.Builder =
    setup(SparkSession.builder(), cpus)

  /** `getOrCreate` plus the program's WARN log level. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A main's session: the base configuration at [[cpus]] cores. */
  def session(): SparkSession = start(builder())

  /** The four JOB trims. At x1-x20 JOB scale each query is a sub-second
    * shape whose cost is per-query planning, so the child turns off
    * what only pays at data scale: AQE re-planning of exchange-free
    * broadcast trees, whole-stage codegen for 113 distinct shapes, and
    * constraint closure over dozens of equality predicates (SCALE.md
    * r18: ×10 48 s → ~25 s; past ×20 the defaults win). `preferSortMergeJoin` is
    * pinned because with AQE off an inherited `false` would convert
    * SMJ→SHJ from static estimates with no runtime fallback (r21:
    * q_job_compass exec 29.6 → 91.6 s).
    */
  def jobTrims: Seq[(String, String)] =
    Seq("spark.sql.adaptive.enabled" -> "false") ++
      (if (JobCodegen.value == "1") Nil
       else Seq("spark.sql.codegen.wholeStage" -> "false")) ++
      Seq("spark.sql.constraintPropagation.enabled" -> "false",
        "spark.sql.join.preferSortMergeJoin" -> "true")

  /** A new child of `parent` carrying [[jobTrims]]. */
  def jobChildProfile(parent: SparkSession): SparkSession = {
    val c = parent.newSession()
    jobTrims.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** The effective configuration a record ran under: resolved knobs,
    * the parent session's conf and the JOB child's conf, keys sorted.
    */
  def engineConfJson(spark: SparkSession): String = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
        .mkString("{", ",", "}")
    def confOf(s: SparkSession) = s.conf.getAll.toSeq.sortBy(_._1)
    s"""{"knobs":${obj(resolved)},"parent":${obj(confOf(spark))},""" +
      s""""job_child":${obj(confOf(jobChildProfile(spark)))}}"""
  }

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in an oracle's SQL or a conf value would
    * otherwise make `json.load` fail and silently zero a correctness run.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The README knob table, generated from [[inventory]]. */
  def knobTable: String =
    ("| knob | default | controls |" +: "|---|---|---|" +:
      inventory.map(k => s"| `${k.name}` | `${k.default}` | ${k.doc} |"))
      .mkString("\n")

  def main(args: Array[String]): Unit = println(knobTable)
}
