package graft

import graft.engine.GraftConf
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (JVM-wide — Spark
  * sessions are expensive; specs must not stop() it).
  *
  * SEQUENTIAL-ONLY contract: several suites mutate JVM-global state of
  * this shared session — OpCaches tracked counts and releaseAll,
  * session confs (VectorOpsSpec's codegen factory mode, PlanAuditSpec's
  * broadcast threshold), registered SQL functions and temp views. The
  * sbt build runs suites sequentially in one forked JVM; enabling
  * testForkedParallel (or a parallel IDE runner) would race those
  * assertions. Parallelize only after giving each suite its own
  * session (newSession()) and session-scoped caches.
  */
object SparkTestSession {
  /** The engine's base configuration at a fixed 4 cores, so partition-
    * count-sensitive specs see the same layout on every host.
    */
  def builder: SparkSession.Builder = GraftConf.builder(cpus = 4)

  lazy val spark: SparkSession = GraftConf.start(builder)
}
