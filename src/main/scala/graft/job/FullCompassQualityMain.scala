package graft.job

import graft.planner.{CompassSession, OptimizerQuality, SketchTemplateCache}
import graft.engine.GraftConf

/** One-off measured-quality harness over the FULL JOB corpus (r16 verdict
  * #1): every one of the 113 queries through the COMPASS pipeline, its
  * chosen order's Σ TRUE intermediate rows vs the stock size-descending
  * baseline's ([[OptimizerQuality.compare]] — spine-executed
  * `numOutputRows`, not estimates), plus the per-query planning split.
  * Prints the ESTIMATES.md §6 markdown table and a corpus-wide summary
  * (planning fraction, win/tie/loss counts, Σ totals). Usage:
  * `sbt "runMain graft.job.FullCompassQualityMain"` (x1 JOB data —
  * the scale the compass entry itself runs at).
  */
object FullCompassQualityMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session()
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    JobCorpus.warmCompass(spark, cs)
    val byName = JobCorpus.queries.toMap
    val names = JobCorpus.queries.map(_._1)
    val t0 = System.nanoTime()
    val reports = names.map { n =>
      val r = OptimizerQuality.compare(spark, cs, n, byName(n))
      System.err.println(s"[quality] ${r.family}: compass=${r.compassSum} " +
        s"naive=${r.naiveSum} plan=${r.planMs}ms")
      r
    }
    val secs = (System.nanoTime() - t0) / 1e9

    println("\n### Full-corpus measured quality (113/113, x1)\n")
    println("| q | Σ true compass | Σ true naive | plan ms | compass spine ms | naive spine ms |")
    println("|---|---|---|---|---|---|")
    reports.foreach { r =>
      println(s"| ${r.family} | ${r.compassSum} | ${r.naiveSum} | ${r.planMs} " +
        s"| ${r.compassExecMs} | ${r.naiveExecMs} |")
    }
    val wins = reports.count(r => r.compassSum < r.naiveSum)
    val ties = reports.count(r => r.compassSum == r.naiveSum)
    val losses = reports.count(r => r.compassSum > r.naiveSum)
    // Guarded: a degenerate dataset (all naive sums 0) must still print
    // the summary, not crash maxBy on an empty filter.
    val worst = reports.filter(_.naiveSum > 0) match {
      case Seq() => "n/a (all naive sums zero)"
      case live =>
        val w = live.maxBy(r => r.compassSum.toDouble / r.naiveSum)
        s"${w.family} (${w.compassSum} vs ${w.naiveSum})"
    }
    println(f"\n113-query summary: compass<naive $wins, ties $ties, " +
      s"losses $losses; Σ totals compass=${reports.map(_.compassSum).sum} " +
      s"naive=${reports.map(_.naiveSum).sum}; worst family $worst; " +
      f"total plan ${reports.map(_.planMs).sum} ms over $secs%.1f s wall")
    spark.stop()
  }
}
