package graft.job

import graft.planner.{CompassSession, SketchTemplateCache}
import graft.engine.GraftConf

/** One-off A/B harness (r13 verdict #5): runs every JOB compass family
  * through BOTH estimator modes ([[JobCorpus.abEstimatorModes]]) and
  * prints the ESTIMATES.md §4 markdown table — chosen permutation and
  * measured Σ true intermediates per mode, disagreements flagged with
  * the winner. Usage: `sbt "runMain graft.job.EstimatorABMain"`.
  */
object EstimatorABMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.session()
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))

    def render(title: String,
        rows: Seq[graft.planner.OptimizerQuality.ModeAB], secs: Double): Unit = {
      println(s"\n### $title\n")
      println("| family | Σ true ref | Σ true cas | Σ true hybrid | winner(ref vs cas) | cascade-model cost ref/cas/hyb | orders |")
      println("|---|---|---|---|---|---|---|")
      rows.foreach { r =>
        val winner =
          if (r.agree) "—"
          else if (r.casSum < r.refSum) "cascade"
          else if (r.casSum > r.refSum) "reference"
          else "tie"
        val orders =
          if (r.agree) s"both: ${r.refOrder.mkString("→")}"
          else s"ref: ${r.refOrder.mkString("→")} / cas: ${r.casOrder.mkString("→")}" +
            (if (r.hybridEqCascade) "" else s" / hyb: ${r.hybOrder.mkString("→")}")
        val costs = f"${r.casCostOfRef}%.3g / ${r.casCostOfCas}%.3g / ${r.casCostOfHyb}%.3g"
        println(s"| ${r.family} | ${r.refSum} | ${r.casSum} | ${r.hybSum} | $winner | $costs | $orders |")
      }
      val disagree = rows.filterNot(_.agree)
      println(f"\n${rows.size} families, ${disagree.size} ref-vs-cas disagreements, " +
        s"cascade wins-or-ties ${rows.count(_.cascadeWinsOrTies)}/${rows.size}; " +
        s"hybrid==cascade ${rows.count(_.hybridEqCascade)}/${rows.size}; " +
        s"search artifacts ${disagree.count(_.searchArtifact)}/${disagree.size}; " +
        s"totals ref=${rows.map(_.refSum).sum} cas=${rows.map(_.casSum).sum} " +
        s"hyb=${rows.map(_.hybSum).sum}; " +
        f"measured in $secs%.1f s")
      // Candidate-portfolio counterfactuals (r16 verdict #2): keep the
      // three modes' enumerations as CANDIDATES and rescore under the
      // cascade model — per family, pick-argmin (θ=1) and
      // switch-only-on-catastrophe variants (take argmin only when the
      // hybrid order's own cascade cost exceeds θ× the best candidate's).
      // Measured Σ of each rule, so "does rescoring beat the shipping
      // hybrid" is a printed number, not a guess.
      def pickSum(r: graft.planner.OptimizerQuality.ModeAB, theta: Double): Long = {
        val cands = Seq(
          (r.casCostOfRef, r.refSum), (r.casCostOfCas, r.casSum),
          (r.casCostOfHyb, r.hybSum)).filterNot(_._1.isNaN)
        if (cands.isEmpty || r.casCostOfHyb.isNaN) r.hybSum
        else {
          val best = cands.minBy(_._1)
          if (r.casCostOfHyb > theta * best._1) best._2 else r.hybSum
        }
      }
      Seq(1.0, 1.5, 2.0, 4.0).foreach { theta =>
        val tot = rows.map(pickSum(_, theta)).sum
        val worse = rows.count(r => pickSum(r, theta) > r.hybSum)
        val better = rows.count(r => pickSum(r, theta) < r.hybSum)
        println(f"portfolio θ=$theta%.1f: Σ=$tot (hyb=${rows.map(_.hybSum).sum}); " +
          s"families better $better, worse $worse")
      }
    }

    // JOB scale follows SPARK_GRAFT_SF_DIR like the bench does (x1 at
    // the default/sf0.01, x10 at sf0.1) — the x10 run answers whether
    // the x1 ranking findings survive a scale-up.
    val jobDir = GraftConf.SfDir.raw.getOrElse("")
    val jobScale = JobCorpus.scaleFor(jobDir)
    JobCorpus.warmCompass(spark, cs, sfDir = jobDir)
    val t0 = System.nanoTime()
    val jobRows = JobCorpus.abEstimatorModes(spark, cs, sfDir = jobDir)
    render(s"JOB corpus (x$jobScale), 33 families", jobRows,
      (System.nanoTime() - t0) / 1e9)

    // The TPC-H quality battery — the workload the alignment guard was
    // born on ("nine" = the 9-way region diamond regression pin).
    val dir = GraftConf.SfDir.raw.getOrElse(GraftConf.testData("sf0.01"))
    graft.Tables.registerAll(spark, dir)
    val t1 = System.nanoTime()
    val tpchRows = graft.planner.OptimizerQuality.specFamilies.map {
      case (fam, text) =>
        graft.planner.OptimizerQuality.abForQuery(spark, cs, fam, spark.sql(text))
    }
    render(s"TPC-H quality battery ($dir)", tpchRows,
      (System.nanoTime() - t1) / 1e9)
    spark.stop()
  }
}
