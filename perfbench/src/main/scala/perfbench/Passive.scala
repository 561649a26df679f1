package perfbench

import org.apache.spark.sql.DataFrame

/** The instrumentation contract: attaching the listener and the spans adds
  * no job and changes no plan. One action is run twice, bare and traced,
  * and the job counts and masked `explain("formatted")` texts compared. */
object Passive {

  def check(ctx: Ctx, name: String, build: () => DataFrame, after: () => Unit): Check = {
    val spark = ctx.spark
    val p = ctx.probe.get
    p.detach()
    val bare = build()
    val j0 = Main.jobsStarted(spark)
    bare.collect()
    val bareJobs = Main.jobsStarted(spark) - j0
    val barePlan = Main.formattedPlan(bare)
    after()
    p.attach()
    val traced = build()
    val t0 = Main.jobsStarted(spark)
    val (_, stats) = ctx.trace.recording(on = true) {
      ctx.layered(s"passive.$name")(traced.collect())
    }
    val tracedJobs = Main.jobsStarted(spark) - t0
    val tracedPlan = Main.formattedPlan(traced)
    after()
    val seenJobs = stats.map(_.jobs).getOrElse(-1L)
    val ok = bareJobs == tracedJobs && seenJobs == tracedJobs && barePlan == tracedPlan
    val firstDiff = barePlan.linesIterator.zipAll(tracedPlan.linesIterator, "", "")
      .find { case (a, b) => a != b }
      .map { case (a, b) => s"; first differing plan line: bare '${a.take(200)}' traced '${b.take(200)}'" }
      .getOrElse("")
    Check(s"passive.$name", ok,
      s"jobs bare=$bareJobs traced=$tracedJobs listener=$seenJobs plans_equal=${barePlan == tracedPlan}$firstDiff")
  }
}
