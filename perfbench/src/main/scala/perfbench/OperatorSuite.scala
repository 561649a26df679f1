package perfbench

import graft.SparkEntry

/** `operator_suite`: `SparkEntry.queries` on the fixed sf0.01 tables. An
  * untimed pass writes every query's result (the output check reads it) and
  * warms the session, and `WarmPasses` more untimed passes run each query as
  * the timed ones do; query times fall sharply over the first passes of a
  * fresh JVM. The timed window then runs whole passes, at least two, one
  * query per operation, timed like `graft.Bench` times them (`count()`);
  * run.py reports the median pass. */
object OperatorSuite {

  val WarmPasses = 1

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val all = SparkEntry.queries
    val names = ctx.queries.getOrElse(all.keys.toSeq.sorted)
    val out = ctx.dir("operator_suite/results")
    val failedWarm = scala.collection.mutable.Map[String, String]()
    val (_, warmS) = Main.time {
      names.foreach { q =>
        try all(q)(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        catch { case e: Throwable => failedWarm(q) = String.valueOf(e.getMessage).take(300) }
      }
      (0 until WarmPasses).foreach { _ =>
        names.filterNot(failedWarm.contains).foreach(q => all(q)(spark, ctx.data).count())
      }
    }
    val ops = Window.run(ctx, minOps = 2 * names.length,
        group = names.length, name = i => s"q.${names(i % names.length)}") { i =>
      val q = names(i % names.length)
      val t0 = System.nanoTime()
      val ok = try { all(q)(spark, ctx.data).count(); true } catch { case _: Throwable => false }
      Op((System.nanoTime() - t0) / 1e9, 1L, q, ok && !failedWarm.contains(q))
    }
    val passive =
      if (!ctx.traced) Nil
      else passiveSample(names).map { q =>
        Passive.check(ctx, s"q.$q", () => all(q)(spark, ctx.data), () => ())
      }
    val checks = failedWarm.toSeq.sorted.map { case (q, msg) => Check(s"warm.$q", ok = false, msg) }
    Result(ctx.sessionS + warmS, Map("session_s" -> ctx.sessionS, "warm_s" -> warmS),
      ops, checks ++ passive, Map.empty, Map("results_dir" -> out, "queries" -> names))
  }

  /** Queries the passivity check re-runs: every fifth of the suite. */
  def passiveSample(names: Seq[String]): Seq[String] =
    names.zipWithIndex.collect { case (q, i) if i % 5 == 0 => q }
}
