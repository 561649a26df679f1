package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload: its wall time, the units of work it
  * moved (urls, queries or edges), and whether its output check held. */
final case class Op(wallS: Double, items: Long, key: String, ok: Boolean,
    traced: Boolean = false)

/** A workload-level output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back to [[Main]]: set-up time, timed operations,
  * checks, and (traced run) per-layer metrics. */
final case class Result(setupS: Double, setupParts: Map[String, Double],
    ops: Seq[Op], checks: Seq[Check], layers: Map[String, Double],
    extra: Map[String, Any] = Map.empty)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val traced: Boolean, val work: String, val data: String,
    val cpus: Int, val sessionS: Double, val queries: Option[Seq[String]]) {
  val trace = new Trace(traced, f"$workload-$seed%d-${ProcessHandle.current().pid()}%d")
  val probe: Option[Probe] = if (traced) Some(new Probe(spark).attach()) else None

  /** Runs `body` as a span and returns its result with the engine-layer
    * counters of the interval (traced run only). */
  def layered[A](name: String, op: Boolean = false)(body: => A): (A, Option[LayerStats]) =
    probe match {
      case Some(p) if trace.active =>
        val id = trace.nextId
        val a = p.mark()
        val r = trace.span(name)(body)
        val s = p.between(a, p.mark())
        spanStats(id) = Map("op" -> op, "stats" -> s.toMap)
        (r, Some(s))
      case _ => (trace.span(name)(body), None)
    }

  val spanStats = scala.collection.mutable.Map[Int, Map[String, Any]]()

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
}

object Main {

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Bytes under a local path. */
  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Parquet files under a local path. */
  def dataFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(path))
  }

  /** Peak resident set of this JVM in KiB (`VmHWM`), or -1 off Linux. */
  def peakRssKb(): Long = {
    val status = new File("/proc/self/status")
    if (!status.exists()) -1L
    else scala.io.Source.fromFile(status).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** `explain("formatted")` text with the per-construction ids (expression
    * ids, plan ids, broadcast ids) masked, so two builds of one plan compare
    * equal. */
  def formattedPlan(df: DataFrame): String = {
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    text.replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("Broadcast\\(\\d+\\)", "Broadcast()")
      .replaceAll("@[0-9a-f]{5,}", "@")
  }

  /** Jobs the session has started so far, read from Spark's own status
    * store (independent of the benchmark's listener). */
  def jobsStarted(spark: SparkSession): Int = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
    if (ids.isEmpty) 0 else ids.max + 1
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.maxResultSize", "0")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    if (workload == "oracle_sql") {
      // the frozen oracle SQL, for pinning the expected digests
      Files.writeString(Paths.get(a("out")), Json.value(graft.SparkEntry.oracleSql))
      return
    }
    val work = new File(a("work")).getAbsolutePath
    val cpus = a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    new File(work).mkdirs()
    val (spark, sessionS) = time(session(cpus, work))
    val ctx = new Ctx(spark, workload, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", work, a.getOrElse("data", ""), cpus, sessionS,
      a.get("queries").filter(_.nonEmpty).map(_.split(",").toSeq))
    val res = workload match {
      case "crawl_bulk" => CrawlBulk.run(ctx)
      case "crawl_stream" => CrawlStream.run(ctx)
      case "operator_suite" => OperatorSuite.run(ctx)
      case "graph_fold" => GraphFold.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.probe.foreach(_.detach())
    val json = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> ctx.traced,
      "cpus" -> cpus, "session_s" -> sessionS,
      "setup_s" -> res.setupS, "setup_parts" -> res.setupParts,
      "ops" -> res.ops.map(o => Map("wall_s" -> o.wallS, "items" -> o.items,
        "key" -> o.key, "ok" -> o.ok, "traced" -> o.traced)),
      "checks" -> res.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "layers" -> res.layers,
      "peak_rss_kb" -> peakRssKb(),
      "spans" -> Json.Raw(ctx.trace.toJson(ctx.spanStats.toMap)),
      "extra" -> res.extra)
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }
}
