package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.ops.{Dedup, LinkGraph}

/** `graph_fold`: the iterative graph operators on seeded graphs, with the
  * size dispatches set to 0 so the large-graph engines run (the
  * DataFrame rounds and the split label update) at benchmark scale. One
  * repetition builds (connected components, redirect resolution, PageRank
  * history) and folds (PageRank update, component update); every output is
  * checked against a full recompute made once during set-up. */
object GraphFold {

  val Nodes = 40000L
  val ChainLen = 100L
  val SetupBuilds = 3

  final case class Graphs(ccEdges: DataFrame, redirects: DataFrame, prEdges: DataFrame,
      prBatch: DataFrame, labels: DataFrame, labelPairs: DataFrame, chainFrom: Long,
      chainLen: Long, nEdges: Long)

  /** Order-free digest of a frame: (rows, sum of 32-bit row hashes). */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(lit(0xFFFFFFFFL))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The seeded graphs. The seed moves every node id by an offset, so each
    * seed labels different nodes while the shapes, the round counts and the
    * work stay the same. */
  def graphs(spark: SparkSession, seed: Long, n: Long, chainLen: Long): Graphs = {
    val off = CrawlBulk.offset(seed, 16L * n)
    def at(c: org.apache.spark.sql.Column) = c + lit(off)
    // components: a random mean-degree-1 mass plus chains of chainLen nodes
    val nRand = n / 2
    val rand = spark.range(0, nRand)
      .select(at(pmod(xxhash64(col("id"), lit(1L)), lit(n))).as("id_a"),
        at(pmod(xxhash64(col("id"), lit(2L)), lit(n))).as("id_b"))
    val chains = spark.range(n, n + n / 10)
      .filter((col("id") - n) % chainLen =!= chainLen - 1)
      .select(at(col("id")).as("id_a"), at(col("id") + 1).as("id_b"))
    val ccEdges = rand.unionByName(chains).localCheckpoint()
    // redirects: 64-node chains, every 64th block closing into a cycle
    val nRed = n / 2
    val redirects = spark.range(0, nRed)
      .filter(col("id") % 64 =!= 0)
      .select(at(col("id")).as("src"), at(col("id") - 1).as("dst"))
      .unionByName(spark.range(0, nRed).filter(col("id") % 4096 === 0)
        .select(at(col("id")).as("src"), at(col("id") + 63).as("dst")))
      .localCheckpoint()
    // PageRank: two out-links per node; a ~0.4% batch
    val prEdges = spark.range(0, n)
      .select(at(col("id")).as("src"), at(pmod(col("id") + 1, lit(n))).as("dst"))
      .unionByName(spark.range(0, n)
        .select(at(col("id")).as("src"), at(pmod(xxhash64(col("id"), lit(3L)), lit(n))).as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val prBatch = spark.range(0, n / 256)
      .select(at(pmod(xxhash64(col("id"), lit(4L)), lit(n))).as("src"),
        at(pmod(xxhash64(col("id"), lit(5L)), lit(n))).as("dst"))
      .unionByName(spark.range(0, n / 1024)
        .select(at(lit(n) + col("id")).as("src"), at(pmod(col("id") * 13, lit(n))).as("dst")))
      .filter(col("src") =!= col("dst")).localCheckpoint()
    // label maintenance: a star forest (stars of 10) and a batch of pairs
    val labels = spark.range(0, n)
      .select(at(col("id")).as("doc_id"), at(col("id") - pmod(col("id"), lit(10L))).as("component_rep"))
      .localCheckpoint()
    val labelPairs = spark.range(0, n / 200)
      .select(at(pmod(xxhash64(col("id"), lit(6L)), lit(n))).as("id_a"),
        at(pmod(xxhash64(col("id"), lit(7L)), lit(n))).as("id_b"))
      .localCheckpoint()
    val nEdges = ccEdges.count() + redirects.count() + prEdges.count() + prBatch.count() +
      labelPairs.count()
    labels.count()
    Graphs(ccEdges, redirects, prEdges, prBatch, labels, labelPairs, off + n, chainLen, nEdges)
  }

  final case class Expected(pr: (Long, Long), cc: (Long, Long))

  /** Full recomputes the folds must equal. */
  def expected(spark: SparkSession, g: Graphs): Expected = {
    val pr = digest(LinkGraph.pagerank(g.prEdges.unionByName(g.prBatch), iterations = 3)
      .select("node", "rank_fp"))
    val starEdges = g.labels.filter(col("doc_id") =!= col("component_rep"))
      .select(col("component_rep").as("id_a"), col("doc_id").as("id_b"))
    val cc = digest(Dedup.connectedComponents(starEdges.unionByName(g.labelPairs))
      .select("doc_id", "component_rep"))
    Expected(pr, cc)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val n = Nodes
    val chainLen = ChainLen
    Seq("graft.cc.datasetThreshold", "graft.graph.datasetThreshold",
      "graft.cc.touchedSplitThreshold").foreach(spark.conf.set(_, "0"))
    var g: Graphs = null
    val buildS = (0 until SetupBuilds).map { _ => Main.time { g = graphs(spark, ctx.seed, n, chainLen) }._2 }
    // the full recomputes run the same engines and double as the warm-up
    val (exp, expS) = Main.time(expected(spark, g))
    val setup = ctx.sessionS + Main.median(buildS) + expS
    val phases = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val ops = Window.run(ctx, minOps = if (ctx.traced) 2 else 1) { _ =>
      val ((ok, b, f), s) = Main.time(rep(ctx, g, exp))
      phases += ((b, f))
      Op(s, g.nEdges, "rep", ok)
    }
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else Map("graph.build_s" -> Main.median(phases.map(_._1).toSeq),
        "graph.fold_s" -> Main.median(phases.map(_._2).toSeq))
    Result(setup, Map("session_s" -> ctx.sessionS, "build_s" -> Main.median(buildS),
        "expected_s" -> expS),
      ops, Nil, layers, Map("edges" -> g.nEdges))
  }

  /** One repetition; returns (outputs match, build seconds, fold seconds). */
  def rep(ctx: Ctx, g: Graphs, exp: Expected): (Boolean, Double, Double) = {
    val spark = ctx.spark
    val (chainOk, tBuild) = Main.time {
      val (cc, _) = ctx.layered("ops.cc") {
        val c = Dedup.connectedComponents(g.ccEdges).persist(MEMORY_AND_DISK)
        c.count(); c
      }
      // chain nodes carry their chain's minimum
      val bad = cc.filter(col("doc_id") >= g.chainFrom && col("component_rep") =!=
        (col("doc_id") - pmod(col("doc_id") - g.chainFrom, lit(g.chainLen)))).count()
      ctx.layered("ops.redirect") {
        val r = LinkGraph.resolveRedirects(g.redirects).persist(MEMORY_AND_DISK)
        r.count(); r
      }
      bad == 0
    }
    val (state, tHist) = Main.time {
      ctx.layered("ops.pagerank_history") {
        val s = LinkGraph.pagerankHistory(g.prEdges, iterations = 3)
        s.history.last.count(); s
      }._1
    }
    val ((prOk, ccOk), tFold) = Main.time {
      val (prD, _) = ctx.layered("ops.pagerank_update") {
        digest(LinkGraph.updatePagerank(state, g.prBatch).select("node", "rank_fp"))
      }
      val (ccD, _) = ctx.layered("ops.cc_update") {
        digest(Dedup.updateComponents(g.labels, g.labelPairs).select("doc_id", "component_rep"))
      }
      (prD == exp.pr, ccD == exp.cc)
    }
    spark.catalog.clearCache()
    (chainOk && prOk && ccOk, tBuild + tHist, tFold)
  }
}
