package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.UrlCanon
import graft.fetch.Fetch
import graft.model.{SeedRow, Synth}
import graft.pipeline.CrawlPipeline
import graft.sched.Scheduler
import graft.seen.BloomSeen

/** `crawl_bulk`: one declarative crawl plan, `CrawlPipeline.runAll`,
  * repeated over a seeded frontier: canonicalize, robots, dedup, Bloom plus
  * exact seen gate, banded politeness rank, bucketed fetch join, md5 and
  * phash. Each repetition is one operation; its output tuple must equal
  * the exact-gate plan's. */
object CrawlBulk {

  // Sizes from probes on a 4-core host (2 task slots): a rep is ~1.7 s,
  // mostly fixed per-job cost; reps of a fresh JVM run slower until the JIT
  // compiler has caught up, 8 to 15 reps in depending on the JVM.
  val Urls = 60000L
  val Parts = 8
  val SetupBuilds = 3
  val WarmReps = 11
  val WritePathArrivals = 2

  final case class Fixture(seeds: String, seen: String, store: String)

  /** (rows, payload bytes, phash bits, md5 present) of one crawl. */
  type Digest = (Long, Long, Long, Long)

  /** The seeded frontier: `n` synthetic seed urls at a seed-derived id
    * offset, so every seed crawls different urls of the same shape. */
  def offset(seed: Long, n: Long): Long = Math.floorMod(seed * 0x9E3779B97F4A7C15L, 997L) * n

  def build(spark: SparkSession, root: String, name: String, seed: Long, n: Long,
      parts: Int): Fixture = {
    import spark.implicits._
    val off = offset(seed, n)
    val seeds = s"$root/$name/seeds"
    val seen = s"$root/$name/seen"
    val storeDir = s"$root/$name/store"
    spark.range(off, off + n, 1, parts).as[Long]
      .map(i => SeedRow(Synth.seedUrlOf(i), i - off, Synth.priorityOf(i)))
      .write.parquet(seeds)
    // the seen snapshot: a seeded quarter of the frontier, as prior crawls
    // would have left it (canonical urls)
    spark.read.parquet(seeds)
      .filter(pmod(xxhash64(col("seed_rank"), lit(seed)), lit(4L)) === 0)
      .select(UrlCanon.canonicalUrl(col("url")).as("canonical_url"))
      .write.parquet(seen)
    // the payload store: a bucketed parquet table covering a seeded ~98%
    spark.range(off, off + n, 1, parts)
      .filter(pmod(xxhash64(col("id"), lit(seed + 1)), lit(100L)) < 98)
      .as[Long].map(i => Synth.makeImageDoc(i)).toDF()
      .write.bucketBy(parts, "image_id").sortBy("image_id")
      .option("path", storeDir).saveAsTable(name)
    Fixture(seeds, seen, name)
  }

  def config(n: Long, parts: Int, bloom: Boolean): CrawlPipeline.Config =
    CrawlPipeline.Config(nUrls = n, budget = 8, numPartitions = parts,
      bloomBuckets = parts, useBloomPrefilter = bloom, bandedSchedule = true)

  /** The aggregate a crawl is read through: it touches bytes, md5 and
    * phash, so Catalyst cannot prune the payload join away. */
  def digestOf(log: DataFrame): DataFrame = log.agg(
    count(lit(1)).as("rows"),
    coalesce(sum(octet_length(col("bytes"))), lit(0L)).as("payload_bytes"),
    coalesce(sum(bit_count(graft.functions.graftfns.phash(col("bytes")))), lit(0L)).as("phash_bits"),
    count(col("md5")).as("ok"))

  def crawl(spark: SparkSession, fx: Fixture, n: Long, parts: Int, bloom: Boolean): DataFrame =
    digestOf(CrawlPipeline.runAll(spark, config(n, parts, bloom), spark.table(fx.store),
      seeds = Some(spark.read.parquet(fx.seeds)),
      seenSnapshot = Some(spark.read.parquet(fx.seen))))

  def collectDigest(df: DataFrame): Digest = {
    val r = df.head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val n = Urls
    val parts = Parts
    val root = ctx.dir("crawl_bulk")
    // set-up: build the fixture several times (fresh files each time) and
    // keep the last; set-up time counts the median build
    var fx: Fixture = null
    val buildS = (0 until SetupBuilds).map { k =>
      Main.time { fx = build(spark, root, s"store$k", ctx.seed, n, parts) }._2
    }
    val (expected, exactS) = Main.time {
      val d = collectDigest(crawl(spark, fx, n, parts, bloom = false))
      spark.catalog.clearCache()
      d
    }
    val (_, warmS) = Main.time {
      (0 until WarmReps).foreach { _ =>
        collectDigest(crawl(spark, fx, n, parts, bloom = true))
        spark.catalog.clearCache()
      }
    }
    val setup = ctx.sessionS + Main.median(buildS) + exactS + warmS

    val ops = Window.run(ctx, minOps = 2) { _ =>
      val (d, s) = Main.time {
        val d = collectDigest(crawl(spark, fx, n, parts, bloom = true))
        spark.catalog.clearCache()
        d
      }
      Op(s, n, "rep", d == expected)
    }
    val checks = Seq(Check("exact_gate_digest", expected._1 > 0,
      s"exact-gate tuple $expected"))
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else ctx.trace.recording(on = true)(modules(ctx, fx, n, parts))
    val passive = if (ctx.traced) Seq(Passive.check(ctx, "crawl_bulk.rep",
      () => crawl(spark, fx, n, parts, bloom = true), () => spark.catalog.clearCache())) else Nil
    // the traced run also measures the write path on the same modules
    // (streaming, tableio, seen.heal, seen.cuckoo), whose workload,
    // crawl_stream, is run by hand
    val (writeLayers, writeChecks) =
      if (ctx.traced) CrawlStream.writePath(ctx, WritePathArrivals)
      else (Map.empty[String, Double], Nil)
    Result(setup, Map("session_s" -> ctx.sessionS, "build_s" -> Main.median(buildS),
        "exact_s" -> exactS, "warm_s" -> warmS),
      ops, checks ++ passive ++ writeChecks, layers ++ writeLayers,
      Map("expected" -> Seq(expected._1, expected._2, expected._3, expected._4)))
  }

  /** Traced walk through the crawl's module boundaries: each stage's output
    * is materialized in turn, so each span times one module. */
  def modules(ctx: Ctx, fx: Fixture, n: Long, parts: Int): Map[String, Double] = {
    val spark = ctx.spark
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def pin(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(MEMORY_AND_DISK)
      (p, p.count())
    }
    val seen = spark.read.parquet(fx.seen)
    val ((canon, nCanon), sCanon) = ctx.layered("canon") {
      pin(spark.read.parquet(fx.seeds).select(
        UrlCanon.canonicalUrl(col("url")).as("canonical_url"),
        UrlCanon.hostOf(col("url")).as("host"),
        col("priority"), col("seed_rank"), lit(0).as("depth")))
    }
    val ((robots, nRobots), sRobots) = ctx.layered("sched.robots") {
      pin(Scheduler.robotsFilter(canon, Synth.robotsRules(spark).toDF()))
    }
    val ((spread, nSpread), sDedup) = ctx.layered("sched.dedup") {
      pin(Scheduler.dedupFrontier(robots).repartition(parts,
        UrlCanon.saltedKey(col("canonical_url"), BloomSeen.DefaultSalt)))
    }
    val ((gated, nGated), sBloom) = ctx.layered("seen.bloom") {
      pin(BloomSeen.notSeenExactWithBloomFastPath(spread, seen, parts,
        expectedPerShard = math.max(n / parts, 1024L)))
    }
    // Bloom false positives: probe-positive rows the exact join finds unseen
    val shards = BloomSeen.buildShards(seen, parts, expectedPerShard = math.max(n / parts, 1024L))
    val bloomNeg = BloomSeen.gateNotSeen(spread, shards, parts).count()
    val positives = nSpread - bloomNeg
    val trulySeen = spread.join(seen.distinct(), Seq("canonical_url"), "left_semi").count()
    val ((ranked, nRanked), sRank) = ctx.layered("sched.rank") {
      pin(Scheduler.scheduleBanded(gated, None, 8))
    }
    val ((fetched, nFetched), sFetch) = ctx.layered("fetch") {
      pin(Fetch.fetchBatch(ranked, spark.table(fx.store), parts))
    }
    val hits = fetched.filter(col("status") === 200).count()
    val (_, sExtract) = ctx.layered("extract") { digestOf(fetched).head() }
    spark.catalog.clearCache()
    def w(s: Option[LayerStats]) = s.map(_.wallS).getOrElse(0.0)
    Map(
      "canon.wall_s" -> w(sCanon),
      "sched.robots.wall_s" -> w(sRobots),
      "sched.robots.pass_ratio" -> nRobots.toDouble / math.max(nCanon, 1L),
      "sched.dedup.wall_s" -> w(sDedup),
      "seen.bloom.wall_s" -> w(sBloom),
      "seen.bloom.shuffle_bytes" -> sBloom.map(_.shuffleWriteBytes.toDouble).getOrElse(0.0),
      "seen.bloom.fp_ratio" -> (positives - trulySeen).toDouble / math.max(positives, 1L),
      "sched.rank.wall_s" -> w(sRank),
      "sched.rank.task_skew" -> sRank.map(_.taskSkew).getOrElse(0.0),
      "fetch.wall_s" -> w(sFetch),
      "fetch.hit_ratio" -> hits.toDouble / math.max(nFetched, 1L),
      "fetch.bytes_read" -> sFetch.map(_.inputBytes.toDouble).getOrElse(0.0),
      "extract.wall_s" -> w(sExtract),
      "crawl.gated_rows" -> nGated.toDouble,
      "crawl.ranked_rows" -> nRanked.toDouble)
  }
}
