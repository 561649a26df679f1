package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.canon.UrlCanon
import graft.fetch.Fetch
import graft.model.{SeedRow, Synth}
import graft.sched.Scheduler
import graft.seen.{BloomSeen, CuckooSeen, ShardStore}
import graft.streaming.Streaming
import graft.tableio.SnapshotTable

/** `crawl_stream`: seed files land one at a time; after each lands,
  * `Streaming.runCrawlStream` (AvailableNow) drains it against a maintained
  * cuckoo `ShardStore`, committing the fetched and seen snapshot tables and
  * healing the shards. One arrival is one operation. Arrival 0 lands during
  * set-up; every later arrival holds `urls/2` new urls and `urls/2` drawn
  * from earlier arrivals, which the seen gate must drop. Run by hand; the
  * traced run of `crawl_bulk` measures its layers through [[writePath]]. */
object CrawlStream {

  val Budget = 2
  // Sizes from probes on a 4-core host (2 task slots): an arrival costs
  // 4-6 s, nearly all of it fixed per-arrival overhead.
  val Urls = 5000L
  val MaxArrivals = 40
  val Parts = 8
  val SetupBuilds = 3

  /** Seed rows of arrival `k` (deterministic in seed and k). */
  def arrival(spark: SparkSession, seed: Long, off: Long, m: Long, k: Int): DataFrame = {
    import spark.implicits._
    val half = m / 2
    val ids =
      if (k == 0) spark.range(off, off + m, 1, 4).as[Long]
      else {
        val fresh = spark.range(newFrom(off, m, k), newFrom(off, m, k) + half, 1, 4).as[Long]
        val prior = newFrom(off, m, k) - off
        val old = spark.range(0, half, 1, 4)
          .select((lit(off) + pmod(xxhash64(col("id"), lit(k.toLong), lit(seed)), lit(prior))).as("id"))
          .as[Long]
        fresh.union(old)
      }
    ids.map(i => SeedRow(Synth.seedUrlOf(i), i - off, Synth.priorityOf(i))).toDF()
  }

  /** First new id of arrival k (k >= 1). */
  def newFrom(off: Long, m: Long, k: Int): Long = off + m + (k - 1) * (m / 2)

  final case class Progress(trigger: Double, planning: Double, addBatch: Double, wal: Double)

  /** One campaign under `root`: the payload store (a bucketed parquet table
    * covering ~98% of every id the campaign can draw, built `builds` times,
    * the last kept), the landing directory, the table root and the
    * maintained shards. */
  final class Campaign(ctx: Ctx, val root: String, builds: Int) {
    val spark: SparkSession = ctx.spark
    val m: Long = Urls
    val parts: Int = Parts
    val off: Long = CrawlBulk.offset(ctx.seed, 1000000L)
    val nIds: Long = newFrom(off, m, MaxArrivals) - off
    private val name = new java.io.File(root).getName
    val buildS: Seq[Double] = (0 until builds).map { b =>
      Main.time {
        import spark.implicits._
        spark.range(off, off + nIds, 1, parts)
          .filter(pmod(xxhash64(col("id"), lit(ctx.seed + 1)), lit(100L)) < 98)
          .as[Long].map(i => Synth.makeImageDoc(i)).toDF()
          .write.bucketBy(parts, "image_id").sortBy("image_id")
          .option("path", s"$root/store$b").saveAsTable(s"${name}_store$b")
      }._2
    }
    val store: DataFrame = spark.table(s"${name}_store${builds - 1}")
    private val src = s"$root/seeds"
    private val schema = StructType(Seq(StructField("url", StringType),
      StructField("seed_rank", LongType), StructField("priority", LongType)))
    val shards = new ShardStore(s"$root/shards", numBuckets = parts,
      expectedPerShard = math.max(2 * nIds / parts, 4096L))

    def land(k: Int): Unit =
      arrival(spark, ctx.seed, off, m, k).coalesce(1).write.mode("append").parquet(src)

    def drain(): Unit = Streaming.runCrawlStream(spark, src, schema, store, s"$root/tables",
      s"$root/checkpoint", budget = Budget, numPartitions = parts, maintainedShards = Some(shards))

    /** Lands arrival `k` and drains it; with `progress`, the stream's
      * progress events of the drain are collected. */
    def arrive(k: Int, progress: Option[ArrayBuffer[Progress]]): Op = {
      land(k)
      val listener = progress.map(listen)
      listener.foreach(spark.streams.addListener)
      val (_, s) = Main.time(drain())
      listener.foreach { l =>
        org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
        spark.streams.removeListener(l)
      }
      Op(s, m, "arrival", ok = true)
    }

    /** The fetched union equals one exact-gated pass over every landed
      * file, no url is fetched twice, and every seen url probes positive in
      * the maintained shards. */
    def checks(landed: Int): (Seq[Check], Long) = {
      val fetched = new SnapshotTable(s"$root/tables/fetched").read(spark).get.select("canonical_url")
      val seen = new SnapshotTable(s"$root/tables/seen").read(spark).get.select("canonical_url")
      val all = (0 until landed).map(k => arrival(spark, ctx.seed, off, m, k)).reduce(_ union _)
      val expected = Scheduler.robotsFilter(canonical(all), Synth.robotsRules(spark).toDF())
        .select("canonical_url").distinct()
      val nFetched = fetched.count()
      val nDistinct = fetched.distinct().count()
      val missing = expected.except(fetched).count()
      val extra = fetched.except(expected).count()
      val unprobed = CuckooSeen.gateNotSeen(seen, shards.current(spark), parts).count()
      (Seq(
        Check("stream.union_equals_exact_pass", missing == 0 && extra == 0 && nFetched == nDistinct,
          s"fetched=$nFetched distinct=$nDistinct missing=$missing extra=$extra"),
        Check("stream.seen_probes_positive", unprobed == 0, s"seen urls probing negative: $unprobed")),
        nFetched)
    }
  }

  private def listen(into: ArrayBuffer[Progress]): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        into.synchronized {
          into += Progress(ms("triggerExecution"), ms("queryPlanning"), ms("addBatch"),
            ms("walCommit"))
        }
        ()
      }
    }

  def run(ctx: Ctx): Result = {
    val c = new Campaign(ctx, ctx.dir("crawl_stream"), SetupBuilds)
    val (_, warmS) = Main.time { c.land(0); c.drain() }
    val setup = ctx.sessionS + Main.median(c.buildS) + warmS

    // the progress listener rides along only on traced arrivals
    val progress = ArrayBuffer[Progress]()
    val ops = Window.run(ctx, minOps = 2, maxOps = MaxArrivals - 1) { i =>
      c.arrive(i + 1, if (ctx.trace.active) Some(progress) else None)
    }
    val landed = ops.length + 1
    val (checks, nFetched) = c.checks(landed)
    val allOk = checks.forall(_.ok)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else streamingLayers(progress.toSeq, ops) ++
        ctx.trace.recording(on = true)(replay(ctx, c.store, c.off, c.m, c.parts, c.nIds,
          math.min(3, landed)))
    Result(setup, Map("session_s" -> ctx.sessionS, "build_s" -> Main.median(c.buildS),
        "warm_s" -> warmS),
      ops.map(o => o.copy(ok = o.ok && allOk)), checks, layers,
      Map("arrivals" -> landed, "fetched" -> nFetched))
  }

  /** The write path's layer metrics and checks for the traced run of
    * another workload, without a timed window: a campaign of `arrivals`
    * drains, every one but the first with the progress listener attached,
    * then the traced replay of the per-batch calls (its fetch span named
    * `stream.fetch`, apart from the other workload's own `fetch`). */
  def writePath(ctx: Ctx, arrivals: Int): (Map[String, Double], Seq[Check]) = {
    val c = new Campaign(ctx, ctx.dir("write_path"), builds = 1)
    c.land(0)
    c.drain()
    val progress = ArrayBuffer[Progress]()
    val ops = (1 until arrivals).map(k => c.arrive(k, Some(progress)).copy(traced = true))
    val (checks, _) = c.checks(arrivals)
    val layers = streamingLayers(progress.toSeq, ops) ++ ctx.trace.recording(on = true)(
      replay(ctx, c.store, c.off, c.m, c.parts, c.nIds, arrivals, fetchSpan = "stream.fetch"))
    (layers, checks)
  }

  def canonical(seeds: DataFrame): DataFrame = seeds.select(
    UrlCanon.canonicalUrl(col("url")).as("canonical_url"),
    UrlCanon.hostOf(col("url")).as("host"),
    col("priority"), col("seed_rank"), lit(0).as("depth"))

  /** Per-arrival means of the stream's own progress durations. */
  def streamingLayers(p: Seq[Progress], ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(traced.length, 1).toDouble
    val trig = p.map(_.trigger).sum / 1e3
    Map(
      "streaming.trigger_ms" -> p.map(_.trigger).sum / n,
      "streaming.query_planning_ms" -> p.map(_.planning).sum / n,
      "streaming.add_batch_ms" -> p.map(_.addBatch).sum / n,
      "streaming.wal_commit_ms" -> p.map(_.wal).sum / n,
      "streaming.start_stop_s" -> (traced.map(_.wallS).sum - trig) / n)
  }

  /** Logical bytes of a frame's rows: string bytes plus 8 per long or
    * double, 4 per int; what a commit writes is compared to this. */
  def logicalBytes(df: DataFrame): Long = {
    val terms = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType | BinaryType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case IntegerType => lit(4L)
        case _ => lit(8L)
      }
    }
    df.select(terms.reduce(_ + _).as("b")).agg(coalesce(sum("b"), lit(0L))).head().getLong(0)
  }

  /** Traced replay of the per-batch calls the stream makes, on a fresh
    * table root, each call inside its own span. */
  def replay(ctx: Ctx, store: DataFrame, off: Long, m: Long, parts: Int, nIds: Long,
      arrivals: Int, fetchSpan: String = "fetch"): Map[String, Double] = {
    val spark = ctx.spark
    val root = ctx.dir("crawl_stream_replay")
    val fetchedT = new SnapshotTable(s"$root/fetched")
    val seenT = new SnapshotTable(s"$root/seen")
    val shardRoot = s"$root/shards"
    val shards = new ShardStore(shardRoot, numBuckets = parts,
      expectedPerShard = math.max(2 * nIds / parts, 4096L))
    val touched = ArrayBuffer[Double]()
    val healBytes = ArrayBuffer[Double]()
    val amp = ArrayBuffer[Double]()
    val files = ArrayBuffer[Double]()
    val cuckooFp = ArrayBuffer[Double]()
    (0 until arrivals).foreach { k =>
      val deduped = Scheduler.dedupFrontier(Scheduler.robotsFilter(
        canonical(arrival(spark, ctx.seed, off, m, k)), Synth.robotsRules(spark).toDF()))
        .persist(MEMORY_AND_DISK)
      deduped.count()
      val unseen = seenT.read(spark) match {
        case None => deduped
        case Some(seen) =>
          val (delta, _) = ctx.layered("tableio.read_since") {
            val d = seenT.readSinceBatch(spark, shards.latestBatch.getOrElse(-1L))
              .getOrElse(seen.limit(0)).persist(MEMORY_AND_DISK)
            d.count(); d
          }
          val (cur, _) = ctx.layered("seen.heal") {
            val s = shards.heal(spark, delta, k - 1L).persist(MEMORY_AND_DISK)
            s.count(); s
          }
          val (gated, _) = ctx.layered("seen.cuckoo") {
            val g = CuckooSeen.notSeenExactWithPrebuilt(deduped, cur, seen.select("canonical_url"),
              shards.numBuckets, shards.salt).persist(MEMORY_AND_DISK)
            g.count(); g
          }
          val n = deduped.count()
          val positives = n - CuckooSeen.gateNotSeen(deduped, cur, shards.numBuckets).count()
          val trulySeen = deduped.join(seen.select("canonical_url").distinct(),
            Seq("canonical_url"), "left_semi").count()
          if (positives > 0) cuckooFp += (positives - trulySeen).toDouble / positives
          gated
      }
      val ranked = Scheduler.schedule(unseen, None, Budget).persist(MEMORY_AND_DISK)
      ranked.count()
      val (fetched, _) = ctx.layered(fetchSpan) {
        val f = Fetch.fetchBatch(ranked, store, parts).drop("bytes").persist(MEMORY_AND_DISK)
        f.count(); f
      }
      val seenRows = ranked.select(col("canonical_url"), lit(k.toLong).as("first_batch_id"))
      val before = Main.dirBytes(s"$root/fetched") + Main.dirBytes(s"$root/seen")
      val filesBefore = Main.dataFiles(s"$root/fetched") + Main.dataFiles(s"$root/seen")
      ctx.layered("tableio.commit") {
        fetchedT.commit(fetched, batchId = k.toLong)
        seenT.commit(seenRows, batchId = k.toLong)
      }
      val written = Main.dirBytes(s"$root/fetched") + Main.dirBytes(s"$root/seen") - before
      amp += written.toDouble / math.max(logicalBytes(fetched) + logicalBytes(seenRows), 1L)
      files += (Main.dataFiles(s"$root/fetched") + Main.dataFiles(s"$root/seen") - filesBefore) / 2.0
      // advance the maintained filter through this arrival
      val shardBefore = Main.dirBytes(shardRoot)
      val delta = seenT.readSinceBatch(spark, shards.latestBatch.getOrElse(-1L)).get
      val nTouched = delta.filter(col("first_batch_id") === k.toLong)
        .select(BloomSeen.bucketCol(col("canonical_url"), parts, shards.salt)).distinct().count()
      ctx.layered("seen.heal") { shards.heal(spark, delta, k.toLong).count() }
      touched += nTouched.toDouble / parts
      healBytes += (Main.dirBytes(shardRoot) - shardBefore).toDouble
      spark.catalog.clearCache()
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    Map(
      "seen.heal.touched_ratio" -> mean(touched.toSeq),
      "seen.heal.bytes_written" -> mean(healBytes.toSeq),
      "seen.cuckoo.fp_ratio" -> mean(cuckooFp.toSeq),
      "tableio.write_amp" -> mean(amp.toSeq),
      "tableio.files_per_commit" -> mean(files.toSeq))
  }
}
