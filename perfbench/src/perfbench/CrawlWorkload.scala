package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.SyntheticCorpus
import graft.frontier.{Scheduler, SeenSet}
import graft.jobs.CrawlJob
import graft.model.Candidate
import graft.store.{FrontierStore, ParquetSnapshotStore}

/** crawl_epochs: CrawlJob.init + 5 x CrawlJob.runEpoch over a closed-world
  * synthetic corpus (100k ~1 KB plain-HTML pages, 1,200 Zipf hosts, robots
  * rules), on
  * a fresh snapshot store. One op = one epoch. Work sits in graft.frontier
  * (seen filter, dequeue), graft.store (six table writes, commit, expire)
  * and per-epoch driver planning; no plist is parsed. Epochs 1-2 are
  * work-heavy and 0, 3 and 4 are small, fixed-cost epochs, so op_s_p50
  * reads a fixed-cost epoch and throughput_per_s mostly the heavy ones.
  * Correctness is read back from the committed store, untimed. */
final class CrawlWorkload(ctx: Ctx) {
  import ctx.spark.implicits._
  private val o = ctx.o
  private val spark = ctx.spark
  private val (nPages, nHosts, nSeeds) =
    o.sized((100000L, 1200, 5000), (4000L, 60, 200))
  private val budget = 256
  private val cfg = CrawlJob.Config(
    seen = SeenSet.Config(numBuckets = 32, expectedPerBucket = 1 << 18),
    sched = Scheduler.Config(perHostBudget = budget, saltFactor = 8),
    shufflePartitions = o.cores)

  /** (scheduled, fetched, discovered, frontierSize, deduped, robotsBlocked)
    * per epoch for seed 42, recorded on the commit that introduced this
    * benchmark (toy size has none). */
  private val seed42 = Seq(
    (4482L, 4482L, 42397L, 42679L, 124L, 112L),
    (23275L, 23275L, 221047L, 224569L, 15299L, 583L),
    (25243L, 25243L, 239699L, 246902L, 190944L, 1179L),
    (2450L, 2450L, 23284L, 29701L, 236842L, 1193L),
    (803L, 803L, 7612L, 13246L, 22887L, 377L))

  private def prepare(seed: Long, n: Long, hosts: Int): DataFrame = {
    val p = CrawlJob.preparePages(SyntheticCorpus.pages(spark, seed, n, o.cores, hosts).toDF())
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  private var storeNo = 0
  private def freshStore(): ParquetSnapshotStore = {
    storeNo += 1
    new ParquetSnapshotStore(o.work.resolve(s"store-$storeNo").toString)
  }

  /** init + epochs; returns per-epoch (result, seconds). Epoch k's span
    * and job group are `<label>.e<k>`. */
  private def crawl(store: FrontierStore, pages: DataFrame, robots: DataFrame,
                    seed: Long, n: Long, hosts: Int, seeds: Int, epochs: Int,
                    beforeEpoch: Int => Unit = _ => (),
                    label: String = "epoch"): Seq[(CrawlJob.EpochResult, Double)] = {
    ctx.span(s"$label.init") {
      CrawlJob.init(spark, store, SyntheticCorpus.seeds(spark, seed, n, seeds, hosts), cfg)
    }
    (0 until epochs).map { e =>
      beforeEpoch(e)
      ctx.span(s"$label.e$e") {
        ctx.group(s"$label.e$e")(ctx.timed(CrawlJob.runEpoch(spark, store, pages, robots, cfg)))
      }
    }
  }

  /** Gates over one finished crawl, read back from the committed store. */
  private def gates(store: FrontierStore, robots: DataFrame,
                    rs: Seq[CrawlJob.EpochResult]): Unit = {
    for (r <- rs)
      ctx.check(r.fetched == r.scheduled && r.scheduled > 0,
        s"epoch ${r.epoch}: fetched ${r.fetched} != scheduled ${r.scheduled} in a closed-world corpus")
    val got = rs.map(r => (r.scheduled, r.fetched, r.discovered, r.frontierSize,
      r.deduped, r.robotsBlocked))
    System.err.println("[perfbench] epoch counters: " + got.mkString(" "))
    if (o.seed == 42 && !o.toy) {
      for (((g, w), e) <- got.zip(seed42).zipWithIndex)
        ctx.check(g == w, s"epoch $e counters $g, expected $w for seed 42")
    }
    val snap = store.latest().get
    val sched = store.readTable(spark, snap, "scheduled").cache()
    // per (epoch, host): rows, and rows whose path a robots rule disallows
    val path = regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)?$", 1)
    val byHost = sched.join(robots.select("host", "disallow"), Seq("host"), "left")
      .groupBy("epoch", "host")
      .agg(count(lit(1)).as("n"), sum(when(coalesce(exists(col("disallow"),
        p => path.startsWith(p)), lit(false)), 1L).otherwise(0L)).as("blocked"))
      .groupBy("epoch").agg(sum("n"), max("n"), sum("blocked"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for (r <- rs) {
      val (_, n, maxPerHost, blocked) = byHost.getOrElse(r.epoch, (r.epoch, 0L, 0L, 0L))
      ctx.check(n == r.scheduled, s"epoch ${r.epoch}: store holds $n scheduled rows, counter says ${r.scheduled}")
      ctx.check(maxPerHost <= budget, s"epoch ${r.epoch}: $maxPerHost urls scheduled for one host, budget $budget")
      ctx.check(blocked == 0, s"epoch ${r.epoch}: $blocked robots-disallowed urls were scheduled")
    }
    val distinct = sched.select("url").distinct().count()
    ctx.check(distinct == rs.map(_.scheduled).sum,
      s"${rs.map(_.scheduled).sum - distinct} urls scheduled in more than one epoch")
    sched.unpersist()
  }

  def run(): Unit = {
    val robots = SyntheticCorpus.robots(spark, o.seed, nHosts).toDF().cache()
    robots.count()
    var pages: DataFrame = null
    for (_ <- 1 to 3) {
      if (pages != null) pages.unpersist(true)
      val (p, s) = ctx.timed(prepare(o.seed, nPages, nHosts))
      pages = p
      ctx.setupRuns += s
    }
    // warm-up: the same epoch plans on a small corpus, so JIT and codegen
    // are settled before the measured crawl
    val (_, warmS) = ctx.timed {
      val (wn, wh) = (4000L, 60)
      val wp = prepare(o.seed + 1, wn, wh)
      val wr = SyntheticCorpus.robots(spark, o.seed + 1, wh).toDF()
      crawl(freshStore(), wp, wr, o.seed + 1, wn, wh, 200, 1)
      wp.unpersist(true)
    }
    ctx.reportSetup(warmS)

    if (!o.trace) {
      val t0 = System.nanoTime()
      val epochs = scala.collection.mutable.ArrayBuffer.empty[(CrawlJob.EpochResult, Double)]
      do {
        ctx.sampleHeap()
        val store = freshStore()
        val rs = crawl(store, pages, robots, o.seed, nPages, nHosts, nSeeds, Layers.Epochs)
        ctx.sampleHeap()
        gates(store, robots, rs.map(_._1))
        epochs ++= rs
      } while ((System.nanoTime() - t0) / 1e9 < o.seconds)
      ctx.reportCommon(epochs.map(_._1.fetched).sum / epochs.map(_._2).sum, epochs.map(_._2).toSeq)
    } else traced(pages, robots)
  }

  /** Traced run: the tracing overhead from two-epoch crawls (a discarded
    * warm one, then untraced, traced, untraced; no replays), then a whole
    * crawl through the tracing store with a frontier replay on each
    * snapshot before its epoch, then the graft.core replays. */
  private def traced(pages: DataFrame, robots: DataFrame): Unit = {
    val v = new Layers.Values
    def shortCrawl(traced: Boolean): Double = {
      val raw = freshStore()
      def run(store: FrontierStore) =
        crawl(store, pages, robots, o.seed, nPages, nHosts, nSeeds, 2, label = "overhead")
      val (_, s) = ctx.timed {
        if (traced) ctx.traced(ctx.span("overhead.crawl")(run(new TracingStore(raw, ctx.tracer, ctx.sc))))
        else run(raw)
      }
      s
    }
    shortCrawl(traced = false) // the JIT is still settling on the first one
    val before = shortCrawl(traced = false)
    val tracedS = shortCrawl(traced = true)
    val after = shortCrawl(traced = false)
    val plainS = (before + after) / 2
    System.err.println(f"[perfbench] overhead crawls: untraced $before%.2f s, " +
      f"traced $tracedS%.2f s, untraced $after%.2f s")
    v("trace.overhead_s") = tracedS - plainS
    v("trace.overhead_share") = (tracedS - plainS) / plainS

    val raw = freshStore()
    val store = new TracingStore(raw, ctx.tracer, ctx.sc)
    val replays = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long, Long)]
    val rs = ctx.traced(ctx.span("workload.crawl_epochs") {
      crawl(store, pages, robots, o.seed, nPages, nHosts, nSeeds, Layers.Epochs,
        e => replays += ctx.span(s"replay.frontier.e$e")(frontierReplay(raw, e)))
    })
    gates(raw, robots, rs.map(_._1))

    val l = ctx.listener
    val spans = ctx.tracer.spans
    val epochSpans = spans.filter(_.name.startsWith("epoch.e"))
    for (s <- epochSpans) {
      val e = s.name.stripPrefix("epoch.e").toInt
      val st = l.group(s"epoch.e$e")
      val sec = s.durNs / 1e9
      val busy = st.intervalsNs.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      v(s"jobs.e$e.epoch_s") = sec
      v(s"jobs.e$e.driver_only_s") = sec - Intervals.unionLength(busy.filter(x => x._2 > x._1)) / 1e9
      v(s"jobs.e$e.spark_jobs") = st.jobs
      v(s"jobs.e$e.stages") = st.stages
      v(s"jobs.e$e.core_busy_share") = st.runMs / 1e3 / (sec * o.cores)
    }
    val epochIds = epochSpans.map(_.id).toSet
    val storeSpans = spans.filter(s => epochIds(s.parent) && s.name.startsWith("store."))
    val nE = epochSpans.size.toDouble
    def perEpoch(sel: Span => Boolean) = storeSpans.filter(sel).map(_.durNs).sum / 1e9 / nE
    for (t <- Layers.StoreTables) v(s"store.write_s.$t") = perEpoch(_.name == s"store.write.$t")
    v("store.commit_s") = perEpoch(_.name == "store.commit")
    v("store.expire_s") = perEpoch(_.name == "store.expire")
    v("store.read_s") = perEpoch(s => s.name.startsWith("store.read.") || s.name == "store.latest")
    v("store.write_tail_s") = epochSpans.map { ep =>
      val ws = storeSpans.filter(s => s.parent == ep.id && s.name.startsWith("store.write."))
      val ex = ws.filter(_.name == "store.write.extracted").map(_.endNs)
      val rest = ws.filterNot(_.name == "store.write.extracted").map(_.endNs)
      if (ex.isEmpty || rest.isEmpty) 0.0 else (rest.max - ex.max) / 1e9
    }.sum / nE
    v("store.bytes_per_url") = dirBytes(java.nio.file.Paths.get(raw.rootDir)).toDouble /
      rs.map(_._1.fetched).sum

    val sf = l.stats(_.startsWith("frontier.seen_filter"))
    val dq = l.stats(_.startsWith("frontier.dequeue"))
    v("frontier.seen_filter_s") = replays.map(_._1).sum
    v("frontier.dequeue_s") = replays.map(_._2).sum
    v("frontier.unseen_ratio") = replays.map(_._3).sum.toDouble / math.max(1L, replays.map(_._4).sum)
    v("frontier.seen_filter_shuffle_mb") = sf.shuffleMb
    v("frontier.dequeue_shuffle_mb") = dq.shuffleMb
    v("frontier.dequeue_task_skew") = dq.heaviestStageSkew

    CoreReplay.sql(ctx, v, l.stats(_.startsWith("epoch.e")), epochSpans.map(_.durNs / 1e9))
    CoreReplay.run(ctx, v)
    v.report(ctx.rep, Seq("pipeline."))
  }

  /** SeenSet.dedupAndFilterNew and Scheduler.dequeueRanked on the latest
    * snapshot, each into the noop sink, shaped as BenchExtra's crawlplans
    * builds them. Returns (seen filter s, dequeue s, unseen, candidates). */
  private def frontierReplay(store: FrontierStore, e: Int): (Double, Double, Long, Long) = {
    val snap = store.latest().get
    val frontier = store.readTable(spark, snap, "frontier").as[Candidate]
    val seen = store.readTable(spark, snap, "seen")
    val blooms = store.readTable(spark, snap, "blooms").as[SeenSet.BucketBloom]
    val retries = snap.counters.get("frontierRetried").forall(_ > 0L)
    val (kept, _, seenCache) = SeenSet.dedupAndFilterNew(spark, frontier, seen, blooms, cfg.seen, retries)
    val obs = Observation(s"replay-unseen-$e")
    val keptP = kept.toDF().observe(obs, count(lit(1)).as("n")).persist(StorageLevel.MEMORY_AND_DISK)
    val (_, sfS) = ctx.group(s"frontier.seen_filter.e$e") {
      ctx.timed(keptP.write.format("noop").mode("overwrite").save())
    }
    val unseen = obs.get("n").asInstanceOf[Long]
    val budgeted = keptP
      .select(struct(col("url"), col("host"), col("priority"), col("discoveredEpoch"),
        col("retries")).as("_1"), lit(budget).as("_2"))
      .as[(Candidate, Int)]
    val (_, dqS) = ctx.group(s"frontier.dequeue.e$e") {
      ctx.timed(Scheduler.dequeueRanked(spark, budgeted, cfg.sched).toDF()
        .write.format("noop").mode("overwrite").save())
    }
    keptP.unpersist(true)
    seenCache.unpersist(true)
    (sfS, dqS, unseen, snap.counters.getOrElse("frontierSize", 0L))
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      var total = 0L
      s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    } finally s.close()
  }
}
