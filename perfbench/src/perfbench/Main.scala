package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs one workload and prints one JSON result line.
  *
  *   --workload extract_archives|crawl_epochs|dedup_near  --seed N
  *   --seconds S  --trace 0|1  --size bench|toy  --cores C
  *   --root <repo root>  --work <work dir>  --spans <span dump dir>
  *
  * With --trace 0 the result carries the end-to-end metrics, measured with
  * no listener, no store wrapper and no replays. With --trace 1 it carries
  * the per-layer metrics from a separate traced pass, plus the tracing
  * overhead (traced minus untraced time of the same operations).
  * See perfbench/README.md for what each metric means on each workload.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: String, cores: Int, root: Path, work: Path, spans: Path) {
    require(size == "bench" || size == "toy", s"unknown size $size")
    def toy: Boolean = size == "toy"
    /** The value for this run's input size. */
    def sized[A](bench: A, toy: A): A = if (this.toy) toy else bench
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("size", "bench"), need("cores").toInt,
      Paths.get(need("root")), Paths.get(need("work")), Paths.get(need("spans")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val rep = new Report
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.GraftFunctions.register(spark)
    val ctx = new Ctx(spark, o, rep, (System.nanoTime() - t0) / 1e9)
    try {
      o.workload match {
        case "extract_archives" => new ExtractWorkload(ctx).run()
        case "crawl_epochs"     => new CrawlWorkload(ctx).run()
        case "dedup_near"       => new DedupWorkload(ctx).run()
        case w                  => sys.error(s"unknown workload $w")
      }
      ctx.finish()
    } finally spark.stop()
    println(rep.json)
  }
}

/** Shared state of one run: session, options, result, and (traced run
  * only) the tracer and task-metrics listener. */
final class Ctx(val spark: SparkSession, val o: Main.Opts, val rep: Report,
                val sessionStartS: Double) {
  val sc = spark.sparkContext
  private var maxHeapMb = 0.0
  val setupRuns = mutable.ArrayBuffer.empty[Double]

  // tracing is on only inside `traced`: the listener is on the bus only
  // then, so untraced passes run without it
  private var active = false
  lazy val tracer: Tracer = new Tracer(sc)
  val listener = new TaskMetricsListener

  /** Run `f` as a traced pass: spans, job groups and task metrics are
    * recorded. The listener is attached for the pass and removed after it,
    * once the bus has delivered the pass's events. */
  def traced[A](f: => A): A = {
    require(o.trace, "traced pass in an untraced run")
    require(!active, "nested traced pass")
    sc.addSparkListener(listener)
    active = true
    try f
    finally {
      active = false
      drainListener()
      sc.removeSparkListener(listener)
    }
  }

  def span[A](name: String)(f: => A): A = if (active) tracer.span(name)(f) else f

  /** Tag the Spark jobs `f` launches with a listener group. */
  def group[A](g: String)(f: => A): A = if (active) Tracer.group(sc, g)(f) else f

  private def drainListener(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(sc)

  /** Live heap after a full collection; the run keeps the maximum. */
  def sampleHeap(): Unit = {
    // the second collection frees what the context cleaner released after
    // the first (shuffle and broadcast state of finished queries)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    maxHeapMb = math.max(maxHeapMb, used / 1048576.0)
  }

  /** Set-up metric: session start plus the median of the repeated input
    * preparations plus the one-time warm-up. */
  def reportSetup(warmupS: Double): Unit = {
    System.err.println(f"[perfbench] setup: session $sessionStartS%.2f s, inputs " +
      setupRuns.map(s => f"$s%.2f").mkString("/") + f" s, warm-up $warmupS%.2f s")
    if (!o.trace) rep.metric("setup_s", sessionStartS + Stats.median(setupRuns.toSeq) + warmupS, "s")
  }

  def reportCommon(throughput: Double, opSeconds: Seq[Double]): Unit = {
    if (opSeconds.size <= 16)
      System.err.println("[perfbench] op seconds: " + opSeconds.map(s => f"$s%.3f").mkString(" "))
    else {
      val s = opSeconds.sorted
      System.err.println(s"[perfbench] op seconds over ${s.size} ops, p10/p25/p50/p75/p90: " +
        Seq(0.1, 0.25, 0.5, 0.75, 0.9).map(q => f"${s((q * (s.size - 1)).toInt)}%.5f").mkString(" "))
    }
    rep.metric("throughput_per_s", throughput, "1/s")
    rep.metric("op_s_p50", Stats.median(opSeconds), "s")
    rep.metric("live_heap_mb", maxHeapMb, "MB")
  }

  /** Write the span dump; print the spans with the most self time. */
  def finish(): Unit = if (o.trace) {
    val all = tracer.spans ++ listener.jobSpans(tracer)
    val runId = s"${o.workload}-seed${o.seed}"
    Files.createDirectories(o.spans)
    Tracer.dump(o.spans.resolve(s"$runId.jsonl"), runId, all)
    val self = Tracer.selfTimes(all)
    val byName = all.groupBy(s => s.name.replaceAll("\\[.*\\]", "[]").replaceAll("\\.e\\d+$", ".e*"))
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }.toSeq.sortBy(-_._2)
    System.err.println(s"[perfbench] ${all.size} spans -> ${o.spans.resolve(s"$runId.jsonl")}")
    byName.take(15).foreach { case (n, s) => System.err.println(f"[perfbench]   self $s%8.3f s  $n") }
  }

  /** Time `f`; returns (result, seconds). */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Count `n` attempted operations of which `bad` failed a check. */
  def tally(n: Long, bad: Long, what: => String): Unit = {
    rep.attempted += n
    if (bad > 0) {
      rep.failed += bad
      System.err.println(s"[perfbench] FAILED ($bad of $n): $what")
    }
  }

  def check(ok: Boolean, what: => String): Unit = tally(1, if (ok) 0 else 1, what)
}

final class Report {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s"${Json.str(k)}:{\"value\":$v,\"unit\":${Json.str(u)}}"
    }.mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":${math.max(1L, attempted)},""" +
    s""""failed":$failed,"metrics":{$ms}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}
