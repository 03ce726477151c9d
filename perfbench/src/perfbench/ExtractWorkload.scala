package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.core.{Rewriter, WebArchiveOps}

/** extract_archives: the 400 KB, 26-resource Wikipedia archive extracted
  * over and over through the extract_html expression over local[cores],
  * in queries of 32 x cores copies (one op = one query; op_s_p50 is its
  * latency, throughput_per_s its pages per second). Every output is
  * compared with the golden to_html. The archive also runs once on one
  * thread through WebArchiveOps.parse + Rewriter.toHtml, with the other
  * golden archives that have a to_html golden, as parity inputs in an order
  * drawn from the seed. No shuffle, frontier or store is involved.
  *
  * Single-thread page time is not an end-to-end metric: on a shared host
  * one core's speed switches between two levels (about 4.7 and 7.0 ms a
  * page) in phases lasting seconds, so its median jumps from run to run.
  * A query spans every core and averages them. The traced run still
  * reports one-thread page time per core sub-layer (core.*_ms). */
final class ExtractWorkload(ctx: Ctx) {
  import ctx.spark.implicits._
  private val o = ctx.o
  private val golden: Path = o.root.resolve("src/test/resources/golden")
  private val batch = if (o.toy) 8 * o.cores else 32 * o.cores
  private val url = "https://en.wikipedia.org/wiki/Main_Page"

  private final case class Inputs(wiki: Array[Byte], wikiGolden: String,
                                  parity: Seq[(String, Array[Byte], String)])

  private def load(): Inputs = {
    val wiki = Files.readAllBytes(golden.resolve("archives/wikipedia.webarchive"))
    val wikiGolden = new String(Files.readAllBytes(golden.resolve("tohtml/wikipedia.html")), UTF_8)
    // nonhtml_main has no to_html golden (the reference cannot produce one)
    val names = Files.list(golden.resolve("archives")).toArray.map(_.asInstanceOf[Path])
      .map(_.getFileName.toString.stripSuffix(".webarchive"))
      .filter(n => n != "wikipedia" && Files.exists(golden.resolve(s"tohtml/$n.html"))).sorted
    val rnd = new scala.util.Random(o.seed)
    val parity = rnd.shuffle(names.toSeq).map { n =>
      (n, Files.readAllBytes(golden.resolve(s"archives/$n.webarchive")),
        new String(Files.readAllBytes(golden.resolve(s"tohtml/$n.html")), UTF_8))
    }
    Inputs(wiki, wikiGolden, parity)
  }

  private def xxhash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** extract_html over `n` copies of the archive on local[cores]; returns
    * the number of rows whose output differs from the golden. */
  private def parallel(in: Inputs, n: Int, goldenHash: Long, goldenLen: Int): Long = {
    val (u, body) = (url, in.wiki)
    val r = ctx.spark.range(0, n.toLong, 1, o.cores).map(_ => (u, body)).toDF("url", "body")
      .select(graft.sql.GraftFunctions.extract_html(col("body"), col("url")).as("h"))
      .agg(count(lit(1)), sum(when(xxhash64(col("h")) === goldenHash &&
        octet_length(col("h")) === goldenLen, 0L).otherwise(1L)))
      .collect()(0)
    (n - r.getLong(0)) + r.getLong(1)
  }

  /** Seconds of each extract_html query, run until `seconds` pass (or
    * exactly `queries` of them). */
  private def measure(in: Inputs, seconds: Double, queries: Int): Seq[Double] = {
    val gh = xxhash(in.wikiGolden)
    val gl = in.wikiGolden.getBytes(UTF_8).length
    val batchSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def more =
      if (queries > 0) batchSec.size < queries
      else batchSec.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) {
      val (bad, s) = ctx.span("extract.parallel_batch") {
        ctx.group("extract.parallel")(ctx.timed(parallel(in, batch, gh, gl)))
      }
      batchSec += s
      ctx.tally(batch, bad, "parallel wikipedia extraction differs from golden")
    }
    batchSec.toSeq
  }

  /** One-thread WebArchiveOps.parse + Rewriter.toHtml of every archive that
    * has a to_html golden, Wikipedia's included. */
  private def parity(in: Inputs): Unit =
    for ((n, bytes, want) <- ("wikipedia", in.wiki, in.wikiGolden) +: in.parity) {
      val got = scala.util.Try(Rewriter.toHtml(WebArchiveOps.parse(bytes))).getOrElse(null)
      ctx.check(got == want, s"to_html of golden archive $n differs from its golden")
    }

  def run(): Unit = {
    for (_ <- 1 to 3) ctx.setupRuns += ctx.timed(load())._2
    val in = load()
    require(Stats.sha256(in.wikiGolden.getBytes(UTF_8)).startsWith("a0d43942") &&
      in.wikiGolden.getBytes(UTF_8).length == 500247, "wikipedia golden is not the expected file")
    // parity first: its charsets, frames and XHTML take code paths the
    // Wikipedia page does not, and the JIT recompiles after them
    parity(in)
    // warm-up: parallel throughput keeps climbing for the first ~1,000
    // pages of a fresh JVM (JIT), so the warm-up runs twelve measured
    // queries (same plan and literals, so the generated code is reused)
    val (_, warmS) = ctx.timed(measure(in, 0, 12))
    ctx.reportSetup(warmS)

    if (!o.trace) {
      ctx.sampleHeap()
      val qs = measure(in, o.seconds, 0)
      ctx.sampleHeap()
      ctx.reportCommon(batch / Stats.median(qs), qs)
    } else traced(in)
  }

  /** Traced run: untraced and traced queries in pairs, alternating which
    * goes first (overhead), then the graft.core replays. */
  private def traced(in: Inputs): Unit = {
    val v = new Layers.Values
    def plainQuery = measure(in, 0, 1).head
    def tracedQuery = ctx.traced(ctx.span("workload.extract_archives")(measure(in, 0, 1).head))
    val pairs = (0 until (if (o.toy) 2 else 16)).map { i =>
      if (i % 2 == 0) { val p = plainQuery; (p, tracedQuery) }
      else { val t = tracedQuery; (plainQuery, t) }
    }
    val (plainWall, tracedWall) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    v("trace.overhead_s") = tracedWall - plainWall
    v("trace.overhead_share") = (tracedWall - plainWall) / plainWall

    CoreReplay.sql(ctx, v, ctx.listener.group("extract.parallel"), pairs.map(_._2))
    CoreReplay.run(ctx, v)
    v.report(ctx.rep, Seq("jobs.", "store.", "frontier.", "pipeline."))
  }
}
