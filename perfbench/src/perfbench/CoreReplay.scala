package perfbench

import java.nio.file.Files

import graft.core.{HtmlTok, PyUrl, Rewriter, WebArchiveOps}
import graft.data.SyntheticCorpus
import graft.model.{WArchive, WResource}
import graft.sql.ExtractionOps

/** One-thread replays of graft.core, run in every traced run so that each
  * workload reports the core layer measured in its own JVM: the sub-layers
  * of the golden Wikipedia archive, and ExtractionOps.archiveOf +
  * Rewriter.extractAll + PyUrl.canonicalize on crawl-corpus pages. */
object CoreReplay {

  def run(ctx: Ctx, v: Layers.Values): Unit = ctx.traced(ctx.span("replay.core") {
    val o = ctx.o
    val wiki = Files.readAllBytes(o.root.resolve("src/test/resources/golden/archives/wikipedia.webarchive"))
    val n = if (o.toy) 5 else 60
    val archive = WebArchiveOps.parse(wiki)
    def resources(a: WArchive): Seq[WResource] =
      (a.main +: a.subresources) ++ a.subframes.flatMap(resources)
    // every resource Rewriter can decode as text (images and fonts cannot)
    val texts = resources(archive).filter(r => scala.util.Try(Rewriter.resourceText(r)).isSuccess)
    val mainText = Rewriter.resourceText(archive.main)
    val noop = new HtmlTok.Handler {
      def starttag(tag: String, attrs: List[(String, String)]): Unit = ()
      def startendtag(tag: String, attrs: List[(String, String)]): Unit = ()
      def endtag(tag: String): Unit = ()
      def data(d: String): Unit = ()
      def entityref(name: String): Unit = ()
      def charref(name: String): Unit = ()
      def comment(d: String): Unit = ()
      def decl(d: String): Unit = ()
    }
    v("core.plist_parse_ms") = Layers.perCallMs(n)(WebArchiveOps.parse(wiki))
    v("core.to_html_ms") = Layers.perCallMs(n)(Rewriter.toHtml(archive))
    v("core.charset_decode_ms") = Layers.perCallMs(n)(texts.foreach(r => Rewriter.resourceText(r)))
    v("core.extract_all_ms") = Layers.perCallMs(n)(Rewriter.extractAll(archive))
    v("core.tokenize_ms") = Layers.perCallMs(n)(HtmlTok.tokenize(mainText, noop))

    // pages shaped like crawl_epochs' bench-size corpus
    val (pages, hosts) = (100000L, 1200)
    val links = scala.collection.mutable.ArrayBuffer.empty[String]
    val us = (0 until (if (o.toy) 50 else 3000)).map { i =>
      val u = SyntheticCorpus.urlOf(o.seed, i, hosts)
      val b = SyntheticCorpus.htmlOf(o.seed, i, pages, hosts).getBytes("UTF-8")
      val t0 = System.nanoTime()
      val (_, _, out) = Rewriter.extractAll(ExtractionOps.archiveOf(b, u))
      val d = (System.nanoTime() - t0) / 1e3
      links ++= out
      d
    }
    v("core.crawl_page_extract_us") = Stats.median(us)
    v("core.canonicalize_us") = Stats.median(links.grouped(64).map { g =>
      val t0 = System.nanoTime()
      g.foreach(PyUrl.canonicalize)
      (System.nanoTime() - t0) / 1e3 / g.size
    }.toSeq)
  })

  /** The sql layer over a workload's traced ops: executor run time per op,
    * its share of the cores over the ops' wall time, and GC's share of it. */
  def sql(ctx: Ctx, v: Layers.Values, st: JobStats, opSeconds: Seq[Double]): Unit = {
    v("sql.task_s") = st.runMs / 1e3 / opSeconds.size
    v("sql.core_busy_share") = st.runMs / 1e3 / (opSeconds.sum * ctx.o.cores)
    v("sql.gc_share") = st.gcMs.toDouble / math.max(1L, st.runMs)
  }
}
