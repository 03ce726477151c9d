package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{FrontierStore, Snapshot}

/** One timed interval: `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. The current span travels in
  * an inheritable thread-local and in a Spark local property, so threads a
  * call starts (runEpoch's write pool inherits both at creation) attach their
  * spans and Spark jobs to the caller's span. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[A](name: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current.get
    val prop = sc.getLocalProperty(Tracer.SpanKey)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanKey, prop)
      add(Span(id, parent, name, t0, t1))
    }
  }

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Vector[Span] = synchronized { buf.toVector }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val GroupKey = "perfbench.group"

  /** Run `f` with every Spark job it (or a thread it starts) launches
    * tagged with `group`, the key the listener aggregates by. */
  def group[A](sc: SparkContext, group: String)(f: => A): A = {
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, group)
    try f finally sc.setLocalProperty(GroupKey, prev)
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - Intervals.unionLength(ivs))
    }.toMap
  }

  /** Write every span with its self time, one JSON object a line. */
  def dump(path: java.nio.file.Path, runId: String, spans: Seq[Span]): Unit = {
    val self = selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
      s""""self_ms":${self(s.id) / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Intervals {
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- ivs.sortBy(_._1)) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Task metrics of a set of Spark jobs, as the listener aggregated them. */
final case class JobStats(jobs: Int, stages: Int, tasks: Int, runMs: Long, gcMs: Long,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, heaviestStageSkew: Double,
                          intervalsNs: Seq[(Long, Long)]) {
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
}

/** Aggregates executor run time, GC, shuffle read/write, spill and task
  * times per job, keyed by the job's perfbench.group and perfbench.span
  * local properties. Launches no Spark jobs. */
final class TaskMetricsListener extends SparkListener {
  private final class StageAgg {
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    var gcMs, shRead, shWrite, spill = 0L
  }
  private final case class JobRec(id: Int, group: String, span: Long, startMs: Long,
                                  stageIds: Seq[Int], var endMs: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  // event times are wall-clock ms; spans are nanoTime
  private val wallMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNs(ms: Long): Long = nano0 + (ms - wallMs0) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty(Tracer.GroupKey))).getOrElse("")
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, group, span, e.time, e.stageIds, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.taskRunMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Stats over every job whose group satisfies `sel`. */
  def stats(sel: String => Boolean): JobStats = synchronized {
    val js = jobs.values.filter(j => sel(j.group)).toVector
    val jobIds = js.map(_.id).toSet
    val ss = stages.collect { case (sid, a) if stageJob.get(sid).exists(jobIds) => a }.toVector
    val heaviest = ss.filter(_.taskRunMs.nonEmpty).sortBy(-_.taskRunMs.sum).headOption
    val skew = heaviest.map { a =>
      val sorted = a.taskRunMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2)).toDouble
    }.getOrElse(0.0)
    JobStats(js.size, ss.size, ss.map(_.taskRunMs.size).sum,
      ss.map(_.taskRunMs.sum).sum, ss.map(_.gcMs).sum,
      ss.map(_.shRead).sum, ss.map(_.shWrite).sum, ss.map(_.spill).sum, skew,
      js.map(j => (toNs(j.startMs), toNs(j.endMs))))
  }

  def group(g: String): JobStats = stats(_ == g)

  /** Every job of a traced pass as a span under the span that launched it. */
  def jobSpans(tr: Tracer): Seq[Span] = synchronized {
    jobs.values.toVector.filter(_.group.nonEmpty).map(j =>
      Span(tr.newId(), j.span, s"spark.job[${j.group}]", toNs(j.startMs), toNs(j.endMs)))
  }
}

/** Delegating store for the traced crawl: times each store call as a span
  * (`store.<op>[.<table>]`) and tags the Spark jobs it launches with it. */
final class TracingStore(inner: FrontierStore, tr: Tracer, sc: SparkContext)
    extends FrontierStore {

  private def op[A](name: String)(f: => A): A = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try tr.span(name)(f) finally sc.setJobDescription(prev)
  }

  override def writeTable(name: String, epoch: Long, df: DataFrame,
                          partitionBy: Seq[String]): String =
    op(s"store.write.$name")(inner.writeTable(name, epoch, df, partitionBy))

  override def commit(epoch: Long, tables: Map[String, String],
                      counters: Map[String, Long]): Unit =
    op("store.commit")(inner.commit(epoch, tables, counters))

  override def latest(): Option[Snapshot] = op("store.latest")(inner.latest())

  override def readTable(spark: SparkSession, snap: Snapshot, name: String): DataFrame =
    op(s"store.read.$name")(inner.readTable(spark, snap, name))

  override def expire(retain: Int): (Int, Int) = op("store.expire")(inner.expire(retain))
}
