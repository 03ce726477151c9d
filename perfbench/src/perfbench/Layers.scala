package perfbench

/** Every per-layer metric of the traced run, with its unit. A traced run
  * prints all of them. Each workload names the layers it does not enter;
  * their metrics read 0 (no time spent there, nothing counted), and every
  * other metric must have been measured. BENCHMARK.json lists the same names. */
object Layers {
  val Epochs = 5
  val DedupOps = Seq("minhash", "simhash", "embedding_warm", "embedding_hot")
  val StoreTables = Seq("extracted", "frontier", "scheduled", "lineage", "seen", "blooms")

  val all: Seq[(String, String)] =
    Seq("core.plist_parse_ms" -> "ms", "core.to_html_ms" -> "ms",
      "core.charset_decode_ms" -> "ms", "core.extract_all_ms" -> "ms",
      "core.tokenize_ms" -> "ms", "core.crawl_page_extract_us" -> "us",
      "core.canonicalize_us" -> "us",
      "sql.task_s" -> "s", "sql.core_busy_share" -> "ratio", "sql.gc_share" -> "ratio") ++
    (0 until Epochs).flatMap { e =>
      Seq(s"jobs.e$e.epoch_s" -> "s", s"jobs.e$e.driver_only_s" -> "s",
        s"jobs.e$e.spark_jobs" -> "count", s"jobs.e$e.stages" -> "count",
        s"jobs.e$e.core_busy_share" -> "ratio")
    } ++
    StoreTables.map(t => s"store.write_s.$t" -> "s") ++
    Seq("store.write_tail_s" -> "s", "store.commit_s" -> "s", "store.expire_s" -> "s",
      "store.read_s" -> "s", "store.bytes_per_url" -> "B/url",
      "frontier.seen_filter_s" -> "s", "frontier.seen_filter_shuffle_mb" -> "MB",
      "frontier.unseen_ratio" -> "ratio", "frontier.dequeue_s" -> "s",
      "frontier.dequeue_shuffle_mb" -> "MB", "frontier.dequeue_task_skew" -> "ratio") ++
    DedupOps.flatMap { op =>
      Seq(s"pipeline.$op.wall_s" -> "s", s"pipeline.$op.spark_jobs" -> "count",
        s"pipeline.$op.shuffle_mb" -> "MB", s"pipeline.$op.spill_mb" -> "MB",
        s"pipeline.$op.task_skew" -> "ratio", s"pipeline.$op.pairs" -> "count",
        s"pipeline.$op.orphaned_caches" -> "count")
    } ++
    Seq("pipeline.minhash.candidate_pairs" -> "count",
      "pipeline.minhash.verified_ratio" -> "ratio",
      "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio")

  val unit: Map[String, String] = all.toMap

  /** Collects per-layer values. */
  final class Values {
    private val vs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def update(name: String, v: Double): Unit = {
      require(unit.contains(name), s"not a per-layer metric: $name")
      vs(name) = v
    }
    /** Report every metric. Those under the `notEntered` prefixes (layers
      * the workload never calls) read 0; any other missing one is an error. */
    def report(rep: Report, notEntered: Seq[String]): Unit =
      for ((n, u) <- all) {
        val skipped = notEntered.exists(n.startsWith)
        require(skipped != vs.contains(n),
          if (skipped) s"$n is measured but its layer is declared not entered"
          else s"per-layer metric $n was not measured")
        rep.metric(n, vs.getOrElse(n, 0.0), u)
      }
  }

  /** Median milliseconds of one call of `f`, over `n` calls. */
  def perCallMs(n: Int)(f: => Unit): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
}
