package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.data.SyntheticCorpus
import graft.pipeline.Dedup

/** dedup_near: Dedup.minhashNearDups and Dedup.simhashNearDups over a 30k
  * document corpus with a 5k near-boilerplate cluster (hotDocs; the cluster
  * fills one simhash band bucket past the 4096-row hot threshold) plus 50
  * exact copies of documents outside the cluster, and
  * Dedup.embeddingNearDups(threshold 0.99) over 64-d embeddings at 15k rows
  * (warm tier) and 80k rows (hot tier: 16 buckets a band put ~5k rows in
  * each). One op = one dedup call,
  * collected. Inputs are parquet tables written at set-up, so the cache
  * clean-up between calls never touches them. graft.pipeline's banded LSH
  * does all the work; core, frontier and store do none. Every emitted pair
  * is re-verified by this file's own simhash, Jaccard and cosine code, and
  * every planted pair (document copies, hotEmbeddings' near-identical
  * vectors) must be among them. */
final class DedupWorkload(ctx: Ctx) {
  private val o = ctx.o
  private val spark = ctx.spark
  private val (nDocs, nCluster, nWarm, nHot) = o.sized(
    (30000L, 5000L, 15000L, 80000L), (3000L, 600L, 2000L, 5000L))
  private val dim = 64
  private val planted = 50
  private val shingleK = 5

  /** Pair counts and minhash LSH candidates for seed 42, recorded on the
    * commit that introduced this benchmark (toy size has none). hotDocs
    * alone gives 0 minhash pairs, 14,508 simhash pairs and 953,219
    * candidates; each document copy adds exactly its own pair to all three. */
  private val seed42 =
    Map("minhash" -> 50L, "simhash" -> 14558L, "embedding_warm" -> 50L, "embedding_hot" -> 50L)
  private val seed42MinhashCandidates = 953269L

  private def write(df: DataFrame, name: String): String = {
    val p = o.work.resolve(s"input/$name").toString
    df.write.mode("overwrite").parquet(p)
    p
  }

  /** Parquet paths of the inputs, and the pairs each op must find. */
  private final case class Inputs(docs: String, warm: String, hot: String,
                                  docCopies: Seq[(Long, Long)]) {
    def planted(op: String): Seq[(Long, Long)] = op match {
      case "minhash" | "simhash" => docCopies
      case "embedding_warm" => embeddingPairs(nWarm)
      case "embedding_hot" => embeddingPairs(nHot)
    }
  }

  // hotEmbeddings makes row n + j a near-identical copy of row j, j < planted
  private def embeddingPairs(n: Long): Seq[(Long, Long)] =
    (0 until planted).map(j => (j.toLong, n + j))

  /** Planted pairs an op may miss. Only the hot embedding tier is lossy by
    * design: a hot group keeps a pair only if it also agrees on the refine
    * hyperplanes, which embeddingNearDups documents as ~0.96 per pair at
    * cosine 0.99, and the refine planes are the same in every band, so a
    * pair whose buckets are hot in every band can be lost outright. Even
    * the planted pairs (cosine > 0.9999) are lost now and then (one of 50
    * at seed 308), so a tenth of them may be missing. Exact document copies
    * and the warm tier lose none. */
  private def allowedMisses(op: String): Int = if (op == "embedding_hot") planted / 10 else 0

  /** hotDocs plus an exact copy (id + docs) of `planted` documents drawn
    * from outside the cluster. */
  private def prepare(seed: Long, docs: Long, cluster: Long, warm: Long, hot: Long): Inputs = {
    val originals = new scala.util.Random(seed).shuffle((cluster until docs).toVector).take(planted)
    val base = SyntheticCorpus.hotDocs(spark, seed, docs, cluster, o.cores)
    val copies = base.filter(col("doc_id").isin(originals: _*))
      .select((col("doc_id") + docs).as("doc_id"), col("text"))
    Inputs(write(base.union(copies), "docs"),
      write(SyntheticCorpus.hotEmbeddings(spark, seed, warm, dim, planted, o.cores), "warm"),
      write(SyntheticCorpus.hotEmbeddings(spark, seed, hot, dim, planted, o.cores), "hot"),
      originals.sorted.map(i => (i, i + docs)))
  }

  private def call(in: Inputs, op: String): DataFrame = op match {
    case "minhash" => Dedup.minhashNearDups(spark.read.parquet(in.docs), "doc_id", "text")
    case "simhash" => Dedup.simhashNearDups(spark.read.parquet(in.docs), "doc_id", "text")
    case "embedding_warm" =>
      Dedup.embeddingNearDups(spark.read.parquet(in.warm), "vec_id", "embedding", threshold = 0.99)
    case "embedding_hot" =>
      Dedup.embeddingNearDups(spark.read.parquet(in.hot), "vec_id", "embedding", threshold = 0.99)
  }

  private final case class OpRun(op: String, seconds: Double, pairs: Array[(Long, Long)], orphaned: Int)

  /** One dedup call: timed collect of its pairs, then the persisted RDDs
    * it left behind are counted and dropped. */
  private def runOp(in: Inputs, op: String): OpRun = {
    val before = ctx.sc.getPersistentRDDs.keySet
    val (pairs, s) = ctx.span(s"dedup.$op") {
      ctx.group(s"pipeline.$op") {
        ctx.timed(call(in, op).select(col("id_a").cast("long"), col("id_b").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      }
    }
    val left = ctx.sc.getPersistentRDDs.keySet.count(id => !before(id))
    ctx.sampleHeap() // before the clean-up: what the call left cached counts
    spark.catalog.clearCache()
    // RDDs persisted outside the cache manager; re-read so that none is
    // unpersisted twice (a concurrent double removal fails in Spark)
    ctx.sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = true))
    OpRun(op, s, pairs, left)
  }

  private def round(in: Inputs): Seq[OpRun] = Layers.DedupOps.map(op => runOp(in, op))

  // ---- verification, independent of graft.pipeline ----------------------

  private def tokens(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  private def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    for (t <- tokens(text)) {
      val b = t.getBytes(UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      var i = 0
      while (i < 64) { votes(i) += (if (((h >>> i) & 1L) != 0) 1 else -1); i += 1 }
    }
    (0 until 64).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
  }

  private def shingles(text: String): Set[String] = {
    val t = tokens(text)
    if (t.length < shingleK) Set(t.mkString(" "))
    else t.sliding(shingleK).map(_.mkString(" ")).toSet
  }

  private def rowsFor(path: String, idCol: String, ids: Set[Long]): Map[Long, Row] = {
    val idsDf = spark.createDataFrame(ids.toSeq.map(Tuple1(_))).toDF(idCol)
    spark.read.parquet(path).join(broadcast(idsDf), idCol).collect()
      .map(r => r.getAs[Long](idCol) -> r).toMap
  }

  private def verify(in: Inputs, r: OpRun): Unit = {
    val pairs = r.pairs
    ctx.check(pairs.forall { case (a, b) => a < b } && pairs.distinct.length == pairs.length,
      s"${r.op}: pairs are not distinct (id_a < id_b)")
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val ok: ((Long, Long)) => Boolean = r.op match {
      case "simhash" =>
        val sig = rowsFor(in.docs, "doc_id", ids).map { case (k, row) => k -> simhash(row.getAs[String]("text")) }
        p => java.lang.Long.bitCount(sig(p._1) ^ sig(p._2)) <= 3
      case "minhash" =>
        val sh = rowsFor(in.docs, "doc_id", ids).map { case (k, row) => k -> shingles(row.getAs[String]("text")) }
        p => {
          val (x, y) = (sh(p._1), sh(p._2))
          (x & y).size.toDouble / (x | y).size >= 0.8
        }
      case _ =>
        val path = if (r.op == "embedding_warm") in.warm else in.hot
        val vec = rowsFor(path, "vec_id", ids).map { case (k, row) =>
          k -> row.getSeq[Float](row.fieldIndex("embedding")).map(_.toDouble).toArray }
        p => {
          val (x, y) = (vec(p._1), vec(p._2))
          val dot = x.indices.map(i => x(i) * y(i)).sum
          dot / math.sqrt(x.map(z => z * z).sum * y.map(z => z * z).sum) >= 0.99
        }
    }
    System.err.println(s"[perfbench] ${r.op}: ${pairs.length} pairs")
    ctx.tally(pairs.length, pairs.count(p => !ok(p)), s"${r.op}: pairs fail the re-verification")
    val found = pairs.toSet
    val want = in.planted(r.op)
    val missing = want.count(p => !found(p))
    if (missing > 0) System.err.println(s"[perfbench] ${r.op}: $missing of ${want.size} planted pairs missing")
    ctx.check(missing <= allowedMisses(r.op),
      s"${r.op}: $missing of ${want.size} planted pairs missing, ${allowedMisses(r.op)} allowed")
    if (o.seed == 42 && !o.toy)
      ctx.check(pairs.length == seed42(r.op),
        s"${r.op}: ${pairs.length} pairs, expected ${seed42(r.op)} for seed 42")
  }

  def run(): Unit = {
    val in = (1 to 3).map { _ =>
      val (i, s) = ctx.timed(prepare(o.seed, nDocs, nCluster, nWarm, nHot))
      ctx.setupRuns += s
      i
    }.last
    // warm-up: minhash, simhash and the group-local embedding tier once on
    // small inputs. Embedding inputs under the 4096-row hot threshold take
    // the pair-join plan, which is slower than the tiers at this size.
    val (_, warmS) = ctx.timed {
      val wd = write(SyntheticCorpus.hotDocs(spark, o.seed + 1, 1500L, 300L, o.cores), "wdocs")
      val we = write(SyntheticCorpus.hotEmbeddings(spark, o.seed + 1, 5000L, dim, planted, o.cores), "wemb")
      Seq("minhash", "simhash", "embedding_warm").foreach(op => runOp(Inputs(wd, we, we, Nil), op))
    }
    ctx.reportSetup(warmS)
    val rows = Map("minhash" -> (nDocs + planted), "simhash" -> (nDocs + planted),
      "embedding_warm" -> (nWarm + planted), "embedding_hot" -> (nHot + planted))

    if (!o.trace) {
      val t0 = System.nanoTime()
      val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
      do {
        val rs = round(in)
        rs.foreach(verify(in, _))
        runs ++= rs
      } while ((System.nanoTime() - t0) / 1e9 < o.seconds)
      ctx.reportCommon(runs.map(r => rows(r.op).toDouble).sum / runs.map(_.seconds).sum,
        runs.map(_.seconds).toSeq)
      if (o.seed == 42 && !o.toy) minhashCandidates(in)
    } else traced(in)
  }

  /** Dedup.minhashLshPairs' candidate count, checked for seed 42. Untimed. */
  private def minhashCandidates(in: Inputs): Long = {
    val n = ctx.span("replay.minhash_lsh") {
      ctx.group("replay.minhash_lsh") {
        Dedup.minhashLshPairs(spark.read.parquet(in.docs), "doc_id", "text").count()
      }
    }
    spark.catalog.clearCache()
    System.err.println(s"[perfbench] minhash: $n LSH candidates")
    if (o.seed == 42 && !o.toy)
      ctx.check(n == seed42MinhashCandidates,
        s"minhash: $n LSH candidates, expected $seed42MinhashCandidates for seed 42")
    n
  }

  /** Traced run: each call once untraced and once traced, alternating
    * which goes first (overhead), then the minhash candidate count
    * (Dedup.minhashLshPairs). */
  private def traced(in: Inputs): Unit = {
    val v = new Layers.Values
    val both = Layers.DedupOps.zipWithIndex.map { case (op, i) =>
      def plainOp = runOp(in, op)
      def tracedOp = ctx.traced(ctx.span("workload.dedup_near")(runOp(in, op)))
      if (i % 2 == 0) { val p = plainOp; (p, tracedOp) } else { val t = tracedOp; (plainOp, t) }
    }
    val (plain, rs) = (both.map(_._1), both.map(_._2))
    rs.foreach(verify(in, _))
    val (w0, w1) = (plain.map(_.seconds).sum, rs.map(_.seconds).sum)
    v("trace.overhead_s") = w1 - w0
    v("trace.overhead_share") = (w1 - w0) / w0
    val cands = ctx.traced(minhashCandidates(in))
    val l = ctx.listener
    for (r <- rs) {
      val st = l.group(s"pipeline.${r.op}")
      v(s"pipeline.${r.op}.wall_s") = r.seconds
      v(s"pipeline.${r.op}.spark_jobs") = st.jobs
      v(s"pipeline.${r.op}.shuffle_mb") = st.shuffleMb
      v(s"pipeline.${r.op}.spill_mb") = st.spillMb
      v(s"pipeline.${r.op}.task_skew") = st.heaviestStageSkew
      v(s"pipeline.${r.op}.pairs") = r.pairs.length
      v(s"pipeline.${r.op}.orphaned_caches") = r.orphaned
    }
    CoreReplay.sql(ctx, v, l.stats(_.startsWith("pipeline.")), rs.map(_.seconds))
    CoreReplay.run(ctx, v)
    val minPairs = rs.find(_.op == "minhash").get.pairs.length
    v("pipeline.minhash.candidate_pairs") = cands
    v("pipeline.minhash.verified_ratio") = minPairs.toDouble / math.max(1L, cands)
    v.report(ctx.rep, Seq("jobs.", "store.", "frontier."))
  }
}
