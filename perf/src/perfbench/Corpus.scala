package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.dedup.MinHashDedup
import graft.functions.Relevance
import graft.pipeline.CorpusPipeline

/** A seeded English-like corpus with a known duplicate ground truth.
  *
  * `uniques` documents draw Zipf-distributed words plus English stopwords
  * (so every document passes the language and quality gates). On top:
  * `clusters` near-duplicate clusters, each an original plus two variants
  * with ~2% of tokens substituted (3-shingle Jaccard ~0.8-0.9 to the
  * original), and `copies` verbatim copies of other originals. Planted
  * documents take ids above every original, so the dedup stages' keep-
  * the-smallest-id rule must drop exactly them.
  */
final class CorpusGen(seed: Long, uniques: Int, clusters: Int, copies: Int) {
  private val r = new java.util.SplittableRandom(seed * 104729L + 3L)
  val vocab: IndexedSeq[String] = (0 until 4000).map { i =>
    "q" + Iterator.iterate(i)(_ / 26).take(3).map(x => ('a' + x % 26).toChar).mkString
  }
  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val stop = Seq("the", "and", "of", "to", "a", "in", "is")

  private def word(): String = {
    val x = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, x)
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
  }
  private def doc(): Array[String] =
    Array.fill(60 + r.nextInt(100))(if (r.nextDouble() < 0.15) stop(r.nextInt(stop.size)) else word())

  /** doc_id → tokens. */
  val docs = mutable.LinkedHashMap[Long, Array[String]]()
  val variantIds = mutable.ArrayBuffer[Long]()
  val copyIds = mutable.ArrayBuffer[Long]()

  locally {
    (1 to uniques).foreach(i => docs(i.toLong) = doc())
    var next = uniques.toLong + 1
    val picks = r.ints(0, uniques).distinct().limit(clusters + copies).toArray
      .map(_.toLong + 1)
    picks.take(clusters).foreach { base =>
      val orig = docs(base)
      val variants = mutable.ArrayBuffer[Seq[String]]()
      while (variants.size < 2) {
        val v = orig.clone()
        (1 to math.max(1, v.length / 50)).foreach { _ =>
          val at = r.nextInt(v.length)
          v(at) = Iterator.continually(word()).find(_ != orig(at)).get
        }
        if (!variants.contains(v.toSeq)) {
          variants += v.toSeq
          docs(next) = v
          variantIds += next
          next += 1
        }
      }
    }
    picks.drop(clusters).foreach { src =>
      docs(next) = docs(src).clone()
      copyIds += next
      next += 1
    }
  }

  def frame(spark: SparkSession): DataFrame = spark.createDataFrame(
    docs.iterator.map { case (id, t) => Row(id, t.mkString(" ")) }.toSeq.asJava,
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false))))

  /** Driver-side BM25 (rational idf) → top-k → reciprocal-rank fusion,
    * evaluated in the same operation order as the engine so the doubles
    * agree bit for bit: (doc_id, fused_rank).
    */
  def hybridOracle(q1: Seq[String], q2: Seq[String], k: Int): Seq[(Long, Long)] = {
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length.toLong).sum.toDouble / n
    def topK(q: Seq[String]): Seq[Long] = {
      val tfs = docs.iterator.map { case (id, t) =>
        id -> (t.length, q.map(term => t.count(_ == term)))
      }.filter(_._2._2.exists(_ > 0)).toSeq
      val df = q.indices.map(i => tfs.count(_._2._2(i) > 0).toDouble)
      val scored = tfs.map { case (id, (dl, tf)) =>
        val terms = q.indices.map { i =>
          if (tf(i) == 0) 0.0
          else {
            val idf = (n - df(i) + 0.5) / (df(i) + 0.5)
            idf * ((tf(i).toDouble * (1.2 + 1.0)) /
              (tf(i).toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.toDouble / avgdl))))
          }
        }
        id -> terms.reduceLeft(_ + _)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }
    val ranks = Seq(topK(q1), topK(q2)).map(_.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap)
    val ids = ranks.flatMap(_.keys).distinct
    ids.map { id =>
      id -> ranks.map(_.get(id).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0)).reduceLeft(_ + _)
    }.sortBy { case (id, s) => (-s, id) }.zipWithIndex.map { case ((id, _), i) => (id, i + 1L) }
  }
}

/** `corpus_curate`: `CorpusPipeline.run` (annotate, filters, exact dedup,
  * MinHash near dedup) over a planted-duplicate corpus, repeated, then a
  * batch of hybrid searches: two BM25 `topKRanked` lists fused by `rrf`,
  * as the engine's hybrid-search query does.
  */
final class Corpus(seed: Long, work: String) extends Workload {
  val name = "corpus_curate"
  val Uniques = 2500
  val Clusters = 80
  val Copies = 120
  val TopK = 20
  val RecallBound = 0.9
  // the first pass after warm-up runs slow; the median of three is not it
  val minPasses = 3
  val minSearches = 8
  val minOps: Int = minPasses + minSearches
  val tracedPasses = 2
  val tracedOps = 8
  def batchMs(rec: Recorder): Double = Stats.median(rec.ms("curate"))
  def queryMs(rec: Recorder): Double = Stats.median(rec.ms("search"))
  val rateKind = "curate"
  val opKinds = Seq("curate", "search")

  private val gen = new CorpusGen(seed, Uniques, Clusters, Copies)
  private val corpusPath = s"$work/corpus"
  private val queries: IndexedSeq[(Seq[String], Seq[String])] = {
    val r = new java.util.SplittableRandom(seed * 13L + 5L)
    (0 until 64).map { _ =>
      val q = Iterator.continually(gen.vocab(20 + r.nextInt(400))).distinct.take(4).toSeq
      (q.take(3), q)
    }
  }
  private val oracle = mutable.HashMap[Int, Seq[(Long, Long)]]()

  def generate(spark: SparkSession): Unit =
    gen.frame(spark).repartition(4).write.parquet(corpusPath)

  private def search(docs: DataFrame, q: (Seq[String], Seq[String])): Array[Row] = {
    val lists = Seq(q._1, q._2).map { terms =>
      Relevance.topKRanked(Relevance.bm25(docs, "doc_id", "text", terms, logIdf = false),
        "score", "doc_id", TopK)
    }
    Relevance.rrf(lists, "doc_id", "rnk", 60).collect()
  }

  /** One pass and one search over a full-size corpus of its own,
    * written by the first cycle and read by every cycle.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val path = s"$work/warmup-corpus"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      new CorpusGen(seed + 1, Uniques, Clusters, Copies).frame(spark).repartition(4)
        .write.parquet(path)
    val docs = spark.read.parquet(path)
    CorpusPipeline.run(docs).output.unpersist(blocking = true)
    search(docs, queries(0))
  }

  // traced-segment probes
  private val textMs = mutable.ArrayBuffer[Double]()
  private var candidatePairs = 0L
  private var verifiedPairs = 0L

  def run(spark: SparkSession, dir: String, budget: Budget,
      tracer: Option[Tracer], rec: Recorder): Unit = {
    def span[T](n: String)(f: => T): T = tracer.fold(f)(_.span(n)(f))
    val docs = spark.read.parquet(corpusPath)
    // one untimed pass and search over this input first: without them
    // the timed passes are still speeding up (about 2.0, 1.3, 1.1 s) and
    // their median lands wherever the slope is in that run
    CorpusPipeline.run(docs).output.unpersist(blocking = true)
    search(docs, queries(1))
    val fixed = budget.fixedOps > 0
    // curate passes take the first 40% of the run, searches the rest
    val passDeadline = System.nanoTime() + (budget.deadlineNs - System.nanoTime()) / 5 * 2
    var passes = 0
    val passStart = System.nanoTime()
    def meanPassNs = if (passes == 0) 0L else (System.nanoTime() - passStart) / passes
    while (if (fixed) passes < tracedPasses
      else passes < minPasses || System.nanoTime() + meanPassNs / 2 < passDeadline) {
      rec.op(s"curate pass $passes") {
        val report = rec.time("curate")(span("pipeline.corpus")(CorpusPipeline.run(docs)))
        try {
          rec.rows += report.input
          checkCuration(rec, report,
            report.output.select("doc_id").collect().map(_.getLong(0)).toSet)
        } finally report.output.unpersist(blocking = true)
      }
      if (tracer.isDefined) {
        val t0 = System.nanoTime()
        CorpusPipeline.annotate(docs).write.format("noop").mode("overwrite").save()
        textMs += (System.nanoTime() - t0) / 1e6
      }
      passes += 1
    }
    if (tracer.isDefined) {
      val exact = CorpusPipeline.exactDedup(
        CorpusPipeline.qualityFilter(CorpusPipeline.annotate(docs), CorpusPipeline.Config()))
      candidatePairs = MinHashDedup.candidatePairs(
        MinHashDedup.withSignatures(exact, "doc_id", "text"), "doc_id",
        maxBucketSize = 2000).count()
      verifiedPairs = MinHashDedup.nearDuplicates(exact, "doc_id", "text",
        CorpusPipeline.Config().nearDupThreshold).count()
    }
    var searches = 0
    val searchStart = System.nanoTime()
    def meanSearchNs = if (searches == 0) 0L else (System.nanoTime() - searchStart) / searches
    while (if (fixed) passes + searches < budget.fixedOps
      else searches < minSearches || System.nanoTime() + meanSearchNs / 2 < budget.deadlineNs) {
      val qi = searches % queries.size
      rec.op(s"search $searches") {
        val got = rec.time("search")(span("functions.relevance")(search(docs, queries(qi))))
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fused_rank"))).toSeq
        val expect = oracle.getOrElseUpdate(qi,
          gen.hybridOracle(queries(qi)._1, queries(qi)._2, TopK))
        rec.check(got == expect, s"search $qi: got ${got.take(5)} expected ${expect.take(5)}")
      }
      searches += 1
    }
  }

  private def checkCuration(rec: Recorder, report: CorpusPipeline.Report,
      out: Set[Long]): Boolean = {
    val total = gen.docs.size.toLong
    val removedVariants = gen.variantIds.count(id => !out.contains(id))
    val recall = removedVariants.toDouble / gen.variantIds.size
    val originals = (1L to Uniques.toLong).filterNot(out.contains)
    rec.check(report.input == total && report.afterFilter == total,
      s"curate: input ${report.input}, after filter ${report.afterFilter}, expected $total") &&
      rec.check(report.afterExact == total - gen.copyIds.size,
        s"curate: after exact dedup ${report.afterExact}, expected ${total - gen.copyIds.size}") &&
      rec.check(gen.copyIds.forall(id => !out.contains(id)),
        "curate: a planted exact duplicate survived") &&
      rec.check(recall >= RecallBound, f"curate: near-dup recall $recall%.3f < $RecallBound") &&
      rec.check(originals.isEmpty, s"curate: originals removed: ${originals.take(5)}")
  }

  def ownMetrics(rec: Recorder): Map[String, Any] = {
    val curate = rec.ms("curate").map(_ / 1000.0)
    val search = rec.ms("search")
    val tailPct = Stats.supportedTail(search.size)
    Map(
      "curate_p50_s" -> Stats.median(curate),
      "curate_passes" -> curate.size,
      "docs_per_s" -> rec.rows / curate.sum,
      "search_p50_ms" -> Stats.median(search),
      "search_tail_ms" -> Stats.percentile(search, tailPct),
      "search_tail_pct" -> tailPct,
      "searches" -> search.size,
      "planted_exact_copies" -> gen.copyIds.size,
      "planted_near_variants" -> gen.variantIds.size,
      "near_recall_bound" -> RecallBound)
  }

  /** Module a job inside a curate pass belongs to: the innermost `graft.`
    * frame of its call site, or, for a job whose call site has none (AQE
    * stage and broadcast jobs run on Spark's own threads), the module of
    * another job of the same SQL execution.
    */
  private def modules(js: Seq[JobRec]): Map[Int, String] = {
    val framed = js.groupBy(_.execId).map { case (e, g) =>
      e -> g.flatMap(_.graftFrames.headOption).headOption.map(Tracer.frameClass)
    }
    js.map(j => j.jobId -> j.graftFrames.headOption.map(Tracer.frameClass)
      .orElse(if (j.execId >= 0) framed(j.execId) else None).getOrElse("")).toMap
  }

  def layers(t: Tracer): Map[String, Double] = {
    val passes = t.spansNamed("pipeline.corpus")
    val passJobs = t.jobsInSpans(t.withDescendants(passes))
    val module = modules(passJobs)
    val dedupJobs = passJobs.filter(j => module(j.jobId).startsWith("graft.dedup."))
    val d = t.agg(dedupJobs)
    val searches = t.spansNamed("functions.relevance")
    val searchJobs = t.jobsInSpans(t.withDescendants(searches))
    Map(
      "dedup.ms" -> d.busyMs.toDouble / passes.size.max(1),
      "dedup.jobs" -> d.jobs.toDouble,
      "dedup.shuffle_bytes" -> d.shuffleWriteBytes.toDouble,
      "dedup.candidate_pairs" -> candidatePairs.toDouble,
      "dedup.verified_pairs" -> verifiedPairs.toDouble,
      "dedup.pair_yield" -> (if (candidatePairs == 0) 0.0 else verifiedPairs.toDouble / candidatePairs),
      "functions.text.ms" -> Stats.median(textMs.toSeq),
      "functions.relevance.ms" -> searches.map(_.ms).sum.toDouble / searches.size.max(1),
      "functions.relevance.driver_ms" -> t.driverMs(searches, searchJobs).toDouble / searches.size.max(1),
      "functions.relevance.jobs" -> searchJobs.size.toDouble)
  }
}
