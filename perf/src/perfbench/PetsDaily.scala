package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{BreedMapping, Model, Orchestrator}

/** Seeded license-file drops with the reference's published shape.
  *
  * Every id has fixed first-delivery attributes: Year 2023-2025, DOG or
  * CAT, an FSA that is malformed with the reference's 301/173,937 odds,
  * and a breed that is one of the curated variants (so the reference dim
  * maps it) with the reference's 81.44% odds, else an uncurated name.
  * Day `d`'s drop re-delivers every id known so far (the reference's
  * daily fetch of the full file) plus `newPerDay` new ids; a few percent
  * of old ids come back re-licensed (Year + 1), which bronze's insert-only
  * idempotency must ignore. All text carries case and whitespace noise.
  */
final class PetsGen(seed: Long, val baseIds: Int, val newPerDay: Int,
    maxDays: Int) {
  val MalformedFsaOdds: Double = 301.0 / 173937.0
  val MappedOdds = 0.8144
  val RedeliverOdds = 0.03

  private val variants: IndexedSeq[String] =
    BreedMapping.referencePairs.map(_._1).distinct.toIndexedSeq
  private val unmapped: IndexedSeq[String] = (0 until 400).map { i =>
    "UNLISTED MIX " + Iterator.iterate(i)(_ / 26).take(3)
      .map(x => ('A' + x % 26).toChar).mkString
  }
  private val fsaLetters = "KLMNP"

  val maxIds: Int = baseIds + newPerDay * maxDays
  // first-delivery attributes, index = id - 1
  val year = new Array[Int](maxIds)
  val isDog = new Array[Boolean](maxIds)
  val fsa = new Array[String](maxIds)
  val fsaValid = new Array[Boolean](maxIds)
  val breed = new Array[String](maxIds)
  val mapped = new Array[Boolean](maxIds)

  locally {
    val r = new java.util.SplittableRandom(seed * 7919L + 17L)
    var i = 0
    while (i < maxIds) {
      year(i) = 2023 + r.nextInt(3)
      isDog(i) = r.nextDouble() < 0.62
      if (r.nextDouble() < MalformedFsaOdds) {
        fsa(i) = Seq("M4", "4MC", "MM4Z", "M 4C", "")(r.nextInt(5))
        fsaValid(i) = false
      } else {
        fsa(i) = s"${fsaLetters(r.nextInt(5))}${r.nextInt(10)}${('A' + r.nextInt(26)).toChar}"
        fsaValid(i) = true
      }
      mapped(i) = r.nextDouble() < MappedOdds
      breed(i) = if (mapped(i)) variants(r.nextInt(variants.size))
        else unmapped(r.nextInt(unmapped.size))
      i += 1
    }
  }

  def idsThrough(day: Int): Int = baseIds + newPerDay * day

  private def noisy(s: String, r: java.util.SplittableRandom): String = {
    val cased = r.nextInt(3) match {
      case 0 => s
      case 1 => s.toLowerCase
      case _ => s.head.toString + s.tail.toLowerCase
    }
    val pad = r.nextInt(4)
    (if (pad == 1 || pad == 3) " " else "") + cased + (if (pad >= 2) "  " else "")
  }

  /** Day `day`'s drop as CSV text, and its row count. */
  def csv(day: Int): (String, Int) = {
    val r = new java.util.SplittableRandom(seed * 1000003L + day)
    val n = idsThrough(day)
    val sb = new StringBuilder(n * 48)
    sb.append("_id,Year,FSA,ANIMAL_TYPE,PRIMARY_BREED\n")
    var i = 0
    while (i < n) {
      val redeliver = day > 0 && i < idsThrough(day - 1) && r.nextDouble() < RedeliverOdds
      val y = if (redeliver) math.min(year(i) + 1, 2025) else year(i)
      val b0 = breed(i)
      val b = if (mapped(i) && b0.length > 3 && r.nextInt(4) == 0)
        b0.substring(0, 2) + "." + b0.substring(2) else b0
      sb.append(i + 1).append(',').append(y).append(",\"")
        .append(if (fsaValid(i)) noisy(fsa(i), r) else fsa(i)).append("\",\"")
        .append(noisy(if (isDog(i)) "DOG" else "CAT", r)).append("\",\"")
        .append(noisy(b, r)).append("\"\n")
      i += 1
    }
    (sb.toString, n)
  }

  /** Expected silver rows per (Year, type) after `day`: (rows, mapped,
    * null FSA), from first-delivery attributes.
    */
  def truthByGroup(day: Int): Map[(Int, String), (Long, Long, Long)] = {
    val acc = mutable.HashMap[(Int, String), (Long, Long, Long)]()
    var i = 0
    val n = idsThrough(day)
    while (i < n) {
      val k = (year(i), if (isDog(i)) "DOG" else "CAT")
      val (a, m, f) = acc.getOrElse(k, (0L, 0L, 0L))
      acc(k) = (a + 1, m + (if (mapped(i)) 1 else 0), f + (if (fsaValid(i)) 0 else 1))
      i += 1
    }
    acc.toMap
  }

  /** New ids (by type) first delivered on `day`. */
  def freshByType(day: Int): Map[String, Long] = {
    val from = if (day == 0) 0 else idsThrough(day - 1)
    (from until idsThrough(day)).groupBy(i => if (isDog(i)) "DOG" else "CAT")
      .map { case (k, v) => k -> v.size.toLong }
  }
}

/** `pets_daily`: the paper's own job, one `Orchestrator.runAll` per
  * ingestion date followed by a read of all 8 gold views, on drops that
  * overlap almost entirely. Date index 1 is delivered twice, as the third
  * day of every run, so each run measures table growth (day 0 to day 1)
  * and a re-delivered date.
  */
final class PetsDaily(seed: Long, work: String) extends Workload {
  val name = "pets_daily"
  val BaseIds = 15000
  val NewPerDay = 300
  val MaxDays = 120
  val Views: Seq[String] = Seq("v_totals_by_year_type", "v_breed_stats",
    "v_fsa_top3_breeds", "v_fsa2_top3_breeds", "licensed_pets_gold_quality",
    "v_daily_totals", "v_breed_share_citywide", "v_breed_rank_citywide")

  /** Days of a batch unit: the first unit is a new table, the grown table
    * and the re-delivered date, each costing differently, and a run has
    * about three days, so the median of single days jumps between them
    * from run to run. The unit's time per day uses all of them.
    */
  val UnitDays = 3
  val minOps = UnitDays
  val tracedOps = UnitDays
  def batchMs(rec: Recorder): Double = Stats.median(rec.ms("day_unit"))
  val rateKind = "day"
  /** A day's 8 view reads, per read, each view at its median over the
    * run's days: the views differ several-fold in cost, so single reads
    * are multimodal and their median would jump between views from run
    * to run.
    */
  def queryMs(rec: Recorder): Double = mixOfMedians(rec, Views.map(v => s"gold.$v"))
  val opKinds = Seq("day")

  private val gen = new PetsGen(seed, BaseIds, NewPerDay, MaxDays)
  private val rawDir = s"$work/raw"

  private def date(d: Int): String = java.time.LocalDate.of(2025, 1, 1).plusDays(d).toString
  private def ts(d: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(d).atTime(6, 0))

  private def writeDrop(g: PetsGen, dir: String, d: Int): Int = {
    val (text, n) = g.csv(d)
    val p = Paths.get(dir, s"ingestion_date=${date(d)}", "licensed_pets.csv")
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    n
  }

  /** Rows of each drop written so far, by date index. */
  private val dropRows = mutable.HashMap[Int, Int]()

  private def ensureDrop(d: Int): Int = dropRows.getOrElseUpdate(d, writeDrop(gen, rawDir, d))

  def generate(spark: SparkSession): Unit = (0 to minOps).foreach(ensureDrop)

  /** One full-size day (its own seed) and its gold reads. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val g = new PetsGen(seed + 1, BaseIds, NewPerDay, 1)
    writeDrop(g, s"$dir/raw", 0)
    val cfg = Model.PipelineConfig(s"$dir/raw", s"$dir/bronze", s"$dir/silver",
      s"$dir/control", date(0), ts(0))
    require(Orchestrator.runAll(spark, cfg, sleep = _ => ()).succeeded,
      "warm-up runAll failed")
    Views.foreach(v => spark.table(v).collect())
  }

  // traced-segment per-stage file and row counts
  private val filesWritten = mutable.HashMap[String, Long]().withDefaultValue(0L)

  private def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def run(spark: SparkSession, dir: String, budget: Budget,
      tracer: Option[Tracer], rec: Recorder): Unit = {
    val bronze = s"$dir/bronze"
    val silver = s"$dir/silver"
    val control = s"$dir/control"
    def span[T](n: String)(f: => T): T = tracer.fold(f)(_.span(n)(f))
    var done = 0
    var lastDay = -1
    val days = Iterator.from(0).flatMap(d => if (d == 1) Seq(d, d) else Seq(d))
    val start = System.nanoTime()
    def meanDayNs = if (done == 0) 0L else (System.nanoTime() - start) / done
    while (budget.more(done, meanDayNs) && done < MaxDays) {
      val d = days.next()
      val rows = ensureDrop(d)
      val before = if (tracer.isDefined) (parquetFiles(bronze), parquetFiles(silver)) else (0L, 0L)
      val cfg = Model.PipelineConfig(rawDir, bronze, silver, control, date(d), ts(d))
      rec.op(s"day ${date(d)}") {
        val report = rec.time("run_all") {
          span("pipeline.run_all")(Orchestrator.runAll(spark, cfg, sleep = _ => ()))
        }
        val results = Views.map { v =>
          val got = rec.time("gold")(span("pipeline.gold")(spark.table(v).collect()))
          rec.add(s"gold.$v", rec.ms("gold").last)
          v -> got
        }.toMap
        val goldMs = rec.ms("gold").takeRight(Views.size).sum
        rec.add("day", rec.ms("run_all").last + goldMs)
        if (rec.ms("day").size % UnitDays == 0)
          rec.add("day_unit", rec.ms("day").takeRight(UnitDays).sum / UnitDays)
        rec.rows += rows
        rec.check(report.succeeded, s"day ${date(d)}: runAll ${report.stages}") &&
          checkGold(rec, d, results)
      }
      if (tracer.isDefined) {
        filesWritten("bronze") += parquetFiles(bronze) - before._1
        filesWritten("silver") += parquetFiles(silver) - before._2
      }
      lastDay = d
      done += 1
    }
    rec.op("final state") { checkTables(spark, rec, lastDay, bronze, silver, control) }
  }

  private def num(r: org.apache.spark.sql.Row, c: String): Long =
    r.getAs[Number](c).longValue

  /** Gold totals equal a recount of the generated rows. */
  private def checkGold(rec: Recorder, d: Int,
      res: Map[String, Array[org.apache.spark.sql.Row]]): Boolean = {
    val truth = gen.truthByGroup(d)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Int]("Year"), r.getAs[String]("ANIMAL_TYPE"))
    val quality = res("licensed_pets_gold_quality")
      .map(r => key(r) -> (num(r, "rows"), num(r, "mapped_rows"), num(r, "null_fsa_rows"))).toMap
    val totals = res("v_totals_by_year_type")
      .map(r => key(r) -> num(r, "total_count")).toMap
    val share = res("v_breed_share_citywide").groupBy(key)
      .map { case (k, rs) => k -> rs.map(num(_, "cnt")).sum }
    val daily = res("v_daily_totals").filter(_.getAs[java.sql.Date]("day").toString == date(d))
      .map(r => r.getAs[String]("ANIMAL_TYPE") -> num(r, "total")).toMap
    val fresh = gen.freshByType(d)
    rec.check(quality == truth, s"day ${date(d)}: quality view $quality != truth $truth") &&
      rec.check(totals == truth.map { case (k, v) => k -> v._1 },
        s"day ${date(d)}: v_totals_by_year_type totals $totals") &&
      rec.check(share == truth.map { case (k, v) => k -> v._1 },
        s"day ${date(d)}: v_breed_share_citywide counts $share") &&
      rec.check(daily == fresh, s"day ${date(d)}: v_daily_totals $daily != $fresh") &&
      Views.forall(v => rec.check(res(v).nonEmpty, s"day ${date(d)}: view $v is empty"))
  }

  /** Bronze, silver and ledger equal the generator's truth. */
  private def checkTables(spark: SparkSession, rec: Recorder, lastDay: Int,
      bronze: String, silver: String, control: String): Boolean = {
    val ids = gen.idsThrough(lastDay).toLong
    val mappedIds = (0 until gen.idsThrough(lastDay)).count(gen.mapped(_)).toLong
    val b = spark.read.parquet(bronze).count()
    val s = spark.read.parquet(silver)
      .agg(count(lit(1)), sum(when(col("breed_mapped"), 1L).otherwise(0L))).head()
    val ledger = spark.read.parquet(control).groupBy("ingestion_date").count().collect()
    rec.check(b == ids, s"bronze rows $b != $ids") &&
      rec.check(s.getLong(0) == ids, s"silver rows ${s.getLong(0)} != $ids") &&
      rec.check(s.getLong(1) == mappedIds,
        s"silver breed_mapped rows ${s.getLong(1)} != $mappedIds") &&
      rec.check(ledger.length == lastDay + 1 && ledger.forall(_.getLong(1) == 1L),
        s"ledger has ${ledger.length} dates for ${lastDay + 1} days, " +
          s"counts ${ledger.map(_.getLong(1)).mkString(",")}")
  }

  def ownMetrics(rec: Recorder): Map[String, Any] = {
    val day = rec.ms("day").map(_ / 1000.0)
    val gold = rec.ms("gold")
    val tailPct = Stats.supportedTail(gold.size)
    val dayTail = Stats.supportedTail(day.size)
    Map(
      "day_p50_s" -> Stats.median(day),
      "day_tail_s" -> Stats.percentile(day, dayTail),
      "day_tail_pct" -> dayTail,
      "days" -> day.size,
      "rows_per_s" -> rec.rows / day.sum,
      "gold_p50_ms" -> Stats.median(gold),
      "gold_tail_ms" -> Stats.percentile(gold, tailPct),
      "gold_tail_pct" -> tailPct,
      "gold_reads" -> gold.size)
  }

  /** Stage of the runAll pipeline a job belongs to: the innermost
    * `graft.pipeline` frame of its call site.
    */
  private def stageOf(j: JobRec): Option[String] =
    j.graftFrames.map(Tracer.frameClass).collectFirst {
      case "graft.pipeline.Bronze" => "bronze"
      case "graft.pipeline.Silver" => "silver"
      case "graft.pipeline.LoadControl" => "ledger"
      case "graft.pipeline.Gold" | "graft.pipeline.Orchestrator" => "gold"
    }

  def layers(t: Tracer): Map[String, Double] = {
    val runAll = t.spansNamed("pipeline.run_all")
    val goldReads = t.spansNamed("pipeline.gold")
    val days = runAll.size.max(1)
    // attribute each runAll job to a stage; jobs whose call site names no
    // pipeline class (e.g. broadcast jobs on Spark's pool threads) take
    // the stage of another job of the same SQL execution, else the
    // previous job's
    val stageOfJob = mutable.HashMap[Int, String]()
    val msBy = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val driverBy = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val jobsBy = mutable.HashMap[String, mutable.ArrayBuffer[JobRec]]()
    runAll.foreach { s =>
      val js = t.jobsInSpans(t.withDescendants(Seq(s))).sortBy(_.startMs)
      val byExec = js.groupBy(_.execId).map { case (e, g) => e -> g.flatMap(stageOf).headOption }
      var prev = "bronze"
      js.foreach { j =>
        val st = stageOf(j).orElse(if (j.execId >= 0) byExec(j.execId) else None).getOrElse(prev)
        stageOfJob(j.jobId) = st
        jobsBy.getOrElseUpdate(st, mutable.ArrayBuffer[JobRec]()) += j
        prev = st
      }
      // timeline walk: each job's busy time plus the driver gap before
      // it goes to its stage; the gap after the last job goes to the
      // last job's stage
      var cursor = s.startMs
      var last = "bronze"
      js.foreach { j =>
        val st = stageOfJob(j.jobId)
        val start = math.max(j.startMs, cursor)
        driverBy(st) += math.max(0L, start - cursor)
        msBy(st) += math.max(0L, j.endMs - cursor)
        cursor = math.max(cursor, j.endMs)
        last = st
      }
      driverBy(last) += math.max(0L, s.endMs - cursor)
      msBy(last) += math.max(0L, s.endMs - cursor)
    }
    val goldJobs = t.jobsInSpans(t.withDescendants(goldReads))
    val out = mutable.LinkedHashMap[String, Double]()
    Seq("bronze", "silver", "ledger", "gold").foreach { st =>
      val js = jobsBy.getOrElse(st, mutable.ArrayBuffer[JobRec]()).toSeq ++
        (if (st == "gold") goldJobs else Nil)
      val a = t.agg(js)
      val extraMs = if (st == "gold") goldReads.map(_.ms).sum else 0L
      val extraDriver = if (st == "gold") t.driverMs(goldReads, goldJobs) else 0L
      out(s"pipeline.$st.ms") = (msBy(st) + extraMs).toDouble / days
      out(s"pipeline.$st.driver_ms") = (driverBy(st) + extraDriver).toDouble / days
      out(s"pipeline.$st.jobs") = a.jobs
      out(s"pipeline.$st.tasks") = a.tasks.toDouble
      out(s"pipeline.$st.shuffle_bytes") = a.shuffleWriteBytes.toDouble
      out(s"pipeline.$st.input_bytes") = a.inputBytes.toDouble
      if (st == "bronze" || st == "silver") {
        out(s"pipeline.$st.rows_loaded") = a.recordsWritten.toDouble
        out(s"pipeline.$st.files_written") = filesWritten(st).toDouble
      }
    }
    out.toMap
  }
}
