package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Metric names, units and directions; BENCHMARK.json lists the same. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "batch_p50_ms" -> "ms", "query_p50_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  val vtVerbs: Seq[String] = Seq("append", "merge", "merge_dv", "update",
    "update_dv", "delete", "delete_dv", "compact", "read_where",
    "snapshot_at", "history")

  /** (name, unit) of every per-layer metric, in output order. */
  val perLayer: Seq[(String, String)] = {
    val b = mutable.ArrayBuffer[(String, String)]()
    Seq("bronze", "silver", "ledger", "gold").foreach { st =>
      b += s"pipeline.$st.ms" -> "ms"
      b += s"pipeline.$st.driver_ms" -> "ms"
      b += s"pipeline.$st.jobs" -> "count"
      b += s"pipeline.$st.tasks" -> "count"
      b += s"pipeline.$st.shuffle_bytes" -> "bytes"
      b += s"pipeline.$st.input_bytes" -> "bytes"
    }
    Seq("bronze", "silver").foreach { st =>
      b += s"pipeline.$st.rows_loaded" -> "count"
      b += s"pipeline.$st.files_written" -> "count"
    }
    vtVerbs.foreach { v =>
      b += s"sources.vt.$v.ms" -> "ms"
      b += s"sources.vt.$v.driver_ms" -> "ms"
      b += s"sources.vt.$v.jobs" -> "count"
    }
    b ++= Seq("sources.vt.files_added" -> "count",
      "sources.vt.files_removed" -> "count", "sources.vt.bytes_written" -> "bytes",
      "sources.vt.live_files" -> "count", "sources.vt.dv_rows" -> "count",
      "sources.vt.storage_peak_bytes" -> "bytes",
      "sources.vt.read.files_scanned" -> "count",
      "sources.vt.read.files_live" -> "count",
      "sources.vt.read.prune_ratio" -> "ratio",
      "dedup.ms" -> "ms", "dedup.jobs" -> "count", "dedup.shuffle_bytes" -> "bytes",
      "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.pair_yield" -> "ratio",
      "functions.text.ms" -> "ms", "functions.relevance.ms" -> "ms",
      "functions.relevance.driver_ms" -> "ms", "functions.relevance.jobs" -> "count",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
      "spark.gc_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.plan_ms" -> "ms", "spark.driver_ms" -> "ms",
      "spark.task_skew" -> "ratio", "spark.storage_peak_bytes" -> "bytes",
      "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")
    b.toSeq
  }
}

/** The session every workload runs in: `local[k]`, shuffle partitions = k,
  * and the engine's own AQE posture (as in graft.Bench) with the advisory
  * size its formula gives for inputs this small (1 MiB).
  */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.sources.v2.GraftSqlExtension")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (1L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One benchmark run: set-up cycles, then either one timed segment
  * (`--trace 0`: end-to-end metrics) or untraced / traced / untraced
  * fixed-length segments (`--trace 1`: per-layer metrics and the tracing
  * overhead). Writes the result line to `--result` and the full artifact
  * to `--artifact`; exits 1 when an output check failed.
  */
object Main {
  /** Set-up cycles of an untraced run. A traced run prints no `setup_s`
    * and runs cycle 0 only; its untraced first segment warms it further.
    */
  val SetupCycles = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    // deep enough call sites that every job's stack reaches the graft
    // frame that launched it (the per-module attribution reads them)
    System.setProperty("spark.callstack.depth", "200")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = workloadName match {
      case "pets_daily" => new PetsDaily(seed, s"$work/input")
      case "lakehouse_mixed" => new Lakehouse(seed)
      case "corpus_curate" => new Corpus(seed, s"$work/input")
    }

    // set-up cycle 0 runs from process start: JVM start, first-time class
    // loading and JIT, SparkContext, session, warm-up. Input generation
    // follows it and is excluded. Cycles 1.. stop the SparkContext, then
    // time a new SparkContext, session and warm-up: the same steps without
    // the JVM's first-time costs. Cycle 0 is always the slowest, so the
    // median is the slower restart cycle.
    val setups = mutable.ArrayBuffer[Double]()
    def log(msg: String): Unit = System.err.println(
      f"[perf] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s  $msg")
    var spark = Session.build(cores, work)
    log("session built")
    wl.warmUp(spark, s"$work/warmup0")
    setups += (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log("set-up cycle 0 done")
    val g0 = System.nanoTime()
    wl.generate(spark)
    val generateS = (System.nanoTime() - g0) / 1e9
    log("inputs generated")
    (1 until (if (trace) 1 else SetupCycles)).foreach { i =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = Session.build(cores, work)
      wl.warmUp(spark, s"$work/warmup$i")
      setups += (System.nanoTime() - t0) / 1e9
      log(s"set-up cycle $i done")
    }

    val segments = mutable.LinkedHashMap[String, (Recorder, Double)]()
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.toSeq
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val gcBySegment = mutable.LinkedHashMap[String, Long]()
    def segment(label: String, budget: Budget, tracer: Option[Tracer]): Recorder = {
      val rec = new Recorder
      // start every segment from a collected heap, so a full collection
      // of the set-up's garbage does not land in a timed operation
      System.gc()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      wl.run(spark, s"$work/seg-$label", budget, tracer, rec)
      segments(label) = (rec, (System.nanoTime() - t0) / 1e9)
      gcBySegment(label) = gcMs() - gc0
      log(s"segment $label: ${rec.attempted} ops, ${rec.failed} failed")
      rec
    }
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    var tracerJson: Map[String, Any] = Map.empty
    if (!trace) {
      val rec = segment("timed", Budget.timed(seconds, wl.minOps), None)
      metrics("setup_s") = (Stats.median(setups.toSeq), "s")
      metrics("batch_p50_ms") = (wl.batchMs(rec), "ms")
      metrics("query_p50_ms") = (wl.queryMs(rec), "ms")
    } else {
      val u1 = segment("untraced1", Budget.fixed(wl.tracedOps), None)
      val tracer = new Tracer(spark)
      tracer.install()
      val t = segment("traced", Budget.fixed(wl.tracedOps), Some(tracer))
      tracer.uninstall()
      val u2 = segment("untraced2", Budget.fixed(wl.tracedOps), None)
      val layer = wl.layers(tracer) ++ sparkLayer(tracer)
      val untracedMs = (opMs(wl, u1) + opMs(wl, u2)) / 2
      val overhead = opMs(wl, t) - untracedMs
      Metrics.perLayer.foreach { case (n, unit) =>
        metrics(n) = (layer.getOrElse(n, n match {
          case "trace.overhead_ms" => overhead
          case "trace.overhead_pct" => 100.0 * overhead / untracedMs
          case _ => 0.0
        }), unit)
      }
      tracerJson = tracer.toJson()
    }
    metrics("peak_rss_mb") = (Stats.peakRssMb(), "MB")
    val cpuAnchorMs = Stats.cpuAnchorMs()

    val recs = segments.values.map(_._1).toSeq
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val failures = recs.flatMap(_.failures)
    failures.take(20).foreach(f => System.err.println(s"[perf] CHECK FAILED: $f"))

    val printed = metrics.filter { case (k, _) =>
      if (trace) Metrics.perLayer.exists(_._1 == k) else Metrics.endToEnd.exists(_._1 == k)
    }
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> printed.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val timed = segments.headOption.map(_._2._1)
    val artifact = Map(
      "workload" -> wl.name,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_k" -> cores,
        "xmx" -> opt("heap"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "cpu_anchor_ms" -> cpuAnchorMs,
        "git_commit" -> opt.get("git-commit").filter(_.nonEmpty),
        "source_hash" -> opt.get("source-hash"),
        "loop" -> "closed loop, one client: each operation starts when the previous ends",
        "fsync" -> ("VersionedTable commits fsync each manifest and its directory " +
          "(the engine's only commit policy on a local filesystem)"),
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap),
      "setup_cycles_s" -> setups,
      "setup_s" -> Stats.median(setups.toSeq),
      "generate_s" -> generateS,
      // input rows per second of the write side: the same samples as
      // batch_p50_ms, as a mean, so an artifact figure and not a metric
      "rows_per_s" -> segments.get("timed").map { case (r, _) =>
        r.rows / (r.ms(wl.rateKind).sum / 1000.0) },
      "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures,
      "result" -> result,
      "workload_metrics" -> (if (trace) Map.empty else
        timed.map(wl.ownMetrics).getOrElse(Map.empty)),
      "segments" -> segments.map { case (label, (r, wall)) =>
        label -> Map("wall_s" -> wall, "ops" -> r.attempted, "failed" -> r.failed,
          "gc_ms" -> gcBySegment(label),
          "op_ms" -> opMs(wl, r),
          "samples" -> r.samples.map { case (k, v) => k -> Map(
            "n" -> v.size, "p50" -> Stats.median(v.toSeq),
            "p90" -> Stats.percentile(v.toSeq, 90), "max" -> v.maxOption, "all" -> v) })
      },
      "trace" -> tracerJson)
    Files.write(Paths.get(opt("artifact")), Json.render(artifact).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(opt("result")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(if (failed == 0) 0 else 1)
  }

  /** Wall time of a segment's timed operations. */
  private def opMs(wl: Workload, r: Recorder): Double = wl.opKinds.flatMap(r.ms).sum

  /** Session-wide counters of the traced segment. */
  private def sparkLayer(t: Tracer): Map[String, Double] = {
    val js = t.jobs.filter(_.span != 0)
    val a = t.agg(js)
    val top = t.spans.filter(_.parent == 0)
    Map(
      "spark.jobs" -> a.jobs, "spark.stages" -> a.stages, "spark.tasks" -> a.tasks.toDouble,
      "spark.executor_run_ms" -> a.runMs.toDouble, "spark.executor_cpu_ms" -> a.cpuMs.toDouble,
      "spark.gc_ms" -> a.gcMs.toDouble, "spark.shuffle_read_bytes" -> a.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> a.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> a.spillBytes.toDouble, "spark.input_bytes" -> a.inputBytes.toDouble,
      "spark.output_bytes" -> a.outputBytes.toDouble, "spark.plan_ms" -> t.planMs(js).toDouble,
      "spark.driver_ms" -> t.driverMs(top, js).toDouble, "spark.task_skew" -> a.taskSkew,
      "spark.storage_peak_bytes" -> t.storagePeakBytes.toDouble)
  }
}
