package perfbench

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.VersionedTable

/** One silver-shaped pets row; `rev` is the operation that last wrote it
  * and is carried in `processed_ts` (epoch + rev seconds).
  */
final case class Pet(id: Int, year: Int, animalType: String, fsa: String,
    fsaValid: Boolean, primaryBreed: String, breedRaw: String,
    variantKey: String, breedStandard: String, mapped: Boolean,
    ingestionDate: LocalDate, ingestionTsMs: Long, rev: Int) {
  def toRow: Row = Row(id, year, animalType, fsa, fsaValid, primaryBreed,
    breedRaw, variantKey, breedStandard, mapped, Date.valueOf(ingestionDate),
    new Timestamp(ingestionTsMs), new Timestamp(Pet.revMs(rev)))

  /** Raw size of the row as supplied: int/date 4 B, timestamp 8 B,
    * boolean 1 B, strings their UTF-8 length.
    */
  def rawBytes: Long = 4 + 4 + 1 + 1 + 4 + 8 + 8 +
    Seq(animalType, fsa, primaryBreed, breedRaw, variantKey, breedStandard)
      .map(s => if (s == null) 0 else s.getBytes("UTF-8").length).sum

  /** Order-independent per-row checksum term; the Spark side computes
    * the same sum with [[Pet.checksumCol]].
    */
  def checksum: Long = id.toLong * 100003L + rev
}

object Pet {
  val EpochMs: Long = 1735689600000L // 2025-01-01T00:00:00Z
  def revMs(rev: Int): Long = EpochMs + rev * 1000L

  val schema: StructType = StructType(Seq(
    StructField("_id", IntegerType, nullable = false),
    StructField("Year", IntegerType),
    StructField("ANIMAL_TYPE", StringType),
    StructField("FSA", StringType),
    StructField("FSA_VALID", BooleanType),
    StructField("PRIMARY_BREED", StringType),
    StructField("breed_raw", StringType),
    StructField("breed_variant_key", StringType),
    StructField("breed_standard", StringType),
    StructField("breed_mapped", BooleanType),
    StructField("ingestion_date", DateType),
    StructField("ingestion_ts", TimestampType),
    StructField("processed_ts", TimestampType)))

  val checksumCol: Column = col("_id").cast("long") * 100003L +
    (unix_seconds(col("processed_ts")) - lit(EpochMs / 1000L))

  def fromRow(r: Row): Pet = Pet(r.getInt(0), r.getInt(1), r.getString(2),
    r.getString(3), r.getBoolean(4), r.getString(5), r.getString(6),
    r.getString(7), r.getString(8), r.getBoolean(9),
    r.getDate(10).toLocalDate, r.getTimestamp(11).getTime,
    ((r.getTimestamp(12).getTime - EpochMs) / 1000L).toInt)

  private val breeds = Seq("LABRADOR RETRIEVER", "GOLDEN RETRIEVER",
    "GERMAN SHEPHERD DOG", "DOMESTIC SHORTHAIR", "SHIH TZU", "MIXED BREED",
    "BEAGLE", "POODLE TOY", "SIAMESE", "DOMESTIC MEDIUMHAIR")

  def random(id: Int, rev: Int, r: java.util.SplittableRandom): Pet = {
    val b = breeds(r.nextInt(breeds.size))
    val valid = r.nextInt(500) != 0
    val day = LocalDate.of(2024, 1, 1).plusDays(r.nextInt(400))
    Pet(id, 2023 + r.nextInt(3), if (r.nextBoolean()) "DOG" else "CAT",
      if (valid) s"M${r.nextInt(10)}${('A' + r.nextInt(26)).toChar}" else null,
      valid, b, b, b.replaceAll("[^A-Z0-9]", ""), b, r.nextInt(100) < 81,
      day, day.toEpochDay * 86400000L + 6 * 3600000L, rev)
  }
}

/** `lakehouse_mixed`: one VersionedTable of silver-shaped rows under a
  * seeded mix of every write verb (copy-on-write and deletion-vector
  * flavours, compaction closing every cycle) and reads
  * that data skipping can prune, checked against an in-memory key→row
  * model. The cycle is fixed (each write verb followed by a few reads,
  * compact last); the seed picks every key, window and row value. Runs
  * end on a cycle boundary, so every run times the same mix, and run at
  * least [[MinCycles]] cycles, so every operation kind has a median.
  */
final class Lakehouse(seed: Long) extends Workload {
  val name = "lakehouse_mixed"
  val InitRows = 20000
  val InitFiles = 8
  val CompactFiles = 8
  // windows in ids; initial ids are even, so each covers half as many rows
  val MergeWindow = 600
  val UpdateWindow = 300
  val DeleteWindow = 80
  val RangeWindow = 800
  /** One cycle: each write verb once, each followed by 2-3 of the 16
    * reads (6 point, 6 range, 3 snapshotAt, 1 history), then compact;
    * with the slot (index into the cycle's file permutation) each
    * operation works in. Write i takes slot i; the reads after it take
    * slots i, i+1, ..., so which reads meet a file carrying deletion
    * vectors is the same for every seed.
    */
  val (cycle, slots): (Seq[String], Seq[Int]) = {
    val writes = Seq("append", "merge", "merge_dv", "update", "update_dv",
      "delete", "delete_dv")
    val reads = Seq.tabulate(16) {
      case 15 => "history"
      case x if x % 5 == 4 => "snapshot_at"
      case x if x % 2 == 0 => "read_point"
      case _ => "read_range"
    }
    val ops = writes.indices.flatMap { i =>
      (writes(i), i) +: reads.slice(i * reads.size / writes.size,
        (i + 1) * reads.size / writes.size).zipWithIndex
        .map { case (r, j) => (r, (i + j) % InitFiles) }
    } :+ (("compact", 0))
    (ops.map(_._1), ops.map(_._2))
  }
  val CycleLen: Int = cycle.size
  /** Ids one initial file covers. */
  val FileSpan: Int = 2 * InitRows / InitFiles
  val MinCycles = 3
  val minOps: Int = MinCycles * CycleLen
  val tracedOps: Int = CycleLen
  /** Sample kind of the operation at position `i` of the cycle. A read's
    * cost depends on where in the cycle it falls (a snapshotAt before the
    * first DV write reads no deletion vectors; the ones after it do), so
    * each position is a kind of its own.
    */
  private def at(i: Int): String = f"at$i%02d.${cycle(i)}"

  /** The cycle's commits, per commit, each at its median over the run's
    * cycles. Single commits are multimodal (an append takes ~0.1 s, a DV
    * merge ~0.6 s), so the unit is the fixed mix; one slow commit moves
    * its position's median, not the figure.
    */
  def batchMs(rec: Recorder): Double =
    mixOfMedians(rec, cycle.indices.filter(i => isWrite(cycle(i))).map(at))

  /** The cycle's reads, per read, each at its median over the cycles. */
  def queryMs(rec: Recorder): Double =
    mixOfMedians(rec, cycle.indices.filterNot(i => isWrite(cycle(i))).map(at))

  private def isWrite(verb: String): Boolean = !verb.startsWith("read_") &&
    verb != "snapshot_at" && verb != "history"
  val rateKind = "commit"
  val opKinds = Seq("commit", "read")
  val StatsCols = Seq("_id")

  def generate(spark: SparkSession): Unit = ()

  private def initial(n: Int, s: Long): Seq[Pet] = {
    val r = new java.util.SplittableRandom(s)
    (1 to n).map(i => Pet.random(2 * i, 0, r))
  }

  private def frame(spark: SparkSession, rows: Seq[Pet]): DataFrame =
    spark.createDataFrame(rows.map(_.toRow).asJava, Pet.schema)

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** The initial table, in one `create`: one file per `FileSpan`-id range
    * (the sorted rows sliced evenly into `InitFiles` partitions), so a
    * window inside a range touches exactly one file for every seed.
    * Returns the committed version.
    */
  private def createClustered(spark: SparkSession, t: String, rows: Seq[Pet]): Long = {
    val rdd = spark.sparkContext.parallelize(rows.sortBy(_.id).map(_.toRow), InitFiles)
    VersionedTable.create(spark.createDataFrame(rdd, Pet.schema), t, StatsCols).version
  }

  /** Every verb once on a full-size table of its own. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val t = s"$dir/table"
    createClustered(spark, t, initial(InitRows, seed + 1))
    val r = new java.util.SplittableRandom(seed + 2)
    VersionedTable.append(frame(spark, (1 to 200).map(i => Pet.random(2 * InitRows + i, 1, r))),
      t, StatsCols)
    val upd = (1 to 60).map(Pet.random(_, 1, r)) ++ (301 to 320).map(Pet.random(_, 1, r))
    VersionedTable.merge(frame(spark, upd), t, Seq("_id"), StatsCols)
    VersionedTable.mergeWithDv(frame(spark, upd.map(_.copy(rev = 2))), t, Seq("_id"), StatsCols)
    VersionedTable.update(spark, t, col("_id").between(100, 120),
      Map("breed_standard" -> lit("X")))
    VersionedTable.updateWithDv(spark, t, col("_id").between(130, 150),
      Map("breed_standard" -> lit("Y")))
    VersionedTable.delete(spark, t, col("_id").between(200, 205))
    VersionedTable.deleteWithDv(spark, t, col("_id").between(210, 215))
    VersionedTable.compactTable(spark, t, 2, StatsCols)
    VersionedTable.readWhere(spark, t, col("_id") === 7).collect()
    VersionedTable.snapshotAt(spark, t, 2).agg(count(lit(1)), sum(Pet.checksumCol)).head()
    VersionedTable.history(spark, t).collect()
  }

  // traced-segment read pruning and write accounting
  private var filesScanned = 0L
  private var filesLive = 0L
  private var suppliedBytes = 0L
  private var tableBytesWritten = 0L
  private var tracedTable: String = _

  def run(spark: SparkSession, dir: String, budget: Budget,
      tracer: Option[Tracer], rec: Recorder): Unit = {
    def span[T](n: String)(f: => T): T = tracer.fold(f)(_.span(s"sources.vt.$n")(f))
    val model = mutable.HashMap[Int, Pet]()
    val versions = mutable.LinkedHashMap[Long, (Long, Long)]()
    def record(v: Long): Unit = versions(v) = (model.size.toLong, model.values.map(_.checksum).sum)
    var t = ""
    var bytesAtCreate = 0L
    var nextId = 0
    val r = new java.util.SplittableRandom(seed * 31L + 7L)
    var done = 0
    var supplied = 0L
    var written = 0L
    var perm = Vector.empty[Int]
    var snapshotsDone = 0
    def write(verb: String, supplies: Seq[Pet])(f: => VersionedTable.Snapshot)
        (apply: => Unit): Boolean = {
      val snap = rec.time("commit")(span(verb)(f))
      sample("commit", verb)
      apply
      record(snap.version)
      supplied += supplies.map(_.rawBytes).sum
      rec.rows += supplies.size
      true
    }
    def rows(lo: Int, hi: Int): Seq[Pet] = (lo to hi).flatMap(model.get)
    // the last `kind` sample, again under its verb and its cycle position
    def sample(kind: String, verb: String): Unit = {
      val ms = rec.ms(kind).last
      rec.add(s"$kind.$verb", ms)
      rec.add(at(done % CycleLen), ms)
    }

    val start = System.nanoTime()
    def meanCycleNs = if (done == 0) 0L else (System.nanoTime() - start) / (done / CycleLen)
    while (done % CycleLen != 0 || budget.more(done, meanCycleNs)) {
      val rev = done + 1
      val verb = cycle(done % CycleLen)
      if (done % CycleLen == 0) {
        // every cycle starts from a fresh clustered table (untimed):
        // compaction repartitions round-robin, so a compacted table no
        // longer keeps one id range per file and a second cycle on it
        // would price different shapes
        t = s"$dir/table-${done / CycleLen}"
        model.clear()
        versions.clear()
        snapshotsDone = 0
        nextId = 2 * InitRows + 1
        val init = initial(InitRows, r.nextLong())
        val v = createClustered(spark, t, init)
        init.foreach(p => model(p.id) = p)
        record(v)
        bytesAtCreate = dirBytes(t)
        perm = new scala.util.Random(r.nextLong()).shuffle((0 until InitFiles).toVector)
      }
      // every DML verb of a cycle works in its own initial range file, so
      // no file's deleted share crosses the DV density threshold and every
      // seed prices the same shapes
      val file = perm(slots(done % CycleLen))
      val lo = file * FileSpan + 1 + r.nextInt(FileSpan - (verb match {
        case "merge" | "merge_dv" => MergeWindow
        case "update" | "update_dv" => UpdateWindow
        case "delete" | "delete_dv" => DeleteWindow
        case "read_range" => RangeWindow
        case _ => 0
      }))
      rec.op(s"$verb #$rev") {
        verb match {
          case "append" =>
            val add = (nextId until nextId + 200).map(Pet.random(_, rev, r))
            write(verb, add)(VersionedTable.append(frame(spark, add), t, StatsCols)) {
              add.foreach(p => model(p.id) = p)
              nextId += 200
            }
          case "merge" | "merge_dv" =>
            // inserts take free odd ids inside the window, so the file
            // that absorbs them keeps its id range
            val fresh = new scala.util.Random(r.nextLong())
              .shuffle((lo to lo + MergeWindow).filter(id => id % 2 == 1 && !model.contains(id)))
              .take(30)
            val upd = rows(lo, lo + MergeWindow).map(p => Pet.random(p.id, rev, r)) ++
              fresh.map(Pet.random(_, rev, r))
            val df = frame(spark, upd)
            write(verb, upd)(
              if (verb == "merge") VersionedTable.merge(df, t, Seq("_id"), StatsCols)
              else VersionedTable.mergeWithDv(df, t, Seq("_id"), StatsCols)) {
              upd.foreach(p => model(p.id) = p)
            }
          case "update" | "update_dv" =>
            val hi = lo + UpdateWindow
            val breed = s"REVISED BREED $rev"
            val pred = col("_id").between(lo, hi)
            val set = Map("breed_standard" -> lit(breed),
              "processed_ts" -> lit(new Timestamp(Pet.revMs(rev))))
            write(verb, Nil)(
              if (verb == "update") VersionedTable.update(spark, t, pred, set)
              else VersionedTable.updateWithDv(spark, t, pred, set)) {
              rows(lo, hi).foreach(p => model(p.id) = p.copy(breedStandard = breed, rev = rev))
            }
          case "delete" | "delete_dv" =>
            val hi = lo + DeleteWindow
            val pred = col("_id").between(lo, hi)
            write(verb, Nil)(
              if (verb == "delete") VersionedTable.delete(spark, t, pred)
              else VersionedTable.deleteWithDv(spark, t, pred)) {
              (lo to hi).foreach(model.remove)
            }
          case "compact" =>
            write(verb, Nil)(VersionedTable.compactTable(spark, t, CompactFiles, StatsCols))(())
          case "read_point" | "read_range" =>
            val (pred, expect) =
              if (verb == "read_point") (col("_id") === lo, model.get(lo).toSeq)
              else (col("_id").between(lo, lo + RangeWindow), rows(lo, lo + RangeWindow))
            val got = rec.time("read")(span("read_where")(
              VersionedTable.readWhere(spark, t, pred).collect()))
            sample("read", verb)
            if (tracer.isDefined) {
              val (kept, pruned) = VersionedTable.pruneInfo(spark, t, pred)
              filesScanned += kept
              filesLive += kept + pruned
            }
            rec.check(got.map(Pet.fromRow).sortBy(_.id).toSeq == expect.sortBy(_.id),
              s"read_where #$rev [$lo]: ${got.length} rows, expected ${expect.size}")
          case "snapshot_at" =>
            // one to three versions back, in turn
            val vs = versions.keys.toIndexedSeq
            val v = vs(math.max(0, vs.size - 2 - snapshotsDone % 3))
            snapshotsDone += 1
            val got = rec.time("read")(span(verb)(
              VersionedTable.snapshotAt(spark, t, v)
                .agg(count(lit(1)), sum(Pet.checksumCol)).head()))
            sample("read", verb)
            val (n, sumC) = versions(v)
            rec.check(got.getLong(0) == n && got.getLong(1) == sumC,
              s"snapshot_at v$v: (${got.getLong(0)}, ${got.get(1)}) != ($n, $sumC)")
          case "history" =>
            val got = rec.time("read")(span(verb)(VersionedTable.history(spark, t).collect()))
            sample("read", verb)
            rec.check(got.length == versions.size &&
              got.head.getLong(0) == versions.keys.max,
              s"history: ${got.length} versions, expected ${versions.size}")
        }
      }
      done += 1
      if (done % CycleLen == 0) {
        rec.op(s"final snapshot of $t") {
          val got = VersionedTable.read(spark, t).agg(count(lit(1)), sum(Pet.checksumCol)).head()
          val (n, sumC) = (model.size.toLong, model.values.map(_.checksum).sum)
          rec.check(got.getLong(0) == n && got.getLong(1) == sumC,
            s"final snapshot of $t: (${got.getLong(0)}, ${got.get(1)}) != ($n, $sumC)")
        }
        written += dirBytes(t) - bytesAtCreate
      }
    }
    suppliedBytes = supplied
    tableBytesWritten = written
    if (tracer.isDefined) {
      tracedTable = t
      tracedBytesWritten = tableBytesWritten
      tracedSpark = spark
    }
  }

  private var tracedBytesWritten = 0L
  private var tracedSpark: SparkSession = _

  def ownMetrics(rec: Recorder): Map[String, Any] = {
    val commit = rec.ms("commit")
    val read = rec.ms("read")
    val tailPct = Stats.supportedTail(read.size)
    val commitTail = Stats.supportedTail(commit.size)
    Map(
      "commit_p50_ms" -> Stats.median(commit),
      "commit_tail_ms" -> Stats.percentile(commit, commitTail),
      "commit_tail_pct" -> commitTail,
      "commits" -> commit.size,
      "read_p50_ms" -> Stats.median(read),
      "read_tail_ms" -> Stats.percentile(read, tailPct),
      "read_tail_pct" -> tailPct,
      "reads" -> read.size,
      "write_amp" -> tableBytesWritten.toDouble / suppliedBytes,
      "write_amp_base" -> ("bytes written under the table dir after create / raw bytes " +
        "of the rows supplied by append and merge batches (int and date 4 B, " +
        "timestamp 8 B, boolean 1 B, strings their UTF-8 length)"),
      "bytes_written" -> tableBytesWritten,
      "supplied_bytes" -> suppliedBytes) ++
      rec.samples.keys.filter(k => k.contains('.') && !k.startsWith("at")).map(k => s"${k}_p50_ms" -> Stats.median(rec.ms(k)))
  }

  def layers(t: Tracer): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    Metrics.vtVerbs.foreach { v =>
      val ss = t.spansNamed(s"sources.vt.$v")
      val js = t.jobsInSpans(t.withDescendants(ss))
      val calls = ss.size.max(1)
      out(s"sources.vt.$v.ms") = ss.map(_.ms).sum.toDouble / calls
      out(s"sources.vt.$v.driver_ms") = t.driverMs(ss, js).toDouble / calls
      out(s"sources.vt.$v.jobs") = js.size
    }
    val snaps = VersionedTable.snapshots(tracedSpark, tracedTable)
    val pairs = snaps.zip(snaps.drop(1))
    out("sources.vt.files_added") = pairs.map { case (a, b) => b.files.toSet.diff(a.files.toSet).size }.sum
    out("sources.vt.files_removed") = pairs.map { case (a, b) => a.files.toSet.diff(b.files.toSet).size }.sum
    out("sources.vt.bytes_written") = tracedBytesWritten.toDouble
    out("sources.vt.live_files") = snaps.last.files.size
    // rows soft-deleted through deletion vectors over the segment (a
    // compaction folds them, so the last snapshot alone would read 0)
    out("sources.vt.dv_rows") = pairs.map { case (a, b) =>
      math.max(0L, b.dvn.values.sum - a.dvn.values.sum) }.sum.toDouble
    out("sources.vt.storage_peak_bytes") = t.storagePeakBytes.toDouble
    out("sources.vt.read.files_scanned") = filesScanned.toDouble
    out("sources.vt.read.files_live") = filesLive.toDouble
    out("sources.vt.read.prune_ratio") =
      if (filesLive == 0) 0.0 else 1.0 - filesScanned.toDouble / filesLive
    out.toMap
  }
}
