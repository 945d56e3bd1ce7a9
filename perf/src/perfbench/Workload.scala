package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** How long a segment runs: exactly `fixedOps` operations (the traced
  * segments, whose counters must repeat for a seed), or at least `minOps`
  * and then while the next unit of work, expected to take `unitNs`, would
  * end no more than half a unit past `deadlineNs`.
  */
final case class Budget(deadlineNs: Long, minOps: Int, fixedOps: Int) {
  def more(done: Int, unitNs: Long): Boolean =
    if (fixedOps > 0) done < fixedOps
    else done < minOps || System.nanoTime() + unitNs / 2 < deadlineNs
}

object Budget {
  def timed(seconds: Double, minOps: Int): Budget =
    Budget(System.nanoTime() + (seconds * 1e9).toLong, minOps, 0)
  def fixed(ops: Int): Budget = Budget(Long.MaxValue, 0, ops)
}

/** Latency samples, op outcomes and output-check failures of one segment. */
final class Recorder {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  /** Input rows the segment's write side processed. */
  var rows = 0L

  def add(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += ms

  def ms(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  /** Time `f` in milliseconds under `kind`. */
  def time[T](kind: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    add(kind, (System.nanoTime() - t0) / 1e6)
    r
  }

  /** One operation: counts it attempted, and failed when `f` returns
    * false (an output check did not hold) or throws.
    */
  def op(what: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try f
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    if (!ok) failed += 1
    ok
  }

  /** An output check; records `what` when it does not hold. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok && failures.size < 50) failures += what
    ok
  }
}

/** One benchmark workload. The benchmark calls, in order: [[generate]]
  * (untimed), [[warmUp]] once per set-up cycle, then [[run]] per segment;
  * each segment starts from empty tables over the same generated inputs.
  */
trait Workload {
  def name: String

  /** Guaranteed sample size per untimed run, and the operation count of
    * one traced segment.
    */
  def minOps: Int
  def tracedOps: Int

  def generate(spark: SparkSession): Unit
  def warmUp(spark: SparkSession, dir: String): Unit
  def run(spark: SparkSession, dir: String, budget: Budget,
      tracer: Option[Tracer], rec: Recorder): Unit

  /** The end-to-end slots every workload fills from one untraced
    * segment, `batch_p50_ms` and `query_p50_ms`: medians over the
    * workload's write/transform unit and over its read unit.
    */
  def batchMs(rec: Recorder): Double
  def queryMs(rec: Recorder): Double

  /** Mean over `kinds` (one entry per operation of a fixed mix, so
    * repeated kinds weigh by their count) of each kind's median sample:
    * the mix priced so that one slow operation moves its kind's median,
    * not the figure.
    */
  protected def mixOfMedians(rec: Recorder, kinds: Seq[String]): Double =
    kinds.map(k => Stats.median(rec.ms(k))).sum / kinds.size

  /** Samples whose total time processed [[Recorder.rows]]. */
  def rateKind: String

  /** Samples that together are the segment's timed operations, each
    * operation once.
    */
  def opKinds: Seq[String]

  /** The workload's own metric names (artifact only). */
  def ownMetrics(rec: Recorder): Map[String, Any]

  /** Per-layer metrics from a traced segment. */
  def layers(tracer: Tracer): Map[String, Double]
}
