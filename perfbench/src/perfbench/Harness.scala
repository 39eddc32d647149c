package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed call into the program. */
final case class OpRec(kind: String, startMs: Long, endMs: Long,
    seconds: Double, ok: Boolean)

/** Closed-loop bookkeeping for one run: timed ops, fail-soft error
  * accounting, the measurement window and the live-heap samples.
  *
  * Every op starts on a freshly collected heap: the full GC before it is
  * not timed, and the heap still in use after it (the live set the
  * previous op left) is one heap sample. */
final class Harness(val spark: SparkSession, val seconds: Int,
    val trace: Option[Trace]) {
  val ops = ArrayBuffer[OpRec]()
  val failures = ArrayBuffer[String]()
  private val failedOps = scala.collection.mutable.Set[Int]()
  private var windowStart = 0L
  private val heapSamples = ArrayBuffer[Double]()
  private var sampling = false

  def attempted: Int = ops.size
  def failed: Int = failedOps.size
  /** Live heap in MB at the sampled op boundaries. */
  def heapMb: Seq[Double] = heapSamples.toSeq

  /** Opens the measurement window; heap samples count from here on. */
  def startWindow(): Unit = {
    windowStart = System.nanoTime()
    sampling = true
  }

  /** Takes a last heap sample and ends sampling, so the samples cover
    * the same ops in every run whatever the host's speed. */
  def endHeapSampling(): Unit = {
    settle()
    sampling = false
  }

  def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
  def windowOpen: Boolean = elapsed < seconds

  /** Two full collections: Spark's ContextCleaner frees broadcast and
    * shuffle blocks only after a collection has cleared their driver-side
    * references, so one collection alone leaves a timing-dependent heap. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(20)
    System.gc()
    if (sampling) {
      heapSamples += java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
  }

  /** Runs `body` as one timed op. A throw is recorded with its message and
    * counted as a failed op; the run goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    settle()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    ops += OpRec(kind, startMs, System.currentTimeMillis(), secs, res.isRight)
    res match {
      case Right(v) => Some(v)
      case Left(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check on the latest op; a failing check fails that op. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(s"${ops.lastOption.map(_.kind).getOrElse("setup")}: check failed: $what")
    ok
  }

  private def fail(msg: String): Unit = {
    if (ops.isEmpty) ops += OpRec("setup", 0L, 0L, 0.0, ok = false)
    failedOps += ops.size - 1
    failures += msg
    System.err.println(s"[perfbench] $msg")
  }

  def timesOf(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok).map(_.seconds).toSeq

  /** Per-layer figures of every successful `kind` op (traced runs). */
  def tracesOf(kind: String): Seq[(OpRec, OpTrace)] = trace.toSeq.flatMap { t =>
    ops.filter(o => o.kind == kind && o.ok).map(o => o -> t.forWindow(o.startMs, o.endMs))
  }

  /** Wall seconds of a block, untimed as an op. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent content fingerprint: row count plus the sum of a
  * per-row xxhash64 over every column. Floating-point values are rounded
  * to 6 decimals first, so a different summation order cannot change it. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      norm(col(f.name), f.dataType)): _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }
}
