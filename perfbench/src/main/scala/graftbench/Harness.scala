package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark invocation's settings (see run.py for the flags). */
final case class RunConfig(
    seed: Int,
    seconds: Double,
    trace: Boolean,
    runDir: Path,
    dataDir: Option[String],
    mutate: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  def dir(name: String): Path = { val p = runDir.resolve(name); Files.createDirectories(p); p }
}

/** What one workload reports: metrics by name with unit, operation counts
  * (an operation is a job, a query or a file; an exception or a failed
  * correctness check counts it as failed) and free-form gate details. */
final class Result(val workload: String) {
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val details: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseStart = System.nanoTime()
  /** Ends the current phase of the run (set-up, loop, gate, ...) under
    * `name`; the result file keeps every phase's wall. */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases(name) = (now - phaseStart) / 1e9
    phaseStart = now
    System.err.println(f"[perfbench] $workload: $name ${phases(name)}%.1f s")
  }

  /** Runs one operation; an exception is recorded as a failure, not thrown. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** A correctness check over already-counted operations. */
  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) fail(s"gate $what: $detail")

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  def toJson: String = Json.obj(
    "workload" -> workload,
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
    "metric_order" -> metrics.keys.toSeq,
    "phases_s" -> phases,
    "details" -> details.toMap)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](body: => T): (Double, T) = { val t0 = now(); val r = body; (secs(t0), r) }
  /** CPU seconds used so far by every thread of this JVM (Spark's local
    * executors, query planning, GC and JIT threads). */
  def cpuSecs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** Peak live heap: heap used right after a full collection at operation
  * boundaries, and after every major collection the JVM runs on its own. */
object Heap {
  @volatile private var peak = 0L
  private val majorWatch = new java.util.concurrent.atomic.AtomicBoolean(false)

  def install(): Unit = if (majorWatch.compareAndSet(false, true)) {
    import java.lang.management.ManagementFactory
    import javax.management.{NotificationEmitter, NotificationListener, Notification}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          var used = 0L
          info.getGcInfo.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
          record(used)
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  private def record(used: Long): Unit = synchronized { if (used > peak) peak = used }

  /** Full GC, then record the live heap. Call outside timed regions. */
  def sample(): Unit = {
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    record(mx.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  /** Starts a new peak (each workload reports its own). */
  def reset(): Unit = synchronized { peak = 0L }
}

object Session {
  /** The one session every workload of a run shares: local[cores], the
    * settings graft.Bench uses, and all temporary state under the run dir. */
  def start(cfg: RunConfig): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.dir("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", cfg.dir("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Files2 {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

/** Minimal JSON rendering for the result file (no parsing needed). */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def render(v: Any): String = v match {
    case null | None => "null"
    case RawJson(text) => text
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
