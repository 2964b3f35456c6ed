package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared context of one workload run. `stats` is attached only in the
  * traced run. */
final case class Ctx(spark: SparkSession, cfg: RunConfig, trace: Trace, stats: Option[TaskStats],
    sessionSecs: Double) {
  def cores: Int = cfg.cores
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

object Workload {
  val all: Seq[Workload] = Seq(ExtractCommit, CurateSuite)

  /** Materializes a plan without letting Catalyst prune computed columns
    * (a bare count() may time the scan only). */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` over `xs` on `threads` threads (concurrent Spark jobs) and
    * waits for all of them; the first failure is rethrown. */
  def parallel[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map { x =>
      val task: java.util.concurrent.Callable[Unit] = () => f(x)
      pool.submit(task)
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Builds the inputs `reps` times (the last build is the one used) and
    * returns the median wall, which is reported as `setup_s`. The traced
    * run builds once. */
  def setupReps(r: Result, ctx: Ctx, reps: Int)(build: Int => Double): Double = {
    val walls = (1 to (if (ctx.cfg.trace) 1 else reps)).map(build)
    r.details("setup_walls") = walls
    Stats.median(walls)
  }

  /** The end-to-end metrics every workload reports. `jobSecs` is the job
    * wall (`job_s`) and `jobCpuSecs` the process CPU seconds it took;
    * `pages` is the input one job processes, and `opWalls` are the walls of
    * the timed operations (jobs or queries). */
  def timingMetrics(r: Result, ctx: Ctx, setupSecs: Double, jobSecs: Double, jobCpuSecs: Double,
      pages: Double, opWalls: Seq[Double]): Unit = {
    r.metric("setup_s", setupSecs, "s")
    r.metric("session_start_s", ctx.sessionSecs, "s")
    r.metric("job_s", jobSecs, "s")
    r.metric("job_cpu_s", jobCpuSecs, "s")
    r.metric("pages_per_s", pages / jobSecs, "pages/s")
    r.metric("query_p50_s", Stats.pct(opWalls, 50), "s")
    // the highest percentile with at least ten samples beyond it
    if (opWalls.size >= 50) r.metric("query_p80_s", Stats.pct(opWalls, 80), "s")
    r.metric("timed_ops", opWalls.size, "count")
    r.metric("live_heap_peak_mb", Heap.peakMb, "MB")
    r.details("op_walls") = opWalls
  }
}
