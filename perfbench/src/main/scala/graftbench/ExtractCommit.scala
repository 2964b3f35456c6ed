package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.io.TableIO
import graft.kernel.Parse
import graft.pipeline.Extract

/** The production job, closed loop with one caller: a raw contract table
  * -> `Extract.extractContract` -> `TableIO.writeSnapshot`.
  *
  * The first job runs cold (`first_pass_s`). The kernel-direct reference
  * pass of the correctness gate runs next, then untimed warm-up jobs, so
  * the timed jobs see a JIT-compiled engine. */
object ExtractCommit extends Workload {
  val name = "extract_commit"
  /** Docs per job: the standard mix (giants 1-in-20, empty/broken 1-in-20),
    * sized so many warm jobs fit one run. */
  val Docs = 1500
  /** Input builds per run; `setup_s` is their median (the first, in a
    * fresh JVM, is the slowest). */
  val SetupReps = 4
  /** Untimed jobs between the cold job and the timed ones (measured: job
    * walls keep falling for the first four or so warm jobs). The traced
    * run reports no job walls and compares traced with untraced jobs
    * pairwise, so it needs none. */
  def warmupJobs(ctx: Ctx): Int = if (ctx.cfg.trace) 0 else 4
  /** `extractContract`'s default: the 150-300 page giants stay narrow. */
  val Threshold: Int = 512 * Parse.SpansPerPage
  /** The traced run's managed-table legs: giants above this are page-split. */
  val SkewThreshold: Int = 128 * Parse.SpansPerPage

  def run(ctx: Ctx): Result = {
    val r = new Result(name)
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val ids = seededRange(ctx.cfg.seed, Docs)(Fixtures.corpusIds(_))
    val base = ctx.cfg.dir(name)
    val input = base.resolve("input").toString
    val table = base.resolve("table").toString

    // set-up: the raw contract table, and the read settings graft derives from it
    var conf = Map.empty[String, String]
    val setupS = Workload.setupReps(r, ctx, SetupReps) { _ =>
      Clock.time {
        spark.createDataset(ids).repartition(ctx.cores * 4).map(Fixtures.gen _)
          .write.mode("overwrite").parquet(input)
        conf = readConf(spark, input, ctx.cores)
      }._1
    }
    r.phase("setup")

    withConf(spark, conf) {
      def job(i: Int): Unit = t.span("job") {
        val in = t.span("io.read")(spark.read.parquet(input))
        val out = t.span("pipeline.extractContract")(Extract.extractContract(in))
        val m = t.span("io.writeSnapshot")(TableIO.writeSnapshot(out, table, s"s$i"))
        t.count("rows", m.rowCount.toDouble)
        r.check(s"job $i rows", m.rowCount == Docs, s"${m.rowCount} rows committed, expected $Docs")
      }
      def after(i: Int): Unit = {
        if (i > 0) Files2.deleteTree(Paths.get(table, "data", s"snapshot=s${i - 1}"))
        Heap.sample()
      }
      def untimed(i: Int): Option[Double] = { val w = r.op(s"job $i")(Clock.time(job(i))._1); after(i); w }

      val cold = untimed(0)
      val ref = t.span("kernel.direct")(Kernel.directSummary(Kernel.direct(spark, ids, ctx.cores * 4)))
      (1 to warmupJobs(ctx)).foreach(untimed)
      r.phase("cold_and_warmup")
      val loop = Loops.run(r, ctx, warmupJobs(ctx) + 1)(job)(after)
      r.phase("loop")

      // correctness gate: the last committed snapshot against the kernel-direct pass
      try {
        val snap = TableIO.readSnapshot(spark, table)
        val victim = ids.find(Fixtures.archetypeOf(_) == "two_column_text").get
        val observed =
          if (!ctx.cfg.mutate) snap
          else snap.withColumn("spans",
            when(col("doc_id") === victim, reverse(col("spans"))).otherwise(col("spans")))
        val got = Kernel.digest(observed)
        r.details("gate") = Map("snapshot" -> got.toString, "kernel_direct" -> ref.digest.toString)
        r.check("snapshot digest", got == ref.digest, s"snapshot $got != kernel-direct ${ref.digest}")
      } catch { case e: Throwable => r.fail(s"gate: ${e.getMessage}") }
      r.phase("gate")

      val walls = loop.traced ++ loop.untraced
      Workload.timingMetrics(r, ctx, setupS, Stats.median(walls), Stats.median(loop.cpu),
        ref.pages, walls)
      r.metric("first_pass_s", cold.getOrElse(Double.NaN), "s")

      if (ctx.cfg.trace) {
        layers(r, ctx, input, ids, ref, loop)
        // io commit alone: writeSnapshot over already-extracted rows
        val extracted = Extract.extractContract(spark.read.parquet(input)).persist()
        extracted.count()
        val commitS = t.span("io.commit")(Clock.time(TableIO.writeSnapshot(extracted, table, "commit-probe"))._1)
        extracted.unpersist(blocking = true)
        val outBytes = Files2.bytesUnder(Paths.get(table, "data", "snapshot=commit-probe")).toDouble
        r.metric("io.commit_s", commitS, "s")
        r.metric("io.output_bytes_per_input_byte", outBytes / Files2.bytesUnder(Paths.get(input)), "ratio")
        managedLayers(r, ctx, input, base.resolve("managed").toString, ids, ref)
        r.phase("layers")
        StreamLeg.run(ctx, r)
        r.phase("stream")
      }
    }
    r
  }

  /** Per-layer legs over the raw input (traced run only). Each leg is its
    * own job over the same input, timed from outside. */
  private def layers(r: Result, ctx: Ctx, input: String, ids: Seq[String], ref: Kernel.DirectSummary,
      loop: TracedLoop): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    val nSpans = coalesce(size(col("spans")), lit(0))
    def timed(span: String)(body: => Unit): Double = t.span(span)(Clock.time(body)._1)

    val scanS = timed("io.scan")(Workload.force(rows(spark, input, lit(true))))
    val narrowS = timed("pipeline.narrow_leg") {
      Workload.force(Extract.extractSpansDF(rows(spark, input, nSpans <= Threshold)))
    }
    r.metric("io.scan_s", scanS, "s")
    r.metric("io.input_bytes", Files2.bytesUnder(Paths.get(input)).toDouble, "bytes")
    r.metric("pipeline.narrow_leg_s", narrowS, "s")
    r.metric("pipeline.row_codec_s", narrowS - scanS - ref.busySecs / ctx.cores, "s")

    // the end-to-end job's own Spark work (last traced job)
    val w = loop.windows.last
    r.metric("pipeline.jobs", w.jobs, "count")
    r.metric("pipeline.stages", w.stages, "count")
    r.metric("pipeline.tasks", w.tasks, "count")
    r.metric("pipeline.task_skew", w.taskSkew, "ratio")
    r.metric("pipeline.shuffle_write_bytes", w.shuffleWriteBytes, "bytes")
    r.metric("pipeline.shuffle_read_bytes", w.shuffleReadBytes, "bytes")
    r.metric("pipeline.spill_bytes", w.spillBytes, "bytes")
    r.metric("pipeline.executor_cpu_s", w.cpuSecs, "s")
    r.metric("pipeline.gc_s", w.gcSecs, "s")
    r.metric("pipeline.cpu_utilization", w.cpuSecs / (loop.traced.last * ctx.cores), "ratio")

    kernelCounts(r, ref)
    val giants = ids.filter(id => Fixtures.archetypeOf(id) == "skewed_giant")
    val pageUs = t.span("kernel.pages")(Kernel.pageMicros(spark, giants, ctx.cores * 4)).toSeq
    r.metric("kernel.page_us_p50", Stats.pct(pageUs, 50), "us")
    r.metric("kernel.page_us_p99", Stats.pct(pageUs, 99), "us")
    selfTimes(r, ctx)

    val jobs = t.named("job").takeRight(loop.traced.size)
    r.metric("trace.unattributed_s", Stats.median(jobs.map(t.selfSecs)), "s")
    r.metric("trace.overhead_s", Stats.median(loop.traced) - Stats.median(loop.untraced), "s")
  }

  /** The skew path's layers over the same corpus in the managed layout:
    * `TableIO.writeContractInput`, then the giant leg of
    * `Extract.extractContractFromTable` at a threshold below the giant size,
    * so the page-split exchange and `n_spans` row-group pruning do work.
    * The whole managed-table extraction must match the kernel-direct pass. */
  private def managedLayers(r: Result, ctx: Ctx, input: String, managed: String, ids: Seq[String],
      ref: Kernel.DirectSummary): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    val stats = ctx.stats.get
    // graft.Bench's managed-leg row-group size, from the raw corpus size
    val block = math.max(1L << 20, math.min(8L << 20, TableIO.autoSplitBytes(input, 512, 1)))
    val ingestS = t.span("io.writeContractInput") {
      Clock.time(TableIO.writeContractInput(spark.read.parquet(input), managed, blockBytes = block))._1
    }
    val managedBytes = Files2.bytesUnder(Paths.get(managed)).toDouble
    val giants = col("n_spans") > SkewThreshold
    val (_, scan) = stats.measure(t.span("io.giant_leg_scan")(Workload.force(rows(spark, managed, giants))))
    val ((splitS, _), split) = stats.measure(t.span("pipeline.split_leg") {
      Clock.time(Workload.force(Extract.extractContract(rows(spark, managed, giants),
        skewSpanThreshold = SkewThreshold)))
    })
    r.metric("io.managed_ingest_s", ingestS, "s")
    r.metric("io.giant_leg_bytes_ratio", scan.inputBytes / managedBytes, "ratio")
    r.metric("pipeline.split_leg_s", splitS, "s")
    r.metric("pipeline.split_leg_shuffle_bytes", split.shuffleWriteBytes, "bytes")
    r.metric("pipeline.split_leg_task_skew", split.taskSkew, "ratio")

    try {
      val out = Extract.extractContractFromTable(spark, managed, skewSpanThreshold = SkewThreshold)
      val got = Kernel.digest(if (ctx.cfg.mutate) out.filter(col("doc_id") =!= ids.head) else out)
      r.details("managed_gate") = Map("managed" -> got.toString, "kernel_direct" -> ref.digest.toString)
      r.check("managed digest", got == ref.digest, s"managed $got != kernel-direct ${ref.digest}")
    } catch { case e: Throwable => r.fail(s"managed gate: ${e.getMessage}") }
  }

  private def rows(spark: SparkSession, path: String, filter: Column): DataFrame =
    spark.read.parquet(path).filter(filter).select(col("doc_id"), col("spans"))

  /** Kernel counts and busy time from the kernel-direct reference pass. */
  private def kernelCounts(r: Result, ref: Kernel.DirectSummary): Unit = {
    r.metric("kernel.busy_s", ref.busySecs, "s")
    r.metric("kernel.doc_us_p50", ref.docUsP50, "us")
    r.metric("kernel.doc_us_p99", ref.docUsP99, "us")
    r.metric("kernel.docs", ref.digest.rows, "count")
    r.metric("kernel.pages", ref.pages, "count")
    r.metric("kernel.spans_out", ref.spansOut, "count")
    r.metric("kernel.quarantined", ref.quarantined, "count")
    r.metric("kernel.quarantine_ratio", ref.quarantined.toDouble / math.max(1L, ref.digest.rows), "ratio")
  }

  private def selfTimes(r: Result, ctx: Ctx): Unit = {
    val st = ctx.trace.span("kernel.self_times")(Kernel.selfTimes(Kernel.sampleIds))
    r.metric("kernel.parse_s", st.parseSecs, "s")
    r.metric("kernel.layout_s", st.layoutSecs, "s")
    r.metric("kernel.finalize_s", st.finalizeSecs, "s")
    r.metric("kernel.alloc_bytes_per_page", st.allocBytesPerPage, "bytes")
  }

  /** The io read settings graft ships for extraction inputs: byte-budgeted
    * columnar batch and corpus-adaptive split size (as graft.Bench). */
  private def readConf(spark: SparkSession, input: String, cores: Int): Map[String, String] = Map(
    "spark.sql.parquet.columnarReaderBatchSize" -> TableIO.autoBatchSize(spark.read.parquet(input)).toString,
    "spark.sql.files.maxPartitionBytes" -> TableIO.autoSplitBytes(input, cores).toString,
    "spark.sql.files.openCostInBytes" -> (1L << 20).toString)

  private def withConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Doc ids `[start, start + n)` of a fixture id list, `start` picked by
    * the seed: the same seed always gives the same documents. */
  def seededRange(seed: Int, n: Int)(idsUpTo: Int => Seq[String]): Seq[String] = {
    val start = Math.floorMod(seed, 100) * n
    idsUpTo(start + n).drop(start)
  }
}

/** Timed warm jobs of a closed loop: walls, the process CPU seconds of the
  * untraced ones, and what the traced run adds: the listener window of
  * each traced job. */
final case class TracedLoop(traced: Seq[Double], untraced: Seq[Double], cpu: Seq[Double],
    windows: Seq[Window])

object Loops {
  /** Timed warm jobs from index `first`. An untraced run repeats them for
    * `seconds` (at least five); the traced run does four, untraced and
    * traced (spans and listener on) in the order u t t u, so
    * `trace.overhead_s` compares jobs of the same mean warmth. */
  def run(r: Result, ctx: Ctx, first: Int)(job: Int => Unit)(after: Int => Unit): TracedLoop = {
    val cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timed(i: Int)(body: => Unit): Option[Double] = {
      val c0 = Clock.cpuSecs()
      val w = r.op(s"job $i")(Clock.time(body)._1)
      if (w.isDefined) cpu += Clock.cpuSecs() - c0
      after(i)
      w
    }
    ctx.stats match {
      case None =>
        val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
        val t0 = Clock.now()
        var i = first
        while (i < first + 5 || Clock.secs(t0) < ctx.cfg.seconds) {
          timed(i)(job(i)).foreach(walls += _)
          i += 1
        }
        TracedLoop(walls.toSeq, Nil, cpu.toSeq, Nil)
      case Some(stats) =>
        val windows = scala.collection.mutable.ArrayBuffer.empty[Window]
        val walls = (first until first + 4).map { i =>
          // untraced, traced, traced, untraced: a warming trend cancels out
          if (i - first == 0 || i - first == 3) (false, timed(i)(ctx.trace.without(job(i))))
          else (true, timed(i) { val (_, w) = stats.measure(job(i)); windows += w })
        }
        TracedLoop(walls.filter(_._1).flatMap(_._2), walls.filterNot(_._1).flatMap(_._2), cpu.toSeq,
          windows.toSeq)
    }
  }
}
