package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.model.Span
import graft.pipeline.Extract
import graft.streaming.StreamingExtract

/** The streaming layer, measured in the traced run: an open loop into
  * `StreamingExtract.runFileStream`. Fixture files written before the clock
  * starts are renamed atomically into the stream's source directory on a
  * fixed schedule, and each file's latency runs from its scheduled time to
  * the commit of the micro-batch that contained it.
  *
  * File 0 goes first, alone: its micro-batch is the session's first
  * streaming one (`stream.first_batch_s`). The schedule's first
  * `WarmupFiles` files warm the JIT and are not measured. */
object StreamLeg {
  val DocsPerFile = 32
  /** Offered load: 10 files/s of the standard fixture mix (~4k pages/s,
    * about a third of what extract_commit sustains at local[4]: at higher
    * load, queueing turned a co-tenant's brief CPU steal into a doubled
    * latency); 100 measured files, so p90 has ten samples beyond
    * it. */
  val FilesPerSec = 10.0
  val MeasuredFiles = 100
  val WarmupFiles = 10

  final case class FileDoc(file: Int, doc_id: String, spans: Seq[Span])

  def run(ctx: Ctx, r: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val nFiles = WarmupFiles + MeasuredFiles
    val intervalMs = 1000.0 / FilesPerSec
    // file 0 runs alone first; files 1..nFiles are scheduled, and the files
    // after the first WarmupFiles of them are measured
    val ids = ExtractCommit.seededRange(ctx.cfg.seed, (nFiles + 1) * DocsPerFile)(Fixtures.corpusIds(_))
    val timed = (WarmupFiles + 1) to nFiles
    val base = ctx.cfg.dir("stream")
    val staging = base.resolve("staging")
    val ready = base.resolve("ready")
    val source = base.resolve("source")
    val out = base.resolve("out")
    val ckpt = base.resolve("checkpoint")
    def fileName(f: Int) = f"f$f%05d.parquet"

    ctx.trace.span("stream.build") {
      spark.createDataset(ids.indices.map(i => (i / DocsPerFile, ids(i))))
        .repartition(ctx.cores * 4, col("_1"))
        .map { case (f, id) => val d = Fixtures.gen(id); FileDoc(f, d.doc_id, d.spans) }
        .write.partitionBy("file").parquet(staging.toString)
      Files.createDirectories(ready)
      (0 to nFiles).foreach { f =>
        val parts = Files.list(staging.resolve(s"file=$f")).iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        require(parts.size == 1, s"file $f was written as ${parts.size} parts")
        Files.move(parts.head, ready.resolve(fileName(f)))
      }
    }
    Files.createDirectories(source)
    def offer(f: Int): Long = {
      Files.move(ready.resolve(fileName(f)), source.resolve(fileName(f)), StandardCopyOption.ATOMIC_MOVE)
      nowMicros()
    }

    val progress = new StreamStats
    spark.streams.addListener(progress)
    val query = ctx.trace.span("stream.start") {
      StreamingExtract.runFileStream(spark, source.toString, out.toString, ckpt.toString)
    }
    val deadline = Clock.now() + TimeUnit.SECONDS.toNanos((nFiles / FilesPerSec + 90).toLong)
    def committed(): Map[String, Long] = batchOfFile(ckpt).filter { case (_, b) => commitMicros(ckpt, b).isDefined }
    def waitFor(n: Int): Unit =
      while (committed().size < n && Clock.now() < deadline && query.isActive) Thread.sleep(20)

    // warm-up file: the first micro-batch of the fresh session (cold)
    val warmDue = offer(0)
    ctx.trace.span("stream.warmup")(waitFor(1))
    val firstS = committed().get(fileName(0)).flatMap(commitMicros(ckpt, _)).map(c => (c - warmDue) / 1e6)

    // open loop: file f is due at t0 + (f - 1) * interval, whatever the stream does
    val t0 = nowMicros() + 200000L
    val due = (1 to nFiles).map(f => f -> (t0 + ((f - 1) * intervalMs * 1000).toLong)).toMap
    val actual = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val generator = new Thread(() => (1 to nFiles).foreach { f =>
      val wait = due(f) - nowMicros()
      if (wait > 0) TimeUnit.MICROSECONDS.sleep(wait)
      actual.put(f, offer(f))
    }, "perfbench-generator")
    ctx.trace.span("stream.schedule") {
      generator.start()
      generator.join()
      waitFor(nFiles + 1)
    }
    val fileBatch = committed()
    val backlog = (nFiles + 1) - batchOfFile(ckpt).size
    query.stop()
    spark.streams.removeListener(progress)

    // per-file latency: scheduled time -> commit of the batch holding the file
    r.attempted += nFiles
    val commits = (1 to nFiles).map { f =>
      val c = fileBatch.get(fileName(f)).flatMap(commitMicros(ckpt, _))
      r.check(s"stream file $f committed", c.isDefined, "not committed before the deadline")
      f -> c
    }.toMap
    val latencies = timed.flatMap(f => commits(f).map(c => (c - due(f)) / 1e6))
    val lastCommit = timed.flatMap(commits(_)).maxOption.getOrElse(nowMicros())
    val timedBatches = timed.flatMap(f => fileBatch.get(fileName(f))).toSet
    val batches = progress.dataBatches.filter(b => timedBatches.contains(b.batchId))
    val batchWalls = batches.map(_.triggerMs / 1e3)

    // correctness check: the sink against batch extraction of the same files
    var pages = 0L
    try {
      val sink = spark.read.parquet(out.toString)
      val observed = if (ctx.cfg.mutate) sink.filter(col("doc_id") =!= ids.last) else sink
      val got = Kernel.digest(observed)
      val batch = Extract.extractContract(spark.read.schema(StreamingExtract.InputSchema).parquet(source.toString))
        .persist()
      val want = Kernel.digest(batch)
      pages = batch.filter(!col("doc_id").isin(ids.take((WarmupFiles + 1) * DocsPerFile): _*))
        .agg(sum(col("num_pages").cast("long"))).collect()(0).getLong(0)
      batch.unpersist(blocking = true)
      r.details("stream_gate") = Map("sink" -> got.toString, "batch" -> want.toString)
      r.check("stream sink digest", got == want && got.rows == ids.size, s"sink $got != batch $want")
    } catch { case e: Throwable => r.fail(s"stream gate: ${e.getMessage}") }

    locally {
      def p50(key: String) = Stats.median(batches.map(_.durationsMs.getOrElse(key, 0L) / 1e3))
      val lags = (1 to nFiles).map(f => (actual.getOrDefault(f, due(f)) - due(f)) / 1e6)
      val byId = batches.map(b => b.batchId -> b).toMap
      val waits = timed.flatMap(f => fileBatch.get(fileName(f)).flatMap(byId.get)
        .map(b => (b.startMs * 1000 - due(f)) / 1e6))
      r.metric("stream.first_batch_s", firstS.getOrElse(Double.NaN), "s")
      r.metric("stream.latency_p50_s", Stats.pct(latencies, 50), "s")
      r.metric("stream.latency_p90_s", Stats.pct(latencies, 90), "s")
      r.metric("stream.pages_per_s", pages / ((lastCommit - due(timed.head)) / 1e6), "pages/s")
      r.metric("stream.batches", batches.size, "count")
      r.metric("stream.batch_s_p50", Stats.pct(batchWalls, 50), "s")
      r.metric("stream.batch_s_p90", Stats.pct(batchWalls, 90), "s")
      r.metric("stream.add_batch_s_p50", p50("addBatch"), "s")
      r.metric("stream.wal_commit_s_p50", p50("walCommit"), "s")
      r.metric("stream.trigger_wait_s_p50", Stats.median(waits), "s")
      r.metric("stream.backlog_files_end", backlog, "count")
      r.metric("stream.generator_lag_s", lags.max, "s")
      // the part of a micro-batch the engine's own phase timings leave out
      val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      r.metric("stream.unattributed_s", Stats.median(batches.map(b =>
        (b.triggerMs - phases.map(b.durationsMs.getOrElse(_, 0L)).sum) / 1e3)), "s")
    }
  }

  private def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** File name -> micro-batch id, from the file source's metadata log. */
  private def batchOfFile(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(dir)) return Map.empty
    val entry = "\"path\":\"[^\"]*/([^/\"]+)\".*?\"batchId\":(\\d+)".r
    Files.list(dir).iterator.asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => scala.util.Try(Files.readAllLines(p).asScala.toSeq).getOrElse(Nil))
      .flatMap(line => entry.findFirstMatchIn(line).map(m => m.group(1) -> m.group(2).toLong))
      .toMap
  }

  /** Commit time of a micro-batch: when its commit-log entry was written. */
  private def commitMicros(ckpt: Path, batch: Long): Option[Long] = {
    val p = ckpt.resolve("commits").resolve(batch.toString)
    if (Files.exists(p)) Some(Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS)) else None
  }
}
