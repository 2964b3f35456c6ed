package graftbench

import java.nio.file.Files
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.kernel.Parse

/** The curation suite: every `SparkEntry.queries` entry over the suite's
  * tables, one caller, closed loop, in a fixed order (by name). The seed
  * does not change this workload: in a cold pass each query's wall depends
  * on what ran before it, and a seed-shuffled order moved the per-query
  * median by up to 30% between seeds.
  *
  * A run is the suite's first pass in the session: each query is executed
  * by collecting its rows, and those rows are what the correctness gate
  * checks afterwards (run.py compares them with `SparkEntry.oracleSql` run
  * by DuckDB), so no second pass is needed. In the traced run the same
  * pass runs with spans and the listener on and gives the per-query
  * `ops.*` metrics, so they split the pass that `job_s` times. */
object CurateSuite extends Workload {
  val name = "curate_suite"
  /** Table ingests per run; `setup_s` is their median. */
  val SetupReps = 4
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(ctx: Ctx): Result = {
    val r = new Result(name)
    val spark = ctx.spark
    val t = ctx.trace
    val src = ctx.cfg.dataDir.getOrElse(sys.error("curate_suite needs --data <dir with the suite tables>"))
    val base = ctx.cfg.dir(name)
    val tables = base.resolve("tables").toString

    // set-up: ingest the suite tables into the run dir (single files, row
    // order kept, so Spark and DuckDB read identical tables)
    val buildS = Workload.setupReps(r, ctx, SetupReps) { _ =>
      Clock.time {
        Workload.parallel(Tables, 2 * ctx.cores) { tb =>
          spark.read.parquet(s"$src/$tb.parquet").coalesce(1)
            .write.mode("overwrite").parquet(s"$tables/$tb.parquet")
        }
      }._1
    }
    r.phase("setup")
    val queries = SparkEntry.queries
    val order = queries.keys.toSeq.sorted

    // cold pass: per-query walls, and each query's rows for the gate
    val outputs = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val windows = scala.collection.mutable.LinkedHashMap.empty[String, Window]
    def collect(q: String): (Double, (StructType, Array[Row])) = Clock.time {
      val df = queries(q)(spark, tables)
      (df.schema, df.collect())
    }
    val cpu0 = Clock.cpuSecs()
    val (coldS, coldWalls) = Clock.time {
      t.span("cold_pass") {
        order.flatMap { q =>
          r.op(s"cold $q") {
            t.span(s"ops.$q") {
              val (w, rows) = ctx.stats match {
                case None => collect(q)
                case Some(stats) => val (res, win) = stats.measure(collect(q)); windows(q) = win; res
              }
              outputs(q) = rows
              q -> w
            }
          }
        }
      }
    }
    val coldCpu = Clock.cpuSecs() - cpu0
    Heap.sample()
    r.details("cold_walls") = coldWalls.toMap
    r.phase("cold_pass")

    // the corpus the suite's extraction queries read, in docs and pages
    val docIds = spark.read.parquet(s"$tables/documents.parquet").select(col("doc_id").cast("string"))
      .collect().map(_.getString(0))
    val pages = docIds.iterator.map { id =>
      val spans = SparkEntry.rawDocFor(id).spans.filter(_ != null)
      Parse.paginate(spans).size.toLong
    }.sum
    val walls = coldWalls.map(_._2)
    Workload.timingMetrics(r, ctx, buildS, coldS, coldCpu, pages, walls)

    // gate inputs: the collected rows as parquet, plus the oracle SQL
    val out = base.resolve("gate")
    Workload.parallel(outputs.toSeq, 2 * ctx.cores) { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val expected = base.resolve("expected_docs.csv")
    val res = getClass.getResourceAsStream("/graft/expected_docs.csv")
    try Files.copy(res, expected) finally res.close()
    val oracle = SparkEntry.oracleSql.map { case (k, v) =>
      k -> v.replace("__GRAFT_EXPECTED__", expected.toAbsolutePath.toString)
    }
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"), Json.render(oracle).getBytes(StandardCharsets.UTF_8))
    r.details("oracle_gate") = Map("tables" -> tables, "outputs" -> out.toString,
      "queries" -> order, "mutate" -> ctx.cfg.mutate)
    r.phase("gate")

    if (ctx.cfg.trace) {
      val storage = spark.sparkContext.getRDDStorageInfo
      order.foreach(q => r.metric(s"ops.${q}_s", coldWalls.toMap.getOrElse(q, Double.NaN), "s"))
      val ws = windows.values
      r.metric("ops.jobs", ws.map(_.jobs).sum, "count")
      r.metric("ops.stages", ws.map(_.stages).sum, "count")
      r.metric("ops.tasks", ws.map(_.tasks).sum, "count")
      r.metric("ops.q50_dedup_clusters.jobs", windows.get("q50_dedup_clusters").map(_.jobs.toDouble).getOrElse(Double.NaN), "count")
      r.metric("ops.shuffle_bytes", ws.map(_.shuffleWriteBytes).sum, "bytes")
      r.metric("ops.spill_bytes", ws.map(_.spillBytes).sum, "bytes")
      r.metric("ops.executor_cpu_s", ws.map(_.cpuSecs).sum, "s")
      r.metric("ops.gc_s", ws.map(_.gcSecs).sum, "s")
      r.metric("ops.storage_mem_bytes_end", storage.map(_.memSize).sum, "bytes")
      r.metric("ops.rdd_blocks_end", storage.map(_.numCachedPartitions.toLong).sum, "count")
      // trace.* is measured on extract_commit's repeatable jobs (see run.py)
      r.details("pass_unattributed_s") = t.selfSecs(t.named("cold_pass").last)
    }
    r
  }
}
