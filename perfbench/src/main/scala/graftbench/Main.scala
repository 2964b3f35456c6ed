package graftbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Benchmark JVM entry, started by run.py:
  *
  *   graftbench.Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *     --run-dir <temp dir> --out <result json> [--data <suite tables>] [--mutate 1]
  *
  * run.py starts one JVM per workload for the timed runs, so every cold
  * figure comes from a fresh session. The traced run passes `all`: every
  * workload's layer legs then run in one JVM, on one local[cores] session,
  * so a traced run measures every layer. The result file holds one entry
  * per workload; run.py turns it into the benchmark's output line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val names = opt("workload") match {
      case "all" => Workload.all.map(_.name)
      case w => Seq(w)
    }
    val workloads = names.map(n => Workload.all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n")))
    val cfg = RunConfig(
      seed = opt("seed").toInt,
      seconds = opt("seconds").toDouble,
      trace = opt("trace") == "1",
      runDir = Paths.get(opt("run-dir")).toAbsolutePath,
      dataDir = opts.get("data").map(d => Paths.get(d).toAbsolutePath.toString),
      mutate = opts.get("mutate").contains("1"))
    val runId = s"${names.mkString("+")}-seed${cfg.seed}-${System.currentTimeMillis()}"
    val trace = new Trace(cfg.trace, runId)

    Heap.install()
    val spark = Session.start(cfg)
    val sessionSecs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val stats = if (cfg.trace) Some(TaskStats.install(spark)) else None
    val results =
      try workloads.map { w =>
        Heap.reset()
        val r = trace.span(w.name)(w.run(Ctx(spark, cfg, trace, stats, sessionSecs)))
        System.err.println(s"[perfbench] ${w.name}: attempted=${r.attempted} failed=${r.failed}")
        r
      }
      finally spark.stop()

    if (cfg.trace) trace.write(Paths.get(opt("out") + ".spans.jsonl"))
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val json = Json.obj(
      "run_id" -> runId,
      "session_start_s" -> sessionSecs,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "cores" -> cfg.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_flags" -> jvm.getInputArguments.toArray.toSeq,
      "results" -> results.map(r => RawJson(r.toJson)))
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Already-rendered JSON embedded as is. */
final case class RawJson(text: String)
