package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Totals of the Spark work done inside one measured window. */
final case class Window(
    jobs: Long, stages: Long, tasks: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long,
    cpuSecs: Double, gcSecs: Double,
    /** max / median task run time in the stage that ran longest in total */
    taskSkew: Double)

/** Benchmark-owned SparkListener: sums task metrics between `reset` and
  * `snapshot`. The bus is drained before every snapshot. */
final class TaskStats(spark: SparkSession) extends SparkListener {
  private var jobs, stages, tasks, shW, shR, spill, in, out, cpuNs, gcMs = 0L
  private val runMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      in += m.inputMetrics.bytesRead
      out += m.outputMetrics.bytesWritten
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      runMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def reset(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; shW = 0; shR = 0; spill = 0; in = 0; out = 0; cpuNs = 0; gcMs = 0
      runMsByStage.clear()
    }
  }

  def snapshot(): Window = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      val skew =
        if (runMsByStage.isEmpty) 1.0
        else {
          val durs = runMsByStage.values.maxBy(_.sum).map(_.toDouble).toSeq
          val med = Stats.median(durs)
          if (med <= 0) 1.0 else durs.max / med
        }
      Window(jobs, stages, tasks, shW, shR, spill, in, out, cpuNs / 1e9, gcMs / 1e3, skew)
    }
  }

  /** Runs `body` and returns the Spark work it caused. */
  def measure[T](body: => T): (T, Window) = {
    reset()
    val r = body
    (r, snapshot())
  }
}

object TaskStats {
  def install(spark: SparkSession): TaskStats = {
    val l = new TaskStats(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }
}

/** One micro-batch as the streaming engine reports it. */
final case class BatchProgress(
    batchId: Long, startMs: Long, inputRows: Long, durationsMs: Map[String, Long]) {
  def triggerMs: Long = durationsMs.getOrElse("triggerExecution", 0L)
}

/** Benchmark-owned StreamingQueryListener: keeps every progress report. */
final class StreamStats extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[BatchProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = mutable.Map.empty[String, Long]
    p.durationMs.forEach((k, v) => d(k) = v.longValue)
    synchronized {
      buf += BatchProgress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d.toMap)
    }
  }
  /** Reports of batches that processed input, by batch id. */
  def dataBatches: Seq[BatchProgress] = synchronized {
    buf.filter(_.inputRows > 0).sortBy(_.batchId).toSeq
  }
}
