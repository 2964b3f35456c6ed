package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Starts every graft Spark process: the mains and the shared test session.
  *
  * Settings: master `local[cores]` unless one is already configured
  * (`spark-submit --master`, `-Dspark.master`), which then wins; one shuffle
  * partition per core; AQE on; UTC session time zone; UI off; Spark's log
  * level WARN. `cores` is SPARK_GRAFT_CPUS, or else the JVM's available
  * processors. A setting only one main needs is set by that main with
  * `spark.conf.set` after start. */
object Session {
  def start(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder().config(conf(new SparkConf(), cores)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** `preset` (the process's launch configuration) with the settings above. */
  private[graft] def conf(preset: SparkConf, cores: Int): SparkConf =
    preset.clone()
      .setIfMissing("spark.master", s"local[$cores]")
      .set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
}
