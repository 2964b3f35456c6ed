package graft

/** Plan dumper: writes `.explain("formatted")` for the named SparkEntry
  * queries to <outDir>/<query>_<tag>.txt (plan claims such as those in
  * OPTIMIZATION_r06.md are checked against these files).
  * Usage: PlanDump <outDir> <tag> [q1 q2 ...] (default: all queries).
  * Session config mirrors Bench (local[SPARK_GRAFT_CPUS], one shuffle
  * partition per core, AQE) over SPARK_GRAFT_SF_DIR, which must be set. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r06")
    val tag = args.lift(1).getOrElse("after")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("PlanDump needs SPARK_GRAFT_SF_DIR: the suite directory to plan over"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
