package graft

/** Plan dumper: writes `.explain("formatted")` for the named SparkEntry
  * queries to <outDir>/<query>_<tag>.txt (plan claims such as those in
  * OPTIMIZATION_r06.md are checked against these files).
  * Usage: PlanDump <outDir> <tag> [q1 q2 ...] (default: all queries).
  * Plans on the graft.Session settings over SPARK_GRAFT_SF_DIR, which must
  * be set. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r06")
    val tag = args.lift(1).getOrElse("after")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("PlanDump needs SPARK_GRAFT_SF_DIR: the suite directory to plan over"))
    val spark = Session.start()
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
