package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  test("graft.Session keeps a preset master, else runs local[n], with n shuffle partitions, UTC and no UI") {
    val preset = Session.conf(new SparkConf(false).setMaster("spark://head:7077"), 6)
    assert(preset.get("spark.master") == "spark://head:7077")
    val local = Session.conf(new SparkConf(false), 6)
    assert(local.get("spark.master") == "local[6]")
    for (c <- Seq(preset, local)) {
      assert(c.get("spark.sql.shuffle.partitions") == "6")
      assert(c.get("spark.sql.adaptive.enabled") == "true")
      assert(c.get("spark.sql.session.timeZone") == "UTC")
      assert(c.get("spark.ui.enabled") == "false")
    }

    // the shared test session is started through the same settings
    val spark = SparkTestSession.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
