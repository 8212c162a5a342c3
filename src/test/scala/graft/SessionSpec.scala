package graft

import org.apache.spark.SparkConf

class SessionSpec extends SparkSpec {
  private def launcher(kv: (String, String)*): SparkConf =
    new SparkConf(false).setAll(kv)

  test("a master the launcher set is kept") {
    val c = Session.conf("t", 3, launcher("spark.master" -> "local[2]"))
    assert(c.get("spark.master") === "local[2]")
  }

  test("with no master configured, the master is local[N]") {
    assert(Session.conf("t", 3, launcher()).get("spark.master") === "local[3]")
  }

  test("launcher settings win; the shared settings fill in the rest") {
    val c = Session.conf("t", 3, launcher(
      "spark.sql.files.maxPartitionBytes" -> "16m", "spark.app.name" -> "x"))
    assert(c.get("spark.sql.files.maxPartitionBytes") === "16m")
    assert(c.get("spark.app.name") === "x")
    Session.settings.filterNot(_._1 == "spark.sql.files.maxPartitionBytes")
      .foreach { case (k, v) => assert(c.get(k) === v, k) }
  }

  test("the test session runs the shared settings, one shuffle partition per core") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    Session.settings.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) === v, k)
    }
  }
}
