package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built by [[GraftSession]]
  * like every main, so the suites exercise what the mains run with. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
