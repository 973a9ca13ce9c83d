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

  /** Runs `f` with `settings` set on `spark`'s conf, then restores each
    * key's previous value (or unsets it): for suites that start their
    * own queries, outside the engine's one entry.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(f: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
