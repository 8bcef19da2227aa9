package graft

import org.apache.spark.sql.SparkSession

/** The test session every single-JVM suite shares: local[4], 4 shuffle
  * partitions, UI off, UTC, log level WARN. Suites in one forked JVM get
  * the same running session whichever builds it first. A suite that needs
  * more (a registered function set, a filesystem scheme, a SQL conf)
  * overrides [[configure]], which runs on the session it receives. */
trait SharedSpark {

  protected def configure(s: SparkSession): Unit = ()

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    configure(s)
    s
  }
}
