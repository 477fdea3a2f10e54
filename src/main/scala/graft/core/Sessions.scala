package graft.core

import org.apache.spark.sql.SparkSession

/** The one way a graft main, dev tool or test suite gets its session,
  * so all of them run on the same settings.
  *
  * `cpus` sets both the local master width and
  * `spark.sql.shuffle.partitions`; `SPARK_GRAFT_MASTER` (e.g. a cluster
  * URL) replaces the local master but keeps that partition count. The
  * session time zone is UTC: the oracles and `Tables.normalizeTs` assume
  * it, and it must not depend on the launcher's JVM flags. The UI is off
  * and the log level is WARN.
  */
object Sessions {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
