package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across suites (getOrCreate), on the same
  * settings the mains use. The explicit 4 keeps test partitioning
  * independent of SPARK_GRAFT_CPUS. */
trait SparkSpec {
  lazy val spark: SparkSession = graft.core.Sessions.local("4")

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
}
