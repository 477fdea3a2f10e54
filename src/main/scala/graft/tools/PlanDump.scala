package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Dev-only: write each named query's `.explain("formatted")` to
  * plans/r22/<name>_<tag>.txt as plan evidence for a change.
  * Args: tag name [name ...] [/abs/sfDir]. For checkpoint-loop
  * operators the final plan is a scan over the materialized loop
  * output; the per-iteration shape shows in PlanDumpStep and in the
  * scheduler counters of JobCount. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (dirs, rest) = args.toSeq.partition(_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val tag = rest.head
    val names = rest.tail
    val spark = Sessions.local()
    Files.createDirectories(Paths.get("plans/r22"))
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/r22/${n}_$tag.txt"), plan)
      println(s"PLANDUMP $n -> plans/r22/${n}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
