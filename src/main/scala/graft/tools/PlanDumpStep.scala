package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Dev-only: run named queries while capturing each BSP loop
  * iteration's PRE-checkpoint frame (graft.core.BspLoop.stepSink) and
  * write one representative step's `.explain("formatted")` per
  * (query, loop label) to plans/r22/. `localCheckpoint` severs lineage,
  * so the plain PlanDump plans show only a Scan over the loop output:
  * the per-iteration shape (Exchange count per step, join strategy
  * inside the loop) is only visible HERE. Args: tag stepK name [name ...] [/abs/sfDir]; for
  * loops shorter than stepK the deepest captured step is written. */
object PlanDumpStep {
  def main(args: Array[String]): Unit = {
    val (dirs, rest) = args.toSeq.partition(_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val usage = "usage: PlanDumpStep <tag> <stepK> <query> [query ...] [/abs/sfDir]"
    require(rest.size >= 3, usage)
    require(rest(1).toIntOption.exists(_ >= 0),
      s"stepK must be a non-negative integer, got '${rest(1)}' — $usage")
    val tag = rest.head
    val stepK = rest(1).toInt
    val names = rest.drop(2)
    val spark = Sessions.local()
    Files.createDirectories(Paths.get("plans/r22"))
    for (n <- names) {
      val plans = scala.collection.mutable.Map.empty[(String, Int), String]
      graft.core.BspLoop.stepSink = Some { (label, step, df) =>
        if (step <= stepK)
          plans((label, step)) = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
      }
      try graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally graft.core.BspLoop.stepSink = None
      for ((label, keys) <- plans.keys.groupBy(_._1)) {
        val k = keys.map(_._2).max
        val plan = plans((label, k))
        val f = Paths.get(s"plans/r22/${n}__${label}_step${k}_$tag.txt")
        Files.writeString(f, plan)
        println(s"PLANDUMPSTEP $n $label step$k -> $f (${plan.length} chars)")
      }
    }
    spark.stop()
  }
}
