package graft.tools

import graft.core.Sessions

/** Dev-only: interleaved A/B of a code-path toggle in ONE session —
  * arm A ([[AB.on]] = true) and arm B (false) alternate per pass, so
  * host drift hits both arms equally (back-to-back `graft.Bench`
  * subset sessions measured ±30% session drift on a shared host —
  * useless for deciding a 10-20% effect). Wire the experiment's two
  * paths on `graft.tools.AB.on` temporarily, run this, then commit ONE
  * path and drop the toggle. Args: name [name ...] [/abs/sfDir]; AB_PASSES
  * pairs (default 3). Prints per-query min and per-pass times for
  * both arms. */
object AB { @volatile var on: Boolean = false }

object ABBench {
  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.toSeq.partition(_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def timeOnce(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val nPasses = sys.env.getOrElse("AB_PASSES", "3").toInt
    val a = Array.fill(names.size)(List.empty[Double])
    val b = Array.fill(names.size)(List.empty[Double])
    for (_ <- 1 to nPasses; arm <- Seq(true, false)) {
      AB.on = arm
      names.zipWithIndex.foreach { case (n, i) =>
        val t = timeOnce(n)
        if (arm) a(i) ::= t else b(i) ::= t
      }
    }
    AB.on = false
    names.zipWithIndex.foreach { case (n, i) =>
      println(f"ABBENCH $n%-26s ON=${a(i).min}%6.2f OFF=${b(i).min}%6.2f  " +
        f"(on: ${a(i).reverse.map(t => f"$t%.2f").mkString(" ")} | off: ${b(i).reverse.map(t => f"$t%.2f").mkString(" ")})")
    }
    println(f"ABBENCH_TOTAL ON=${a.map(_.min).sum}%.2f OFF=${b.map(_.min).sum}%.2f")
    spark.stop()
  }
}
