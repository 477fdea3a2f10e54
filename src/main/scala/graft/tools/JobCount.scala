package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.core.Sessions

/** Dev-only: run a declared query (noop sink, after one warmup run)
  * and print scheduler counters — jobs, stages, tasks, summed task
  * time — the empirical view of per-iteration overhead in the BSP
  * loops. Args: name [name ...] [/abs/sfDir]. */
object JobCount {
  def main(args: Array[String]): Unit = {
    val (dirs, names) = args.toSeq.partition(_.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    for (n <- names) {
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()   // warmup (JIT)
      Thread.sleep(500)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)   // let straggler listener events drain
      println(f"JOBCOUNT $n%-26s wall=$wall%6.2fs jobs=${jobs.get}%4d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%6d taskTime=${taskMs.get / 1000.0}%8.1fs")
    }
    spark.stop()
  }
}
