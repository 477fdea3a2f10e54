package graft.tools

import java.nio.file.{Files, Paths}

import graft.core.Sessions

/** Dev-only: drain one streaming operator and dump per-micro-batch
  * progress (durationMs breakdown) to see where drain wall-time goes.
  * args: sfDir [shufflePartitions]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val parts = if (args.length > 1) args(1) else "8"
    val spark = Sessions.local()
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")

    def drainOnce(label: String): Unit = {
      val staged = Files.createTempDirectory("graft_probe")
      Files.copy(Paths.get(s"$sfDir/events.parquet"), staged.resolve("events_1.parquet"))
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamJoin.attributionJoinOuter(spark, staged.toString, s"probe_$label")
      q.awaitTermination()
      val total = (System.nanoTime() - t0) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
      println(f"== $label parts=$parts total=$total%.2fs batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"  batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      }
      spark.catalog.dropTempView(s"probe_$label")
      import scala.jdk.CollectionConverters._
      Files.walk(staged).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    }
    drainOnce("cold")
    drainOnce("warm1")
    drainOnce("warm2")
    spark.stop()
  }
}
