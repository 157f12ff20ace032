// Spark jobs one TxLog.commitWithBloom call submits: write, stats,
// Bloom bits. Each case appends 100 rows of one long column `k` in 4
// files to the same table, after one warm-up commit to another table
// so first-use class loading does not differ.
//
// Lives under org.apache.spark only to call the listener bus's
// waitUntilEmpty(), so every job of a case is counted before the next
// case starts (the plans/pr8/TxLogPlanJobs.scala pattern).
//
// Build and run with plans/pr11/bloom_jobs.sh.
package org.apache.spark.graftprobe

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.sources.TxLog

object BloomJobs {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    def count(build: => Any): Int = {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      jobs.set(0)
      build
      spark.sparkContext.listenerBus.waitUntilEmpty()
      jobs.get()
    }
    val root = java.nio.file.Files.createTempDirectory("txlog_bloom_jobs")
    val df = (1L to 100L).toDF("k").repartition(4)
    def bloom(t: String): Long =
      TxLog.commitWithBloom(df, s"$root/$t", "append", "k", 630, 3)
    bloom("warm")
    val rows = (1 to 3).map(i => s"commitWithBloom #$i" -> count(bloom("t")))
    rows.foreach { case (c, n) => println(f"$c%-19s $n%3d jobs") }
    spark.stop()
    java.nio.file.Files.walk(root).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }
}
