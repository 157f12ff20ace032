// Spark jobs one TxLog.commitWithBloom call and one TxLog.deleteWhere
// call submit. Each commitWithBloom case appends 100 rows of one long
// column `k` in 4 files to the same table; each deleteWhere case
// deletes one more row from a 100-row, 4-file table. One warm-up call
// of each to another table goes first, so first-use class loading
// does not differ.
//
// Lives under org.apache.spark only to call the listener bus's
// waitUntilEmpty(), so every job of a case is counted before the next
// case starts (the pattern of the earlier BloomJobs probe).
//
// Build and run with txlog_jobs.sh, next to this file.
package org.apache.spark.graftprobe

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.TxLog

object TxLogJobs {
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
    val root = java.nio.file.Files.createTempDirectory("txlog_jobs")
    val df = (1L to 100L).toDF("k").repartition(4)
    def bloom(t: String): Long =
      TxLog.commitWithBloom(df, s"$root/$t", "append", "k", 630, 3)
    def delete(t: String, k: Long): Long =
      TxLog.deleteWhere(spark, s"$root/$t", col("k") === k)
    bloom("warm")
    TxLog.commit(df, s"$root/warm_del", "overwrite", "k")
    delete("warm_del", 1L)
    TxLog.commit(df, s"$root/del", "overwrite", "k")
    val rows =
      (1 to 3).map(i => s"commitWithBloom #$i" -> count(bloom("bloom"))) ++
        (1 to 3).map(i => s"deleteWhere #$i" -> count(delete("del", i.toLong)))
    rows.foreach { case (c, n) => println(f"$c%-19s $n%3d jobs") }
    spark.stop()
    java.nio.file.Files.walk(root).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }
}
