// Planning cost of TxLog's readers: the Spark jobs a reader submits
// while it BUILDS its DataFrame (log reads, schema inference), before
// any action runs on the result. Table: 100 rows of one long column
// `k`, committed range-partitioned into 4 files; the DV cases first
// delete k = 15 (one deletion-vector commit).
//
// Lives under org.apache.spark only to call the listener bus's
// waitUntilEmpty(), so every job of a case is counted before the next
// case starts (no sleep-and-hope).
//
// Build and run with plans/pr8/plan_jobs.sh.
package org.apache.spark.graftprobe

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.TxLog

object TxLogPlanJobs {
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
    val root = java.nio.file.Files.createTempDirectory("txlog_plan_jobs")
    def table(name: String, withDv: Boolean): String = {
      val t = s"$root/$name"
      TxLog.commit((1L to 100L).toDF("k").repartitionByRange(4, col("k")),
        t, "overwrite", "k")
      if (withDv) TxLog.deleteWhere(spark, t, col("k") === 15L)
      t
    }
    // PRUNED selects the prunedRead signature of the compiled API
    def pruned(t: String): Any =
      PRUNED
    val plain = table("plain", withDv = false)
    val dv = table("dv", withDv = true)
    // one warm-up pass so first-use class loading does not differ
    TxLog.read(spark, plain); pruned(plain)
    val rows = Seq(
      "read" -> count(TxLog.read(spark, plain)),
      "prunedRead" -> count(pruned(plain)),
      "read+DV" -> count(TxLog.read(spark, dv)),
      "prunedRead+DV" -> count(pruned(dv)))
    rows.foreach { case (c, n) => println(f"$c%-14s $n%3d jobs") }
    spark.stop()
    java.nio.file.Files.walk(root).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }
}
