package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool: profile queries one at a time in THIS JVM — wall
  * seconds plus scheduler-level counters (jobs, stages, tasks,
  * shuffle bytes read/written, executor run/CPU time) from a
  * SparkListener, with the noop sink as the timed action (guide
  * §1.4). The counters are the optimization round's instrument for
  * the iterative ANN family, where a single `.explain` only shows
  * the final stage over checkpointed RDDs and the real cost is the
  * per-step job/stage/shuffle cadence.
  *
  * Usage: tools/run.sh graft.ProfileRun <sfDir> <query> [query...]
  *        (SPARK_GRAFT_CPUS honored; one warm-up pass runs first)
  */
object ProfileRun {

  private class Counters extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuMs = new java.util.concurrent.atomic.AtomicLong
    val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = s.stageInfo
      val run = i.taskMetrics.executorRunTime
      val site = i.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("ProfileRun"))
        .getOrElse(i.name).trim.take(110)
      stageInfo.put(i.stageId, (site, run, i.numTasks))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
      }
    }
    def line: String =
      s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
        s"shufR=${shufRead.get / 1024}K shufW=${shufWrite.get / 1024}K " +
        s"taskRun=${runMs.get}ms taskCpu=${cpuMs.get}ms"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileRun <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up (codegen/parquet-footer/JVM) so per-query numbers are
    // comparable with the bench's warmed pack JVMs
    for (w <- Seq("q01_pricing_summary", "q12_topk_window");
         fn <- SparkEntry.queries.get(w))
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    for (name <- names; fn <- SparkEntry.queries.get(name)) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Bridge.drain(spark.sparkContext)
        println(f"PROFILE $name $secs%.3f s  ${c.line}")
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          import scala.jdk.CollectionConverters._
          c.stageInfo.asScala.toSeq
            .sortBy { case (_, (_, run, _)) => -run }.take(10)
            .foreach { case (id, (nm, run, nt)) =>
              println(f"  STAGE $id%5d ${run}%8d ms  $nt%4d tasks  $nm")
            }
        }
      } catch {
        case e: Throwable =>
          println(s"PROFILE $name FAILED ${e.getMessage}")
      } finally {
        spark.sparkContext.removeSparkListener(c)
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
