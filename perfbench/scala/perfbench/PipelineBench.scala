package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.{EdgePipeline, PowerBiPipeline}
import graft.sinks.JdbcUpsertSink

/** One benchmark run of the paper's intake workload: VCO extract →
  * gold transform → JDBC upsert, driven through the library's public
  * entry points the way a nightly job would call them.
  *
  * Usage: `PipelineBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cores <n>`
  *
  * Untraced runs report the end-to-end metrics; traced runs the
  * per-layer ones. The last stdout line is one JSON object.
  */
object PipelineBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int)

  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 3
  /** Warm passes per untraced run at least; `warm_run_s` is their median. */
  val MinWarmPasses = 3

  // ------------------------------------------------------------ helpers

  def snake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2").toLowerCase

  /** The eight gold frames, by snake-case table name. */
  def goldFrames(g: PowerBiPipeline.Gold): Seq[(String, DataFrame)] =
    g.productElementNames.map(snake).toSeq
      .zip(g.productIterator.map(_.asInstanceOf[DataFrame]).toSeq)

  val GoldTables: Seq[String] = Seq("customer", "edge", "links", "events",
    "daily_qoe", "license", "edge_attributes", "customer_attributes")

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def newSession(a: Args): SparkSession =
    graft.Sessions.localBuilder(a.cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---------------------------------------------------------- workloads

  /** One workload's state between set-up and close. */
  abstract class Workload(val spark: SparkSession, val a: Args, rep: Int) {
    /** Gold-table writes one pass performs. */
    def writesPerPass: Int
    /** Everything a pass needs that a nightly job would find in place. */
    def setup(): Unit
    /** The timed work. `traced` selects the counting transport/driver. */
    def pass(traced: Boolean): Unit
    /** Untimed, right after the first pass. */
    def afterFirstPass(): Unit = ()
    /** Named output checks, after the last pass. */
    def check(): Seq[(String, Boolean)]
    /** Rows each gold table delivers to the sink in one pass. */
    def goldRows(): Map[String, Long]
    def rpcStub: Option[FleetStub] = None
    def vcoCount: Int = 0
    /** Bytes of the parquet inputs the pipeline reads. */
    def inputBytes: Long = 0L
    def close(): Unit = ()
  }

  /** `gold_load`: the seven inputs land as parquet; each pass reads
    * them, runs `PowerBiPipeline.build`, and merges the eight gold
    * frames into embedded in-memory Derby with `PowerBiPipeline.run`.
    * The first pass loads empty tables (every row a NOT MATCHED
    * insert); every later pass is the scheduled re-run of the same
    * inputs (every row an index probe plus a MATCHED update, Events
    * insert-if-absent).
    */
  final class GoldLoad(spark: SparkSession, a: Args, rep: Int)
      extends Workload(spark, a, rep) {
    val gen = new InputGen(spark, a.seed, orders = 1000L)
    val dir = s"${a.work}/inputs-$rep"
    private val dbName = s"pb$rep"
    private var moved: Map[String, Seq[String]] = Map.empty
    private var loaded: Map[String, Checks.Digest] = Map.empty
    def writesPerPass = 8

    private val sqlTables = Seq("Customer", "Edge", "Links", "Events",
      "DailyQOE", "License", "EdgeAttributes", "CustomerAttributes")

    private def url(traced: Boolean) =
      (if (traced) CountingDriver.Prefix else "jdbc:derby:") + s"memory:$dbName"

    def setup(): Unit = {
      gen.write(dir)
      moved = gen.moved
      Ddl.create(s"jdbc:derby:memory:$dbName;create=true")
    }

    private def inputs(): PowerBiPipeline.Inputs =
      Trace.span("pipelines.read_inputs") { InputGen.read(spark, dir) }

    private def build(in: PowerBiPipeline.Inputs): PowerBiPipeline.Gold =
      Trace.span("pipelines.build") {
        PowerBiPipeline.build(in, gen.vcoName, moved, gen.eventSkip)
      }

    def pass(traced: Boolean): Unit = {
      val g = build(inputs())
      Trace.span("sinks.run") {
        PowerBiPipeline.run(g, url(traced), JdbcUpsertSink.DerbyMerge,
          writePartitions = Some(1))
      }
    }

    /** Traced runs: the eight gold frames to Spark's noop sink, for
      * the transform share of each table.
      */
    def transformOnly(): Unit = Trace.span("transform_only") {
      for ((t, df) <- goldFrames(build(inputs())))
        Trace.span(s"pipelines.$t") { noop(df) }
    }

    private lazy val gold = goldFrames(PowerBiPipeline.build(
      InputGen.read(spark, dir), gen.vcoName, moved, gen.eventSkip)).toMap

    private lazy val goldDigests: Map[String, Checks.Digest] =
      gold.map { case (t, df) => t -> Checks.digest(df) }

    def goldRows(): Map[String, Long] =
      goldDigests.map { case (t, d) => t -> d.rows }

    private def state(): Map[String, Checks.Digest] =
      GoldTables.zip(sqlTables).map { case (t, sqlT) =>
        t -> Checks.tableDigest(spark, url(traced = false), sqlT, gold(t).schema)
      }.toMap

    override def afterFirstPass(): Unit = loaded = state()

    def check(): Seq[(String, Boolean)] = {
      val replayed = state()
      val sql = Checks.sqlCounts(spark, InputGen.read(spark, dir),
        moved.collect { case (l, v) if v.contains(gen.vcoName) => l }.toSeq,
        gen.eventSkip)
      GoldTables.flatMap(t => Seq(
        s"load_digest.$t" -> (loaded(t) == goldDigests(t)),
        s"replay_unchanged.$t" -> (replayed(t) == loaded(t)),
        s"sql_count.$t" -> (sql(t) == goldDigests(t).rows)))
    }

    override def inputBytes: Long = dirBytes(new File(dir))

    override def close(): Unit = {
      try DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true").close()
      catch { case _: SQLException => () } // 08006: dropped
      rmrf(new File(dir))
    }
  }

  /** `extract_fleet`: a localhost JSON-RPC fleet of [[vcos]] VCOs;
    * each pass scans it with `graft-vco` and writes Edge, Links and
    * EdgeAttributes gold to Spark's noop sink.
    */
  final class ExtractFleet(spark: SparkSession, a: Args, rep: Int)
      extends Workload(spark, a, rep) {
    val vcos = 16
    private val gen = new InputGen(spark, a.seed, 12000L)
    private var lines: Seq[String] = Nil
    private var stub: FleetStub = _
    def writesPerPass = 3
    override def vcoCount: Int = vcos
    override def rpcStub: Option[FleetStub] = Option(stub)

    def setup(): Unit = {
      val byVco = gen.edgesWithVco(vcos).toJSON.collect()
        .map { j =>
          val i = j.lastIndexOf(",\"vco\":\"")
          (j.substring(i + 8, j.length - 2), j.substring(0, i) + "}")
        }
      lines = byVco.map(_._2).toSeq
      val bodies = byVco.groupBy(_._1).map { case (v, docs) =>
        v -> docs.map(_._2).mkString("[", ",", "]")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      stub = new FleetStub(bodies, a.cores)
      FleetStub.current = stub
    }

    private def scan(traced: Boolean): DataFrame =
      Trace.span("sources.load") {
        spark.read.format("graft-vco")
          .option("vcos", (0 until vcos).map(i => s"vco$i").mkString(","))
          .option("transport",
            (if (traced) classOf[TimedStubTransportFactory]
             else classOf[StubTransportFactory]).getName)
          .load()
      }

    def pass(traced: Boolean): Unit = {
      val edges = scan(traced)
      Trace.span("pipelines.edge") { noop(EdgePipeline.edgeGold(edges)) }
      Trace.span("pipelines.links") { noop(EdgePipeline.linksGold(edges)) }
      Trace.span("pipelines.edge_attributes") {
        noop(EdgePipeline.edgeAttributes(EdgePipeline.edgeGold(edges)))
      }
    }

    /** Standalone full scan of the fleet, for `sources.scan_s`. */
    def scanOnly(): Unit = {
      val edges = scan(traced = true)
      Trace.span("sources.scan") { noop(edges) }
    }

    private lazy val viaScan: Seq[DataFrame] = {
      val e = scan(traced = false)
      Seq(EdgePipeline.edgeGold(e), EdgePipeline.linksGold(e),
        EdgePipeline.edgeAttributes(EdgePipeline.edgeGold(e)))
    }

    private lazy val viaLines: Seq[DataFrame] = {
      import spark.implicits._
      val e = EdgePipeline.readEdges(spark, lines.toDS())
      Seq(EdgePipeline.edgeGold(e), EdgePipeline.linksGold(e),
        EdgePipeline.edgeAttributes(EdgePipeline.edgeGold(e)))
    }

    private lazy val digests: Seq[(Checks.Digest, Checks.Digest)] =
      viaScan.map(Checks.digest).zip(viaLines.map(Checks.digest))

    def check(): Seq[(String, Boolean)] =
      Seq("edge", "links", "edge_attributes").zip(digests).map {
        case (t, (s, l)) => s"scan_equals_lines.$t" -> (s == l)
      }

    def goldRows(): Map[String, Long] =
      Seq("edge", "links", "edge_attributes").zip(digests)
        .map { case (t, (s, _)) => t -> s.rows }.toMap

    override def close(): Unit = {
      if (stub != null) stub.close()
      FleetStub.current = null
    }
  }

  def workload(spark: SparkSession, a: Args, rep: Int): Workload =
    a.workload match {
      case "extract_fleet"  => new ExtractFleet(spark, a, rep)
      case "gold_load"      => new GoldLoad(spark, a, rep)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  // --------------------------------------------------------------- run

  final class Result {
    var attempted = 0L
    var failed = 0L
    var correct = true
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    new File(a.work).mkdirs()
    val r = new Result
    val ok = try { run(a, r); true } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        false
    }
    if (ok) {
      def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
      val ms = r.metrics.map { case (n, (v, u)) =>
        s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
      val info = r.info.map { case (n, v) => s""""$n":${num(v)}""" }.mkString(",")
      println(s"""{"correct":${r.correct},"attempted":${r.attempted},""" +
        s""""failed":${r.failed},"metrics":{$ms},"info":{$info}}""")
    }
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def run(a: Args, r: Result): Unit = {
    val reps = if (a.trace) 1 else SetupReps
    val setupTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (rep <- 1 to reps) {
      if (w != null) { w.close(); stopSession(spark) }
      val (_, secs) = timed {
        spark = newSession(a)
        spark.sparkContext.setLogLevel("ERROR")
        w = workload(spark, a, rep)
        w.setup()
      }
      setupTimes += secs
    }
    try {
      if (a.trace) traced(spark, w, a, r) else untraced(spark, w, a, r, setupTimes.toSeq)
    } finally {
      w.close()
      stopSession(spark)
    }
  }

  /** Run `w.pass`, counting its writes; a throwing pass fails them all. */
  private def attemptPass(w: Workload, r: Result, traced: Boolean): Unit = {
    r.attempted += w.writesPerPass
    try w.pass(traced)
    catch {
      case NonFatal(e) =>
        r.failed += w.writesPerPass
        r.correct = false
        throw e
    }
  }

  private def runChecks(w: Workload, r: Result): Unit = {
    val results = w.check()
    r.attempted += results.size
    val bad = results.filterNot(_._2)
    r.failed += bad.size
    if (bad.nonEmpty) {
      r.correct = false
      println("CHECK FAILED: " + bad.map(_._1).mkString(", "))
    }
  }

  private def countRpc(w: Workload, r: Result): Unit =
    w.rpcStub.foreach { s =>
      r.attempted += s.calls.get
      r.failed += s.failed.get
      if (s.failed.get > 0) r.correct = false
    }

  def untraced(spark: SparkSession, w: Workload, a: Args, r: Result,
      setupTimes: Seq[Double]): Unit = {
    JvmSample.quiesce()
    val j0 = JvmSample.now()
    val (_, cold) = timed(attemptPass(w, r, traced = false))
    val j1 = JvmSample.now()
    w.afterFirstPass()
    val warm = ArrayBuffer.empty[Double]
    var measured = cold
    while (warm.size < MinWarmPasses || measured < a.seconds) {
      JvmSample.quiesce()
      val (_, s) = timed(attemptPass(w, r, traced = false))
      warm += s
      measured += s
    }
    val (_, checkSecs) = timed(runChecks(w, r))
    countRpc(w, r)
    r.info("check_s") = checkSecs
    r.info("jvm_wall_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rows = w.goldRows().values.sum.toDouble
    r.put("run_s", cold, "s")
    r.put("warm_run_s", median(warm.toSeq), "s")
    r.put("rows_per_s", rows / cold, "1/s")
    r.put("cpu_s", (j1.cpuNs - j0.cpuNs) / 1e9, "s")
    r.put("setup_s", median(setupTimes), "s")
    r.info("fail_frac") = r.failed.toDouble / r.attempted
    r.info("gold_rows") = rows
    r.info("warm_passes") = warm.size
    warm.zipWithIndex.foreach { case (s, i) => r.info(s"warm_${i + 1}_s") = s }
    setupTimes.zipWithIndex.foreach { case (s, i) => r.info(s"setup_${i + 1}_s") = s }
  }

  def traced(spark: SparkSession, w: Workload, a: Args, r: Result): Unit = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    CountingDriver.register()
    Trace.start(sc)
    val stub = w.rpcStub
    val bytes0 = stub.map(_.bytes.get).getOrElse(0L)

    // the measured pass is cold, like run_s
    JvmSample.quiesce()
    val j0 = JvmSample.now()
    Trace.span("pass") { attemptPass(w, r, traced = true) }
    val j1 = JvmSample.now()
    PerfbenchBus.drain(sc)
    val heapMb = JvmSample.heapAfterGcMb()
    val root = Trace.all.find(_.name == "pass").get
    val passSpans = Trace.subtree(root)
    val rpc = RpcLog.snapshot()
    val rpcBytes = stub.map(_.bytes.get - bytes0).getOrElse(0L)
    val sinkStats = CountingDriver.stats.map { case (t, s) =>
      snake(t) -> s }
    def sv(f: CountingDriver.TableStats => java.util.concurrent.atomic.AtomicLong) =
      sinkStats.values.map(f(_).get).sum.toDouble
    val sinkNums = Seq(
      "rows_bound" -> sv(_.rowsBound), "rows_affected" -> sv(_.rowsAffected),
      "batches" -> sv(_.batches), "commits" -> sv(_.commits),
      "rollbacks" -> sv(_.rollbacks),
      "connections" -> CountingDriver.connections.get.toDouble,
      "prepares" -> sv(_.prepares))
    val dbBusy = sv(_.dbBusyNs) / 1e9
    // per-table sink time: the sinks span cut at each table's last
    // connection close, tables in the order they were opened
    val sinkSpans = passSpans.filter(_.layer == "sinks")
    val sinkTable: Map[String, Double] = sinkSpans.headOption.map { s =>
      var edge = s.startNs
      sinkStats.toSeq.filter(_._2.lastCloseNs.get > 0)
        .sortBy(_._2.firstOpenNs.get).map { case (t, st) =>
          val end = st.lastCloseNs.get
          val secs = (end - edge) / 1e9
          edge = end
          t -> secs
        }.toMap
    }.getOrElse(Map.empty)

    // tracing overhead: one untraced, then one traced warm pass
    Trace.enabled = false
    JvmSample.quiesce()
    val (_, plain) = timed(attemptPass(w, r, traced = false))
    Trace.enabled = true
    CountingDriver.clear()
    JvmSample.quiesce()
    val (_, withTrace) = timed(Trace.span("overhead") {
      attemptPass(w, r, traced = true) })
    // the last traced pass was a re-run into the loaded tables
    val replaySink = Trace.all.filter(_.name == "sinks.run").drop(1).lastOption
    val replayStats = CountingDriver.stats.values
    val replayAffected = replayStats.map(_.rowsAffected.get).sum.toDouble
    val replayBusy = replayStats.map(_.dbBusyNs.get).sum / 1e9

    // standalone layer measurements outside the pass
    RpcLog.clear()
    w match {
      case g: GoldLoad => g.transformOnly()
      case e: ExtractFleet => e.scanOnly()
    }
    val scanRows = RpcLog.snapshot().map(_.rows.toLong).sum
    PerfbenchBus.drain(sc)
    Trace.stop()
    countRpc(w, r)

    val overheadIds = Trace.all.filter(_.name == "overhead")
      .flatMap(Trace.subtree).map(_.id).toSet
    val reported = Trace.all.filterNot(s => overheadIds.contains(s.id))
    def named(n: String): Option[Trace.Span] =
      passSpans.find(_.name == n).orElse(reported.find(_.name == n))
    def secs(n: String) = named(n).map(_.seconds).getOrElse(0.0)

    val rows = w.goldRows()
    val rpcMs = rpc.map(c => (c.endNs - c.startNs) / 1e6).sorted
    r.put("sources.rpc_calls", rpc.size, "count")
    r.put("sources.rpc_calls_per_vco",
      if (w.vcoCount > 0) rpc.size.toDouble / w.vcoCount else 0.0, "ratio")
    r.put("sources.rpc_bytes", rpcBytes, "bytes")
    r.put("sources.rpc_busy_s", rpcMs.sum / 1e3, "s")
    r.put("sources.rpc_ms_p50", median(rpcMs), "ms")
    r.put("sources.rpc_ms_max", rpcMs.lastOption.getOrElse(0.0), "ms")
    r.put("sources.rpc_failed", rpc.count(!_.ok), "count")
    r.put("sources.scan_s", secs("sources.scan"), "s")
    r.put("sources.scan_rows", scanRows, "count")
    layerCounters("sources", reported, listener, r)

    r.put("pipelines.build_s", secs("pipelines.build"), "s")
    for (t <- GoldTables) {
      r.put(s"pipelines.$t.s", secs(s"pipelines.$t"), "s")
      r.put(s"pipelines.$t.rows", rows.getOrElse(t, 0L).toDouble, "count")
    }
    val bytesRead = listener.total(passSpans).inputBytes.toDouble
    r.put("pipelines.input_bytes_read", bytesRead, "bytes")
    r.put("pipelines.input_read_ratio",
      if (w.inputBytes > 0) bytesRead / w.inputBytes else 0.0, "ratio")
    layerCounters("pipelines", reported, listener, r)

    for (t <- GoldTables) r.put(s"sinks.$t.s", sinkTable.getOrElse(t, 0.0), "s")
    sinkNums.foreach { case (n, v) => r.put(s"sinks.$n", v, "count") }
    r.put("sinks.db_busy_s", dbBusy, "s")
    r.put("sinks.replay.s", replaySink.map(_.seconds).getOrElse(0.0), "s")
    r.put("sinks.replay.db_busy_s", replayBusy, "s")
    r.put("sinks.replay.rows_affected", replayAffected, "count")
    r.put("sinks.feed_s",
      math.max(0.0, sinkSpans.map(_.seconds).sum - dbBusy), "s")
    layerCounters("sinks", reported, listener, r)

    r.put("jvm.jit_s", (j1.jitMs - j0.jitMs) / 1e3, "s")
    r.put("jvm.gc_s", (j1.gcMs - j0.gcMs) / 1e3, "s")
    r.put("jvm.heap_after_gc_mb", heapMb, "MiB")
    r.put("trace.overhead_frac", withTrace / plain - 1, "ratio")
    r.put("trace.root_self_s", Trace.selfSeconds(root), "s")

    r.info("traced_run_s") = root.seconds
    r.info("root_self_frac") = Trace.selfSeconds(root) / root.seconds
    r.info("cpu_s") = (j1.cpuNs - j0.cpuNs) / 1e9
    w match {
      case g: GoldLoad =>
        g.gen.properties(InputGen.read(spark, g.dir)).foreach {
          case (n, v) => r.info(s"input.$n") = v }
      case _ => ()
    }
  }

  private def layerCounters(layer: String, spans: Seq[Trace.Span],
      l: SpanListener, r: Result): Unit = {
    val c = l.total(spans.filter(_.layer == layer))
    r.put(s"$layer.spark.jobs", c.jobs, "count")
    r.put(s"$layer.spark.stages", c.stages, "count")
    r.put(s"$layer.spark.tasks", c.tasks, "count")
    r.put(s"$layer.spark.shuffle_write_bytes", c.shuffleWrite, "bytes")
    r.put(s"$layer.spark.shuffle_read_bytes", c.shuffleRead, "bytes")
    r.put(s"$layer.spark.spill_bytes", c.spill, "bytes")
    r.put(s"$layer.spark.executor_cpu_s", c.cpuNs / 1e9, "s")
    r.put(s"$layer.spark.executor_gc_s", c.gcMs / 1e3, "s")
  }
}
