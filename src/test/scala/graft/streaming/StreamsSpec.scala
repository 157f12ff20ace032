package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

class StreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dedupStream drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val dedup = Streams.dedupStream(
      input.toDF().toDF("ts", "edge_id", "name"),
      "ts", "1 hour", Seq("edge_id", "name"))
    val q = dedup.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "LINK_UP"),
        (ts("2024-01-01 10:00:00"), 1L, "LINK_UP"), // dup in same batch
        (ts("2024-01-01 10:01:00"), 2L, "LINK_UP"))
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "LINK_UP")) // dup across batches
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length === 2)
    } finally q.stop()
  }

  test("minhashDedupStream: canonical id survives across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val links = Streams.minhashDedupStream(
      input.toDF().toDF("docId", "sig").as[Streams.SigDoc])
    val q = links.toDF().writeStream.format("memory")
      .queryName("mh_dedup_out").outputMode("append").start()
    try {
      input.addData((9L, "sigA"), (5L, "sigA"), (3L, "sigB"))
      q.processAllAvailable()
      input.addData((7L, "sigA"), (2L, "sigB")) // state must remember 5 and 3
      q.processAllAvailable()
      val got = spark.table("mh_dedup_out").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      assert(got === Map(
        5L -> None, 9L -> Some(5L), 3L -> None,   // batch 1
        7L -> Some(5L),                           // batch 2: canonical held
        2L -> None))                              // smaller id takes over
    } finally q.stop()
  }

  test("dailyCounts aggregates tumbling windows incrementally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = Streams.dailyCounts(
      input.toDF().toDF("ts", "edge_id"), "ts", Seq("edge_id"), "1 hour")
    val q = agg.writeStream.format("memory").queryName("daily_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 01:00:00"), 1L),
        (ts("2024-01-01 23:00:00"), 1L),
        (ts("2024-01-02 01:00:00"), 1L),
        (ts("2024-01-01 05:00:00"), 2L))
      q.processAllAvailable()
      val rows = spark.table("daily_out")
        .select(date_format(col("day_start"), "yyyy-MM-dd").as("d"),
          col("edge_id"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set(
        ("2024-01-01", 1L, 2L), ("2024-01-02", 1L, 1L), ("2024-01-01", 2L, 1L)))
    } finally q.stop()
  }

  test("QoE outages run incrementally via foreachBatch at day grain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("qoe_ck") { ck =>
      // The reference refreshes QoE per complete (link, day) — the
      // streaming form processes each arriving day-batch through the
      // SAME declarative operator and merges idempotently downstream.
      val input = MemoryStream[(Long, Timestamp, Long, Int)]
      // the "merge" stand-in: keyed overwrite = the idempotent upsert
      val merged = scala.collection.concurrent.TrieMap
        .empty[(Long, java.sql.Date), (Int, Int)]
      val q = Streams.dailyQoeStream(
        input.toDF().toDF("edge_key", "ts", "tb", "state"),
        merge = df => df.collect().foreach { r =>
          merged((r.getAs[Long]("edge_key"), r.getAs[java.sql.Date]("day"))) =
            (r.getAs[Int]("n_brownouts"), r.getAs[Int]("n_blackouts"))
        },
        checkpointDir = ck.toString)
      try {
        // day 1 for edge 7: 4→2 brownout run, then 3→0 blackout
        input.addData(
          (7L, ts("2024-01-01 10:00:00"), 1L, 4),
          (7L, ts("2024-01-01 10:00:07"), 2L, 2),
          (7L, ts("2024-01-01 10:00:14"), 3L, 3),
          (7L, ts("2024-01-01 10:00:21"), 4L, 0))
        q.processAllAvailable()
        // a second day-batch for another edge lands incrementally
        input.addData(
          (8L, ts("2024-01-02 00:00:00"), 1L, 4),
          (8L, ts("2024-01-02 00:00:07"), 2L, 0))
        q.processAllAvailable()
        assert(merged.toMap === Map(
          (7L, java.sql.Date.valueOf("2024-01-01")) -> ((1, 1)),
          (8L, java.sql.Date.valueOf("2024-01-02")) -> ((0, 1))))
      } finally q.stop()
    }
  }

  test("sessionize closes sessions on gap and keeps state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SessionEvent]
    val sess = Streams.sessionize(input.toDS(), gapMs = 60000L)
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        Streams.SessionEvent(1L, ts("2024-01-01 10:00:00")),
        Streams.SessionEvent(1L, ts("2024-01-01 10:00:30")),
        // > 1 min gap closes the first session
        Streams.SessionEvent(1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[Streams.SessionOut].collect()
      assert(rows.length === 1)
      assert(rows.head.n === 2)
      assert(rows.head.startMs === ts("2024-01-01 10:00:00").getTime)
      assert(rows.head.endMs === ts("2024-01-01 10:00:30").getTime)
    } finally q.stop()
  }

  test("intervalJoin matches within the window across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streams.intervalJoin(
      left.toDF().toDF("a_id", "a_user", "a_ts"),
      right.toDF().toDF("b_id", "b_user", "b_ts"),
      "a_user", "b_user", "a_ts", "b_ts", "1 hour", "1 hour")
    val q = joined.select("a_id", "b_id").writeStream.format("memory")
      .queryName("ij_out").outputMode("append").start()
    try {
      left.addData((1L, 7L, ts("2024-01-01 10:00:00")))
      right.addData((10L, 7L, ts("2024-01-01 10:30:00"))) // in window
      q.processAllAvailable()
      // second batch: same-key purchase past the window, plus a
      // different-key one inside it — neither may match click 1
      right.addData(
        (11L, 7L, ts("2024-01-01 11:30:00")),
        (12L, 8L, ts("2024-01-01 10:15:00")))
      // a purchase BEFORE the click never matches (one-directional)
      left.addData((2L, 8L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val rows = spark.table("ij_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((1L, 10L)))
    } finally q.stop()
  }

  test("left-outer intervalJoin emits unmatched lefts once the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Long, Timestamp)]
    val right = MemoryStream[(Long, Long, Timestamp)]
    val joined = Streams.intervalJoin(
      left.toDF().toDF("a_id", "a_user", "a_ts"),
      right.toDF().toDF("b_id", "b_user", "b_ts"),
      "a_user", "b_user", "a_ts", "b_ts", "1 hour", "1 hour",
      joinType = "left_outer")
    val q = joined.select("a_id", "b_id").writeStream.format("memory")
      .queryName("loj_out").outputMode("append").start()
    try {
      left.addData((1L, 7L, ts("2024-01-01 10:00:00"))) // will never match
      right.addData((10L, 8L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // nothing final yet: watermark hasn't passed 11:00 + delay
      assert(spark.table("loj_out").count() === 0)
      // advance BOTH sides' event time so the min watermark moves to
      // 12:00 > click-window end 11:00 → the unmatched click emits
      left.addData((2L, 9L, ts("2024-01-01 13:00:00")))
      right.addData((11L, 9L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val rows = spark.table("loj_out").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(rows.contains((1L, None)))          // closed unmatched left
      assert(rows.contains((2L, Some(11L))))     // in-window match
    } finally q.stop()
  }

  test("scd2Stream closes versions across micro-batches via Scd2.merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("scd2_ck") { ck =>
      import org.apache.spark.sql.types._
      val input = MemoryStream[(Long, Timestamp, String, Long)]
      val histSchema = StructType(Seq(
        StructField("id", LongType), StructField("state", StringType),
        StructField("valid_from", TimestampType),
        StructField("valid_to", TimestampType)))
      var gold = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), histSchema)
      val q = Streams.scd2Stream(
        input.toDF().toDF("id", "ts", "state", "seq"),
        Seq("id"), Seq("state"), "ts", "seq",
        latest => gold = graft.operators.Scd2.merge(gold, latest,
            Seq("id"), Seq("state"), "ts")
          .drop("is_current").localCheckpoint(true),
        ck.toString)
      try {
        // batch 1: key 1 flaps A→B within the batch (collapses to B),
        // key 2 arrives as X
        input.addData(
          (1L, ts("2024-01-01 00:00:00"), "A", 1L),
          (1L, ts("2024-01-01 06:00:00"), "B", 2L),
          (2L, ts("2024-01-01 00:00:00"), "X", 3L))
        q.processAllAvailable()
        // batch 2: key 1 changes (closes B), key 2 repeats X (no-op)
        input.addData(
          (1L, ts("2024-01-02 00:00:00"), "C", 4L),
          (2L, ts("2024-01-02 00:00:00"), "X", 5L))
        q.processAllAvailable()
        val got = gold.orderBy(col("id"), col("valid_from")).collect()
          .map(r => (r.getLong(0), r.getString(1), Option(r.getTimestamp(3))))
        assert(got.toSeq === Seq(
          (1L, "B", Some(ts("2024-01-02 00:00:00"))), // closed by batch 2
          (1L, "C", None),                             // current
          (2L, "X", None)))                            // no-op kept ONE version
      } finally q.stop()
    }
  }

  test("transformEachBatchWithId: engine batch ids key exactly-once TxLog commits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("tebi_") { tmp =>
      val input = MemoryStream[Long]
      val tbl = s"$tmp/tbl"
      var ids = Seq.empty[Long]
      val q = Streams.transformEachBatchWithId(
        input.toDF().toDF("doc_id"),
        batch => batch.withColumn("v", col("doc_id") * 10),
        (res, batchId) => {
          ids = ids :+ batchId
          // first commit under this (appId, batchId) applies; the
          // simulated REPLAY of the same id below must be a no-op
          graft.sources.TxLog.commitIdempotent(res, tbl, "append",
            "doc_id", "tebi", batchId)
          ()
        },
        s"$tmp/ck")
      try {
        input.addData(1L, 2L)
        q.processAllAvailable()
        input.addData(3L)
        q.processAllAvailable()
        assert(ids === Seq(0L, 1L)) // the engine's ids, in order
        val n1 = graft.sources.TxLog.read(spark, tbl).count()
        // replay batch 1's payload under its original id: skipped
        val replayed = graft.sources.TxLog.commitIdempotent(
          Seq(3L).toDF("doc_id").withColumn("v", col("doc_id") * 10),
          tbl, "append", "doc_id", "tebi", 1L)
        assert(replayed.isEmpty)
        assert(graft.sources.TxLog.read(spark, tbl).count() === n1)
        // a NEW id still applies
        assert(graft.sources.TxLog.commitIdempotent(
          Seq(4L).toDF("doc_id").withColumn("v", col("doc_id") * 10),
          tbl, "append", "doc_id", "tebi", 2L).nonEmpty)
        assert(graft.sources.TxLog.read(spark, tbl).count() === n1 + 1)
      } finally q.stop()
    }
  }

  test("transformEachBatch runs the batch operator per micro-batch, sink accumulates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkSpec.withTempDir("teb_ck") { ck =>
      val input = MemoryStream[Long]
      var seen = Seq.empty[(Long, Long)]
      val q = Streams.transformEachBatch(
        input.toDF().toDF("doc_id"),
        // a stand-in for the multimodal pass: real decode+fingerprint
        // of the batch via the SAME batch operator q221 gates
        batch => graft.operators.Multimodal.dhashRoundTrip(batch, "doc_id")
          .select(col("id"), col("dhash")),
        res => seen = seen ++ res.collect()
          .map(r => (r.getLong(0), r.getLong(1))),
        ck.toString)
      try {
        input.addData(3L, 67L) // 67 = 3 + 64 → identical scene image
        q.processAllAvailable()
        val afterBatch1 = seen.size
        input.addData(4L)
        q.processAllAvailable()
        assert(afterBatch1 === 2 && seen.size === 3)
        val m = seen.toMap
        // per-batch results equal the batch operator's output
        assert(m(3L) ===
          graft.operators.Multimodal.dHash64(
            graft.operators.Multimodal.syntheticScenePng(3L)).get)
        assert(m(3L) === m(67L)) // same (scene, variant) across ids
        assert(m(3L) !== m(4L))
      } finally q.stop()
    }
  }

  test("debounceStream: kept-relative-to-kept state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.KeyedMs]
    val out = Streams.debounceStream(input.toDS(), quietMs = 10000L)
    val q = out.toDF().writeStream.format("memory")
      .queryName("debounce_out").outputMode("append").start()
    try {
      // batch 1: t = 0 kept, t = 5000 dropped → kept 1, last 0
      input.addData(Streams.KeyedMs(1L, 0L), Streams.KeyedMs(1L, 5000L))
      q.processAllAvailable()
      // batch 2: t = 9000 must compare against KEPT 0 (dropped), and
      // t = 12000 against 0 (kept) — a stateless per-batch fold or a
      // last-EVENT rule would decide differently
      input.addData(Streams.KeyedMs(1L, 9000L), Streams.KeyedMs(1L, 12000L))
      q.processAllAvailable()
      val rows = spark.table("debounce_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSet === Set(
        (2L, 1L, 0L),      // after batch 1
        (4L, 2L, 12000L))) // after batch 2: state carried
    } finally q.stop()
  }

  test("funnelStream: reach list carries across batches; strictly-after holds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(input.toDS())
    val q = out.toDF().writeStream.format("memory")
      .queryName("funnel_out").outputMode("append").start()
    try {
      // batch 1: view@10; a click@10 (same ms) must NOT count
      // (strictly after); click@20 reaches stage 2
      input.addData(
        Streams.FunnelEvent(1L, 0, 10L), Streams.FunnelEvent(1L, 1, 10L),
        Streams.FunnelEvent(1L, 1, 20L))
      q.processAllAvailable()
      // batch 2: purchase@15 is BEFORE the carried stage-2 reach (20)
      // → ignored; purchase@30 completes. A stateless per-batch fold
      // would have no stage-2 reach to compare against at all.
      input.addData(
        Streams.FunnelEvent(1L, 2, 15L), Streams.FunnelEvent(1L, 2, 30L))
      q.processAllAvailable()
      // user 2 never views; their click must not open a funnel
      input.addData(Streams.FunnelEvent(2L, 1, 5L))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(rows.toSet === Set(
        (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L)))
    } finally q.stop()
  }

  test("funnelStream: out-of-order within a batch sorts by event time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.FunnelEvent]
    val out = Streams.funnelStream(input.toDS())
    val q = out.toDF().writeStream.format("memory")
      .queryName("funnel_ooo_out").outputMode("append").start()
    try {
      // arrival order purchase, click, view — time order view(1) <
      // click(2) < purchase(3) must still complete the funnel
      input.addData(
        Streams.FunnelEvent(7L, 2, 3L), Streams.FunnelEvent(7L, 1, 2L),
        Streams.FunnelEvent(7L, 0, 1L))
      q.processAllAvailable()
      val rows = spark.table("funnel_ooo_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(rows.toSet === Set((7L, 1, 1L), (7L, 2, 2L), (7L, 3, 3L)))
    } finally q.stop()
  }

  test("sparsePostingStream: admission-time df cap across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Posting]
    val out = Streams.sparsePostingStream(input.toDS(), maxDf = 3)
    val q = out.toDF().writeStream.format("memory")
      .queryName("sps_out").outputMode("append").start()
    def rows() = spark.table("sps_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    try {
      // batch 1: two postings of t admitted; a 4-posting token u
      // overflows the cap IN ONE BATCH and must emit nothing at all
      input.addData(
        Streams.Posting("t", 3L, 1L), Streams.Posting("t", 1L, 2L),
        Streams.Posting("u", 1L, 1L), Streams.Posting("u", 2L, 1L),
        Streams.Posting("u", 3L, 1L), Streams.Posting("u", 4L, 1L))
      q.processAllAvailable()
      assert(rows() === Set(
        ("n", 1L, -1L, 4L), ("n", 3L, -1L, 1L), ("p", 1L, 3L, 2L)))
      // batch 2: third t posting pairs against BOTH held postings
      input.addData(Streams.Posting("t", 2L, 5L))
      q.processAllAvailable()
      assert(rows() === Set(
        ("n", 1L, -1L, 4L), ("n", 3L, -1L, 1L), ("p", 1L, 3L, 2L),
        ("n", 2L, -1L, 25L), ("p", 1L, 2L, 10L), ("p", 2L, 3L, 5L)))
      // batch 3: cumulative df would reach 5 > 3 — t dies, batch
      // rejected whole; earlier emissions stand (append history)
      input.addData(Streams.Posting("t", 4L, 1L), Streams.Posting("t", 5L, 1L))
      q.processAllAvailable()
      val afterDeath = rows()
      assert(afterDeath.size === 6)
      // batch 4: dead stays dead, state is empty for it
      input.addData(Streams.Posting("t", 6L, 1L))
      q.processAllAvailable()
      assert(rows() === afterDeath)
    } finally q.stop()
  }

  test("weightedSampleStream: reservoir is order-free across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // priorities are pure functions of id, so ANY batch split must
    // land on the same final reservoir: k=2 smallest priorities
    val all = Seq( // (grp, id, weight, priority)
      Streams.WeightedItem("g", 1L, 10L, 500L),
      Streams.WeightedItem("g", 2L, 10L, 100L),
      Streams.WeightedItem("g", 3L, 10L, 300L),
      Streams.WeightedItem("g", 4L, 10L, 200L))
    def run(batches: Seq[Seq[Streams.WeightedItem]], name: String) = {
      val input = MemoryStream[Streams.WeightedItem]
      val q = Streams.weightedSampleStream(input.toDS(), k = 2).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // latest snapshot = the final batch's emission (memory sink
        // appends history; the last batch emits exactly min(k, seen)
        // = 2 ranked rows here)
        spark.table(name).collect()
          .map(r => (r.getLong(1), r.getLong(2)))
          .takeRight(2).toSeq
      } finally q.stop()
    }
    val oneShot = run(Seq(all), "ws_one")
    val split = run(Seq(all.take(1), all.slice(1, 3), all.drop(3)), "ws_split")
    val expected = Seq((1L, 2L), (2L, 4L)) // ids 2 (pri 100), 4 (pri 200)
    assert(oneShot === expected)
    assert(split === expected)
  }

  test("scratchCheckpointDir deletes its directory when the body throws") {
    var dir: java.nio.file.Path = null
    val e = intercept[IllegalStateException](
      Streams.scratchCheckpointDir("graft-spec-ck") { d =>
        dir = d
        java.nio.file.Files.createDirectories(d.resolve("offsets"))
        java.nio.file.Files.writeString(d.resolve("offsets/0"), "v1")
        throw new IllegalStateException("stream failed")
      })
    assert(e.getMessage == "stream failed")
    assert(!java.nio.file.Files.exists(dir))
  }
}
