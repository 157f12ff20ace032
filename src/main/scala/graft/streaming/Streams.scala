package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.util.Using

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming restatements of the reference's hand-rolled
  * incremental semantics (SURVEY §2.8).
  *
  * The reference re-runs a batch job on a cron cadence and fakes
  * incrementality with freshness probes and idempotent upserts; these
  * are the native streaming forms: watermarks bound state, windowed
  * aggregation replaces the 30×24 h fetch loop, and
  * `flatMapGroupsWithState` holds the per-entity session state the
  * reference kept in Python locals.
  */
object Streams {

  /** K2/late-dup (`customer.sql:352-355` unique key + INSERT IGNORE):
    * streaming dedup on the BUSINESS key — duplicates with different
    * event timestamps still collapse (the INSERT IGNORE semantics),
    * and `dropDuplicatesWithinWatermark` bounds the state without
    * needing the event-time column in the key set.
    */
  def dedupStream(events: DataFrame, tsCol: String, watermarkDelay: String,
      keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Tumbling daily counts (the 30×24 h QoE loop and daily `Date`
    * grain): incremental per-window partial aggregation; late rows
    * beyond the watermark are dropped exactly like the reference's
    * day-grain re-run skips them.
    */
  def dailyCounts(events: DataFrame, tsCol: String, dims: Seq[String],
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), "1 day") +: dims.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(col("window.start").as("day_start")) ++ dims.map(col) :+
        col("n")): _*)

  /** Stream-stream inner join with an event-time interval condition —
    * the attribution join (click → purchase within a window) that the
    * reference's batch re-runs approximate with day-grain refreshes.
    *
    * Both sides carry watermarks and the join predicate bounds
    * `right.ts` to `[left.ts, left.ts + within]`; together these let
    * the engine evict left state once the right watermark passes
    * `left.ts + within` (and right state symmetrically), so state is
    * bounded by watermark-delay × arrival-rate — the one configuration
    * where unbounded stream-stream join state is provably finite.
    * The two sides must arrive with DISJOINT column names (rename
    * before calling) — the output carries every column of both.
    */
  /** `joinType` "inner" (default) or "left_outer": the outer form
    * emits an unmatched left row with nulls only once the watermark
    * proves no future right row can land in its window — so a bounded
    * run's outer rows are exactly those with `leftTs + within` behind
    * the final watermark (q173 states that predicate in SQL).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      within: String, watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      expr(s"""$leftKey = $rightKey AND
              |$rightTs >= $leftTs AND
              |$rightTs <= $leftTs + interval $within""".stripMargin),
      joinType)
  }

  final case class SessionEvent(key: Long, ts: Timestamp)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(key: Long, startMs: Long, endMs: Long, n: Int)

  /** Gap-based sessionization with explicit state
    * (`flatMapGroupsWithState` + EVENT-time timeout): a session closes
    * when a later event arrives past the gap, or when the watermark
    * passes `last + gap` (state evicted — bounded memory). The state
    * machine the reference runs over collected per-day lists
    * (`powerbi_main_fun.py:1807-1887`) becomes per-key managed state
    * surviving across micro-batches — the mapGroupsWithState pattern
    * SURVEY §2.9 calls for. Event-time (not processing-time) timeout
    * keeps the engine idle between arrivals instead of busy-running
    * timeout-check batches.
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
      watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, s.start, s.last, s.n))
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (t <- sorted) {
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  // max: a late-but-in-gap event must not move the
                  // session end backwards (it would split the session
                  // against later on-time events)
                  cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(key, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  final case class Visit(url: String, ts: java.sql.Timestamp)
  final case class AdmState(firstMs: Long, maxBucket: Long)
  final case class Admission(url: String, ms: Long, bucket: Long)

  /** TTL re-admission — the streaming recrawl gate: a URL's FIRST
    * visit is admitted, and thereafter one visit per elapsed TTL
    * window (tumbling from the first visit) is re-admitted — the
    * semantics a crawl frontier needs where
    * `dropDuplicatesWithinWatermark` can only dedup forever (no
    * re-admission, ever). State per URL is two longs (first-visit ms,
    * max admitted window) — bounded regardless of visit volume —
    * evicted by event-time timeout after `evictMs` of inactivity
    * (a URL returning later is treated as newly discovered).
    *
    * Within a micro-batch visits sort by event time, so bucket
    * indices are non-decreasing per key and admission = first visit
    * of each new window — exactly the batch-window oracle.
    */
  def ttlAdmission(visits: Dataset[Visit], ttlMs: Long,
      evictMs: Long, watermarkDelay: String = "3650 days")
      : Dataset[Admission] = {
    import visits.sparkSession.implicits._
    require(ttlMs >= 1 && evictMs >= ttlMs)
    visits
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (url: String, rows: Iterator[Visit], state: GroupState[AdmState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.map(_.ts.getTime).toSeq.sorted
            var st = state.getOption
            val out = scala.collection.mutable.ListBuffer.empty[Admission]
            for (t <- sorted) {
              st match {
                case None =>
                  st = Some(AdmState(t, 0L))
                  out += Admission(url, t, 0L)
                case Some(s) =>
                  val b = (t - s.firstMs) / ttlMs
                  if (b > s.maxBucket) {
                    st = Some(AdmState(s.firstMs, b))
                    out += Admission(url, t, b)
                  }
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(sorted.lastOption
                .getOrElse(s.firstMs) + evictMs)
            }
            out.iterator
          }
      }
  }

  final case class FunnelEvent(user_id: Long, stage_idx: Int, ms: Long)
  final case class FunnelState(reach: List[Long])
  final case class FunnelReach(user_id: Long, stage_idx: Int, reach_ms: Long)

  /** Streaming ORDERED FUNNEL — the stateful twin of
    * [[graft.operators.Analytics.funnel]] (q194): per-user state is
    * the list of reach times for the stages completed so far; each
    * micro-batch folds its user's events in event-time order and a
    * stage-k event advances the funnel iff k is exactly the next
    * stage and its time is STRICTLY after the stage-(k−1) reach —
    * which reproduces batch's "min ts strictly after" recursively
    * (walking in time order, the first qualifying event IS the min).
    * Emits one row per newly reached stage. State is ≤ n_stages
    * longs per user; at production scale compose a watermark timeout
    * to retire abandoned funnels. Same-ms ties sort by stage_idx, so
    * a stage-k and stage-(k+1) event at the same ms advance only k —
    * strictly-after is preserved across batches too (the reach list
    * carries).
    */
  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[FunnelEvent],
            state: GroupState[FunnelState]) =>
          var reach = state.getOption.map(_.reach).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[FunnelReach]
          for (e <- rows.toSeq.sortBy(r => (r.ms, r.stage_idx))) {
            val k = reach.length
            if (e.stage_idx == k && (k == 0 || e.ms > reach.last)) {
              reach = reach :+ e.ms
              out += FunnelReach(uid, k + 1, e.ms)
            }
          }
          if (out.nonEmpty) state.update(FunnelState(reach))
          out.iterator
      }
  }

  final case class SigDoc(docId: Long, sig: String)
  final case class DupLink(doc_id: Long, dup_of: Option[Long])

  final case class KeyedMs(key: Long, ms: Long)
  final case class DebounceTotals(user_id: Long, n_events: Long,
    n_kept: Long, last_kept_ms: Long)

  /** Streaming TRUE debounce — the stateful twin of
    * [[graft.operators.Windows.debounceCounts]] (q254): per-key state
    * holds (last kept ms, kept, events) and each micro-batch folds
    * its key's arrivals IN EVENT-TIME ORDER through the identical
    * keep rule, emitting the key's running totals. On the bounded
    * one-batch gate run this is exactly the batch fold; across
    * batches the state carries, so ingestion order between batches
    * only matters as far as real out-of-order data would (a late
    * event sorts within ITS batch — the StreamsSpec multi-batch test
    * pins the carryover). State is three longs per key — watermark
    * eviction composes when keys expire.
    */
  def debounceStream(events: Dataset[KeyedMs],
      quietMs: Long): Dataset[DebounceTotals] = {
    import events.sparkSession.implicits._
    val neverKept = -4611686018427387904L
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[KeyedMs],
            state: GroupState[(Long, Long, Long)]) =>
          val (last0, kept0, n0) =
            state.getOption.getOrElse((neverKept, 0L, 0L))
          var last = last0; var kept = kept0; var n = n0
          rows.map(_.ms).toSeq.sorted.foreach { ms =>
            n += 1
            if (ms - last > quietMs) { last = ms; kept += 1 }
          }
          state.update((last, kept, n))
          Iterator.single(DebounceTotals(key, n, kept, last))
      }
  }

  /** Streaming near-dup ingestion: documents arrive keyed by their
    * full MinHash signature (computed as a projection on the stream —
    * [[graft.operators.Dedup.minhashSignaturesRow]]); per-signature
    * state holds the canonical (minimum) document id seen so far, and
    * every arriving document emits a link to its canonical (null when
    * it IS the canonical — the continuous-ingestion form of "first
    * copy wins, later copies point home"). State is one long per
    * distinct signature — bounded by content diversity, not stream
    * length; an unbounded production run would add an event-time TTL
    * exactly like [[sessionize]]'s timeout.
    *
    * If a batch introduces an id smaller than the stored canonical,
    * the smaller id becomes canonical for FUTURE arrivals (its own
    * link is null); earlier emissions are append-mode history, the
    * same trade `dropDuplicatesWithinWatermark` makes.
    */
  def minhashDedupStream(docs: Dataset[SigDoc]): Dataset[DupLink] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.sig)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[SigDoc], state: GroupState[Long]) =>
          val ids = rows.map(_.docId).toSeq.sorted
          val canon = (state.getOption.toSeq ++ ids).min
          state.update(canon)
          ids.iterator.map(id =>
            DupLink(id, if (id == canon) None else Some(canon)))
      }
  }

  final case class Posting(token: String, docId: Long, tf: Long)
  /** `kind` "p": a pair-dot partial (a=id_a<b=id_b, v=tf_a·tf_b for
    * one shared token); "n": a norm partial (a=doc, b=-1, v=tf²).
    */
  final case class PairPart(kind: String, a: Long, b: Long, v: Long)

  /** Streaming lexical near-dup — the posting-state twin of
    * [[graft.operators.Search.sparseCosineJoin]] (q432): postings
    * ride the stream keyed by TOKEN; per-token state holds the
    * admitted posting list (df-cap-bounded, so state is
    * ≤ maxDf·(2 longs) per live token and ZERO per dead token), and
    * each arriving posting emits its pair-dot partials against every
    * previously-admitted posting plus its own norm partial. A
    * downstream rollup (pair-keyed Σ for dots, doc-keyed Σ for
    * norms) finishes the cross-multiplied cos² exactly as the batch
    * operator does.
    *
    * Cap semantics: ADMISSION-TIME df capping — a token dies the
    * moment its cumulative df would exceed `maxDf`, and a dying
    * token's CURRENT batch is rejected whole. On a single-batch run
    * the group call sees every posting at once, so this is exactly
    * the batch rule (df > maxDf drops the token entirely) and
    * stream ≡ batch holds verbatim — the q438 gate. Across batches a
    * token admitted early and killed later keeps its early
    * contributions (append-mode history, the same trade
    * [[minhashDedupStream]] documents); StreamsSpec pins that
    * carryover. Norm partials are emitted under the SAME admission
    * decision as pair partials, so the finished cosine is exact in
    * the admitted-postings space — the capped-space consistency rule
    * sparseCosineJoin's scaladoc calls the subtle correctness trap.
    *
    * Determinism: within a group call postings are processed in
    * doc-id order, and every emission is an integer — the finished
    * rollup hash-gates.
    */
  def sparsePostingStream(postings: Dataset[Posting],
      maxDf: Int): Dataset[PairPart] = {
    import postings.sparkSession.implicits._
    postings.groupByKey(_.token)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Posting],
            state: GroupState[(Boolean, Seq[(Long, Long)])]) =>
          val (dead0, seen0) =
            state.getOption.getOrElse((false, Seq.empty[(Long, Long)]))
          val arrived = rows.map(p => (p.docId, p.tf)).toSeq.sortBy(_._1)
          if (dead0 || seen0.size + arrived.size > maxDf) {
            state.update((true, Seq.empty))
            Iterator.empty
          } else {
            val out = Seq.newBuilder[PairPart]
            arrived.foreach { case (d, tf) =>
              out += PairPart("n", d, -1L, tf * tf)
            }
            for ((dn, tn) <- arrived; (ds, ts) <- seen0) {
              val (a, b) = if (dn < ds) (dn, ds) else (ds, dn)
              out += PairPart("p", a, b, tn * ts)
            }
            for (i <- arrived.indices; j <- (i + 1) until arrived.size)
              out += PairPart("p", arrived(i)._1, arrived(j)._1,
                arrived(i)._2 * arrived(j)._2)
            state.update((false, seen0 ++ arrived))
            out.result().iterator
          }
      }
  }

  final case class WeightedItem(grp: String, id: Long, weight: Long,
    priority: Long)
  final case class SampleRow(grp: String, rn: Long, id: Long,
    weight: Long, priority_e9: Long)

  /** Streaming Efraimidis–Spirakis weighted reservoir — the stateful
    * twin of [[graft.operators.Corpus.weightedSampleAes]]: per-group
    * state holds the k ITEMS WITH SMALLEST A-ES PRIORITY seen so far
    * (priorities are computed upstream as a projection with
    * [[graft.operators.Corpus.aesPriority]] — one key definition for
    * both modes), and each micro-batch emits the group's
    * post-update reservoir as ranked rows. Because the priority is a
    * pure function of (id, salt), merging a batch into the reservoir
    * is a plain sorted-take — the classic A-ES stream semantics,
    * deterministic and ORDER-FREE: any arrival order, any batch
    * split, same final reservoir (the property the multi-batch spec
    * pins). State is k rows per group.
    *
    * On the single-batch gate run the one emitted snapshot IS the
    * batch draw, so q440 gates against q439's oracle verbatim; on a
    * multi-batch run each batch appends its snapshot (append-mode
    * history — consumers read the latest per group).
    */
  def weightedSampleStream(items: Dataset[WeightedItem],
      k: Int): Dataset[SampleRow] = {
    import items.sparkSession.implicits._
    items.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[WeightedItem],
            state: GroupState[Seq[(Long, Long, Long)]]) =>
          val cur = state.getOption.getOrElse(Seq.empty)
          val merged = (cur ++ rows.map(r => (r.priority, r.id, r.weight)))
            .sortBy(t => (t._1, t._2)).take(k)
          state.update(merged)
          merged.iterator.zipWithIndex.map { case ((p, id, w), i) =>
            SampleRow(g, i + 1L, id, w, p)
          }
      }
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` with a throwaway directory for a one-shot stream run
    * (its checkpoint, and any input the run stages), then delete the
    * directory recursively — also when `body` throws; a failed delete
    * is then attached to the body's exception as suppressed. Prefers
    * tmpfs (/dev/shm): the per-batch WAL fsyncs of a checkpoint on a
    * disk-backed /tmp inject I/O latency noise that has nothing to do
    * with the plan under measurement. A production job would of course
    * point its checkpoint at durable storage — that is a deployment
    * choice, not an operator property.
    */
  def scratchCheckpointDir[T](prefix: String)(body: Path => T): T = {
    val shm = Paths.get("/dev/shm")
    val dir =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    Using.resource(dir)(body)(d => FileUtils.deleteDirectory(d.toFile))
  }

  /** Drive a streaming frame over its BOUNDED source to completion
    * (`Trigger.AvailableNow`) and hand the materialized result back as
    * a batch frame — the bridge that lets a batch-only correctness
    * gate hash-compare a genuinely streaming plan
    * (watermark, state store, micro-batch planner and all) against a
    * SQL oracle. Each call gets a fresh memory-sink table and a
    * throwaway checkpoint, so Bench can re-run the same query.
    */
  def runToTable(df: DataFrame, mode: OutputMode,
      statePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_stream_${runSeq.incrementAndGet()}"
    scratchCheckpointDir("graft-ckpt-") { ckpt =>
      // State-store partition count is fixed by shuffle.partitions at
      // FIRST checkpoint creation; these one-shot gates carry tiny state,
      // so 32 partitions is pure per-batch provider overhead (~4× the
      // useful work). Scope the smaller value to the stream start and
      // restore — at production scale a long-lived job would instead
      // RAISE it to match state volume, set once at its own checkpoint
      // birth. Sequential Verify/Bench execution makes the scoping safe.
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        // Materialize the sink's rows and DROP the temp view — without
        // this every run (Bench iterates each query 3×) leaves a live
        // MemorySink holding the full result on the driver for the JVM
        // lifetime. The result is the query's FINAL frame (small by
        // contract), so a LocalRelation is the right residue.
        val out = spark.table(name)
        val rows = out.collect().toIndexedSeq
        val schema = out.schema
        spark.catalog.dropTempView(name)
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, schema)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** [[runToTable]] for high-partial-volume streams: each micro-batch
    * is ROLLED UP by `batchAgg` before leaving the executor side and
    * the aggregated residue appends to a parquet directory instead of
    * a driver MemorySink. A stateful emitter like
    * [[sparsePostingStream]] can produce partial volume approaching
    * Σ C(df,2) per batch; materializing that row-by-row on the driver
    * measures the sink, not the operator (VERDICT r9 note 2). The
    * caller re-aggregates across batches (sum-of-sums) and owns the
    * directory's lifetime (materialize before deleting it).
    */
  def runBatchedToParquet(df: DataFrame, batchAgg: DataFrame => DataFrame,
      outDir: String, statePartitions: Int = 8): DataFrame = {
    val spark = df.sparkSession
    scratchCheckpointDir("graft-ckpt-") { ckpt =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        df.writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            batchAgg(batch.toDF()).write.mode("append").parquet(outDir)
          }
          .start()
          .awaitTermination()
        // zero micro-batches (empty input) → foreachBatch never ran and
        // outDir was never created; return an empty frame of the
        // aggregated schema instead of a path-not-found from the read
        if (new java.io.File(outDir).exists()) spark.read.parquet(outDir)
        else spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          batchAgg(spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            df.schema)).schema)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** SCD2 dimension maintenance as a stream: each micro-batch reduces
    * to latest-state-per-key (row_number over ts desc, seq desc — a
    * total pick) and hands that delta to `merge`, which the caller
    * wires to [[graft.operators.Scd2.merge]] against the gold history
    * store. Version grain is the batch boundary: intra-batch
    * intermediate states collapse (the nightly-job semantics at
    * micro-batch cadence), and because Scd2.merge is idempotent on
    * no-op deltas, batch replay after a failure converges rather than
    * duplicating versions. State lives entirely in the gold store —
    * the stream itself is stateless, so nothing here grows with keys.
    */
  def scd2Stream(updates: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], tsCol: String, seqCol: String,
      merge: DataFrame => Unit, checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = updates.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(tsCol).desc, col(seqCol).desc)
        val latest = batch
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select((keyCols ++ attrCols).map(col) :+ col(tsCol): _*)
        merge(latest)
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Generic per-batch transform ingest: apply `transform` to each
    * micro-batch DataFrame and hand the result to `sink`. This is the
    * stream/batch unification seam for operators whose core is a
    * per-partition JVM pass the streaming planner cannot express
    * directly (multimodal decode/fingerprint, codec dispatch): the
    * BATCH operator runs verbatim inside foreachBatch, so the two
    * paths cannot drift. The stream itself is stateless — durable
    * state (indexes, accumulators) lives on the caller's side of
    * `sink`, exactly like [[scd2Stream]]'s gold store.
    */
  def transformEachBatch(stream: DataFrame,
      transform: DataFrame => DataFrame, sink: DataFrame => Unit,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    transformEachBatchWithId(stream, transform,
      (df, _) => sink(df), checkpointDir, trigger)

  /** [[transformEachBatch]] exposing the engine's micro-batch id to
    * the sink. The id is the EXACTLY-ONCE handle: Structured
    * Streaming replays a failed batch under the SAME id, so a sink
    * that keys an idempotent commit on (appId, batchId) — e.g.
    * [[graft.sources.TxLog.commitIdempotent]], the Delta txnAppId
    * shape — turns at-least-once batch delivery into exactly-once
    * table state (q519's ingest contract).
    */
  def transformEachBatchWithId(stream: DataFrame,
      transform: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(transform(batch.toDF()), id)
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Day-grain QoE as a stream: each micro-batch runs the SAME
    * declarative run-length operator ([[graft.operators.Qoe.dailyOutagesDF]])
    * and merges the per-(edge, day) rows through `merge` — the
    * batch/stream unification the reference's cron re-run approximates.
    *
    * Contract: a batch must carry COMPLETE (edge, day) groups (the
    * reference's own arrival unit — QoE is fetched in whole-day
    * slices, `powerbi_main_fun.py:1890-1921`). Under that contract
    * the idempotent merge makes redelivery and batch replay no-ops;
    * a partially-delivered day would merge a partial aggregate, which
    * the NEXT delivery of the completed day overwrites — convergent,
    * never duplicated, exactly the reference's re-run semantics.
    */
  def dailyQoeStream(qoe: DataFrame, merge: DataFrame => Unit,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    qoe.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        merge(graft.operators.Qoe.dailyOutagesDF(
          batch, "edge_key", to_date(col("ts")), "ts", "tb", "state"))
      }
      .start()
}
