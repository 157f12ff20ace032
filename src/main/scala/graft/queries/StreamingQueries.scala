package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.Tables
import graft.streaming.Streams

/** q60–q62: the SURVEY §2.8 streaming operators under the ORACLE gate.
  *
  * Each query runs a real Structured Streaming plan — file source,
  * watermark, state store, micro-batch planner — over the bounded
  * events table via `Trigger.AvailableNow`, then hash-compares the
  * materialized sink against a plain-SQL oracle. This is the
  * batch/stream unification claim made concrete: the streaming
  * formulation of an operator must produce byte-identical results to
  * its batch SQL statement on the same data.
  *
  * Determinism contract: events.parquet is a single file, so the run
  * is ONE micro-batch — every key's rows arrive together and in-batch
  * ordering is total (the operators sort per key). At production scale
  * the same plans run unbounded with real watermark eviction; the
  * bounded gate checks the LOGIC, the streaming specs
  * (StreamsSpec) check the incremental/multi-batch mechanics.
  */
object StreamingQueries extends QueryPack {

  /** Streaming read of the events table: [[graft.Tables.stream]]
    * takes the schema from a batch footer read of the SAME table
    * (nanos-long, timestamp[us] or NTZ — whatever the current data
    * generation uses) and `ts` is normalized with the exact helper the
    * batch loader uses ([[graft.Tables.normalizeTs]]), so the
    * streaming path can never drift from the file or from batch.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(graft.Tables.stream(s, dir, "events"))

  /** Streaming read of the documents table ([[graft.Tables.stream]]). */
  private def documentsStream(s: SparkSession, dir: String): DataFrame =
    graft.Tables.stream(s, dir, "documents")

  /** Shared DuckDB session derivation for q62/q75 (one definition so
    * the two gates can never drift — the repo's interpolated-literal
    * convention, cf. GoldQueries.MovedMap): ms-grain events → lag →
    * gap-marked session ids → per-session stats, with `last_sid`
    * marking each key's final (still-open) session.
    */
  private val sessionCte: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |a AS (SELECT user_id, ms,
      |        lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
      |      FROM e),
      |b AS (SELECT user_id, ms,
      |        sum(CASE WHEN prev IS NULL OR ms - prev > 1800000
      |                 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ms
      |                ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM a),
      |sess AS (SELECT user_id, sid, min(ms) AS start_ms,
      |           max(ms) AS end_ms, count(*) AS n
      |         FROM b GROUP BY user_id, sid),
      |f AS (SELECT *, max(sid) OVER (PARTITION BY user_id) AS last_sid
      |      FROM sess)""".stripMargin

  def defs: Map[String, Q] = Map(
    // §2.8 tumbling daily windows: incremental windowed aggregation.
    // Complete mode emits every window regardless of watermark, which
    // is what makes the bounded run equal to the batch GROUP BY.
    "q60_stream_daily_counts" -> Q(
      (s, dir) => Streams.runToTable(
          Streams.dailyCounts(eventsStream(s, dir), "ts",
            Seq("event_type"), "1 hour"),
          OutputMode.Complete())
        .select(to_date(col("day_start")).as("day"), col("event_type"),
          col("n"))
        .orderBy(col("day"), col("event_type")),
      Some("""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin)),

    // K2/late-dup as a stream: dropDuplicatesWithinWatermark emits each
    // business key's FIRST arrival; projecting the key columns makes
    // the output order-independent (the distinct key set).
    "q61_stream_dedup" -> Q(
      (s, dir) => Streams.runToTable(
          Streams.dedupStream(
              eventsStream(s, dir).withColumn("day", to_date(col("ts"))),
              "ts", "1 hour", Seq("user_id", "event_type", "day"))
            .select(col("user_id"), col("event_type"), col("day")),
          OutputMode.Append())
        .orderBy(col("user_id"), col("event_type"), col("day")),
      Some("""SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS day
        |FROM events
        |ORDER BY user_id, event_type, day""".stripMargin)),

    // §2.8 sessionization via flatMapGroupsWithState. The watermark
    // delay (10 years) exceeds the data span + gap, so no event-time
    // timeout can fire: emitted sessions are EXACTLY the in-batch
    // closed ones — every session per key except the final one, which
    // stays open in state. The oracle mirrors that by excluding each
    // key's last session. (Timeout-driven flushing is exercised by
    // StreamsSpec with multi-batch MemoryStream input.)
    "q62_stream_sessionize" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
          .select(col("user_id").as("key"), col("ts"))
          .as[Streams.SessionEvent]
        Streams.runToTable(
            Streams.sessionize(ev, 1800000L, "3650 days").toDF(),
            OutputMode.Append())
          .select(col("key"), col("startMs").as("start_ms"),
            col("endMs").as("end_ms"), col("n").cast("long").as("n"))
          .orderBy(col("key"), col("start_ms"))
      },
      Some(s"""$sessionCte
        |SELECT user_id AS key, start_ms, end_ms, n
        |FROM f WHERE sid < last_sid
        |ORDER BY key, start_ms""".stripMargin)),

    // §2.8 watermark FINALIZATION: the same daily windows in APPEND
    // mode — a window emits only once the watermark (max event time −
    // 1 h) passes its end, so the trailing window(s) stay in state and
    // never emit. The oracle states the exact finalization predicate:
    // window_end ≤ max(ts) − 1 h. This gates the eviction semantics
    // q60's complete mode deliberately bypasses.
    "q74_stream_late_windows" -> Q(
      (s, dir) => Streams.runToTable(
          Streams.dailyCounts(eventsStream(s, dir), "ts",
            Seq("event_type"), "1 hour"),
          OutputMode.Append())
        .select(to_date(col("day_start")).as("day"), col("event_type"),
          col("n"))
        .orderBy(col("day"), col("event_type")),
      Some("""WITH m AS (SELECT max(ts) AS mx FROM events)
        |SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |FROM events, m
        |WHERE CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
        |      <= mx - INTERVAL 1 HOUR
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin)),

    // §2.8 event-time TIMEOUT flush: q62 with a realistic watermark
    // delay (1 h). The finalization batch fires timeouts for sessions
    // whose (end + gap) the watermark has passed, so the emitted set is
    // all in-batch-closed sessions PLUS timed-out final sessions —
    // "the timeout occurs when the watermark advances beyond the set
    // timestamp" (strict), which the oracle states as
    // end_ms + gap < max_ms − delay. Gates the timeout path q62's
    // infinite delay deliberately disables.
    "q75_stream_session_timeout" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
          .select(col("user_id").as("key"), col("ts"))
          .as[Streams.SessionEvent]
        Streams.runToTable(
            Streams.sessionize(ev, 1800000L, "1 hour").toDF(),
            OutputMode.Append())
          .select(col("key"), col("startMs").as("start_ms"),
            col("endMs").as("end_ms"), col("n").cast("long").as("n"))
          .orderBy(col("key"), col("start_ms"))
      },
      Some(s"""$sessionCte,
        |w AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm FROM events)
        |SELECT user_id AS key, start_ms, end_ms, n
        |FROM f, w
        |WHERE sid < last_sid OR end_ms + 1800000 < wm
        |ORDER BY key, start_ms""".stripMargin)),

    // Streaming near-dup ingestion: MinHash signatures ride the
    // stream as a projection, per-signature state keeps the canonical
    // (min) doc id, every document emits a link to its canonical
    // (null for the canonical itself). Single-file source ⇒ one
    // micro-batch ⇒ the oracle is the batch statement "link to the
    // signature's min id"; multi-batch state carryover is pinned in
    // StreamsSpec.
    "q88_stream_minhash_dedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val sigs = graft.operators.Dedup.minhashSignaturesRow(
            documentsStream(s, dir), "doc_id", "text", n = 1, k = 8)
          .select(col("doc_id").as("docId"),
            concat_ws(",", (0 until 8).map(i => col(s"m$i")): _*).as("sig"))
          .as[Streams.SigDoc]
        Streams.runToTable(
            Streams.minhashDedupStream(sigs).toDF(), OutputMode.Append())
          .orderBy(col("doc_id"))
      },
      {
        val mins = graft.operators.Dedup.perms(8).zipWithIndex
          .map { case ((a, b), i) =>
            s"min((h * $a + $b) % ${graft.operators.Dedup.P}) AS m$i"
          }.mkString(",\n|    ")
        val sigCols = (0 until 8).map(i => s"m$i").mkString(", ")
        Some(s"""WITH toks AS (
          |  SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |    ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
          |  FROM documents),
          |sh AS (
          |  SELECT doc_id, unnest(CASE WHEN len(t) < 1 THEN [array_to_string(t, ' ')]
          |    ELSE t END) AS s
          |  FROM toks),
          |h AS (SELECT DISTINCT doc_id,
          |    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % ${graft.operators.Dedup.P} AS h
          |  FROM sh),
          |g AS (SELECT doc_id,
          |    $mins
          |  FROM h GROUP BY doc_id),
          |sg AS (SELECT doc_id, concat_ws(',', $sigCols) AS sig FROM g)
          |SELECT doc_id,
          |  nullif(min(doc_id) OVER (PARTITION BY sig), doc_id) AS dup_of
          |FROM sg ORDER BY doc_id""".stripMargin)
      }),

    // STREAMING lexical near-dup (VERDICT r8 item 6): q432's sparse
    // tf-cosine join as a flatMapGroupsWithState posting-state
    // pipeline — per-doc tf computed IN-ROW as a projection (no
    // pre-shuffle agg on the stream), postings keyed by token, pair/
    // norm partials emitted from df-cap-bounded state, then the
    // batch rollup finishes the cross-multiplied cos². Single-file
    // source ⇒ one micro-batch ⇒ admission-time capping IS the batch
    // df cap, so the gate's oracle is q432's from-scratch statement
    // verbatim; multi-batch state carryover is pinned in StreamsSpec.
    "q438_stream_sparse_neardup" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.FixedPoint.idiv
        val toks = graft.operators.TextAnalysis.tokens(col("text"))
        val posts = documentsStream(s, dir)
          .filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"),
            explode(transform(array_distinct(toks),
              x => struct(x.as("token"),
                size(filter(toks, y => y === x)).cast("long").as("tf"))))
              .as("p"))
          .select(col("p.token").as("token"), col("doc_id").as("docId"),
            col("p.tf").as("tf"))
          .as[Streams.Posting]
        // per-batch rollup BEFORE the sink (VERDICT r9 note 2): the
        // stateful emitter's pair-partial volume approaches Σ C(df,2)
        // on a dense-vocabulary fixture; aggregating inside each
        // micro-batch leaves distinct (kind,a,b) rows only, so the
        // gate measures the operator, not MemorySink row shipping.
        // n partials per key ride along so the cross-batch n_shared
        // stays a sum, not a count of batches.
        Fixtures.scratchDir("graft_q438") { tmp =>
          val parts = Streams.runBatchedToParquet(
            Streams.sparsePostingStream(posts, maxDf = 500).toDF(),
            b => b.groupBy(col("kind"), col("a"), col("b"))
              .agg(sum(col("v")).as("v"), count(lit(1)).as("n")),
            s"$tmp/parts")
          val pairs = parts.filter(col("kind") === "p")
            .groupBy(col("a"), col("b"))
            .agg(sum(col("v")).as("dot"), sum(col("n")).as("n_shared"))
            .select(col("a").as("id_a"), col("b").as("id_b"),
              col("dot"), col("n_shared"))
          val norms = parts.filter(col("kind") === "n")
            .groupBy(col("a")).agg(sum(col("v")).as("norm2"))
          pairs
            .join(norms.select(col("a").as("id_a"),
              col("norm2").as("norm2_a")), "id_a")
            .join(norms.select(col("a").as("id_b"),
              col("norm2").as("norm2_b")), "id_b")
            .withColumn("cos2_ppm", idiv(col("dot") * col("dot") * 1000000L,
              col("norm2_a") * col("norm2_b")))
            .filter(col("cos2_ppm") >= 640000L)
            .select(col("id_a"), col("id_b"), col("n_shared"), col("dot"),
              col("norm2_a"), col("norm2_b"), col("cos2_ppm"))
        }.orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH tfs AS (
        |  SELECT token, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(CASE WHEN trim(text) = ''
        |        THEN CAST([] AS VARCHAR[])
        |        ELSE string_split_regex(trim(text), '\\s+') END) AS token
        |    FROM documents WHERE doc_id % 20 = 0)
        |  GROUP BY 1, 2),
        |dfc AS (SELECT token FROM tfs GROUP BY token
        |  HAVING count(*) <= 500),
        |cap AS (SELECT tfs.* FROM tfs JOIN dfc USING (token)),
        |nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS norm2
        |  FROM cap GROUP BY 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot,
        |    count(*) AS n_shared
        |  FROM cap a JOIN cap b
        |    ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared, dot, na.norm2 AS norm2_a,
        |  nb.norm2 AS norm2_b,
        |  dot * dot * 1000000 // (na.norm2 * nb.norm2) AS cos2_ppm
        |FROM p JOIN nrm na ON p.id_a = na.doc_id
        |  JOIN nrm nb ON p.id_b = nb.doc_id
        |WHERE dot * dot * 1000000 // (na.norm2 * nb.norm2) >= 640000
        |ORDER BY id_a, id_b""".stripMargin)),

    // STREAMING A-ES weighted reservoir: q439's exact fixed-point
    // key computed as a projection ON THE STREAM (one aesPriority
    // definition for both modes), per-source k-smallest state,
    // single-file source ⇒ one snapshot ⇒ the oracle is q439's
    // statement verbatim. Order-freeness across batches (any split,
    // same reservoir) is pinned in StreamsSpec.
    "q440_stream_weighted_sample" -> Q(
      (s, dir) => {
        import s.implicits._
        val items = documentsStream(s, dir)
          .filter(col("n_chars") > 0)
          .select(col("source").as("grp"), col("doc_id").as("id"),
            col("n_chars").cast("long").as("weight"),
            graft.operators.Corpus.aesPriority(col("doc_id"),
              col("n_chars").cast("long"), "aes1").as("priority"))
          .as[Streams.WeightedItem]
        Streams.runToTable(
            Streams.weightedSampleStream(items, k = 5).toDF(),
            OutputMode.Append())
          .select(col("grp").as("source"), col("rn"),
            col("id").as("doc_id"), col("weight"), col("priority_e9"))
          .orderBy(col("source"), col("rn"))
      },
      Some(s"""WITH RECURSIVE h AS (SELECT source, doc_id,
        |    CAST(n_chars AS BIGINT) AS w,
        |    CAST(('0x' || substr(md5(doc_id || ':aes1'), 1, 15)) AS BIGINT)
        |      % 4294967296 AS h32
        |  FROM documents WHERE n_chars > 0),
        |src AS (SELECT doc_id AS key, CAST(4294967296 AS BIGINT) AS num,
        |    h32 + 1 AS den FROM h),
        |${graft.functions.FixedPoint.lnPpmSqlCtes("src")},
        |p AS (SELECT h.source, h.doc_id, h.w,
        |    (l.ln_ppm * 1000000000) // h.w AS priority_e9
        |  FROM h JOIN lnppm l ON h.doc_id = l.key),
        |r AS (SELECT source, doc_id, w, priority_e9,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY priority_e9, doc_id) AS BIGINT) AS rn
        |  FROM p)
        |SELECT source, rn, doc_id, w AS weight, priority_e9
        |FROM r WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin)),

    // TTL re-admission over a visit stream — the streaming recrawl
    // gate: first visit admits, then one visit per elapsed 7-day
    // window (tumbling from first sight). dropDuplicates can only
    // dedup forever; re-admission is what a frontier actually needs.
    // Two-long state per URL, event-time eviction; oracle = the
    // first-visit-per-window batch replay.
    "q409_stream_ttl_admission" -> Q(
      (s, dir) => {
        import s.implicits._
        val visits = eventsStream(s, dir)
          .filter(col("user_id").isNotNull)
          .select(concat(lit("u"), col("user_id").cast("string"))
            .as("url"), col("ts"))
          .dropDuplicates("url", "ts")
          .as[Streams.Visit]
        Streams.runToTable(
            Streams.ttlAdmission(visits,
              ttlMs = 7L * 86400000L, evictMs = 365L * 86400000L).toDF(),
            OutputMode.Append())
          .orderBy(col("url"), col("ms"))
      },
      Some("""WITH v AS (SELECT DISTINCT
        |    'u' || user_id AS url, epoch_ms(ts) AS ms
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT url, min(ms) AS first_ms FROM v GROUP BY 1),
        |b AS (SELECT v.url, v.ms,
        |    (v.ms - f.first_ms) // 604800000 AS bucket
        |  FROM v JOIN f USING (url)),
        |r AS (SELECT url, ms, bucket, row_number() OVER (
        |    PARTITION BY url, bucket ORDER BY ms) AS rn FROM b)
        |SELECT url, ms, bucket FROM r WHERE rn = 1
        |ORDER BY url, ms""".stripMargin)),

    // q88's streaming signature dedup on ONE-PERMUTATION signatures:
    // the one-pass OPH kernel (q380) feeding the same
    // flatMapGroupsWithState canonical election — the signature stage
    // a 100 TB streaming ingest would actually run (one traversal
    // per doc, not k). Oracle replays bin-min + rotation + the
    // min-per-signature election.
    "q401_stream_oph_dedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val sigs = graft.operators.Dedup.minhashSignaturesOnePerm(
            documentsStream(s, dir), "doc_id", "text", n = 1, k = 8)
          .select(col("doc_id").as("docId"),
            concat_ws(",", (0 until 8).map(i => col(s"m$i")): _*).as("sig"))
          .as[Streams.SigDoc]
        Streams.runToTable(
            Streams.minhashDedupStream(sigs).toDF(), OutputMode.Append())
          .orderBy(col("doc_id"))
      },
      {
        val binMins = (0 until 8).map(i =>
          s"list_min(list_filter(l, x -> x % 8 = $i)) AS b$i")
          .mkString(",\n|    ")
        val dens = (0 until 8).map { i =>
          val chain = (0 until 8).map(d => s"b${(i + d) % 8}")
            .mkString(", ")
          s"coalesce($chain) AS m$i"
        }.mkString(",\n|  ")
        val sigCols = (0 until 8).map(i => s"m$i").mkString(", ")
        Some(s"""WITH toks AS (
          |  SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |    ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
          |  FROM documents),
          |sh AS (
          |  SELECT doc_id, unnest(CASE WHEN len(t) < 1 THEN [array_to_string(t, ' ')]
          |    ELSE t END) AS s
          |  FROM toks),
          |h AS (SELECT doc_id,
          |    list(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
          |      % ${graft.operators.Dedup.P}) AS l
          |  FROM sh GROUP BY 1),
          |b AS (SELECT doc_id,
          |    $binMins
          |  FROM h),
          |d AS (SELECT doc_id,
          |  $dens
          |  FROM b),
          |sg AS (SELECT doc_id, concat_ws(',', $sigCols) AS sig FROM d)
          |SELECT doc_id,
          |  nullif(min(doc_id) OVER (PARTITION BY sig), doc_id) AS dup_of
          |FROM sg ORDER BY doc_id""".stripMargin)
      }),

    // The corpus quality gate as STREAMING INGESTION: the q41 filter
    // (quality ≥ 0.5 AND lang = en, counts-once projection discipline)
    // runs as a stateless streaming projection + filter over the
    // document stream — the shape a 100 TB crawl-ingest pipeline runs
    // continuously. Byte-identical to the batch statement on the same
    // data (the §2.8 unification claim, third instance).
    "q114_stream_corpus_filter" -> Q(
      (s, dir) => {
        import graft.operators.TextAnalysis
        Streams.runToTable(
            documentsStream(s, dir)
              .select(col("doc_id"), col("text"),
                length(col("text")).as("__chars"),
                TextAnalysis.nTokens(col("text")).as("__nt"),
                TextAnalysis.punctCount(col("text")).as("__np"),
                graft.expressions.StopwordSetCounts.counts(col("text"), Seq(
                  TextAnalysis.LangProfiles.en, TextAnalysis.LangProfiles.de,
                  TextAnalysis.LangProfiles.fr, TextAnalysis.LangProfiles.es))
                  .as("__sw"))
              .select(col("doc_id"),
                TextAnalysis.qualityScoreFrom(col("__nt"), col("__np"),
                  col("__chars"), col("__sw")(0)).as("quality"),
                TextAnalysis.langIdFrom(col("text"), col("__sw")(0),
                  col("__sw")(1), col("__sw")(2), col("__sw")(3))
                  .as("pred_lang"))
              .filter(col("quality") >= 0.5 && col("pred_lang") === "en"),
            OutputMode.Append())
          .orderBy(col("doc_id"))
      },
      {
        import graft.operators.TextAnalysis
        val tokensSql =
          """CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
            | ELSE string_split_regex(trim(lower(text)), '\s+') END""".stripMargin
        def sw(words: Seq[String]) =
          s"len(regexp_extract_all(lower(text), '${TextAnalysis.stopwordPattern(words)}'))"
        val (en, de, fr, es) = (sw(TextAnalysis.LangProfiles.en),
          sw(TextAnalysis.LangProfiles.de), sw(TextAnalysis.LangProfiles.fr),
          sw(TextAnalysis.LangProfiles.es))
        val quality =
          s"""least(1.0, len($tokensSql) / 50.0)
             |    * (1.0 - least(1.0, len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) * 5.0))
             |    * least(1.0, $en / greatest(len($tokensSql), 1) * 10.0)""".stripMargin
        val lang =
          s"""CASE WHEN text IS NULL THEN NULL
             |       WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) * 20 > length(text) THEN 'zh'
             |       WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
             |       WHEN $de >= $fr AND $de >= $es THEN 'de'
             |       WHEN $fr >= $es THEN 'fr'
             |       ELSE 'es' END""".stripMargin
        Some(s"""SELECT doc_id, $quality AS quality, $lang AS pred_lang
          |FROM documents
          |WHERE ($quality) >= 0.5 AND ($lang) = 'en'
          |ORDER BY doc_id""".stripMargin)
      }),

    // HLL cardinality as STREAMING STATE: the q105 register build —
    // stateless (idx, rank) projection then a streaming MAX per
    // register — run in Complete mode. State is bounded by m = 64
    // registers regardless of stream length, the production shape for
    // continuous distinct-count monitoring; registers hash-match the
    // batch formulation (§2.8 unification, fourth instance).
    "q138_stream_hll" -> Q(
      (s, dir) => Streams.runToTable(
          graft.operators.Sketch.hllRegisters(
            eventsStream(s, dir)
              .select(concat(lit("u"), col("user_id")).as("k")),
            col("k"), 64),
          OutputMode.Complete())
        .orderBy(col("idx")),
      Some("""WITH k AS (
        |  SELECT CAST(('0x' || substr(md5('u' || user_id), 1, 15))
        |    AS BIGINT) AS h
        |  FROM events),
        |rk AS (
        |  SELECT h % 64 AS idx,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |         ELSE 55 - length(bin(h >> 6)) END AS rank
        |  FROM k)
        |SELECT idx, CAST(max(rank) AS INT) AS max_rank
        |FROM rk GROUP BY idx
        |ORDER BY idx""".stripMargin)),

    // Count-min sketch as STREAMING STATE (§2.8 unification, fifth
    // instance): the q93 counter build — posexplode to d rows per
    // token, streaming SUM per (row, bucket) — in Complete mode.
    // State is bounded by d×w = 32 counters regardless of stream
    // length; counters hash-match the batch formulation.
    "q150_stream_count_min" -> Q(
      (s, dir) => Streams.runToTable(
          graft.operators.Sketch.countMin(
            documentsStream(s, dir).select(explode(
              graft.operators.TextAnalysis.tokens(lower(col("text"))))
              .as("t")),
            col("t"), d = 4, w = 8),
          OutputMode.Complete())
        .orderBy(col("row"), col("bucket")),
      {
        val P = graft.operators.Dedup.P
        val rows = graft.operators.Dedup.perms(4).zipWithIndex
          .map { case ((a, b), i) =>
            s"SELECT $i AS row, ((h * $a + $b) % $P) % 8 AS bucket FROM h"
          }.mkString("\n        |    UNION ALL ")
        Some(s"""WITH tok AS (SELECT unnest(
          |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |         ELSE string_split_regex(trim(lower(text)), '\\s+') END)
          |    AS t FROM documents),
          |h AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
          |        % $P AS h
          |      FROM tok),
          |e AS (
          |    $rows)
          |SELECT CAST(row AS BIGINT) AS row, bucket,
          |  count(*) AS cnt
          |FROM e GROUP BY row, bucket
          |ORDER BY row, bucket""".stripMargin)
      }),

    // Zonemap maintenance as STREAMING STATE (§2.8 unification, sixth
    // instance): per-shard count/min/max event-time stats in Complete
    // mode — the continuously-maintained data-skipping index of an
    // ingest pipeline. State is shard-cardinality-bounded.
    "q161_stream_zonemap" -> Q(
      (s, dir) => Streams.runToTable(
          graft.operators.Corpus.zonemap(
            eventsStream(s, dir).select(col("user_id"),
              expr("unix_millis(ts)").as("ms")),
            expr("user_id div 100"), Seq("ms")),
          OutputMode.Complete())
        .orderBy(col("shard")),
      Some("""SELECT user_id // 100 AS shard, count(*) AS n_rows,
        |  epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms
        |FROM events
        |GROUP BY 1
        |ORDER BY shard""".stripMargin)),

    // Stream-stream INNER JOIN with an event-time interval condition
    // (§2.8, seventh instance — the one join shape Structured
    // Streaming adds over batch): click → purchase attribution within
    // 1 h per user, both sides watermarked so join state is evictable.
    // Event-id pairs make the output a set; the batch oracle is the
    // identical interval self-join.
    "q167_stream_interval_join" -> Q(
      (s, dir) => {
        val ev = eventsStream(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        Streams.runToTable(
            Streams.intervalJoin(clicks, buys, "a_user", "b_user",
              "a_ts", "b_ts", "1 hour", "1 hour"),
            OutputMode.Append())
          .select(col("a_id"), col("b_id"), col("a_user").as("user_id"),
            expr("unix_millis(a_ts)").as("a_ms"),
            expr("unix_millis(b_ts)").as("b_ms"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |  epoch_ms(a.ts) AS a_ms, epoch_ms(b.ts) AS b_ms
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY a_id, b_id""".stripMargin)),

    // The LEFT OUTER form of q167: unmatched clicks emit with nulls,
    // but only once the global watermark (min of both sides' max event
    // time, minus the 1 h delay) proves their 1 h window can no longer
    // fill — clicks younger than that stay in state and never emit in
    // a bounded run. The oracle states the finalization predicate
    // explicitly, the q74 discipline applied to join state.
    "q173_stream_outer_join" -> Q(
      (s, dir) => {
        val ev = eventsStream(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        Streams.runToTable(
            Streams.intervalJoin(clicks, buys, "a_user", "b_user",
              "a_ts", "b_ts", "1 hour", "1 hour", "left_outer"),
            OutputMode.Append())
          .select(col("a_id"), col("b_id"),
            expr("unix_millis(a_ts)").as("a_ms"),
            expr("unix_millis(b_ts)").as("b_ms"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH wm AS (SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 1 HOUR AS w),
        |m AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
        |    epoch_ms(a.ts) AS a_ms, epoch_ms(b.ts) AS b_ms
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND a.event_type = 'click' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR),
        |u AS (SELECT a.event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
        |    epoch_ms(a.ts) AS a_ms, CAST(NULL AS BIGINT) AS b_ms
        |  FROM events a, wm
        |  WHERE a.event_type = 'click'
        |    AND a.ts + INTERVAL 1 HOUR < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM events b
        |      WHERE b.event_type = 'purchase' AND b.user_id = a.user_id
        |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR))
        |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
        |ORDER BY a_id, b_id""".stripMargin)),

    // Stream-static enrichment (§2.8, ninth instance): the event
    // stream joins the STATIC customer→nation dimension inside the
    // micro-batch (broadcast, no stream state for the dim side) and
    // aggregates per nation in Complete mode — the standard shape for
    // enriching a firehose with a slowly-changing dimension.
    "q180_stream_static_join" -> Q(
      (s, dir) => {
        val dim = graft.Tables.customer(s, dir)
          .join(graft.Tables.nation(s, dir),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        Streams.runToTable(
            eventsStream(s, dir)
              .join(broadcast(dim), col("user_id") === col("c_custkey"))
              .groupBy(col("n_name"))
              // count(DISTINCT) is unsupported in streaming aggs; the
              // user-range pair keeps the gate multi-column without it
              .agg(count(lit(1)).as("n_events"),
                min(col("user_id")).as("min_user"),
                max(col("user_id")).as("max_user")),
            OutputMode.Complete())
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n_events,
        |  min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // SCD2 dimension maintenance as a stream (§2.8 meets q217/q218):
    // each micro-batch reduces to latest-state-per-key and merges into
    // the gold history through the SAME Scd2.merge the nightly batch
    // job uses — foreachBatch as the streaming MERGE INTO, state held
    // entirely in the gold store, nothing key-sized in the stream.
    // The bounded gate is ONE micro-batch (single events file), so the
    // expected history is exactly one current version per user — the
    // key's latest event by (ts, event_id) — which the oracle states
    // directly; the multi-batch version-closing mechanics are
    // spec-gated with MemoryStream (StreamsSpec).
    "q219_stream_scd2" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.Row
        val histSchema = StructType(Seq(
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("valid_from", TimestampType),
          StructField("valid_to", TimestampType)))
        var gold = s.createDataFrame(
          new java.util.ArrayList[Row](), histSchema)
        Streams.scratchCheckpointDir("graft-scd2-ck") { ckpt =>
          Streams.scd2Stream(eventsStream(s, dir),
            Seq("user_id"), Seq("event_type"), "ts", "event_id",
            latest => gold = graft.operators.Scd2.merge(gold, latest,
                Seq("user_id"), Seq("event_type"), "ts")
              .drop("is_current")
              // truncate per-batch lineage: gold is the accumulator a
              // real job would keep in a table, not a growing plan
              .localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        gold.withColumn("is_current", col("valid_to").isNull)
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""WITH m AS (SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts AS valid_from,
        |  CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |FROM m WHERE rn = 1
        |ORDER BY user_id, valid_from""".stripMargin)),

    // Streaming multimodal ingest dedup: each micro-batch of incoming
    // "images" is fingerprinted by the REAL decode+dHash batch
    // operator (running verbatim inside foreachBatch — the planner
    // can't express a codec pass, the seam can) and probed against a
    // STATIC fingerprint index of the existing corpus, the q214
    // asymmetric-ingest discipline at the image modality: the index
    // materializes once (eager localCheckpoint), batches only ever
    // join against it, and novelty = no identical fingerprint on
    // file. The oracle replays decode+hash+probe from the generating
    // formula over the same new/corpus split.
    "q229_stream_image_dedup" -> Q(
      (s, dir) => {
        import graft.operators.Multimodal
        val corpus = graft.Tables.documents(s, dir)
          .filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
        val index = Multimodal.dhashRoundTrip(corpus, "doc_id")
          .groupBy(col("dhash")).agg(min(col("id")).as("match_id"))
          .localCheckpoint(true)
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("match_id", LongType),
          StructField("is_novel", BooleanType, nullable = false)))
        var out = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
        Streams.scratchCheckpointDir("graft-imgdedup-ck") { ckpt =>
          Streams.transformEachBatch(
            documentsStream(s, dir).filter(col("doc_id") % 10 === 0)
              .select(col("doc_id")),
            batch => Multimodal.dhashRoundTrip(batch, "doc_id")
              .join(index, Seq("dhash"), "left")
              .select(col("id").as("doc_id"), col("match_id"),
                col("match_id").isNull.as("is_novel")),
            res => out = out.unionByName(res).localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        out.orderBy(col("doc_id"))
      },
      Some("""WITH px AS (
        |  SELECT doc_id, k, k % 8 AS x, k // 8 AS y,
        |    doc_id % 16 AS scene, (doc_id // 16) % 4 AS variant
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS k
        |        FROM documents)),
        |b AS (
        |  SELECT doc_id, k,
        |    CASE WHEN
        |      (CASE WHEN y = 0 AND x + 1 < variant
        |            THEN (scene*17 + (x+1)*19 + y*23 + 128) % 256
        |            ELSE (scene*17 + (x+1)*19 + y*23) % 256 END)
        |      >
        |      (CASE WHEN y = 0 AND x < variant
        |            THEN (scene*17 + x*19 + y*23 + 128) % 256
        |            ELSE (scene*17 + x*19 + y*23) % 256 END)
        |    THEN 1 ELSE 0 END AS bit
        |  FROM px),
        |h AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN k >= 32 THEN bit * (1 << (k - 32)) ELSE 0 END)
        |      AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN k < 32 THEN bit * (1 << k) ELSE 0 END)
        |      AS BIGINT) AS lo
        |  FROM b GROUP BY doc_id),
        |cp AS (SELECT hi, lo, min(doc_id) AS match_id
        |       FROM h WHERE doc_id % 10 <> 0 GROUP BY hi, lo)
        |SELECT n.doc_id, cp.match_id, cp.match_id IS NULL AS is_novel
        |FROM (SELECT * FROM h WHERE doc_id % 10 = 0) n
        |LEFT JOIN cp ON n.hi = cp.hi AND n.lo = cp.lo
        |ORDER BY n.doc_id""".stripMargin)),

    // Histogram-quantile sketch as STREAMING STATE (§2.8, sixth
    // instance): the q199 (group × bin) counter grid is mergeable, so
    // a Complete-mode streaming agg maintains it continuously —
    // state bounded by groups × bins regardless of stream length —
    // and the quantile pick runs as a BATCH readout over the
    // materialized counters (exactly how a live profile dashboard
    // consumes it). Hash-matches the all-batch q199 formulation.
    // Streaming volume-spike alerting: the q60 Complete-mode daily
    // grid IS the alert state, and the q236 spike rule runs as a
    // batch readout over the materialized counters — one rule
    // definition for batch and stream (TimeSeries.spikesFromDailyGrid),
    // so the pager can never disagree with the backfill. Hash-matches
    // the all-batch q236 formulation.
    "q240_stream_spikes" -> Q(
      (s, dir) => {
        val grid = Streams.runToTable(
          Streams.dailyCounts(eventsStream(s, dir), "ts",
            Seq("event_type"), "1 hour"),
          OutputMode.Complete())
          .select(col("event_type"), to_date(col("day_start")).as("day"),
            col("n"))
        graft.operators.TimeSeries.spikesFromDailyGrid(
            grid, "event_type", lookback = 7, numerPct = 150)
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_baseline,
        |    coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS baseline_sum
        |  FROM d)
        |SELECT event_type, day, n,
        |  CAST(n_baseline AS BIGINT) AS n_baseline,
        |  CAST(baseline_sum AS BIGINT) AS baseline_sum,
        |  n_baseline = 7 AND n * 100 * 7 > baseline_sum * 150 AS is_spike
        |FROM w
        |ORDER BY event_type, day""".stripMargin)),

    "q206_stream_histogram" -> Q(
      (s, dir) => {
        val grid = Streams.runToTable(
          graft.operators.Corpus.histogramGrid(
            eventsStream(s, dir), "event_type", "value", 10.0),
          OutputMode.Complete())
        graft.operators.Corpus.histogramQuantilesFromGrid(
            grid, "event_type", 10.0, Seq(0.5, 0.9, 0.99))
          .orderBy(col("event_type"))
      },
      Some("""WITH g AS (
        |  SELECT event_type,
        |    CAST(floor(value / 10.0) AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, bin, c,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin)
        |      AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM g)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum >= CAST(ceil(0.5*n) AS BIGINT)
        |      THEN CAST(bin + 1 AS DOUBLE) * 10.0 END) AS q_50_est,
        |  min(CASE WHEN cum >= CAST(ceil(0.9*n) AS BIGINT)
        |      THEN CAST(bin + 1 AS DOUBLE) * 10.0 END) AS q_90_est,
        |  min(CASE WHEN cum >= CAST(ceil(0.99*n) AS BIGINT)
        |      THEN CAST(bin + 1 AS DOUBLE) * 10.0 END) AS q_99_est
        |FROM m GROUP BY 1
        |ORDER BY event_type""".stripMargin)),

    // Streaming gold-table maintenance with late data: the straggler
    // slice (event_id % 7 = 0) arrives AS A STREAM and each
    // micro-batch merges into the daily-partials gold table through
    // the SAME TimeSeries.upsertDailyPartials the batch path (q247)
    // uses — one merge definition, so stream and batch maintenance
    // cannot drift. The oracle aggregates ALL events directly: a
    // green hash proves the streamed merge converged to the
    // from-scratch build.
    "q256_stream_gold_upsert" -> Q(
      (s, dir) => {
        import graft.operators.TimeSeries
        val base = graft.Tables.events(s, dir)
          .filter(col("event_id") % 7 =!= 0)
        var gold = TimeSeries.dailyPartials(base, "event_type", "ts",
          "value").localCheckpoint(true)
        Streams.scratchCheckpointDir("graft-goldup-ck") { ckpt =>
          Streams.transformEachBatch(
            eventsStream(s, dir).filter(col("event_id") % 7 === 0),
            batch => batch,
            late => gold = TimeSeries.upsertDailyPartials(gold, late,
              "event_type", "ts", "value").localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        gold
          .select(col("event_type"), col("day"), col("n"), col("tmin"),
            col("tmax"), col("v").cast("double").as("sum_value"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(min(floor(epoch(ts))) AS BIGINT) AS tmin,
        |  CAST(max(floor(epoch(ts))) AS BIGINT) AS tmax,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Streaming TRUE debounce: flatMapGroupsWithState holds (last
    // kept, kept, events) per user and folds each micro-batch in
    // event-time order through the SAME keep rule as the batch fold
    // (q254) — one rule, two engines, one oracle. The bounded
    // one-batch run makes stream ≡ batch exactly; multi-batch state
    // carryover is pinned in StreamsSpec.
    "q272_stream_debounce" -> Q(
      (s, dir) => {
        import s.implicits._
        val in = eventsStream(s, dir)
          .filter(col("user_id").isNotNull)
          .select(col("user_id").as("key"),
            unix_millis(col("ts")).as("ms"))
          .as[Streams.KeyedMs]
        Streams.runToTable(
            Streams.debounceStream(in, quietMs = 21600000L).toDF(),
            OutputMode.Append())
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms
        |  FROM events WHERE user_id IS NOT NULL),
        |a AS (
        |  SELECT user_id, count(*) AS n_events,
        |    list_sort(list(ms)) AS msl
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT user_id, n_events,
        |    list_reduce(
        |      [{'last': CAST(-4611686018427387904 AS BIGINT),
        |        'kept': CAST(0 AS BIGINT)}] ||
        |        list_transform(msl, x ->
        |          {'last': x, 'kept': CAST(0 AS BIGINT)}),
        |      (acc, x) -> CASE
        |        WHEN x.last - acc.last <= 21600000 THEN acc
        |        ELSE {'last': x.last, 'kept': acc.kept + 1}
        |        END) AS st
        |  FROM a)
        |SELECT user_id, n_events, st.kept AS n_kept,
        |  st.last AS last_kept_ms
        |FROM f
        |ORDER BY user_id""".stripMargin)),

    // Streaming join-view maintenance: the SAME delta-join identity
    // as batch q279 run per micro-batch over a CDC-style tagged
    // stream carrying BOTH sides of the join (order deltas and
    // customer deltas interleaved across three staged files,
    // maxFilesPerTrigger=1 → a genuinely multi-batch run). Each
    // batch splits by side, computes ΔM = ΔL⋈(R∪ΔR) ∪ L⋈ΔR against
    // the CURRENT bases, appends it to the view, then advances the
    // bases. The identity telescopes, so the final view equals the
    // from-scratch join regardless of how the engine slices batches
    // — which is exactly what the oracle recomputes.
    "q281_stream_ivm_join" -> Q(
      (s, dir) => {
        import graft.operators.Relational
        val o = graft.Tables.orders(s, dir)
          .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
            col("o_totalprice"))
        val c = graft.Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))
        val priceT = o.schema("o_totalprice").dataType
        val oTag = o.select(lit("L").as("side"), col("c_custkey"),
          col("o_orderkey"), col("o_totalprice"),
          lit(null).cast("string").as("c_mktsegment"))
        val cTag = c.select(lit("R").as("side"), col("c_custkey"),
          lit(null).cast("long").as("o_orderkey"),
          lit(null).cast(priceT).as("o_totalprice"),
          col("c_mktsegment"))
        var baseL = o.filter(col("o_orderkey") % 10 < 8)
          .localCheckpoint(true)
        var baseR = c.filter(col("c_custkey") % 20 =!= 0)
          .localCheckpoint(true)
        var view = baseL.join(baseR, Seq("c_custkey"), "inner")
          .localCheckpoint(true)
        Streams.scratchCheckpointDir("graft-sivm-") { tmp =>
          val streamDir = tmp.resolve("in")
          Fixtures.stageStreamInput(Seq(
            oTag.filter(col("o_orderkey") % 10 === 8),
            cTag.filter(col("c_custkey") % 20 === 0),
            oTag.filter(col("o_orderkey") % 10 === 9)), streamDir)
          Streams.transformEachBatch(
            s.readStream.schema(oTag.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(streamDir.toString),
            batch => batch,
            batch => {
              val dL = batch.filter(col("side") === "L")
                .select(col("c_custkey"), col("o_orderkey"),
                  col("o_totalprice"))
              val dR = batch.filter(col("side") === "R")
                .select(col("c_custkey"), col("c_mktsegment"))
              val delta = Relational.deltaJoinUpdates(
                baseL, dL, baseR, dR, Seq("c_custkey"))
              view = view.unionByName(delta).localCheckpoint(true)
              baseL = baseL.unionByName(dL).localCheckpoint(true)
              baseR = baseR.unionByName(dR).localCheckpoint(true)
            },
            tmp.resolve("ck").toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        view.orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
        |  c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // Streaming k-anonymity monitoring: the release-audit grid
    // maintained as Complete-mode state at the (QI × sensitive-band)
    // grain — dimension-bounded, the q206 histogram-state shape —
    // then the SAME verdict rule as batch q283 applied as a readout
    // (Privacy.auditFromSensitiveGrid is algebraically
    // kAnonymityAudit over partials: n = Σc, n_sensitive = grid
    // rows). One rule definition, two execution modes; thresholds
    // chosen so both verdict polarities occur on the data.
    "q293_stream_kanon" -> Q(
      (s, dir) => {
        val grid = Streams.runToTable(
          eventsStream(s, dir)
            .filter(col("user_id").isNotNull)
            .groupBy(col("event_type"),
              (col("user_id") % 25).as("band"),
              floor(col("value") / 25).cast("long").as("sens"))
            .count(),
          OutputMode.Complete())
        graft.operators.Privacy.auditFromSensitiveGrid(
            grid, Seq("event_type", "band"), "count", k = 80, l = 18)
          .orderBy(col("event_type"), col("band"))
      },
      Some("""WITH g AS (
        |  SELECT event_type, user_id % 25 AS band,
        |    CAST(floor(value / 25) AS BIGINT) AS sens, count(*) AS c
        |  FROM events WHERE user_id IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, band, CAST(sum(c) AS BIGINT) AS n,
        |  count(*) AS n_sensitive,
        |  sum(c) >= 80 AS k_anon,
        |  count(*) >= 18 AS l_diverse
        |FROM g
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Streaming ORDERED FUNNEL: per-user flatMapGroupsWithState holds
    // the reach-time list; walking events in time order and taking
    // the first strictly-later stage-k event reproduces batch q194's
    // "min ts strictly after reach_{k-1}" recursion exactly — the
    // gate shares q194's oracle, so stream and batch funnels cannot
    // drift. Readout: users per reached stage (each user emits one
    // row per stage reached).
    "q304_stream_funnel" -> Q(
      (s, dir) => {
        import s.implicits._
        val stages = Seq("view", "click", "purchase")
        val stageIdx = map(stages.zipWithIndex.flatMap { case (n, i) =>
          Seq(lit(n), lit(i)) }: _*)
        val ev = eventsStream(s, dir)
          .filter(col("user_id").isNotNull &&
            col("event_type").isin(stages: _*))
          .select(col("user_id"),
            element_at(stageIdx, col("event_type")).cast("int")
              .as("stage_idx"),
            unix_millis(col("ts")).as("ms"))
          .as[Streams.FunnelEvent]
        val reached = Streams.runToTable(
          Streams.funnelStream(ev).toDF(), OutputMode.Append())
        val names = map(stages.zipWithIndex.flatMap { case (n, i) =>
          Seq(lit(i + 1), lit(n)) }: _*)
        reached.groupBy(col("stage_idx"))
          .agg(count(lit(1)).as("n_users"))
          .select(col("stage_idx").cast("long").as("stage_idx"),
            element_at(names, col("stage_idx").cast("int")).as("stage"),
            col("n_users"))
          .orderBy(col("stage_idx"))
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE user_id IS NOT NULL),
        |r1 AS (SELECT user_id, min(ts) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |r2 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > r1.t GROUP BY 1),
        |r3 AS (SELECT e.user_id, min(e.ts) AS t
        |       FROM e JOIN r2 ON e.user_id = r2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > r2.t
        |       GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |    (SELECT count(*) FROM r1) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM r2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM r3))
        |ORDER BY stage_idx""".stripMargin)),

    // Streaming point-in-time enrichment: order facts arrive as a
    // stream and join the SCD2 customer-segment history per
    // micro-batch via the BATCH pitLookup operator verbatim in
    // foreachBatch — q220's gate for the streaming path. The history
    // dim is static (broadcastable); state-free, so any batching
    // yields the same enriched rows.
    "q305_stream_pit_enrich" -> Q(
      (s, dir) => {
        val c = Tables.customer(s, dir)
        def t(x: String) = to_timestamp(lit(x))
        val history = c.select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg"),
            t("1995-06-15 00:00:00").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"))
          .unionByName(c.filter(col("c_custkey") % 3 === 0)
            .select(col("c_custkey").as("o_custkey"),
              lit("LEGACY").as("seg"),
              t("1992-01-01 00:00:00").as("valid_from"),
              t("1995-06-15 00:00:00").as("valid_to")))
          .localCheckpoint(true)
        val factsStream = Tables.stream(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").cast("timestamp").as("o_ts"))
        val outSchema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("seg", StringType)))
        var out = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
        Streams.scratchCheckpointDir("graft-pit-ck") { ckpt =>
          Streams.transformEachBatch(
            factsStream,
            batch => graft.operators.Scd2.pitLookup(batch, history,
                "o_custkey", "o_ts", Seq("seg"))
              .select(col("o_orderkey"), col("o_custkey"), col("seg")),
            res => out = out.unionByName(res).localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        out.orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderdate >= DATE '1995-06-15' THEN c_mktsegment
        |       WHEN o_custkey % 3 = 0 THEN 'LEGACY'
        |       ELSE NULL END AS seg
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // STREAMING drift monitor: serving-side traffic (events on/after
    // the cut date) arrives as a stream whose per-bin counts are
    // Complete-mode state — bin-bounded, never event-bounded — and
    // the readout compares that grid against the static training
    // baseline (pre-cut events) with the exact q309 integer share/L1
    // arithmetic (one definition, QualityFilters.shareDriftFromCounts,
    // so batch audit and streaming monitor can never disagree).
    "q314_stream_drift" -> Q(
      (s, dir) => {
        import graft.operators.QualityFilters
        val cut = lit("2024-01-16").cast("date")
        def bins(df: DataFrame) = df
          .select(floor(col("value") / 50.0).cast("long").as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("c"))
        val baseline = bins(
          Tables.events(s, dir).filter(to_date(col("ts")) < cut))
        val streamCounts = Streams.runToTable(
          bins(eventsStream(s, dir).filter(to_date(col("ts")) >= cut)),
          OutputMode.Complete())
        QualityFilters.shareDriftFromCounts(baseline, streamCounts)
          .orderBy(col("bin"))
      },
      Some("""WITH a AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
        |  GROUP BY 1),
        |ap AS (SELECT bin,
        |    CAST(c * 1000000 // sum(c) OVER () AS BIGINT) AS share_a_ppm
        |  FROM a),
        |b AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
        |  GROUP BY 1),
        |bp AS (SELECT bin,
        |    CAST(c * 1000000 // sum(c) OVER () AS BIGINT) AS share_b_ppm
        |  FROM b),
        |j AS (
        |  SELECT coalesce(ap.bin, bp.bin) AS bin,
        |    coalesce(share_a_ppm, 0) AS share_a_ppm,
        |    coalesce(share_b_ppm, 0) AS share_b_ppm
        |  FROM ap FULL OUTER JOIN bp ON ap.bin = bp.bin)
        |SELECT bin, share_a_ppm, share_b_ppm,
        |  abs(share_a_ppm - share_b_ppm) AS abs_diff_ppm,
        |  CAST(sum(abs(share_a_ppm - share_b_ppm)) OVER ()
        |    AS BIGINT) AS l1_total_ppm
        |FROM j
        |ORDER BY bin""".stripMargin)),

    // Stream-stream FULL OUTER interval join — completes the q167
    // (inner) / q173 (left outer) matrix: unmatched CLICKS emit
    // null-right once the watermark proves their 1 h window can no
    // longer fill (a.ts + 1h behind the final watermark, q173's
    // predicate), and unmatched PURCHASES emit null-left once no
    // future click can precede them inside the window (b.ts behind
    // the watermark — left arrivals are watermark-bounded below, and
    // a click matching b needs a.ts ≤ b.ts). Null-keyed output rows
    // order NULLS LAST explicitly on BOTH engines — Spark's default
    // (nulls first) and DuckDB's (nulls last) silently disagree.
    "q487_stream_full_outer_join" -> Q(
      (s, dir) => {
        val ev = eventsStream(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        Streams.runToTable(
            Streams.intervalJoin(clicks, buys, "a_user", "b_user",
              "a_ts", "b_ts", "1 hour", "1 hour", "full_outer"),
            OutputMode.Append())
          .select(col("a_id"), col("b_id"),
            expr("unix_millis(a_ts)").as("a_ms"),
            expr("unix_millis(b_ts)").as("b_ms"))
          .orderBy(col("a_id").asc_nulls_last, col("b_id").asc_nulls_last)
      },
      Some("""WITH wm AS (SELECT least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 1 HOUR AS w),
        |m AS (SELECT a.event_id AS a_id, b.event_id AS b_id,
        |    epoch_ms(a.ts) AS a_ms, epoch_ms(b.ts) AS b_ms
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND a.event_type = 'click' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR),
        |u AS (SELECT a.event_id AS a_id, CAST(NULL AS BIGINT) AS b_id,
        |    epoch_ms(a.ts) AS a_ms, CAST(NULL AS BIGINT) AS b_ms
        |  FROM events a, wm
        |  WHERE a.event_type = 'click'
        |    AND a.ts + INTERVAL 1 HOUR < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM events b
        |      WHERE b.event_type = 'purchase' AND b.user_id = a.user_id
        |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)),
        |v AS (SELECT CAST(NULL AS BIGINT) AS a_id, b.event_id AS b_id,
        |    CAST(NULL AS BIGINT) AS a_ms, epoch_ms(b.ts) AS b_ms
        |  FROM events b, wm
        |  WHERE b.event_type = 'purchase'
        |    AND b.ts < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM events a
        |      WHERE a.event_type = 'click' AND a.user_id = b.user_id
        |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR))
        |SELECT * FROM (SELECT * FROM m UNION ALL SELECT * FROM u
        |               UNION ALL SELECT * FROM v)
        |ORDER BY a_id NULLS LAST, b_id NULLS LAST""".stripMargin)),

    // Stream-stream LEFT SEMI interval join — with q167 (inner), q173
    // (left outer) and q487 (full outer) this gates EVERY stream-
    // stream join type Structured Streaming supports: "clicks that
    // converted within the hour", each matched click emitted ONCE
    // however many purchases land in its window (the dedup the inner
    // join form would need a distinct for — here it is join-native
    // and the right side's payload never enters the output).
    "q495_stream_semi_join" -> Q(
      (s, dir) => {
        val ev = eventsStream(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
            col("ts").as("a_ts"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
            col("ts").as("b_ts"))
        Streams.runToTable(
            Streams.intervalJoin(clicks, buys, "a_user", "b_user",
              "a_ts", "b_ts", "1 hour", "1 hour", "left_semi"),
            OutputMode.Append())
          .select(col("a_id"), col("a_user"),
            expr("unix_millis(a_ts)").as("a_ms"))
          .orderBy(col("a_id"))
      },
      Some("""SELECT a.event_id AS a_id, a.user_id AS a_user,
        |  epoch_ms(a.ts) AS a_ms
        |FROM events a
        |WHERE a.event_type = 'click'
        |  AND EXISTS (SELECT 1 FROM events b
        |    WHERE b.event_type = 'purchase' AND b.user_id = a.user_id
        |      AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)
        |ORDER BY a_id""".stripMargin))
  )
}
