package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale-linearity probe for the heavyweight queries.
  *
  * There is no sf1 parquet in the container, so the probe synthesizes
  * N× the sf0.1 tables IN-PLAN: each table unions N shifted copies of
  * itself (ids offset per copy so keys stay distinct and near-dup
  * structure repeats instead of collapsing). That keeps the measured
  * plans identical in shape to the production ones — same scans (read
  * N times), same shuffles, same AQE decisions — while multiplying
  * the row volume, which is exactly what the linearity question asks.
  *
  * Usage: tools/run.sh graft.ScaleProbe [sfDir] [copies...]
  * Prints one line per (query, copies): rows and wall seconds.
  */
object ScaleProbe {

  private def shifted(df: DataFrame, idCols: Seq[String], copies: Int,
      offset: Long): DataFrame =
    (0 until copies).map { i =>
      idCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(i * offset))
      }
    }.reduce(_ union _)

  /** shifted() + per-copy token disambiguation: every token gets a
    * copy suffix, so copies are DISJOINT token universes. Required
    * for similarity-join probes: with shared text, every doc has
    * N−1 planted exact copies and the true pair OUTPUT grows ×N² by
    * construction (the q222 lesson) — tagging isolates the PLAN's
    * scaling from the synthetic corpus's duplicate volume while
    * keeping each copy's token-frequency shape intact.
    */
  private def copyTagged(df: DataFrame, idCols: Seq[String],
      textCol: String, copies: Int, offset: Long): DataFrame =
    (0 until copies).map { i =>
      idCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(i * offset))
      }.withColumn(textCol,
        regexp_replace(col(textCol), "(\\S+)", "$1c" + i))
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args.tail.map(_.toInt).toSeq
                 else Seq(1, 2, 5, 10)
    val spark = Sessions.localBuilder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSet)

    def time(name: String, n: Int)(df: => DataFrame): Unit = {
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scaleprobe] $name%-22s copies=$n%-3d ${sec}%8.2f s")
      }
    }

    /** [[time]] with a scratch directory deleted EAGERLY after the
      * probe materializes — a sweep point's shifted table copy must
      * not sit on disk for the rest of the sweep (and shutdown hooks
      * must not pile up one per iteration).
      */
    def timeWithTmp(name: String, n: Int, prefix: String)(
        body: java.nio.file.Path => DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        val tmp = java.nio.file.Files.createTempDirectory(prefix)
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        try time(name, n)(body(tmp)) finally rm(tmp.toFile)
      }

    for (n <- copies) {
      // q47 shape: edge-gold projection over orders × collect_list(lineitem)
      time("q47_edge_gold", n) {
        val orders = shifted(Tables.orders(spark, sfDir),
          Seq("o_orderkey"), n, 100000000L)
        val li = shifted(Tables.lineitem(spark, sfDir),
          Seq("l_orderkey"), n, 100000000L)
        graft.queries.GoldQueries.edgeGoldFrom(orders, li)
      }
      // q77 shape: full MinHash-LSH near-dup pipeline over documents
      time("q77_near_dup", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text")
      }
      // q30 shape: banding + exact-Jaccard verify over a sampled slice
      time("q30_jaccard", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .filter(col("doc_id") % 20 === 0)
        graft.operators.Dedup.nearDupPairs(docs, "doc_id", "text",
          shingleN = 1, k = 32, bands = 8, threshold = 0.9)
      }
      // q133 shape: duplicated-span detection (shingle df + window)
      time("q133_dup_spans", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        graft.operators.Dedup.dupSpans(docs, "doc_id", "text",
          spanTokens = 5)
      }
      // q135 shape: trigram-LM scoring (3 model tables + 4-way join)
      time("q135_trigram_interp", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        graft.operators.LanguageModel.trigramInterpolated(
          docs.select(col("doc_id"), col("text")), "doc_id", "text")
      }
      // q166 shape: SemDeDup (LSH cells + quantized centroids)
      time("q166_semdedup", n) {
        val e = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
        graft.operators.Similarity.semDedup(
          e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding",
          graft.operators.Similarity.hyperplanes(6, 64), dim = 64,
          thresholdPpm = 600000L)
      }
      // q169 shape: 3-round PageRank over the shifted trade graph
      // (node set grows with copies too — nation keys shift)
      time("q169_pagerank", n) {
        val l = shifted(Tables.lineitem(spark, sfDir),
          Seq("l_orderkey", "l_suppkey"), n, 100000000L)
        val o = shifted(Tables.orders(spark, sfDir),
          Seq("o_orderkey", "o_custkey"), n, 100000000L)
        val c = shifted(Tables.customer(spark, sfDir),
          Seq("c_custkey", "c_nationkey"), n, 100000000L)
        val su = shifted(Tables.supplier(spark, sfDir),
          Seq("s_suppkey", "s_nationkey"), n, 100000000L)
        val edges = l
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, l("l_suppkey") === su("s_suppkey"))
          .select(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
        graft.operators.Graph.pageRankPpm(edges, "src", "dst", iters = 3)
      }
      // q171 shape: importance weights (token-keyed agg + join back)
      time("q171_importance", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        graft.operators.Corpus.importanceWeights(
          docs, "doc_id", "text", col("lang") === "en")
      }
      // q208 shape: triangle census over the co-purchase graph —
      // both keys shift, so copies are DISJOINT subgraphs and the
      // true census grows exactly ×N (wedge join is the cost center)
      time("q208_triangles", n) {
        val l = shifted(Tables.lineitem(spark, sfDir),
          Seq("l_orderkey", "l_partkey"), n, 100000000L)
          .select(col("l_orderkey"), col("l_partkey"))
        val pairs = l.as("a")
          .join(l.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        graft.operators.Graph.triangleCount(pairs, "src", "dst")
      }
      // q222 shape: banded Hamming near-dup — probed over SYNTHETIC
      // fingerprints with a planted linear dup structure (every
      // ⌊id/2⌋ pair shares a hash). The gate's scene payload cannot
      // scale-probe the join: it draws from 64 fixed image classes,
      // so ×N copies merge clusters and pair OUTPUT grows ×N² by
      // construction (measured: 10 s → 37 s at ×4 — duplicate
      // volume, not the plan). Decode itself is a scan-linear
      // per-partition pass; the banding join is the scale question,
      // and it gets content-proportional duplicates here.
      time("q222_image_neardup", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L).select(col("doc_id"))
        val fp = docs.select(col("doc_id"),
          graft.expressions.Md5Hash60.hash60Native(
            concat(lit("img"), (col("doc_id") / 2).cast("long")
              .cast("string"))).as("dhash"))
        graft.operators.Dedup.hashNearDupPairs(
          fp, "doc_id", "dhash", bits = 64, bands = 4, maxHamming = 3)
      }
      // q224 shape: clip near-dup by shared frame hashes — same
      // synthetic-fingerprint reasoning as q222: frame fp = hash of
      // its frame seed (doc_id + f), so consecutive clips share
      // exactly 2 frames (the real op's structure) and every fp
      // value lands in ≤ 3 clips — content-linear fan-in.
      time("q224_clip_neardup", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L).select(col("doc_id"))
        val fp = docs
          .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("f"))
          .select(col("doc_id").as("id"),
            graft.expressions.Md5Hash60.hash60Native(
              concat(lit("fr"), (col("doc_id") + col("f"))
                .cast("string"))).as("fp"))
          .distinct()
        val a = fp.select(col("id").as("id_a"), col("fp"))
        val b = fp.select(col("id").as("id_b"), col("fp"))
        a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
      }
      // q242 shape: PPJoin prefix-filter exact set-similarity join —
      // copies are disjoint doc universes (tokens shared, ids not),
      // so candidate generation through the rare-token prefix index
      // is the scale question: shared tokens fan in across copies
      time("q242_prefix_filter", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
          .filter(col("doc_id") % 5 === 0)
        graft.operators.Dedup.prefixFilterJaccardJoin(
          docs, "doc_id", "text", thresholdPct = 60)
      }
      // q295 shape: ROUGE-1/2 clipped-overlap scoring over chained
      // (doc, next-doc-in-source) pairs — pair count grows ×N with
      // the corpus; the gram-keyed clip joins are the cost center
      time("q295_rouge", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        val pairs = docs
          .select(col("doc_id").as("id_a"),
            lead(col("doc_id"), 1).over(w).as("id_b"))
          .filter(col("id_b").isNotNull)
        graft.operators.Eval.rougeOverlap(pairs, docs, "doc_id", "text")
      }
      // q302 shape: paired A/B bootstrap (32 replicates in ONE scan,
      // per-row md5 weights — the probe checks the linear map-side
      // cost story)
      time("q302_ab_bootstrap", n) {
        val o = shifted(Tables.orders(spark, sfDir),
          Seq("o_orderkey", "o_custkey"), n, 100000000L)
        graft.operators.Analytics.abBootstrapDiff(
          o, "o_custkey", "o_totalprice", replicates = 32, salt = "ab1")
      }
      // q214 shape: incremental near-dup of a batch against the
      // persisted corpus band index (post round-6 cache fix) — both
      // sides grow ×N, candidate pairs stay band-bucket-bounded
      time("q214_incremental", n) {
        val d = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        graft.operators.Dedup.incrementalNearDup(
          d.filter(col("doc_id") % 10 === 0),
          d.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", shingleN = 1, k = 32, bands = 16,
          threshold = 0.9)
      }
      // q330 shape: corpus-global sentence dedup — deliberately
      // UNtagged copies: ×N instances per sentence fingerprint is
      // exactly the hot path global dedup exists for (owner agg +
      // fp-keyed join back)
      time("q330_sentence_dedup", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"),
            regexp_replace(coalesce(col("text"), lit("")),
              "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        graft.operators.Corpus.dedupSentences(docs, "doc_id", "t")
      }
      // q334 shape: length-band edit-distance join. Copies tagged or
      // not, candidates are length-blocked only, so per-band
      // occupancy grows ×N and candidate volume ×N² — that is the
      // honest limit of the band baseline (the PassJoin variant is
      // the scale path; probe both)
      time("q334_edit_band", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val titles = docs.select(col("doc_id"),
          expr("substring(text, 1, 16 + doc_id % 17)").as("title"))
        graft.operators.Dedup.editDistanceJoin(titles, "doc_id",
          "title", maxDist = 2, bandWidth = 8)
      }
      // q338 shape: PassJoin on the SAME titles as q334_edit_band —
      // the contrast probe: segment equi-join keys are content-
      // selective, so candidate volume should stay near-linear where
      // the band join's cohort pairs grow ×N²
      time("q338_passjoin", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val titles = docs.select(col("doc_id"),
          expr("substring(text, 1, 16 + doc_id % 17)").as("title"))
        graft.operators.Dedup.passJoinEditDistance(titles, "doc_id",
          "title", maxDist = 2)
      }
      // q336 shape: WARC container build + Content-Length walk —
      // container count grows ×N at fixed records/container; the
      // fold is per-row algebra, expectation is clean linear
      time("q336_warc_parse", n) {
        val recs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), expr("doc_id div 32").as("file_id"),
            concat(lit("http://h/"), col("doc_id")).as("uri"),
            concat(lit("<p>"),
              substring(coalesce(col("text"), lit("")), 1, 40),
              lit(" WARC/1.0\r\n\r\ntrap</p>")).as("payload"))
        val c = graft.operators.Warc.buildContainers(
          recs, "file_id", "doc_id", "uri", "payload")
        graft.operators.Warc.parseRecords(c, "file_id", "warc", 40)
      }
      // q342 shape: the 8-stage crawl-to-corpus E2E over shifted
      // copies (untagged: the dedup stage's planted-dup collapse is
      // the point; the fp agg and row numbering dominate)
      time("q342_e2e", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        val t40 = substring(coalesce(col("text"), lit("")), 1, 40)
        val payload = concat(lit("<html><body><p>"), t40,
          lit("</p><p>fin über éclair</p></body></html>"))
        val recs = docs.select(col("doc_id"),
          expr("doc_id div 32").as("file_id"),
          concat(lit("http://h/"), col("doc_id")).as("uri"),
          payload.as("payload"))
        val parsed = graft.operators.Warc.parseRecords(
          graft.operators.Warc.buildContainers(recs, "file_id",
            "doc_id", "uri", "payload"), "file_id", "warc", 40)
        val cleaned = parsed
          .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
            graft.operators.HtmlExtract.htmlToText(
              graft.expressions.TextNormalize.nfcNative(
                col("payload"))).as("content"))
          .withColumn("fp", md5(col("content")))
        val kept = cleaned.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        graft.operators.Corpus.globalRowNumber(kept, "doc_id", 32L)
      }
      // q346 shape: trigram-LM scoring + bisect tertiles, post the
      // localCheckpoint fix — copy-tagged so the LM model tables grow
      // with the corpus instead of collapsing onto one vocabulary
      time("q346_ccnet", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val lm = graft.operators.LanguageModel.trigramInterpolated(
          docs.select(col("doc_id"), col("text")), "doc_id", "text")
        val scored = lm.filter(col("n_trigrams") > 0)
          .withColumn("avg_ppm", expr("interp_ppm_sum div n_trigrams"))
          .localCheckpoint(true)
        val th = graft.operators.Corpus.quantilesBisect(scored,
          "avg_ppm", Seq(1.0 / 3, 2.0 / 3))
        scored.crossJoin(broadcast(th.select(col("q_33"), col("q_67"))))
          .withColumn("bucket",
            when(col("avg_ppm") > col("q_67"), "head")
              .when(col("avg_ppm") > col("q_33"), "middle")
              .otherwise("tail"))
      }
      // q227 shape: item-item CF — both keys shift, so copies are
      // disjoint basket universes and the census grows exactly ×N
      // (pair work stays C(basket, 2)-bounded per basket)
      time("q227_item_cf", n) {
        val l = shifted(Tables.lineitem(spark, sfDir),
          Seq("l_orderkey", "l_partkey"), n, 100000000L)
          .select(col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.itemSimilarityTopK(
          l, "l_orderkey", "l_partkey", k = 5)
      }
      // q384 shape: k-core peeling over co-purchase pairs — both keys
      // shift, so copies are disjoint subgraphs and the peel grows ×N
      time("q384_kcore", n) {
        val l = shifted(Tables.lineitem(spark, sfDir),
          Seq("l_orderkey", "l_partkey"), n, 100000000L)
          .select(col("l_orderkey"), col("l_partkey"))
        val pairs = l.as("a")
          .join(l.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"),
            col("b.l_partkey").as("dst"))
        graft.operators.Graph.kCore(pairs, "src", "dst", 90, 3)
      }
      // q386 shape: trigram profile training + per-sentence
      // classification + doc majority — copy-tagged so the profile
      // tables grow with the corpus
      time("q386_mixed_lang", n) {
        import org.apache.spark.sql.expressions.Window
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val prof = graft.operators.LanguageModel.charTrigramProfiles(
          docs.filter(col("doc_id") % 2 === 0), "lang", "text", 100)
        val sents = graft.operators.TextAnalysis.sentences(
            docs.select(col("doc_id"),
              regexp_replace(coalesce(col("text"), lit("")),
                "((?:\\S+ ){4}\\S+) ", "$1. ").as("t")), "doc_id", "t")
          .withColumn("sid", col("doc_id") * 1000 + col("sent_idx"))
        val preds = graft.operators.LanguageModel.classifyByProfiles(
          sents, "sid", "sentence", prof)
        val cnt = sents.join(preds.select(col("sid"), col("pred")),
            Seq("sid"), "left")
          .withColumn("pred", coalesce(col("pred"), lit("none")))
          .groupBy(col("doc_id"), col("pred"))
          .agg(count(lit(1)).as("c"))
        cnt.withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("c").desc, col("pred"))))
          .filter(col("rk") === 1)
      }
      // q321 shape: the crawl pipeline end-to-end (page synthesis →
      // block segmentation → boilerplate strip → quality filter →
      // exact dedup). Untagged copies: the dedup stage's fp agg sees
      // the planted collapse, which is the hot path it exists for;
      // the extraction chain itself is a pure projection (scan-linear
      // by construction), so the groupBy(doc) reassembly and fp agg
      // are the scale question.
      time("q321_crawl_pipeline", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        val content = graft.operators.HtmlExtract.extractContent(
          graft.queries.CrawlQueries.htmlFrom(docs), "doc_id", "html")
        val quality = content.filter(col("n_kept") >= 2 &&
          size(split(col("content"), "\\s+")) >= 20)
        graft.operators.Dedup.exactDedup(quality, "doc_id",
          graft.operators.TextAnalysis.fingerprint(col("content")))
      }
      // q232 shape: TxLog 10-commit table + range-rewrite compaction
      // + read-back of both versions. Commit count is FIXED (the log
      // is metadata); data volume per commit grows ×N — compaction
      // rewrites the live range once, so expectation is linear in
      // data with constant log overhead.
      time("q232_txlog_compaction", n) {
        import graft.sources.TxLog
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("source"), col("lang"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_sp_txc")
        val t = s"$tmp/tbl"
        try {
          (0 until 10).foreach { i =>
            TxLog.commit(docs.filter(col("doc_id") % 10 === i), t,
              if (i == 0) "overwrite" else "append", "doc_id")
          }
          val v = TxLog.compact(spark, t, "doc_id", targetFiles = 2)
          TxLog.read(spark, t, Some(v))
            .unionByName(TxLog.read(spark, t, Some(v - 1)))
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          Runtime.getRuntime.addShutdownHook(
            new Thread(() => rm(tmp.toFile)))
        }
      }
      // q422 shape: near-dup split-leakage audit — copy-tagged (the
      // pairs stage is the q214/q242 discipline: untagged copies
      // plant N² true pairs); the split join-backs are id-keyed
      // equi-joins against the broadcast-size split map
      time("q422_split_leakage", n) {
        val sample = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
          .filter(col("doc_id") % 20 === 0)
        val splits = graft.operators.Corpus.hashSplit(sample, "doc_id",
            "v1", Seq(("train", 8), ("val", 1), ("test", 1)))
          .select(col("doc_id"), col("split"))
        val pairs = graft.operators.Dedup.nearDupPairs(sample,
          "doc_id", "text", shingleN = 1, k = 32, bands = 16,
          threshold = 0.9)
        pairs
          .join(splits.select(col("doc_id").as("id_a"),
            col("split").as("split_a")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"),
            col("split").as("split_b")), "id_b")
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("split_a") =!= col("split_b"), 1L)
              .otherwise(0L)).as("n_leaked"))
      }
      // q400 shape: the curation capstone's cost drivers — the spam
      // token battery plus readability + bisect over survivors
      time("q400_curation", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val page = docs.select(col("doc_id"), concat(
          lit("<html><body><p>"), coalesce(col("text"), lit("")),
          lit("</p></body></html>")).as("html"))
        val spam = graft.operators.HtmlExtract.spamSignals(
            page, "doc_id", "html")
          .filter(!col("hidden") && !col("stuffed"))
          .select(col("doc_id"))
        val rd = graft.operators.TextAnalysis.readability(
            docs.join(spam, Seq("doc_id"))
              .select(col("doc_id"), col("text")), "text")
          .select(col("doc_id"), col("flesch_milli"))
          .filter(col("flesch_milli").isNotNull)
          .localCheckpoint(true)
        val th = graft.operators.Corpus.quantilesBisect(
          rd, "flesch_milli", Seq(0.33, 0.67))
        rd.crossJoin(broadcast(th.select(col("q_33"), col("q_67"))))
          .withColumn("phase",
            when(col("flesch_milli") >= col("q_67"), 0L)
              .when(col("flesch_milli") >= col("q_33"), 1L)
              .otherwise(2L))
      }
      // q432 shape: sparse tf-cosine join — THE round-8 operator with
      // quadratic potential (pair agg over posting co-occurrence).
      // Copy-tagged: disjoint token universes, so candidate volume
      // grows with content, not combinatorially (the q214/q242
      // methodology); the df cap is the production lever.
      time("q432_sparse_cosine", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
          .filter(col("doc_id") % 20 === 0)
        graft.operators.Search.sparseCosineJoin(
          graft.operators.Search.termFrequencies(docs, "doc_id", "text"),
          maxDf = 500, minCos2Ppm = 640000L)
      }
      // q433 shape: greedy k-center — k driver rounds, each a
      // localCheckpoint rewrite of the corpus-sized min-distance
      // frame; the probe question is whether those k rewrites stay
      // linear in the corpus (they are k scans of a narrow frame)
      time("q433_kcenter", n) {
        val e = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
        graft.operators.Similarity.kCenterGreedy(
          e, "vec_id", "embedding", k = 6)
      }
      // q426 shape: exact KS drift — rows grow ×N but the one
      // unpartitioned window runs over the distinct-VALUE frame,
      // which is domain-bounded (n_chars domain is fixed), so the
      // probe should show the pre-agg absorbing the growth
      time("q426_ks_drift", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        graft.operators.Analytics.ksStatistic(
          docs.select(col("n_chars"), col("lang")),
          col("lang") === "en", "n_chars")
      }
      // q437 shape: incremental ANN-index maintenance — base commit,
      // deletion-vector delete, delta append to existing centroids,
      // then one serve against the maintained index. Commit count is
      // fixed; data per commit grows ×N. Centroids mirror the gate's
      // fixed-seed eight.
      time("q437_ann_ivm", n) {
        import graft.sources.TxLog
        val cents: Seq[Seq[Float]] = {
          val rnd = new scala.util.Random(4242L)
          Seq.fill(8)(Seq.fill(64)(rnd.nextGaussian().toFloat))
        }
        val e = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"), col("embedding"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_sp_aivm")
        val t = s"$tmp/index"
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(tmp.toFile)
        }))
        TxLog.commit(graft.operators.Similarity.ivfIndexFrame(
          e.filter(col("vec_id") % 10 < 8), "vec_id", "embedding",
          cents), t, "overwrite", "neighbor_id")
        TxLog.deleteWhere(spark, t, col("neighbor_id") % 7 === 0)
        TxLog.commit(graft.operators.Similarity.ivfIndexFrame(
          e.filter(col("vec_id") % 10 === 8), "vec_id", "embedding",
          cents), t, "append", "neighbor_id")
        graft.operators.Similarity.annTopKIvfServe(
          e.filter(col("vec_id") % 100 === 0), TxLog.read(spark, t),
          "vec_id", "embedding", cents, 3)
      }
      // q449 shape: unigram-LM hard-EM trainer — all work is WORD-
      // VOCABULARY bounded; copy-tagging multiplies the vocab ×N
      // (disjoint token universes), the corpus-side word count rides
      // the scan
      time("q449_unigram", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val words = docs.select(explode(
            graft.operators.TextAnalysis.tokens(lower(col("text"))))
            .as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .filter(length(col("word")).between(1, 10))
          .localCheckpoint(true) // the viterbiSegment caller contract
        graft.operators.UnigramLm.train(words, "word", "cnt",
          rounds = 2, maxPieceLen = 3, maxWordLen = 10, topM = 24)._1
      }
      // q451 shape: NN-descent graph build — candidate volume is
      // n·C(2k,2) per round by construction; buckets scale with n so
      // ring windows stay task-sized
      time("q451_nn_descent", n) {
        val codes = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            graft.operators.Similarity.quantizeInt8(col("embedding"))
              .getField("q").as("code"))
        graft.operators.GraphAnn.nnDescent(codes, "vec_id", "code",
          k = 4, rounds = 2, buckets = 8 * n)
      }
      // q453 shape: clustered rewrite (bounds readout + bucket
      // shuffle + stats pass) + the two-axis pruned read
      timeWithTmp("q453_zorder", n, "graft_sp_zord") { tmp =>
        import graft.sources.TxLog
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val t = s"$tmp/tbl"
        val hiX = (n - 1) * 100000000L + 10000L
        TxLog.commitClustered(docs, t, "overwrite", "doc_id",
          "n_chars", graft.functions.ZOrder.zKeyNormalized(
            col("doc_id"), 0L, hiX, col("n_chars"), 0L, 700L, 8),
          buckets = 16)
        TxLog.prunedRead2(spark, t, "doc_id", 0L, 2500L,
          "n_chars", 0L, 300L)._1
      }
      // q470 shape: the same rewrite under the Hilbert key — the
      // per-row fold is 8 constant-size steps, so the expectation is
      // q453's exact cost curve
      timeWithTmp("q470_hilbert", n, "graft_sp_hilb") { tmp =>
        import graft.sources.TxLog
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val t = s"$tmp/tbl"
        val hiX = (n - 1) * 100000000L + 10000L
        TxLog.commitClustered(docs, t, "overwrite", "doc_id",
          "n_chars", graft.functions.ZOrder.hilbertKeyNormalized(
            col("doc_id"), 0L, hiX, col("n_chars"), 0L, 700L, 8),
          buckets = 16)
        TxLog.prunedRead2(spark, t, "doc_id", 0L, 2500L,
          "n_chars", 0L, 300L)._1
      }
      // q469 shape: layered SERVE isolated from the build (graph +
      // upper layer constructed eagerly before the clock) — state is
      // queries×beam, so the serve should be corpus-flat; only the
      // edge-join probe sides grow
      if (only.forall(_.contains("q469_layered_serve"))) {
        val codes = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            graft.operators.Similarity.quantizeInt8(col("embedding"))
              .getField("q").as("code"))
          .localCheckpoint(true)
        val graph = graft.operators.GraphAnn.nnDescent(codes,
            "vec_id", "code", k = 4, rounds = 2, buckets = 8 * n)
          .select(col("src"), col("dst")).localCheckpoint(true)
        val upperNodes = codes.filter(
          graft.operators.GraphAnn.saltedHash60(col("vec_id"), ":layer")
            % 4 === 0).localCheckpoint(true)
        val upper = graft.operators.GraphAnn.ringInitEdges(upperNodes,
          "vec_id", k = 4, buckets = 2 * n).localCheckpoint(true)
        time("q469_layered_serve", n) {
          graft.operators.GraphAnn.beamServeLayered(
            codes.filter(col("vec_id") % 100 === 0),
            Seq((upper, 2), (graph, 3)), upperNodes, codes,
            "vec_id", "code", entryK = 8, beam = 12, topK = 3)
        }
      }
      // q466 shape: jittered Viterbi sampling — vocabulary-bounded
      // like q449, plus one md5 per (cell, probe length); expectation
      // is flat-with-vocab like the trainer
      time("q466_sample", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val words = docs.select(explode(
            graft.operators.TextAnalysis.tokens(lower(col("text"))))
            .as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .filter(length(col("word")).between(1, 10))
          .localCheckpoint(true)
        val (scored, _) = graft.operators.UnigramLm.train(words,
          "word", "cnt", rounds = 1, maxPieceLen = 3, maxWordLen = 10,
          topM = 24)
        val costs = scored.collect()
          .map(r => (r.getString(0), r.getLong(2))).toSeq
        graft.operators.UnigramLm.sampleSegment(words, "word", costs,
          3, 10, "s1", 12000000L)
      }
      // q474 shape: AUTO-STACK layered serve isolated from the build
      // (bottom graph + 2 ring levels constructed eagerly before the
      // clock) — like q469, state is queries×beam: expect FLAT
      if (only.forall(_.contains("q474_auto_stack"))) {
        val codes = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            graft.operators.Similarity.quantizeInt8(col("embedding"))
              .getField("q").as("code"))
          .localCheckpoint(true)
        val graph = graft.operators.GraphAnn.nnDescent(codes,
            "vec_id", "code", k = 4, rounds = 2, buckets = 8 * n)
          .select(col("src"), col("dst")).localCheckpoint(true)
        val stack = graft.operators.GraphAnn.buildLayerStack(codes,
            "vec_id", k = 4, fanout = 4, levels = 2, buckets = 8 * n)
          .map { case (e, m) =>
            (e.localCheckpoint(true), m.localCheckpoint(true)) }
        time("q474_auto_stack", n) {
          graft.operators.GraphAnn.beamServeLayered(
            codes.filter(col("vec_id") % 100 === 0),
            stack.map { case (e, _) => (e, 1) } :+ ((graph, 3)),
            stack.head._2, codes, "vec_id", "code", entryK = 16,
            beam = 12, topK = 3)
        }
      }
      // q475 shape: filtered serve — same queries×beam state plus a
      // topK match accumulator; expect FLAT like q469/q474
      if (only.forall(_.contains("q475_filtered_serve"))) {
        val codes = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            graft.operators.Similarity.quantizeInt8(col("embedding"))
              .getField("q").as("code"))
          .localCheckpoint(true)
        val graph = graft.operators.GraphAnn.nnDescent(codes,
            "vec_id", "code", k = 4, rounds = 2, buckets = 8 * n)
          .select(col("src"), col("dst")).localCheckpoint(true)
        time("q475_filtered_serve", n) {
          graft.operators.GraphAnn.beamServeFiltered(
            codes.filter(col("vec_id") % 100 === 0), graph, codes,
            codes.filter(col("vec_id") % 20 === 3), "vec_id", "code",
            entryK = 16, beam = 12, steps = 5, topK = 3)
        }
      }
      // q476 shape: 3-axis clustered rewrite + box read — the
      // hilbert3 fold is (bits-1) constant-size sub-steps per row;
      // expectation is q470's near-flat curve
      timeWithTmp("q476_hilbert3", n, "graft_sp_h3") { tmp =>
        import graft.sources.TxLog
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("source"), col("n_chars"),
            (graft.operators.GraphAnn.saltedHash60(col("doc_id"), ":ax3")
              % 1000).as("aux"))
        val t = s"$tmp/tbl"
        val hiX = (n - 1) * 100000000L + 10000L
        TxLog.commitClustered3(docs, t, "overwrite", "doc_id",
          "n_chars", "aux", graft.functions.ZOrder.hilbert3KeyNormalized(
            col("doc_id"), 0L, hiX, col("n_chars"), 0L, 700L,
            col("aux"), 0L, 999L, 6),
          buckets = 16)
        TxLog.prunedRead3(spark, t, "doc_id", 0L, 2500L,
          "n_chars", 0L, 300L, "aux", 0L, 400L)._1
      }
      // q477 shape: k-best Viterbi — the n=3 cell triples the DP
      // constant, never the corpus work; expect flat-with-vocab
      time("q477_nbest", n) {
        val docs = copyTagged(Tables.documents(spark, sfDir),
          Seq("doc_id"), "text", n, 100000000L)
        val words = docs.select(explode(
            graft.operators.TextAnalysis.tokens(lower(col("text"))))
            .as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .filter(length(col("word")).between(1, 10))
          .localCheckpoint(true)
        val (scored, _) = graft.operators.UnigramLm.train(words,
          "word", "cnt", rounds = 1, maxPieceLen = 3, maxWordLen = 10,
          topM = 24)
        val costs = scored.collect()
          .map(r => (r.getString(0), r.getLong(2))).toSeq
        graft.operators.UnigramLm.nbestSegment(words, "word", costs,
          3, 10, n = 3)
      }
      // q480 shape: KN bigram model + per-doc scoring — one corpus
      // bigram explode, vocab-bounded continuation stats, lnPpm fold
      // on the MODEL frame only; expect linear in the corpus
      time("q480_kn", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("text"))
        val model = graft.operators.LanguageModel
          .knBigramModel(docs, "text", 750000L)
        graft.operators.LanguageModel.knSurprise(docs, model,
          "doc_id", "text")
      }
      // q483 shape: residual IVF-PQ SERVE isolated from training
      // (coarse cents + PQ codebooks are nlist/M·k-bounded, built
      // before the clock) — candidates per query grow ∝ corpus/nlist
      // at fixed nlist, so expect LINEAR; production scales nlist
      // with the corpus to hold cell size
      if (only.forall(_.contains("q483_ivfpq_serve"))) {
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(8)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        val rnd = new scala.util.Random(4343L)
        val pqInit = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(
          rnd.nextGaussian() * 0.1)))
        val resid = graft.operators.Similarity.ivfResiduals(
          vecs, "vec_id", "v", cents).localCheckpoint(true)
        val cb = graft.operators.Similarity.pqTrain(resid, "res", pqInit)
        val coded = graft.operators.Similarity.ivfPqEncode(
          vecs, "vec_id", "v", cents, cb).localCheckpoint(true)
        time("q483_ivfpq_serve", n) {
          graft.operators.Similarity.ivfPqAdcTopK(
            vecs.filter(col("vec_id") % 100 === 0), coded,
            "vec_id", "v", cents, cb, probes = 3, k = 40)
        }
      }
      // q486 shape: sentence packing — one scan + per-doc fold over
      // the doc's own sentences; expect linear
      time("q486_sentence_pack", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), regexp_replace(col("text"),
            "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        graft.operators.Corpus.packSentenceChunks(docs, "doc_id", "t",
          budgetTokens = 40)
      }
      // q488 shape: Aho-Corasick native matcher vs the q398 join form
      // — the kernel is one automaton pass per row (expect linear
      // with a small constant); the join form pays one exploded
      // corpus pass per distinct phrase length
      time("q488_ac_native", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        val m = graft.expressions.DictionaryMatches.matches(col("text"),
          Seq("spark", "fast hash", "value table part"))
        docs.select(col("doc_id"), m.as("__m"))
          .select(col("doc_id"), size(col("__m")).cast("long").as("n_hits"))
      }
      time("q398_ac_join", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        import spark.implicits._
        graft.operators.QualityFilters.blocklistMatch(docs, "doc_id",
          "text", Seq("spark", "fast hash", "value table part")
            .toDF("phrase"), "phrase")
      }
      // q492 shape: MaxSim late interaction — token-vector frame is
      // vocabulary-bounded, candidates posting-gated, query side
      // broadcast; expect linear in candidate volume
      time("q492_maxsim", n) {
        import spark.implicits._
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
        val queries = Seq((1L, "spark"), (1L, "join"),
          (2L, "fast"), (2L, "hash"), (2L, "table"))
          .toDF("qid", "token")
        graft.operators.Search.maxSimTopK(docs, "doc_id", "text",
          queries, dim = 8, salt = ":ms", k = 10)
      }
      // q500 shape: the 3-stage RAG-prep flagship — KN scoring is
      // the dominant corpus term (q480's curve), tertile bisect is
      // O(log range) probes over the checkpointed scored frame,
      // chunking rides the kept third
      time("q500_rag_prep", n) {
        val docs = shifted(Tables.documents(spark, sfDir),
          Seq("doc_id"), n, 100000000L)
          .select(col("doc_id"), col("source"), col("text"))
        val model = graft.operators.LanguageModel.knBigramModel(
          docs.select(col("doc_id"), col("text")), "text", 750000L)
        val scored = graft.operators.LanguageModel.knSurprise(
            docs.select(col("doc_id"), col("text")), model,
            "doc_id", "text")
          .filter(col("n_bigrams") > 0)
          .withColumn("avg_nats", expr("kn_nats_sum div n_bigrams"))
          .localCheckpoint(true)
        val th = graft.operators.Corpus.quantilesBisect(scored,
          "avg_nats", Seq(1.0 / 3, 2.0 / 3))
        val kept = scored
          .crossJoin(broadcast(th.select(col("q_33"))))
          .filter(col("avg_nats") <= col("q_33"))
          .select(col("doc_id"))
          .join(docs, Seq("doc_id"))
          .select(col("doc_id"), regexp_replace(col("text"),
            "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        graft.operators.Corpus.packSentenceChunks(kept, "doc_id", "t",
          budgetTokens = 40)
      }
      // q501 shape: POLICY-nlist IVF serve vs the fixed-nlist-8 serve
      // on the same corpus (builds outside the clock). With nlist =
      // numCells(n) the per-cell candidate list stays ~sqrt(n) and
      // probes scale with nlist, so the policy curve should flatten
      // relative to fixed-8 (whose cells grow ∝ n) as copies rise —
      // the measured form of "fixed nlist means unbounded cell scans"
      if (only.forall(o => o.contains("q501_policy_serve") ||
          o.contains("q501_fixed8_serve"))) {
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val cnt = vecs.count()
        def trained(ncl: Int) = {
          val init = vecs
            .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
              col("vec_id"), ":seed"))
            .orderBy(col("__h"), col("vec_id")).limit(ncl)
            .select(col("v")).collect()
            .zipWithIndex.map { case (r, i) =>
              (i, r.getSeq[Double](0).toSeq) }.toSeq
          graft.operators.Similarity.kmeansIterate(vecs, "v", init, 1)
        }
        val nclP = graft.operators.Similarity.numCells(cnt)
        val centsP = trained(nclP)
        val cents8 = trained(8)
        val queries = vecs.filter(col("vec_id") % 100 === 0)
        time("q501_policy_serve", n) {
          graft.operators.Similarity.annTopKIvfMultiProbeD(queries,
            vecs, "vec_id", "v", centsP, 10,
            graft.operators.Similarity.numProbes(centsP.size))
        }
        time("q501_fixed8_serve", n) {
          graft.operators.Similarity.annTopKIvfMultiProbeD(queries,
            vecs, "vec_id", "v", cents8, 10, 3)
        }
      }
      // q505 shape: COLD ADC serve from a TxLog-committed code table —
      // the warm q483 serve plus exactly one committed-parquet scan;
      // the cold-vs-warm gap is the storage read, nothing else
      if (only.forall(_.contains("q505_committed_serve"))) {
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(8)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        val rnd = new scala.util.Random(4343L)
        val pqInit = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(
          rnd.nextGaussian() * 0.1)))
        val resid = graft.operators.Similarity.ivfResiduals(
          vecs, "vec_id", "v", cents).localCheckpoint(true)
        val cb = graft.operators.Similarity.pqTrain(resid, "res", pqInit)
        timeWithTmp("q505_committed_serve", n, "graft_probe505_") { tmp =>
          val coded = graft.operators.Similarity.ivfPqEncode(
            vecs, "vec_id", "v", cents, cb)
          graft.sources.TxLog.commit(coded, tmp.toString, "overwrite",
            "vec_id")
          val codedBack = graft.sources.TxLog.read(spark, tmp.toString)
          graft.operators.Similarity.ivfPqAdcTopK(
            vecs.filter(col("vec_id") % 100 === 0), codedBack,
            "vec_id", "v", cents, cb, probes = 3, k = 40)
        }
      }
      // q504/q512/q508 shapes (r13 verdict item 6): the graph build
      // runs OUTSIDE the clock (its curve is q451's); the timed work
      // is what each gate adds on top. Query set is FIXED to copy 0
      // so the curves isolate corpus growth from query growth.
      if (only.forall(o => o.contains("q504_committed_serve") ||
          o.contains("q512_tombstone_serve") ||
          o.contains("q508_mine_after_serve"))) {
        val codes = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            graft.operators.Similarity.quantizeInt8(col("embedding"))
              .getField("q").as("code"))
          .localCheckpoint(true)
        val graph = graft.operators.GraphAnn.nnDescent(codes,
            "vec_id", "code", k = 4, rounds = 2, buckets = 8 * n)
          .select(col("src"), col("dst")).localCheckpoint(true)
        val queries = codes.filter(col("vec_id") % 100 === 0 &&
          col("vec_id") < 100000000L)
        // commit + read-back scan (n_edges ≤ n·k → ~linear) + the
        // k/step-bounded beam over the growing edge table
        timeWithTmp("q504_committed_serve", n, "graft_sp_gcs") { tmp =>
          graft.sources.TxLog.commit(graph, s"$tmp/g", "overwrite",
            "src")
          val back = graft.sources.TxLog.read(spark, s"$tmp/g")
            .select(col("src"), col("dst"))
          graft.operators.GraphAnn.beamServe(queries, back, codes,
            "vec_id", "code", 16, 12, 5, 3)
        }
        // + tombstone table round trip and the splice repair, whose
        // extra cost is (edges at deleted)·k — rides the same scan
        timeWithTmp("q512_tombstone_serve", n, "graft_sp_tcs") { tmp =>
          graft.sources.TxLog.commit(graph, s"$tmp/g", "overwrite",
            "src")
          graft.sources.TxLog.commit(
            codes.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
            s"$tmp/t", "overwrite", "vec_id")
          val back = graft.sources.TxLog.read(spark, s"$tmp/g")
            .select(col("src"), col("dst"))
          val tomb = graft.sources.TxLog.read(spark, s"$tmp/t")
          val live = codes.filter(col("vec_id") % 7 =!= 0)
          val rep = graft.operators.GraphAnn.deleteNodes(back, codes,
            tomb, "vec_id", "code", 4)
          graft.operators.GraphAnn.beamServe(
            queries.filter(col("vec_id") % 7 =!= 0),
            rep.select(col("src"), col("dst")), live,
            "vec_id", "code", 16, 12, 5, 3)
        }
        // negatives mined from the INDEX's k-bounded candidate lists:
        // with labeled positives (production: labels, not a scan) the
        // mining stage's input is 10 rows/query regardless of corpus
        // size — any growth in this curve is the serve term alone
        time("q508_mine_after_serve", n) {
          val served = graft.operators.GraphAnn.beamServe(queries,
            graph, codes, "vec_id", "code", 16, 12, 5, 10)
          val positives = queries.select(
            col("vec_id").as("query_id"),
            (col("vec_id") + 1).as("neighbor_id"))
          graft.operators.Similarity.hardNegatives(served, positives,
            "idot", m = 5)
        }
      }
      // q510 shape: the composed production IVF-PQ path at POLICY
      // nlist — encode + commit + cold read-back + ADC shortlist +
      // exact re-rank in one timed plan; the re-rank joins raw
      // vectors only for the ShortK-bounded shortlist
      if (only.forall(_.contains("q510_policy_committed"))) {
        import graft.expressions.VectorExpressions.l2sqF
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val ncl = graft.operators.Similarity.numCells(vecs.count())
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(ncl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        val rnd = new scala.util.Random(4343L)
        val pqInit = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(
          rnd.nextGaussian() * 0.1)))
        val resid = graft.operators.Similarity.ivfResiduals(
          vecs, "vec_id", "v", cents).localCheckpoint(true)
        val cb = graft.operators.Similarity.pqTrain(resid, "res", pqInit)
        timeWithTmp("q510_policy_committed", n, "graft_sp_510") { tmp =>
          val coded = graft.operators.Similarity.ivfPqEncode(
            vecs, "vec_id", "v", cents, cb)
          graft.sources.TxLog.commit(coded, tmp.toString, "overwrite",
            "vec_id")
          val codedBack = graft.sources.TxLog.read(spark, tmp.toString)
          val queries = vecs.filter(col("vec_id") % 100 === 0)
          val short = graft.operators.Similarity.ivfPqAdcTopK(
            queries, codedBack, "vec_id", "v", cents, cb,
            math.min(graft.operators.Similarity.numProbes(ncl),
              cents.size), 40)
          graft.operators.TopK.rank(short
            .join(vecs.select(col("vec_id").as("neighbor_id"),
              col("v").as("__nv")), Seq("neighbor_id"))
            .join(queries.select(col("vec_id").as("query_id"),
              col("v").as("__qv")), Seq("query_id"))
            .withColumn("__d", l2sqF(col("__qv"), col("__nv"))),
            "query_id", col("__d").asc, "neighbor_id", 10)
        }
      }
      // q515 shape: deletion-vector delete + cold preassigned serve —
      // the DV filters the SCAN (position bitmaps per file), so the
      // serve's probe joins see only live rows with zero plan change
      if (only.forall(_.contains("q515_dv_serve"))) {
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val ncl = graft.operators.Similarity.numCells(vecs.count())
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(ncl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        timeWithTmp("q515_dv_serve", n, "graft_sp_515") { tmp =>
          graft.sources.TxLog.commit(
            graft.operators.Similarity.insertIntoCells(vecs, "vec_id",
              "v", cents), tmp.toString, "overwrite", "vec_id")
          graft.sources.TxLog.deleteWhere(spark, tmp.toString,
            col("vec_id") % 7 === 0)
          val idxBack = graft.sources.TxLog.read(spark, tmp.toString)
          graft.operators.Similarity.annTopKIvfPreassignedD(
            vecs.filter(col("vec_id") % 100 === 0 &&
              col("vec_id") % 7 =!= 0),
            idxBack, "vec_id", "v", "cell", cents, 10,
            math.min(graft.operators.Similarity.numProbes(ncl),
              cents.size))
        }
      }
      // q518 shape: selectivity-aware filtered IVF serve — widened
      // probes touch MORE cells as the corpus grows (nprobe' =
      // ceil(probes/selectivity) capped at the policy nlist), but the
      // candidate join stays selectivity-bounded: the index side is
      // predicate-filtered before the probe join
      if (only.forall(_.contains("q518_filtered_serve"))) {
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val total = vecs.count()
        val ncl = graft.operators.Similarity.numCells(total)
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(ncl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        time("q518_filtered_serve", n) {
          val index = graft.operators.Similarity.insertIntoCells(
            vecs, "vec_id", "v", cents)
            .filter(col("vec_id") % 20 === 3)
          val widened = graft.operators.Similarity.probesForSelectivity(
            math.min(graft.operators.Similarity.numProbes(ncl),
              cents.size), cents.size,
            total / 20, total)
          graft.operators.Similarity.annTopKIvfPreassignedD(
            vecs.filter(col("vec_id") % 100 === 0), index,
            "vec_id", "v", "cell", cents, 10, widened)
        }
      }
      // q520 shape: DV delete + predicate-filtered ADC serve over the
      // committed code table — q510's pipeline plus deleteWhere and
      // the ~5% predicate. Both filters hit the SCAN side before the
      // probe join, so the candidate term is selectivity-bounded; the
      // widened probe count saturates at the policy nlist while the
      // per-cell allowed population stays ~constant — expect q510's
      // curve with a smaller candidate constant
      if (only.forall(_.contains("q520_dv_filtered_adc"))) {
        import graft.expressions.VectorExpressions.l2sqF
        val vecs = shifted(Tables.embeddings(spark, sfDir),
          Seq("vec_id"), n, 100000000L)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val total = vecs.count()
        val ncl = graft.operators.Similarity.numCells(total)
        val init = vecs
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(ncl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          vecs, "v", init, 1)
        val rnd = new scala.util.Random(4343L)
        val pqInit = Seq.fill(8)(Seq.fill(16)(Seq.fill(8)(
          rnd.nextGaussian() * 0.1)))
        val resid = graft.operators.Similarity.ivfResiduals(
          vecs, "vec_id", "v", cents).localCheckpoint(true)
        val cb = graft.operators.Similarity.pqTrain(resid, "res", pqInit)
        timeWithTmp("q520_dv_filtered_adc", n, "graft_sp_520") { tmp =>
          graft.sources.TxLog.commit(
            graft.operators.Similarity.ivfPqEncode(vecs, "vec_id", "v",
              cents, cb), tmp.toString, "overwrite", "vec_id")
          graft.sources.TxLog.deleteWhere(spark, tmp.toString,
            col("vec_id") % 7 === 0)
          val live = graft.sources.TxLog.read(spark, tmp.toString)
            .filter(col("vec_id") % 20 === 3)
          val queries = vecs.filter(col("vec_id") % 100 === 0 &&
            col("vec_id") % 7 =!= 0)
          val widened = graft.operators.Similarity.probesForSelectivity(
            math.min(graft.operators.Similarity.numProbes(ncl),
              cents.size), cents.size, total / 20, total)
          val short = graft.operators.Similarity.ivfPqAdcTopK(
            queries, live, "vec_id", "v", cents, cb, widened, 40)
          graft.operators.TopK.rank(short
            .join(vecs.select(col("vec_id").as("neighbor_id"),
              col("v").as("__nv")), Seq("neighbor_id"))
            .join(queries.select(col("vec_id").as("query_id"),
              col("v").as("__qv")), Seq("query_id"))
            .withColumn("__d", l2sqF(col("__qv"), col("__nv"))),
            "query_id", col("__d").asc, "neighbor_id", 10)
        }
      }
      // q509 shape: streaming IVF ingest — the quantizer FREEZES at
      // base-train time (corpus-size-independent here), each batch
      // assigns via the native kernel inside its own scan: expect
      // linear in batch rows, flat per row, no shuffle term
      if (only.forall(_.contains("q509_stream_insert"))) {
        val base = Tables.embeddings(spark, sfDir)
          .select(col("vec_id"),
            transform(col("embedding"),
              x => coalesce(x.cast("double"), lit(0.0d))).as("v"))
          .localCheckpoint(true)
        val init = base
          .withColumn("__h", graft.operators.GraphAnn.saltedHash60(
            col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id"))
          .limit(graft.operators.Similarity.numCells(base.count()))
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq) }.toSeq
        val cents = graft.operators.Similarity.kmeansIterate(
          base, "v", init, 1)
        time("q509_stream_insert", n) {
          val delta = shifted(base, Seq("vec_id"), n, 100000000L)
          graft.operators.Similarity.insertIntoCells(delta, "vec_id",
            "v", cents)
        }
      }
    }
    spark.stop()
  }
}
