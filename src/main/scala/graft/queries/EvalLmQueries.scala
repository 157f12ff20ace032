package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FixedPoint
import graft.operators.{Eval, LanguageModel}

/** q480–q482, q486, q490–q493, q496–q497: trained-LM quality
  * scoring, translation-pair QA, and LM-data preparation — the
  * published methods behind stages earlier gates approximate:
  *
  *  - q480/q491: interpolated and MODIFIED Kneser–Ney bigram LMs
  *    (Kneser & Ney 1995; Chen & Goodman 1999) — the KenLM smoothing
  *    CCNet buckets are built on, fixed-D and count-of-counts-
  *    estimated discounts side by side, all exact-integer ppm.
  *  - q481: pair BLEU in log space (Papineni et al. 2002); q482:
  *    pair chrF β=2 (Popović 2015) — per-order F collapses to the
  *    rational 5m/(4r+c).
  *  - q486: sentence-boundary RAG chunk packing; q496: the
  *    block-side packing manifest with attention-boundary offsets.
  *  - q490: KN-driven CCNet head/middle/tail buckets.
  *  - q492: ColBERT-style MaxSim late-interaction re-ranking;
  *    q493: Max-P passage retrieval (Dai & Callan 2019).
  *  - q497: GPT-2-style regex pretokenization.
  *
  * Every gate hash-exact: logs go through the shared shift-and-square
  * lnPpm kernel mirrored as unrolled CTEs; everything else is i64
  * add/multiply/div identical in Spark and DuckDB (chrF and the
  * packing gates need no log at all).
  */
object EvalLmQueries extends QueryPack {

  /** q492's oracle, shared verbatim with q506: the external-embedding
    * serve must produce the IDENTICAL ranking — one SQL, two plans.
    */
  private lazy val maxSimOracle: Option[String] = {
        def h60(e: String): String =
          s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
        val tvSql = "list_transform(range(1, 9), i -> CAST(" +
          h60("token || ':' || CAST(i AS VARCHAR) || ':ms'") +
          " % 21 - 10 AS INT))"
        val dotSql = "CAST(list_reduce([CAST(0 AS BIGINT)] || " +
          "list_transform(range(1, 9), i -> CAST(qv.v[i] * dv.v[i] " +
          "AS BIGINT)), (acc, x) -> acc + x) AS BIGINT)"
        Some(s"""WITH t AS (
          |  SELECT doc_id,
          |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |         ELSE string_split_regex(trim(lower(text)), '\\s+') END
          |      AS toks
          |  FROM documents),
          |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM t),
          |tv AS MATERIALIZED (SELECT token, $tvSql AS v
          |  FROM (SELECT DISTINCT token FROM tok)),
          |qry(qid, token) AS (VALUES (1, 'spark'), (1, 'join'),
          |  (2, 'fast'), (2, 'hash'), (2, 'table')),
          |qv AS (SELECT qry.qid, qry.token AS qtoken, tv.v
          |  FROM qry JOIN tv ON tv.token = qry.token),
          |cand AS (SELECT DISTINCT qry.qid, tok.doc_id
          |  FROM tok JOIN qry ON qry.token = tok.token),
          |best AS (
          |  SELECT cand.qid, cand.doc_id, qv.qtoken,
          |    max($dotSql) AS best
          |  FROM cand
          |  JOIN tok ON tok.doc_id = cand.doc_id
          |  JOIN tv dv ON dv.token = tok.token
          |  JOIN qv ON qv.qid = cand.qid
          |  GROUP BY 1, 2, 3),
          |sc AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS maxsim
          |  FROM best GROUP BY 1, 2)
          |SELECT CAST(qid AS BIGINT) AS qid, rn, doc_id, maxsim FROM (
          |  SELECT qid, doc_id, maxsim, CAST(row_number() OVER (
          |      PARTITION BY qid ORDER BY maxsim DESC, doc_id)
          |    AS BIGINT) AS rn
          |  FROM sc) WHERE rn <= 10
          |ORDER BY qid, rn""".stripMargin)
      }

  /** KN absolute discount: the classic 0.75, as ppm. */
  private val DPpm = 750000L

  /** DuckDB token CTE shared by the three oracles (case-folded,
    * empty-text guard — IndexQueries.toksCte's lower()ed form).
    */
  private val toksCte =
    """t AS (
      |  SELECT doc_id, source,
      |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
      |  FROM documents)""".stripMargin

  /** Successor pairs within each source — q295's deterministic pair
    * list, shared by the BLEU and chrF oracles.
    */
  private val pairsCte =
    """pr AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT doc_id AS id_a,
      |      lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
      |        AS id_b
      |    FROM documents)
      |  WHERE id_b IS NOT NULL)""".stripMargin

  /** The full KN-model replay — counts, continuation statistics,
    * kn_ppm algebra, the unrolled log kernel, and the per-doc rollup
    * `sc(doc_id, n_bigrams, kn_ppm_sum, kn_nats_sum)` — shared by the
    * q480 scoring gate and the q490 bucket composition so both run
    * the identical model.
    */
  private val knCtes: String =
    s"""$toksCte,
       |bg AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg,
       |         toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM t WHERE len(toks) >= 2)),
       |c AS (SELECT bg, min(w1) AS w1, min(w2) AS w2,
       |        CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY bg),
       |h AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |        CAST(count(*) AS BIGINT) AS n1p_head FROM c GROUP BY 1),
       |tl AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_tail
       |       FROM c GROUP BY 1),
       |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c),
       |m AS (
       |  SELECT c.bg,
       |    (c.c12 * 1000000 - $DPpm) // h.c1 +
       |      (($DPpm * h.n1p_head) // h.c1 *
       |        ((tl.n1p_tail * 1000000) // ty.n_types)) // 1000000
       |      AS kn_ppm
       |  FROM c JOIN h ON c.w1 = h.w1
       |         JOIN tl ON c.w2 = tl.w2
       |         CROSS JOIN ty),
       |lnsrc AS (SELECT bg AS key, CAST(1000000 AS BIGINT) AS num,
       |    greatest(kn_ppm, 1) AS den FROM m),
       |${FixedPoint.lnPpmSqlCtes("lnsrc")},
       |mm AS (SELECT m.bg, m.kn_ppm, l.ln_ppm AS nats
       |       FROM m JOIN lnppm l ON l.key = m.bg),
       |d AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cd
       |      FROM bg GROUP BY 1, 2),
       |sc AS (
       |  SELECT d.doc_id,
       |    CAST(sum(d.cd) AS BIGINT) AS n_bigrams,
       |    CAST(sum(d.cd * mm.kn_ppm) AS BIGINT) AS kn_ppm_sum,
       |    CAST(sum(d.cd * mm.nats) AS BIGINT) AS kn_nats_sum
       |  FROM d JOIN mm ON d.bg = mm.bg
       |  GROUP BY 1)""".stripMargin

  /** Word n-gram CTE body for one order: (doc_id, n, g) rows. */
  private def wordGramsSql(n: Int): String =
    if (n == 1) "SELECT doc_id, 1 AS n, unnest(toks) AS g FROM t"
    else {
      val gram = (0 until n).map(j => s"toks[i + $j]")
        .mkString(" || ' ' || ")
      s"""SELECT doc_id, $n AS n, $gram AS g
         |FROM (SELECT doc_id, toks,
         |        unnest(generate_series(1, len(toks) - ${n - 1})) AS i
         |      FROM t WHERE len(toks) >= $n)""".stripMargin
    }

  def defs: Map[String, Q] = Map(

    // Interpolated Kneser–Ney bigram LM: model trained on the corpus
    // (absolute discount D = 0.75, continuation counts N1+(w1 ·),
    // N1+(· w2), bigram-type total), every doc scored — n_bigrams,
    // Σ kn_ppm, and Σ −ln p in ppm-nats via the vocabulary-bounded
    // lnPpm fold. The oracle replays the count algebra and the
    // unrolled log kernel keyed by bigram string.
    "q480_kneser_ney" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val model = LanguageModel.knBigramModel(docs, "text", DPpm)
        LanguageModel.knSurprise(docs, model, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $knCtes
        |SELECT t.doc_id,
        |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.kn_ppm_sum, 0) AS kn_ppm_sum,
        |  coalesce(sc.kn_nats_sum, 0) AS kn_nats_sum
        |FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // Pair log-BLEU: q295's successor pairs scored candidate-vs-
    // reference — clipped precisions for n=1..4, +1 smoothing on
    // zero clips, brevity penalty, geometric mean over populated
    // orders; signed ppm-nats, every log through the lnPpm kernel
    // keyed by (pair, order).
    "q481_bleu_pairs" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        val docs = Tables.documents(s, dir)
        val pairs = docs
          .select(col("doc_id").as("id_a"),
            lead(col("doc_id"), 1).over(w).as("id_b"))
          .filter(col("id_b").isNotNull)
        Eval.bleuPairs(pairs, docs, "doc_id", "text")
          .orderBy(col("id_a"))
      },
      Some(s"""WITH RECURSIVE $toksCte,
        |$pairsCte,
        |cnt AS (
        |  SELECT doc_id AS id, n, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (${(1 to 4).map(wordGramsSql).mkString("\n UNION ALL\n")})
        |  GROUP BY 1, 2, 3),
        |tots AS (SELECT id, n, CAST(sum(c) AS BIGINT) AS tot
        |         FROM cnt GROUP BY 1, 2),
        |clips AS (
        |  SELECT pr.id_a, pr.id_b, a.n,
        |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
        |  FROM pr JOIN cnt a ON a.id = pr.id_a
        |  JOIN cnt b ON b.id = pr.id_b AND b.n = a.n AND b.g = a.g
        |  GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT pr.id_a, pr.id_b, o.n,
        |    coalesce(ta.tot, 0) AS tot_a,
        |    coalesce(tb.tot, 0) AS tot_b,
        |    coalesce(cl.clip, 0) AS clip
        |  FROM pr CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS n) o
        |  LEFT JOIN tots ta ON ta.id = pr.id_a AND ta.n = o.n
        |  LEFT JOIN tots tb ON tb.id = pr.id_b AND tb.n = o.n
        |  LEFT JOIN clips cl ON cl.id_a = pr.id_a AND cl.id_b = pr.id_b
        |    AND cl.n = o.n),
        |lnsrc AS (
        |  SELECT id_a || '|' || id_b || '|' || n AS key,
        |    tot_a AS num, greatest(clip, 1) AS den
        |  FROM grid WHERE tot_a >= 1),
        |${FixedPoint.lnPpmSqlCtes("lnsrc")},
        |g2 AS (
        |  SELECT grid.*, coalesce(l.ln_ppm, 0) AS nats
        |  FROM grid LEFT JOIN lnppm l
        |    ON l.key = grid.id_a || '|' || grid.id_b || '|' || grid.n),
        |agg AS (
        |  SELECT id_a, id_b,
        |    CAST(sum(CASE WHEN n = 1 THEN tot_a ELSE 0 END) AS BIGINT)
        |      AS len_c,
        |    CAST(sum(CASE WHEN n = 1 THEN tot_b ELSE 0 END) AS BIGINT)
        |      AS len_r,
        |    CAST(sum(CASE WHEN n = 1 THEN clip ELSE 0 END) AS BIGINT)
        |      AS clip1,
        |    CAST(sum(CASE WHEN n = 2 THEN clip ELSE 0 END) AS BIGINT)
        |      AS clip2,
        |    CAST(sum(CASE WHEN n = 3 THEN clip ELSE 0 END) AS BIGINT)
        |      AS clip3,
        |    CAST(sum(CASE WHEN n = 4 THEN clip ELSE 0 END) AS BIGINT)
        |      AS clip4,
        |    CAST(sum(CASE WHEN tot_a >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS k_orders,
        |    CAST(sum(CASE WHEN tot_a >= 1 THEN nats ELSE 0 END) AS BIGINT)
        |      AS nats_sum
        |  FROM g2 GROUP BY 1, 2)
        |SELECT id_a, id_b, len_c, len_r, clip1, clip2, clip3, clip4,
        |  k_orders,
        |  CASE WHEN len_c >= len_r THEN 0
        |       ELSE 1000000 - (len_r * 1000000) // greatest(len_c, 1)
        |  END AS bp_ppm,
        |  CASE WHEN len_c >= len_r THEN 0
        |       ELSE 1000000 - (len_r * 1000000) // greatest(len_c, 1)
        |  END - CASE WHEN k_orders >= 1 THEN nats_sum // k_orders
        |             ELSE 0 END AS log_bleu_ppm
        |FROM agg
        |ORDER BY id_a""".stripMargin)),

    // Pair chrF (β = 2): character 1..6-grams over whitespace-
    // stripped case-folded text; per-order F = 5m/(4r+c) in exact
    // ppm, averaged over populated orders. Subsetted to doc_id % 3
    // = 0 — six char-gram orders carry ~6× a word scan's mass, the
    // subset keeps the gate's bench cost in family while exercising
    // every code path.
    "q482_chrf_pairs" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir).filter(col("doc_id") % 3 === 0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        val pairs = docs
          .select(col("doc_id").as("id_a"),
            lead(col("doc_id"), 1).over(w).as("id_b"))
          .filter(col("id_b").isNotNull)
        Eval.chrFPairs(pairs, docs, "doc_id", "text")
          .orderBy(col("id_a"))
      },
      Some("""WITH d3 AS (
        |  SELECT doc_id, source,
        |    regexp_replace(lower(text), '\s+', '', 'g') AS s
        |  FROM documents WHERE doc_id % 3 = 0),
        |pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT doc_id AS id_a,
        |      lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
        |        AS id_b
        |    FROM d3)
        |  WHERE id_b IS NOT NULL),
        |cnt AS (
        |  SELECT doc_id AS id, n, g, CAST(count(*) AS BIGINT) AS c
        |  FROM (
        |    SELECT doc_id, o.n, substr(s, i, o.n) AS g
        |    FROM d3
        |    CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) o,
        |    LATERAL (SELECT unnest(
        |        generate_series(1, len(s) - o.n + 1)) AS i) u
        |    WHERE len(s) >= o.n)
        |  GROUP BY 1, 2, 3),
        |tots AS (SELECT id, n, CAST(sum(c) AS BIGINT) AS tot
        |         FROM cnt GROUP BY 1, 2),
        |clips AS (
        |  SELECT pr.id_a, pr.id_b, a.n,
        |    CAST(sum(least(a.c, b.c)) AS BIGINT) AS clip
        |  FROM pr JOIN cnt a ON a.id = pr.id_a
        |  JOIN cnt b ON b.id = pr.id_b AND b.n = a.n AND b.g = a.g
        |  GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT pr.id_a, pr.id_b, o.n,
        |    coalesce(ta.tot, 0) * 1 AS tot_a,
        |    coalesce(tb.tot, 0) * 4 AS tot_b4,
        |    coalesce(cl.clip, 0) AS clip
        |  FROM pr CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) o
        |  LEFT JOIN tots ta ON ta.id = pr.id_a AND ta.n = o.n
        |  LEFT JOIN tots tb ON tb.id = pr.id_b AND tb.n = o.n
        |  LEFT JOIN clips cl ON cl.id_a = pr.id_a AND cl.id_b = pr.id_b
        |    AND cl.n = o.n)
        |SELECT id_a, id_b,
        |  CAST(sum(CASE WHEN tot_b4 + tot_a > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS k_orders,
        |  -- divisor CAST matters: DuckDB sum(int) is HUGEINT, and a
        |  -- bare HUGEINT divisor promotes the // result to int128 —
        |  -- the one type a type-sensitive result hasher diverges on
        |  CASE WHEN sum(CASE WHEN tot_b4 + tot_a > 0 THEN 1 ELSE 0 END) >= 1
        |    THEN CAST(sum(CASE WHEN tot_b4 + tot_a > 0
        |           THEN (clip * 5000000) // (tot_b4 + tot_a)
        |           ELSE 0 END) AS BIGINT) //
        |         CAST(sum(CASE WHEN tot_b4 + tot_a > 0 THEN 1 ELSE 0 END)
        |           AS BIGINT)
        |    ELSE 0 END AS chrf_ppm
        |FROM grid
        |GROUP BY 1, 2
        |ORDER BY id_a""".stripMargin)),

    // Sentence-boundary chunk packing (RAG ingestion): greedy pack of
    // ordered sentences into ≤ 40-token chunks, sentences never split
    // (oversized sentence → its own over-budget chunk). The per-doc
    // greedy fold is sequential by nature — one aggregate fold in
    // Spark, a recursive CTE in the oracle. Periods injected every
    // 5 words (q330's trick) so the fixture actually has sentences.
    "q486_sentence_pack" -> Q(
      (s, dir) => {
        val punct = Tables.documents(s, dir).select(col("doc_id"),
          regexp_replace(coalesce(col("text"), lit("")),
            "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        graft.operators.Corpus.packSentenceChunks(punct, "doc_id", "t",
            budgetTokens = 40)
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(s"""WITH RECURSIVE pt AS (
        |  SELECT doc_id, regexp_replace(coalesce(text, ''),
        |    '((?:\\S+ ){4}\\S+) ', '\\1. ', 'g') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS sent_idx,
        |    unnest(l) AS raw
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(t, '${graft.operators.TextAnalysis.sentencePat}') AS l
        |        FROM pt)),
        |f AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(regexp_replace(raw, '\\s+', ' ', 'g')) AS sentence
        |  FROM m),
        |g AS (
        |  SELECT doc_id, sentence,
        |    CAST(len(string_split(sentence, ' ')) AS BIGINT) AS t,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY sent_idx)
        |      AS i
        |  FROM f WHERE length(sentence) > 0),
        |st AS (
        |  SELECT doc_id, i, sentence, t,
        |    CAST(0 AS BIGINT) AS cid, t AS used
        |  FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.doc_id, g.i, g.sentence, g.t,
        |    CASE WHEN st.used > 0 AND st.used + g.t > 40
        |         THEN st.cid + 1 ELSE st.cid END,
        |    CASE WHEN st.used > 0 AND st.used + g.t > 40
        |         THEN g.t ELSE st.used + g.t END
        |  FROM st JOIN g ON g.doc_id = st.doc_id AND g.i = st.i + 1)
        |SELECT doc_id, cid AS chunk_id,
        |  count(*) AS n_sentences,
        |  CAST(sum(t) AS BIGINT) AS chunk_tokens,
        |  string_agg(sentence, ' ' ORDER BY i) AS chunk_text
        |FROM st
        |GROUP BY 1, 2
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // KN-driven CCNet quality buckets — the trained LM put to its
    // published pipeline use (CCNet buckets by KenLM perplexity;
    // q346 approximates with Jelinek-Mercer, this runs the real
    // smoothing): per-doc nats-per-bigram, exact nearest-rank
    // tertiles via the O(log range) bisect, LOW surprise = head.
    "q490_kn_buckets" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val model = LanguageModel.knBigramModel(docs, "text", DPpm)
        // materialize before the bisect: each of its O(log range)
        // aggregate probes would otherwise retrain the model (q346's
        // lesson)
        val scored = LanguageModel.knSurprise(docs, model, "doc_id", "text")
          .filter(col("n_bigrams") > 0)
          .withColumn("avg_nats", expr("kn_nats_sum div n_bigrams"))
          .localCheckpoint(true)
        val th = graft.operators.Corpus.quantilesBisect(scored,
          "avg_nats", Seq(1.0 / 3, 2.0 / 3))
        scored
          .crossJoin(broadcast(th.select(col("q_33"), col("q_67"))))
          .withColumn("bucket",
            when(col("avg_nats") <= col("q_33"), "head")
              .when(col("avg_nats") <= col("q_67"), "middle")
              .otherwise("tail"))
          .select(col("doc_id"), col("avg_nats"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $knCtes,
        |s2 AS (SELECT doc_id, kn_nats_sum // n_bigrams AS avg_nats
        |       FROM sc WHERE n_bigrams > 0),
        |nn AS (SELECT count(*) AS n FROM s2),
        |rk AS (SELECT avg_nats, row_number() OVER (ORDER BY avg_nats)
        |         AS r
        |       FROM s2),
        |th AS (SELECT
        |    max(CASE WHEN r <= CAST(ceil(nn.n * (1.0/3)) AS BIGINT)
        |        THEN avg_nats END) AS q33,
        |    max(CASE WHEN r <= CAST(ceil(nn.n * (2.0/3)) AS BIGINT)
        |        THEN avg_nats END) AS q67
        |  FROM rk, nn)
        |SELECT doc_id, avg_nats,
        |  CASE WHEN avg_nats <= q33 THEN 'head'
        |       WHEN avg_nats <= q67 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM s2, th ORDER BY doc_id""".stripMargin)),

    // MODIFIED Kneser-Ney (Chen & Goodman 1999 §4.1.6 — the KenLM
    // shipping variant): three count-class discounts estimated from
    // the corpus's own count-of-counts (n1..n4 → Y → D1/D2/D3+), the
    // back-off weight redistributing exactly the discounted mass.
    // Same per-doc scoring surface as q480; the two gates side by
    // side pin fixed-D vs estimated-D numerically.
    "q491_kn_modified" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val model = LanguageModel.knBigramModelModified(docs, "text")
        LanguageModel.knSurprise(docs, model, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $toksCte,
        |bg AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg,
        |         toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2)),
        |c AS (SELECT bg, min(w1) AS w1, min(w2) AS w2,
        |        CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY bg),
        |h AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |        CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS nh1,
        |        CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS nh2,
        |        CAST(sum(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS nh3
        |       FROM c GROUP BY 1),
        |tl AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_tail
        |       FROM c GROUP BY 1),
        |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM c),
        |dsc AS (SELECT n_types, n1, n2, n3, n4, y_ppm,
        |    greatest(0, least(1000000,
        |      1000000 - (2 * y_ppm * n2) // greatest(n1, 1))) AS d1_ppm,
        |    greatest(0, least(2000000,
        |      2000000 - (3 * y_ppm * n3) // greatest(n2, 1))) AS d2_ppm,
        |    greatest(0, least(3000000,
        |      3000000 - (4 * y_ppm * n4) // greatest(n3, 1))) AS d3_ppm
        |  FROM (SELECT *,
        |      (n1 * 1000000) // greatest(n1 + 2 * n2, 1) AS y_ppm
        |    FROM ty)),
        |m AS (
        |  SELECT c.bg,
        |    greatest(c.c12 * 1000000 -
        |      (CASE WHEN c.c12 = 1 THEN d1_ppm
        |            WHEN c.c12 = 2 THEN d2_ppm
        |            ELSE d3_ppm END), 0) // h.c1 +
        |      (((d1_ppm * h.nh1 + d2_ppm * h.nh2 + d3_ppm * h.nh3)
        |          // h.c1) *
        |        ((tl.n1p_tail * 1000000) // dsc.n_types)) // 1000000
        |      AS kn_ppm
        |  FROM c JOIN h ON c.w1 = h.w1
        |         JOIN tl ON c.w2 = tl.w2
        |         CROSS JOIN dsc),
        |lnsrc AS (SELECT bg AS key, CAST(1000000 AS BIGINT) AS num,
        |    greatest(kn_ppm, 1) AS den FROM m),
        |${FixedPoint.lnPpmSqlCtes("lnsrc")},
        |mm AS (SELECT m.bg, m.kn_ppm, l.ln_ppm AS nats
        |       FROM m JOIN lnppm l ON l.key = m.bg),
        |d AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS cd
        |      FROM bg GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(sum(d.cd) AS BIGINT) AS n_bigrams,
        |    CAST(sum(d.cd * mm.kn_ppm) AS BIGINT) AS kn_ppm_sum,
        |    CAST(sum(d.cd * mm.nats) AS BIGINT) AS kn_nats_sum
        |  FROM d JOIN mm ON d.bg = mm.bg
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.kn_ppm_sum, 0) AS kn_ppm_sum,
        |  coalesce(sc.kn_nats_sum, 0) AS kn_nats_sum
        |FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // ColBERT-style late-interaction MaxSim re-ranking (Khattab &
    // Zaharia 2020): per-token hash embeddings (pure md5 functions of
    // the token string — both engines derive identical vectors),
    // candidates gated by exact token postings, score = Σ_q max_d
    // ⟨v_q, v_d⟩ in exact integers. The retrieval tier between dense
    // one-vector ANN and cross-encoders.
    "q492_maxsim_rerank" -> Q(
      (s, dir) => {
        import s.implicits._
        val queries = Seq((1L, "spark"), (1L, "join"),
          (2L, "fast"), (2L, "hash"), (2L, "table"))
          .toDF("qid", "token")
        graft.operators.Search.maxSimTopK(
            Tables.documents(s, dir), "doc_id", "text",
            queries, dim = 8, salt = ":ms", k = 10)
          .orderBy(col("qid"), col("rn"))
      },
      maxSimOracle),

    // Max-P passage retrieval (Dai & Callan 2019): long docs score by
    // their BEST passage, not their pooled text — chunk (16 tokens,
    // overlap 4) → passage-grain integer-ppm BM25 → per-doc max-p
    // rollup with the winning passage pinned. The long-document
    // retrieval pattern; passage scores never sort globally (the
    // rollup is a doc-keyed window, top-20 via the final rank).
    "q493_maxp_passages" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        // passage id = STRUCT(doc, chunk_ix), never an arithmetic
        // pack: doc_id*1000+chunk_ix aliases once a document reaches
        // 1000 chunks and can overflow at production doc_ids — the
        // struct key flows through termFrequencies/bm25PpmScores
        // unchanged (both key on the opaque id column)
        val ch = graft.operators.Corpus.chunk(docs, "text",
            chunkTokens = 16, overlap = 4)
          .select(struct(col("doc_id").as("doc"), col("chunk_ix"))
            .as("pid"), col("chunk_text"))
        val tf = graft.operators.Search.termFrequencies(
          ch, "pid", "chunk_text")
        val ps = graft.operators.Search.bm25PpmScores(
            tf, Seq("spark", "join"))
          .select(col("doc_id.doc").as("doc"),
            col("doc_id.chunk_ix").as("chunk_ix"), col("score_ppm"))
        val best = ps
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("doc"))
              .orderBy(col("score_ppm").desc, col("chunk_ix"))))
          .withColumn("n_hit_passages",
            count(lit(1)).over(Window.partitionBy(col("doc"))))
          .filter(col("__rn") === 1)
          .select(col("doc").as("doc_id"),
            col("chunk_ix").as("best_chunk_ix"),
            col("score_ppm").as("max_p_ppm"), col("n_hit_passages"))
        best
          .withColumn("rank", row_number().over(
            Window.orderBy(col("max_p_ppm").desc, col("doc_id")))
            .cast("long"))
          .filter(col("rank") <= 20)
          .orderBy(col("rank"))
      },
      Some(s"""WITH RECURSIVE t0 AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\\s+') END AS toks
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id AS doc, s // 12 AS chunk_ix,
        |    array_to_string(toks[s + 1 : s + 16], ' ') AS ptext
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks), 12)) AS s
        |        FROM t0 WHERE len(toks) > 0)),
        |tf AS (
        |  SELECT token, doc, chunk_ix, count(*) AS tf FROM (
        |    SELECT doc, chunk_ix,
        |      unnest(string_split_regex(trim(ptext), '\\s+')) AS token
        |    FROM ch WHERE trim(ptext) <> '')
        |  GROUP BY 1, 2, 3),
        |dl AS (SELECT doc, chunk_ix, CAST(sum(tf) AS BIGINT) AS dl
        |  FROM tf GROUP BY 1, 2),
        |corpus AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS len_total FROM dl),
        |m AS (SELECT token, doc, chunk_ix, tf FROM tf
        |  WHERE token IN ('spark', 'join')),
        |dfreq AS (SELECT token, count(*) AS df FROM m GROUP BY 1),
        |src AS (SELECT token AS key, n_docs * 2 + 2 AS num,
        |    df * 2 + 1 AS den FROM dfreq, corpus),
        |${FixedPoint.lnPpmSqlCtes("src")},
        |scored AS (
        |  SELECT m.doc, m.chunk_ix,
        |    CAST(sum((l.ln_ppm *
        |        ((22000000 * c.len_total * m.tf) //
        |         (c.len_total * m.tf * 10 + c.len_total * 3 +
        |          d.dl * c.n_docs * 9))) // 1000000) AS BIGINT)
        |      AS score_ppm
        |  FROM m JOIN lnppm l ON m.token = l.key
        |    JOIN dl d ON m.doc = d.doc AND m.chunk_ix = d.chunk_ix,
        |    corpus c
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT doc AS doc_id, chunk_ix AS best_chunk_ix,
        |    score_ppm AS max_p_ppm,
        |    CAST(count(*) OVER (PARTITION BY doc) AS BIGINT)
        |      AS n_hit_passages,
        |    row_number() OVER (PARTITION BY doc
        |      ORDER BY score_ppm DESC, chunk_ix) AS rn
        |  FROM scored)
        |SELECT doc_id, best_chunk_ix, max_p_ppm, n_hit_passages,
        |  CAST(row_number() OVER (ORDER BY max_p_ppm DESC, doc_id)
        |    AS BIGINT) AS rank
        |FROM best WHERE rn = 1
        |QUALIFY rank <= 20
        |ORDER BY rank""".stripMargin)),

    // Block-side packing manifest — the OTHER half of q257's
    // packBlocks: per 64-token training block, how many document
    // segments land in it, how many tokens they cover, and the sorted
    // in-block boundary offsets — exactly the metadata a loader needs
    // to build the block's document-boundary attention mask. Each doc
    // explodes over only the blocks it touches; block rollup is one
    // keyed agg.
    "q496_block_manifest" -> Q(
      (s, dir) => {
        val B = 64
        val pb = graft.operators.Corpus.packBlocks(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", blockSize = B)
        pb
          .withColumn("blk", explode(sequence(col("start_block"),
            col("end_block"))))
          .withColumn("off",
            greatest(col("global_start") - col("blk") * B, lit(0L)))
          .withColumn("eoff", least(col("global_start") +
            greatest(col("n_tokens"), lit(1L)) - 1L - col("blk") * B,
            lit(B - 1L)))
          .groupBy(col("blk").as("block_id"))
          .agg(count(lit(1)).as("n_segs"),
            sum(col("eoff") - col("off") + 1L).as("used_tokens"),
            array_join(transform(sort_array(collect_list(col("off"))),
              _.cast("string")), ",").as("seg_offsets"))
          .orderBy(col("block_id"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\\s+')) END
        |      AS BIGINT) AS n
        |  FROM documents),
        |ps AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n + 1) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - (n + 1) AS gs
        |  FROM t),
        |seg AS (
        |  SELECT blk,
        |    greatest(gs - blk * 64, 0) AS off,
        |    least(gs + greatest(n, 1) - 1 - blk * 64, 63) AS eoff
        |  FROM (SELECT doc_id, n, gs,
        |          unnest(generate_series(gs // 64,
        |            (gs + greatest(n, 1) - 1) // 64)) AS blk
        |        FROM ps))
        |SELECT blk AS block_id, count(*) AS n_segs,
        |  CAST(sum(eoff - off + 1) AS BIGINT) AS used_tokens,
        |  string_agg(CAST(off AS VARCHAR), ',' ORDER BY off)
        |    AS seg_offsets
        |FROM seg
        |GROUP BY 1
        |ORDER BY block_id""".stripMargin)),

    // GPT-2-style regex pretokenization — the step real BPE
    // tokenizers run before merges: contractions split off, the
    // space travels WITH the following word (so "the" and " the" are
    // distinct symbols), digit and punctuation runs separate. Gate =
    // the top-50 pretoken vocabulary signature with class labels,
    // plus total counts — leftmost-first alternation agreed by Java
    // regex and RE2.
    "q497_pretokenize" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pt = Tables.documents(s, dir)
          .select(explode(graft.operators.Bpe.pretokenize(col("text")))
            .as("pretoken"))
          .groupBy(col("pretoken")).agg(count(lit(1)).as("n"))
          .withColumn("class",
            when(col("pretoken").rlike("^'"), "contraction")
              .when(col("pretoken").rlike("^ ?[a-z]+$"), "word")
              .when(col("pretoken").rlike("^ ?[0-9]+$"), "number")
              .when(col("pretoken").rlike("^\\s+$"), "space")
              .otherwise("punct"))
        pt.withColumn("rank", row_number().over(
            Window.orderBy(col("n").desc, col("pretoken"))).cast("long"))
          .filter(col("rank") <= 50)
          .select(col("rank"), col("pretoken"), col("n"), col("class"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH pt AS (
        |  SELECT unnest(regexp_extract_all(lower(coalesce(text, '')),
        |    '${graft.operators.Bpe.pretokenizePat.replace("'", "''")}'))
        |    AS pretoken
        |  FROM documents),
        |g AS (SELECT pretoken, count(*) AS n FROM pt GROUP BY 1),
        |c AS (SELECT pretoken, n,
        |    CASE WHEN regexp_matches(pretoken, '^''')
        |           THEN 'contraction'
        |         WHEN regexp_matches(pretoken, '^ ?[a-z]+$$')
        |           THEN 'word'
        |         WHEN regexp_matches(pretoken, '^ ?[0-9]+$$')
        |           THEN 'number'
        |         WHEN regexp_matches(pretoken, '^\\s+$$')
        |           THEN 'space'
        |         ELSE 'punct' END AS class
        |  FROM g)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, pretoken)
        |    AS BIGINT) AS rank,
        |  pretoken, n, class
        |FROM c
        |ORDER BY n DESC, pretoken
        |LIMIT 50""".stripMargin)),

    // Dense-retrieval → MaxSim two-stage E2E (the modern retrieval
    // stack in one gate): doc embedding = occurrence-sum of the q492
    // token vectors (sum pooling — exact integers), dense-dot top-40
    // shortlist per query, ColBERT MaxSim re-rank of the shortlist to
    // a final top-5. The brute dense scan is the gate-scale stand-in
    // for the IVF/graph serve (q57/q473/q452 gate those); the
    // re-ranker is maxSimRerank over the EXPLICIT candidate list.
    "q499_dense_maxsim_e2e" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val queries = Seq((1L, "spark"), (1L, "join"),
          (2L, "fast"), (2L, "hash"), (2L, "table"))
          .toDF("qid", "token")
        val docs = Tables.documents(s, dir)
        def pool(df: org.apache.spark.sql.DataFrame, key: String) = df
          .withColumn("__tv",
            graft.operators.Search.hashTokenVector(col("token"), 8, ":ms"))
          .groupBy(col(key))
          .agg(array((0 until 8).map(i =>
            sum(element_at(col("__tv"), i + 1))): _*).as("v"))
        val dv = pool(docs.select(col("doc_id"), explode(
          graft.operators.TextAnalysis.tokens(lower(col("text"))))
          .as("token")), "doc_id")
        val qvec = pool(queries.select(col("qid"),
          lower(col("token")).as("token")), "qid")
        val dot = aggregate(zip_with(col("qv"), col("v"),
          (a, b) => a * b), lit(0L), _ + _)
        val short = dv.crossJoin(broadcast(
            qvec.select(col("qid"), col("v").as("qv"))))
          .withColumn("__d", dot)
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("__d").desc, col("doc_id"))))
          .filter(col("__rn") <= 40)
          .select(col("qid"), col("doc_id"))
        graft.operators.Search.maxSimRerank(docs, "doc_id", "text",
            queries, short, dim = 8, salt = ":ms", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      {
        def h60(e: String): String =
          s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
        val tvSql = "list_transform(range(1, 9), i -> CAST(" +
          h60("token || ':' || CAST(i AS VARCHAR) || ':ms'") +
          " % 21 - 10 AS INT))"
        val sums = (1 to 8).map(i =>
          s"CAST(sum(tv.v[$i]) AS BIGINT)").mkString("[", ", ", "]")
        val foldDot = "CAST(list_reduce([CAST(0 AS BIGINT)] || " +
          "list_transform(range(1, 9), i -> qv.v[i] * dv.v[i]), " +
          "(acc, x) -> acc + x) AS BIGINT)"
        val msDot = "CAST(list_reduce([CAST(0 AS BIGINT)] || " +
          "list_transform(range(1, 9), i -> CAST(qt.v[i] * dt.v[i] " +
          "AS BIGINT)), (acc, x) -> acc + x) AS BIGINT)"
        Some(s"""WITH t AS (
          |  SELECT doc_id,
          |    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
          |         ELSE string_split_regex(trim(lower(text)), '\\s+') END
          |      AS toks
          |  FROM documents),
          |tokall AS (SELECT doc_id, unnest(toks) AS token FROM t),
          |tok AS (SELECT DISTINCT doc_id, token FROM tokall),
          |tv AS MATERIALIZED (SELECT token, $tvSql AS v
          |  FROM (SELECT DISTINCT token FROM tokall)),
          |qry(qid, token) AS (VALUES (1, 'spark'), (1, 'join'),
          |  (2, 'fast'), (2, 'hash'), (2, 'table')),
          |dv AS MATERIALIZED (
          |  SELECT tokall.doc_id, $sums AS v
          |  FROM tokall JOIN tv ON tv.token = tokall.token
          |  GROUP BY 1),
          |qv AS (
          |  SELECT qry.qid, $sums AS v
          |  FROM qry JOIN tv ON tv.token = qry.token
          |  GROUP BY 1),
          |short AS MATERIALIZED (SELECT qid, doc_id FROM (
          |  SELECT qv.qid, dv.doc_id, row_number() OVER (
          |      PARTITION BY qv.qid
          |      ORDER BY $foldDot DESC, dv.doc_id) AS rn
          |  FROM dv CROSS JOIN qv) WHERE rn <= 40),
          |qtv AS (SELECT qry.qid, qry.token AS qtoken, tv.v
          |  FROM qry JOIN tv ON tv.token = qry.token),
          |best AS (
          |  SELECT s.qid, s.doc_id, qt.qtoken, max($msDot) AS best
          |  FROM short s
          |  JOIN tok ON tok.doc_id = s.doc_id
          |  JOIN tv dt ON dt.token = tok.token
          |  JOIN qtv qt ON qt.qid = s.qid
          |  GROUP BY 1, 2, 3),
          |sc AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS maxsim
          |  FROM best GROUP BY 1, 2)
          |SELECT CAST(qid AS BIGINT) AS qid, rn, doc_id, maxsim FROM (
          |  SELECT qid, doc_id, maxsim, CAST(row_number() OVER (
          |      PARTITION BY qid ORDER BY maxsim DESC, doc_id)
          |    AS BIGINT) AS rn
          |  FROM sc) WHERE rn <= 5
          |ORDER BY qid, rn""".stripMargin)
      }),

    // RAG corpus-prep flagship (the round-12 stages composed, q342's
    // discipline): (1) the trained KN LM scores every doc and the
    // HEAD tertile survives (q490's gate), (2) survivors chunk at
    // sentence boundaries to a 40-token budget (q486), (3) the
    // per-source ingest card rolls up — docs kept, chunks, packed
    // tokens, over-budget chunks (unsplittable long sentences). One
    // mis-step in any stage fails the hash; the oracle replays all
    // three stages in sequence.
    "q500_rag_prep_e2e" -> Q(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val model = LanguageModel.knBigramModel(
          docs.select(col("doc_id"), col("text")), "text", DPpm)
        val scored = LanguageModel.knSurprise(
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
          .select(col("doc_id"), col("source"),
            regexp_replace(col("text"),
              "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
          .localCheckpoint(true)
        val chunks = graft.operators.Corpus.packSentenceChunks(
          kept.select(col("doc_id"), col("t")), "doc_id", "t",
          budgetTokens = 40)
        chunks
          .join(kept.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count_distinct(col("doc_id")).as("n_docs_kept"),
            count(lit(1)).as("n_chunks"),
            sum(col("chunk_tokens")).as("tokens_packed"),
            sum(when(col("chunk_tokens") > 40, 1L).otherwise(0L))
              .as("oversize_chunks"))
          .orderBy(col("source"))
      },
      Some(s"""WITH RECURSIVE $knCtes,
        |s2 AS (SELECT doc_id, kn_nats_sum // n_bigrams AS avg_nats
        |       FROM sc WHERE n_bigrams > 0),
        |nn AS (SELECT count(*) AS n FROM s2),
        |rk AS (SELECT avg_nats, row_number() OVER (ORDER BY avg_nats)
        |         AS r
        |       FROM s2),
        |th AS (SELECT
        |    max(CASE WHEN r <= CAST(ceil(nn.n * (1.0/3)) AS BIGINT)
        |        THEN avg_nats END) AS q33
        |  FROM rk, nn),
        |kept AS (
        |  SELECT d.doc_id, d.source,
        |    regexp_replace(d.text, '((?:\\S+ ){4}\\S+) ', '\\1. ', 'g')
        |      AS kt
        |  FROM documents d JOIN s2 ON s2.doc_id = d.doc_id, th
        |  WHERE s2.avg_nats <= th.q33),
        |m2 AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS sent_idx,
        |    unnest(l) AS raw
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(kt,
        |            '${graft.operators.TextAnalysis.sentencePat}') AS l
        |        FROM kept)),
        |f2 AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(regexp_replace(raw, '\\s+', ' ', 'g')) AS sentence
        |  FROM m2),
        |g2 AS (
        |  SELECT doc_id, sentence,
        |    CAST(len(string_split(sentence, ' ')) AS BIGINT) AS tk,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY sent_idx)
        |      AS i
        |  FROM f2 WHERE length(sentence) > 0),
        |st2 AS (
        |  SELECT doc_id, i, tk,
        |    CAST(0 AS BIGINT) AS cid, tk AS used
        |  FROM g2 WHERE i = 1
        |  UNION ALL
        |  SELECT g2.doc_id, g2.i, g2.tk,
        |    CASE WHEN st2.used > 0 AND st2.used + g2.tk > 40
        |         THEN st2.cid + 1 ELSE st2.cid END,
        |    CASE WHEN st2.used > 0 AND st2.used + g2.tk > 40
        |         THEN g2.tk ELSE st2.used + g2.tk END
        |  FROM st2 JOIN g2 ON g2.doc_id = st2.doc_id
        |    AND g2.i = st2.i + 1),
        |ck AS (
        |  SELECT doc_id, cid, CAST(sum(tk) AS BIGINT) AS chunk_tokens
        |  FROM st2 GROUP BY 1, 2)
        |SELECT kept.source,
        |  CAST(count(DISTINCT ck.doc_id) AS BIGINT) AS n_docs_kept,
        |  count(*) AS n_chunks,
        |  CAST(sum(ck.chunk_tokens) AS BIGINT) AS tokens_packed,
        |  CAST(sum(CASE WHEN ck.chunk_tokens > 40 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS oversize_chunks
        |FROM ck JOIN kept ON kept.doc_id = ck.doc_id
        |GROUP BY 1
        |ORDER BY kept.source""".stripMargin)),

    // EXTERNAL-embeddings MaxSim serve (r13 ask 7): the token-vector
    // table arrives as a parquet artifact — the (token, tv array<int>)
    // schema a trained encoder exports — written first, then READ BACK
    // and joined into the SAME posting-gated MaxSim core q492 runs.
    // The oracle is q492's, verbatim: identical ranking from the
    // external path proves the "swap learned embeddings in with zero
    // plan change" scaladoc claim as a hash gate (plan-shape counts in
    // PLANS.md — the only delta is a parquet scan where the hash
    // projection stood).
    "q506_maxsim_external_embeddings" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.operators.{Search, TextAnalysis}
        val queries = Seq((1L, "spark"), (1L, "join"),
          (2L, "fast"), (2L, "hash"), (2L, "table"))
          .toDF("qid", "token")
        val docs = Tables.documents(s, dir)
        Fixtures.scratchDir("graft_q506_") { tmp =>
          val vecPath = tmp.resolve("token_vecs").toString
          // the "learned" table: deterministic hash embeddings so the
          // gate hash-gates — a real deployment swaps this write for the
          // encoder's export job, nothing downstream changes
          docs.select(explode(
              TextAnalysis.tokens(lower(col("text")))).as("token"))
            .distinct()
            .withColumn("tv", Search.hashTokenVector(col("token"), 8, ":ms"))
            .write.mode("overwrite").parquet(vecPath)
          val external = s.read.parquet(vecPath)
          Search.maxSimTopKExternal(docs, "doc_id", "text",
              queries, external, k = 10)
            .orderBy(col("qid"), col("rn"))
        }
      },
      maxSimOracle))
}
