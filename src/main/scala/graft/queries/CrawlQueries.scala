package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Urls
import graft.operators.{Corpus, Dedup, Frontier, Graph, HtmlExtract, Sketch, TextAnalysis, Warc}

/** Crawl front-end gates: HTML → clean text → scored blocks →
  * boilerplate-stripped content → (composed) quality filter + exact
  * dedup. The corpus has no organic HTML, so BOTH engines synthesize
  * an identical page per document from (doc_id, text) — scripts,
  * styles, comments, CDATA, entities, a link-dense nav, tag-cloud
  * list items, and a link-heavy footer — and the gates prove the
  * extraction algebra (Java regex vs RE2, replace chains, block
  * segmentation, link-density scoring) end to end, the same pattern
  * q82 uses for PII scrubbing.
  */
object CrawlQueries extends QueryPack {
  import HtmlExtract._

  // ---- shared synthetic page (Spark formulation) --------------------
  // NOT Spread: the extraction stages here are LAZY side branches off
  // the driver-bound crawl compositions — spreading them was measured
  // (r15) to inflate task time 10-20x (32 concurrent regex tasks
  // allocation-thrash a local JVM) without moving wall clock, because
  // the extraction was never the critical path.
  private[queries] def htmlDf(s: SparkSession, dir: String): DataFrame =
    htmlFrom(Tables.documents(s, dir))

  /** Batch-shaped synthesis so the streaming gate (q328) can apply the
    * identical generator per micro-batch.
    */
  private[graft] def htmlFrom(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val did = col("doc_id").cast("string")
    val p1 = substring(t, 1, 150)
    val p2 = substring(t, 151, 1000000)
    docs.select(col("doc_id"), concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), did, lit("</title>"),
      lit("<script type=\"text/javascript\">var n = 1 < 2 && 3 > 2; // tracker</script>"),
      lit("<style>.nav { color: #333; } .f > a { x: 1; }</style>"),
      lit("<!-- build "), (col("doc_id") % 97).cast("string"),
      lit(" <secret> --></head><body>"),
      lit("<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/idx\">Index</a> | <a href=\"/doc/"),
      did, lit("\">Doc "), did, lit("</a></div>"),
      lit("<h1>Doc "), did, lit(" &amp; notes</h1>"),
      lit("<p>"), p1, lit("</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<ul><li><a href=\"/t/1\">tag one</a></li><li><a href=\"/t/2\">tag two</a></li></ul>"))
        .otherwise(lit("")),
      when(length(p2) > 0,
        concat(lit("<p>"), p2, lit(" has <b>bold</b> &nbsp;ending</p>")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("<![CDATA[ raw <junk> & noise ]]><p>5 &lt; 6 is true for A&amp;B &quot;quoted&quot;</p>"))
        .otherwise(lit("")),
      lit("<div class=\"footer\">(c) 2026 Example <a href=\"/tos\">Terms</a> <a href=\"/priv\">Privacy</a></div>"),
      lit("</body></html>")).as("html"))
  }

  // ---- shared synthetic page (DuckDB formulation) -------------------
  // NOTE: continuation lines end with || (never start with it) — the
  // query templates this CTE is interpolated into run stripMargin,
  // which would eat the first bar of a leading '||'.
  private[queries] val htmlCte: String =
    """html AS (SELECT doc_id,
      |  '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
      |  '<script type="text/javascript">var n = 1 < 2 && 3 > 2; // tracker</script>' ||
      |  '<style>.nav { color: #333; } .f > a { x: 1; }</style>' ||
      |  '<!-- build ' || CAST(doc_id % 97 AS VARCHAR) || ' <secret> --></head><body>' ||
      |  '<div class="nav"><a href="/">Home</a> | <a href="/idx">Index</a> | <a href="/doc/' ||
      |  CAST(doc_id AS VARCHAR) || '">Doc ' || CAST(doc_id AS VARCHAR) || '</a></div>' ||
      |  '<h1>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; notes</h1>' ||
      |  '<p>' || substr(coalesce(text, ''), 1, 150) || '</p>' ||
      |  CASE WHEN doc_id % 3 = 0 THEN '<ul><li><a href="/t/1">tag one</a></li><li><a href="/t/2">tag two</a></li></ul>' ELSE '' END ||
      |  CASE WHEN length(substr(coalesce(text, ''), 151)) > 0
      |       THEN '<p>' || substr(coalesce(text, ''), 151) || ' has <b>bold</b> &nbsp;ending</p>' ELSE '' END ||
      |  CASE WHEN doc_id % 5 = 0 THEN '<![CDATA[ raw <junk> & noise ]]><p>5 &lt; 6 is true for A&amp;B &quot;quoted&quot;</p>' ELSE '' END ||
      |  '<div class="footer">(c) 2026 Example <a href="/tos">Terms</a> <a href="/priv">Privacy</a></div>' ||
      |  '</body></html>' AS html
      |FROM documents)""".stripMargin

  // ---- DuckDB mirrors of the HtmlExtract algebra --------------------
  private[queries] def dropSql(x: String): String =
    Seq(cdataPat, commentPat, scriptPat, stylePat)
      .foldLeft(x)((acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')")

  private[queries] def entSql(x: String): String =
    entities.foldLeft(x) { case (acc, (k, v)) =>
      s"replace($acc, '$k', '${v.replace("'", "''")}')"
    }

  private[queries] def inlineSql(x: String): String = {
    val stripped = s"regexp_replace($x, '$anyTagPat', ' ', 'g')"
    s"trim(regexp_replace(${entSql(stripped)}, '\\s+', ' ', 'g'))"
  }

  /** seg CTE: non-content dropped, block tags → newline. */
  private[queries] val segCte: String =
    s"seg AS (SELECT doc_id, regexp_replace(${dropSql("html")}, '$blockTagPat', chr(10), 'g') AS c FROM html)"

  /** blk CTE: positional explode + per-block clean text and scores. */
  private[queries] val blkCte: String =
    s"""b AS (SELECT doc_id, generate_subscripts(l, 1) - 1 AS block_id, unnest(l) AS raw
       |  FROM (SELECT doc_id, string_split_regex(c, '\\n') AS l FROM seg)),
       |cl AS (SELECT doc_id, CAST(block_id AS BIGINT) AS block_id,
       |    ${inlineSql("raw")} AS text,
       |    ${inlineSql(s"coalesce(array_to_string(regexp_extract_all(raw, '$anchorPat', 1), ' '), '')")} AS lt
       |  FROM b),
       |blk AS (SELECT doc_id, block_id, text,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |    CAST(length(lt) AS BIGINT) AS n_link_chars,
       |    CAST(length(lt) AS BIGINT) * 1000000 // CAST(length(text) AS BIGINT) AS link_ppm
       |  FROM cl WHERE length(text) > 0)""".stripMargin

  /** cnt CTE: per-document boilerplate-stripped content (q320's body,
    * reused by the q321 composition).
    */
  private[queries] val cntCte: String =
    s"""cnt AS (SELECT doc_id, count(*) AS n_blocks,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN keep THEN text END, chr(10) ORDER BY block_id), '') AS content
       |  FROM (SELECT *, link_ppm <= 330000 AND n_words >= 5 AS keep FROM blk)
       |  GROUP BY doc_id)""".stripMargin

  // ---- adversarial torture page (q425) ------------------------------
  // VERDICT r7 item 4: the q318–q321 oracles run over well-formed
  // synthesized HTML; this fixture is deliberately hostile — every
  // piece is a shape that breaks naive extractors. Both engines build
  // the identical byte string from doc_id, so the gate hash-matches
  // the skip/keep decision AND the reassembled content over:
  //  (1) uppercase tags, (2) double-encoded entities (&amp;lt; must
  //  decode to literal &lt; — the amp-LAST order), (3) style strip,
  //  (4) a script whose body contains a fake </p> and < comparisons,
  //  (5) a comment hiding a block AND a script, (6) CDATA hiding
  //  markup, (7) a 12-link nav (link-density skip), (8) an unclosed
  //  <P>, (9) mixed-quote attributes, (10) an attribute value
  //  containing '>', (11) nested tables, (12) <br>/<BR/> soup,
  //  (13) a tag-cloud link block (skip), (14) an unknown entity
  //  surviving literally, (15) &nbsp; decode, (16) an unclosed <div>
  //  running to EOF whose text sits EXACTLY at the minWords=5 keep
  //  boundary, (17) prose "1 < 2" surviving tag stripping.
  private[queries] val tortureNav: String = "<nav>" +
    (0 until 12).map(i => s"""<a href="/n$i">nav item $i</a>""")
      .mkString(" ") + "</nav>"

  private[queries] def tortureFrom(docs: DataFrame): DataFrame = {
    val did = col("doc_id").cast("string")
    docs.select(col("doc_id"), concat(
      lit("<HTML><HEAD><TITLE>T"), did, lit(" &amp;lt;x&amp;gt;</TITLE>"),
      lit("<style media=screen>p{color:red} .x{display:none}</style>"),
      lit("<script>var s = \"</p>\"; if (1<2) track();</script>"),
      lit("</head><body>"),
      lit("<!-- <p>ghost "), did, lit("</p><script>evil()</script> -->"),
      lit("<![CDATA[<p>cdata "), did, lit("</p>]]>"),
      lit(tortureNav),
      lit("<P CLASS='m' title=\"a>b\">Intro "), did,
      lit(" says 1 < 2 plainly and keeps seven words"),
      lit("<table><tr><td>outer "), (col("doc_id") % 5).cast("string"),
      lit(" <table><tr><td>inner nested cell keeps these six words" +
        "</td></tr></table></td></tr></table>"),
      lit("alpha<br>beta<BR/>gamma delta epsilon zeta eta theta"),
      lit("<p><a href=\"/t/"), did, lit("\">t1</a> <a href='u'>t2</a></p>"),
      lit("<p>&amp; &bogus; A &nbsp;B with words enough to pass the filter today</p>"),
      when(col("doc_id") % 3 === 0,
        lit("<p>extra residue paragraph with sufficient word count to keep</p>"))
        .otherwise(lit("")),
      lit("<div>closing words run out here</body></html>")).as("html"))
  }

  private[queries] val tortureCte: String =
    s"""html AS (SELECT doc_id,
      |  '<HTML><HEAD><TITLE>T' || CAST(doc_id AS VARCHAR) || ' &amp;lt;x&amp;gt;</TITLE>' ||
      |  '<style media=screen>p{color:red} .x{display:none}</style>' ||
      |  '<script>var s = "</p>"; if (1<2) track();</script>' ||
      |  '</head><body>' ||
      |  '<!-- <p>ghost ' || CAST(doc_id AS VARCHAR) || '</p><script>evil()</script> -->' ||
      |  '<![CDATA[<p>cdata ' || CAST(doc_id AS VARCHAR) || '</p>]]>' ||
      |  '$tortureNav' ||
      |  '<P CLASS=''m'' title="a>b">Intro ' || CAST(doc_id AS VARCHAR) ||
      |  ' says 1 < 2 plainly and keeps seven words' ||
      |  '<table><tr><td>outer ' || CAST(doc_id % 5 AS VARCHAR) ||
      |  ' <table><tr><td>inner nested cell keeps these six words</td></tr></table></td></tr></table>' ||
      |  'alpha<br>beta<BR/>gamma delta epsilon zeta eta theta' ||
      |  '<p><a href="/t/' || CAST(doc_id AS VARCHAR) || '">t1</a> <a href=''u''>t2</a></p>' ||
      |  '<p>&amp; &bogus; A &nbsp;B with words enough to pass the filter today</p>' ||
      |  CASE WHEN doc_id % 3 = 0 THEN '<p>extra residue paragraph with sufficient word count to keep</p>' ELSE '' END ||
      |  '<div>closing words run out here</body></html>' AS html
      |FROM documents)""".stripMargin

  // ---- link-page synthesis (Spark + DuckDB) -------------------------
  // Per doc: a self link (messy URL — caps, www, :80, utm_, fragment),
  // one cross-host outlink, a hub outlink on even docs, a relative
  // link on %4 docs, plus a commented-out link and a single-quoted
  // href that must NOT extract (the quoting contract).
  private[queries] def linkDf(s: SparkSession, dir: String): DataFrame =
    linkFrom(Tables.documents(s, dir))

  /** Batch-shaped synthesis so the streaming admission gate (q343)
    * can apply the identical generator per micro-batch.
    */
  private[queries] def linkFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><body><!-- <a href=\"http://skip.junk/x\"> -->"),
      lit("<p>see <a href=\"HTTP://WWW.Host"), col("doc_id") % 7,
      lit(".COM:80/d/"), col("doc_id"), lit("?utm_source=m&x="),
      col("doc_id"), lit("#f\">one</a>, "),
      lit("<a href='http://sq.example/s'>sq</a> and "),
      lit("<a href=\"http://host"), (col("doc_id") + 3) % 7,
      lit(".com/idx\">two</a></p>"),
      when(col("doc_id") % 2 === 0,
        lit("<p><a href=\"http://hub.example.com/h\">hub</a></p>"))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("<p><a href=\"/relative/"), col("doc_id") % 9,
          lit("\">rel</a></p>"))).otherwise(lit("")),
      lit("</body></html>")).as("html"))

  /** q376/q382 shared page synthesis: docs ≡ 0 mod 13 carry a hidden
    * block, ≡ 0 mod 17 a 30× repeated visible keyword. Batch-shaped
    * so the streaming gate applies the identical generator per
    * micro-batch.
    */
  private[queries] def spamPageFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><body><p>"), coalesce(col("text"), lit("")),
      lit("</p>"),
      when(col("doc_id") % 13 === 0,
        lit("<div style=\"display:none\">buy cheap pills " +
          "buy cheap pills buy</div>")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        concat(lit("<p>"), repeat(lit("spark "), 30), lit("</p>")))
        .otherwise(lit("")),
      lit("</body></html>")).as("html"))

  /** q376/q382 shared oracle: the spam-signal battery replayed over
    * the identical page synthesis.
    */
  private[queries] lazy val spamOracleSql: String =
    s"""WITH sp AS (SELECT doc_id,
        |    '<html><body><p>' || coalesce(text, '') || '</p>' ||
        |    CASE WHEN doc_id % 13 = 0 THEN
        |      '<div style="display:none">buy cheap pills buy cheap pills buy</div>'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN
        |      '<p>' || repeat('spark ', 30) || '</p>' ELSE '' END ||
        |    '</body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id, ${dropSql("html")} AS hc FROM sp),
        |hid AS (SELECT doc_id,
        |    ${inlineSql(s"coalesce(array_to_string(regexp_extract_all(hc, '$hiddenPat'), ' '), '')")} AS ht,
        |    ${inlineSql(s"regexp_replace(hc, '$hiddenPat', ' ', 'g')")} AS vis
        |  FROM c),
        |tok AS (SELECT doc_id, unnest(CASE WHEN trim(vis) = ''
        |      THEN CAST([] AS VARCHAR[])
        |      ELSE string_split_regex(lower(trim(vis)), '\\s+') END) AS t
        |  FROM hid),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(max(tf) AS BIGINT) AS max_tf,
        |    CAST(sum(tf) AS BIGINT) AS n_toks FROM tf GROUP BY 1)
        |SELECT h.doc_id,
        |  CAST(length(ht) AS BIGINT) AS n_hidden_chars,
        |  CAST(CASE WHEN trim(ht) = '' THEN 0
        |    ELSE len(string_split_regex(trim(ht), '\\s+')) END
        |    AS BIGINT) AS n_hidden_tokens,
        |  coalesce(top.n_toks, 0) AS n_toks,
        |  coalesce(top.max_tf * 1000000 // top.n_toks, 0) AS top_tf_ppm,
        |  CASE WHEN trim(ht) = '' THEN 0
        |    ELSE len(string_split_regex(trim(ht), '\\s+')) END > 0
        |    AS hidden,
        |  coalesce(top.max_tf * 1000000 // top.n_toks, 0) >= 220000
        |    AND coalesce(top.n_toks, 0) >= 20 AS stuffed
        |FROM hid h LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  /** The q333/q343 robots rule set — every interesting REP shape
    * (longer-allow override, site-wide disallow with carve-out,
    * equal-length tie, targeted disallow, empty-prefix disallow,
    * explicit allow, no-rules hosts).
    */
  private[queries] def robotsRules(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("host0.com", "disallow", "/d/"),
      ("host0.com", "allow", "/d/1"),
      ("host2.com", "disallow", "/"),
      ("host2.com", "allow", "/d/2"),
      ("host3.com", "disallow", "/d/"),
      ("host3.com", "allow", "/d/"),
      ("host4.com", "disallow", "/idx"),
      ("host5.com", "disallow", ""),
      ("hub.example.com", "allow", "")
    ).toDF("host", "rtype", "prefix")
  }

  /** DuckDB VALUES form of [[robotsRules]] + the rank CTE shared by
    * the q333 and q343 oracles (input relation must expose
    * (host, path) and the caller's carried columns).
    */
  private[queries] val rulesCte: String =
    """rules(host, rtype, prefix) AS (VALUES
      |  ('host0.com','disallow','/d/'), ('host0.com','allow','/d/1'),
      |  ('host2.com','disallow','/'), ('host2.com','allow','/d/2'),
      |  ('host3.com','disallow','/d/'), ('host3.com','allow','/d/'),
      |  ('host4.com','disallow','/idx'), ('host5.com','disallow',''),
      |  ('hub.example.com','allow',''))""".stripMargin

  override def defs: Map[String, Q] = Map(

    // Whole-page extraction: every strip/decode/collapse rule in one
    // gate — scripts/styles/comments/CDATA vanish, block tags become
    // line breaks, inline tags become spaces, entities decode, prose
    // "<" survives. n_lines pins the block segmentation count.
    "q318_html_extract" -> Q(
      (s, dir) => htmlDf(s, dir)
        .select(col("doc_id"), htmlToText(col("html")).as("text"))
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), "\\n")).cast("long").as("n_lines"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $htmlCte,
        |$segCte,
        |txt AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    ${entSql(s"regexp_replace(c, '$anyTagPat', ' ', 'g')")},
        |    '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'), '\\n+', chr(10), 'g'),
        |    ' ' || chr(10) || chr(9)) AS text
        |  FROM seg)
        |SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
        |FROM txt ORDER BY doc_id""".stripMargin)),

    // Block segmentation + link-density scoring: one row per
    // non-empty block with position, clean text, char/word mass,
    // anchor-text mass, and integer ppm link density — the shallow
    // text features the boilerplate rule consumes.
    "q319_html_blocks" -> Q(
      (s, dir) => HtmlExtract.htmlBlocks(htmlDf(s, dir), "doc_id", "html")
        .orderBy(col("doc_id"), col("block_id")),
      Some(s"""WITH $htmlCte,
        |$segCte,
        |$blkCte
        |SELECT doc_id, block_id, text, n_chars, n_words, n_link_chars, link_ppm
        |FROM blk ORDER BY doc_id, block_id""".stripMargin)),

    // The boilerplate rule applied and the page reassembled: nav,
    // tag-cloud, and footer blocks must drop (link-dense or short),
    // body paragraphs must survive in source order.
    "q320_boilerplate_strip" -> Q(
      (s, dir) => HtmlExtract.extractContent(htmlDf(s, dir), "doc_id", "html")
        .orderBy(col("doc_id")),
      Some(s"""WITH $htmlCte,
        |$segCte,
        |$blkCte,
        |$cntCte
        |SELECT doc_id, n_blocks, n_kept, content FROM cnt ORDER BY doc_id""".stripMargin)),

    // End-to-end crawl pipeline: extract → content-quality filter
    // (≥2 content blocks, ≥20 words) → exact-hash dedup over the
    // EXTRACTED text (q25's discipline, fed by the front-end instead
    // of pre-extracted text) — proves the new stage composes with the
    // existing downstream unchanged.
    "q321_crawl_pipeline" -> Q(
      (s, dir) => {
        val content =
          HtmlExtract.extractContent(htmlDf(s, dir), "doc_id", "html")
        val quality = content.filter(col("n_kept") >= 2 &&
          size(split(col("content"), "\\s+")) >= 20)
        Dedup.exactDedup(quality, "doc_id",
            TextAnalysis.fingerprint(col("content")))
          .orderBy(col("fp"))
      },
      Some(s"""WITH $htmlCte,
        |$segCte,
        |$blkCte,
        |$cntCte
        |SELECT md5(array_to_string(string_split_regex(trim(lower(content)), '\\s+'), ' ')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM cnt
        |WHERE n_kept >= 2 AND len(string_split_regex(content, '\\s+')) >= 20
        |GROUP BY 1 ORDER BY fp""".stripMargin)),

    // Adversarial-HTML torture gate (VERDICT r7 item 4): the full
    // boilerplate pipeline over the 17-shape hostile fixture above —
    // n_blocks/n_kept/content hash-matched per document, so every
    // skip/keep decision on malformed markup is pinned cross-engine.
    "q425_html_torture" -> Q(
      (s, dir) => HtmlExtract.extractContent(
          tortureFrom(Tables.documents(s, dir)), "doc_id", "html")
        .orderBy(col("doc_id")),
      Some(s"""WITH $tortureCte,
        |$segCte,
        |$blkCte,
        |$cntCte
        |SELECT doc_id, n_blocks, n_kept, content FROM cnt ORDER BY doc_id""".stripMargin)),

    // Streaming crawl extraction: the SAME generator and the SAME
    // extractContent run per micro-batch over a documents stream —
    // correct because extraction is per-document (no cross-row state,
    // so batch boundaries can't split a unit of work). Gate = q320's
    // batch oracle verbatim: stream ≡ batch proven, not asserted.
    "q328_stream_extract" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val docsStream = Tables.stream(s, dir, "documents")
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_blocks", LongType),
          StructField("n_kept", LongType),
          StructField("content", StringType)))
        var out = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
        graft.streaming.Streams.scratchCheckpointDir("graft-ext-ck") { ckpt =>
          graft.streaming.Streams.transformEachBatch(
            docsStream,
            batch => HtmlExtract.extractContent(
              htmlFrom(batch), "doc_id", "html"),
            res => out = out.unionByName(res).localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        out.orderBy(col("doc_id"))
      },
      Some(s"""WITH $htmlCte,
        |$segCte,
        |$blkCte,
        |$cntCte
        |SELECT doc_id, n_blocks, n_kept, content FROM cnt ORDER BY doc_id""".stripMargin)),

    // Outlink extraction + canonicalization: hrefs in document order
    // (commented-out and single-quoted links must NOT extract), each
    // normalized through the q108-gated URL algebra. The oracle
    // restates every expected row in closed form from the generator —
    // it never runs the extractor, so regex bugs can't self-confirm.
    "q326_link_extract" -> Q(
      (s, dir) => {
        val links = HtmlExtract.extractLinks(linkDf(s, dir), "doc_id", "html")
          .withColumn("host", Urls.host(col("href")))
        links
          .withColumn("url_norm",
            when(col("host") === "", col("href"))
              .otherwise(Urls.normalize(col("href"))))
          .orderBy(col("doc_id"), col("link_idx"))
      },
      Some("""SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
        |  'HTTP://WWW.Host' || (doc_id % 7) || '.COM:80/d/' || doc_id ||
        |    '?utm_source=m&x=' || doc_id || '#f' AS href,
        |  'host' || (doc_id % 7) || '.com' AS host,
        |  'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |    '?x=' || doc_id AS url_norm
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 1,
        |  'http://host' || ((doc_id + 3) % 7) || '.com/idx',
        |  'host' || ((doc_id + 3) % 7) || '.com',
        |  'http://host' || ((doc_id + 3) % 7) || '.com/idx'
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 2, 'http://hub.example.com/h', 'hub.example.com',
        |  'http://hub.example.com/h'
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 3, '/relative/' || (doc_id % 9), '',
        |  '/relative/' || (doc_id % 9)
        |FROM documents WHERE doc_id % 4 = 0
        |ORDER BY doc_id, link_idx""".stripMargin)),

    // Host-graph composition — the crawl-frontier prioritization
    // pipeline: extract links → canonical hosts → distinct host-level
    // edges (self host → each absolute outlink host) → 3-round integer
    // PageRank (q169's operator and unrolled-CTE oracle discipline).
    // The hub host is a sink (no outlinks) and accumulates rank; the
    // 7-host ring passes rank around its cycle.
    "q327_host_graph" -> Q(
      (s, dir) => {
        val links = HtmlExtract.extractLinks(linkDf(s, dir), "doc_id", "html")
          .withColumn("host", Urls.host(col("href")))
        val self = links.filter(col("link_idx") === 0)
          .select(col("doc_id"), col("host").as("src"))
        val out = links.filter(col("link_idx") > 0 && col("host") =!= "")
          .select(col("doc_id"), col("host").as("dst"))
        val edges = self.join(out, Seq("doc_id"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst")).distinct()
        Graph.pageRankPpm(edges, "src", "dst", iters = 3)
          .orderBy(col("node"))
      },
      {
        val iterCtes = (1 to 3).map { i =>
          s"""f$i AS (SELECT e.dst AS node,
             |    CAST(sum(r.rank_ppm // d.out_deg) AS BIGINT) AS in_sum
             |  FROM e JOIN r${i - 1} r ON e.src = r.node
             |  JOIN d ON e.src = d.src GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |    CAST(150000 + (850000 * coalesce(f.in_sum, 0)) // 1000000
             |      AS BIGINT) AS rank_ppm
             |  FROM n LEFT JOIN f$i f USING (node))""".stripMargin
        }.mkString(",\n")
        Some(s"""WITH e AS (
          |  SELECT DISTINCT 'host' || (doc_id % 7) || '.com' AS src,
          |    'host' || ((doc_id + 3) % 7) || '.com' AS dst
          |  FROM documents
          |  UNION
          |  SELECT DISTINCT 'host' || (doc_id % 7) || '.com',
          |    'hub.example.com'
          |  FROM documents WHERE doc_id % 2 = 0),
          |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          |d AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
          |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM n),
          |$iterCtes
          |SELECT node, rank_ppm
          |FROM r3
          |ORDER BY node""".stripMargin)
      }),

    // Sentence segmentation over deterministically punctuated text
    // (every 5th word gains a terminal '.', same regexp in both
    // engines): match-based runs, never lookbehind (RE2 has none), so
    // the segmentation itself is the gated algebra.
    "q329_sentence_segment" -> Q(
      (s, dir) => {
        val punct = Tables.documents(s, dir).select(col("doc_id"),
          regexp_replace(coalesce(col("text"), lit("")),
            "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        TextAnalysis.sentences(punct, "doc_id", "t")
          .withColumn("n_words",
            size(split(col("sentence"), " ")).cast("long"))
          .orderBy(col("doc_id"), col("sent_idx"))
      },
      Some(s"""WITH pt AS (
        |  SELECT doc_id, regexp_replace(coalesce(text, ''),
        |    '((?:\\S+ ){4}\\S+) ', '\\1. ', 'g') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS sent_idx,
        |    unnest(l) AS raw
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(t, '${TextAnalysis.sentencePat}') AS l
        |        FROM pt)),
        |c AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(regexp_replace(raw, '\\s+', ' ', 'g')) AS sentence
        |  FROM m)
        |SELECT doc_id, sent_idx, sentence,
        |  CAST(len(string_split(sentence, ' ')) AS BIGINT) AS n_words
        |FROM c WHERE length(sentence) > 0
        |ORDER BY doc_id, sent_idx""".stripMargin)),

    // Corpus-global sentence dedup (Lee et al. keep-first): a
    // duplicated sentence survives only in its minimum-id document;
    // per doc the gate proves sentence counts, drop counts, and the
    // reassembled deduped content. The corpus's planted exact-dup
    // documents make the duplicate population real, not contrived.
    "q330_sentence_dedup" -> Q(
      (s, dir) => {
        val punct = Tables.documents(s, dir).select(col("doc_id"),
          regexp_replace(coalesce(col("text"), lit("")),
            "((?:\\S+ ){4}\\S+) ", "$1. ").as("t"))
        Corpus.dedupSentences(punct, "doc_id", "t")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH pt AS (
        |  SELECT doc_id, regexp_replace(coalesce(text, ''),
        |    '((?:\\S+ ){4}\\S+) ', '\\1. ', 'g') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS sent_idx,
        |    unnest(l) AS raw
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(t, '${TextAnalysis.sentencePat}') AS l
        |        FROM pt)),
        |f AS (
        |  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |    trim(regexp_replace(raw, '\\s+', ' ', 'g')) AS sentence
        |  FROM m),
        |g AS (SELECT doc_id, sent_idx, sentence, md5(sentence) AS fp
        |      FROM f WHERE length(sentence) > 0),
        |o AS (SELECT fp, min(doc_id) AS keep, count(*) AS n
        |      FROM g GROUP BY 1)
        |SELECT g.doc_id AS doc_id, count(*) AS n_sents,
        |  CAST(sum(CASE WHEN o.n = 1 OR g.doc_id = o.keep
        |                THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(
        |    CASE WHEN o.n = 1 OR g.doc_id = o.keep THEN g.sentence END,
        |    ' ' ORDER BY g.sent_idx), '') AS content_dedup
        |FROM g JOIN o USING (fp)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Crawl-frontier new-URL detection: the already-crawled set (odd
    // docs' canonical self URLs) feeds a Bloom; every extracted +
    // canonicalized URL probes it, definitely-absent probes skip the
    // exact check (q113's operator, fed by the crawl front-end).
    // might_contain — including deterministic false positives — and
    // the verified is_new both gate.
    "q331_frontier_new_urls" -> Q(
      (s, dir) => {
        val links = HtmlExtract.extractLinks(linkDf(s, dir), "doc_id", "html")
          .withColumn("host", Urls.host(col("href")))
        val absolute = links.filter(col("host") =!= "")
          .withColumn("url", Urls.normalize(col("href")))
        val seen = absolute
          .filter(col("link_idx") === 0 && col("doc_id") % 2 === 1)
          .select(col("url")).distinct()
        val incoming = absolute.select(col("url")).distinct()
        Sketch.bloomNewKeys(seen, incoming, "url", numBits = 63 * 256,
            numHashes = 3)
          .select(col("url"), col("might_contain"), col("is_new"))
          .orderBy(col("url"))
      },
      Some("""WITH hs AS (SELECT unnest([0, 1, 2]) AS i),
        |seen AS (
        |  SELECT DISTINCT 'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |    '?x=' || doc_id AS url
        |  FROM documents WHERE doc_id % 2 = 1),
        |inc AS (
        |  SELECT DISTINCT 'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |    '?x=' || doc_id AS url FROM documents
        |  UNION
        |  SELECT DISTINCT 'http://host' || ((doc_id + 3) % 7) || '.com/idx'
        |  FROM documents
        |  UNION
        |  SELECT 'http://hub.example.com/h'),
        |pos AS (
        |  SELECT CAST(('0x' || substr(md5(url || ':b' || i), 1, 15)) AS BIGINT)
        |    % 16128 AS p
        |  FROM seen CROSS JOIN hs),
        |bm AS (
        |  SELECT p // 63 AS word_idx,
        |         bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        |  FROM pos GROUP BY 1),
        |pp AS (
        |  SELECT url,
        |    CAST(('0x' || substr(md5(url || ':b' || i), 1, 15)) AS BIGINT)
        |      % 16128 AS p
        |  FROM inc CROSS JOIN hs)
        |SELECT url,
        |  bool_and((coalesce(bm.bits, 0) & (1::BIGINT << CAST(p % 63 AS INT)))
        |           = (1::BIGINT << CAST(p % 63 AS INT))) AS might_contain,
        |  url NOT IN (SELECT url FROM seen) AS is_new
        |FROM pp LEFT JOIN bm ON pp.p // 63 = bm.word_idx
        |GROUP BY 1
        |ORDER BY url""".stripMargin)),

    // Inbound anchor-text aggregation — classic IR's "anchor text
    // document": per TARGET url, count inlinks/distinct sources and
    // collect the sorted distinct anchor texts. The fixture's third
    // anchor uses a messy URL (caps, www, :80, fragment) that must
    // FOLD into the same target via normalize, and an inner <b> that
    // inlineText must strip — both contracts ride the gate.
    "q332_anchor_text" -> Q(
      (s, dir) => {
        val html = Tables.documents(s, dir).select(col("doc_id"), concat(
          lit("<div><a href=\"http://host"), col("doc_id") % 5,
          lit(".com/p\">Site "), col("doc_id") % 5, lit("</a> "),
          lit("<a href=\"http://host"), col("doc_id") % 5,
          lit(".com/p\"><b>desc "), col("doc_id") % 3,
          lit("</b></a> "),
          when(col("doc_id") % 2 === 0,
            concat(lit("<a href=\"HTTP://WWW.Host"), col("doc_id") % 5,
              lit(".COM:80/p#frag\">alias "), col("doc_id") % 4,
              lit("</a>"))).otherwise(lit("")),
          lit("</div>")).as("html"))
        HtmlExtract.extractAnchors(html, "doc_id", "html")
          .filter(Urls.host(col("href")) =!= "")
          .withColumn("url", Urls.normalize(col("href")))
          .groupBy(col("url"))
          .agg(count(lit(1)).as("n_inlinks"),
            countDistinct(col("doc_id")).as("n_sources"),
            array_join(array_sort(collect_set(col("anchor"))), " | ")
              .as("anchor_text"))
          .orderBy(col("url"))
      },
      Some("""WITH a AS (
        |  SELECT doc_id, 'http://host' || (doc_id % 5) || '.com/p' AS url,
        |    'Site ' || (doc_id % 5) AS anchor FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'http://host' || (doc_id % 5) || '.com/p',
        |    'desc ' || (doc_id % 3) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'http://host' || (doc_id % 5) || '.com/p',
        |    'alias ' || (doc_id % 4) FROM documents WHERE doc_id % 2 = 0)
        |SELECT url, count(*) AS n_inlinks,
        |  count(DISTINCT doc_id) AS n_sources,
        |  string_agg(DISTINCT anchor, ' | ' ORDER BY anchor) AS anchor_text
        |FROM a GROUP BY 1 ORDER BY url""".stripMargin)),

    // Robots-gate the q331 frontier: RFC 9309 longest-match (rank =
    // 2·prefix_len + isAllow, verdict by parity). The rule set covers
    // every interesting shape — longer-allow-overrides-disallow
    // (host0 /d/1*), site-wide disallow with a carve-out (host2),
    // equal-length tie → allow wins (host3), targeted disallow
    // (host4 /idx), empty-prefix disallow-everything (host5),
    // explicit allow ≡ default allow (hub), and no-rules hosts
    // (host1/host6) falling through to default-allow.
    "q333_robots_gate" -> Q(
      (s, dir) => {
        val links = HtmlExtract.extractLinks(linkDf(s, dir), "doc_id", "html")
        val urls = links.filter(Urls.host(col("href")) =!= "")
          .select(Urls.normalize(col("href")).as("url")).distinct()
          .withColumn("host", Urls.host(col("url")))
          .withColumn("path", Urls.path(col("url")))
        Frontier.robotsGate(urls, robotsRules(s)).orderBy(col("url"))
      },
      Some("""WITH u AS (
        |  SELECT DISTINCT
        |    'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |      '?x=' || doc_id AS url,
        |    'host' || (doc_id % 7) || '.com' AS host,
        |    '/d/' || doc_id AS path
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT
        |    'http://host' || ((doc_id + 3) % 7) || '.com/idx',
        |    'host' || ((doc_id + 3) % 7) || '.com', '/idx'
        |  FROM documents
        |  UNION
        |  SELECT 'http://hub.example.com/h', 'hub.example.com', '/h'),
        |rules(host, rtype, prefix) AS (VALUES
        |  ('host0.com','disallow','/d/'), ('host0.com','allow','/d/1'),
        |  ('host2.com','disallow','/'), ('host2.com','allow','/d/2'),
        |  ('host3.com','disallow','/d/'), ('host3.com','allow','/d/'),
        |  ('host4.com','disallow','/idx'), ('host5.com','disallow',''),
        |  ('hub.example.com','allow','')),
        |j AS (SELECT u.url, u.host, u.path,
        |  CASE WHEN r.prefix IS NOT NULL AND starts_with(u.path, r.prefix)
        |    THEN CAST(2 * length(r.prefix) +
        |      CASE WHEN r.rtype = 'allow' THEN 1 ELSE 0 END AS BIGINT)
        |  END AS rnk
        |  FROM u LEFT JOIN rules r USING (host))
        |SELECT url, host, path, max(rnk) AS rule_rank,
        |  coalesce(max(rnk), 1) % 2 = 1 AS allowed
        |FROM j GROUP BY 1, 2, 3 ORDER BY url""".stripMargin)),

    // WARC-ish container round trip: build length-prefixed record
    // containers (≤32 records each), then parse them back by walking
    // Content-Length — NEVER by marker scanning. Every payload embeds
    // a fake "WARC/1.0 + Content-Length + CRLFCRLF" banner that a
    // split-on-marker parser would trip over; the oracle reconstructs
    // the records from first principles, so a single mis-walked
    // offset anywhere in any container fails the hash.
    "q336_warc_parse" -> Q(
      (s, dir) => {
        val recs = Tables.documents(s, dir).select(
          col("doc_id"), expr("doc_id div 32").as("file_id"),
          concat(lit("http://host"), col("doc_id") % 7, lit(".com/d/"),
            col("doc_id")).as("uri"),
          concat(lit("<html><body><p>"),
            substring(coalesce(col("text"), lit("")), 1, 40),
            lit("</p> WARC/1.0\r\nContent-Length: 999\r\n\r\n" +
              "trap</body></html>")).as("payload"))
        val containers =
          Warc.buildContainers(recs, "file_id", "doc_id", "uri", "payload")
        Warc.parseRecords(containers, "file_id", "warc", maxRecords = 40)
          .orderBy(col("file_id"), col("rec_idx"))
      },
      Some("""WITH p AS (
        |  SELECT doc_id, doc_id // 32 AS file_id,
        |    'http://host' || (doc_id % 7) || '.com/d/' || doc_id AS uri,
        |    '<html><body><p>' || substr(coalesce(text, ''), 1, 40) ||
        |      '</p> WARC/1.0' || chr(13) || chr(10) ||
        |      'Content-Length: 999' || chr(13) || chr(10) ||
        |      chr(13) || chr(10) || 'trap</body></html>' AS payload
        |  FROM documents)
        |SELECT file_id,
        |  row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
        |    AS rec_idx,
        |  uri AS target_uri,
        |  CAST(length(payload) AS BIGINT) AS content_length, payload
        |FROM p ORDER BY file_id, rec_idx""".stripMargin)),

    // Politeness scheduling over the robots-era frontier: per-host
    // fetch sequence + slot at 16 fetches/host/interval. The window
    // is host-partitioned — the gate proves slot algebra AND the
    // deterministic per-host URL order.
    "q337_politeness_slots" -> Q(
      (s, dir) => {
        val links = HtmlExtract.extractLinks(linkDf(s, dir), "doc_id", "html")
        val urls = links.filter(Urls.host(col("href")) =!= "")
          .select(Urls.normalize(col("href")).as("url")).distinct()
          .withColumn("host", Urls.host(col("url")))
        Frontier.politenessSlots(urls, perHostPerSlot = 16)
          .orderBy(col("url"))
      },
      Some("""WITH u AS (
        |  SELECT DISTINCT
        |    'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |      '?x=' || doc_id AS url,
        |    'host' || (doc_id % 7) || '.com' AS host
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT
        |    'http://host' || ((doc_id + 3) % 7) || '.com/idx',
        |    'host' || ((doc_id + 3) % 7) || '.com'
        |  FROM documents
        |  UNION
        |  SELECT 'http://hub.example.com/h', 'hub.example.com'),
        |r AS (SELECT url, host,
        |  row_number() OVER (PARTITION BY host ORDER BY url) - 1
        |    AS fetch_seq
        |  FROM u)
        |SELECT url, host, fetch_seq, fetch_seq // 16 AS fetch_slot
        |FROM r ORDER BY url""".stripMargin)),

    // Unicode NFC normalization (native codegen'd expression backed
    // by the JDK's normalizer) vs DuckDB's nfc_normalize — the
    // charset-hygiene step between fetch and fingerprint: the fixture
    // plants decomposed e/u/A/o + combining marks next to their
    // precomposed forms, so len_raw > len_nfc exactly where
    // composition fires, and any table or ordering divergence
    // between the two engines' NFC implementations fails the hash.
    "q339_nfc_normalize" -> Q(
      (s, dir) => {
        val raw = Tables.documents(s, dir).select(col("doc_id"),
          concat(substring(coalesce(col("text"), lit("")), 1, 12),
            lit(" éclair état über" +
              " Ångström"),
            when(col("doc_id") % 2 === 0, lit(" gáteau"))
              .otherwise(lit(""))).as("raw"))
        raw.select(col("doc_id"), col("raw"),
            graft.expressions.TextNormalize.nfcNative(col("raw"))
              .as("nfc"))
          .withColumn("len_raw", length(col("raw")).cast("long"))
          .withColumn("len_nfc", length(col("nfc")).cast("long"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (
        |  SELECT doc_id,
        |    substr(coalesce(text, ''), 1, 12) ||
        |    ' e' || chr(769) || 'clair ' || chr(233) || 'tat u' ||
        |    chr(776) || 'ber A' || chr(778) || 'ngstro' || chr(776) ||
        |    'm' ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' ga' || chr(769) || 'teau'
        |         ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id, raw, nfc_normalize(raw) AS nfc,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
        |FROM r ORDER BY doc_id""".stripMargin)),

    // ftfy-style mojibake repair: odd docs carry UTF-8-read-as-
    // Latin-1 garble ("é"→"Ã©"), even docs are clean. The oracle
    // synthesizes BOTH the garbled bytes and the repaired text
    // analytically (chr arithmetic + replace), so the Spark side's
    // digraph detector and encode/decode round trip are proven
    // against an independent derivation — including that clean text
    // passes through untouched.
    "q340_mojibake_repair" -> Q(
      (s, dir) => {
        val clean = concat(
          substring(coalesce(col("text"), lit("")), 1, 12),
          lit(" éclair über gâteau"))
        Tables.documents(s, dir).select(col("doc_id"),
            when(col("doc_id") % 2 === 1,
              decode(encode(clean, "UTF-8"), "ISO-8859-1"))
              .otherwise(clean).as("raw"))
          .select(col("doc_id"), col("raw"),
            TextAnalysis.mojibakeHits(col("raw")).as("hits"),
            TextAnalysis.repairMojibake(col("raw")).as("repaired"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (
        |  SELECT doc_id, substr(coalesce(text, ''), 1, 12) ||
        |    ' ' || chr(233) || 'clair ' || chr(252) || 'ber g' ||
        |    chr(226) || 'teau' AS clean
        |  FROM documents),
        |r AS (SELECT doc_id, clean,
        |  CASE WHEN doc_id % 2 = 1 THEN
        |    replace(replace(replace(clean,
        |      chr(233), chr(195) || chr(169)),
        |      chr(252), chr(195) || chr(188)),
        |      chr(226), chr(195) || chr(162))
        |  ELSE clean END AS raw
        |  FROM c)
        |SELECT doc_id, raw,
        |  CAST(len(regexp_extract_all(raw,
        |    '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]')) AS BIGINT) AS hits,
        |  clean AS repaired
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Head-metadata extraction for indexing: title / description /
    // og:title / canonical + the display-title fallback chain. The
    // commented-out <title> planted BEFORE the real one proves
    // non-content stripping precedes matching; the entity + padding
    // in the real title prove the inline cleanup runs on inner text.
    "q341_head_metadata" -> Q(
      (s, dir) => {
        val html = Tables.documents(s, dir).select(col("doc_id"), concat(
          lit("<html><head><!-- <title>commented out</title> -->"),
          lit("<title> Doc "), col("doc_id"),
          lit(" &amp;  more </title>"),
          lit("<meta name=\"description\" content=\"summary "),
          col("doc_id") % 5, lit("\">"),
          when(col("doc_id") % 3 === 0,
            concat(lit("<meta property=\"og:title\" content=\"OG "),
              col("doc_id"), lit("\">"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit("<link rel=\"canonical\" href=\"http://c.example/"),
              col("doc_id"), lit("\">"))).otherwise(lit("")),
          lit("</head><body>b</body></html>")).as("html"))
        HtmlExtract.extractHeadMeta(html, "doc_id", "html")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  'Doc ' || doc_id || ' & more' AS title,
        |  'summary ' || (doc_id % 5) AS meta_desc,
        |  CASE WHEN doc_id % 3 = 0 THEN 'OG ' || doc_id ELSE '' END
        |    AS og_title,
        |  CASE WHEN doc_id % 4 = 0 THEN 'http://c.example/' || doc_id
        |       ELSE '' END AS canonical,
        |  CASE WHEN doc_id % 3 = 0 THEN 'OG ' || doc_id
        |       ELSE 'Doc ' || doc_id || ' & more' END AS display_title
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // FLAGSHIP crawl-to-corpus composition: WARC containers → parse
    // (identity recovered from the record URI) → mojibake repair (odd
    // docs ship the whole payload UTF-8-as-Latin-1 garbled) → NFC
    // (every doc carries a decomposed ü) → HTML extraction → min-word
    // quality gate (docs ≡ 0 mod 97 are planted too short) → exact
    // dedup keep-first (the corpus's planted dup texts collapse) →
    // scalable global row numbering → 64-doc shard assignment. The
    // oracle never touches a single operator: it derives the expected
    // corpus ANALYTICALLY from the fixture construction, so one
    // mis-step in any of the eight stages fails the hash.
    "q342_pretraining_e2e" -> Q(
      (s, dir) => {
        val t40 = when(col("doc_id") % 97 === 0,
          substring(coalesce(col("text"), lit("")), 1, 4))
          .otherwise(substring(coalesce(col("text"), lit("")), 1, 40))
        val payload = concat(lit("<html><body><p>"), t40,
          lit("</p><p>fin u\u0308ber \u00E9clair</p></body></html>"))
        val recs = Tables.documents(s, dir).select(col("doc_id"),
          expr("doc_id div 32").as("file_id"),
          concat(lit("http://h/"), col("doc_id")).as("uri"),
          when(col("doc_id") % 2 === 1,
            decode(encode(payload, "UTF-8"), "ISO-8859-1"))
            .otherwise(payload).as("payload"))
        val parsed = Warc.parseRecords(
          Warc.buildContainers(recs, "file_id", "doc_id", "uri",
            "payload"), "file_id", "warc", maxRecords = 40)
        val cleaned = parsed
          .select(regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"), col("payload"))
          .withColumn("fixed",
            TextAnalysis.repairMojibake(col("payload")))
          .withColumn("norm",
            graft.expressions.TextNormalize.nfcNative(col("fixed")))
          .withColumn("content", htmlToText(col("norm")))
          .withColumn("n_words",
            size(split(col("content"), "\\s+")).cast("long"))
          .filter(col("n_words") >= 5)
          .withColumn("fp", md5(col("content")))
        val kept = cleaned.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"),
            min(col("n_words")).as("n_words"))
        Corpus.globalRowNumber(kept, "doc_id", bucketWidth = 32L)
          .withColumn("shard_id", expr("row_id div 64"))
          .select(col("doc_id"), col("fp"), col("n_words"),
            col("row_id"), col("shard_id"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0
        |         THEN substr(coalesce(text, ''), 1, 4)
        |         ELSE substr(coalesce(text, ''), 1, 40) END AS t40
        |  FROM documents),
        |txt AS (
        |  -- htmlToText's ' ?\n ?' collapse eats one space abutting
        |  -- each block boundary, so the analytic form right-trims t40
        |  SELECT doc_id,
        |    rtrim(t40, ' ') || chr(10) || 'fin ' || chr(252) ||
        |      'ber ' || chr(233) || 'clair' AS content
        |  FROM base),
        |q AS (
        |  SELECT doc_id, content, md5(content) AS fp,
        |    CAST(len(string_split_regex(content, '\s+')) AS BIGINT)
        |      AS n_words
        |  FROM txt
        |  WHERE len(string_split_regex(content, '\s+')) >= 5),
        |k AS (
        |  SELECT fp, min(doc_id) AS doc_id, min(n_words) AS n_words
        |  FROM q GROUP BY 1),
        |r AS (
        |  SELECT doc_id, fp, n_words,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM k)
        |SELECT doc_id, fp, n_words, row_id, row_id // 64 AS shard_id
        |FROM r ORDER BY doc_id""".stripMargin)),

    // Streaming crawl admission: per micro-batch, extract links →
    // canonicalize → per-(doc, link) robots verdict. Correct in a
    // stream because the KEYED gate is a pure per-row decision (the
    // rule join is broadcast, the rank MAX runs within one row's rule
    // matches) — no cross-row state for batch boundaries to split.
    // Oracle = the closed-form link synthesis × the q333 rule logic,
    // per (doc_id, link_idx) — stream ≡ batch proven on admission.
    "q343_stream_admission" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
        val docsStream = Tables.stream(s, dir, "documents")
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("link_idx", LongType),
          StructField("url", StringType),
          StructField("host", StringType),
          StructField("path", StringType),
          StructField("rule_rank", LongType),
          StructField("allowed", BooleanType)))
        var out = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
        graft.streaming.Streams.scratchCheckpointDir("graft-adm-ck") { ckpt =>
          graft.streaming.Streams.transformEachBatch(
            docsStream,
            batch => {
              val links = HtmlExtract
                .extractLinks(linkFrom(batch), "doc_id", "html")
                .filter(Urls.host(col("href")) =!= "")
                .withColumn("url", Urls.normalize(col("href")))
                .withColumn("host", Urls.host(col("url")))
                .withColumn("path", Urls.path(col("url")))
                .select(col("doc_id"), col("link_idx"), col("url"),
                  col("host"), col("path"))
              Frontier.robotsGateKeyed(links, robotsRules(s),
                Seq("doc_id", "link_idx"))
            },
            res => out = out.unionByName(res).localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        out.orderBy(col("doc_id"), col("link_idx"))
      },
      Some(s"""WITH l AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
        |    'http://host' || (doc_id % 7) || '.com/d/' || doc_id ||
        |      '?x=' || doc_id AS url,
        |    'host' || (doc_id % 7) || '.com' AS host,
        |    '/d/' || doc_id AS path
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1, 'http://host' || ((doc_id + 3) % 7) ||
        |    '.com/idx', 'host' || ((doc_id + 3) % 7) || '.com', '/idx'
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, 'http://hub.example.com/h',
        |    'hub.example.com', '/h'
        |  FROM documents WHERE doc_id % 2 = 0),
        |$rulesCte,
        |j AS (SELECT l.doc_id, l.link_idx, l.url, l.host, l.path,
        |  CASE WHEN r.prefix IS NOT NULL AND starts_with(l.path, r.prefix)
        |    THEN CAST(2 * length(r.prefix) +
        |      CASE WHEN r.rtype = 'allow' THEN 1 ELSE 0 END AS BIGINT)
        |  END AS rnk
        |  FROM l LEFT JOIN rules r USING (host))
        |SELECT doc_id, link_idx, url, host, path, max(rnk) AS rule_rank,
        |  coalesce(max(rnk), 1) % 2 = 1 AS allowed
        |FROM j GROUP BY 1, 2, 3, 4, 5
        |ORDER BY doc_id, link_idx""".stripMargin))
  )
}
