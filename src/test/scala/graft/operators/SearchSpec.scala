package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Inverted-index shapes and search ranking on planted fixtures —
  * the integer paths are also oracle-gated (q101/q102); BM25's float
  * ranking is gated here only.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark join spark"),
    (2L, "join the join table join"),
    (3L, "spark word"),
    (4L, "other words entirely")).toDF("doc_id", "text")

  private def tf = Search.termFrequencies(docs, "doc_id", "text")

  test("termFrequencies counts per (token, doc)") {
    val m = tf.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m(("spark", 1L)) === 2L)
    assert(m(("join", 2L)) === 3L)
    assert(!m.contains(("spark", 2L)))
  }

  test("invertedIndex: df/total_tf and tf-desc doc-asc postings") {
    val idx = Search.invertedIndex(tf, 10)
    val join = idx.filter(col("token") === "join").collect().head
    assert(join.getAs[Long]("df") === 2L)
    assert(join.getAs[Long]("total_tf") === 4L)
    val postings = join.getAs[scala.collection.Seq[Row]]("top_postings")
      .map(p => (p.getAs[Long]("tf"), p.getAs[Long]("doc_id"))).toSeq
    assert(postings == Seq((3L, 2L), (1L, 1L)))
  }

  test("postings tie on tf breaks by ascending doc id; k truncates") {
    val d = Seq((5L, "w"), (3L, "w"), (9L, "w")).toDF("doc_id", "text")
    val postings = Search
      .invertedIndex(Search.termFrequencies(d, "doc_id", "text"), 2)
      .collect().head.getAs[scala.collection.Seq[Row]]("top_postings")
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(postings == Seq(3L, 5L))
  }

  test("searchAll is conjunctive with integer tf-sum ranking") {
    val res = Search.searchAll(tf, Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // only doc1 contains BOTH terms; score = 2 + 1
    assert(res.toSeq == Seq((1L, 3L)))
  }

  test("bm25 ranks dense short matches first and skips non-matches") {
    val res = Search.bm25(tf, Seq("spark"), 10).collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // scores positive and strictly ordered (tf=2 beats tf=1 here:
    // doc1's length penalty doesn't overcome the extra occurrence)
    val scores = res.map(_.getDouble(1))
    assert(scores.forall(_ > 0))
    assert(scores(0) > scores(1))
  }

  test("bm25 idf suppresses ubiquitous terms relative to rare ones") {
    val d = Seq(
      (1L, "common rare"),
      (2L, "common x"), (3L, "common y"), (4L, "common z"))
      .toDF("doc_id", "text")
    val t = Search.termFrequencies(d, "doc_id", "text")
    val both = Search.bm25(t, Seq("common", "rare"), 10).collect()
    // doc1 matches both terms and must outrank single-term docs
    assert(both.head.getLong(0) === 1L)
  }

  test("bm25Ppm tracks the float bm25 ranking and scores to ~1e-4") {
    val floatR = Search.bm25(tf, Seq("spark", "join"), 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val ppmR = Search.bm25Ppm(tf, Seq("spark", "join"), 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // identical ranking order
    assert(ppmR.map(_._1).toSeq === floatR.map(_._1).toSeq)
    // ppm scores within 0.1% of 1e6× the float scores (fixed-point
    // truncation budget is ~2^-19 of log2 per idf term)
    floatR.zip(ppmR).foreach { case ((_, f), (_, p)) =>
      assert(math.abs(p - f * 1e6) <= f * 1e6 * 1e-3 + 2)
    }
  }

  test("FixedPoint.lnPpm matches Math.log to sub-0.01% over a sweep") {
    import graft.functions.FixedPoint
    val pairs = for {
      num <- Seq(1L, 2L, 3L, 7L, 100L, 999L, 65536L, 1000003L)
      den <- Seq(1L, 2L, 5L, 97L) if num >= den
    } yield (num, den)
    val got = pairs.toDF("num", "den")
      .select(col("num"), col("den"),
        FixedPoint.lnPpm(col("num"), col("den")).as("ln_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    pairs.foreach { case (n, d) =>
      val exact = math.log(n.toDouble / d) * 1e6
      // truncating kernel: always ≤ exact, within 0.01% + 3 ppm slack
      assert(got((n, d)) <= exact + 1)
      assert(got((n, d)) >= exact - exact.abs * 1e-4 - 3,
        s"ln($n/$d): got ${got((n, d))}, exact $exact")
    }
    assert(got((1L, 1L)) === 0L)
  }

  test("phraseSearch: adjacency chain, overlaps count, 3-term phrase") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b"),        // "a a" overlaps: positions 0 and 1
      (2L, "a b c a b c"),    // "a b c" twice, non-adjacent "a c" never
      (3L, "c b a"),          // reversed order is no match
      (4L, "")).toDF("doc_id", "text")
    val p = Search.positionalPostings(d, "doc_id", "text")
    val aa = Search.phraseSearch(p, Seq("a", "a"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(aa.toSeq === Seq((1L, 2L)))
    val abc = Search.phraseSearch(p, Seq("a", "b", "c"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(abc.toSeq === Seq((2L, 2L)))
    // single-token phrase degenerates to term tf
    val b1 = Search.phraseSearch(p, Seq("b"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(b1.toSeq.sorted === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("bestSnippet: max distinct coverage, ties to earliest start") {
    import spark.implicits._
    // doc 1: window 3 starting at pos 4 covers x+y+z; the earlier
    // x..y pair (pos 0,2) covers only 2 — coverage wins over position
    val d = Seq(
      (1L, "x q y q x y z"),
      (2L, "q q x q q"),      // single hit → n_terms 1 at that hit
      (3L, "q q q")).toDF("doc_id", "text")
    val p = Search.positionalPostings(d, "doc_id", "text")
    val got = Search.bestSnippet(p, Seq("x", "y", "z"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sorted === Seq((1L, 4L, 3L), (2L, 2L, 1L)))
    // tie case: two windows each covering 2 → earliest start wins
    val t = Seq((9L, "x y q q x y")).toDF("doc_id", "text")
    val tp = Search.positionalPostings(t, "doc_id", "text")
    val tg = Search.bestSnippet(tp, Seq("x", "y"), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tg === Seq((9L, 0L, 2L)))
  }

  test("postingCompression: exact LEB128 widths up to 60-bit ids") {
    // gaps planted at each width boundary: first posting stores its
    // absolute id (gap = id - 0). 60-bit hash doc ids (~2^59) must
    // cost 9 bytes, not the old 5-byte cap.
    val ids = Seq(
      1L,                      // gap 1            → 1 byte
      1L + (1L << 13),         // gap 2^13         → 2 bytes
      1L + (1L << 13) + (1L << 27), // gap 2^27    → 4 bytes
      (1L << 40),              // gap ~2^40        → 6 bytes
      (1L << 59))              // gap ~2^59        → 9 bytes
    val tf = ids.map(("tok", _, 1L)).toDF("token", "doc_id", "tf")
    val r = Search.postingCompression(tf).collect().head
    assert(r.getLong(1) === 5L) // df
    assert(r.getLong(3) === (1L + 2L + 4L + 6L + 9L)) // varint_bytes
  }


  test("sparseCosineJoin: exact cos² ppm, df cap prunes stop tokens") {
    // d1 ≡ d2 (cos 1), d3 shares only the ubiquitous token "the",
    // which df-caps away at maxDf=2 → d3 pairs with nobody
    val d = Seq(
      (1L, "the spark engine"), (2L, "the spark engine"),
      (3L, "the other text")).toDF("doc_id", "text")
    val t = Search.termFrequencies(d, "doc_id", "text")
    val got = Search.sparseCosineJoin(t, maxDf = 2, minCos2Ppm = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(6)))).toMap
    assert(got === Map((1L, 2L) -> ((2L, 1000000L))))
    // without the cap, d3 pairs through "the": dot=1, norms 3·3 →
    // cos² = 1/9 → 111111 ppm
    val all = Search.sparseCosineJoin(t, maxDf = 10, minCos2Ppm = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(6))
      .toMap
    assert(all((1L, 2L)) === 1000000L)
    assert(all((1L, 3L)) === 111111L && all((2L, 3L)) === 111111L)
    // threshold filters
    assert(Search.sparseCosineJoin(t, maxDf = 10, minCos2Ppm = 500000L)
      .count() === 1L)
  }

  test("rrfFuse sums integer ppm contributions across lists") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("doc_id", "rank")
    val out = Search.rrfFuse(Seq(a, b), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1000000/61 = 16393, 1000000/62 = 16129 (truncating division)
    assert(out.toSeq === Seq(
      (2L, 16393L + 16129L, 2L), // ranked in both lists — fused to top
      (1L, 16393L, 1L),
      (3L, 16129L, 1L)))
  }

  test("maxSimTopK: exact MaxSim over re-derived vectors; lexical gate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    // query 1: one in-vocab token + one out-of-vocab token (must
    // contribute 0, not null); doc 3 shares no token → not a
    // candidate regardless of vector similarity
    val queries = Seq((1L, "alpha"), (1L, "zz_unseen")).toDF("qid", "token")
    val got = Search.maxSimTopK(docs, "doc_id", "text", queries,
        dim = 4, salt = ":t", k = 10)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    // re-derive the hash vectors through the same public column fn,
    // then compute MaxSim independently in Scala
    val vecs = Seq("alpha", "beta", "gamma", "delta").toDF("token")
      .select(col("token"),
        Search.hashTokenVector(col("token"), 4, ":t").as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSeq).toMap
    def dot(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => x.toLong * y }.sum
    val qa = vecs("alpha")
    val exp1 = Seq("alpha", "beta").map(t => dot(qa, vecs(t))).max
    val exp2 = Seq("alpha", "gamma").map(t => dot(qa, vecs(t))).max
    assert(got === Map(1L -> exp1, 2L -> exp2))
  }

  test("maxSimTopKExternal == maxSimTopK when the table matches; " +
      "external plan reads parquet") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma gamma"), (3L, "delta"),
      (4L, "beta beta alpha delta"))
      .toDF("doc_id", "text")
    val queries = Seq((1L, "alpha"), (1L, "beta"), (2L, "gamma"))
      .toDF("qid", "token")
    SparkSpec.withTempDir("graft_msx_") { tmp =>
      docs.select(explode(TextAnalysis.tokens(lower(col("text"))))
          .as("token")).distinct()
        .withColumn("tv", Search.hashTokenVector(col("token"), 4, ":t"))
        .write.mode("overwrite").parquet(tmp.toString)
      val external = spark.read.parquet(tmp.toString)
      val viaExternal = Search.maxSimTopKExternal(docs, "doc_id",
        "text", queries, external, k = 10)
      val viaHash = Search.maxSimTopK(docs, "doc_id", "text", queries,
        dim = 4, salt = ":t", k = 10)
      assert(viaExternal.collect().toSeq === viaHash.collect().toSeq)
      // the zero-plan-change claim's other half: the external path's
      // vectors come from STORAGE (a parquet scan in the plan), not
      // from a re-derived projection
      assert(viaExternal.queryExecution.executedPlan.toString
        .contains("Scan parquet"))
      // an embedding table missing a token = OOV: that token simply
      // stops contributing (no null, no crash)
      val partial = spark.read.parquet(tmp.toString)
        .filter(col("token") =!= "beta")
      val viaPartial = Search.maxSimTopKExternal(docs, "doc_id",
          "text", queries, partial, k = 10)
        .filter(col("qid") === 1L).collect()
      assert(viaPartial.nonEmpty)
      assert(viaPartial.forall(!_.isNullAt(3)))
    }
  }
}
