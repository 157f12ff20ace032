package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  /** IVF-flat init: the first 8 corpus vectors as cells 0..7
    * (deterministic).
    */
  private def seedCells(e: DataFrame): Seq[(Int, Seq[Double])] =
    e.orderBy("vec_id").limit(8).collect().toSeq
      .map(_.getSeq[Float](1).map(_.toDouble)).zipWithIndex
      .map { case (c, i) => (i, c) }

  private def ivfIndex(e: DataFrame, cents: Seq[(Int, Seq[Double])]) =
    Similarity.insertIntoCells(e, "vec_id", "embedding", cents)

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    import spark.implicits._
    val df = Seq(
      ("orth", Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      ("same", Seq(1.0f, 2.0f), Seq(1.0f, 2.0f)),
      ("anti", Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f))
    ).toDF("k", "a", "b")
      .select(col("k"), round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df("orth") === 0.0)
    assert(df("same") === 1.0)
    assert(df("anti") === -1.0)
  }

  test("bruteForceTopK ranks by cosine with id tiebreak, excludes self") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),   // closest to 1
      (3L, Seq(0.0f, 1.0f)),   // orthogonal
      (4L, Seq(-1.0f, 0.0f))   // opposite
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") === 1), corpus, "vec_id", "embedding", 3)
      .orderBy("rn").collect().map(_.getLong(2))
    assert(top.toSeq === Seq(2L, 3L, 4L))
  }

  test("IVF ANN: cells partition the corpus; probes find same-cell neighbors") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = seedCells(e)
    val assigned = e.select(col("vec_id"),
        Similarity.kmAssign(col("embedding"), cents).as("cell"))
    val cells = assigned.groupBy("cell").count().collect()
    assert(cells.length > 1 && cells.length <= 8) // non-degenerate partition
    val queries = e.filter(col("vec_id") % 50 === 0)
    val got = Similarity.annTopKIvf(queries, ivfIndex(e, cents), "vec_id",
        "embedding", "cell", cents, 3, probes = 1)
      .collect()
    assert(got.nonEmpty)
    // every reported neighbor shares the query's cell
    val cellOf = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      assert(cellOf(r.getLong(0)) === cellOf(r.getLong(2)))
    }
  }

  test("multi-table ANN recall@3 beats single-probe on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = Similarity.annTopK(queries, e, "vec_id", "embedding",
        Similarity.hyperplanes(6, 64), 3, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = Similarity.annTopKMultiTable(queries, e, "vec_id", "embedding",
        Similarity.hyperplaneTables(8, 4, 64), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(got: Set[(Long, Long)]) =
      (exact intersect got).size.toDouble / exact.size
    // Random Gaussian corpus = worst case for LSH (neighbors are not
    // angularly separated from the crowd): multi-table must still
    // recover a majority; single-probe documents the trade.
    assert(recall(multi) >= 0.5, s"multi-table recall ${recall(multi)}")
    assert(recall(multi) > recall(single))
  }

  test("multi-probe IVF: recall grows with p") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") % 50 === 0)
    val cents = seedCells(e)
    val index = ivfIndex(e, cents)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def got(p: Int) = Similarity.annTopKIvf(queries, index, "vec_id",
        "embedding", "cell", cents, 3, probes = p)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(s: Set[(Long, Long)]) =
      (exact intersect s).size.toDouble / exact.size
    assert(recall(got(3)) > recall(got(1)),
      s"p=3 recall ${recall(got(3))} vs p=1 ${recall(got(1))}")
    assert(recall(got(8)) === 1.0) // probing every cell IS exact search
  }

  test("multi-probe LSH: p=1 stays in the own bucket; recall grows with p") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") % 50 === 0)
    val planes = Similarity.hyperplanes(6, 64)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def got(p: Int) = Similarity.annTopK(
        queries, e, "vec_id", "embedding", planes, 3, probes = p)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bucketOf = e.select(col("vec_id"),
        Similarity.hyperplaneBucket(col("embedding"), planes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(1).foreach { case (q, n) => assert(bucketOf(q) === bucketOf(n)) }
    def recall(s: Set[(Long, Long)]) =
      (exact intersect s).size.toDouble / exact.size
    // Gaussian corpus is LSH's worst case; the flip probes must still
    // strictly lift recall over the own-bucket probe
    assert(recall(got(3)) > recall(got(1)),
      s"p=3 recall ${recall(got(3))} vs p=1 ${recall(got(1))}")
  }

  test("kmeans: Lloyd iterations recover planted directional clusters") {
    import spark.implicits._
    // two tight clusters around orthogonal directions, init centroids
    // deliberately off-axis so refinement must actually move them
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Seq(10f, 0f, 0f) else Seq(0f, 10f, 0f)
      (i.toLong, base.zipWithIndex.map { case (v, d) =>
        v + ((i * 7 + d) % 5) * 0.1f
      })
    }.toDF("vec_id", "embedding")
    val init = Seq(0 -> Seq(1.0, 0.1, 0.0), 1 -> Seq(0.1, 1.0, 0.0))
    val cents = Similarity.kmeansIterate(vecs, "embedding", init, iters = 3)
    assert(cents.map(_._1) === Seq(0, 1))
    val c0 = cents(0)._2
    val c1 = cents(1)._2
    assert(c0(0) > 9 && c0(0) < 11 && c0(1) < 1) // x-cluster mean
    assert(c1(1) > 9 && c1(1) < 11 && c1(0) < 1) // y-cluster mean
    // a second run is bit-identical (quantized sums are order-free)
    assert(Similarity.kmeansIterate(vecs, "embedding", init, 3) === cents)
    // summary DataFrame agrees with the driver-side iterate
    val sum2 = Similarity.kmeansSummary(vecs, "embedding", init, iters = 3)
      .orderBy(col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(sum2.map(_._2) === Array(10L, 10L))
    assert(sum2.map(t => t._1.toInt -> t._3.toSeq).toSeq === cents)
  }

  test("kmeans: empty cells are dropped, iters=0 returns init") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val init = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(-1.0, 0.0))
    assert(Similarity.kmeansIterate(vecs, "embedding", init, 0) === init)
    val once = Similarity.kmeansIterate(vecs, "embedding", init, 1)
    assert(once.map(_._1) === Seq(0)) // nothing chose the -x centroid
  }

  test("int8 IVF: exact integer dot on lossless vectors; ranking holds") {
    import spark.implicits._
    // components in {-1, 0, 1}: maxabs = 1 ⇒ scale = 1/127 and
    // q = ±127/0 EXACTLY, so idot = 127² · dot and score = dot —
    // the quantization is lossless and the ranking fully predictable
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 1.0f, 0.0f)),   // dot 1 with query
      (3L, Seq(0.0f, 1.0f, 1.0f)),   // dot 0
      (4L, Seq(-1.0f, 0.0f, 1.0f))   // dot -1
    ).toDF("vec_id", "embedding")
    val cents = Seq(0 -> Seq(1.0, 0.0, 0.0)) // one cell: all co-located
    val got = Similarity.annTopKIvfInt8(
        corpus.filter(col("vec_id") === 1), corpus, "vec_id", "embedding",
        cents, 3)
      .orderBy(col("rn")).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.map(_._1).toSeq === Seq(2L, 3L, 4L))
    assert(got.map(_._2).toSeq === Seq(127L * 127, 0L, -127L * 127))
    // score = (scale_q·scale_c)·idot in THAT parenthesization:
    // (1/127)·(1/127) then ×127² lands one ulp below ±1.0
    val unit = (1.0 / 127) * (1.0 / 127) * (127L * 127).toDouble
    assert(got.map(_._3).toSeq === Seq(unit, 0.0, -unit))
  }

  test("int8 IVF tracks the full-precision IVF ranking on real embeddings") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = e.filter(col("vec_id") % 50 === 0)
    val cents = seedCells(e)
    val full = Similarity.annTopKIvf(queries, ivfIndex(e, cents), "vec_id",
        "embedding", "cell", cents, 3, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.annTopKIvfInt8(queries, e, "vec_id", "embedding",
        cents, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // int8 scoring ranks by un-normalized dot, full by cosine — on a
    // same-cell candidate set the top-3 overlap should still dominate
    val overlap = (full intersect quant).size.toDouble / full.size
    assert(overlap >= 0.5, s"int8 overlap $overlap vs full-precision IVF")
  }

  test("power iteration recovers the dominant direction, bit-stably") {
    import spark.implicits._
    // variance concentrated on x; minor noise on y; z empty
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(5f + (i % 3) * 0.1f, ((i * 7) % 5 - 2) * 0.1f, 0f))
    }.toDF("vec_id", "embedding")
    val v0 = Seq(0.5, 0.5, 0.5)
    val v = Similarity.powerIterationTop(vecs, "embedding", v0, iters = 3)
    assert(math.abs(v(0)) > 0.99, s"x must dominate: $v")
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    // bit-stable across runs (quantized sums are order-free)
    assert(Similarity.powerIterationTop(vecs, "embedding", v0, 3) === v)
    // the declarative summary's final round equals the driver fold
    val sum3 = Similarity.powerIterationSummary(vecs, "embedding", v0, 3)
      .orderBy(col("dim_idx")).collect().map(_.getDouble(2)).toSeq
    assert(sum3 === v)
    // iters = 0 returns the seed
    assert(Similarity.powerIterationTop(vecs, "embedding", v0, 0) === v0)
  }

  test("quantizeInt8: range, exact boundaries, zero vector, error bound") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(3.0f))).toDF("id", "v")
    val out = vecs
      .select(col("id"), Similarity.quantizeInt8(col("v")).as("s"))
      .select(col("id"), col("s.scale"), col("s.q"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getAs[scala.collection.Seq[Int]](2).toSeq)))
      .toMap
    val (s1, q1) = out(1L)
    assert(s1 === 1.0 / 127)
    // 0.5/(1/127) = 63.5 → 63; -1.0 → -127 exactly; 0.25 → 31.75 → 31
    assert(q1 == Seq(63, -127, 31))
    assert(out(2L) == ((0.0, Seq(0, 0, 0)))) // zero vector guarded
    assert(out(3L)._2 == Seq(127)) // |q| never exceeds 127
    // reconstruction error bounded by one quantization step
    q1.zip(Seq(0.5, -1.0, 0.25)).foreach { case (q, v) =>
      assert(math.abs(q * s1 - v) < s1)
    }
  }

  test("recallAtK: hits counted per query, misses stay visible") {
    import spark.implicits._
    val exact = Seq( // ground truth top-2 per query
      (1L, 10L), (1L, 11L),
      (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "neighbor_id")
    val ann = Seq( // q1 perfect, q2 half right, q3 entirely wrong
      (1L, 10L), (1L, 11L),
      (2L, 20L), (2L, 99L),
      (3L, 98L), (3L, 97L)).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(ann, exact, "query_id", "neighbor_id", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1000000L)),
      2L -> ((1L, 500000L)),
      3L -> ((0L, 0L)))) // zero-hit query still present
  }

  test("semDedup collapses near-centroid members to the min id") {
    import spark.implicits._
    // one hyperplane (x-axis): sign of v[0] splits the space in two
    val planes = Seq(Seq(1.0, 0.0))
    // ids 5, 6, 7 identical (exactly quantizable, centroid == vector,
    // cos = 1); id 9 alone in the negative half-space
    val df = Seq(
      (5L, Seq(1.0f, 0.0f)), (6L, Seq(1.0f, 0.0f)), (7L, Seq(1.0f, 0.0f)),
      (9L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    def run(t: Long): Map[Long, (Long, Boolean)] =
      Similarity.semDedup(df, "vec_id", "embedding", planes, dim = 2,
          thresholdPpm = t)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap

    val got = run(900000L)
    // the exact-dup trio scores cos_ppm = 1e6 ≥ T: min id survives
    assert(got(5L) === ((1000000L, true)))
    assert(got(6L) === ((1000000L, false)))
    assert(got(7L) === ((1000000L, false)))
    // a singleton bucket is its own centroid and keeper
    assert(got(9L) === ((1000000L, true)))

    // unreachable threshold: nothing collapses
    assert(run(1000001L).values.forall(_._2))
  }

  test("overlapCurve counts prefix intersections per depth, zero-hit queries stay") {
    import spark.implicits._
    val exact = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 21L, 2L), (2L, 22L, 3L)
    ).toDF("query_id", "neighbor_id", "rn")
    val ann = Seq(
      // q1: rank-1 wrong, then exact's #1 at rank 2, #3 at rank 3
      (1L, 99L, 1L), (1L, 10L, 2L), (1L, 12L, 3L),
      // q2: nothing right
      (2L, 98L, 1L), (2L, 97L, 2L), (2L, 96L, 3L)
    ).toDF("query_id", "neighbor_id", "rn")
    val got = Similarity.overlapCurve(ann, exact, "query_id",
        "neighbor_id", "rn", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === Map(
      (1L, 1L) -> 0L,  // prefix-1 disjoint
      (1L, 2L) -> 1L,  // 10 in both prefixes at depth 2
      (1L, 3L) -> 2L,  // + 12
      (2L, 1L) -> 0L, (2L, 2L) -> 0L, (2L, 3L) -> 0L))
  }

  test("hardNegatives skips same-label neighbors however close") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), "A"),   // the query itself
      (2L, Seq(1.0f, 0.0f), "A"),   // identical but same label → excluded
      (3L, Seq(0.8f, 0.6f), "B"),   // cos 0.8 → rank 1
      (4L, Seq(0.0f, 1.0f), "B"),   // cos 0   → rank 2
      (5L, Seq(-1.0f, 0.0f), "C")   // cos -1  → rank 3
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
        corpus.filter($"vec_id" === 1L), corpus,
        "vec_id", "embedding", "label", 3)
      .collect().map(r => (r.getLong(2), r.getLong(3))) // (rn, neighbor)
    assert(got.toSeq === Seq((1L, 3L), (2L, 4L), (3L, 5L)))
  }

  test("binarizeSign packs strict-positive bits, 32 per word, nulls clear") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // dim 40 → 2 words (second holds 8 bits); element 0 pos, 1 neg,
    // 2 zero, 3 null, bit 31 set, bit 39 (word 1 bit 7) set
    val v: Seq[Any] = Seq.tabulate[Any](40) {
      case 0  => 1.0f
      case 1  => -1.0f
      case 2  => 0.0f
      case 3  => null
      case 31 => 0.5f
      case 39 => 2.0f
      case _  => -0.1f
    }
    val schema = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(v)), schema)
    val got = df.select(Similarity.binarizeSign(col("v"), 40).as("w"))
      .collect()(0).getSeq[Long](0)
    assert(got === Seq(1L | (1L << 31), 1L << 7))
  }

  test("hammingDistance equals naive sign-disagreement count") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val vecs = Seq.fill(20)(Seq.fill(64)(rnd.nextGaussian().toFloat))
    val naive = (a: Seq[Float], b: Seq[Float]) =>
      a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }.toLong
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val b = df.select(col("vec_id"),
      Similarity.binarizeSign(col("embedding"), 64).as("w"))
    val got = b.as("a").join(b.as("c"),
        col("a.vec_id") < col("c.vec_id"))
      .select(col("a.vec_id"), col("c.vec_id"),
        Similarity.hammingDistance(col("a.w"), col("c.w")).as("h"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    for (((i, j), h) <- got)
      assert(h === naive(vecs(i), vecs(j)), s"pair ($i,$j)")
  }

  test("hammingTopK ranks a planted same-sign vector first at distance 0") {
    import spark.implicits._
    val base = Seq.tabulate(64)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val clone = base.map(_ * 0.5f)           // same signs → hdist 0
    val flipped = base.map(-_)               // all signs differ → 64
    val df = Seq((0L, base), (1L, clone), (2L, flipped))
      .toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(
        df.filter(col("vec_id") === 0), df, "vec_id", "embedding", 64, 2)
      .orderBy("rn").collect()
    assert(got.map(_.getLong(2)).toSeq === Seq(1L, 2L))
    assert(got.map(_.getLong(3)).toSeq === Seq(0L, 64L))
  }

  test("pqTrain refines member means per subspace; empty cells keep seed") {
    import spark.implicits._
    val init = Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)),  // subspace 0
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))  // subspace 1
    val df = Seq(
      (1L, Seq(0.9f, 1.1f, 9.5f, 10.5f)),
      (2L, Seq(1.1f, 0.9f, 10.5f, 9.5f)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "embedding", init)
    // subspace 0: both rows assign cell 0 → refined ≈ (1.0, 1.0);
    // cell 1 empty → keeps seed. Subspace 1: both assign cell 1.
    assert(books(0)(0).zip(Seq(1.0, 1.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-5 })
    assert(books(0)(1) === Seq(10.0, 10.0))
    assert(books(1)(0) === Seq(0.0, 0.0))
    assert(books(1)(1).zip(Seq(10.0, 10.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-5 })
    // encode matches cluster membership
    val codes = df.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(1L) === Seq(0, 1) && codes(2L) === Seq(0, 1))
  }

  test("pqAdcTopK retrieves the same-cluster neighbor first") {
    import spark.implicits._
    val init = Seq(
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)),
      Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val df = Seq(
      (1L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Seq(1.2f, 0.8f, 1.1f, 0.9f)),    // 1's cluster-mate
      (3L, Seq(9.0f, 9.0f, 9.0f, 9.0f)),
      (4L, Seq(9.2f, 8.8f, 9.1f, 8.9f)))    // 3's cluster-mate
      .toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(df, "embedding", init)
    val got = Similarity.pqAdcTopK(
        df.filter(col("vec_id") === 1), df, "vec_id", "embedding", books, 3)
      .orderBy("rn").collect().map(_.getLong(2))
    assert(got.head === 2L) // ADC: nearest coded vector is the cluster-mate
  }

  test("centroidOutliers flags the planted off-cluster vector first") {
    import spark.implicits._
    // label 0: three tight vectors near (1,0,0,0) plus one planted
    // near-orthogonal outlier; label 1: its own tight cluster
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, 0, Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (4L, 0, Seq(0.0f, 0.0f, 1.0f, 0.0f)), // outlier
      (5L, 1, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (6L, 1, Seq(0.0f, 0.95f, 0.05f, 0.0f)))
      .toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val got = Similarity.centroidOutliers(df, "vec_id", "embedding",
        "label", dim = 4, bottomK = 2)
      .orderBy("label", "rn").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // label 0's rank-1 outlier must be the planted vec 4
    assert(got.take(2).map(_._3).head === 4L)
    assert(got.count(_._1 == 0) === 2 && got.count(_._1 == 1) === 2)
  }

  test("mrrAtK: rank of the true NN, ppm reciprocal, 0 on a miss") {
    import spark.implicits._
    // exact: true NN per query; ann: q1 has it at rank 2, q2 at rank 1,
    // q3 missed it entirely
    val exact = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L),
      (1L, 2L, 11L), (2L, 2L, 21L))
      .toDF("query_id", "rn", "neighbor_id")
    val ann = Seq((1L, 1L, 99L), (1L, 2L, 10L), (2L, 1L, 20L),
      (3L, 1L, 77L), (3L, 2L, 78L))
      .toDF("query_id", "rn", "neighbor_id")
    val got = Similarity.mrrAtK(ann, exact)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (1L, 500000L, true),   // rank 2 -> 1e6 div 2
      (2L, 1000000L, true),  // rank 1
      (3L, 0L, false)))      // miss
  }

  test("signDiversity closed form equals brute-force pairwise Hamming") {
    import spark.implicits._
    val vecs = Seq(
      Seq(1.0f, -1.0f, 0.5f, 0.0f),
      Seq(-1.0f, 2.0f, 0.1f, -3.0f),
      Seq(0.5f, 0.5f, -0.5f, 1.0f),
      Seq(-0.1f, -0.2f, 0.3f, 0.4f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.signDiversity(df, "embedding").collect().head
    // brute force over all C(4,2) pairs on the strict-positive bits
    def bits(v: Seq[Float]) = v.map(x => if (x > 0f) 1 else 0)
    val brute = (for {
      i <- vecs.indices; j <- vecs.indices if i < j
    } yield bits(vecs(i)).zip(bits(vecs(j))).count(p => p._1 != p._2))
      .sum.toLong
    assert(got.getAs[Long]("sum_hamming") === brute)
    assert(got.getAs[Long]("n_vecs") === 4L)
    assert(got.getAs[Long]("mean_hamming_milli") === brute * 1000L / 6L)
    // single vector: zero pairs, mean defined as 0
    val one = Similarity.signDiversity(
      df.limit(1), "embedding").collect().head
    assert(one.getAs[Long]("sum_hamming") === 0L &&
      one.getAs[Long]("mean_hamming_milli") === 0L)
  }

  test("bitextMineMargin: margin demotes the hub, mutual flags reciprocal best") {
    import spark.implicits._
    // tgt 10 is a HUB: moderately close to every source. tgt 11 is
    // src 0's genuine translation (near-parallel), tgt 13 is src 2's.
    // Raw cosine would still pick the right pair here, but the margin
    // RATIO is what separates genuine pairs (cos ≫ its k-NN mean)
    // from hub pairs (cos ≈ its k-NN mean, ratio ≈ 1).
    val src = Seq(
      (0L, Seq(1.0f, 0.1f, 0.5f)),
      (2L, Seq(0.0f, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (10L, Seq(0.5f, 0.5f, 0.5f)),    // hub
      (11L, Seq(1.0f, 0.12f, 0.5f)),   // ≈ src 0
      (13L, Seq(0.05f, 1.0f, 0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMineMargin(src, tgt, "vec_id",
        "embedding", k = 2)
      .orderBy("src_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(got.toSeq === Seq((0L, 11L, true), (2L, 13L, true)))
    // margins of the winning pairs exceed 1 (cos above own k-NN mean)
    val m = Similarity.bitextMineMargin(src, tgt, "vec_id",
        "embedding", k = 2)
      .collect().map(r => r.getDouble(3))
    assert(m.forall(_ > 1.0))
  }

  test("kCenterGreedy: hand-traced selection with dup and ties") {
    import spark.implicits._
    // int8-quantized codes: axis vectors → (127,0,..); id4 duplicates
    // id1 (dist 0, must never be selected); id5 = (0.5,0.5,0,0)
    // normalizes to (127,127,0,0)
    val df = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(1f, 0f, 0f, 0f)),
      (5L, Seq(0.5f, 0.5f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(df, "vec_id", "embedding", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // seed = min id; then farthest-first: id2 and id3 both at
    // 2·127² = 32258 (tie → smaller id), then id5 at 127² = 16129;
    // the duplicate id4 (dist 0) is never chosen
    assert(got === Seq((0L, 1L, 0L), (1L, 2L, 32258L),
      (2L, 3L, 32258L), (3L, 5L, 16129L)))
  }

  // Residual IVF-PQ fixture: two coarse cells at −100 and +100 on
  // every axis (the coarse assignment is COSINE, so cells must not
  // sit at the origin); residuals are small integer offsets, exactly
  // representable in doubles.
  private val IvfPqCents: Seq[(Int, Seq[Double])] = Seq(
    0 -> Seq(-100.0, -100.0, -100.0, -100.0),
    1 -> Seq(100.0, 100.0, 100.0, 100.0))

  test("ivfResiduals: cell + residual reconstructs the vector") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(-98.0, -101.0, -100.0, -97.0)),
      (2L, Seq(101.0, 98.0, 100.0, 102.0))).toDF("vec_id", "v")
    val got = Similarity.ivfResiduals(df, "vec_id", "v", IvfPqCents)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Double](2).toSeq))).toMap
    assert(got(1L) === ((0, Seq(2.0, -1.0, 0.0, 3.0))))
    assert(got(2L) === ((1, Seq(1.0, -2.0, 0.0, 2.0))))
  }

  test("ivfPqAdcTopK: exact codebooks make ADC the true same-cell L2") {
    import spark.implicits._
    // codebooks (M=2, sub=2) hold EVERY residual subvector occurring
    // in the fixture, so pqEncode is lossless and the asymmetric
    // distance equals the exact ‖q − x‖² (the shared coarse centroid
    // cancels) — ranking must match the hand-computed order
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(2.0, -1.0), Seq(1.0, -2.0), Seq(5.0, 5.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 3.0), Seq(0.0, 2.0), Seq(5.0, 5.0)))
    val corpus = Seq(
      (1L, Seq(-98.0, -101.0, -100.0, -97.0)),  // cell 0, res (2,-1,0,3)
      (2L, Seq(-100.0, -100.0, -100.0, -100.0)), // cell 0, res 0
      (3L, Seq(101.0, 98.0, 100.0, 102.0)))      // cell 1 — never probed
      .toDF("vec_id", "v")
    val coded = Similarity.ivfPqEncode(corpus, "vec_id", "v",
      IvfPqCents, cb)
    val q = Seq((9L, Seq(-99.0, -102.0, -100.0, -98.0)))
      .toDF("vec_id", "v") // cell 0, res (1,-2,0,2)
    val got = Similarity.ivfPqAdcTopK(q, coded, "vec_id", "v",
        IvfPqCents, cb, probes = 1, k = 3)
      .orderBy(col("rn")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // ‖q−x1‖² = 1+1+0+1 = 3; ‖q−x2‖² = 1+4+0+4 = 9; x3 not probed
    assert(got === Seq((1L, 1L, 3.0), (2L, 2L, 9.0)))
  }

  test("ivfPqAdcTopK: probing the runner-up cell recovers its rows") {
    import spark.implicits._
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, -2.0)),
      Seq(Seq(0.0, 0.0), Seq(0.0, 2.0)))
    val corpus = Seq(
      (2L, Seq(-100.0, -100.0, -100.0, -100.0)),
      (3L, Seq(100.0, 100.0, 100.0, 100.0))).toDF("vec_id", "v")
    val coded = Similarity.ivfPqEncode(corpus, "vec_id", "v",
      IvfPqCents, cb)
    val q = Seq((9L, Seq(-99.0, -102.0, -100.0, -98.0)))
      .toDF("vec_id", "v")
    def served(p: Int) = Similarity.ivfPqAdcTopK(q, coded, "vec_id",
        "v", IvfPqCents, cb, probes = p, k = 5)
      .collect().map(_.getLong(2)).toSet
    assert(served(1) === Set(2L))
    assert(served(2) === Set(2L, 3L))
  }

  test("jlProjectInt: md5-derived signs, exact sums, linearity") {
    import spark.implicits._
    // recompute the sign matrix with an independent md5 rendering
    def sign(i: Int, j: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j:s".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
      if (h % 2 == 0) 1L else -1L
    }
    val v = Seq(3, -7, 11, 2)
    val expected = (1 to 3).map(j =>
      (1 to 4).map(i => sign(i, j) * v(i - 1)).sum)
    val df = Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "code")
    val got = df.select(col("vec_id"),
        Similarity.jlProjectInt(col("code"), 4, 3, ":s").as("y"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got(1L) === expected)
    // sign-flip linearity: project(−v) = −project(v)
    assert(got(2L) === expected.map(-_))
  }

  test("sq8Train/sq8Encode: affine 0..255 codes, degenerate dims") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(-10, 0, 7)),
      (2L, Seq(10, 0, 7)),
      (3L, Seq(0, 0, 7))).toDF("vec_id", "v")
    val ranges = Similarity.sq8Train(df, "v", 3)
    assert(ranges === Seq((-10L, 10L), (0L, 0L), (7L, 7L)))
    val got = df.select(col("vec_id"),
        Similarity.sq8Encode(col("v"), ranges).as("sq"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    // dim 1: −10→0, 0→(10·255) div 20 = 127, 10→255; constant dims
    // (span 0, guarded to 1) encode 0 everywhere
    assert(got(1L) === Seq(0, 0, 0))
    assert(got(2L) === Seq(255, 0, 0))
    assert(got(3L) === Seq(127, 0, 0))
  }
}
