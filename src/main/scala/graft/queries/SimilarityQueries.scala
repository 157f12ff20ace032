package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Similarity, TopK}
import graft.queries.Fixtures.scratchDir

/** q31–q32, q39: similarity search over the embeddings table — exact
  * brute-force cosine top-k, the LSH-bucketed ANN variant, and
  * embedding-cosine near-dup. All oracle-gated: scores are strict
  * left-to-right double reductions and the hyperplanes are
  * interpolated verbatim into the DuckDB SQL, so even the APPROXIMATE
  * paths are bit-reproducible.
  *
  * Null elements: DotProductF scores a null element as 0 by
  * contract, and the oracle mirrors that with `coalesce(x, 0)` at the
  * vector definition, so a null embedding element scores identically
  * (DuckDB's raw list fold would NULL-propagate without it).
  */
object SimilarityQueries extends QueryPack {

  /** DuckDB rendition of [[Similarity.dot]]: [0.0] seed + left fold,
    * exactly Spark's `aggregate(zip_with(...), 0.0, +)`.
    */
  private[queries] def dd(a: String, b: String) =
    s"list_reduce([0.0] || list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  private[queries] def cosSql(a: String, b: String) =
    // zero-norm guard mirrors Similarity.cosine/cosineNative
    s"""CASE WHEN sqrt(${dd(a, a)}) * sqrt(${dd(b, b)}) = 0 THEN 0.0
       | ELSE ${dd(a, b)} / (sqrt(${dd(a, a)}) * sqrt(${dd(b, b)})) END""".stripMargin
      .replaceAll("\n", "")

  private val Planes = Similarity.hyperplanes(planes = 6, dim = 64)

  /** ONE rendering of the LSH bucket expression for every oracle that
    * mirrors [[Similarity.hyperplaneBucket]] — q32, q39 and q56 must
    * never drift apart.
    */
  private def bucketSqlFor(v: String, planes: Seq[Seq[Double]]): String = {
    val planeLits = planes.map(p => p.mkString("([", ", ", "]::DOUBLE[])"))
    planeLits.zipWithIndex.map { case (pl, j) =>
      s"(CASE WHEN ${dd(v, pl)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
  }

  private def bucketSql(v: String): String = bucketSqlFor(v, Planes)

  /** Fixed-seed structures for the approximate paths (same discipline
    * as `Planes`: the seed is part of the spec, the oracle
    * interpolates the identical constants).
    */
  private val MultiTables = Similarity.hyperplaneTables(
    tables = 3, planesPerTable = 4, dim = 64)

  private val Centroids: Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(4242L)
    Seq.fill(8)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  /** k-means init = the q57 seed centroids, widened (q84 trains the
    * quantizer q57 probes).
    */
  private val KmInit: Seq[(Int, Seq[Double])] =
    Centroids.zipWithIndex.map { case (c, i) => (i, c.map(_.toDouble)) }

  /** Top-3 IVF serve of `queries` over `e`, indexed against the seed
    * centroids — the configuration q57 and q437 (one probe) and the
    * q121 family (three probes) gate.
    */
  private def ivfTop3(queries: DataFrame, e: DataFrame,
      probes: Int): DataFrame =
    Similarity.annTopKIvf(queries,
      Similarity.insertIntoCells(e, "vec_id", "embedding", KmInit),
      "vec_id", "embedding", "cell", KmInit, 3, probes)

  /** SemDeDup proximity threshold (ppm): calibrated so the sf0.01
    * corpus lands on both sides — near-centroid members collapse,
    * far members survive (the gate would be vacuous at 0 or 1e6).
    */
  private val SemDedupT: Long = 600000L

  /** Fixed-seed start vector for the q132 power-iteration trainer. */
  private val PiInit: Seq[Double] = {
    val rnd = new scala.util.Random(777L)
    Seq.fill(64)(rnd.nextGaussian())
  }

  /** PQ geometry for q211/q212: 4 subspaces × 16 dims, 4 cells each,
    * fixed-seed gaussian seed codebooks (the seed is part of the
    * spec; the oracle interpolates the identical doubles).
    */
  private val PqM = 4
  private val PqSub = 16
  private val PqInit: Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(9090L)
    Seq.fill(PqM)(Seq.fill(4)(Seq.fill(PqSub)(rnd.nextGaussian())))
  }

  private def dlit(c: Seq[Double]): String =
    c.mkString("([", ", ", "]::DOUBLE[])")

  /** 32-bit packed sign-word SQL for word `w` of a 64-dim vector —
    * literal shift weights, the [[bucketSqlFor]] rendering discipline
    * (Similarity.binarizeSign mirrored bit for bit).
    */
  private def signWordSql(v: String, w: Int): String =
    (0 until 32).map { i =>
      s"(CASE WHEN $v[${32 * w + i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** DuckDB rendition of Similarity.l2sq over v[off+1 .. off+PqSub]
    * vs a centroid list expression: [0.0]-seeded left fold of
    * (x-c)·(x-c) — exactly Spark's aggregate(zip_with(...)).
    */
  private def l2Sql(vExpr: String, off: Int, cExpr: String): String =
    s"list_reduce([0.0] || list_transform(range(1, ${PqSub + 1}), " +
      s"i -> ($vExpr[i + $off] - $cExpr[i]) * ($vExpr[i + $off] - $cExpr[i])), " +
      "(acc, x) -> acc + x)"

  /** Subspace-`mi` nearest-cell CASE against literal centroids; ties
    * to the LOWER cell id (Similarity.pqArgmin's array_min struct
    * ordering).
    */
  private def pqArgminSql(vExpr: String, mi: Int,
      cents: Seq[Seq[Double]]): String = {
    val ds = cents.map(c => l2Sql(vExpr, mi * PqSub, dlit(c)))
    ds.init.zipWithIndex.map { case (d, i) =>
      val rest = ds.drop(i + 1)
      val least =
        if (rest.size == 1) rest.head
        else rest.mkString("least(", ", ", ")")
      s"WHEN ($d) <= $least THEN $i"
    }.mkString("CASE ", " ", s" ELSE ${ds.size - 1} END")
  }

  /** The shared q211/q212 CTE chain, one block per subspace: assign
    * against the seed (a), refine via quantized long sums (g → c),
    * seed-fallback for empty cells (r), re-encode against the refined
    * rows (enc). Mirrors Similarity.pqTrain + pqEncode exactly.
    */
  private lazy val pqCtes: String =
    (0 until PqM).map { mi =>
      val sums = (0 until PqSub).map(d =>
        s"SUM(CAST(floor(v[${mi * PqSub + d + 1}] * 1048576.0) AS BIGINT)) AS s$d")
        .mkString(", ")
      val clist = (0 until PqSub).map(d =>
        s"CAST(s$d AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0)")
        .mkString("[", ", ", "]")
      val seeds = PqInit(mi).zipWithIndex
        .map { case (c, i) => s"($i, ${dlit(c)})" }.mkString(", ")
      s"""a$mi AS (SELECT vec_id, v, ${pqArgminSql("v", mi, PqInit(mi))} AS cell FROM e),
      |g$mi AS (SELECT cell, count(*) AS n, $sums FROM a$mi GROUP BY cell),
      |c$mi AS (SELECT cell, $clist AS c FROM g$mi),
      |r$mi AS (SELECT sd.cell, coalesce(c$mi.c, sd.sc) AS c
      |  FROM (VALUES $seeds) sd(cell, sc) LEFT JOIN c$mi USING (cell)),
      |enc$mi AS (SELECT vec_id, cell AS code FROM (
      |  SELECT a.vec_id, r.cell,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY ${l2Sql("a.v", mi * PqSub, "r.c")} ASC, r.cell ASC) AS rn
      |  FROM e a CROSS JOIN r$mi r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** DuckDB literal of a float centroid: the WIDENED double value
    * (Float.toString would re-parse to a different double).
    */
  private def centroidLit(c: Seq[Float]): String =
    c.map(_.toDouble).mkString("([", ", ", "]::DOUBLE[])")

  /** Null-safe vectors. Spark side: a NO-OP — every consumer
    * (cosineNative, hyperplaneBucket, kmAssign) runs through
    * DotProductF, whose contract already scores a null ELEMENT as 0,
    * so a fillNullZero transform would be a redundant interpreted
    * array materialization per row per use (it was the last
    * CodegenFallback in the similarity plans). The DuckDB side keeps
    * the explicit coalesce — its list fold would NULL-propagate.
    */
  private def vec(c: Column): Column = c
  private[queries] val vSql =
    "list_transform(embedding, x -> coalesce(x, 0))::DOUBLE[]"

  /** ONE rendering of the IVF cell-assignment expression (argmax with
    * ties to the HIGHER index, mirroring assignCellPortable's array_max
    * struct ordering) — shared by the q57/q84/q126 oracles.
    */
  private def cellSqlFor(v: String): String = {
    val cosPerCentroid = Centroids.map(c => cosSql(v, centroidLit(c)))
    cosPerCentroid.zipWithIndex.reverse.init.map { case (c, i) =>
      val lower = cosPerCentroid.take(i).mkString("greatest(", ", ", ")")
      s"WHEN ($c) >= $lower THEN $i"
    }.mkString("CASE ", " ", " ELSE 0 END")
  }

  /** Shared q39/q89 pair generation (one definition — the gates must
    * see the identical edge set): bucket equi-join candidates, exact
    * cosine ≥ 0.4 verification. Returns (id_a, id_b, cos).
    */
  private def embedNearDupPairs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), vec(col("embedding")).as("embedding"))
    val b = e.select(col("vec_id"), col("embedding"),
      Similarity.hyperplaneBucket(col("embedding"), Planes).as("bucket"))
    val a = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("va"))
    val c = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("vb"))
    a.join(c, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosineNative(col("va"), col("vb")))
      .filter(col("cos") >= 0.4)
  }

  /** The matching DuckDB CTE body (e → buckets → verified pairs). */
  private lazy val embedPairsCte: String =
    s"""e AS (
      |  SELECT vec_id, $vSql AS v FROM embeddings),
      |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
      |p AS (
      |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
      |         ${cosSql("a.v", "b2.v")} AS cos
      |  FROM b a JOIN b b2 USING (bucket) WHERE a.vec_id < b2.vec_id)""".stripMargin

  def defs: Map[String, Q] = Map(
    // Exact baseline: every ~100th vector queries the whole corpus.
    "q31_cosine_topk" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.bruteForceTopK(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding", 5)
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         ${cosSql("qv", "v")} AS cos
        |  FROM q JOIN e ON q.query_id <> e.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cos,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM s)
        |SELECT query_id, rn, neighbor_id, cos AS cosine
        |FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    // Semantic decontamination: every eval item's nearest TRAIN
    // neighbor by exact cosine, flagged at ≥ 0.99 — the embedding-
    // space complement of the q83 token-overlap contamination check
    // (planted near-identical vectors crossing the split are exactly
    // what token n-grams can miss after paraphrase). Brute force is
    // the exact baseline; the ANN paths (q32/q57) are the scale
    // route with recall gated by q154.
    "q362_semantic_decontam" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.bruteForceTopK(
            e.filter(col("vec_id") % 50 === 0),
            e.filter(col("vec_id") % 50 =!= 0),
            "vec_id", "embedding", 1)
          .withColumn("contaminated", col("cosine") >= 0.99)
          .orderBy(col("query_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e
        |      WHERE vec_id % 50 = 0),
        |t AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0),
        |s AS (SELECT q.query_id, t.vec_id AS neighbor_id,
        |       ${cosSql("qv", "v")} AS cos
        |  FROM q JOIN t ON q.query_id <> t.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |       row_number() OVER (PARTITION BY query_id
        |         ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM s)
        |SELECT query_id, CAST(rn AS BIGINT) AS rn, neighbor_id,
        |  cos AS cosine, cos >= 0.99 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY query_id""".stripMargin)),

    // Scale path: 6-plane LSH buckets (64-way fan-out), single-probe.
    "q32_ann_lsh" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.annTopK(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            Planes, 3, probes = 1)
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH e AS (
        |  SELECT vec_id, $vSql AS v FROM embeddings),
        |b AS (
        |  SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id % 100 = 0),
        |s AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         ${cosSql("qv", "v")} AS cos
        |  FROM q JOIN b USING (bucket) WHERE q.query_id <> b.vec_id),
        |r AS (
        |  SELECT query_id, neighbor_id, cos,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM s)
        |SELECT query_id, rn, neighbor_id, cos AS cosine
        |FROM r WHERE rn <= 3
        |ORDER BY query_id, rn""".stripMargin)),

    // Embedding-cosine near-dup: pairs within the same LSH bucket
    // whose cosine clears the dedup threshold — the vector analog of
    // MinHash near-dup (candidate generation is the bucket equi-join,
    // verification is exact cosine; at 100 TB the bucket join bounds
    // the pair count).
    "q39_embed_near_dup" -> Q(
      (s, dir) => embedNearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("cos").as("cosine"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH $embedPairsCte
        |SELECT id_a, id_b, cos AS cosine
        |FROM p WHERE cos >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)),

    // Embedding dedup GROUPS: the vector analog of q78/q86 — collapse
    // the q39 near-dup pair set into connected components with min-id
    // canonicals. Same propagation operator, same recursive-closure
    // oracle discipline, over the cosine edge set.
    "q89_embed_dedup_groups" -> Q(
      (s, dir) => graft.operators.Dedup.dedupGroups(
          embedNearDupPairs(s, dir).select(col("id_a"), col("id_b")))
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE $embedPairsCte,
        |jp AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
        |ee AS (SELECT id_a AS src, id_b AS dst FROM jp
        |       UNION ALL SELECT id_b, id_a FROM jp),
        |reach AS (
        |  SELECT src, dst FROM ee
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ee e2 ON r.dst = e2.src)
        |SELECT src AS id, least(src, min(dst)) AS canonical_id,
        |  CAST(src = least(src, min(dst)) AS INT) AS is_keeper
        |FROM reach GROUP BY src
        |ORDER BY id""".stripMargin)),

    // Same component collapse through the LOG-ROUND large-star/
    // small-star operator (the deep-chain-safe variant) — gated
    // against the identical recursive-closure oracle as q89, proving
    // the two connected-components implementations agree on a real
    // edge set.
    "q123_dedup_groups_logstar" -> Q(
      (s, dir) => graft.operators.Dedup.dedupGroupsLogRounds(
          embedNearDupPairs(s, dir).select(col("id_a"), col("id_b")))
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE $embedPairsCte,
        |jp AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
        |ee AS (SELECT id_a AS src, id_b AS dst FROM jp
        |       UNION ALL SELECT id_b, id_a FROM jp),
        |reach AS (
        |  SELECT src, dst FROM ee
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ee e2 ON r.dst = e2.src)
        |SELECT src AS id, least(src, min(dst)) AS canonical_id,
        |  CAST(src = least(src, min(dst)) AS INT) AS is_keeper
        |FROM reach GROUP BY src
        |ORDER BY id""".stripMargin)),

    // Multi-table LSH ANN: candidate when buckets match in ANY of the
    // 3 tables (union-of-probes recall lift), deduped before scoring —
    // the oracle's UNION performs the same dedup.
    "q56_ann_multitable" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.annTopKMultiTable(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            MultiTables, 3)
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val perTable = MultiTables.map { planes =>
          s"""SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id
             |  FROM e a JOIN e c
             |    ON ${bucketSqlFor("a.v", planes)} = ${bucketSqlFor("c.v", planes)}
             |  WHERE a.vec_id % 100 = 0 AND a.vec_id <> c.vec_id""".stripMargin
        }.mkString("\n  UNION\n  ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |cand AS (
          |  $perTable),
          |s AS (
          |  SELECT cand.query_id, cand.neighbor_id,
          |         ${cosSql("q.v", "c.v")} AS cos
          |  FROM cand
          |  JOIN e q ON q.vec_id = cand.query_id
          |  JOIN e c ON c.vec_id = cand.neighbor_id),
          |r AS (
          |  SELECT query_id, neighbor_id, cos,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // IVF-flat ANN: nearest-centroid cell assignment (argmax with the
    // higher-index tiebreak of array_max over (score, index) structs),
    // probe only the query's own cell.
    "q57_ann_ivf" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        ivfTop3(e.filter(col("vec_id") % 100 === 0), e, probes = 1)
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, v, $cellSql AS cell FROM e),
          |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM b WHERE vec_id % 100 = 0),
          |s AS (
          |  SELECT q.query_id, b.vec_id AS neighbor_id,
          |         ${cosSql("qv", "v")} AS cos
          |  FROM q JOIN b USING (cell) WHERE q.query_id <> b.vec_id),
          |r AS (
          |  SELECT query_id, neighbor_id, cos,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Multi-probe IVF ANN: each query probes its 3 nearest cells (not
    // just the argmax cell) — the recall lift over q57's single probe.
    // The oracle replays cell ranking with a window over a
    // centroid-VALUES cross join: rn = 1 is the corpus assignment,
    // rn <= 3 are the query probes — both ordered (cos DESC, cell
    // DESC), exactly kmAssign/assignCells' tiebreak.
    "q121_ann_ivf_multiprobe" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        ivfTop3(e.filter(col("vec_id") % 100 === 0), e, probes = 3)
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val centValues = Centroids.zipWithIndex
          .map { case (c, i) => s"($i, ${centroidLit(c)})" }.mkString(", ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |cent AS (SELECT * FROM (VALUES $centValues) AS t(cell, c)),
          |sc AS (SELECT e.vec_id, e.v, cent.cell, ${cosSql("v", "c")} AS cos
          |       FROM e CROSS JOIN cent),
          |rk AS (SELECT vec_id, v, cell,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY cos DESC, cell DESC) AS rn
          |       FROM sc),
          |asg AS (SELECT vec_id, v, cell FROM rk WHERE rn = 1),
          |qp AS (SELECT vec_id AS query_id, v AS qv, cell
          |       FROM rk WHERE vec_id % 100 = 0 AND rn <= 3),
          |s AS (SELECT qp.query_id, asg.vec_id AS neighbor_id,
          |        ${cosSql("qv", "v")} AS cos
          |      FROM qp JOIN asg USING (cell)
          |      WHERE qp.query_id <> asg.vec_id),
          |r AS (SELECT query_id, neighbor_id, cos,
          |        row_number() OVER (PARTITION BY query_id
          |          ORDER BY cos DESC, neighbor_id) AS rn
          |      FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Multi-probe LSH ANN: own bucket + the 2 buckets from flipping
    // the least-confident plane bits (|dot| asc, plane index asc —
    // Lv et al. multi-probe). The oracle ranks planes with a window
    // over a plane-VALUES cross join and XORs the flip bit.
    "q122_ann_lsh_multiprobe" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.annTopK(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            Planes, 3, probes = 3)
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val planeValues = Planes.zipWithIndex
          .map { case (p, j) =>
            s"($j, ${p.mkString("([", ", ", "]::DOUBLE[])")})" }
          .mkString(", ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
          |pl AS (SELECT * FROM (VALUES $planeValues) AS t(j, p)),
          |cf AS (SELECT e.vec_id, abs(${dd("v", "p")}) AS a, j
          |       FROM e CROSS JOIN pl WHERE vec_id % 100 = 0),
          |fl AS (SELECT vec_id, j FROM (
          |         SELECT vec_id, j,
          |           row_number() OVER (PARTITION BY vec_id
          |             ORDER BY a, j) AS rn
          |         FROM cf) WHERE rn <= 2),
          |qb AS (SELECT vec_id AS query_id, v AS qv, bucket
          |       FROM b WHERE vec_id % 100 = 0),
          |pr AS (SELECT query_id, qv, bucket FROM qb
          |       UNION ALL
          |       SELECT qb.query_id, qb.qv,
          |         xor(qb.bucket, CAST(1 AS BIGINT) << fl.j) AS bucket
          |       FROM qb JOIN fl ON qb.query_id = fl.vec_id),
          |s AS (SELECT pr.query_id, b.vec_id AS neighbor_id,
          |        ${cosSql("qv", "v")} AS cos
          |      FROM pr JOIN b USING (bucket)
          |      WHERE pr.query_id <> b.vec_id),
          |r AS (SELECT query_id, neighbor_id, cos,
          |        row_number() OVER (PARTITION BY query_id
          |          ORDER BY cos DESC, neighbor_id) AS rn
          |      FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Power-iteration PCA trainer (two rounds from a fixed seed
    // vector): x·v rides the scan via the native dot, component sums
    // are floor-quantized (exact integer-valued-double sums — the q84
    // discipline), and normalization is a fixed left-to-right fold.
    // The oracle replays round 1 with interpolated v0 literals and
    // round 2 against the SQL-derived normalized vector; output is
    // the q84 scalar shape (dim_idx, exact quantized sum, normalized
    // component).
    "q132_power_iteration" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(vec(col("embedding")).as("embedding"))
        Similarity.powerIterationSummary(e, "embedding", PiInit, iters = 2)
          .orderBy(col("dim_idx"))
      },
      {
        val dim = 64
        val q20 = "1048576.0"
        val v0lit = PiInit.mkString("([", ", ", "]::DOUBLE[])")
        val sums = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * dt * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val nrmSql = (0 until dim).map(d => s"(s$d/$q20)*(s$d/$q20)")
          .mkString("sqrt(", " + ", ")")
        val v1list = (0 until dim).map(d => s"(s$d/$q20)/nrm")
          .mkString("list_value(", ", ", ")")
        val slist = (0 until dim).map(d => s"s$d")
          .mkString("list_value(", ", ", ")")
        Some(s"""WITH e AS (SELECT $vSql AS v FROM embeddings),
          |a1 AS (SELECT v, ${dd("v", v0lit)} AS dt FROM e),
          |g1 AS (SELECT
          |    $sums
          |  FROM a1),
          |n1 AS (SELECT *, $nrmSql AS nrm FROM g1),
          |a2 AS (SELECT e.v, ${dd("v", "vl")} AS dt
          |       FROM e CROSS JOIN (SELECT $v1list AS vl FROM n1)),
          |g2 AS (SELECT
          |    $sums
          |  FROM a2),
          |n2 AS (SELECT $slist AS sl, $nrmSql AS nrm FROM g2)
          |SELECT CAST(i AS INT) AS dim_idx, sl[i + 1] AS s,
          |  (sl[i + 1] / $q20) / nrm AS value
          |FROM n2 CROSS JOIN
          |  (SELECT unnest(generate_series(0, ${dim - 1})) AS i)
          |ORDER BY dim_idx""".stripMargin)
      }),

    // INT8-quantized IVF serving: cells assigned on full-precision
    // vectors, scoring on the quantized payload — score =
    // (scale_q·scale_c)·Σ q_i·c_i with the integer dot carried in the
    // output, so the gate pins the exact integer path. The oracle
    // replays q109's quantization, the shared cell argmax, and the
    // same fixed parenthesization of the scale product.
    "q126_ann_ivf_int8" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.annTopKIvfInt8(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            KmInit, 3)
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (
          |  SELECT vec_id, embedding, $vSql AS v FROM embeddings),
          |mz AS (
          |  SELECT vec_id, embedding, v,
          |    list_max(list_transform(embedding,
          |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
          |  FROM e),
          |qz AS (
          |  SELECT vec_id, v, maxabs / 127.0 AS scale,
          |    CASE WHEN maxabs = 0
          |         THEN list_transform(range(1, len(embedding) + 1),
          |                i -> CAST(0 AS BIGINT))
          |         ELSE list_transform(range(1, len(embedding) + 1),
          |                i -> CAST(trunc(CAST(embedding[i] AS DOUBLE)
          |                       / (maxabs / 127.0)) AS BIGINT))
          |    END AS q
          |  FROM mz),
          |b AS (SELECT vec_id, v, scale, q, $cellSql AS cell FROM qz),
          |qq AS (SELECT vec_id AS query_id, scale AS qscale, q AS qv,
          |         cell
          |       FROM b WHERE vec_id % 100 = 0),
          |s AS (
          |  SELECT qq.query_id, b.vec_id AS neighbor_id,
          |    CAST(list_reduce([CAST(0 AS BIGINT)] ||
          |      list_transform(range(1, len(qq.qv) + 1),
          |        i -> qq.qv[i] * b.q[i]),
          |      (acc, x) -> acc + x) AS BIGINT) AS idot,
          |    (qq.qscale * b.scale) AS sprod
          |  FROM qq JOIN b USING (cell) WHERE qq.query_id <> b.vec_id),
          |r AS (
          |  SELECT query_id, neighbor_id, idot,
          |    sprod * CAST(idot AS DOUBLE) AS score,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY sprod * CAST(idot AS DOUBLE) DESC,
          |               neighbor_id) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id, idot, score
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Spherical k-means training for the IVF coarse quantizer (two
    // Lloyd iterations from the q57 seed centroids). Assignment runs
    // inside the scan; refinement is a k-row partial agg over
    // floor-quantized long sums — exact and order-free, which is what
    // lets an iterative TRAINER be oracle-gated at all. The oracle
    // replays iteration 1 with interpolated literals and iteration 2
    // with a cross-join argmax over the refined-centroid rows.
    // Output is posexploded to scalar (cell, n_members, dim_idx,
    // value) rows — the q109 component-gating shape — because the
    // driver's comparator sorts on column values and cannot sort an
    // array-typed column.
    "q84_kmeans_train" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.kmeansSummary(e, "embedding", KmInit, iters = 2)
          .select(col("cell"), col("n_members"),
            posexplode(col("centroid")).as(Seq("dim_idx", "value")))
          .orderBy(col("cell"), col("dim_idx"))
      },
      {
        val dim = 64
        val q20 = "1048576.0"
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |a1 AS (SELECT vec_id, v, $cellSql AS cell FROM e),
          |g1 AS (SELECT cell, count(*) AS n,
          |    $sumExprs
          |  FROM a1 GROUP BY cell),
          |c1 AS (SELECT cell, $centroidList AS c FROM g1),
          |s2 AS (SELECT e.vec_id, e.v, c1.cell, ${cosSql("v", "c")} AS cos
          |  FROM e CROSS JOIN c1),
          |a2 AS (SELECT vec_id, v, cell FROM (
          |    SELECT vec_id, v, cell,
          |      row_number() OVER (PARTITION BY vec_id
          |        ORDER BY cos DESC, cell DESC) AS rn
          |    FROM s2) WHERE rn = 1),
          |g2 AS (SELECT cell, count(*) AS n,
          |    $sumExprs
          |  FROM a2 GROUP BY cell),
          |sel AS (SELECT CAST(cell AS BIGINT) AS cell, n AS n_members,
          |    $centroidList AS c
          |  FROM g2)
          |SELECT cell, n_members, CAST(i AS INT) AS dim_idx,
          |  c[i + 1] AS value
          |FROM sel CROSS JOIN
          |  (SELECT unnest(generate_series(0, ${dim - 1})) AS i) d
          |ORDER BY cell, dim_idx""".stripMargin)
      }),

    // Embedding QA: per-vector dimension, squared L2 norm (native dot,
    // bit-identical to the sequential-fold reference semantics), and
    // zero-vector detection — the sanity pass before any ANN build.
    "q146_embedding_stats" -> Q(
      (s, dir) => {
        import graft.expressions.VectorExpressions.dotF
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            size(col("embedding")).as("dim"),
            dotF(col("embedding"), col("embedding")).as("norm2"))
          .withColumn("is_zero", col("norm2") === 0.0)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, $vSql AS v,
        |    CAST(len(embedding) AS INT) AS dim FROM embeddings)
        |SELECT vec_id, label, dim, ${dd("v", "v")} AS norm2,
        |  (${dd("v", "v")} = 0.0) AS is_zero
        |FROM e
        |ORDER BY vec_id""".stripMargin)),

    // Contrastive-set assembly: 4 deterministic pseudo-random
    // negatives per anchor over the dense vec_id space — pure
    // function of (anchor, j, salt), reproducible across engines;
    // the corpus count rides a one-row broadcast.
    "q149_negative_sampling" -> Q(
      (s, dir) => graft.operators.Corpus.negativeSample(
          Tables.embeddings(s, dir).select(col("vec_id")),
          "vec_id", k = 4, salt = "neg1")
        .orderBy(col("vec_id"), col("j")),
      Some("""WITH n AS (SELECT count(*) AS nn FROM embeddings),
        |a AS (SELECT vec_id, j, nn,
        |    CAST(('0x' || substr(md5(vec_id || '#' || j || '#neg1'),
        |      1, 15)) AS BIGINT) % nn AS draw
        |  FROM embeddings
        |  CROSS JOIN n
        |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j))
        |SELECT vec_id, CAST(j AS BIGINT) AS j,
        |  CASE WHEN draw = vec_id THEN (draw + 1) % nn
        |       ELSE draw END AS neg_id
        |FROM a
        |ORDER BY vec_id, j""".stripMargin)),

    // Embedding-space class QA: per-label quantized-sum centroid +
    // each member's cosine to it in integer ppm (sum + min — the
    // worst member flags mislabel candidates). Same accumulation
    // discipline as the q84 trainer, labels instead of cells.
    "q163_label_spread" -> Q(
      (s, dir) => Similarity.labelCentroidSpread(
          Tables.embeddings(s, dir)
            .select(col("label"), vec(col("embedding")).as("embedding")),
          "label", "embedding", dim = 64)
        .orderBy(col("label")),
      {
        val dim = 64
        val q20 = "1048576.0"
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        Some(s"""WITH e AS (SELECT label, $vSql AS v FROM embeddings),
          |g AS (SELECT label, count(*) AS n,
          |    $sumExprs
          |  FROM e GROUP BY label),
          |c AS (SELECT label, $centroidList AS cv FROM g),
          |sp AS (SELECT e.label,
          |    CAST(floor((${cosSql("v", "cv")}) * 1000000) AS BIGINT) AS cp
          |  FROM e JOIN c USING (label))
          |SELECT label, count(*) AS n_vecs,
          |  CAST(sum(cp) AS BIGINT) AS cos_ppm_sum,
          |  CAST(min(cp) AS BIGINT) AS min_cos_ppm
          |FROM sp GROUP BY label
          |ORDER BY label""".stripMargin)
      }),

    // SemDeDup (semantic dedup): LSH-partition the embedding space,
    // quantized centroid per cell, and collapse near-centroid members
    // to the min-id representative. The threshold splits the corpus
    // non-trivially at this SF (kept and dropped rows both present),
    // so the gate exercises both branches of the keeper logic.
    "q166_semdedup" -> Q(
      (s, dir) => Similarity.semDedup(
          Tables.embeddings(s, dir)
            .select(col("vec_id"), vec(col("embedding")).as("embedding")),
          "vec_id", "embedding", Planes, dim = 64,
          thresholdPpm = SemDedupT)
        .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
          col("cos_ppm"), col("is_kept"))
        .orderBy(col("vec_id")),
      {
        val dim = 64
        val q20 = "1048576.0"
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
          |g AS (SELECT bucket, count(*) AS n,
          |    $sumExprs
          |  FROM b GROUP BY bucket),
          |c AS (SELECT bucket, $centroidList AS cv FROM g),
          |sp AS (SELECT b.vec_id, CAST(b.bucket AS BIGINT) AS bucket,
          |    CAST(floor((${cosSql("v", "cv")}) * 1000000) AS BIGINT) AS cos_ppm
          |  FROM b JOIN c USING (bucket)),
          |k AS (SELECT bucket,
          |    min(CASE WHEN cos_ppm >= $SemDedupT THEN vec_id END) AS keeper
          |  FROM sp GROUP BY bucket)
          |SELECT sp.vec_id, sp.bucket, sp.cos_ppm,
          |  (sp.cos_ppm < $SemDedupT OR sp.vec_id = k.keeper) AS is_kept
          |FROM sp JOIN k USING (bucket)
          |ORDER BY vec_id""".stripMargin)
      }),

    // ANN overlap curve: q154's recall@3 opened up across depths
    // 1..3 — per (query, depth), |ann top-d ∩ exact top-d|. Same
    // index configuration; the oracle replays both pipelines keeping
    // BOTH rank columns and grids the matches over depths.
    "q187_overlap_curve" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        val queries = e.filter(col("vec_id") % 100 === 0)
        val ann = ivfTop3(queries, e, probes = 3)
        val exact = Similarity.bruteForceTopK(
          queries, e, "vec_id", "embedding", 3)
        Similarity.overlapCurve(ann, exact, "query_id", "neighbor_id",
            "rn", 3)
          .orderBy(col("query_id"), col("depth"))
      },
      {
        val centValues = Centroids.zipWithIndex
          .map { case (c, i) => s"($i, ${centroidLit(c)})" }.mkString(", ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |cent AS (SELECT * FROM (VALUES $centValues) AS t(cell, c)),
          |sc AS (SELECT e.vec_id, e.v, cent.cell, ${cosSql("v", "c")} AS cos
          |       FROM e CROSS JOIN cent),
          |rk AS (SELECT vec_id, v, cell,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY cos DESC, cell DESC) AS rn
          |       FROM sc),
          |asg AS (SELECT vec_id, v, cell FROM rk WHERE rn = 1),
          |qp AS (SELECT vec_id AS query_id, v AS qv, cell
          |       FROM rk WHERE vec_id % 100 = 0 AND rn <= 3),
          |s AS (SELECT qp.query_id, asg.vec_id AS neighbor_id,
          |        ${cosSql("qv", "v")} AS cos
          |      FROM qp JOIN asg USING (cell)
          |      WHERE qp.query_id <> asg.vec_id),
          |ann AS (SELECT query_id, neighbor_id, ra FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY cos DESC, neighbor_id) AS ra
          |    FROM s) WHERE ra <= 3),
          |q2 AS (SELECT vec_id AS query_id, v AS qv FROM e
          |       WHERE vec_id % 100 = 0),
          |ex AS (SELECT query_id, neighbor_id, re FROM (
          |    SELECT q2.query_id, e.vec_id AS neighbor_id,
          |      row_number() OVER (PARTITION BY q2.query_id
          |        ORDER BY ${cosSql("qv", "v")} DESC, e.vec_id) AS re
          |    FROM q2 JOIN e ON q2.query_id <> e.vec_id)
          |  WHERE re <= 3),
          |m AS (SELECT ex.query_id, ex.re, ann.ra
          |      FROM ex JOIN ann ON ex.query_id = ann.query_id
          |                      AND ex.neighbor_id = ann.neighbor_id),
          |g AS (SELECT query_id, unnest(generate_series(1, 3)) AS depth
          |      FROM q2),
          |c AS (SELECT m.query_id, d.depth, count(*) AS n
          |      FROM m, (SELECT unnest(generate_series(1, 3)) AS depth) d
          |      WHERE m.ra <= d.depth AND m.re <= d.depth
          |      GROUP BY m.query_id, d.depth)
          |SELECT g.query_id, CAST(g.depth AS BIGINT) AS depth,
          |  coalesce(c.n, 0) AS n_overlap
          |FROM g LEFT JOIN c
          |  ON g.query_id = c.query_id AND g.depth = c.depth
          |ORDER BY 1, 2""".stripMargin)
      }),

    // Hard-negative mining: per query, the 3 most similar vectors
    // with a DIFFERENT label — the contrastive-training complement of
    // q149's random negatives (same exact-baseline shape as q31; the
    // ANN route swaps in for the scored frame at scale).
    "q176_hard_negatives" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir).select(col("vec_id"),
          vec(col("embedding")).as("embedding"), col("label"))
        Similarity.hardNegatives(
            e.filter(col("vec_id") % 100 === 0), e,
            "vec_id", "embedding", "label", 3)
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, $vSql AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
        |      FROM e WHERE vec_id % 100 = 0),
        |s AS (SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
        |        e.label AS n_label, ${cosSql("qv", "v")} AS cos
        |      FROM q JOIN e ON q.query_id <> e.vec_id
        |                   AND q.q_label <> e.label),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
        |      FROM s)
        |SELECT query_id, q_label, rn, neighbor_id, n_label,
        |  cos AS cosine
        |FROM r WHERE rn <= 3
        |ORDER BY query_id, rn""".stripMargin)),

    // ANN evaluation: recall@3 of the multi-probe IVF index (q121's
    // exact configuration) against the brute-force ground truth —
    // the publishable number behind every "approximate is safe here"
    // decision. The oracle replays BOTH pipelines and intersects.
    "q154_ann_recall" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        val queries = e.filter(col("vec_id") % 100 === 0)
        val ann = ivfTop3(queries, e, probes = 3)
        val exact = Similarity.bruteForceTopK(
          queries, e, "vec_id", "embedding", 3)
        Similarity.recallAtK(ann, exact, "query_id", "neighbor_id", 3)
          .orderBy(col("query_id"))
      },
      {
        val centValues = Centroids.zipWithIndex
          .map { case (c, i) => s"($i, ${centroidLit(c)})" }.mkString(", ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |cent AS (SELECT * FROM (VALUES $centValues) AS t(cell, c)),
          |sc AS (SELECT e.vec_id, e.v, cent.cell, ${cosSql("v", "c")} AS cos
          |       FROM e CROSS JOIN cent),
          |rk AS (SELECT vec_id, v, cell,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY cos DESC, cell DESC) AS rn
          |       FROM sc),
          |asg AS (SELECT vec_id, v, cell FROM rk WHERE rn = 1),
          |qp AS (SELECT vec_id AS query_id, v AS qv, cell
          |       FROM rk WHERE vec_id % 100 = 0 AND rn <= 3),
          |s AS (SELECT qp.query_id, asg.vec_id AS neighbor_id,
          |        ${cosSql("qv", "v")} AS cos
          |      FROM qp JOIN asg USING (cell)
          |      WHERE qp.query_id <> asg.vec_id),
          |ann AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM s) WHERE rn <= 3),
          |q2 AS (SELECT vec_id AS query_id, v AS qv FROM e
          |       WHERE vec_id % 100 = 0),
          |ex AS (SELECT query_id, neighbor_id FROM (
          |    SELECT q2.query_id, e.vec_id AS neighbor_id,
          |      row_number() OVER (PARTITION BY q2.query_id
          |        ORDER BY ${cosSql("qv", "v")} DESC, e.vec_id) AS rn
          |    FROM q2 JOIN e ON q2.query_id <> e.vec_id)
          |  WHERE rn <= 3)
          |SELECT ex.query_id,
          |  CAST(count(ann.neighbor_id) AS BIGINT) AS n_hits,
          |  (1000000 * count(ann.neighbor_id)) // 3 AS recall_ppm
          |FROM ex LEFT JOIN ann
          |  ON ex.query_id = ann.query_id
          | AND ex.neighbor_id = ann.neighbor_id
          |GROUP BY ex.query_id
          |ORDER BY ex.query_id""".stripMargin)
      }),

    // Sign-bit binarization: the 32×-compressed memory layout behind
    // Hamming serving, posexploded to scalar (vec_id, word_idx, word)
    // rows. Bit-exact gate: the oracle re-packs every word from the
    // same literal shift weights.
    "q209_binarize_sign" -> Q(
      (s, dir) => {
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            posexplode(Similarity.binarizeSign(col("embedding"), 64)))
          .toDF("vec_id", "word_idx", "word")
          .orderBy(col("vec_id"), col("word_idx"))
      },
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |b AS (SELECT vec_id,
        |  ${signWordSql("v", 0)} AS w0,
        |  ${signWordSql("v", 1)} AS w1 FROM e)
        |SELECT vec_id, word_idx, word FROM (
        |  SELECT vec_id, CAST(0 AS INT) AS word_idx, w0 AS word FROM b
        |  UNION ALL
        |  SELECT vec_id, CAST(1 AS INT) AS word_idx, w1 AS word FROM b)
        |ORDER BY vec_id, word_idx""".stripMargin)),

    // Exhaustive Hamming top-k over the packed sign codes — the
    // compressed brute-force ANN path (XOR+POPCNT per pair instead of
    // 64 multiplies). Integer distances, deterministic tiebreak, so
    // even the approximate ranking hash-gates exactly.
    "q210_hamming_topk" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        Similarity.hammingTopK(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            dim = 64, k = 5)
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |b AS (SELECT vec_id,
        |  [${signWordSql("v", 0)}, ${signWordSql("v", 1)}] AS w FROM e),
        |qq AS (SELECT vec_id AS query_id, w AS qw FROM b
        |       WHERE vec_id % 100 = 0),
        |s AS (SELECT qq.query_id, b.vec_id AS neighbor_id,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list_transform(range(1, 3),
        |        i -> CAST(bit_count(xor(qw[i], w[i])) AS BIGINT)),
        |      (acc, x) -> acc + x) AS hdist
        |  FROM b CROSS JOIN qq WHERE qq.query_id <> b.vec_id),
        |r AS (SELECT query_id, neighbor_id, hdist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hdist ASC, neighbor_id) AS rn FROM s)
        |SELECT query_id, rn, neighbor_id, hdist FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    // Product-quantization trainer + encoder: one quantized-Lloyd
    // refinement of 4 per-subspace codebooks from the fixed PqInit
    // seed, then every vector's 4 nearest-centroid codes. The oracle
    // replays the full train (assign → quantized sums → seed-fallback
    // refine) and encode per subspace — the q84 discipline, ×M.
    "q211_pq_encode" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        val books = Similarity.pqTrain(e, "embedding", PqInit)
        e.select(col("vec_id"),
            posexplode(Similarity.pqEncode(col("embedding"), books)))
          .toDF("vec_id", "m", "code")
          .orderBy(col("vec_id"), col("m"))
      },
      Some {
        val encSelects = (0 until PqM).map(mi =>
          s"SELECT vec_id, CAST($mi AS INT) AS m, code FROM enc$mi")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |$pqCtes
        |SELECT vec_id, m, code FROM (
        |  $encSelects)
        |ORDER BY vec_id, m""".stripMargin
      }),

    // ADC search over the PQ codes: exact query subvectors vs coded
    // corpus, distance = Σ_m ‖q_m − c_{m,code}‖² in a fixed left
    // association — approximate in recall, bit-exact in arithmetic.
    "q212_pq_adc" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        val books = Similarity.pqTrain(e, "embedding", PqInit)
        Similarity.pqAdcTopK(
            e.filter(col("vec_id") % 100 === 0), e, "vec_id", "embedding",
            books, 5)
          .orderBy(col("query_id"), col("rn"))
      },
      Some {
        val joins = (0 until PqM).map(mi =>
          s"JOIN r$mi ON r$mi.cell = cw.c$mi").mkString(" ")
        val adist = (0 until PqM).map(mi =>
          l2Sql("qq.qv", mi * PqSub, s"r$mi.c")).mkString(" + ")
        val cwJoins = (1 until PqM).map(mi =>
          s"JOIN enc$mi e$mi USING (vec_id)").mkString(" ")
        val cwCols = (0 until PqM).map(mi => s"e$mi.code AS c$mi")
          .mkString(", ")
        s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |$pqCtes,
        |cw AS (SELECT e0.vec_id, $cwCols
        |  FROM enc0 e0 $cwJoins),
        |qq AS (SELECT vec_id AS query_id, v AS qv FROM e
        |       WHERE vec_id % 100 = 0),
        |s AS (SELECT qq.query_id, cw.vec_id AS neighbor_id,
        |    $adist AS adist
        |  FROM cw $joins CROSS JOIN qq
        |  WHERE qq.query_id <> cw.vec_id),
        |r AS (SELECT query_id, neighbor_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, neighbor_id) AS rn FROM s)
        |SELECT query_id, rn, neighbor_id, adist FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin
      }),

    // Embedding outliers vs the per-label centroid: bottom-5 cosine
    // per label — the mislabeled/noise screen. Centroids ride the
    // KmQ floor-quantized long sums (exact, order-free — q84's
    // discipline), one division per coordinate, native cosine.
    "q248_centroid_outliers" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            vec(col("embedding")).as("embedding"))
        Similarity.centroidOutliers(e, "vec_id", "embedding", "label",
            dim = 64, bottomK = 5)
          .orderBy(col("label"), col("rn"))
      },
      {
        val dim = 64
        val q20 = "1048576.0"
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        Some(s"""WITH e AS (
          |  SELECT vec_id, label, $vSql AS v FROM embeddings),
          |g AS (SELECT label, count(*) AS n,
          |    $sumExprs
          |  FROM e GROUP BY label),
          |c AS (SELECT label, n AS n_members, $centroidList AS cv
          |  FROM g),
          |s AS (SELECT e.label, e.vec_id, c.n_members,
          |    ${cosSql("v", "cv")} AS cos
          |  FROM e JOIN c USING (label)),
          |r AS (SELECT label, vec_id, n_members, cos,
          |    row_number() OVER (PARTITION BY label
          |      ORDER BY cos ASC, vec_id) AS rn
          |  FROM s)
          |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id, n_members,
          |  cos
          |FROM r WHERE rn <= 5
          |ORDER BY label, rn""".stripMargin)
      }),

    // kNN label-agreement noise screen: 3 nearest same-LSH-bucket
    // neighbors vote on each vector's label; strict-minority
    // agreement flags the row. Candidates come from the bucket
    // self-join, never all-pairs; counts integer, agree share ppm.
    "q275_label_agreement" -> Q(
      (s, dir) => Similarity.labelAgreement(
          Tables.embeddings(s, dir)
            .select(col("vec_id"), col("label"),
              vec(col("embedding")).as("embedding")),
          "vec_id", "embedding", "label", Planes, k = 3)
        .orderBy(col("vec_id")),
      Some(s"""WITH e AS (
        |  SELECT vec_id, label, $vSql AS v FROM embeddings),
        |b AS (SELECT vec_id, label, v, ${bucketSql("v")} AS bucket
        |      FROM e),
        |p AS (
        |  SELECT a.vec_id, a.label, c.vec_id AS nid,
        |    c.label AS nlbl, ${cosSql("a.v", "c.v")} AS cos
        |  FROM b a JOIN b c
        |    ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, nid) AS rn
        |  FROM p),
        |g AS (
        |  SELECT vec_id, count(*) AS n_neighbors,
        |    CAST(sum(CASE WHEN label = nlbl THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_agree
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT e.vec_id, e.label,
        |  CAST(coalesce(n_neighbors, 0) AS BIGINT) AS n_neighbors,
        |  coalesce(n_agree, 0) AS n_agree,
        |  CASE WHEN coalesce(n_neighbors, 0) > 0
        |    THEN (1000000 * n_agree) // n_neighbors END AS agree_ppm,
        |  coalesce(n_neighbors, 0) >= 2
        |    AND coalesce(n_agree, 0) * 2 < n_neighbors AS is_suspect
        |FROM e LEFT JOIN g ON e.vec_id = g.vec_id
        |ORDER BY e.vec_id""".stripMargin)),

    // Matryoshka truncation audit: energy fraction of the first
    // 16/32 dims per vector — the truncated-serving decision input.
    // Each ratio is two sequential-fold dots + one IEEE division.
    "q267_truncation_energy" -> Q(
      (s, dir) => Similarity.truncationEnergy(
          Tables.embeddings(s, dir)
            .select(col("vec_id"), vec(col("embedding")).as("embedding")),
          "vec_id", "embedding", Seq(16, 32))
        .orderBy(col("vec_id")),
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings)
        |SELECT vec_id, ${dd("v", "v")} AS energy,
        |  ${dd("v[1:16]", "v[1:16]")} / ${dd("v", "v")} AS r_16,
        |  ${dd("v[1:32]", "v[1:32]")} / ${dd("v", "v")} AS r_32
        |FROM e
        |ORDER BY vec_id""".stripMargin)),

    // IVF index PERSISTENCE round trip: the corpus is assigned once,
    // written `partitionBy("cell")` (so a production probe prunes to
    // the touched cell DIRECTORIES before reading a row), read back,
    // and served against — the q57 oracle gating the result proves
    // the build-once/serve-many split loses nothing vs assigning
    // in-line. Vectors survive the parquet round trip bit-exactly
    // (float32 is stored verbatim), so the cosines hash-gate.
    "q294_ivf_persist" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        scratchDir("graft_ivf") { tmp =>
          Similarity.insertIntoCells(e, "vec_id", "embedding", KmInit)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$tmp/index")
          val index = s.read.parquet(s"$tmp/index")
          val served = Similarity.annTopKIvf(
            e.filter(col("vec_id") % 100 === 0), index,
            "vec_id", "embedding", "cell", KmInit, 3, probes = 1)
          served
        }.orderBy(col("query_id"), col("rn"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, v, $cellSql AS cell FROM e),
          |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM b
          |      WHERE vec_id % 100 = 0),
          |s AS (
          |  SELECT q.query_id, b.vec_id AS neighbor_id,
          |         ${cosSql("qv", "v")} AS cos
          |  FROM q JOIN b USING (cell) WHERE q.query_id <> b.vec_id),
          |r AS (
          |  SELECT query_id, neighbor_id, cos,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Incremental ANN-index MAINTENANCE over the CDC feed (VERDICT r8
    // item 5) — the q435 IVM discipline applied to the IVF index,
    // the nightly job a 100 TB embedding pipeline actually runs:
    //   base build  → TxLog overwrite of the cell-assigned index;
    //   deletes     → merge-on-read deletion vectors (no rewrite);
    //   adds        → delta assigned to the EXISTING centroids only
    //                 (O(delta) work — never a corpus re-assign) and
    //                 APPENDED.
    // The gate serves the SAME query batch against the maintained
    // index and against a from-scratch rebuild over the live set and
    // emits both verdicts per (query, rank) — any divergence (a
    // masked row leaking back, a delta row lost, a cell drifting)
    // hash-fails. Adds deliberately include ids the delete predicate
    // would match: deletion vectors mask only files present at delete
    // time, so later appends survive — the gate pins that ordering
    // contract. Cosines are sequential-fold doubles (bit-stable,
    // q294's discipline), and inc/full run the identical float
    // pipeline, so equality is bit-for-bit.
    "q437_incremental_ann" -> Q(
      (s, dir) => {
        import graft.sources.TxLog
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        scratchDir("graft_annivm") { tmp =>
          val t = s"$tmp/index"
          TxLog.commit(Similarity.insertIntoCells(
              e.filter(col("vec_id") % 10 < 8), "vec_id", "embedding",
              KmInit), t, "overwrite", "vec_id")
          TxLog.deleteWhere(s, t, col("vec_id") % 7 === 0)
          TxLog.commit(Similarity.insertIntoCells(
              e.filter(col("vec_id") % 10 === 8), "vec_id", "embedding",
              KmInit), t, "append", "vec_id")
          val live = e.filter(
            (col("vec_id") % 10 < 8 && col("vec_id") % 7 =!= 0) ||
              col("vec_id") % 10 === 8)
          val q = e.filter(col("vec_id") % 100 === 0)
          val sInc = Similarity.annTopKIvf(q, TxLog.read(s, t),
              "vec_id", "embedding", "cell", KmInit, 3, probes = 1)
            .select(col("query_id"), col("rn"),
              col("neighbor_id").as("neighbor_inc"),
              col("cosine").as("cos_inc"))
          val sFull = ivfTop3(q, live, probes = 1)
            .select(col("query_id"), col("rn"),
              col("neighbor_id").as("neighbor_full"),
              col("cosine").as("cos_full"))
          sInc.join(sFull, Seq("query_id", "rn"), "full_outer")
        }.orderBy(col("query_id"), col("rn"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |live AS (SELECT vec_id, v, $cellSql AS cell FROM e
          |  WHERE (vec_id % 10 < 8 AND vec_id % 7 <> 0)
          |     OR vec_id % 10 = 8),
          |q AS (SELECT vec_id AS query_id, v AS qv, $cellSql AS cell
          |  FROM e WHERE vec_id % 100 = 0),
          |s AS (
          |  SELECT q.query_id, live.vec_id AS neighbor_id,
          |         ${cosSql("qv", "v")} AS cos
          |  FROM q JOIN live USING (cell)
          |  WHERE q.query_id <> live.vec_id),
          |r AS (
          |  SELECT query_id, neighbor_id, cos,
          |         CAST(row_number() OVER (PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id AS neighbor_inc,
          |  cos AS cos_inc, neighbor_id AS neighbor_full,
          |  cos AS cos_full
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // Maximal-marginal-relevance re-rank: top-8-by-relevance
    // candidates per query, then 3 greedy MMR selections at λ=0.7 —
    // relevance and redundancy both exact integer code dots
    // (quantizeInt8 space, the kCenterGreedy metric contract), so
    // ranks, penalties AND scores hash-gate. The oracle unrolls the
    // identical greedy rounds as CTEs (the q433 discipline).
    "q442_mmr_rerank" -> Q(
      (s, dir) => {
        val coded = Tables.embeddings(s, dir).select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).getField("q").as("cv"))
        val pairs = TopK.pairs(coded.filter(col("vec_id") % 100 === 0),
          coded, "vec_id", "cv", graft.expressions.VectorExpressions.dotI)
        val cands = TopK.rank(pairs, "query_id", col("score").desc,
            "neighbor_id", 8)
          .select(col("query_id"), col("neighbor_id").as("cand_id"),
            col("score").as("rel"), col("nval").as("cvec"))
        Similarity.mmrRerank(cands, lambdaPpm = 700000L, k = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some {
        def idot(a: String, b: String) =
          s"list_reduce([CAST(0 AS BIGINT)] || list_transform(" +
            s"range(1, 65), i -> $a[i] * $b[i]), (x, y) -> x + y)"
        def round(r: Int): String = {
          val p = r - 1
          s"""m$r AS (SELECT c.query_id, c.cand_id,
             |    max(${idot("c.cvec", "s.cvec")}) AS maxsim
             |  FROM cand c JOIN sel$p s USING (query_id)
             |  WHERE NOT EXISTS (SELECT 1 FROM sel$p x
             |    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id)
             |  GROUP BY 1, 2),
             |w$r AS (SELECT c.query_id, c.cand_id, c.rel, m.maxsim,
             |    c.rel * 700000 - m.maxsim * 300000 AS score, c.cvec
             |  FROM cand c JOIN m$r m ON c.query_id = m.query_id
             |    AND c.cand_id = m.cand_id),
             |sel$r AS (SELECT * FROM sel$p UNION ALL
             |  SELECT query_id, CAST($r AS BIGINT) AS rank, cand_id,
             |    rel, maxsim, score, cvec FROM (
             |    SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, cand_id) AS rn FROM w$r)
             |  WHERE rn = 1)""".stripMargin
        }
        s"""WITH e AS (SELECT vec_id, embedding,
          |    list_max(list_transform(embedding,
          |      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
          |  FROM embeddings),
          |z AS (SELECT vec_id, list_transform(
          |    range(1, len(embedding) + 1),
          |    i -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
          |      ELSE CAST(trunc(CAST(embedding[i] AS DOUBLE) /
          |        (maxabs / 127.0)) AS BIGINT) END) AS qv
          |  FROM e),
          |pr AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          |    ${idot("q.qv", "c.qv")} AS rel, c.qv AS cvec
          |  FROM z q JOIN z c ON q.vec_id <> c.vec_id
          |  WHERE q.vec_id % 100 = 0),
          |cand AS (SELECT query_id, cand_id, rel, cvec FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY rel DESC, cand_id) AS rn FROM pr)
          |  WHERE rn <= 8),
          |sel1 AS (SELECT query_id, CAST(1 AS BIGINT) AS rank, cand_id,
          |    rel, CAST(0 AS BIGINT) AS maxsim, rel * 700000 AS score,
          |    cvec
          |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY rel * 700000 DESC, cand_id) AS rn FROM cand)
          |  WHERE rn = 1),
          |${round(2)},
          |${round(3)}
          |SELECT query_id, rank, cand_id, rel, maxsim, score
          |FROM sel3 ORDER BY query_id, rank""".stripMargin
      }),

    // TWO-STAGE serving: PQ-ADC shortlist (12) → exact cosine
    // re-rank (3), with a per-row recall audit against the true
    // brute-force top-3 — the compressed-index production pattern
    // q212 (ADC only) stops short of. Every column hash-gates; the
    // in_exact_top3 flags ARE the measured recall@3.
    "q443_two_stage_serve" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
        val books = Similarity.pqTrain(e, "embedding", PqInit)
        val qs = e.filter(col("vec_id") % 100 === 0)
        val ts = Similarity.twoStageAdcServe(qs, e, "vec_id",
          "embedding", books, shortlistK = 12, k = 3)
        val ex = Similarity.bruteForceTopK(qs, e, "vec_id", "embedding", 3)
          .select(col("query_id").as("xq"), col("neighbor_id").as("xn"))
        ts.join(ex, ts("query_id") === col("xq") &&
            ts("neighbor_id") === col("xn"), "left")
          .select(ts("query_id"), col("rn"), col("neighbor_id"),
            col("cosine"), col("xn").isNotNull.as("in_exact_top3"))
          .orderBy(col("query_id"), col("rn"))
      },
      Some {
        val joins = (0 until PqM).map(mi =>
          s"JOIN r$mi ON r$mi.cell = cw.c$mi").mkString(" ")
        val adist = (0 until PqM).map(mi =>
          l2Sql("qq.qv", mi * PqSub, s"r$mi.c")).mkString(" + ")
        val cwJoins = (1 until PqM).map(mi =>
          s"JOIN enc$mi e$mi USING (vec_id)").mkString(" ")
        val cwCols = (0 until PqM).map(mi => s"e$mi.code AS c$mi")
          .mkString(", ")
        s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |$pqCtes,
        |cw AS (SELECT e0.vec_id, $cwCols
        |  FROM enc0 e0 $cwJoins),
        |qq AS (SELECT vec_id AS query_id, v AS qv FROM e
        |       WHERE vec_id % 100 = 0),
        |s AS (SELECT qq.query_id, cw.vec_id AS neighbor_id,
        |    $adist AS adist
        |  FROM cw $joins CROSS JOIN qq
        |  WHERE qq.query_id <> cw.vec_id),
        |sl AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY adist ASC, neighbor_id)
        |      AS rn FROM s) WHERE rn <= 12),
        |rr AS (SELECT sl.query_id, sl.neighbor_id,
        |    ${cosSql("qq.qv", "e2.v")} AS cosine
        |  FROM sl JOIN qq ON sl.query_id = qq.query_id
        |    JOIN e e2 ON sl.neighbor_id = e2.vec_id),
        |t AS (SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rn
        |  FROM rr),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |    SELECT qq.query_id, e2.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY qq.query_id
        |        ORDER BY ${cosSql("qq.qv", "e2.v")} DESC, e2.vec_id)
        |        AS rn
        |    FROM qq CROSS JOIN e e2 WHERE qq.query_id <> e2.vec_id)
        |  WHERE rn <= 3)
        |SELECT t.query_id, t.rn, t.neighbor_id, t.cosine,
        |  (x.neighbor_id IS NOT NULL) AS in_exact_top3
        |FROM t LEFT JOIN exact x ON t.query_id = x.query_id
        |  AND t.neighbor_id = x.neighbor_id
        |WHERE t.rn <= 3
        |ORDER BY t.query_id, t.rn""".stripMargin
      }),

    // ANN-index HEALTH MONITOR: cell-occupancy drift between the
    // indexed corpus and the incoming delta — the signal that decides
    // when q437's O(delta) maintenance stops being enough and the
    // quantizer needs retraining (centroids drifted off the data).
    // Composition: kmAssign cell counts → the q309 integer L1/TV
    // drift audit (shareDriftFromCounts — the streaming-shared
    // stage), plus the reindex trigger flag. All-integer, hash-gated.
    // SELF-GOVERNING index maintenance (VERDICT r9 item 8): q447's
    // drift monitor DECIDES q437's maintenance path. Two delta
    // scenarios run through one policy — an in-distribution delta
    // (drift below threshold → O(delta) incremental path: append
    // under the EXISTING centroids) and a cell-skewed delta (drift
    // above → REINDEX: one Lloyd retrain over the merged corpus,
    // everything re-assigned). The oracle replays the drift
    // computation, the threshold branch (CASE over the drift
    // scalar), and BOTH serve paths, so the policy decision itself
    // hash-gates — not just each leg.
    "q455_drift_gated_maintenance" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("v"))
        val base = e.filter(col("vec_id") % 10 < 8)
        val q = e.filter(col("vec_id") % 100 === 0)
        def counts(d: DataFrame) = d
          .select(Similarity.kmAssign(col("v"), KmInit).as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("c"))
        def serveWith(cents: Seq[(Int, Seq[Double])], live: DataFrame) = {
          val idx = live.select(col("vec_id").as("neighbor_id"),
            col("v").as("nvec"),
            Similarity.kmAssign(col("v"), cents).as("cell"))
          val qq = q.select(col("vec_id").as("query_id"),
            col("v").as("qvec"),
            Similarity.kmAssign(col("v"), cents).as("cell"))
          TopK.rank(TopK.probe(idx, qq, "cell").withColumn("cos",
              Similarity.cosineNative(col("qvec"), col("nvec"))),
              "query_id", col("cos").desc, "neighbor_id", 3)
            .select(col("query_id"), col("rn"), col("neighbor_id"),
              col("cos").as("cosine"))
        }
        def scenario(tag: String, delta: DataFrame) = {
          val drift = graft.operators.QualityFilters
            .shareDriftFromCounts(counts(base), counts(delta))
            .agg(max(col("l1_total_ppm"))).head().getLong(0)
          val live = base.unionByName(delta)
          val rebuilt = drift >= 400000L
          val served =
            if (!rebuilt) serveWith(KmInit, live)
            else serveWith(Similarity.kmeansIterate(live, "v",
              KmInit, 1), live)
          served.withColumn("scenario", lit(tag))
            .withColumn("drift_ppm", lit(drift))
            .withColumn("rebuilt", lit(rebuilt))
        }
        scenario("indist", e.filter(col("vec_id") % 10 === 8))
          .unionByName(scenario("skew", e.filter(col("vec_id") % 10 === 9
            && Similarity.kmAssign(col("v"), KmInit) % 2 === 0)))
          .select(col("scenario"), col("drift_ppm"), col("rebuilt"),
            col("query_id"), col("rn"), col("neighbor_id"),
            col("cosine"))
          .orderBy(col("scenario"), col("query_id"), col("rn"))
      },
      {
        val dim = 64
        val q20 = "1048576.0"
        val cellSql = cellSqlFor("v")
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        def driftCte(i: Int, deltaCond: String) =
          s"""cd$i AS (SELECT bin, CAST(count(*) AS BIGINT) AS c
             |  FROM b WHERE $deltaCond GROUP BY 1),
             |dr$i AS (SELECT CAST(sum(abs(coalesce(sa.s, 0) -
             |      coalesce(sd.s, 0))) AS BIGINT) AS l1
             |  FROM (SELECT bin, c * 1000000 //
             |      CAST((SELECT sum(c) FROM ca) AS BIGINT) AS s FROM ca) sa
             |  FULL OUTER JOIN (SELECT bin, c * 1000000 //
             |      CAST((SELECT sum(c) FROM cd$i) AS BIGINT) AS s
             |    FROM cd$i) sd
             |  USING (bin))""".stripMargin
        def serveCtes(i: Int, deltaCond: String) =
          s"""live$i AS MATERIALIZED (SELECT vec_id, v, bin FROM b
             |  WHERE vec_id % 10 < 8 OR ($deltaCond)),
             |inc$i AS (SELECT query_id, rn, neighbor_id, cos FROM (
             |  SELECT qq.query_id, l.vec_id AS neighbor_id,
             |    ${cosSql("qq.qv", "l.v")} AS cos,
             |    row_number() OVER (PARTITION BY qq.query_id
             |      ORDER BY ${cosSql("qq.qv", "l.v")} DESC, l.vec_id) AS rn
             |  FROM qq JOIN live$i l ON qq.qbin = l.bin
             |  WHERE qq.query_id <> l.vec_id) WHERE rn <= 3),
             |g$i AS (SELECT bin AS cell, count(*) AS n,
             |    $sumExprs
             |  FROM live$i GROUP BY bin),
             |c$i AS MATERIALIZED (SELECT cell, $centroidList AS c FROM g$i),
             |al$i AS MATERIALIZED (SELECT vec_id, v, cell FROM (
             |  SELECT l.vec_id, l.v, c.cell,
             |    row_number() OVER (PARTITION BY l.vec_id
             |      ORDER BY ${cosSql("l.v", "c.c")} DESC, c.cell DESC) AS rn
             |  FROM live$i l CROSS JOIN c$i c) WHERE rn = 1),
             |aq$i AS (SELECT query_id, qv, cell FROM (
             |  SELECT q.query_id, q.qv, c.cell,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY ${cosSql("q.qv", "c.c")} DESC, c.cell DESC) AS rn
             |  FROM qq q CROSS JOIN c$i c) WHERE rn = 1),
             |reb$i AS (SELECT query_id, rn, neighbor_id, cos FROM (
             |  SELECT a.query_id, l.vec_id AS neighbor_id,
             |    ${cosSql("a.qv", "l.v")} AS cos,
             |    row_number() OVER (PARTITION BY a.query_id
             |      ORDER BY ${cosSql("a.qv", "l.v")} DESC, l.vec_id) AS rn
             |  FROM aq$i a JOIN al$i l ON a.cell = l.cell
             |  WHERE a.query_id <> l.vec_id) WHERE rn <= 3),
             |pick$i AS (
             |  SELECT query_id, rn, neighbor_id, cos FROM inc$i
             |  WHERE (SELECT l1 FROM dr$i) < 400000
             |  UNION ALL
             |  SELECT query_id, rn, neighbor_id, cos FROM reb$i
             |  WHERE (SELECT l1 FROM dr$i) >= 400000)""".stripMargin
        val cond1 = "vec_id % 10 = 8"
        val cond2 = "vec_id % 10 = 9 AND bin % 2 = 0"
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS MATERIALIZED (SELECT vec_id, v, $cellSql AS bin FROM e),
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv,
          |    bin AS qbin FROM b WHERE vec_id % 100 = 0),
          |ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b
          |  WHERE vec_id % 10 < 8 GROUP BY 1),
          |${driftCte(1, cond1)},
          |${driftCte(2, cond2)},
          |${serveCtes(1, cond1)},
          |${serveCtes(2, cond2)}
          |SELECT scenario, drift_ppm, rebuilt, query_id,
          |  CAST(rn AS BIGINT) AS rn, neighbor_id, cos AS cosine
          |FROM (
          |  SELECT 'indist' AS scenario, (SELECT l1 FROM dr1) AS drift_ppm,
          |    (SELECT l1 FROM dr1) >= 400000 AS rebuilt, p.*
          |  FROM pick1 p
          |  UNION ALL
          |  SELECT 'skew', (SELECT l1 FROM dr2),
          |    (SELECT l1 FROM dr2) >= 400000, p.*
          |  FROM pick2 p)
          |ORDER BY scenario, query_id, rn""".stripMargin)
      }),

    "q447_centroid_drift" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        def cells(d: org.apache.spark.sql.DataFrame) = d
          .select(Similarity.kmAssign(col("embedding"), KmInit).as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("c"))
        graft.operators.QualityFilters.shareDriftFromCounts(
            cells(e.filter(col("vec_id") % 10 < 8)),
            cells(e.filter(col("vec_id") % 10 >= 8)))
          .withColumn("reindex", col("l1_total_ppm") >= 200000L)
          .orderBy(col("bin"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, $cellSql AS bin FROM e),
          |ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b
          |  WHERE vec_id % 10 < 8 GROUP BY 1),
          |cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b
          |  WHERE vec_id % 10 >= 8 GROUP BY 1),
          |sa AS (SELECT bin, c * 1000000 //
          |    CAST((SELECT sum(c) FROM ca) AS BIGINT) AS share_a_ppm
          |  FROM ca),
          |sb AS (SELECT bin, c * 1000000 //
          |    CAST((SELECT sum(c) FROM cb) AS BIGINT) AS share_b_ppm
          |  FROM cb),
          |j AS (SELECT coalesce(sa.bin, sb.bin) AS bin,
          |    coalesce(share_a_ppm, 0) AS share_a_ppm,
          |    coalesce(share_b_ppm, 0) AS share_b_ppm
          |  FROM sa FULL OUTER JOIN sb ON sa.bin = sb.bin),
          |t AS (SELECT bin, share_a_ppm, share_b_ppm,
          |    abs(share_a_ppm - share_b_ppm) AS abs_diff_ppm,
          |    CAST(sum(abs(share_a_ppm - share_b_ppm)) OVER ()
          |      AS BIGINT) AS l1_total_ppm
          |  FROM j)
          |SELECT bin, share_a_ppm, share_b_ppm, abs_diff_ppm,
          |  l1_total_ppm, l1_total_ppm >= 200000 AS reindex
          |FROM t ORDER BY bin""".stripMargin)
      }),

    // ONLINE vector serving: query vectors arrive as a STREAM and
    // probe the static IVF index per micro-batch — the q294 serve
    // operator verbatim inside foreachBatch (stream/batch serving
    // cannot drift: one definition). The index is the build-once
    // frame (localCheckpoint standing in for the persisted parquet);
    // the gate is the same oracle as q57/q294, so streamed serving
    // provably returns what batch serving returns.
    "q299_stream_ann" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.types._
        import graft.streaming.Streams
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        val index = Similarity.insertIntoCells(
          e, "vec_id", "embedding", KmInit).localCheckpoint(true)
        val qStream = Tables.stream(s, dir, "embeddings")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        val outSchema = StructType(Seq(
          StructField("query_id", LongType),
          StructField("rn", LongType, nullable = false),
          StructField("neighbor_id", LongType),
          StructField("cosine", DoubleType)))
        var out = s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
        Streams.scratchCheckpointDir("graft-annserve-ck") { ckpt =>
          Streams.transformEachBatch(
            qStream,
            batch => Similarity.annTopKIvf(batch, index, "vec_id",
              "embedding", "cell", KmInit, 3, probes = 1),
            res => out = out.unionByName(res).localCheckpoint(true),
            ckpt.toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        out.orderBy(col("query_id"), col("rn"))
      },
      {
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |b AS (SELECT vec_id, v, $cellSql AS cell FROM e),
          |q AS (SELECT vec_id AS query_id, v AS qv, cell FROM b
          |      WHERE vec_id % 100 = 0),
          |s AS (
          |  SELECT q.query_id, b.vec_id AS neighbor_id,
          |         ${cosSql("qv", "v")} AS cos
          |  FROM q JOIN b USING (cell) WHERE q.query_id <> b.vec_id),
          |r AS (
          |  SELECT query_id, neighbor_id, cos,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY cos DESC, neighbor_id) AS rn
          |  FROM s)
          |SELECT query_id, rn, neighbor_id, cos AS cosine
          |FROM r WHERE rn <= 3
          |ORDER BY query_id, rn""".stripMargin)
      }),

    // STREAMING Lloyd half-step: embeddings arrive as a stream; the
    // per-cell quantized sufficient statistics (n, Σ⌊v_d·2²⁰⌋) are
    // maintained as Complete-mode state — the accumulation is
    // associative, so the streamed grid EQUALS the batch pass's
    // (q84's g1 stage, which is this gate's oracle). The centroid
    // readout is the same closing select as kmeansSummary: one
    // trainer definition, two execution modes. State is k×(dim+1)
    // longs — centroid-bounded, never corpus-bounded.
    "q306_stream_kmeans" -> Q(
      (s, dir) => {
        import graft.streaming.Streams
        val dim = 64
        val embStream = Tables.stream(s, dir, "embeddings")
          .select(
            Similarity.kmAssign(vec(col("embedding")), KmInit).as("cell"),
            vec(col("embedding")).as("embedding"))
        val aggs = Similarity.kmCellAggs("embedding", dim)
        val grid = Streams.runToTable(
          embStream.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*),
          org.apache.spark.sql.streaming.OutputMode.Complete())
        Similarity.kmCentroidsFromGrid(grid, dim)
          .select(col("cell"), col("n_members"),
            posexplode(col("centroid")).as(Seq("dim_idx", "value")))
          .orderBy(col("cell"), col("dim_idx"))
      },
      {
        val dim = 64
        val q20 = "1048576.0"
        val sumExprs = (0 until dim).map(d =>
          s"CAST(sum(CAST(floor(v[${d + 1}] * $q20) AS BIGINT)) AS BIGINT) AS s$d")
          .mkString(",\n|    ")
        val centroidList = (0 until dim).map(d => s"s$d / (n * $q20)")
          .mkString("[", ", ", "]")
        val cellSql = cellSqlFor("v")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |a1 AS (SELECT vec_id, v, $cellSql AS cell FROM e),
          |g1 AS (SELECT cell, count(*) AS n,
          |    $sumExprs
          |  FROM a1 GROUP BY cell),
          |sel AS (SELECT CAST(cell AS BIGINT) AS cell, n AS n_members,
          |    $centroidList AS c
          |  FROM g1)
          |SELECT cell, n_members, CAST(i AS INT) AS dim_idx,
          |  c[i + 1] AS value
          |FROM sel CROSS JOIN
          |  (SELECT unnest(generate_series(0, ${dim - 1})) AS i) d
          |ORDER BY cell, dim_idx""".stripMargin)
      }),

    // MRR@k retrieval eval: where in the IVF multi-probe top-3 list
    // does the TRUE nearest neighbor (exact top-1) sit. Reciprocal
    // rank in exact ppm per query plus the global mean — the
    // single-number index-quality readout recall@k (q154) cannot
    // give (recall treats rank 1 and rank 3 alike). Two k-bounded
    // frames join; eval cost is |queries| rows at any corpus size.
    "q313_mrr_eval" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        val queries = e.filter(col("vec_id") % 100 === 0)
        val ann = ivfTop3(queries, e, probes = 3)
        val exact = Similarity.bruteForceTopK(
          queries, e, "vec_id", "embedding", 3)
        Similarity.mrrAtK(ann, exact)
          .withColumn("mean_rr_ppm",
            expr("sum(rr_ppm) OVER () div count(1) OVER ()"))
          .orderBy(col("query_id"))
      },
      {
        val centValues = Centroids.zipWithIndex
          .map { case (c, i) => s"($i, ${centroidLit(c)})" }.mkString(", ")
        Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          |cent AS (SELECT * FROM (VALUES $centValues) AS t(cell, c)),
          |sc AS (SELECT e.vec_id, e.v, cent.cell, ${cosSql("v", "c")} AS cos
          |       FROM e CROSS JOIN cent),
          |rk AS (SELECT vec_id, v, cell,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY cos DESC, cell DESC) AS rn
          |       FROM sc),
          |asg AS (SELECT vec_id, v, cell FROM rk WHERE rn = 1),
          |qp AS (SELECT vec_id AS query_id, v AS qv, cell
          |       FROM rk WHERE vec_id % 100 = 0 AND rn <= 3),
          |s AS (SELECT qp.query_id, asg.vec_id AS neighbor_id,
          |        ${cosSql("qv", "v")} AS cos
          |      FROM qp JOIN asg USING (cell)
          |      WHERE qp.query_id <> asg.vec_id),
          |ann AS (SELECT query_id, neighbor_id, rn FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |        ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM s) WHERE rn <= 3),
          |q2 AS (SELECT vec_id AS query_id, v AS qv FROM e
          |       WHERE vec_id % 100 = 0),
          |ex1 AS (SELECT query_id, neighbor_id AS true_nn FROM (
          |    SELECT q2.query_id, e.vec_id AS neighbor_id,
          |      row_number() OVER (PARTITION BY q2.query_id
          |        ORDER BY ${cosSql("qv", "v")} DESC, e.vec_id) AS rn
          |    FROM q2 JOIN e ON q2.query_id <> e.vec_id)
          |  WHERE rn = 1)
          |SELECT ex1.query_id, ex1.true_nn,
          |  CAST(ann.rn AS BIGINT) AS sys_rank,
          |  coalesce(1000000 // ann.rn, 0) AS rr_ppm,
          |  ann.rn IS NOT NULL AS hit,
          |  CAST(sum(coalesce(1000000 // ann.rn, 0)) OVER ()
          |    AS BIGINT) // count(*) OVER () AS mean_rr_ppm
          |FROM ex1 LEFT JOIN ann
          |  ON ex1.query_id = ann.query_id
          | AND ex1.true_nn = ann.neighbor_id
          |ORDER BY ex1.query_id""".stripMargin)
      }),

    // Per-dimension embedding QA: null/zero/positive shares in ppm
    // plus raw min/max per dim — the dead-dimension and saturation
    // audit an embedding pipeline runs before trusting ANN recall.
    // min/max are raw float comparisons (no accumulation), so the
    // whole audit hash-gates. One explode + one dim-keyed agg.
    "q408_dim_audit" -> Q(
      (s, dir) => Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("x").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("x") === 0f, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("x") > 0f, 1L).otherwise(0L)).as("n_pos"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"))
        .withColumn("pos_ppm", expr("n_pos * 1000000L div n"))
        .orderBy(col("dim")),
      Some("""WITH u AS (SELECT
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    unnest(embedding) AS x
        |  FROM embeddings)
        |SELECT dim, count(*) AS n,
        |  CAST(sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  min(x) AS x_min, max(x) AS x_max,
        |  CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS pos_ppm
        |FROM u GROUP BY 1 ORDER BY dim""".stripMargin)),

    // Corpus diversity via the closed-form pairwise-Hamming sum over
    // sign bits: Σ_d n⁺·(n−n⁺) — O(n·d) where the definition is
    // O(n²·d), which is why the audit runs on the full corpus, not a
    // sample. Exact integers; the oracle replays the per-dimension
    // counting identity.
    "q407_sign_diversity" -> Q(
      (s, dir) => Similarity.signDiversity(
        Tables.embeddings(s, dir), "embedding"),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |d AS (SELECT u.d, count(*) AS n,
        |    CAST(sum(CASE WHEN coalesce(u.x, 0) > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos
        |  FROM (SELECT vec_id,
        |      generate_subscripts(embedding, 1) - 1 AS d,
        |      unnest(embedding) AS x FROM e) u
        |  GROUP BY 1)
        |SELECT CAST(max(n) AS BIGINT) AS n_vecs,
        |  count(*) AS n_dims,
        |  CAST(sum(pos * (n - pos)) AS BIGINT) AS sum_hamming,
        |  CASE WHEN max(n) < 2 THEN 0
        |    ELSE CAST(sum(pos * (n - pos)) AS BIGINT) * 1000
        |      // (CAST(max(n) AS BIGINT) * (max(n) - 1) // 2)
        |  END AS mean_hamming_milli
        |FROM d""".stripMargin)),

    // Bitext mining by the margin criterion (Artetxe & Schwenk 2019):
    // the corpus split by vec_id parity stands in for two languages;
    // margin = cos / (mean of both sides' k-NN cosines), which
    // cancels embedding-space hubness. Per source the max-margin
    // target, mutual-best flagged. k-NN means are rank-ordered
    // sequential folds (list_reduce over list(ORDER BY rn)) so every
    // double is bit-identical across engines.
    "q375_bitext_mining" -> Q(
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .select(col("vec_id"), vec(col("embedding")).as("embedding"))
        Similarity.bitextMineMargin(
            e.filter(col("vec_id") % 2 === 0),
            e.filter(col("vec_id") % 2 === 1),
            "vec_id", "embedding", k = 4)
          .orderBy(col("src_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        |sl AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
        |tl AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
        |fp AS (SELECT sl.vec_id AS src_id, tl.vec_id AS tgt_id,
        |    ${cosSql("sl.v", "tl.v")} AS cos
        |  FROM sl CROSS JOIN tl),
        |fwd AS (SELECT src_id, tgt_id, cos, row_number() OVER (
        |    PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rn
        |  FROM fp),
        |bwd AS (SELECT src_id, tgt_id, cos, row_number() OVER (
        |    PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rn
        |  FROM fp),
        |ax AS (SELECT src_id, list_reduce(
        |      [0.0] || list(cos ORDER BY rn), (a, x) -> a + x)
        |    / count(*) AS ax
        |  FROM fwd WHERE rn <= 4 GROUP BY 1),
        |ay AS (SELECT tgt_id, list_reduce(
        |      [0.0] || list(cos ORDER BY rn), (a, x) -> a + x)
        |    / count(*) AS ay
        |  FROM bwd WHERE rn <= 4 GROUP BY 1),
        |m AS (SELECT c.src_id, c.tgt_id, c.cos,
        |    CASE WHEN ax.ax + ay.ay = 0 THEN 0.0
        |         ELSE c.cos / ((ax.ax + ay.ay) / 2.0) END AS margin
        |  FROM (SELECT src_id, tgt_id, cos FROM fwd WHERE rn <= 4) c
        |  JOIN ax USING (src_id) JOIN ay USING (tgt_id)),
        |r AS (SELECT src_id, tgt_id, cos, margin,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY margin DESC, tgt_id) AS rf,
        |    row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY margin DESC, src_id) AS rb
        |  FROM m)
        |SELECT src_id, tgt_id, cos AS cosine, margin, rb = 1 AS mutual
        |FROM r WHERE rf = 1 ORDER BY src_id""".stripMargin)),

    // Greedy k-center coreset (Gonzalez 2-approx) over int8-quantized
    // embeddings — diversity-keeping data pruning, every selection
    // (ties id-asc) deterministic through exact integer squared L2.
    // The oracle replays the identical k rounds as chained CTE stages
    // (the bpeStage discipline): per stage, distance to the ONE new
    // center via a position join on the exploded quantized frame,
    // running min, argmax excluding already-chosen ids.
    "q433_kcenter_coreset" -> Q(
      (s, dir) => Similarity.kCenterGreedy(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 6)
        .orderBy(col("rank")),
      Some {
        def stage(r: Int): String = {
          val prev = r - 1
          s"""c$r AS (SELECT vec_id, d FROM m$prev
             |  WHERE vec_id NOT IN (SELECT vec_id FROM sel$prev)
             |  ORDER BY d DESC, vec_id LIMIT 1),
             |sel$r AS (SELECT * FROM sel$prev
             |  UNION ALL SELECT $r, vec_id, d FROM c$r),
             |d$r AS (SELECT a.vec_id,
             |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
             |  FROM q0 a JOIN q0 b ON a.i = b.i
             |    AND b.vec_id = (SELECT vec_id FROM c$r)
             |  GROUP BY 1),
             |m$r AS (SELECT m$prev.vec_id, least(m$prev.d, d$r.d) AS d
             |  FROM m$prev JOIN d$r ON m$prev.vec_id = d$r.vec_id)""".stripMargin
        }
        s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |q0 AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CASE WHEN maxabs = 0 THEN 0
        |         ELSE CAST(trunc(CAST(embedding[i] AS DOUBLE) / (maxabs / 127.0)) AS INT)
        |    END AS q
        |  FROM (SELECT vec_id, embedding, maxabs,
        |          unnest(generate_series(1, len(embedding))) AS i
        |        FROM e)),
        |seed AS (SELECT min(vec_id) AS cid FROM q0),
        |sel0 AS (SELECT 0 AS rank, cid AS vec_id,
        |    CAST(0 AS BIGINT) AS sel_dist FROM seed),
        |d0 AS (SELECT a.vec_id,
        |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d
        |  FROM q0 a JOIN q0 b ON a.i = b.i
        |    AND b.vec_id = (SELECT cid FROM seed)
        |  GROUP BY 1),
        |m0 AS (SELECT vec_id, d FROM d0),
        |${(1 to 5).map(stage).mkString(",\n|")}
        |SELECT CAST(rank AS BIGINT) AS rank, vec_id AS id,
        |  CAST(sel_dist AS BIGINT) AS sel_dist
        |FROM sel5 ORDER BY rank""".stripMargin
      })
  )
}
