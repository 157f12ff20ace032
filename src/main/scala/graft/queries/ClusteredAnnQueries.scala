package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{GraphAnn, Similarity}
import graft.expressions.VectorExpressions.dotI

/** q472–q475, q478–q479: the ANN families proven in the regime they
  * exist for (VERDICT r11 items 2–4). The uniform-random embeddings
  * fixture mathematically cannot show index recall — every neighbor is
  * equidistant in expectation, so q452/q469's audited recall is an
  * honest but uninformative ~0.15. This pack builds a DETERMINISTIC
  * CLUSTERED fixture instead — cluster = salted-hash draw, centroid
  * components and per-vector jitter both hash-derived integers, so
  * the whole mixture replays in SQL with zero RNG state — and gates:
  *
  *  - q472: graph-ANN (NN-descent build + beam serve) recall ≥ 0.8,
  *  - q473: TRAINED IVF (hash-seeded k-means + multi-probe) recall,
  *  - q474: the AUTO-BUILT multi-level HNSW stack vs the hand-built
  *    two-layer descent at equal total steps,
  *  - q475: predicate-constrained (filtered) serve vs brute-force
  *    filtered top-k (stitched allowed-kNN overlay),
  *  - q478: the cardinality switch (exact scan below a threshold),
  *  - q479: filtered search over the layered stack (filtered HNSW),
  *  - q483: residual IVF-PQ with ADC serve + exact re-rank (the
  *    FAISS IVFPQ stack over the q473 coarse quantizer).
  *
  * Everything scores by the exact integer code dot ([[dotI]]) except
  * the IVF path, which ranks by the q57-proven double cosine.
  */
object ClusteredAnnQueries extends QueryPack {

  private val Dim = 16
  private val NCl = 8 // mixture components
  private val K = 4 // graph degree
  private val Buckets = 8 // ring hash buckets
  private val Rounds = 2 // NN-descent rounds
  private val EntryK = 16 // beam entry points (≥ NCl: every cluster
  // is likely seeded, the flat graph's cross-cluster edges are rare)
  private val Beam = 12
  private val Steps = 5
  private val TopK = 3
  private val Fanout = 4 // auto-stack geometric level fanout
  private val MinTop = 8 // auto-stack: top level keeps ≥ this many
  private val LevelCap = 2 // auto-stack level cap (policy yields 2 at
  // sf0.01 AND sf0.1: n=500→2, n=2000→min(cap,3)=2 — the oracle
  // replays exactly this stack)
  private val HandUpper = 4 // hand 2-layer: 1-in-4 sample, q469 shape
  private val Probes = 3 // IVF probe count
  private val KmIters = 2 // Lloyd iterations
  private val FilterMod = 20 // filtered serve: vec_id % 20 = 3 (~5%)
  private val FilterRem = 3
  // q483 residual IVF-PQ geometry: Dim=16 → 8 subspaces × 2 dims,
  // 16 cells each (8·log2(16) = 32 bits/vector — the standard fine
  // setting; 4×4×16 = 16 bits read 0.72 re-ranked recall at sf0.1),
  // ADC shortlist 80 before the exact re-rank
  private val PqM = 8
  private val PqSubDim = 2
  private val PqK = 16
  private val ShortK = 80

  /** Fixed-seed PQ seed codebooks, ×5 so the seeds span the residual
    * range (±10 jitter); the seed doubles are part of the spec — the
    * oracle interpolates the identical values (q211's discipline).
    */
  private val PqInit: Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(4343L)
    Seq.fill(PqM)(Seq.fill(PqK)(Seq.fill(PqSubDim)(rnd.nextGaussian() * 5.0)))
  }

  // q484/q485 signed-JL geometry: 16 → 8 dims (2× scan compression),
  // projected-space shortlist 80 before the exact re-rank
  private val JlDim = 8
  private val JlShortK = 80

  /** Exact integer squared L2 over two integral arrays — zip_with
    * fold, i64 throughout.
    */
  private def l2iCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y).cast("long") * (x - y).cast("long")),
      lit(0L), _ + _)

  /** [[l2iCol]]'s DuckDB mirror over `len` components. */
  private def l2iSql(a: String, b: String, len: Int): String =
    s"CAST(list_reduce([CAST(0 AS BIGINT)] || " +
      s"list_transform(range(1, ${len + 1}), " +
      s"i -> CAST($a[i] - $b[i] AS BIGINT) * CAST($a[i] - $b[i] AS BIGINT)), " +
      "(acc, x) -> acc + x) AS BIGINT)"

  /** [[graft.operators.Similarity.jlProjectInt]]'s DuckDB mirror:
    * every sign re-derived from the md5 of the literal "i:j" string —
    * the oracle proves the sign-matrix derivation, not just the sums.
    */
  private lazy val jlProjSql: String =
    (1 to JlDim).map { j =>
      (1 to Dim).map { i =>
        val h = hashSql(s"'$i:$j'", ":jl")
        s"(CASE WHEN $h % 2 = 0 THEN CAST(q[$i] AS BIGINT) " +
          s"ELSE -CAST(q[$i] AS BIGINT) END)"
      }.mkString("(", " + ", ")")
    }.mkString("[", ", ", "]")

  // ---------------------------------------------------------------
  // fixture: deterministic clustered integer codes
  // ---------------------------------------------------------------

  /** Clustered code vectors: cluster = hash(id) mod NCl; component i
    * = hash-derived centroid in [-100, 100] + hash-derived jitter in
    * [-10, 10]. Same-cluster dots concentrate near ‖c‖² (~5.3e4 at
    * Dim=16) while cross-cluster dots are near 0 (±1.3e4) — a real
    * mixture, pure function of vec_id.
    */
  /** The synthetic clustered fixture. Lazily PERSISTED (optimization
    * r15, guide §5): the generator computes 2·Dim md5 hashes per row,
    * and the build/serve loops scan this frame dozens of times per
    * gate — the CacheManager dedups repeated calls by canonical plan,
    * so every gate shares one materialization per run and the
    * ContextCleaner frees it when the gate's frames go unreachable.
    */
  private def clusteredCodes(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"))
      .withColumn("cl",
        GraphAnn.saltedHash60(col("vec_id"), ":cl") % NCl)
      .withColumn("code", transform(sequence(lit(1), lit(Dim)), i =>
        (GraphAnn.saltedHash60(
          concat(col("cl").cast("string"), lit(":"), i.cast("string")),
          ":cent") % 201 - 100 +
          (GraphAnn.saltedHash60(
            concat(col("vec_id").cast("string"), lit(":"),
              i.cast("string")), ":jit") % 21 - 10)).cast("int")))
      .select(col("vec_id"), col("code"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def hashSql(idExpr: String, salt: String): String =
    s"CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR) || '$salt'), " +
      s"1, 15)) AS BIGINT)"

  /** [[clusteredCodes]] mirror: `qz(vec_id, q)`. */
  private val codesCte: String =
    s"""cl0 AS (SELECT vec_id, ${hashSql("vec_id", ":cl")} % $NCl AS cl
       |  FROM embeddings),
       |qz AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(1, ${Dim + 1}), i ->
       |    ${hashSql("CAST(cl AS VARCHAR) || ':' || CAST(i AS VARCHAR)",
          ":cent")} % 201 - 100 +
       |    (${hashSql("CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)",
          ":jit")} % 21 - 10)) AS q
       |  FROM cl0)""".stripMargin

  /** Exact integer dot — the [[dotI]] mirror. */
  private def idotSql(a: String, b: String): String =
    s"CAST(list_reduce([CAST(0 AS BIGINT)] || " +
      s"list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), " +
      s"(acc, x) -> acc + x) AS BIGINT)"

  // ---------------------------------------------------------------
  // SQL builders (GraphAnnQueries' replay shapes at THIS pack's
  // constants — K=4, Buckets=8, Rounds=2, EntryK=16, Beam=12)
  // ---------------------------------------------------------------

  /** k salted hash rings over nodes matching `cond` → `${pfx}E`.
    * `src` picks the code table (q521 builds over BOTH the original
    * `qz` and a mutated twin).
    */
  private def ringSql(pfx: String, cond: String, buckets: Int,
      src: String = "qz"): String = {
    val rings = (1 to K).map { j =>
      s"""${pfx}rj$j AS (SELECT vec_id, h, h % $buckets AS b FROM (
         |  SELECT vec_id, ${hashSql("vec_id", s":ring$j")} AS h
         |  FROM $src WHERE $cond)),
         |${pfx}rk$j AS MATERIALIZED (SELECT vec_id, b,
         |    row_number() OVER (PARTITION BY b ORDER BY h, vec_id) AS r,
         |    count(*) OVER (PARTITION BY b) AS c
         |  FROM ${pfx}rj$j),
         |${pfx}ed$j AS (SELECT a.vec_id AS src, bb.vec_id AS dst
         |  FROM ${pfx}rk$j a JOIN ${pfx}rk$j bb
         |    ON a.b = bb.b AND bb.r = a.r % a.c + 1)""".stripMargin
    }.mkString(",\n")
    val u = (1 to K).map(j => s"SELECT * FROM ${pfx}ed$j")
      .mkString(" UNION ALL ")
    s"""$rings,
       |${pfx}E AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($u)
       |  WHERE src <> dst)""".stripMargin
  }

  /** Ring init + `Rounds` NN-descent rounds over nodes matching
    * `cond` → `${pfx}e$Rounds(src, dst)` — prefixed so a gate can
    * replay SEVERAL builds (the full graph and q475's allowed-subset
    * overlay) side by side.
    */
  private def graphCtesP(pfx: String, cond: String,
      buckets: Int, src: String = "qz"): String = {
    val rounds = (1 to Rounds).map { r =>
      s"""${pfx}und$r AS MATERIALIZED (
         |  SELECT src, dst FROM ${pfx}e${r - 1}
         |  UNION
         |  SELECT dst AS src, src AS dst FROM ${pfx}e${r - 1}),
         |${pfx}pr$r AS (SELECT a.dst AS u, b.dst AS w
         |  FROM ${pfx}und$r a JOIN ${pfx}und$r b
         |    ON a.src = b.src AND a.dst < b.dst),
         |${pfx}cd$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM ${pfx}e${r - 1}
         |  UNION ALL SELECT u AS src, w AS dst FROM ${pfx}pr$r
         |  UNION ALL SELECT w AS src, u AS dst FROM ${pfx}pr$r)
         |  WHERE src <> dst),
         |${pfx}sc$r AS (SELECT c.src, c.dst,
         |    ${idotSql("qs.q", "qd.q")} AS idot
         |  FROM ${pfx}cd$r c JOIN $src qs ON qs.vec_id = c.src
         |              JOIN $src qd ON qd.vec_id = c.dst),
         |${pfx}e$r AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY idot DESC, dst) AS rn
         |  FROM ${pfx}sc$r) WHERE rn <= $K)""".stripMargin
    }.mkString(",\n")
    s"""${ringSql(s"${pfx}g", cond, buckets, src)},
       |${pfx}e0 AS MATERIALIZED (SELECT src, dst FROM ${pfx}gE),
       |$rounds""".stripMargin
  }

  /** The full-corpus build under the un-prefixed `e$Rounds` names. */
  private def graphCtes: String = graphCtesP("", "TRUE", Buckets)

  /** Beam descent with a PER-STEP edge table; emits
    * `${p}st$n`, per-step `${p}sx$r`, and the final ranked
    * `${p}srv(query_id, node, idot, rn)` (self excluded).
    */
  private def beamCtesL(p: String, qCte: String,
      stepEdges: Seq[String], entryCond: String,
      src: String = "qz", beam: Int = Beam,
      entryK: Int = EntryK): String = {
    val nSteps = stepEdges.size
    val steps = (1 to nSteps).map { r =>
      val edges = stepEdges(r - 1)
      s"""${p}ex$r AS (SELECT DISTINCT s.query_id, g.dst AS node
         |  FROM ${p}st${r - 1} s JOIN $edges g ON g.src = s.node),
         |${p}sx$r AS MATERIALIZED (SELECT x.query_id, x.node,
         |    ${idotSql("qq.qv", "c.q")} AS idot
         |  FROM ${p}ex$r x JOIN $src c ON c.vec_id = x.node
         |              JOIN $qCte qq ON qq.query_id = x.query_id),
         |${p}st$r AS MATERIALIZED (SELECT query_id, node, idot FROM (
         |  SELECT query_id, node, idot, row_number() OVER (
         |      PARTITION BY query_id ORDER BY idot DESC, node) AS rn
         |  FROM (SELECT DISTINCT * FROM (
         |    SELECT * FROM ${p}st${r - 1}
         |    UNION ALL SELECT * FROM ${p}sx$r)))
         |  WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""${p}en AS (SELECT vec_id AS node FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY
       |      ${hashSql("vec_id", ":entry")}, vec_id) AS rn
       |  FROM $src WHERE $entryCond) WHERE rn <= $entryK),
       |${p}st0 AS MATERIALIZED (SELECT qq.query_id, ${p}en.node,
       |    ${idotSql("qq.qv", "c.q")} AS idot
       |  FROM $qCte qq CROSS JOIN ${p}en
       |  JOIN $src c ON c.vec_id = ${p}en.node),
       |$steps,
       |${p}srv AS (SELECT query_id, node, idot, row_number() OVER (
       |    PARTITION BY query_id ORDER BY idot DESC, node) AS rn
       |  FROM ${p}st$nSteps WHERE node <> query_id)""".stripMargin
  }

  /** Dual-frontier filtered descent (the filtered [[GraphAnn.beamServe]]
    * recurrence): routing beam `${p}st$r` + matched beam `${p}fr$r`,
    * both expanding, both cut to Beam per step, per-step edge tables
    * (the layered q479 passes a different table per level). Assumes
    * `${p}st0`/`${p}fr0` are defined; read the answer from
    * `${p}fr${stepEdges.size}`.
    */
  private def filteredStepsCtes(p: String, stepEdges: Seq[String],
      fcond: String): String =
    stepEdges.zipWithIndex.map { case (edges, i) =>
      val r = i + 1
      s"""${p}un$r AS (SELECT query_id, node FROM ${p}st${r - 1}
         |  UNION SELECT query_id, node FROM ${p}fr${r - 1}),
         |${p}ex$r AS (SELECT DISTINCT s.query_id, g.dst AS node
         |  FROM ${p}un$r s JOIN $edges g ON g.src = s.node),
         |${p}sx$r AS MATERIALIZED (SELECT x.query_id, x.node,
         |    ${idotSql("qq.qv", "c.q")} AS idot
         |  FROM ${p}ex$r x JOIN qz c ON c.vec_id = x.node
         |              JOIN qq ON qq.query_id = x.query_id),
         |${p}st$r AS MATERIALIZED (SELECT query_id, node, idot FROM (
         |  SELECT query_id, node, idot, row_number() OVER (
         |      PARTITION BY query_id ORDER BY idot DESC, node) AS rn
         |  FROM (SELECT DISTINCT * FROM (
         |    SELECT * FROM ${p}st${r - 1}
         |    UNION ALL SELECT * FROM ${p}sx$r)))
         |  WHERE rn <= $Beam),
         |${p}fr$r AS MATERIALIZED (SELECT query_id, node, idot FROM (
         |  SELECT query_id, node, idot, row_number() OVER (
         |      PARTITION BY query_id ORDER BY idot DESC, node) AS rn
         |  FROM (SELECT DISTINCT * FROM (
         |    SELECT * FROM ${p}fr${r - 1}
         |    UNION ALL SELECT query_id, node, idot FROM ${p}sx$r
         |      WHERE node <> query_id AND $fcond)))
         |  WHERE rn <= $Beam)""".stripMargin
    }.mkString(",\n")

  /** Entry + step-0 state for the filtered descent: entryK picks
    * among `entryCond` nodes ∪ entryK seeds from the predicate's own
    * population, scored; `${p}fr0` = its matching rows.
    */
  private def filteredEntryCtes(p: String, entryCond: String,
      seedCond: String, fcond: String): String =
    s"""${p}en AS (SELECT vec_id AS node FROM (
       |  SELECT vec_id, row_number() OVER (ORDER BY
       |      ${hashSql("vec_id", ":entry")}, vec_id) AS rn
       |  FROM qz WHERE $entryCond) WHERE rn <= $EntryK
       |  UNION
       |  SELECT vec_id AS node FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY
       |        ${hashSql("vec_id", ":entry")}, vec_id) AS rn
       |    FROM qz WHERE $seedCond) WHERE rn <= $EntryK),
       |${p}st0 AS MATERIALIZED (SELECT qq.query_id, ${p}en.node,
       |    ${idotSql("qq.qv", "c.q")} AS idot
       |  FROM qq CROSS JOIN ${p}en
       |  JOIN qz c ON c.vec_id = ${p}en.node),
       |${p}fr0 AS MATERIALIZED (SELECT query_id, node, idot FROM ${p}st0
       |  WHERE node <> query_id AND $fcond)""".stripMargin

  private val qqCte: String =
    s"""qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv
       |  FROM qz WHERE vec_id % 25 = 0)""".stripMargin

  // ---------------------------------------------------------------
  // Exact fixed-point coarse-quantizer replay (the q473 trainer),
  // shared by the trained-IVF (q473) and residual-IVF-PQ (q483)
  // oracles so both serve the IDENTICAL coarse cells: vv (double
  // vectors), hash-picked seed rows, two assign+refine Lloyd rounds
  // (quantized long sums, cos-desc/cell-desc tiebreaks), final
  // per-row ranking qrk and assignment asg.
  // ---------------------------------------------------------------

  private val Q20 = "1048576.0"

  private def coarseAssignSql(it: Int, from: String,
      pfx: String = ""): String =
    s"""${pfx}ss$it AS (SELECT e.vec_id, e.v, c.cell,
       |    ${SimilarityQueries.cosSql("e.v", "c.c")} AS cos
       |  FROM ${pfx}vv e CROSS JOIN $from c),
       |${pfx}aa$it AS MATERIALIZED (SELECT vec_id, v, cell FROM (
       |  SELECT vec_id, v, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
       |  FROM ${pfx}ss$it) WHERE rn = 1)""".stripMargin

  private def coarseRefineSql(it: Int, pfx: String = ""): String = {
    val sumExprs = (0 until Dim).map(d =>
      s"CAST(sum(CAST(floor(v[${d + 1}] * $Q20) AS BIGINT)) AS BIGINT) AS s$d")
      .mkString(",\n|    ")
    val centroidList = (0 until Dim).map(d => s"s$d / (n * $Q20)")
      .mkString("[", ", ", "]")
    s"""${pfx}gg$it AS (SELECT cell, count(*) AS n,
       |    $sumExprs
       |  FROM ${pfx}aa$it GROUP BY cell),
       |${pfx}c$it AS MATERIALIZED (SELECT cell, $centroidList AS c FROM ${pfx}gg$it)""".stripMargin
  }

  /** Parameterized coarse replay (the r13 lifecycle gates train on a
    * SUBSET): `va` = all double vectors, `vv` = the TRAINING rows
    * (`trainCond`), seeds/Lloyd rounds over vv with nlist from the
    * SQL scalar `nclSql`, and the FINAL ranking `qrk`/assignment
    * `asg` over **va** — base rows and incremental inserts assign
    * against the same frozen c2, exactly
    * [[Similarity.insertIntoCells]]. `qrk` keeps the winning `cos`
    * (the drift audit's fit signal).
    */
  private def coarseCtesOn(trainCond: String, nclSql: String): String =
    s"""va AS MATERIALIZED (SELECT vec_id,
       |  list_transform(q, x -> CAST(x AS DOUBLE)) AS v FROM qz),
       |${coarseBlockOn("", trainCond, nclSql)}""".stripMargin

  /** The coarse replay WITHOUT the `va` definition, all CTE names
    * prefixed — q516 replays TWO quantizers (stale and retrained)
    * over one SHARED (possibly mutated) `va`. Prefix "" reproduces
    * [[coarseCtesOn]]'s long-standing names exactly.
    */
  private def coarseBlockOn(pfx: String, trainCond: String,
      nclSql: String): String =
    s"""${pfx}vv AS MATERIALIZED (SELECT vec_id, v FROM va WHERE $trainCond),
       |${pfx}sd AS (SELECT vec_id, v, row_number() OVER (ORDER BY
       |    ${hashSql("vec_id", ":seed")}, vec_id) - 1 AS cell
       |  FROM ${pfx}vv),
       |${pfx}c0 AS MATERIALIZED (SELECT cell, v AS c FROM ${pfx}sd
       |  WHERE cell < ($nclSql)),
       |${coarseAssignSql(1, s"${pfx}c0", pfx)},
       |${coarseRefineSql(1, pfx)},
       |${coarseAssignSql(2, s"${pfx}c1", pfx)},
       |${coarseRefineSql(2, pfx)},
       |${pfx}qsc AS (SELECT e.vec_id, e.v, c.cell,
       |    ${SimilarityQueries.cosSql("e.v", "c.c")} AS cos
       |  FROM va e CROSS JOIN ${pfx}c2 c),
       |${pfx}qrk AS MATERIALIZED (SELECT vec_id, v, cell, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cell DESC) AS rn
       |  FROM ${pfx}qsc),
       |${pfx}asg AS (SELECT vec_id, v, cell FROM ${pfx}qrk WHERE rn = 1)""".stripMargin

  /** The [[Similarity.numCells]] policy as a SQL scalar over `src`. */
  private def nlSql(src: String): String =
    "GREATEST(4, LEAST(65536, CAST(floor(sqrt(CAST(" +
      s"(SELECT count(*) FROM $src) AS DOUBLE))) AS BIGINT)))"

  /** The [[Similarity.numProbes]] policy over [[nlSql]]. */
  private def npSql(src: String): String =
    s"GREATEST(3, ((${nlSql(src)}) + 7) // 8)"

  /** [[npSql]] CLAMPED to the trained quantizer's actual cell count
    * (the final centroid CTE `cells`) — [[Similarity.kmeansIterate]]
    * drops empty cells, so the policy nlist only upper-bounds the
    * trained size and the serves require probes ≤ cents.size (r14
    * ADVICE; equal on this fixture, so hashes are unchanged — the
    * clamp is the contract, not a new answer).
    */
  private def npcSql(src: String, cells: String): String =
    s"LEAST((${npSql(src)}), (SELECT count(*) FROM $cells))"

  private lazy val coarseCtes: String = coarseCtesOn("TRUE", NCl.toString)

  /** Brute-force exact top-k over corpus nodes matching `cond`. */
  private def bfSql(cond: String, src: String = "qz"): String =
    s"""bf AS MATERIALIZED (SELECT query_id, node FROM (
       |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
       |      PARTITION BY qq.query_id
       |      ORDER BY ${idotSql("qq.qv", "z.q")} DESC, z.vec_id) AS rn
       |  FROM qq JOIN $src z ON z.vec_id <> qq.query_id
       |  WHERE $cond) WHERE rn <= $TopK)""".stripMargin

  /** Aggregate recall row over a served CTE (rn ≤ TopK rows). */
  private def recallSelect(family: String, srv: String): String =
    recallSelectOn(family, srv, "qq", "bf")

  /** [[recallSelect]] with the query/ground-truth CTE names as
    * parameters — q522 audits four families against four different
    * ground truths in one statement.
    */
  private def recallSelectOn(family: String, srv: String,
      qq: String, bf: String): String =
    s"""SELECT '$family' AS family,
       |  (SELECT count(*) FROM $qq) AS n_queries,
       |  (SELECT count(*) FROM $qq) * $TopK AS denom,
       |  (SELECT count(*) FROM $srv s JOIN $bf
       |     ON $bf.query_id = s.query_id AND $bf.node = s.node
       |   WHERE s.rn <= $TopK) AS hits,
       |  CAST(floor(1000000.0 * (SELECT count(*) FROM $srv s JOIN $bf
       |     ON $bf.query_id = s.query_id AND $bf.node = s.node
       |   WHERE s.rn <= $TopK)
       |   / ((SELECT count(*) FROM $qq) * $TopK)) AS BIGINT) AS recall_ppm""".stripMargin

  // ---------------------------------------------------------------
  // Spark-side shared pieces
  // ---------------------------------------------------------------

  private def builtGraph(s: SparkSession, dir: String) = {
    val codes = clusteredCodes(s, dir)
    (codes, GraphAnn.nnDescent(codes, "vec_id", "code", K, Rounds,
      Buckets).select(col("src"), col("dst")).localCheckpoint(true))
  }

  /** [[builtGraph]] keeping the build's (rn, idot) ranks — the
    * lifecycle gates that COMMIT the index (q512/q514) store the
    * ranked edge list so the read-back repair re-scores only the
    * tombstone-touched lists (r16).
    */
  private def builtGraphRanked(s: SparkSession, dir: String) = {
    val codes = clusteredCodes(s, dir)
    (codes, GraphAnn.nnDescent(codes, "vec_id", "code", K, Rounds,
      Buckets).localCheckpoint(true))
  }

  private def queriesOf(codes: DataFrame): DataFrame =
    codes.filter(col("vec_id") % 25 === 0)

  /** Drift-audit retrain threshold (q503): 20 000 ppm ≈ a 0.02 drop
    * in mean assignment cosine — far above same-mixture noise (the
    * 'natural' batch reads drift ∈ [−800, 3600] ppm at sf0.01) and
    * far below the sign-flip collapse (up to ~8e5 ppm; cells whose
    * flipped inserts land elsewhere read 0 — no evidence, no flag).
    */
  private val DriftPpm = 20000L

  /** The clustered codes as DOUBLE vectors (the IVF family's input),
    * checkpointed — the trainer loop's actions would otherwise replay
    * the hash fixture per iteration.
    */
  private def doubleVecs(s: SparkSession, dir: String): DataFrame =
    clusteredCodes(s, dir).select(col("vec_id"),
        transform(col("code"), x => x.cast("double")).as("v"))
      .localCheckpoint(true)

  /** Hash-seeded k-means init: the `ncl` smallest ':seed'-hash rows
    * (q473's discipline), cell ids 0..ncl-1 in hash order.
    */
  private def seedInit(vecs: DataFrame, ncl: Int): Seq[(Int, Seq[Double])] =
    vecs.withColumn("__h", GraphAnn.saltedHash60(col("vec_id"), ":seed"))
      .orderBy(col("__h"), col("vec_id")).limit(ncl)
      .select(col("v")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
      .toSeq

  /** Policy probe count CLAMPED to the trained quantizer's actual
    * cell count: [[Similarity.kmeansIterate]] drops empty cells, so
    * the policy nlist only upper-bounds `cents.size`, and every serve
    * requires probes ≤ cents.size — an unclamped numProbes(ncl) can
    * throw on a fixture whose trained quantizer drops below ~nlist/8
    * cells (r14 ADVICE; the q518 hazard applied at every call site).
    */
  private def clampedProbes(ncl: Int,
      cents: Seq[(Int, Seq[Double])]): Int =
    math.min(Similarity.numProbes(ncl), cents.size)

  /** Exact top-`k` (query_id, neighbor_id) pairs of `queries` over
    * `corpus`, self excluded, under `score` on `valCol` — the ground
    * truth the recall rows measure against ([[graft.operators.TopK]]).
    */
  private def exactPairs(queries: DataFrame, corpus: DataFrame,
      valCol: String, score: (Column, Column) => Column,
      order: Column => Column, k: Int = TopK): DataFrame =
    graft.operators.TopK.exact(queries, corpus, "vec_id", valCol, score,
        order, k)
      .select(col("query_id"), col("neighbor_id"))

  /** Brute-force cosine top-k — the IVF family's exact ground truth
    * (double vectors, cosine ranking). Keeps its own unhinted join
    * (Spark picks the broadcast side): on this helper's gates the
    * broadcast-queries + Spread-corpus shape of
    * [[graft.operators.TopK.exact]] measured slower at sf0.1 by more
    * than the run-to-run spread of this join.
    */
  private def bruteCosTopK(queries: DataFrame, corpus: DataFrame): DataFrame =
    graft.operators.TopK.rank(
        queries.select(col("vec_id").as("query_id"), col("v").as("__qv"))
          .join(corpus.select(col("vec_id").as("neighbor_id"),
            col("v").as("__nv")), col("query_id") =!= col("neighbor_id"))
          .withColumn("__c", Similarity.cosineNative(col("__qv"), col("__nv"))),
        "query_id", col("__c").desc, "neighbor_id", TopK)
      .select(col("query_id"), col("neighbor_id"))

  /** Brute-force exact L2 top-k — the PQ family's ground truth
    * (squared L2 is the metric ADC approximates). The
    * `(__d asc, neighbor_id)` tiebreak must stay bit-identical with
    * [[rerankL2]] and every oracle's `l2dAt` ranking.
    */
  private def bruteL2TopK(queries: DataFrame,
      corpus: DataFrame): DataFrame =
    exactPairs(queries, corpus, "v",
      graft.expressions.VectorExpressions.l2sqF, _.asc)

  /** Exact-L2 re-rank of a (query_id, neighbor_id, …) shortlist
    * against the raw vectors — the production second stage shared by
    * every ADC gate (the shortlist is ShortK-bounded, so the raw-
    * vector join is the only cold read the serve pays). The JL/SQ8
    * gates re-rank on the integer codes with [[l2iCol]]. Every
    * shortlist row keeps its rank (no limit).
    */
  private def rerankL2(short: DataFrame, queries: DataFrame,
      corpus: DataFrame, valCol: String = "v",
      dist: (Column, Column) => Column =
        graft.expressions.VectorExpressions.l2sqF): DataFrame = {
    short
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col(valCol).as("__nv")), Seq("neighbor_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        col(valCol).as("__qv")), Seq("query_id"))
      .withColumn("__d", dist(col("__qv"), col("__nv")))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__d").asc, col("neighbor_id"))))
      .select(col("query_id"), col("neighbor_id"),
        col("rn2").as("rn"))
  }

  /** [[bruteCosTopK]]'s mirror: `bf(query_id, node)` over `src`. */
  private def bruteCosSql(src: String): String =
    s"""bf AS MATERIALIZED (SELECT query_id, node FROM (
       |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
       |      PARTITION BY qq.query_id
       |      ORDER BY ${SimilarityQueries.cosSql("qq.qv", "z.v")} DESC,
       |        z.vec_id) AS rn
       |  FROM qq JOIN $src z ON z.vec_id <> qq.query_id)
       |  WHERE rn <= $TopK)""".stripMargin

  /** Double squared-L2 of `a[off+1..off+len]` vs `b[1..len]` — the
    * subspace-slice mirror of the native PQ kernels' fold.
    */
  private def l2dAt(a: String, off: Int, b: String, len: Int): String =
    s"list_reduce([0.0] || list_transform(range(1, ${len + 1}), " +
      s"i -> ($a[i + $off] - $b[i]) * ($a[i + $off] - $b[i])), " +
      "(acc, x) -> acc + x)"

  private def dlit(c: Seq[Double]): String =
    c.mkString("([", ", ", "]::DOUBLE[])")

  /** The residual-IVF-PQ replay shared by q483 and the committed-
    * serve gate q505: coarse quantizer (coarseCtes) → residuals `rs`
    * → per-subspace PQ train/encode (seed literals → residual argmin
    * → quantized-sum refinement with seed fallback → re-encode) →
    * code table `cd` → queries `qq` → probed residuals `qr` →
    * candidates `cand` → ADC distances `adc` → ranked shortlist
    * `short` (≤ ShortK rows/query).
    */
  private lazy val ivfPqCtes: String =
    ivfPqCtesOn(coarseCtes, Probes.toString)

  /** [[ivfPqCtes]] over an arbitrary coarse block and probe-count SQL
    * scalar — q507 re-runs the identical PQ replay on the POLICY-
    * sized coarse quantizer.
    */
  private def ivfPqCtesOn(coarse: String, probesSql: String): String =
    ivfPqCtesSplit(coarse, probesSql, "TRUE", "vv")

  /** [[ivfPqCtesOn]] with the PQ TRAINING population split from the
    * ENCODED population: codebooks refine only over residuals
    * matching `pqTrainCond` (the frozen-at-train-time base — q519's
    * streaming-ingest contract), while `pe$mi`/`cd` encode EVERY
    * residual against those frozen codebooks; `qSrc` picks the
    * query universe ("vv" = training rows, "va" = all rows). The
    * "TRUE"/"vv" instantiation reproduces [[ivfPqCtesOn]] verbatim.
    */
  private def ivfPqCtesSplit(coarse: String, probesSql: String,
      pqTrainCond: String, qSrc: String): String =
    s"""${ivfPqCodesCtes(coarse, pqTrainCond)},
       |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
       |  FROM $qSrc WHERE vec_id % 25 = 0),
       |${ivfPqServeCtes("", "vec_id % 25 = 0", probesSql, "TRUE")}""".stripMargin

  /** The PQ INDEX replay alone — codes `cd(vec_id, cell, e0..eM)`
    * plus codebooks `pr$mi`, no query/serve chain: q520 composes
    * multiple [[ivfPqServeCtes]] serve widths over one build.
    */
  private def ivfPqCodesCtes(coarse: String,
      pqTrainCond: String): String =
    s"""$codesCte,
       |$coarse,
       |${ivfPqTrainCtes(pqTrainCond)}""".stripMargin

  /** The PQ train+encode block alone (rs/rst/codebooks/cd), assuming
    * `qz`/`va`/`${b}c2`/`${b}asg` are already in scope — q522 shares
    * ONE codes+coarse block across all four served families; q523
    * replays TWO whole PQ stacks (stale and retrained) by prefixing
    * every CTE name with `b` and reading the `b`-prefixed coarse
    * block.
    */
  private def ivfPqTrainCtes(pqTrainCond: String,
      b: String = ""): String = {
    // per-subspace PQ replay: seed literals → residual argmin →
    // quantized-sum refinement (seed fallback) → re-encode
    val pqBlocks = (0 until PqM).map { mi =>
      val off = mi * PqSubDim
      val sums = (0 until PqSubDim).map(d =>
        s"CAST(sum(CAST(floor(r[${off + d + 1}] * $Q20) AS BIGINT)) AS BIGINT) AS s$d")
        .mkString(", ")
      val clist = (0 until PqSubDim).map(d =>
        s"s$d / (CAST(n AS DOUBLE) * $Q20)").mkString("[", ", ", "]")
      val seeds = PqInit(mi).zipWithIndex
        .map { case (c, i) => s"($i, ${dlit(c)})" }.mkString(", ")
      s"""${b}pa$mi AS (SELECT vec_id, cell FROM (
         |  SELECT ${b}rst.vec_id, s.cell, row_number() OVER (
         |      PARTITION BY ${b}rst.vec_id
         |      ORDER BY ${l2dAt(s"${b}rst.r", off, "s.c", PqSubDim)} ASC,
         |        s.cell ASC) AS rn
         |  FROM ${b}rst CROSS JOIN (VALUES $seeds) s(cell, c))
         |  WHERE rn = 1),
         |${b}pg$mi AS (SELECT ${b}pa$mi.cell, count(*) AS n, $sums
         |  FROM ${b}pa$mi JOIN ${b}rst USING (vec_id)
         |  GROUP BY ${b}pa$mi.cell),
         |${b}pr$mi AS MATERIALIZED (SELECT sd.cell,
         |    coalesce(pc.c, sd.sc) AS c
         |  FROM (VALUES $seeds) sd(cell, sc) LEFT JOIN
         |    (SELECT cell, $clist AS c FROM ${b}pg$mi) pc USING (cell)),
         |${b}pe$mi AS MATERIALIZED (SELECT vec_id, cell AS e$mi FROM (
         |  SELECT ${b}rs.vec_id, p.cell, row_number() OVER (
         |      PARTITION BY ${b}rs.vec_id
         |      ORDER BY ${l2dAt(s"${b}rs.r", off, "p.c", PqSubDim)} ASC,
         |        p.cell ASC) AS rn
         |  FROM ${b}rs CROSS JOIN ${b}pr$mi p) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""${b}rs AS MATERIALIZED (SELECT ${b}asg.vec_id, ${b}asg.cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> ${b}asg.v[i] - ${b}c2.c[i]) AS r
       |  FROM ${b}asg JOIN ${b}c2 USING (cell)),
       |${b}rst AS MATERIALIZED (SELECT vec_id, cell, r FROM ${b}rs
       |  WHERE $pqTrainCond),
       |$pqBlocks,
       |${b}cd AS MATERIALIZED (SELECT ${b}rs.vec_id, ${b}rs.cell,
       |    ${(0 until PqM).map(mi => s"${b}pe$mi.e$mi").mkString(", ")}
       |  FROM ${b}rs ${(0 until PqM).map(mi =>
        s"JOIN ${b}pe$mi USING (vec_id)").mkString(" ")})""".stripMargin
  }

  /** One ADC serve chain over a built `cd`/`pr$mi`/`qrk` replay,
    * CTE names prefixed with `p`: query probe list (rows matching
    * `qCond`, `probesSql` nearest cells) → per-cell query residuals →
    * candidates (cell equi-join, restricted to `candCond` — the DV/
    * predicate filter applied to the SCAN, q520) → ADC distances →
    * ranked shortlist `${p}short(query_id, node, rn ≤ ShortK)`.
    */
  private def ivfPqServeCtes(p: String, qCond: String,
      probesSql: String, candCond: String, b: String = ""): String = {
    val adcSum = (0 until PqM).map(mi =>
      l2dAt(s"${p}cand.qr", mi * PqSubDim, s"r$mi.c", PqSubDim))
      .mkString(" + ")
    val adcJoins = (0 until PqM).map(mi =>
      s"JOIN ${b}pr$mi r$mi ON r$mi.cell = ${p}cand.e$mi")
      .mkString("\n|  ")
    s"""${p}qr0 AS (SELECT vec_id AS query_id, v, cell FROM ${b}qrk
       |  WHERE $qCond AND rn <= ($probesSql)),
       |${p}qr AS MATERIALIZED (SELECT query_id, ${p}qr0.cell,
       |    list_transform(range(1, ${Dim + 1}),
       |      i -> ${p}qr0.v[i] - ${b}c2.c[i]) AS qr
       |  FROM ${p}qr0 JOIN ${b}c2 USING (cell)),
       |${p}cand AS (SELECT ${p}qr.query_id, ${p}qr.qr,
       |    ${b}cd.vec_id AS node,
       |    ${(0 until PqM).map(mi => s"${b}cd.e$mi").mkString(", ")}
       |  FROM ${p}qr JOIN ${b}cd USING (cell)
       |  WHERE ${p}qr.query_id <> ${b}cd.vec_id AND ($candCond)),
       |${p}adc AS MATERIALIZED (SELECT ${p}cand.query_id, ${p}cand.node,
       |    $adcSum AS adist
       |  FROM ${p}cand
       |  $adcJoins),
       |${p}short AS MATERIALIZED (SELECT query_id, node, rn FROM (
       |  SELECT query_id, node, adist, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist ASC, node) AS rn
       |  FROM ${p}adc) WHERE rn <= $ShortK)""".stripMargin
  }

  /** Exact integer-dot top-k over `corpus` (self excluded). */
  private def bruteTopK(queries: DataFrame, corpus: DataFrame): DataFrame =
    exactPairs(queries, corpus, "code", dotI, _.desc)

  /** One (family, n_queries, denom, hits, recall_ppm) row. */
  private def recallRow(family: String, queries: DataFrame,
      served: DataFrame, exact: DataFrame): DataFrame = {
    val hits = served.filter(col("rn") <= TopK)
      .select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    queries.agg(count(lit(1)).as("n_queries")).crossJoin(hits)
      .select(lit(family).as("family"), col("n_queries"),
        (col("n_queries") * TopK).as("denom"), col("hits"),
        floor(lit(1000000.0) * col("hits") /
          (col("n_queries") * TopK)).cast("long").as("recall_ppm"))
  }

  def defs: Map[String, Q] = Map(

    // Graph-ANN recall on the clustered mixture (VERDICT r11 item 2):
    // the flat NN-descent graph + 5-step beam serve must reach ≥ 0.8
    // audited recall in the regime neighbor graphs exist for. The
    // recall_ppm column is the gate's pin — the same build/serve on
    // the uniform fixture (q452) reads ~0.15, which is the fixture's
    // fault, not the index's; this gate is the proof.
    "q472_clustered_graph_recall" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val served = GraphAnn.beamServe(queries, Seq((graph, Steps)), codes,
          codes, "vec_id", "code", EntryK, Beam, TopK)
        recallRow("graph_beam", queries, served,
          bruteTopK(queries, codes))
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |$qqCte,
        |${beamCtesL("b", "qq", Seq.fill(Steps)(s"e$Rounds"), "TRUE")},
        |${bfSql("TRUE")}
        |${recallSelect("graph_beam", "bsrv")}""".stripMargin)),

    // TRAINED IVF recall on the clustered mixture: seeds = codes of
    // the NCl smallest ':seed'-hash ids, 2 Lloyd iterations of the
    // exact fixed-point k-means (q84's trainer), multi-probe serve
    // (q121's shape) over the trained cells. End-to-end trained —
    // no generator knowledge leaks into the quantizer.
    "q473_clustered_ivf_recall" -> Q(
      (s, dir) => {
        val codes = clusteredCodes(s, dir)
        val vecs = codes.select(col("vec_id"),
            transform(col("code"), x => x.cast("double")).as("v"))
          .localCheckpoint(true)
        val init = vecs
          .withColumn("__h", GraphAnn.saltedHash60(col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(NCl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq)
          }.toSeq
        val cents = Similarity.kmeansIterate(vecs, "v", init, KmIters)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val served = Similarity.annTopKIvf(queries,
          Similarity.insertIntoCells(vecs, "vec_id", "v", cents),
          "vec_id", "v", "cell", cents, TopK, Probes)
        // exact top-k under the SAME metric the serve ranks by
        // (cosine): brute-force cosine, ties to the smaller id
        recallRow("ivf_multiprobe", queries, served,
          bruteCosTopK(queries, vecs))
      },
      {
        Some(s"""WITH $codesCte,
          |$coarseCtes,
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
          |  FROM vv WHERE vec_id % 25 = 0),
          |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
          |  WHERE vec_id % 25 = 0 AND rn <= $Probes),
          |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
          |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
          |  FROM qp JOIN asg USING (cell)
          |  WHERE qp.query_id <> asg.vec_id),
          |srv AS (SELECT query_id, node, row_number() OVER (
          |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
          |  FROM srvs),
          |bf AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qq.query_id
          |      ORDER BY ${SimilarityQueries.cosSql("qq.qv", "z.v")} DESC,
          |        z.vec_id) AS rn
          |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
          |  WHERE rn <= $TopK)
          |${recallSelect("ivf_multiprobe", "srv")}""".stripMargin)
      }),

    // AUTO-BUILT multi-level HNSW stack (VERDICT r11 item 3): level
    // count from corpus size (numUpperLevels — 2 at both tested SFs),
    // geometric salted-hash membership, ring graphs per level, the
    // beam descending level-2 → level-1 → bottom at 1+1+3 steps —
    // against the hand-built q469 two-layer (2+3 steps) on the SAME
    // build, equal total step budget. Both recall rows are pinned;
    // the auto stack must not lose to the hand layout.
    "q474_hnsw_auto_stack" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val exact = bruteTopK(queries, codes).localCheckpoint(true)
        val n = codes.count()
        val lv = GraphAnn.numUpperLevels(n, Fanout, MinTop, LevelCap)
        val stack = GraphAnn.buildLayerStack(codes, "vec_id", K,
          Fanout, lv, Buckets)
        val layers = stack.map { case (e, _) => (e, 1) } :+
          ((graph, Steps - lv))
        val servedAuto = GraphAnn.beamServe(queries, layers,
          stack.head._2, codes, "vec_id", "code", EntryK, Beam, TopK)
        val handNodes = codes.filter(
          GraphAnn.saltedHash60(col("vec_id"), ":layer") % HandUpper === 0)
        val handUpper = GraphAnn.ringInitEdges(handNodes, "vec_id", K,
          HandUpper)
        val servedHand = GraphAnn.beamServe(queries,
          Seq((handUpper, 2), (graph, Steps - 2)), handNodes, codes,
          "vec_id", "code", EntryK, Beam, TopK)
        recallRow("auto_stack", queries, servedAuto, exact)
          .unionByName(
            recallRow("hand_two_layer", queries, servedHand, exact))
          .orderBy(col("family"))
      },
      {
        val lvl1 = s"${hashSql("vec_id", ":lvl")} % $Fanout = 0"
        val lvl2 = s"${hashSql("vec_id", ":lvl")} % ${Fanout * Fanout} = 0"
        val hand = s"${hashSql("vec_id", ":layer")} % $HandUpper = 0"
        Some(s"""WITH $codesCte,
          |$graphCtes,
          |$qqCte,
          |${ringSql("v2", lvl2, math.max(1, Buckets / (Fanout * Fanout)))},
          |${ringSql("v1", lvl1, math.max(1, Buckets / Fanout))},
          |${ringSql("hl", hand, HandUpper)},
          |${beamCtesL("a", "qq",
            Seq("v2E", "v1E") ++ Seq.fill(Steps - LevelCap)(s"e$Rounds"),
            lvl2)},
          |${beamCtesL("h", "qq",
            Seq.fill(2)("hlE") ++ Seq.fill(Steps - 2)(s"e$Rounds"),
            hand)},
          |${bfSql("TRUE")}
          |SELECT * FROM (
          |${recallSelect("auto_stack", "asrv")}
          |UNION ALL
          |${recallSelect("hand_two_layer", "hsrv")})
          |ORDER BY family""".stripMargin)
      }),

    // FILTERED (predicate-constrained) serve (VERDICT r11 item 4):
    // top-k nearest WHERE vec_id % 20 = 3 (~5% of the corpus). The
    // beam routes through every node but only matching nodes are
    // collected — post-filtering an unconstrained top-3 would return
    // ~0.15 rows/query at this selectivity (3 × 5%), while the
    // route-through accumulator keeps collecting matches all the way
    // down. The serve graph is the full build STITCHED with a kNN
    // overlay over the allowed subset (the FilteredDiskANN/Filtered-
    // Vamana per-label subgraph idea): matched nodes chain to their
    // allowed neighbors directly, which the routing beam alone never
    // visits at a selective predicate — measured, the overlay takes
    // audited recall from 0.48 to ~0.9 at sf0.1. Overlay cost is
    // |allowed|·k edges — selectivity-bounded, never corpus-bounded.
    // Audited per-row against brute-force FILTERED top-3.
    "q475_filtered_serve" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val allowed = codes.filter(
          col("vec_id") % FilterMod === FilterRem)
        val overlay = GraphAnn.nnDescent(allowed, "vec_id", "code",
          K, Rounds, buckets = 2).select(col("src"), col("dst"))
        val served = GraphAnn.beamServe(queries,
          Seq((graph.unionByName(overlay).distinct(), Steps)), codes,
          codes, "vec_id", "code", EntryK, Beam, TopK, Some(allowed))
        val exact = bruteTopK(queries, allowed)
          .withColumn("__hit", lit(true))
        served.join(exact, Seq("query_id", "neighbor_id"), "left")
          .withColumn("in_filtered_top3",
            coalesce(col("__hit"), lit(false)))
          .select(col("query_id"), col("rn"), col("neighbor_id"),
            col("idot"), col("in_filtered_top3"))
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val fcond = s"node % $FilterMod = $FilterRem"
        Some(s"""WITH $codesCte,
          |$graphCtes,
          |${graphCtesP("o", s"vec_id % $FilterMod = $FilterRem", 2)},
          |uE AS MATERIALIZED (SELECT src, dst FROM e$Rounds
          |  UNION SELECT src, dst FROM oe$Rounds),
          |$qqCte,
          |${filteredEntryCtes("b", "TRUE",
            s"vec_id % $FilterMod = $FilterRem", fcond)},
          |${filteredStepsCtes("b", Seq.fill(Steps)("uE"), fcond)},
          |${bfSql(s"z.vec_id % $FilterMod = $FilterRem")}
          |SELECT f.query_id, CAST(f.rn AS BIGINT) AS rn,
          |  f.node AS neighbor_id, f.idot,
          |  (bf.node IS NOT NULL) AS in_filtered_top3
          |FROM (SELECT query_id, node, idot, row_number() OVER (
          |    PARTITION BY query_id ORDER BY idot DESC, node) AS rn
          |  FROM bfr$Steps) f
          |LEFT JOIN bf ON bf.query_id = f.query_id AND bf.node = f.node
          |WHERE f.rn <= $TopK
          |ORDER BY f.query_id, f.rn""".stripMargin)
      }),

    // The CARDINALITY SWITCH for filtered retrieval (the Qdrant
    // planner rule the q475 scaladoc promises): below `switchBelow`
    // matching rows, filtered top-k is answered by an EXACT scan of
    // the allowed set — correct by construction and cheaper than walk
    // bookkeeping at this size. The gate pins the plan choice (the
    // `plan` column) and the exact results at 5% selectivity; the
    // stitched-walk branch is spec-pinned in GraphAnnSpec and gated
    // at q475.
    "q478_filtered_auto_plan" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val allowed = codes.filter(
          col("vec_id") % FilterMod === FilterRem)
        GraphAnn.filteredServeAuto(queries, graph, codes, allowed,
            "vec_id", "code", EntryK, Beam, Steps, TopK,
            switchBelow = 150L)
          .orderBy(col("query_id"), col("rn"))
      },
      Some(s"""WITH $codesCte,
        |$qqCte,
        |ac AS (SELECT vec_id, q FROM qz
        |  WHERE vec_id % $FilterMod = $FilterRem)
        |SELECT query_id, CAST(rn AS BIGINT) AS rn, neighbor_id, idot,
        |  'exact_scan' AS plan
        |FROM (SELECT qq.query_id, ac.vec_id AS neighbor_id,
        |    ${idotSql("qq.qv", "ac.q")} AS idot,
        |    row_number() OVER (PARTITION BY qq.query_id
        |      ORDER BY ${idotSql("qq.qv", "ac.q")} DESC, ac.vec_id) AS rn
        |  FROM qq JOIN ac ON ac.vec_id <> qq.query_id)
        |WHERE rn <= $TopK
        |ORDER BY query_id, rn""".stripMargin)),

    // FILTERED search over the LAYERED auto stack — filtered HNSW,
    // the q474 × q475 composition vector stores actually ship: the
    // routing beam descends level-2 → level-1 → bottom while the
    // matched frontier collects (and expands) allowed nodes at every
    // step; the allowed-subset kNN overlay is stitched into EVERY
    // level's edge set (the q475 coverage lesson). Audited per-row
    // against brute-force filtered top-3.
    "q479_filtered_layered" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val allowed = codes.filter(
          col("vec_id") % FilterMod === FilterRem)
        val overlay = GraphAnn.nnDescent(allowed, "vec_id", "code",
            K, Rounds, buckets = 2).select(col("src"), col("dst"))
          .localCheckpoint(true)
        val stack = GraphAnn.buildLayerStack(codes, "vec_id", K,
          Fanout, LevelCap, Buckets)
        val layers = stack.map { case (e, _) =>
          (e.unionByName(overlay).distinct(), 1) } :+
          ((graph.unionByName(overlay).distinct(), Steps - LevelCap))
        val served = GraphAnn.beamServe(queries, layers,
          stack.head._2, codes, "vec_id", "code", EntryK, Beam, TopK,
          Some(allowed))
        val exact = bruteTopK(queries, allowed)
          .withColumn("__hit", lit(true))
        served.join(exact, Seq("query_id", "neighbor_id"), "left")
          .withColumn("in_filtered_top3",
            coalesce(col("__hit"), lit(false)))
          .select(col("query_id"), col("rn"), col("neighbor_id"),
            col("idot"), col("in_filtered_top3"))
          .orderBy(col("query_id"), col("rn"))
      },
      {
        val fcond = s"node % $FilterMod = $FilterRem"
        val lvl1 = s"${hashSql("vec_id", ":lvl")} % $Fanout = 0"
        val lvl2 = s"${hashSql("vec_id", ":lvl")} % ${Fanout * Fanout} = 0"
        Some(s"""WITH $codesCte,
          |$graphCtes,
          |${graphCtesP("o", s"vec_id % $FilterMod = $FilterRem", 2)},
          |${ringSql("v2", lvl2, math.max(1, Buckets / (Fanout * Fanout)))},
          |${ringSql("v1", lvl1, math.max(1, Buckets / Fanout))},
          |u2 AS MATERIALIZED (SELECT src, dst FROM v2E
          |  UNION SELECT src, dst FROM oe$Rounds),
          |u1 AS MATERIALIZED (SELECT src, dst FROM v1E
          |  UNION SELECT src, dst FROM oe$Rounds),
          |ub AS MATERIALIZED (SELECT src, dst FROM e$Rounds
          |  UNION SELECT src, dst FROM oe$Rounds),
          |$qqCte,
          |${filteredEntryCtes("b", lvl2,
            s"vec_id % $FilterMod = $FilterRem", fcond)},
          |${filteredStepsCtes("b",
            Seq("u2", "u1") ++ Seq.fill(Steps - LevelCap)("ub"), fcond)},
          |${bfSql(s"z.vec_id % $FilterMod = $FilterRem")}
          |SELECT f.query_id, CAST(f.rn AS BIGINT) AS rn,
          |  f.node AS neighbor_id, f.idot,
          |  (bf.node IS NOT NULL) AS in_filtered_top3
          |FROM (SELECT query_id, node, idot, row_number() OVER (
          |    PARTITION BY query_id ORDER BY idot DESC, node) AS rn
          |  FROM bfr$Steps) f
          |LEFT JOIN bf ON bf.query_id = f.query_id AND bf.node = f.node
          |WHERE f.rn <= $TopK
          |ORDER BY f.query_id, f.rn""".stripMargin)
      }),

    // Residual IVF-PQ (Jégou et al. 2011 — the FAISS IVFPQ index):
    // coarse cells from the SAME trained quantizer as q473, PQ
    // codebooks trained on the residuals v − centroid(cell), ADC
    // serve over probed cells, exact re-rank of the ADC shortlist
    // (the production two-stage). TWO recall rows gate the design
    // claim itself: raw ADC top-k vs shortlist+exact-re-rank — the
    // re-ranked row is the ≥ 0.8 pin, the gap between them is WHY
    // serving stacks re-rank.
    "q483_ivfpq_residual_recall" -> Q(
      (s, dir) => {
        val codes = clusteredCodes(s, dir)
        val vecs = codes.select(col("vec_id"),
            transform(col("code"), x => x.cast("double")).as("v"))
          .localCheckpoint(true)
        val init = vecs
          .withColumn("__h", GraphAnn.saltedHash60(col("vec_id"), ":seed"))
          .orderBy(col("__h"), col("vec_id")).limit(NCl)
          .select(col("v")).collect()
          .zipWithIndex.map { case (r, i) =>
            (i, r.getSeq[Double](0).toSeq)
          }.toSeq
        val cents = Similarity.kmeansIterate(vecs, "v", init, KmIters)
        // PQ trains on residuals: one refinement from the fixed-seed
        // codebooks (the q211 discipline; the oracle interpolates the
        // identical doubles and replays the refinement)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v", cents, cb)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val shortlist = Similarity.ivfPqAdcTopK(queries, coded,
            "vec_id", "v", cents, cb, Probes, ShortK)
          .localCheckpoint(true)
        val rerank = rerankL2(shortlist, queries, vecs)
        // ground truth: exact L2 brute force — the metric ADC
        // approximates (within a shared cell the coarse centroid
        // cancels exactly)
        val exact = bruteL2TopK(queries, vecs).localCheckpoint(true)
        recallRow("ivfpq_adc", queries, shortlist, exact)
          .unionByName(
            recallRow("ivfpq_rerank", queries, rerank, exact))
          .orderBy(col("family"))
      },
      Some(s"""WITH $ivfPqCtes,
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN vv nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |${recallSelect("ivfpq_adc", "short")}
        |UNION ALL
        |${recallSelect("ivfpq_rerank", "rrk")}
        |ORDER BY family""".stripMargin)),

    // Signed JL projection (Achlioptas 2003): exact-integer ±1
    // projection 16 → 8 dims, distortion audited pairwise — the
    // JL-lemma contract ‖Sx‖² ≈ outDim·‖x‖² as a per-pair ratio_ppm
    // table over consecutive-id pairs (mixed same/cross-cluster).
    // Every value is i64: the projection is adds/subtracts of code
    // components, the ratio an integral division.
    "q484_jl_distortion" -> Q(
      (s, dir) => {
        val proj = clusteredCodes(s, dir).withColumn("y",
          Similarity.jlProjectInt(col("code"), Dim, JlDim, ":jl"))
        val a = proj.select(col("vec_id"), col("code").as("ca"),
          col("y").as("ya"))
        val b = proj.select((col("vec_id") - 1).as("vec_id"),
          col("code").as("cb"), col("y").as("yb"))
        a.join(b, Seq("vec_id"))
          .withColumn("d2", l2iCol(col("ca"), col("cb")))
          .withColumn("dd2", l2iCol(col("ya"), col("yb")))
          .withColumn("ratio_ppm", when(col("d2") > 0,
            expr(s"(dd2 * 1000000) div ($JlDim * d2)")).otherwise(lit(0L)))
          .select(col("vec_id"), col("d2"), col("dd2"), col("ratio_ppm"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $codesCte,
        |pj AS MATERIALIZED (SELECT vec_id, q, $jlProjSql AS y FROM qz),
        |pr AS (
        |  SELECT a.vec_id,
        |    ${l2iSql("a.q", "b.q", Dim)} AS d2,
        |    ${l2iSql("a.y", "b.y", JlDim)} AS dd2
        |  FROM pj a JOIN pj b ON b.vec_id = a.vec_id + 1)
        |SELECT vec_id, d2, dd2,
        |  CASE WHEN d2 > 0 THEN (dd2 * 1000000) // ($JlDim * d2)
        |       ELSE 0 END AS ratio_ppm
        |FROM pr
        |ORDER BY vec_id""".stripMargin)),

    // JL-projected ANN serving, two-stage: brute-force shortlist in
    // the 8-dim projected space (half the scan cost per candidate at
    // 100 TB — the JL win), exact full-dim re-rank. Recall rows pin
    // projected-top-3-direct vs re-ranked against brute-force L2 —
    // the re-ranked row is the production number, the direct row
    // shows what raw 2× compression costs.
    "q485_jl_recall" -> Q(
      (s, dir) => {
        val proj = clusteredCodes(s, dir).withColumn("y",
            Similarity.jlProjectInt(col("code"), Dim, JlDim, ":jl"))
          .localCheckpoint(true)
        val queries = proj.filter(col("vec_id") % 25 === 0)
        val shortlist = graft.operators.TopK.exact(queries, proj, "vec_id",
            "y", l2iCol, _.asc, JlShortK)
          .select(col("query_id"), col("neighbor_id"), col("rn"))
          .localCheckpoint(true)
        val rerank = rerankL2(shortlist, queries, proj, "code", l2iCol)
        val exact = exactPairs(queries, proj, "code", l2iCol, _.asc)
          .localCheckpoint(true)
        recallRow("jl_direct", queries, shortlist, exact)
          .unionByName(recallRow("jl_rerank", queries, rerank, exact))
          .orderBy(col("family"))
      },
      Some(s"""WITH $codesCte,
        |pj AS MATERIALIZED (SELECT vec_id, q, $jlProjSql AS y FROM qz),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv, y AS qy
        |  FROM pj WHERE vec_id % 25 = 0),
        |short AS MATERIALIZED (SELECT query_id, node, rn FROM (
        |  SELECT qq.query_id, p.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2iSql("qq.qy", "p.y", JlDim)} ASC, p.vec_id)
        |      AS rn
        |  FROM qq JOIN pj p ON p.vec_id <> qq.query_id)
        |  WHERE rn <= $JlShortK),
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2iSql("qq.qv", "nv.q", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN pj nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2iSql("qq.qv", "z.q", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN pj z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |${recallSelect("jl_direct", "short")}
        |UNION ALL
        |${recallSelect("jl_rerank", "rrk")}
        |ORDER BY family""".stripMargin)),

    // SQ8 scalar quantization (the FAISS ScalarQuantizer default —
    // the compression tier BEFORE PQ): per-dim affine 0..255 codes
    // from one trained (min, max) pass. Recall rows pin code-space
    // direct top-3 vs re-ranked on the SAME fixture as q483's PQ —
    // the quantization-ladder contrast (SQ8 4× compression near-
    // lossless vs PQ 16× lossy) that drives tier choice in serving.
    "q489_sq8_recall" -> Q(
      (s, dir) => {
        val codes = clusteredCodes(s, dir).localCheckpoint(true)
        val ranges = Similarity.sq8Train(codes, "code", Dim)
        val enc = codes.withColumn("sq",
            Similarity.sq8Encode(col("code"), ranges))
          .localCheckpoint(true)
        val queries = enc.filter(col("vec_id") % 25 === 0)
        val shortlist = graft.operators.TopK.exact(queries, enc, "vec_id",
            "sq", l2iCol, _.asc, JlShortK)
          .select(col("query_id"), col("neighbor_id"), col("rn"))
          .localCheckpoint(true)
        val rerank = rerankL2(shortlist, queries, enc, "code", l2iCol)
        val exact = exactPairs(queries, enc, "code", l2iCol, _.asc)
          .localCheckpoint(true)
        recallRow("sq8_direct", queries, shortlist, exact)
          .unionByName(recallRow("sq8_rerank", queries, rerank, exact))
          .orderBy(col("family"))
      },
      Some(s"""WITH $codesCte,
        |rgx AS (SELECT u.i AS d,
        |    CAST(min(q[u.i]) AS BIGINT) AS mn,
        |    CAST(max(q[u.i]) AS BIGINT) AS mx
        |  FROM qz, (SELECT unnest(range(1, ${Dim + 1})) AS i) u
        |  GROUP BY 1),
        |rgl AS (SELECT list(mn ORDER BY d) AS mnl,
        |    list(mx ORDER BY d) AS mxl FROM rgx),
        |sqz AS MATERIALIZED (SELECT vec_id, q,
        |    list_transform(range(1, ${Dim + 1}), i ->
        |      CAST(greatest(0, least(255,
        |        ((q[i] - mnl[i]) * 255) // greatest(mxl[i] - mnl[i], 1)))
        |        AS INT)) AS sq
        |  FROM qz CROSS JOIN rgl),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv, sq AS qs
        |  FROM sqz WHERE vec_id % 25 = 0),
        |short AS MATERIALIZED (SELECT query_id, node, rn FROM (
        |  SELECT qq.query_id, p.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2iSql("qq.qs", "p.sq", Dim)} ASC, p.vec_id)
        |      AS rn
        |  FROM qq JOIN sqz p ON p.vec_id <> qq.query_id)
        |  WHERE rn <= $JlShortK),
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2iSql("qq.qv", "nv.q", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN sqz nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2iSql("qq.qv", "z.q", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN sqz z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |${recallSelect("sq8_direct", "short")}
        |UNION ALL
        |${recallSelect("sq8_rerank", "rrk")}
        |ORDER BY family""".stripMargin)),

    // IVF nlist POLICY wired into the trainer (VERDICT r12 item 4 /
    // r13 ask 4): nlist = numCells(n) = clamp(4, 65536, ⌊√n⌋) and
    // nprobe = numProbes(nlist), both computed FROM THE CORPUS —
    // 22 cells at sf0.01 (n=500), 44 at sf0.1 (n=2000) — instead of
    // the fixed NCl=8 whose cell scans grow unboundedly with the
    // corpus. The oracle re-derives both policies in SQL from
    // count(*), so the gate pins policy + trainer + serve end to end.
    "q501_ivf_nlist_policy" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val served = Similarity.annTopKIvf(queries,
          Similarity.insertIntoCells(vecs, "vec_id", "v", cents),
          "vec_id", "v", "cell", cents, TopK, probes)
        recallRow("ivf_nlist_policy", queries, served,
            bruteCosTopK(queries, vecs))
          .withColumn("nlist", lit(ncl.toLong))
          .withColumn("nprobe", lit(probes.toLong))
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("TRUE", nlSql("vv"))},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("vv", "c2")})),
        |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
        |  FROM qp JOIN asg USING (cell)
        |  WHERE qp.query_id <> asg.vec_id),
        |srv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM srvs),
        |${bruteCosSql("va")}
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  CAST((${npcSql("vv", "c2")}) AS BIGINT) AS nprobe
        |FROM (${recallSelect("ivf_nlist_policy", "srv")}) f""".stripMargin)),

    // Incremental IVF maintenance (r13 ask 4, the IVF side of the
    // q457/q458 graph lifecycle): the quantizer trains ONLY on the
    // base 3/4 of the corpus (vec_id % 4 ≠ 1); the remaining quarter
    // arrives later via insertIntoCells — assign-to-nearest against
    // the FROZEN centroids, no retrain — and the serve runs over the
    // PRE-ASSIGNED stored index (annTopKIvf over the stored cells, the
    // production shape: cells are index state, not per-serve
    // recomputation). Recall is audited against brute force over the
    // FULL corpus: the pin that no-retrain insertion keeps production
    // recall.
    "q502_ivf_incremental_insert" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val ins = vecs.filter(col("vec_id") % 4 === 1)
        val nBase = base.count()
        val ncl = Similarity.numCells(nBase)
        val cents = Similarity.kmeansIterate(base, "v",
          seedInit(base, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val index = Similarity.insertIntoCells(base, "vec_id", "v", cents)
          .unionByName(
            Similarity.insertIntoCells(ins, "vec_id", "v", cents))
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val served = Similarity.annTopKIvf(queries, index,
          "vec_id", "v", "cell", cents, TopK, probes)
        recallRow("ivf_incremental_insert", queries, served,
            bruteCosTopK(queries, vecs))
          .withColumn("nlist", lit(ncl.toLong))
          .withColumn("n_inserted", lit(ins.count()))
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("vec_id % 4 <> 1", nlSql("vv"))},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("vv", "c2")})),
        |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
        |  FROM qp JOIN asg USING (cell)
        |  WHERE qp.query_id <> asg.vec_id),
        |srv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM srvs),
        |${bruteCosSql("va")}
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  (SELECT count(*) FROM va WHERE vec_id % 4 = 1) AS n_inserted
        |FROM (${recallSelect("ivf_incremental_insert", "srv")}) f""".stripMargin)),

    // Quantizer-drift audit — the RETRAIN trigger closing the
    // incremental loop: per-cell fixed-point fit (⌊(cos+1)·10⁶⌋) of
    // the base population vs two insert batches against the SAME
    // frozen base-trained centroids. The 'natural' batch draws from
    // the same mixture (drift ≈ 0 — inserts keep flowing, no retrain)
    // while the 'shifted' batch is sign-flipped (fit collapses,
    // retrain fires) — both decisions pinned from one audit operator.
    "q503_ivf_drift_audit" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val ins = vecs.filter(col("vec_id") % 4 === 1)
        val nBase = base.count()
        val cents = Similarity.kmeansIterate(base, "v",
          seedInit(base, Similarity.numCells(nBase)), KmIters)
        val shifted = ins.select(col("vec_id"),
          transform(col("v"), x => -x).as("v"))
        def fam(name: String, batch: org.apache.spark.sql.DataFrame) =
          Similarity.cellDriftAudit(base, batch, "vec_id", "v", cents,
              DriftPpm)
            .withColumn("family", lit(name))
        fam("natural", ins).unionByName(fam("shifted", shifted))
          .select(col("family"), col("cell"), col("n_base"),
            col("n_inserted"), col("base_fit_ppm"),
            col("insert_fit_ppm"), col("drift_ppm"), col("retrain"))
          .orderBy(col("family"), col("cell"))
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("vec_id % 4 <> 1", nlSql("vv"))},
        |ins AS (SELECT vec_id, v FROM va WHERE vec_id % 4 = 1),
        |shf AS (SELECT vec_id, list_transform(v, x -> -x) AS v
        |  FROM ins),
        |shsc AS (SELECT e.vec_id, c.cell,
        |    ${SimilarityQueries.cosSql("e.v", "c.c")} AS cos
        |  FROM shf e CROSS JOIN c2 c),
        |shrk AS MATERIALIZED (SELECT vec_id, cell, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, cell DESC) AS rn
        |  FROM shsc),
        |fits AS (
        |  SELECT 'natural' AS family, cell,
        |    CASE WHEN vec_id % 4 = 1 THEN 1 ELSE 0 END AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM qrk WHERE rn = 1
        |  UNION ALL
        |  SELECT 'shifted' AS family, cell, 0 AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM qrk WHERE rn = 1 AND vec_id % 4 <> 1
        |  UNION ALL
        |  SELECT 'shifted' AS family, cell, 1 AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM shrk WHERE rn = 1),
        |g AS (SELECT family, cell,
        |    CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inserted,
        |    CAST(sum(CASE WHEN src = 0 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN src = 1 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS si
        |  FROM fits GROUP BY 1, 2),
        |h AS (SELECT family, CAST(cell AS BIGINT) AS cell, n_base,
        |    n_inserted,
        |    CASE WHEN n_base > 0 THEN sb // n_base ELSE 0 END
        |      AS base_fit_ppm,
        |    CASE WHEN n_inserted > 0 THEN si // n_inserted ELSE 0 END
        |      AS insert_fit_ppm
        |  FROM g)
        |SELECT family, cell, n_base, n_inserted, base_fit_ppm,
        |  insert_fit_ppm,
        |  CASE WHEN n_base > 0 AND n_inserted > 0
        |    THEN base_fit_ppm - insert_fit_ppm ELSE 0 END AS drift_ppm,
        |  (CASE WHEN n_base > 0 AND n_inserted > 0
        |    THEN base_fit_ppm - insert_fit_ppm ELSE 0 END) > $DriftPpm
        |    AS retrain
        |FROM h
        |ORDER BY family, cell""".stripMargin)),

    // Serve-from-COMMITTED-index (r13 ask 5): the NN-descent graph is
    // persisted through TxLog.commit (the lakehouse storage layer the
    // TxLog family already gates), read back from the LOG's file list
    // — never the in-memory frame — and the beam serves from the
    // read-back edges. The production cold-start shape: every prior
    // serve gate rebuilt its index in-gate; this one proves a restart
    // serves the identical index. Artifact size rides along
    // (n_edges ≤ n·k — the PLANS.md note's bound).
    "q504_graph_committed_serve" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        Fixtures.scratchDir("graft_q504_") { tmp =>
          graft.sources.TxLog.commit(graph, tmp.toString, "overwrite",
            "src")
          val edges = graft.sources.TxLog.read(s, tmp.toString)
            .select(col("src"), col("dst"))
          val queries = queriesOf(codes)
          val served = GraphAnn.beamServe(queries, Seq((edges, Steps)),
            codes, codes, "vec_id", "code", EntryK, Beam, TopK)
          recallRow("graph_committed_serve", queries, served,
              bruteTopK(queries, codes))
            .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        }
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |$qqCte,
        |${beamCtesL("b", "qq", Seq.fill(Steps)(s"e$Rounds"), "TRUE")},
        |${bfSql("TRUE")}
        |SELECT f.*, (SELECT count(*) FROM e$Rounds) AS n_edges
        |FROM (${recallSelect("graph_committed_serve", "bsrv")}) f""".stripMargin)),

    // IVF-PQ code table persisted + cold ADC serve (r13 ask 5, the
    // quantized side): ivfPqEncode's (id, cell, codes) — at 100 TB
    // the M-bytes-per-vector table that IS the serving index, raw
    // vectors staying in cold storage — commits through TxLog and the
    // ADC serve runs over the READ-BACK table. Recall row matches
    // q483's warm 'ivfpq_adc' family by construction; n_codes pins
    // that the round-trip lost no rows.
    "q505_ivfpq_committed_serve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, NCl), KmIters)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v", cents, cb)
        Fixtures.scratchDir("graft_q505_") { tmp =>
          graft.sources.TxLog.commit(coded, tmp.toString, "overwrite",
            "vec_id")
          val codedBack = graft.sources.TxLog.read(s, tmp.toString)
          val queries = vecs.filter(col("vec_id") % 25 === 0)
          val shortlist = Similarity.ivfPqAdcTopK(queries, codedBack,
            "vec_id", "v", cents, cb, Probes, ShortK)
          val exact = bruteL2TopK(queries, vecs)
          recallRow("ivfpq_committed_adc", queries, shortlist,
              exact)
            .crossJoin(codedBack.agg(count(lit(1)).as("n_codes")))
        }
      },
      Some(s"""WITH $ivfPqCtes,
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |SELECT f.*, (SELECT count(*) FROM cd) AS n_codes
        |FROM (${recallSelect("ivfpq_committed_adc", "short")}) f""".stripMargin)),

    // POLICY-trained IVF-PQ (closing r12 item 4's "wired into q483's
    // trainer"): the full residual-PQ stack — coarse train, residual
    // codebooks, ADC shortlist, exact re-rank — over the
    // numCells/numProbes-sized coarse quantizer instead of the fixed
    // NCl=8. Subspace geometry (M=8 × 2 dims × 16 cells) is
    // corpus-independent by design; ONLY the coarse layer scales, so
    // the oracle reuses the identical PQ replay over the policy-sized
    // coarse block.
    "q507_ivfpq_nlist_policy" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v", cents, cb)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val shortlist = Similarity.ivfPqAdcTopK(queries, coded,
            "vec_id", "v", cents, cb, probes, ShortK)
          .localCheckpoint(true)
        val rerank = rerankL2(shortlist, queries, vecs)
        val exact = bruteL2TopK(queries, vecs).localCheckpoint(true)
        recallRow("ivfpq_policy_adc", queries, shortlist, exact)
          .unionByName(
            recallRow("ivfpq_policy_rerank", queries, rerank, exact))
          .withColumn("nlist", lit(ncl.toLong))
          .withColumn("nprobe", lit(probes.toLong))
          .orderBy(col("family"))
      },
      Some(s"""WITH ${ivfPqCtesOn(
          coarseCtesOn("TRUE", nlSql("vv")), npcSql("vv", "c2"))},
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN vv nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  CAST((${npcSql("vv", "c2")}) AS BIGINT) AS nprobe
        |FROM (${recallSelect("ivfpq_policy_adc", "short")}
        |UNION ALL
        |${recallSelect("ivfpq_policy_rerank", "rrk")}) f
        |ORDER BY family""".stripMargin)),

    // ANN hard-negative mining (DPR/ANCE): the beam serve's top-10
    // candidate list, minus the labeled positive (the exact top-1),
    // re-ranked — the near-misses a retrieval trainer wants as
    // gradient-rich negatives. Candidates come from the INDEX (k rows
    // per query), never a corpus scan; the anti-join + re-rank run on
    // k-bounded lists. 5 negatives per query, pinned row-for-row.
    "q508_hard_negative_mining" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val served = GraphAnn.beamServe(queries, Seq((graph, Steps)), codes,
          codes, "vec_id", "code", EntryK, Beam, topK = 10)
        val positives = exactPairs(queries, codes, "code", dotI, _.desc, 1)
        Similarity.hardNegatives(served, positives, "idot", m = 5)
          .orderBy(col("query_id"), col("negative_rank"))
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |$qqCte,
        |${beamCtesL("b", "qq", Seq.fill(Steps)(s"e$Rounds"), "TRUE")},
        |pos AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${idotSql("qq.qv", "z.q")} DESC, z.vec_id) AS rn
        |  FROM qq JOIN qz z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= 1),
        |neg AS (SELECT b.query_id, b.node, b.idot FROM bsrv b
        |  WHERE b.rn <= 10 AND NOT EXISTS (SELECT 1 FROM pos p
        |    WHERE p.query_id = b.query_id AND p.node = b.node))
        |SELECT query_id, negative_rank, node AS neighbor_id, idot
        |FROM (SELECT query_id, node, idot, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY idot DESC, node)
        |  AS BIGINT) AS negative_rank FROM neg)
        |WHERE negative_rank <= 5
        |ORDER BY query_id, negative_rank""".stripMargin)),

    // STREAMING IVF ingest — the q468 lifecycle parity for the IVF
    // family: the last quarter of the corpus arrives as two
    // micro-batches (maxFilesPerTrigger=1), each batch running
    // insertIntoCells against the FROZEN base-trained quantizer and
    // unioning into the stored index. Unlike graph inserts (where
    // batch order changes the answer), IVF assignment is per-row
    // against fixed centroids — order-independent by construction —
    // so the streamed index must equal q502's batch-inserted one
    // EXACTLY; the oracle is q502's replay with this family label.
    "q509_stream_ivf_ingest" -> Q(
      (s, dir) => {
        import graft.streaming.Streams
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val nBase = base.count()
        val ncl = Similarity.numCells(nBase)
        val cents = Similarity.kmeansIterate(base, "v",
          seedInit(base, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        // atomics, not vars: transformEachBatch's callback runs on the
        // streaming micro-batch thread while the final reads happen on
        // the main thread after awaitTermination — the API guarantees
        // no happens-before edge between them (r13 ADVICE)
        val index = new java.util.concurrent.atomic.AtomicReference(
          Similarity.insertIntoCells(base, "vec_id", "v", cents)
            .localCheckpoint(true))
        val nStreamed = new java.util.concurrent.atomic.AtomicLong(0L)
        Streams.scratchCheckpointDir("graft-q509-") { tmp =>
          val streamDir = tmp.resolve("in")
          Fixtures.stageStreamInput(Seq(1L, 5L).map(m =>
            vecs.filter(col("vec_id") % 8 === m)), streamDir)
          Streams.transformEachBatch(
            s.readStream.schema(vecs.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(streamDir.toString),
            batch => batch,
            batch => {
              val delta = batch.localCheckpoint(true)
              nStreamed.addAndGet(delta.count())
              index.set(index.get().unionByName(
                  Similarity.insertIntoCells(delta, "vec_id", "v",
                    cents))
                .localCheckpoint(true))
            },
            tmp.resolve("ck").toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val served = Similarity.annTopKIvf(queries,
          index.get(), "vec_id", "v", "cell", cents, TopK, probes)
        recallRow("ivf_stream_ingest", queries, served,
            bruteCosTopK(queries, vecs))
          .withColumn("nlist", lit(ncl.toLong))
          .withColumn("n_streamed", lit(nStreamed.get()))
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("vec_id % 4 <> 1", nlSql("vv"))},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("vv", "c2")})),
        |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
        |  FROM qp JOIN asg USING (cell)
        |  WHERE qp.query_id <> asg.vec_id),
        |srv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM srvs),
        |${bruteCosSql("va")}
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  (SELECT count(*) FROM va WHERE vec_id % 4 = 1) AS n_streamed
        |FROM (${recallSelect("ivf_stream_ingest", "srv")}) f""".stripMargin)),

    // PRODUCTION IVF-PQ path composed end-to-end (r14, closing the
    // r13 verdict's "uncomposed" gap): POLICY train (numCells/
    // numProbes from the corpus count) → residual PQ encode → TxLog
    // commit → COLD read-back → ADC shortlist over the read-back code
    // table → exact re-rank, one hash gate. q505 committed the
    // fixed-NCl=8 stack; q507 trained the policy stack but served it
    // warm — this gate is the composition both left open: the
    // artifact that commits IS the policy-trained code table (the
    // M-bytes-per-vector serving index; raw vectors stay cold until
    // the re-rank), and n_codes pins the lossless round trip. The
    // oracle replays policy nlist, the full PQ replay, and both
    // recall rows (re-ranked ≥ 0.98 at sf0.01 — the committed serve
    // must read exactly q507's warm numbers, since the commit is
    // value-preserving).
    "q510_ivfpq_policy_committed" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v", cents, cb)
        Fixtures.scratchDir("graft_q510_") { tmp =>
          graft.sources.TxLog.commit(coded, tmp.toString, "overwrite",
            "vec_id")
          val codedBack = graft.sources.TxLog.read(s, tmp.toString)
          val queries = vecs.filter(col("vec_id") % 25 === 0)
          val shortlist = Similarity.ivfPqAdcTopK(queries, codedBack,
              "vec_id", "v", cents, cb, probes, ShortK)
            .localCheckpoint(true)
          val rerank = rerankL2(shortlist, queries, vecs)
          val exact = bruteL2TopK(queries, vecs).localCheckpoint(true)
          recallRow("ivfpq_policy_committed_adc", queries,
              shortlist, exact)
            .unionByName(recallRow("ivfpq_policy_committed_rerank",
              queries, rerank, exact))
            .withColumn("nlist", lit(ncl.toLong))
            .withColumn("nprobe", lit(probes.toLong))
            .crossJoin(codedBack.agg(count(lit(1)).as("n_codes")))
            .orderBy(col("family"))
        }
      },
      Some(s"""WITH ${ivfPqCtesOn(
          coarseCtesOn("TRUE", nlSql("vv")), npcSql("vv", "c2"))},
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN vv nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  CAST((${npcSql("vv", "c2")}) AS BIGINT) AS nprobe,
        |  (SELECT count(*) FROM cd) AS n_codes
        |FROM (${recallSelect("ivfpq_policy_committed_adc", "short")}
        |UNION ALL
        |${recallSelect("ivfpq_policy_committed_rerank", "rrk")}) f
        |ORDER BY family""".stripMargin)),

    // EXTERNAL embeddings through the IVF index family (r13 ask 3 —
    // q506 proved the swap for MaxSim; this extends it to the vector
    // index): the (vec_id, v) table arrives as a parquet artifact —
    // the schema a trained encoder exports — and EVERY lifecycle
    // stage reads it: policy-sized train on the base 3/4,
    // insertIntoCells for the late quarter, preassigned multi-probe
    // serve, brute-force audit. The values are the deterministic
    // fixture's (so the gate hash-gates and the oracle is q502's
    // replay verbatim); a real deployment swaps the export write for
    // the encoder job and NOTHING downstream changes — the only plan
    // delta vs q502 is a parquet scan where the checkpointed hash
    // projection stood (ExplainAudit counts in PLANS.md).
    "q511_ivf_external_embeddings" -> Q(
      (s, dir) => {
        Fixtures.scratchDir("graft_q511_") { tmp =>
          val extPath = tmp.resolve("embeddings_export").toString
          doubleVecs(s, dir).write.mode("overwrite").parquet(extPath)
          val ext = s.read.parquet(extPath)
          val base = ext.filter(col("vec_id") % 4 =!= 1)
          val ins = ext.filter(col("vec_id") % 4 === 1)
          val nBase = base.count()
          val ncl = Similarity.numCells(nBase)
          val cents = Similarity.kmeansIterate(base, "v",
            seedInit(base, ncl), KmIters)
          val probes = clampedProbes(ncl, cents)
          val index = Similarity.insertIntoCells(base, "vec_id", "v", cents)
            .unionByName(
              Similarity.insertIntoCells(ins, "vec_id", "v", cents))
          val queries = ext.filter(col("vec_id") % 25 === 0)
          val served = Similarity.annTopKIvf(queries, index,
            "vec_id", "v", "cell", cents, TopK, probes)
          recallRow("ivf_external_embeddings", queries, served,
              bruteCosTopK(queries, ext))
            .withColumn("nlist", lit(ncl.toLong))
            .withColumn("n_inserted", lit(ins.count()))
        }
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("vec_id % 4 <> 1", nlSql("vv"))},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("vv", "c2")})),
        |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
        |  FROM qp JOIN asg USING (cell)
        |  WHERE qp.query_id <> asg.vec_id),
        |srv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM srvs),
        |${bruteCosSql("va")}
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  (SELECT count(*) FROM va WHERE vec_id % 4 = 1) AS n_inserted
        |FROM (${recallSelect("ivf_external_embeddings", "srv")}) f""".stripMargin)),

    // TOMBSTONE-aware graph cold serve (r13 ask 5 — q458 deletes
    // warm, q504 serves committed; this composes them): the built
    // graph AND a tombstone table (the 1-in-7 delete set) both
    // commit through TxLog; a restart reads BOTH back, applies the
    // DiskANN delete/consolidate repair (drop deleted out-lists,
    // splice survivors through the deleted nodes' own out-edges,
    // re-cut touched lists to K) against the READ-BACK edge table,
    // and serves the repaired graph cold. Recall audits against
    // brute force over the LIVE corpus; n_edges/n_tombstones pin the
    // round trip. The production shape: deletes are LOG ENTRIES, not
    // in-place rewrites — repair cost is (edges at deleted)·K at
    // read time, and a compaction pass (rewrite the repaired edges,
    // drop the tombstone table) amortizes it — see PLANS.md.
    "q512_graph_tombstone_cold_serve" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraphRanked(s, dir)
        Fixtures.scratchDir("graft_q512_") { tmp =>
          val edgesDir = tmp.resolve("edges").toString
          val tombDir = tmp.resolve("tombstones").toString
          graft.sources.TxLog.commit(graph, edgesDir, "overwrite", "src")
          graft.sources.TxLog.commit(
            codes.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
            tombDir, "overwrite", "vec_id")
          // read back the FULL ranked edge list (rn+idot survive the
          // parquet round trip exactly — BIGINTs): deleteNodes then
          // re-scores only the lists the tombstones touch (r16)
          val edgesBack = graft.sources.TxLog.read(s, edgesDir)
            .select(col("src"), col("rn"), col("dst"), col("idot"))
          val tombBack = graft.sources.TxLog.read(s, tombDir)
          val live = codes.filter(col("vec_id") % 7 =!= 0)
          val repaired = GraphAnn.deleteNodes(edgesBack, codes, tombBack,
            "vec_id", "code", K)
          val queries = live.filter(col("vec_id") % 25 === 0)
          val served = GraphAnn.beamServe(queries,
            Seq((repaired.select(col("src"), col("dst")), Steps)), live,
            live, "vec_id", "code", EntryK, Beam, TopK)
          recallRow("graph_tombstone_cold_serve", queries,
              served, bruteTopK(queries, live))
            .crossJoin(edgesBack.agg(count(lit(1)).as("n_edges")))
            .crossJoin(tombBack.agg(count(lit(1)).as("n_tombstones")))
        }
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |keptE AS (SELECT src, dst FROM e$Rounds
        |  WHERE src % 7 <> 0 AND dst % 7 <> 0),
        |brokenE AS (SELECT src, dst FROM e$Rounds
        |  WHERE src % 7 <> 0 AND dst % 7 = 0),
        |spl AS (SELECT b.src, g.dst FROM brokenE b
        |  JOIN e$Rounds g ON g.src = b.dst
        |  WHERE g.dst % 7 <> 0 AND b.src <> g.dst),
        |rc AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT * FROM keptE UNION ALL SELECT * FROM spl)),
        |rsc AS (SELECT c.src, c.dst, ${idotSql("qs.q", "qd.q")} AS idot
        |  FROM rc c JOIN qz qs ON qs.vec_id = c.src
        |            JOIN qz qd ON qd.vec_id = c.dst),
        |f AS MATERIALIZED (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY idot DESC, dst) AS rn
        |  FROM rsc) WHERE rn <= $K),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv
        |  FROM qz WHERE vec_id % 25 = 0 AND vec_id % 7 <> 0),
        |${beamCtesL("t", "qq", Seq.fill(Steps)("f"), "vec_id % 7 <> 0")},
        |${bfSql("z.vec_id % 7 <> 0")}
        |SELECT f2.*, (SELECT count(*) FROM e$Rounds) AS n_edges,
        |  (SELECT count(*) FROM qz WHERE vec_id % 7 = 0) AS n_tombstones
        |FROM (${recallSelect("graph_tombstone_cold_serve", "tsrv")}) f2""".stripMargin)),

    // STREAMING drift audit — the retrain trigger rides the ingest
    // stream: each micro-batch of inserts folds its own nlist-row
    // [[Similarity.cellFitStats]] partial into the accumulator
    // (combineFitStats — associative long sums, so batch order and
    // batch boundaries cannot change the answer), and the final
    // readout combines with the base stats exactly as the batch audit
    // does. The oracle is q503's 'natural' family replayed verbatim:
    // the streamed audit must equal the one-pass audit bit-for-bit.
    // State per batch is nlist rows — never the batch, never the
    // corpus; this is q509's lifecycle parity for the q503 trigger.
    "q513_stream_drift_audit" -> Q(
      (s, dir) => {
        import graft.streaming.Streams
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val cents = Similarity.kmeansIterate(base, "v",
          seedInit(base, Similarity.numCells(base.count())), KmIters)
        val insertStats =
          new java.util.concurrent.atomic.AtomicReference[
            Option[org.apache.spark.sql.DataFrame]](None)
        Streams.scratchCheckpointDir("graft-q513-") { tmp =>
          val streamDir = tmp.resolve("in")
          Fixtures.stageStreamInput(Seq(1L, 5L).map(m =>
            vecs.filter(col("vec_id") % 8 === m)), streamDir)
          Streams.transformEachBatch(
            s.readStream.schema(vecs.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(streamDir.toString),
            batch => batch,
            batch => {
              val part = Similarity.cellFitStats(
                batch.localCheckpoint(true), "v", cents)
              insertStats.set(Some(insertStats.get()
                .map(acc => Similarity.combineFitStats(acc, part))
                .getOrElse(part)
                .localCheckpoint(true)))
            },
            tmp.resolve("ck").toString,
            Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
            .awaitTermination()
        }
        Similarity.cellDriftFromStats(
            Similarity.cellFitStats(base, "v", cents),
            insertStats.get().get, DriftPpm)
          .withColumn("family", lit("natural"))
          .select(col("family"), col("cell"), col("n_base"),
            col("n_inserted"), col("base_fit_ppm"),
            col("insert_fit_ppm"), col("drift_ppm"), col("retrain"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("vec_id % 4 <> 1", nlSql("vv"))},
        |fits AS (
        |  SELECT cell,
        |    CASE WHEN vec_id % 4 = 1 THEN 1 ELSE 0 END AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM qrk WHERE rn = 1),
        |g AS (SELECT cell,
        |    CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inserted,
        |    CAST(sum(CASE WHEN src = 0 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN src = 1 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS si
        |  FROM fits GROUP BY 1),
        |h AS (SELECT CAST(cell AS BIGINT) AS cell, n_base, n_inserted,
        |    CASE WHEN n_base > 0 THEN sb // n_base ELSE 0 END
        |      AS base_fit_ppm,
        |    CASE WHEN n_inserted > 0 THEN si // n_inserted ELSE 0 END
        |      AS insert_fit_ppm
        |  FROM g)
        |SELECT 'natural' AS family, cell, n_base, n_inserted,
        |  base_fit_ppm, insert_fit_ppm,
        |  CASE WHEN n_base > 0 AND n_inserted > 0
        |    THEN base_fit_ppm - insert_fit_ppm ELSE 0 END AS drift_ppm,
        |  (CASE WHEN n_base > 0 AND n_inserted > 0
        |    THEN base_fit_ppm - insert_fit_ppm ELSE 0 END) > $DriftPpm
        |    AS retrain
        |FROM h
        |ORDER BY cell""".stripMargin)),

    // COMPACTION — the merge-on-read → copy-on-write promotion
    // PLANS.md's q512 note describes, gated: read edges ∪ tombstones,
    // apply the splice repair ONCE, rewrite the repaired edge table
    // through TxLog ("overwrite" — the q504 commit path), drop every
    // tombstone (deletion-vector delete of the tombstone table), and
    // serve from the COMPACTED artifact. The serve must read exactly
    // q512's recall row (compaction changes storage, never answers);
    // n_tombstones_live = 0 pins that read overhead is back to O(0).
    "q514_graph_compacted_serve" -> Q(
      (s, dir) => {
        val (codes, graph) = builtGraphRanked(s, dir)
        Fixtures.scratchDir("graft_q514_") { tmp =>
          val edgesDir = tmp.resolve("edges").toString
          val tombDir = tmp.resolve("tombstones").toString
          val compactDir = tmp.resolve("edges_compacted").toString
          graft.sources.TxLog.commit(graph, edgesDir, "overwrite", "src")
          graft.sources.TxLog.commit(
            codes.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
            tombDir, "overwrite", "vec_id")
          // ranked read-back, as in q512: repair re-scores only the
          // tombstone-touched lists (r16)
          val edgesBack = graft.sources.TxLog.read(s, edgesDir)
            .select(col("src"), col("rn"), col("dst"), col("idot"))
          val tombBack = graft.sources.TxLog.read(s, tombDir)
          val repaired = GraphAnn.deleteNodes(edgesBack, codes, tombBack,
            "vec_id", "code", K).select(col("src"), col("dst"))
          graft.sources.TxLog.commit(repaired, compactDir, "overwrite",
            "src")
          graft.sources.TxLog.deleteWhere(s, tombDir, lit(true))
          val compacted = graft.sources.TxLog.read(s, compactDir)
            .select(col("src"), col("dst"))
          val tombLive = graft.sources.TxLog.read(s, tombDir)
          val live = codes.filter(col("vec_id") % 7 =!= 0)
          val queries = live.filter(col("vec_id") % 25 === 0)
          val served = GraphAnn.beamServe(queries, Seq((compacted, Steps)),
            live, live, "vec_id", "code", EntryK, Beam, TopK)
          recallRow("graph_compacted_serve", queries, served,
              bruteTopK(queries, live))
            .crossJoin(compacted.agg(
              count(lit(1)).as("n_edges_compacted")))
            .crossJoin(tombLive.agg(
              count(lit(1)).as("n_tombstones_live")))
        }
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |keptE AS (SELECT src, dst FROM e$Rounds
        |  WHERE src % 7 <> 0 AND dst % 7 <> 0),
        |brokenE AS (SELECT src, dst FROM e$Rounds
        |  WHERE src % 7 <> 0 AND dst % 7 = 0),
        |spl AS (SELECT b.src, g.dst FROM brokenE b
        |  JOIN e$Rounds g ON g.src = b.dst
        |  WHERE g.dst % 7 <> 0 AND b.src <> g.dst),
        |rc AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |  SELECT * FROM keptE UNION ALL SELECT * FROM spl)),
        |rsc AS (SELECT c.src, c.dst, ${idotSql("qs.q", "qd.q")} AS idot
        |  FROM rc c JOIN qz qs ON qs.vec_id = c.src
        |            JOIN qz qd ON qd.vec_id = c.dst),
        |f AS MATERIALIZED (SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src
        |      ORDER BY idot DESC, dst) AS rn
        |  FROM rsc) WHERE rn <= $K),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv
        |  FROM qz WHERE vec_id % 25 = 0 AND vec_id % 7 <> 0),
        |${beamCtesL("t", "qq", Seq.fill(Steps)("f"), "vec_id % 7 <> 0")},
        |${bfSql("z.vec_id % 7 <> 0")}
        |SELECT f2.*, (SELECT count(*) FROM f) AS n_edges_compacted,
        |  CAST(0 AS BIGINT) AS n_tombstones_live
        |FROM (${recallSelect("graph_compacted_serve", "tsrv")}) f2""".stripMargin)),

    // IVF delete — the lifecycle stage the IVF family was missing
    // (graph: q458 warm / q512 cold; IVF: build q501, insert q502,
    // drift q503, commit q505/q510, stream q509 — no delete): the
    // committed (id, vec, cell) index table takes a DELETION-VECTOR
    // delete (TxLog.deleteWhere — position bitmaps over immutable
    // parquet, the Delta/Iceberg DV shape: no rewrite, no quantizer
    // change) and the cold serve reads the post-delete log. Deleted
    // vectors vanish from every probe list by construction (the DV
    // filters the scan, not the plan); recall audits against brute
    // force over the LIVE corpus; n_live pins the DV's row accounting.
    "q515_ivf_delete_cold_serve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        Fixtures.scratchDir("graft_q515_") { tmp =>
          graft.sources.TxLog.commit(
            Similarity.insertIntoCells(vecs, "vec_id", "v", cents),
            tmp.toString, "overwrite", "vec_id")
          graft.sources.TxLog.deleteWhere(s, tmp.toString,
            col("vec_id") % 7 === 0)
          val idxBack = graft.sources.TxLog.read(s, tmp.toString)
          val live = vecs.filter(col("vec_id") % 7 =!= 0)
          val queries = live.filter(col("vec_id") % 25 === 0)
          val served = Similarity.annTopKIvf(queries, idxBack,
            "vec_id", "v", "cell", cents, TopK, probes)
          recallRow("ivf_delete_cold_serve", queries, served,
              bruteCosTopK(queries, live))
            .withColumn("nlist", lit(ncl.toLong))
            .crossJoin(idxBack.agg(count(lit(1)).as("n_live")))
        }
      },
      Some(s"""WITH $codesCte,
        |${coarseCtesOn("TRUE", nlSql("vv"))},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0 AND vec_id % 7 <> 0),
        |qp AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
        |  WHERE vec_id % 25 = 0 AND vec_id % 7 <> 0
        |    AND rn <= (${npcSql("vv", "c2")})),
        |srvs AS (SELECT qp.query_id, asg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("qp.qv", "asg.v")} AS cos
        |  FROM qp JOIN asg USING (cell)
        |  WHERE qp.query_id <> asg.vec_id AND asg.vec_id % 7 <> 0),
        |srv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM srvs),
        |lv AS MATERIALIZED (SELECT vec_id, v FROM va
        |  WHERE vec_id % 7 <> 0),
        |${bruteCosSql("lv")}
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  (SELECT count(*) FROM va WHERE vec_id % 7 <> 0) AS n_live
        |FROM (${recallSelect("ivf_delete_cold_serve", "srv")}) f""".stripMargin)),

    // RETRAIN → RECOVERY — the terminal the drift loop was missing:
    // q503 decides WHEN to retrain, this gate proves WHY and runs the
    // retrain itself. The insert quarter arrives sign-flipped (the
    // q503 'shifted' distribution shift); the audit fires
    // (n_retrain_cells > 0, the rider); the corpus is retrained at
    // the policy nlist of its NEW size; and the same preassigned
    // serve is replayed against BOTH quantizers over the mutated
    // corpus — the stale row records the recall the shift costs, the
    // retrained row the recovery. The oracle replays TWO full Lloyd
    // quantizers over one shared mutated `va` (the prefixed
    // coarseBlockOn) plus the drift readout from the stale block's
    // own assignments.
    "q516_ivf_retrain_recovery" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val flipped = vecs.filter(col("vec_id") % 4 === 1)
          .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
        val corpus = base.unionByName(flipped).localCheckpoint(true)
        val nclS = Similarity.numCells(base.count())
        val centsStale = Similarity.kmeansIterate(base, "v",
          seedInit(base, nclS), KmIters)
        val probesS = clampedProbes(nclS, centsStale)
        val nFlag = Similarity.cellDriftAudit(base, flipped, "vec_id",
          "v", centsStale, DriftPpm).filter(col("retrain")).count()
        val nclR = Similarity.numCells(corpus.count())
        val centsNew = Similarity.kmeansIterate(corpus, "v",
          seedInit(corpus, nclR), KmIters)
        val probesR = clampedProbes(nclR, centsNew)
        val queries = corpus.filter(col("vec_id") % 25 === 0)
        val exact = bruteCosTopK(queries, corpus).localCheckpoint(true)
        def serve(cents: Seq[(Int, Seq[Double])], probes: Int) =
          Similarity.annTopKIvf(queries,
            Similarity.insertIntoCells(corpus, "vec_id", "v", cents),
            "vec_id", "v", "cell", cents, TopK, probes)
        recallRow("ivf_retrained", queries,
            serve(centsNew, probesR), exact)
          .unionByName(recallRow("ivf_stale_after_shift", queries,
            serve(centsStale, probesS), exact))
          .withColumn("n_retrain_cells", lit(nFlag))
          .orderBy(col("family"))
      },
      Some(s"""WITH $codesCte,
        |va AS MATERIALIZED (SELECT vec_id,
        |  CASE WHEN vec_id % 4 = 1
        |    THEN list_transform(q, x -> -CAST(x AS DOUBLE))
        |    ELSE list_transform(q, x -> CAST(x AS DOUBLE)) END AS v
        |  FROM qz),
        |${coarseBlockOn("s", "vec_id % 4 <> 1", nlSql("svv"))},
        |${coarseBlockOn("r", "TRUE", nlSql("rvv"))},
        |dfits AS (SELECT cell,
        |    CASE WHEN vec_id % 4 = 1 THEN 1 ELSE 0 END AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM sqrk WHERE rn = 1),
        |dg AS (SELECT cell,
        |    CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inserted,
        |    CAST(sum(CASE WHEN src = 0 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN src = 1 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS si
        |  FROM dfits GROUP BY 1),
        |nflag AS (SELECT count(*) AS c FROM dg
        |  WHERE n_base > 0 AND n_inserted > 0
        |    AND (sb // n_base) - (si // n_inserted) > $DriftPpm),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |sqp AS (SELECT vec_id AS query_id, v AS qv, cell FROM sqrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("svv", "sc2")})),
        |ssx AS (SELECT sqp.query_id, sasg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("sqp.qv", "sasg.v")} AS cos
        |  FROM sqp JOIN sasg USING (cell)
        |  WHERE sqp.query_id <> sasg.vec_id),
        |ssrv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM ssx),
        |rqp AS (SELECT vec_id AS query_id, v AS qv, cell FROM rqrk
        |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("rvv", "rc2")})),
        |rsx AS (SELECT rqp.query_id, rasg.vec_id AS node,
        |    ${SimilarityQueries.cosSql("rqp.qv", "rasg.v")} AS cos
        |  FROM rqp JOIN rasg USING (cell)
        |  WHERE rqp.query_id <> rasg.vec_id),
        |rsrv AS (SELECT query_id, node, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
        |  FROM rsx),
        |${bruteCosSql("va")}
        |SELECT f.*, (SELECT c FROM nflag) AS n_retrain_cells
        |FROM (${recallSelect("ivf_retrained", "rsrv")}
        |UNION ALL
        |${recallSelect("ivf_stale_after_shift", "ssrv")}) f
        |ORDER BY family""".stripMargin)),

    // EXTERNAL embeddings through the GRAPH family — q511's twin
    // (closing the r13 ask's "and/or" in full): the exported
    // (vec_id, code) parquet feeds the NN-descent build AND the beam
    // serve AND the brute-force audit; values are the fixture's, so
    // the oracle is q472's replay under this family label, and the
    // recall row must read exactly q472's. A real encoder export
    // swaps one write job; build/serve plans are unchanged.
    "q517_graph_external_embeddings" -> Q(
      (s, dir) => {
        Fixtures.scratchDir("graft_q517_") { tmp =>
          val extPath = tmp.resolve("codes_export").toString
          clusteredCodes(s, dir).write.mode("overwrite").parquet(extPath)
          val ext = s.read.parquet(extPath)
          val graph = GraphAnn.nnDescent(ext, "vec_id", "code", K,
              Rounds, Buckets)
            .select(col("src"), col("dst")).localCheckpoint(true)
          val queries = ext.filter(col("vec_id") % 25 === 0)
          val served = GraphAnn.beamServe(queries, Seq((graph, Steps)),
            ext, ext, "vec_id", "code", EntryK, Beam, TopK)
          recallRow("graph_external_embeddings", queries,
            served, bruteTopK(queries, ext))
        }
      },
      Some(s"""WITH $codesCte,
        |$graphCtes,
        |$qqCte,
        |${beamCtesL("b", "qq", Seq.fill(Steps)(s"e$Rounds"), "TRUE")},
        |${bfSql("TRUE")}
        |${recallSelect("graph_external_embeddings", "bsrv")}""".stripMargin)),

    // FILTERED IVF serve with selectivity-aware probe widening — the
    // IVF side of the q475 problem: a ~5% predicate thins every
    // cell's candidate list 20×, so the naive fixed-nprobe serve
    // collapses while [[Similarity.probesForSelectivity]] widens the
    // probe list by total/allowed (⌈3·500/25⌉ ≥ nlist here — probing
    // every cell, which at scale stays selectivity-bounded because
    // the index scan itself is predicate-filtered; the q478
    // cardinality-switch argument applied to probes). Both families
    // in one gate: the naive row records the collapse, the widened
    // row the fix; the oracle re-derives the widening policy from
    // counts and replays both serves.
    "q518_ivf_filtered_serve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val total = vecs.count()
        val ncl = Similarity.numCells(total)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val pred = col("vec_id") % FilterMod === FilterRem
        val index = Similarity.insertIntoCells(vecs, "vec_id", "v",
          cents).filter(pred)
        val nAllowed = index.count()
        // nlist here is the TRAINED quantizer's actual cell count —
        // kmeansIterate drops empty cells, so the policy ncl is only
        // an upper bound (equal on this fixture; the probe's uniform
        // fixture at ×4 showed the divergence)
        val widened = Similarity.probesForSelectivity(probes,
          cents.size, nAllowed, total)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val exact = bruteCosTopK(queries, vecs.filter(pred))
          .localCheckpoint(true)
        def serve(p: Int) = Similarity.annTopKIvf(
          queries, index, "vec_id", "v", "cell", cents, TopK, p)
        recallRow("ivf_filtered_naive", queries, serve(probes), exact)
          .unionByName(recallRow("ivf_filtered_widened", queries,
            serve(widened), exact))
          .withColumn("nprobe_naive", lit(probes.toLong))
          .withColumn("nprobe_widened", lit(widened.toLong))
          .withColumn("n_allowed", lit(nAllowed))
          .orderBy(col("family"))
      },
      {
        val pred = s"vec_id % $FilterMod = $FilterRem"
        // trained cell count = count(*) FROM c2 (post-drop), the
        // exact mirror of cents.size on the Spark side
        val npw = s"GREATEST(LEAST((SELECT count(*) FROM c2), " +
          s"((${npcSql("vv", "c2")}) * (SELECT count(*) FROM va) + " +
          s"(SELECT count(*) FROM va WHERE $pred) - 1) // " +
          s"(SELECT count(*) FROM va WHERE $pred)), " +
          s"(${npcSql("vv", "c2")}))"
        Some(s"""WITH $codesCte,
          |${coarseCtesOn("TRUE", nlSql("vv"))},
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
          |  FROM va WHERE vec_id % 25 = 0),
          |qpn AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
          |  WHERE vec_id % 25 = 0 AND rn <= (${npcSql("vv", "c2")})),
          |qpw AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
          |  WHERE vec_id % 25 = 0 AND rn <= ($npw)),
          |nsx AS (SELECT qpn.query_id, asg.vec_id AS node,
          |    ${SimilarityQueries.cosSql("qpn.qv", "asg.v")} AS cos
          |  FROM qpn JOIN asg USING (cell)
          |  WHERE qpn.query_id <> asg.vec_id AND asg.$pred),
          |nsrv AS (SELECT query_id, node, row_number() OVER (
          |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
          |  FROM nsx),
          |wsx AS (SELECT qpw.query_id, asg.vec_id AS node,
          |    ${SimilarityQueries.cosSql("qpw.qv", "asg.v")} AS cos
          |  FROM qpw JOIN asg USING (cell)
          |  WHERE qpw.query_id <> asg.vec_id AND asg.$pred),
          |wsrv AS (SELECT query_id, node, row_number() OVER (
          |    PARTITION BY query_id ORDER BY cos DESC, node) AS rn
          |  FROM wsx),
          |alw AS MATERIALIZED (SELECT vec_id, v FROM va WHERE $pred),
          |${bruteCosSql("alw")}
          |SELECT f.*, CAST((${npcSql("vv", "c2")}) AS BIGINT) AS nprobe_naive,
          |  CAST(($npw) AS BIGINT) AS nprobe_widened,
          |  (SELECT count(*) FROM va WHERE $pred) AS n_allowed
          |FROM (${recallSelect("ivf_filtered_naive", "nsrv")}
          |UNION ALL
          |${recallSelect("ivf_filtered_widened", "wsrv")}) f
          |ORDER BY family""".stripMargin)
      }),

    // STREAMING ingest on the IVF-PQ path (r14 ask 2 — q509's shape
    // for the index a production 100 TB deployment actually ships):
    // coarse quantizer AND PQ codebooks train on the base 3/4 and
    // FREEZE; the base code table commits through TxLog; the late
    // quarter arrives as two micro-batches, each ivfPqEncode'd
    // against the frozen cents+codebooks and APPEND-committed (one
    // log version per batch — the artifact on disk IS the serving
    // index, M codes/vector); the cold read-back serves ADC + exact
    // re-rank. Encode is per-row against literal centroids, so
    // encode-on-arrival equals whole-corpus encode bit-identically —
    // the oracle replays ONE whole-corpus encode with the PQ
    // refinement restricted to base residuals (ivfPqCtesSplit) and
    // must match exactly; n_codes pins the lossless multi-version
    // round trip, n_streamed the stream's row accounting.
    "q519_ivfpq_stream_ingest" -> Q(
      (s, dir) => {
        import graft.streaming.Streams
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val ncl = Similarity.numCells(base.count())
        val cents = Similarity.kmeansIterate(base, "v",
          seedInit(base, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val residBase = Similarity.ivfResiduals(base, "vec_id", "v",
          cents).localCheckpoint(true)
        val cb = Similarity.pqTrain(residBase, "res", PqInit)
        Fixtures.scratchDir("graft_q519_") { tmp =>
          val idxDir = tmp.resolve("codes").toString
          graft.sources.TxLog.commit(
            Similarity.ivfPqEncode(base, "vec_id", "v", cents, cb),
            idxDir, "overwrite", "vec_id")
          val streamDir = tmp.resolve("in")
          Fixtures.stageStreamInput(Seq(1L, 5L).map(m =>
            vecs.filter(col("vec_id") % 8 === m)), streamDir)
          val nStreamed = new java.util.concurrent.atomic.AtomicLong(0L)
          Streams.scratchCheckpointDir("graft-q519-ck") { ckpt =>
            Streams.transformEachBatchWithId(
              s.readStream.schema(vecs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(streamDir.toString),
              batch => batch,
              (batch, batchId) => {
                val delta = batch.localCheckpoint(true)
                nStreamed.addAndGet(delta.count())
                // encode-on-arrival against the FROZEN codebooks; one
                // immutable log version per micro-batch, keyed on
                // (appId, batchId) so an engine REPLAY of a failed
                // batch is a no-op — at-least-once delivery becomes
                // exactly-once table state (the Delta txnAppId shape;
                // TxLog publish itself is an atomic rename)
                graft.sources.TxLog.commitIdempotent(
                  Similarity.ivfPqEncode(delta, "vec_id", "v", cents, cb),
                  idxDir, "append", "vec_id", "q519ingest", batchId)
                ()
              },
              ckpt.toString,
              Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
              .awaitTermination()
          }
          val codedBack = graft.sources.TxLog.read(s, idxDir)
          val queries = vecs.filter(col("vec_id") % 25 === 0)
          val shortlist = Similarity.ivfPqAdcTopK(queries, codedBack,
              "vec_id", "v", cents, cb, probes, ShortK)
            .localCheckpoint(true)
          val rerank = rerankL2(shortlist, queries, vecs)
          val exact = bruteL2TopK(queries, vecs).localCheckpoint(true)
          recallRow("ivfpq_stream_ingest_adc", queries,
              shortlist, exact)
            .unionByName(recallRow("ivfpq_stream_ingest_rerank",
              queries, rerank, exact))
            .withColumn("nlist", lit(ncl.toLong))
            .withColumn("n_streamed", lit(nStreamed.get()))
            .crossJoin(codedBack.agg(count(lit(1)).as("n_codes")))
            .orderBy(col("family"))
        }
      },
      Some(s"""WITH ${ivfPqCtesSplit(
          coarseCtesOn("vec_id % 4 <> 1", nlSql("vv")),
          npcSql("vv", "c2"), "vec_id % 4 <> 1", "va")},
        |rrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM short s JOIN qq ON qq.query_id = s.query_id
        |  JOIN va nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN va z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |SELECT f.*, CAST((${nlSql("vv")}) AS BIGINT) AS nlist,
        |  (SELECT count(*) FROM va WHERE vec_id % 4 = 1) AS n_streamed,
        |  (SELECT count(*) FROM cd) AS n_codes
        |FROM (${recallSelect("ivfpq_stream_ingest_adc", "short")}
        |UNION ALL
        |${recallSelect("ivfpq_stream_ingest_rerank", "rrk")}) f
        |ORDER BY family""".stripMargin)),

    // DELETION-VECTOR delete + FILTERED serve on the IVF-PQ path
    // (r14 ask 3 — q515 × q518 composed where production runs them:
    // the committed CODE table): the policy-trained (id, cell, codes)
    // artifact takes a TxLog DV delete (no rewrite, no quantizer or
    // codebook change), the cold read-back is additionally predicate-
    // filtered (~5% allowed), and BOTH filters apply to the SCAN —
    // deleted and disallowed rows vanish from every probe list before
    // the ADC sum runs. Fixed-nprobe ADC collapses at this thinning
    // (the q518 disease, PQ edition); probesForSelectivity — widened
    // by LIVE total/allowed and clamped to the TRAINED cell count —
    // restores it, and the exact re-rank over the shortlist's raw
    // vectors (live rows only, by construction) lands recall at 1.0.
    // The naive and widened rows pin collapse and restore; n_live
    // pins the DV's row accounting, n_allowed the predicate's.
    "q520_ivfpq_dv_filtered_serve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        Fixtures.scratchDir("graft_q520_") { tmp =>
          graft.sources.TxLog.commit(
            Similarity.ivfPqEncode(vecs, "vec_id", "v", cents, cb),
            tmp.toString, "overwrite", "vec_id")
          graft.sources.TxLog.deleteWhere(s, tmp.toString,
            col("vec_id") % 7 === 0)
          val codedBack = graft.sources.TxLog.read(s, tmp.toString)
          val nLive = codedBack.count()
          val pred = col("vec_id") % FilterMod === FilterRem
          val allowedCodes = codedBack.filter(pred).localCheckpoint(true)
          val nAllowed = allowedCodes.count()
          val widened = Similarity.probesForSelectivity(probes,
            cents.size, nAllowed, nLive)
          val live = vecs.filter(col("vec_id") % 7 =!= 0)
          val queries = live.filter(col("vec_id") % 25 === 0)
          def rerankAt(p: Int) = rerankL2(
            Similarity.ivfPqAdcTopK(queries, allowedCodes,
                "vec_id", "v", cents, cb, p, ShortK)
              .localCheckpoint(true),
            queries, vecs)
          val allowedLive = live.filter(pred)
          val exact = bruteL2TopK(queries, allowedLive)
            .localCheckpoint(true)
          recallRow("ivfpq_dv_filtered_naive", queries,
              rerankAt(probes), exact)
            .unionByName(recallRow("ivfpq_dv_filtered_widened", queries,
              rerankAt(widened), exact))
            .withColumn("nprobe_naive", lit(probes.toLong))
            .withColumn("nprobe_widened", lit(widened.toLong))
            .withColumn("n_allowed", lit(nAllowed))
            .withColumn("n_live", lit(nLive))
            .orderBy(col("family"))
        }
      },
      {
        val live = "vec_id % 7 <> 0"
        val pred = s"vec_id % $FilterMod = $FilterRem"
        val qCond = s"vec_id % 25 = 0 AND $live"
        val candCond = s"cd.$live AND cd.$pred"
        val nLiveSql = s"(SELECT count(*) FROM va WHERE $live)"
        val nAllowedSql =
          s"(SELECT count(*) FROM va WHERE $live AND $pred)"
        val npc = npcSql("vv", "c2")
        val npw = s"GREATEST(LEAST((SELECT count(*) FROM c2), " +
          s"(($npc) * $nLiveSql + $nAllowedSql - 1) // $nAllowedSql), " +
          s"($npc))"
        def rrkSql(p: String): String =
          s"""${p}rrk AS (SELECT s.query_id, s.node, row_number() OVER (
             |      PARTITION BY s.query_id
             |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
             |      AS rn
             |  FROM ${p}short s JOIN qq ON qq.query_id = s.query_id
             |  JOIN va nv ON nv.vec_id = s.node)""".stripMargin
        Some(s"""WITH ${ivfPqCodesCtes(
            coarseCtesOn("TRUE", nlSql("vv")), "TRUE")},
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
          |  FROM va WHERE $qCond),
          |${ivfPqServeCtes("n", qCond, npc, candCond)},
          |${ivfPqServeCtes("w", qCond, npw, candCond)},
          |${rrkSql("n")},
          |${rrkSql("w")},
          |bf AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qq.query_id
          |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
          |      AS rn
          |  FROM qq JOIN va z ON z.vec_id <> qq.query_id
          |  WHERE z.$live AND z.$pred)
          |  WHERE rn <= $TopK)
          |SELECT f.*, CAST(($npc) AS BIGINT) AS nprobe_naive,
          |  CAST(($npw) AS BIGINT) AS nprobe_widened,
          |  $nAllowedSql AS n_allowed,
          |  $nLiveSql AS n_live
          |FROM (${recallSelect("ivfpq_dv_filtered_naive", "nrrk")}
          |UNION ALL
          |${recallSelect("ivfpq_dv_filtered_widened", "wrrk")}) f
          |ORDER BY family""".stripMargin)
      }),

    // DRIFT-fired REBUILD with measured recovery on the GRAPH family
    // (r14 ask 4 — q516's twin): a quarter of the corpus mutates IN
    // PLACE — each mutated row independently re-draws a cluster under
    // a fresh ':cl2' salt and lands at the MIRROR (−centroid − fresh
    // jitter) of that cluster, a location no unmutated row occupies.
    // Rows that co-moved (a plain sign flip) would keep their stale
    // intra-cluster edges valid — measured: stale recall equals
    // rebuilt at sf0.01 — so the mutation must break CO-MOVEMENT:
    // mirror-cluster mates were scattered across the old mixture, so
    // the stale NN-descent graph has essentially no edges between
    // them, and a mutated query can reach its new neighborhood only
    // through entry luck. The audit is the graph-side drift trigger:
    // the stale edge set's exact integer fit sum re-evaluated over
    // the mutated codes vs at build time (both i64-exact, so the >2%
    // drop trigger is a pure integer cross-multiplication in both
    // engines); it fires (retrain=true), the graph REBUILDS over the
    // mutated corpus, and the same beam serve replays against both —
    // the stale row records what the shift costs, the rebuilt row the
    // recovery. The oracle replays BOTH NN-descent builds over one
    // shared mutated code table (graphCtesP's src parameter — q516's
    // prefixed-block trick, graph edition).
    "q521_graph_drift_rebuild" -> Q(
      (s, dir) => {
        val codes = clusteredCodes(s, dir)
        val mutated = codes
          .withColumn("cl2",
            GraphAnn.saltedHash60(col("vec_id"), ":cl2") % NCl)
          .select(col("vec_id"),
            when(col("vec_id") % 4 === 1,
              transform(sequence(lit(1), lit(Dim)), i => {
                val cent = GraphAnn.saltedHash60(
                  concat(col("cl2").cast("string"), lit(":"),
                    i.cast("string")), ":cent") % 201 - 100
                val jit = GraphAnn.saltedHash60(
                  concat(col("vec_id").cast("string"), lit(":"),
                    i.cast("string")), ":jit2") % 21 - 10
                (-(cent + jit)).cast("int")
              }))
              .otherwise(col("code")).as("code"))
          .localCheckpoint(true)
        val staleGraph = GraphAnn.nnDescent(codes, "vec_id", "code",
            K, Rounds, Buckets)
          .select(col("src"), col("dst")).localCheckpoint(true)
        val rebuilt = GraphAnn.nnDescent(mutated, "vec_id", "code",
            K, Rounds, Buckets)
          .select(col("src"), col("dst")).localCheckpoint(true)
        // drift audit: ONE pass over the stale edges, both endpoint
        // codes at both epochs — two exact i64 fit sums, bounded
        // driver state (two longs)
        val fit = staleGraph
          .join(codes.select(col("vec_id").as("src"),
            col("code").as("__so")), Seq("src"))
          .join(codes.select(col("vec_id").as("dst"),
            col("code").as("__do")), Seq("dst"))
          .join(mutated.select(col("vec_id").as("src"),
            col("code").as("__sm")), Seq("src"))
          .join(mutated.select(col("vec_id").as("dst"),
            col("code").as("__dm")), Seq("dst"))
          .agg(sum(dotI(col("__so"), col("__do"))).as("o"),
            sum(dotI(col("__sm"), col("__dm"))).as("m"))
          .collect()(0)
        val sOrig = fit.getLong(0)
        val sMut = fit.getLong(1)
        val queries = mutated.filter(col("vec_id") % 25 === 0)
        val exact = bruteTopK(queries, mutated).localCheckpoint(true)
        def serve(graph: DataFrame) = GraphAnn.beamServe(queries,
          Seq((graph, Steps)), mutated, mutated, "vec_id", "code", EntryK,
          Beam, TopK)
        recallRow("graph_rebuilt", queries, serve(rebuilt), exact)
          .unionByName(recallRow("graph_stale_after_shift", queries,
            serve(staleGraph), exact))
          .withColumn("edge_fit_orig", lit(sOrig))
          .withColumn("edge_fit_mut", lit(sMut))
          .withColumn("retrain", lit((sOrig - sMut) * 50L > sOrig))
          .orderBy(col("family"))
      },
      Some(s"""WITH $codesCte,
        |mz AS MATERIALIZED (SELECT vec_id,
        |  CASE WHEN vec_id % 4 = 1 THEN
        |    list_transform(range(1, ${Dim + 1}), i ->
        |      -(${hashSql(
          "CAST(cl2 AS VARCHAR) || ':' || CAST(i AS VARCHAR)",
          ":cent")} % 201 - 100 +
        |        (${hashSql(
          "CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)",
          ":jit2")} % 21 - 10)))
        |  ELSE q END AS q
        |  FROM (SELECT vec_id, q,
        |      ${hashSql("vec_id", ":cl2")} % $NCl AS cl2
        |    FROM qz)),
        |${graphCtesP("s", "TRUE", Buckets, "qz")},
        |${graphCtesP("r", "TRUE", Buckets, "mz")},
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv
        |  FROM mz WHERE vec_id % 25 = 0),
        |${beamCtesL("a", "qq", Seq.fill(Steps)(s"se$Rounds"), "TRUE",
          "mz")},
        |${beamCtesL("b", "qq", Seq.fill(Steps)(s"re$Rounds"), "TRUE",
          "mz")},
        |${bfSql("TRUE", "mz")},
        |sfit AS (SELECT
        |    CAST(sum(${idotSql("oa.q", "ob.q")}) AS BIGINT) AS s_orig,
        |    CAST(sum(${idotSql("ma.q", "mb.q")}) AS BIGINT) AS s_mut
        |  FROM se$Rounds e
        |  JOIN qz oa ON oa.vec_id = e.src
        |  JOIN qz ob ON ob.vec_id = e.dst
        |  JOIN mz ma ON ma.vec_id = e.src
        |  JOIN mz mb ON mb.vec_id = e.dst)
        |SELECT f.*,
        |  (SELECT s_orig FROM sfit) AS edge_fit_orig,
        |  (SELECT s_mut FROM sfit) AS edge_fit_mut,
        |  (SELECT (s_orig - s_mut) * 50 > s_orig FROM sfit) AS retrain
        |FROM (${recallSelect("graph_rebuilt", "bsrv")}
        |UNION ALL
        |${recallSelect("graph_stale_after_shift", "asrv")}) f
        |ORDER BY family""".stripMargin)),

    // INDEX AUTO-SELECTION policy wired to the serving stack (r14
    // ask 5 — the planner-shaped gate the families were missing):
    // [[graft.operators.IndexPolicy.choose]] maps plan-time stats
    // (n, dim, allowed-row count, serving-memory budget) to one of
    // the four gated families, and this gate SERVES the same query
    // set through the chosen path per stratum. Four strata pin all
    // four rungs at the driver's sf0.01 gate: a ~5% predicate
    // (allowed 25 < 150 → flat exact scan, the q478 switch), a 50%
    // predicate (→ IVF with selectivity-widened probes, q518's
    // serve), unfiltered in-memory (→ graph beam, q472's serve), and
    // unfiltered under a 10 KB budget (64 KB of raw vectors don't
    // fit → IVF-PQ ADC + re-rank, q507's serve). The oracle
    // re-derives every choice from the same counts (the family
    // column is CASE-over-counts, so an inconsistent policy mirror
    // hash-fails) and replays each stratum's serve; at other SFs the
    // Spark side re-branches from live counts (tiny_filter crosses
    // the switch at sf0.1 and becomes IVF — derivable either way).
    "q522_index_policy_serve" -> Q(
      (s, dir) => {
        import graft.operators.IndexPolicy
        val BudgetBig = 1000000000L
        val BudgetTight = 10000L
        val codes = clusteredCodes(s, dir).localCheckpoint(true)
        val n = codes.count()
        val qi = codes.filter(col("vec_id") % 25 === 0)
        // shared artifacts, built at most once each (lazy: a stratum
        // set that never chooses a family never pays its build)
        lazy val graph = GraphAnn.nnDescent(codes, "vec_id", "code",
            K, Rounds, Buckets)
          .select(col("src"), col("dst")).localCheckpoint(true)
        lazy val vecs = doubleVecs(s, dir)
        lazy val qd = vecs.filter(col("vec_id") % 25 === 0)
        lazy val ncl = Similarity.numCells(n)
        lazy val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        lazy val probes = clampedProbes(ncl, cents)
        lazy val cb = Similarity.pqTrain(
          Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
            .localCheckpoint(true), "res", PqInit)
        val strata = Seq(
          ("tiny_filter",
            Some(col("vec_id") % FilterMod === FilterRem), BudgetBig),
          ("half_filter", Some(col("vec_id") % 2 === 0), BudgetBig),
          ("unfiltered_mem", Option.empty[Column], BudgetBig),
          ("unfiltered_tight", Option.empty[Column], BudgetTight))
        val rows = strata.map { case (name, condOpt, budget) =>
          val cond = condOpt.getOrElse(lit(true))
          val allowed = condOpt.map(c => codes.filter(c).count())
            .getOrElse(n)
          val choice = IndexPolicy.choose(n, Dim, allowed, budget)
          val row = choice match {
            case IndexPolicy.Flat =>
              // the flat index IS the exact scan. It keeps its own
              // unhinted join: q522 read slower at sf0.1 with
              // TopK.exact's broadcast + Spread shape here
              val ac = codes.filter(cond)
              val served = graft.operators.TopK.rank(
                  qi.select(col("vec_id").as("query_id"),
                      col("code").as("__qc"))
                    .join(ac.select(col("vec_id").as("neighbor_id"),
                      col("code").as("__nc")),
                      col("query_id") =!= col("neighbor_id"))
                    .withColumn("__d", dotI(col("__qc"), col("__nc"))),
                  "query_id", col("__d").desc, "neighbor_id", TopK)
                .select(col("query_id"), col("neighbor_id"), col("rn"))
              recallRow(name, qi, served, bruteTopK(qi, ac))
            case IndexPolicy.Graph =>
              recallRow(name, qi,
                GraphAnn.beamServe(qi, Seq((graph, Steps)), codes, codes,
                  "vec_id", "code", EntryK, Beam, TopK),
                bruteTopK(qi, codes))
            case IndexPolicy.Ivf =>
              val index = Similarity.insertIntoCells(vecs, "vec_id",
                "v", cents).filter(cond)
              val widened = Similarity.probesForSelectivity(probes,
                cents.size, allowed, n)
              recallRow(name, qd,
                Similarity.annTopKIvf(qd, index, "vec_id",
                  "v", "cell", cents, TopK, widened),
                bruteCosTopK(qd, vecs.filter(cond)))
            case IndexPolicy.IvfPq =>
              val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v",
                cents, cb)
              val rerank = rerankL2(
                Similarity.ivfPqAdcTopK(qd, coded, "vec_id",
                    "v", cents, cb, probes, ShortK)
                  .localCheckpoint(true),
                qd, vecs)
              recallRow(name, qd, rerank, bruteL2TopK(qd, vecs))
          }
          row.withColumnRenamed("family", "stratum")
            .withColumn("family", lit(choice))
            .withColumn("n_allowed", lit(allowed))
            .withColumn("budget_bytes", lit(budget))
        }
        rows.reduce(_.unionByName(_)).orderBy(col("stratum"))
      },
      {
        val BudgetBig = 1000000000L
        val BudgetTight = 10000L
        val nSql = "(SELECT count(*) FROM qz)"
        def chooseSql(allowedSql: String, budget: Long): String =
          s"CASE WHEN ($allowedSql) < ${
            graft.operators.IndexPolicy.SwitchBelow} THEN 'flat' " +
            s"WHEN $nSql * ${Dim * 8} > $budget THEN 'ivfpq' " +
            s"WHEN ($allowedSql) = $nSql THEN 'graph' " +
            "ELSE 'ivf' END"
        val tinyCond = s"vec_id % $FilterMod = $FilterRem"
        val tinyAllowed = s"(SELECT count(*) FROM qz WHERE $tinyCond)"
        val halfAllowed = "(SELECT count(*) FROM qz WHERE vec_id % 2 = 0)"
        val npc = npcSql("vv", "c2")
        val npw2 = s"GREATEST(LEAST((SELECT count(*) FROM c2), " +
          s"(($npc) * (SELECT count(*) FROM va) + $halfAllowed - 1) " +
          s"// $halfAllowed), ($npc))"
        def stratumRow(stratum: String, srv: String, q: String,
            bf: String, allowedSql: String, budget: Long): String =
          s"""SELECT f.family AS stratum,
             |  ${chooseSql(allowedSql, budget)} AS family,
             |  f.n_queries, f.denom, f.hits, f.recall_ppm,
             |  CAST(($allowedSql) AS BIGINT) AS n_allowed,
             |  CAST($budget AS BIGINT) AS budget_bytes
             |FROM (${recallSelectOn(stratum, srv, q, bf)}) f""".stripMargin
        Some(s"""WITH $codesCte,
          |${coarseCtesOn("TRUE", nlSql("vv"))},
          |${ivfPqTrainCtes("TRUE")},
          |${graphCtesP("x", "TRUE", Buckets)},
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, q AS qv
          |  FROM qz WHERE vec_id % 25 = 0),
          |qd AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
          |  FROM va WHERE vec_id % 25 = 0),
          |s1s AS MATERIALIZED (SELECT query_id, node, rn FROM (
          |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qq.query_id
          |      ORDER BY ${idotSql("qq.qv", "z.q")} DESC, z.vec_id) AS rn
          |  FROM qq JOIN qz z ON z.vec_id <> qq.query_id
          |  WHERE z.$tinyCond)),
          |s1b AS (SELECT query_id, node FROM s1s WHERE rn <= $TopK),
          |s2p AS (SELECT vec_id AS query_id, v AS qv, cell FROM qrk
          |  WHERE vec_id % 25 = 0 AND rn <= ($npw2)),
          |s2x AS (SELECT s2p.query_id, asg.vec_id AS node,
          |    ${SimilarityQueries.cosSql("s2p.qv", "asg.v")} AS cos
          |  FROM s2p JOIN asg USING (cell)
          |  WHERE s2p.query_id <> asg.vec_id AND asg.vec_id % 2 = 0),
          |s2s AS MATERIALIZED (SELECT query_id, node, row_number()
          |    OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rn
          |  FROM s2x),
          |s2v AS MATERIALIZED (SELECT vec_id, v FROM va
          |  WHERE vec_id % 2 = 0),
          |s2b AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qd.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qd.query_id
          |      ORDER BY ${SimilarityQueries.cosSql("qd.qv", "z.v")} DESC,
          |        z.vec_id) AS rn
          |  FROM qd JOIN s2v z ON z.vec_id <> qd.query_id)
          |  WHERE rn <= $TopK),
          |${beamCtesL("y", "qq", Seq.fill(Steps)(s"xe$Rounds"), "TRUE")},
          |s3b AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qq.query_id
          |      ORDER BY ${idotSql("qq.qv", "z.q")} DESC, z.vec_id) AS rn
          |  FROM qq JOIN qz z ON z.vec_id <> qq.query_id)
          |  WHERE rn <= $TopK),
          |${ivfPqServeCtes("t", "vec_id % 25 = 0", npc, "TRUE")},
          |trrk AS (SELECT s.query_id, s.node, row_number() OVER (
          |      PARTITION BY s.query_id
          |      ORDER BY ${l2dAt("qd.qv", 0, "nv.v", Dim)} ASC, s.node)
          |      AS rn
          |  FROM tshort s JOIN qd ON qd.query_id = s.query_id
          |  JOIN va nv ON nv.vec_id = s.node),
          |s4b AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qd.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qd.query_id
          |      ORDER BY ${l2dAt("qd.qv", 0, "z.v", Dim)} ASC, z.vec_id)
          |      AS rn
          |  FROM qd JOIN va z ON z.vec_id <> qd.query_id)
          |  WHERE rn <= $TopK)
          |SELECT * FROM (
          |${stratumRow("tiny_filter", "s1s", "qq", "s1b",
            tinyAllowed, BudgetBig)}
          |UNION ALL
          |${stratumRow("half_filter", "s2s", "qd", "s2b",
            halfAllowed, BudgetBig)}
          |UNION ALL
          |${stratumRow("unfiltered_mem", "ysrv", "qq", "s3b",
            nSql, BudgetBig)}
          |UNION ALL
          |${stratumRow("unfiltered_tight", "trrk", "qd", "s4b",
            nSql, BudgetTight)})
          |ORDER BY stratum""".stripMargin)
      }),

    // DRIFT-fired retrain on the IVF-PQ path — the last empty cell of
    // the family × lifecycle matrix (IVF got retrain at q516, graph
    // at q521; PQ had build/policy/commit/stream/DV but no retrain
    // terminal): the insert quarter arrives sign-flipped, the
    // COARSE-level drift audit fires (the trigger is shared with
    // q516 — drift lives in the quantizer, the codebooks just follow
    // it), and the retrain rebuilds BOTH stages: coarse quantizer at
    // the policy nlist of the new size AND PQ codebooks on the new
    // residuals. The same ADC + exact-re-rank serve replays against
    // the stale and retrained stacks over the mutated corpus; the
    // oracle replays TWO complete coarse+PQ stacks over one shared
    // mutated `va` (prefixed coarse blocks AND prefixed PQ blocks)
    // plus the q516 drift readout from the stale block's assignments.
    "q523_ivfpq_drift_retrain" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val base = vecs.filter(col("vec_id") % 4 =!= 1)
        val flipped = vecs.filter(col("vec_id") % 4 === 1)
          .select(col("vec_id"), transform(col("v"), x => -x).as("v"))
        val corpus = base.unionByName(flipped).localCheckpoint(true)
        val nclS = Similarity.numCells(base.count())
        val centsS = Similarity.kmeansIterate(base, "v",
          seedInit(base, nclS), KmIters)
        val probesS = clampedProbes(nclS, centsS)
        val cbS = Similarity.pqTrain(
          Similarity.ivfResiduals(base, "vec_id", "v", centsS)
            .localCheckpoint(true), "res", PqInit)
        val nFlag = Similarity.cellDriftAudit(base, flipped, "vec_id",
          "v", centsS, DriftPpm).filter(col("retrain")).count()
        val nclR = Similarity.numCells(corpus.count())
        val centsR = Similarity.kmeansIterate(corpus, "v",
          seedInit(corpus, nclR), KmIters)
        val probesR = clampedProbes(nclR, centsR)
        val cbR = Similarity.pqTrain(
          Similarity.ivfResiduals(corpus, "vec_id", "v", centsR)
            .localCheckpoint(true), "res", PqInit)
        val queries = corpus.filter(col("vec_id") % 25 === 0)
        val exact = bruteL2TopK(queries, corpus).localCheckpoint(true)
        def rerankServe(cents: Seq[(Int, Seq[Double])],
            cb: Seq[Seq[Seq[Double]]], probes: Int) = {
          val coded = Similarity.ivfPqEncode(corpus, "vec_id", "v",
            cents, cb)
          rerankL2(
            Similarity.ivfPqAdcTopK(queries, coded, "vec_id", "v",
                cents, cb, probes, ShortK)
              .localCheckpoint(true),
            queries, corpus)
        }
        recallRow("ivfpq_retrained", queries,
            rerankServe(centsR, cbR, probesR), exact)
          .unionByName(recallRow("ivfpq_stale_after_shift", queries,
            rerankServe(centsS, cbS, probesS), exact))
          .withColumn("n_retrain_cells", lit(nFlag))
          .orderBy(col("family"))
      },
      Some(s"""WITH $codesCte,
        |va AS MATERIALIZED (SELECT vec_id,
        |  CASE WHEN vec_id % 4 = 1
        |    THEN list_transform(q, x -> -CAST(x AS DOUBLE))
        |    ELSE list_transform(q, x -> CAST(x AS DOUBLE)) END AS v
        |  FROM qz),
        |${coarseBlockOn("s", "vec_id % 4 <> 1", nlSql("svv"))},
        |${coarseBlockOn("r", "TRUE", nlSql("rvv"))},
        |${ivfPqTrainCtes("vec_id % 4 <> 1", "s")},
        |${ivfPqTrainCtes("TRUE", "r")},
        |dfits AS (SELECT cell,
        |    CASE WHEN vec_id % 4 = 1 THEN 1 ELSE 0 END AS src,
        |    CAST(floor((cos + 1.0) * 1000000.0) AS BIGINT) AS fit_ppm
        |  FROM sqrk WHERE rn = 1),
        |dg AS (SELECT cell,
        |    CAST(sum(CASE WHEN src = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_base,
        |    CAST(sum(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_inserted,
        |    CAST(sum(CASE WHEN src = 0 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    CAST(sum(CASE WHEN src = 1 THEN fit_ppm ELSE 0 END)
        |      AS BIGINT) AS si
        |  FROM dfits GROUP BY 1),
        |nflag AS (SELECT count(*) AS c FROM dg
        |  WHERE n_base > 0 AND n_inserted > 0
        |    AND (sb // n_base) - (si // n_inserted) > $DriftPpm),
        |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
        |  FROM va WHERE vec_id % 25 = 0),
        |${ivfPqServeCtes("u", "vec_id % 25 = 0",
          npcSql("svv", "sc2"), "TRUE", "s")},
        |${ivfPqServeCtes("w", "vec_id % 25 = 0",
          npcSql("rvv", "rc2"), "TRUE", "r")},
        |urrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM ushort s JOIN qq ON qq.query_id = s.query_id
        |  JOIN va nv ON nv.vec_id = s.node),
        |wrrk AS (SELECT s.query_id, s.node, row_number() OVER (
        |      PARTITION BY s.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC, s.node)
        |      AS rn
        |  FROM wshort s JOIN qq ON qq.query_id = s.query_id
        |  JOIN va nv ON nv.vec_id = s.node),
        |bf AS MATERIALIZED (SELECT query_id, node FROM (
        |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
        |      PARTITION BY qq.query_id
        |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC, z.vec_id)
        |      AS rn
        |  FROM qq JOIN va z ON z.vec_id <> qq.query_id)
        |  WHERE rn <= $TopK)
        |SELECT f.*, (SELECT c FROM nflag) AS n_retrain_cells
        |FROM (${recallSelect("ivfpq_retrained", "wrrk")}
        |UNION ALL
        |${recallSelect("ivfpq_stale_after_shift", "urrk")}) f
        |ORDER BY family""".stripMargin)),

    // The nprobe → recall TUNING CURVE — the artifact every IVF
    // deployment derives before fixing its serve width (FAISS's
    // nprobe sweep): the SAME policy-trained index served at probe
    // widths 1, 2, 4, 8, 16 (grid points below the trained cell
    // count) plus ALL cells, each row's recall audited against brute
    // force. The ALL row is exact by construction (probing every
    // cell IS the scan) and pins the curve's ceiling at 10⁶ ppm; the
    // curve is monotone non-decreasing in nprobe because probe lists
    // are nested prefixes of the same cell ranking. The oracle
    // replays every width from one coarse block; grid points at or
    // above the trained cell count drop out on BOTH sides by the
    // same count-derived guard.
    "q524_nprobe_recall_curve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val index = Similarity.insertIntoCells(vecs, "vec_id", "v",
          cents).localCheckpoint(true)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val exact = bruteCosTopK(queries, vecs).localCheckpoint(true)
        val widths = Seq(1, 2, 4, 8, 16).filter(_ < cents.size) :+
          cents.size
        widths.map { p =>
          recallRow("ivf_nprobe_curve", queries,
              Similarity.annTopKIvf(queries, index,
                "vec_id", "v", "cell", cents, TopK, p),
              exact)
            .withColumn("nprobe", lit(p.toLong))
        }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
      },
      {
        val cnt = "(SELECT count(*) FROM c2)"
        def serveAt(tag: String, pSql: String): String =
          s"""${tag}qp AS (SELECT vec_id AS query_id, v AS qv, cell
             |  FROM qrk WHERE vec_id % 25 = 0 AND rn <= ($pSql)),
             |${tag}sx AS (SELECT ${tag}qp.query_id,
             |    asg.vec_id AS node,
             |    ${SimilarityQueries.cosSql(s"${tag}qp.qv", "asg.v")}
             |      AS cos
             |  FROM ${tag}qp JOIN asg USING (cell)
             |  WHERE ${tag}qp.query_id <> asg.vec_id),
             |${tag}sv AS MATERIALIZED (SELECT query_id, node,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, node) AS rn
             |  FROM ${tag}sx)""".stripMargin
        val grid = Seq(1, 2, 4, 8, 16)
        def rowAt(tag: String, pSql: String, guard: String): String =
          s"""SELECT f.*, CAST(($pSql) AS BIGINT) AS nprobe
             |FROM (${recallSelectOn("ivf_nprobe_curve", s"${tag}sv",
               "qq", "bf")}) f
             |WHERE $guard""".stripMargin
        Some(s"""WITH $codesCte,
          |${coarseCtesOn("TRUE", nlSql("vv"))},
          |qq AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv
          |  FROM va WHERE vec_id % 25 = 0),
          |${grid.map(p => serveAt(f"g$p%03d", p.toString))
            .mkString(",\n")},
          |${serveAt("all", cnt)},
          |${bruteCosSql("va")}
          |SELECT family, n_queries, denom, hits, recall_ppm, nprobe
          |FROM (
          |${grid.map(p => rowAt(f"g$p%03d", p.toString,
              s"$p < $cnt")).mkString("\nUNION ALL\n")}
          |UNION ALL
          |${rowAt("all", cnt, "TRUE")})
          |ORDER BY nprobe""".stripMargin)
      }),

    // The beam-width → recall TUNING CURVE — the graph family's
    // q524: HNSW deployments sweep ef-search (the beam) before
    // fixing the serve. The pack's production serve (EntryK=16,
    // Steps=5) saturates at beam 4 on this fixture — no dial to
    // show — so the curve runs the CONSTRAINED serve every latency-
    // bound deployment actually tunes: 8 entry points, 3 steps,
    // beams 1 / 2 / 4 / 12. The curve doubles per width up the
    // rising edge (0.22 → 0.43 → 0.65 at sf0.01) and then KNEES:
    // past beam 4 the entry/step budget, not the beam, binds — which
    // is the actual tuning insight (spend latency on entries or
    // steps, not more beam, once the knee is reached). Per-width
    // cost is beam-linear; the oracle replays each width as a full
    // prefixed descent from one shared build.
    "q525_beam_recall_curve" -> Q(
      (s, dir) => {
        val curveEntryK = 8
        val curveSteps = 3
        val (codes, graph) = builtGraph(s, dir)
        val queries = queriesOf(codes)
        val exact = bruteTopK(queries, codes).localCheckpoint(true)
        Seq(1, 2, 4, 12).map { b =>
          recallRow("graph_beam_curve", queries,
              GraphAnn.beamServe(queries, Seq((graph, curveSteps)),
                codes, codes, "vec_id", "code", curveEntryK, b, TopK),
              exact)
            .withColumn("beam", lit(b.toLong))
        }.reduce(_.unionByName(_)).orderBy(col("beam"))
      },
      {
        val curveEntryK = 8
        val curveSteps = 3
        def rowAt(b: Int): String =
          s"""SELECT f.*, CAST($b AS BIGINT) AS beam
             |FROM (${recallSelectOn("graph_beam_curve", s"w${b}srv",
               "qq", "bf")}) f""".stripMargin
        Some(s"""WITH $codesCte,
          |$graphCtes,
          |$qqCte,
          |${Seq(1, 2, 4, 12).map(b => beamCtesL(s"w$b", "qq",
            Seq.fill(curveSteps)(s"e$Rounds"), "TRUE", "qz", b,
            curveEntryK)).mkString(",\n")},
          |${bfSql("TRUE")}
          |SELECT family, n_queries, denom, hits, recall_ppm, beam
          |FROM (
          |${Seq(1, 2, 4, 12).map(rowAt).mkString("\nUNION ALL\n")})
          |ORDER BY beam""".stripMargin)
      }),

    // The re-rank DEPTH → recall TUNING CURVE — the third serving
    // knob (FAISS's k_factor, after q524's nprobe and q525's beam):
    // how many ADC-ranked candidates the exact re-rank stage reads
    // back from cold storage. ADC ranks by quantized distance, so a
    // true top-3 neighbor can sit below rank k in ADC order — the
    // curve measures exactly that displacement: re-rank the top
    // 5 / 10 / 20 / 80 of ONE shared ADC ranking (shortlists are
    // nested prefixes, so one serve feeds every depth) and audit
    // each against brute force. The knee tells a deployment how few
    // cold-storage reads per query buy exact-top-k recall; depth is
    // the I/O dial, nprobe the compute dial.
    "q526_rerank_depth_curve" -> Q(
      (s, dir) => {
        val vecs = doubleVecs(s, dir)
        val n = vecs.count()
        val ncl = Similarity.numCells(n)
        val cents = Similarity.kmeansIterate(vecs, "v",
          seedInit(vecs, ncl), KmIters)
        val probes = clampedProbes(ncl, cents)
        val resid = Similarity.ivfResiduals(vecs, "vec_id", "v", cents)
          .localCheckpoint(true)
        val cb = Similarity.pqTrain(resid, "res", PqInit)
        val coded = Similarity.ivfPqEncode(vecs, "vec_id", "v", cents,
          cb)
        val queries = vecs.filter(col("vec_id") % 25 === 0)
        val shortlist = Similarity.ivfPqAdcTopK(queries, coded,
            "vec_id", "v", cents, cb, probes, ShortK)
          .localCheckpoint(true)
        val exact = bruteL2TopK(queries, vecs).localCheckpoint(true)
        Seq(5, 10, 20, ShortK).map { sk =>
          recallRow("ivfpq_rerank_depth", queries,
              rerankL2(shortlist.filter(col("rn") <= sk), queries,
                vecs), exact)
            .withColumn("depth", lit(sk.toLong))
        }.reduce(_.unionByName(_)).orderBy(col("depth"))
      },
      {
        def rowAt(sk: Int): String =
          s"""SELECT f.*, CAST($sk AS BIGINT) AS depth
             |FROM (${recallSelectOn("ivfpq_rerank_depth", s"rr$sk",
               "qq", "bf")}) f""".stripMargin
        def rrkAt(sk: Int): String =
          s"""rr$sk AS (SELECT s.query_id, s.node, row_number() OVER (
             |      PARTITION BY s.query_id
             |      ORDER BY ${l2dAt("qq.qv", 0, "nv.v", Dim)} ASC,
             |        s.node) AS rn
             |  FROM short s JOIN qq ON qq.query_id = s.query_id
             |  JOIN vv nv ON nv.vec_id = s.node
             |  WHERE s.rn <= $sk)""".stripMargin
        Some(s"""WITH ${ivfPqCtesOn(
            coarseCtesOn("TRUE", nlSql("vv")), npcSql("vv", "c2"))},
          |${Seq(5, 10, 20, ShortK).map(rrkAt).mkString(",\n")},
          |bf AS MATERIALIZED (SELECT query_id, node FROM (
          |  SELECT qq.query_id, z.vec_id AS node, row_number() OVER (
          |      PARTITION BY qq.query_id
          |      ORDER BY ${l2dAt("qq.qv", 0, "z.v", Dim)} ASC,
          |        z.vec_id) AS rn
          |  FROM qq JOIN vv z ON z.vec_id <> qq.query_id)
          |  WHERE rn <= $TopK)
          |SELECT family, n_queries, denom, hits, recall_ppm, depth
          |FROM (
          |${Seq(5, 10, 20, ShortK).map(rowAt)
            .mkString("\nUNION ALL\n")})
          |ORDER BY depth""".stripMargin)
      })
  )
}
