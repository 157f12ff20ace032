package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (BASELINE north star:
  * ANN over `Array[Float]`).
  *
  * Three paths:
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small)
  *    query set against the corpus scan, one cosine per (query, row),
  *    per-query top-k window. One corpus pass, no corpus shuffle; at
  *    100 TB the cost is the scan itself, which is optimal for exact
  *    search.
  *  - [[hyperplaneBucket]]/[[annTopK]] — the scale path: random
  *    hyperplane LSH. Each vector gets a `planes`-bit bucket id
  *    (sign pattern of plane dot products); queries probe their own
  *    bucket, shrinking candidates ~2^planes-fold. Bucketing is a
  *    projection (no shuffle); the probe is an equi-join on bucket —
  *    co-partitioned, AQE-balanced. Recall tuning = fewer planes or
  *    more probes (flip the least-confident bits), both
  *    deterministic.
  *  - [[insertIntoCells]]/[[annTopKIvf]] — IVF: [[kmAssign]] stores
  *    each vector's nearest centroid cell in the index once; queries
  *    probe their `probes` nearest cells. The probe count is a
  *    parameter of the one serve, not a separate operator.
  *
  * Determinism: all float math is cast to DOUBLE and reduced strictly
  * left-to-right (`aggregate`), so scores are bit-identical across
  * engines/partitionings; planes come from a fixed seed and are
  * interpolated verbatim into the DuckDB oracle.
  */
object Similarity {

  /** Strict left-to-right double dot product of two float arrays —
    * the PORTABLE formulation (higher-order functions only), kept as
    * the cross-engine reference semantics.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm guard: 0/0 would be NaN, and NaN sorts ABOVE every real
    * double in Spark's descending window order — a degenerate all-zero
    * vector would occupy rank 1 of every top-k. Defined similarity of
    * a zero vector is 0.
    */
  private def guarded(dotAB: Column, normProd: Column): Column =
    when(normProd === 0.0d, lit(0.0d)).otherwise(dotAB / normProd)

  def cosine(a: Column, b: Column): Column =
    guarded(dot(a, b), norm(a) * norm(b))

  /** The production cosine: [[graft.expressions.DotProductF]], a
    * native codegen expression proven bit-identical to [[dot]]
    * (VectorExpressionsSpec) and ~6× faster on the brute-force pair
    * loop (DotBench: 2.15s → 0.33s over 2.5M 64-dim pairs). The
    * oracle-gated queries run THIS path.
    */
  def cosineNative(a: Column, b: Column): Column = {
    import graft.expressions.VectorExpressions.dotF
    guarded(dotF(a, b), sqrt(dotF(a, a)) * sqrt(dotF(b, b)))
  }

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small (it is broadcast); `corpus` streams. Self-matches excluded.
    * The cosine instance of [[TopK.exact]].
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    TopK.exact(queries, corpus, idCol, vecCol, cosineNative, _.desc, k)
      .withColumnRenamed("score", "cosine")

  /** Cosine-rank an ANN probe's candidate pairs (query_id, qvec,
    * neighbor_id, nvec, …): (query_id, rn, neighbor_id, cosine).
    */
  private def cosineTopK(cands: DataFrame, k: Int): DataFrame =
    TopK.rank(cands.withColumn("cos", cosineNative(col("qvec"), col("nvec"))),
        "query_id", col("cos").desc, "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        col("cos").as("cosine"))

  /** Deterministic random hyperplanes (fixed seed), `planes` × `dim`. */
  def hyperplanes(planes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(77L)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: bit j = sign of the dot product with plane j —
    * native dot (bit-identical to the portable fold, so the
    * interpolated-plane oracles are unaffected).
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeLit = array(p.map(lit): _*)
      when(graft.expressions.VectorExpressions.dotF(vec, planeLit) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Independent plane sets for multi-table LSH: recall over random
    * corpora needs L tables (candidate if buckets match in ANY table),
    * because a single sign-pattern probe keeps only ~p^planes of true
    * neighbors (p = 1 - angle/pi). L tables lift recall to
    * 1-(1-p^b)^L at the cost of L bucketings — all still shuffle-free
    * projections.
    */
  def hyperplaneTables(tables: Int, planesPerTable: Int, dim: Int)
      : Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(770L)
    Seq.fill(tables)(Seq.fill(planesPerTable)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** Multi-table ANN top-k: a candidate matches if it shares a bucket
    * in ANY table; candidates are deduped before scoring so each
    * (query, neighbor) cosine is computed once.
    */
  def annTopKMultiTable(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, tables: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          explode(array(tables.zipWithIndex.map { case (planes, t) =>
            struct(lit(t).as("t"), hyperplaneBucket(col(vecCol), planes).as("b"))
          }: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.t").as("t"), col("tb.b").as("b"))
    val q = bucketed(queries, "query_id", "qvec")
    val c = bucketed(corpus, "neighbor_id", "nvec")
    val cands = TopK.probe(c, q.select(col("query_id"), col("t"), col("b")),
        "t", "b")
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    cosineTopK(cands
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"))), Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("nvec")), Seq("neighbor_id")), k)
  }

  /** Nearest-centroid id over (id, centroid) pairs — native kernel
    * ([[graft.expressions.NearestCells]]): the centroid matrix rides
    * as an instance field and the argmax is a plain loop, so the
    * expression stays one virtual call at ANY nlist. The literal
    * struct-array form below is kept as the definitional tree the
    * oracles replay and the spec pins the kernel against — it stops
    * being buildable at the nlist the q501 policy targets (⌊√n⌋ →
    * thousands of inlined literal structs; the q483 disease, one
    * layer down). Deterministic tiebreak: equal scores pick the
    * higher cell id. The one nearest-cell assignment: the index
    * build, the k-means trainer and the streaming cell statistics all
    * call it.
    */
  def kmAssign(vec: Column, cents: Seq[(Int, Seq[Double])]): Column =
    graft.expressions.IvfExpressions.nearestCells(vec, cents, 1).getItem(0)

  /** DEFINITIONAL argmax tree (spec/oracle reference only). NULL
    * input vector ⇒ NULL cell — the guard makes the tree share the
    * native kernel's null-intolerant contract (the bare array_max
    * would compare all-null scores and fall through to the highest
    * id); IvfExpressionsSpec pins the agreement on a null row.
    */
  private[graft] def assignCellPortable(vec: Column,
      cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = array(cents.map { case (i, c) =>
      struct(cosineNative(vec, array(c.map(lit): _*)).as("s"), lit(i).as("i"))
    }: _*)
    when(vec.isNull, lit(null).cast("int"))
      .otherwise(array_max(scored).getField("i"))
  }

  /** Fixed-point quantization scale for k-means accumulation: element
    * sums are over `floor(x * KmQ)` longs — exact and ORDER-FREE, so
    * the refined centroid is identical for every partitioning/engine
    * (a raw double sum is order-dependent and can't be oracle-gated).
    * 2^20 keeps unit-scale embeddings to ~1e-6 quantization error
    * while bounding a 100 TB cell sum far below 2^63.
    */
  val KmQ: Double = 1048576.0

  private def kmAggs(vecCol: String, dim: Int) =
    count(lit(1)).as("n") +: (0 until dim).map(d =>
      sum(floor((element_at(col(vecCol), d + 1)) * KmQ)).as(s"s$d"))

  /** The k-means accumulation surface, public for STREAMING use: the
    * quantized per-dimension sums are plain associative aggregates,
    * so a Complete-mode streaming groupBy(cell) maintains the exact
    * same cell statistics a batch pass computes — one trainer
    * definition, two execution modes (q306). [[kmAssign]] is the
    * cosine-argmax cell id; `kmCellAggs` the (n, s0..s{d-1}) sums;
    * `kmCentroidsFromGrid` the closing readout (cell, n_members,
    * centroid).
    */
  def kmCellAggs(vecCol: String, dim: Int): Seq[Column] =
    kmAggs(vecCol, dim)

  def kmCentroidsFromGrid(grid: DataFrame, dim: Int): DataFrame =
    grid.select(col("cell").cast("long").as("cell"),
      col("n").as("n_members"),
      array((0 until dim).map(d =>
        col(s"s$d").cast("double") / (col("n").cast("double") * KmQ)): _*)
        .as("centroid"))

  /** One-or-more Lloyd iterations of spherical k-means (cosine
    * assignment — the IVF-flat trainer for [[annTopKIvf]]'s coarse
    * quantizer). Per iteration: one corpus pass assigns cells inside
    * the scan (no shuffle), one partial-agg shuffle of k rows refines
    * them; only the k refined centroids ever reach the driver (k =
    * nlist is a parameter, never data-sized — the standard Lloyd
    * shape). Cells with no members are DROPPED (the quantizer shrinks
    * rather than carrying dead cells), so `init` ids survive in the
    * result keys. Deterministic end-to-end: quantized long sums (see
    * [[KmQ]]), one double division per coordinate, and the
    * higher-cell-id tiebreak in [[kmAssign]].
    */
  def kmeansIterate(corpus: DataFrame, vecCol: String,
      init: Seq[(Int, Seq[Double])], iters: Int): Seq[(Int, Seq[Double])] = {
    require(init.nonEmpty && iters >= 0)
    val dim = init.head._2.size
    var cents = init
    for (_ <- 1 to iters) {
      val aggs = kmAggs(vecCol, dim)
      val rows = corpus
        .select(kmAssign(col(vecCol), cents).as("cell"), col(vecCol))
        .groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
        .collect()
      cents = rows.map { r =>
        val n = r.getLong(1).toDouble
        r.getInt(0) -> (0 until dim).map(d =>
          r.getLong(d + 2).toDouble / (n * KmQ))
      }.sortBy(_._1).toSeq
    }
    cents
  }

  /** The (iters)-th Lloyd refinement as a DataFrame — runs
    * [[kmeansIterate]] for `iters - 1` rounds, then expresses the
    * final assign+refine declaratively: (cell, n_members, centroid).
    * The last round's k-row aggregate stays distributed (it is the
    * query result, not driver state).
    */
  def kmeansSummary(corpus: DataFrame, vecCol: String,
      init: Seq[(Int, Seq[Double])], iters: Int): DataFrame = {
    require(iters >= 1)
    val dim = init.head._2.size
    val cents = kmeansIterate(corpus, vecCol, init, iters - 1)
    val aggs = kmAggs(vecCol, dim)
    corpus
      .select(kmAssign(col(vecCol), cents).as("cell"), col(vecCol))
      .groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .select(col("cell").cast("long").as("cell"),
        col("n").as("n_members"),
        array((0 until dim).map(d =>
          col(s"s$d").cast("double") / (col("n").cast("double") * KmQ)): _*)
          .as("centroid"))
  }

  /** IVF nlist policy (VERDICT r12 item 4 — the
    * [[GraphAnn.numUpperLevels]] analog for the coarse quantizer):
    * nlist = clamp(minCells, cap, ⌊√n⌋). √n is the standard IVF
    * sizing (FAISS guideline: nlist ∈ [√n, 16√n]; Jégou et al. 2011
    * §V sizes the coarse quantizer so cells hold √n-ish members) —
    * it balances the two serve-side costs, probes·(n/nlist) candidate
    * scans vs nlist centroid comparisons, which are equal at √n. A
    * FIXED nlist means unbounded cell scans at 100 TB; this policy is
    * what the trainer gates wire in (q501/q502). Deterministic:
    * ⌊√n⌋ via IEEE sqrt (exact at perfect squares, correctly rounded
    * elsewhere — both engines agree), then clamped.
    */
  def numCells(n: Long, minCells: Int = 4, cap: Int = 65536): Int = {
    require(n >= 0 && minCells >= 1 && cap >= minCells)
    math.min(cap.toLong,
      math.max(minCells.toLong, math.sqrt(n.toDouble).toLong)).toInt
  }

  /** Probe-count policy paired with [[numCells]]: nprobe =
    * min(nlist, max(minProbes, ⌈nlist/8⌉)) — probes grow with the
    * cell count so recall holds as the quantizer subdivides (a fixed
    * nprobe over a growing nlist probes a vanishing corpus fraction).
    */
  def numProbes(nlist: Int, minProbes: Int = 3): Int = {
    require(nlist >= 1 && minProbes >= 1)
    math.min(nlist, math.max(minProbes, (nlist + 7) / 8))
  }

  /** Selectivity-aware probe widening for FILTERED IVF serves: a
    * predicate keeping `allowed` of `total` index rows thins every
    * cell's candidate list by the same factor, so a fixed nprobe
    * sees ~nprobe·allowed/nlist·total⁻¹ of the allowed set — recall
    * collapses at selective filters (the q475 problem, IVF side).
    * Widen to ⌈probes·total/allowed⌉ cells (integer ceil — exact in
    * both engines), capped at nlist and floored at the unfiltered
    * probe count. At high selectivity this degenerates to probing
    * every cell, which is CORRECT at scale: the scan is still
    * DV/predicate-filtered to the allowed rows, so the work is
    * selectivity-bounded, never corpus-bounded — the q478
    * cardinality-switch argument applied to the probe list.
    */
  def probesForSelectivity(probes: Int, nlist: Int, allowed: Long,
      total: Long): Int = {
    require(probes >= 1 && nlist >= 1 && total > 0 &&
      allowed >= 0 && allowed <= total)
    val base = math.min(probes, nlist)
    if (allowed == 0) base
    else math.max(
      math.min(nlist.toLong,
        (probes.toLong * total + allowed - 1) / allowed),
      base.toLong).toInt
  }

  /** The IVF index build: each row keeps its id and vector and gains
    * its nearest cell (one scan-speed [[kmAssign]] argmax against the
    * literal centroids, no join, no shuffle). Output: (idCol, vecCol,
    * cell), ready to persist (`write.partitionBy("cell")` prunes a
    * serve to the probed cell directories) or to union with a stored
    * index. Run over the whole corpus it builds the index; run over
    * new rows it is the INSERT half of the q457/q458-style lifecycle
    * for the IVF family — rows join their nearest EXISTING cell and
    * the quantizer does NOT retrain. At 100 TB that is the only
    * affordable steady-state path — retraining is a corpus pass,
    * inserting is a batch pass; [[cellDriftAudit]] decides WHEN the
    * corpus pass is due.
    */
  def insertIntoCells(rows: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    rows.select(col(idCol), col(vecCol),
      kmAssign(col(vecCol), cents).as("cell"))

  /** IVF ANN top-k over a cell-assigned index (`idCol`, `vecCol`,
    * `cellCol` — [[insertIntoCells]] writes it at build/insert time;
    * the serve never recomputes a corpus cell). Each query probes its
    * `probes` nearest cells ([[assignCells]]: best first, probe 1 is
    * the query's own [[kmAssign]] cell), so a query scans ≈
    * probes/nlist of the corpus through one cell equi-join, never
    * all-pairs. `probes = 1` is single-cell IVF and trades recall
    * exactly like single-probe LSH; each extra probe recovers the
    * true neighbors assigned to a runner-up cell at one more cell's
    * candidate cost. Index rows hold one cell each, so every
    * (query, neighbor) pair arises at most once — no dedup. Same
    * output as [[bruteForceTopK]]; rows are missing where the probed
    * cells hold fewer than k candidates.
    */
  def annTopKIvf(queries: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, cellCol: String, cents: Seq[(Int, Seq[Double])],
      k: Int, probes: Int): DataFrame = {
    require(probes >= 1 && probes <= cents.size)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      explode(assignCells(col(vecCol), cents, probes)).as("cell"))
    val c = index.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nvec"), col(cellCol).as("cell"))
    cosineTopK(TopK.probe(c, q, "cell"), k)
  }

  /** LSH ANN top-k: each query probes its own bucket plus the
    * `probes - 1` buckets obtained by flipping the LEAST-CONFIDENT
    * plane bits — the planes whose |dot| is smallest are the ones most
    * likely to have split a true neighbor pair (Lv et al.,
    * "Multi-Probe LSH"). Flip order is deterministic: |dot| asc, then
    * plane index asc. `probes = 1` probes only the own bucket. Corpus
    * rows keep their single bucket and probe buckets are distinct
    * (each flip changes exactly one bit), so no (query, neighbor)
    * dedup is needed. Same output as [[bruteForceTopK]]; rows are
    * missing where the probed buckets hold fewer than k candidates —
    * the recall/latency trade.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, planes: Seq[Seq[Double]], k: Int,
      probes: Int): DataFrame = {
    require(probes >= 1 && probes <= planes.size + 1)
    import graft.expressions.VectorExpressions.dotF
    val conf = array(planes.zipWithIndex.map { case (p, j) =>
      struct(abs(dotF(col(vecCol), array(p.map(lit): _*))).as("a"),
        lit(j).as("j"))
    }: _*)
    val qb = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"),
      hyperplaneBucket(col(vecCol), planes).as("own"), conf.as("conf"))
    val q = qb.select(col("query_id"), col("qvec"),
      explode(concat(array(col("own")),
        transform(slice(array_sort(col("conf")), 1, probes - 1),
          s => col("own").bitwiseXOR(
            call_function("shiftleft", lit(1L), s.getField("j"))))))
        .as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    cosineTopK(TopK.probe(c, q, "bucket"), k)
  }

  /** Quantizer-drift audit — the RETRAIN trigger of the incremental
    * IVF lifecycle: per cell, how well the frozen centroids still fit
    * the inserted population vs the population they were trained on.
    * Fit is the assignment cosine in shifted fixed point
    * (⌊(cos+1)·10⁶⌋ ∈ [0, 2·10⁶] — non-negative, so the integer mean
    * is engine-exact), means are integral divisions of long sums, and
    * `drift_ppm = base_fit − insert_fit` (positive = inserts fit
    * WORSE). `retrain` flags cells whose drift exceeds the threshold;
    * ANY flagged cell is the cue to schedule the full retrain pass.
    * One keyed partial agg over base ∪ inserts — at 100 TB the audit
    * rides the insert batch's scan; only nlist rows ever aggregate.
    */
  def cellDriftAudit(base: DataFrame, inserted: DataFrame,
      idCol: String, vecCol: String, cents: Seq[(Int, Seq[Double])],
      driftPpmThreshold: Long): DataFrame =
    cellDriftFromStats(
      cellFitStats(base, vecCol, cents),
      cellFitStats(inserted, vecCol, cents), driftPpmThreshold)

  /** Per-cell fit statistics — the audit's PARTIAL-aggregate form:
    * (cell, n, fit_sum) where fit_sum is the exact long sum of
    * ⌊(cos+1)·10⁶⌋ row fits. Associative and order-free, so stats
    * from any batch split combine by summing per cell — a STREAMING
    * ingest maintains the audit with nlist rows of state per batch
    * (q513), and [[cellDriftFromStats]] closes the readout. At 100 TB
    * the stats ride each insert batch's own scan; no corpus pass.
    */
  def cellFitStats(src: DataFrame, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = src
    .withColumn("cell", kmAssign(col(vecCol), cents))
    .select(col("cell"),
      floor((cosineNative(col(vecCol), centOf(col("cell"), cents)) +
        1.0d) * 1000000.0d).cast("long").as("fit_ppm"))
    .groupBy(col("cell"))
    .agg(count(lit(1)).as("n"), sum(col("fit_ppm")).as("fit_sum"))

  /** Combine two [[cellFitStats]] frames (cell, n, fit_sum) by
    * per-cell sum — the associative merge a streaming accumulator
    * applies per micro-batch.
    */
  def combineFitStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("cell"))
      .agg(sum(col("n")).as("n"), sum(col("fit_sum")).as("fit_sum"))

  /** The drift readout over base/insert fit statistics — integral
    * means of long sums, drift = base − insert, retrain per cell.
    * Cells seen by only one side carry zero counts on the other
    * (full-outer semantics, matching the single-pass union form this
    * refactors bit-for-bit).
    */
  def cellDriftFromStats(baseStats: DataFrame, insertStats: DataFrame,
      driftPpmThreshold: Long): DataFrame = {
    import graft.functions.FixedPoint.idiv
    baseStats.select(col("cell"), col("n").as("__nb"),
        col("fit_sum").as("__sb"))
      .join(insertStats.select(col("cell"), col("n").as("__ni"),
        col("fit_sum").as("__si")), Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("__nb"), lit(0L)).as("n_base"),
        coalesce(col("__ni"), lit(0L)).as("n_inserted"),
        coalesce(col("__sb"), lit(0L)).as("__sb"),
        coalesce(col("__si"), lit(0L)).as("__si"))
      .withColumn("base_fit_ppm",
        when(col("n_base") > 0, idiv(col("__sb"), col("n_base")))
          .otherwise(lit(0L)))
      .withColumn("insert_fit_ppm",
        when(col("n_inserted") > 0, idiv(col("__si"), col("n_inserted")))
          .otherwise(lit(0L)))
      // a cell with no inserts (or no base members) has no drift
      // EVIDENCE — it never triggers a retrain on its own
      .withColumn("drift_ppm",
        when(col("n_base") > 0 && col("n_inserted") > 0,
          col("base_fit_ppm") - col("insert_fit_ppm")).otherwise(lit(0L)))
      .withColumn("retrain", col("drift_ppm") > driftPpmThreshold)
      .select(col("cell").cast("long").as("cell"), col("n_base"),
        col("n_inserted"), col("base_fit_ppm"), col("insert_fit_ppm"),
        col("drift_ppm"), col("retrain"))
  }

  /** Hard-negative mining (Karpukhin et al. 2020 DPR; Xiong et al.
    * 2021 ANCE): from an ANN serve's ranked candidate list, drop the
    * labeled positives and re-rank what remains — the near-misses
    * that look most like positives are the gradient-rich negatives a
    * retrieval trainer wants. `served` is any (query_id, neighbor_id,
    * scoreCol, …) frame (an ANN serve's output — at 100 TB the whole
    * point is that candidates come from the INDEX, ~k rows per query,
    * never a corpus scan); `positives` is the labeled
    * (query_id, neighbor_id) pairs. Anti-join + per-query re-rank of
    * k-bounded lists; ties to the smaller neighbor id.
    */
  def hardNegatives(served: DataFrame, positives: DataFrame,
      scoreCol: String, m: Int): DataFrame = {
    val unlabeled = served
      .join(positives.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
    TopK.rank(unlabeled, "query_id", col(scoreCol).desc, "neighbor_id", m)
      .select(col("query_id"), col("rn").as("negative_rank"),
        col("neighbor_id"), col(scoreCol))
  }

  /** Top-`probes` nearest cells for a query vector, best first —
    * the multi-probe assignment, on the same native kernel as
    * [[kmAssign]]. Order is (score desc, cell desc), the reversed
    * array_sort of [[assignCellsPortable]] — probe 1 is exactly the
    * [[kmAssign]] cell, and the ordering is deterministic on ties.
    */
  private def assignCells(vec: Column, cents: Seq[(Int, Seq[Double])],
      probes: Int): Column =
    graft.expressions.IvfExpressions.nearestCells(vec, cents, probes)

  /** DEFINITIONAL probe-list tree (spec/oracle reference only). NULL
    * input vector ⇒ NULL list — same null guard as
    * [[assignCellPortable]], matching [[graft.expressions.NearestCells]].
    */
  private[graft] def assignCellsPortable(vec: Column,
      cents: Seq[(Int, Seq[Double])], probes: Int): Column = {
    val scored = array(cents.map { case (i, c) =>
      struct(cosineNative(vec, array(c.map(lit): _*)).as("s"), lit(i).as("i"))
    }: _*)
    when(vec.isNull, lit(null).cast("array<int>"))
      .otherwise(transform(slice(reverse(array_sort(scored)), 1, probes),
        s => s.getField("i")))
  }

  /** Top principal direction of the (uncentered) embedding
    * second-moment matrix by POWER ITERATION — the first step of
    * embedding whitening / spectral compression, as an oracle-gateable
    * distributed trainer. Per round: one corpus pass computes
    * `dt = x·v` inside the scan (native dot), one partial agg reduces
    * the 64 quantized component sums `Σ floor(x_d · dt · KmQ)`
    * (integer-valued doubles below 2^53 sum EXACTLY in any order —
    * the q84 k-means discipline), and only the dim-sized vector
    * reaches the driver. Normalization is a fixed left-to-right fold,
    * so every round — and therefore the whole trainer — is
    * bit-reproducible in a SQL oracle.
    */
  def powerIterationTop(corpus: DataFrame, vecCol: String,
      v0: Seq[Double], iters: Int): Seq[Double] = {
    require(v0.nonEmpty && iters >= 0)
    val dim = v0.size
    var v = v0
    for (_ <- 1 to iters) {
      val scored = corpus.select(col(vecCol),
        graft.expressions.VectorExpressions.dotF(col(vecCol),
          array(v.map(lit): _*)).as("dt"))
      val aggs = (0 until dim).map(d =>
        sum(floor(element_at(col(vecCol), d + 1).cast("double") *
          col("dt") * KmQ)).as(s"s$d"))
      val r = scored.agg(aggs.head, aggs.tail: _*).collect()(0)
      val w = (0 until dim).map(d => r.getLong(d).toDouble / KmQ)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = if (nrm == 0) v else w.map(_ / nrm)
    }
    v
  }

  /** The `iters`-th power-iteration refinement as a DataFrame — runs
    * [[powerIterationTop]] for `iters - 1` rounds, then expresses the
    * final pass declaratively: (dim_idx, s, value) where `s` is the
    * exact quantized component sum and `value` the normalized
    * component (the k-means [[kmeansSummary]] shape).
    */
  def powerIterationSummary(corpus: DataFrame, vecCol: String,
      v0: Seq[Double], iters: Int): DataFrame = {
    require(iters >= 1)
    val dim = v0.size
    val vPrev = powerIterationTop(corpus, vecCol, v0, iters - 1)
    val scored = corpus.select(col(vecCol),
      graft.expressions.VectorExpressions.dotF(col(vecCol),
        array(vPrev.map(lit): _*)).as("dt"))
    val aggs = (0 until dim).map(d =>
      sum(floor(element_at(col(vecCol), d + 1).cast("double") *
        col("dt") * KmQ)).as(s"s$d"))
    val g = scored.agg(aggs.head, aggs.tail: _*)
    val nrm = sqrt((0 until dim).map(d =>
      (col(s"s$d") / KmQ) * (col(s"s$d") / KmQ)).reduce(_ + _))
    g.select(nrm.as("nrm"),
        posexplode(array((0 until dim).map(d => col(s"s$d")): _*))
          .as(Seq("dim_idx", "s")))
      .select(col("dim_idx"), col("s"),
        ((col("s") / KmQ) / col("nrm")).as("value"))
  }

  /** IVF ANN over an INT8-QUANTIZED corpus — the 4×-compressed serving
    * path that [[quantizeInt8]] exists for. Coarse cells are assigned
    * on the full-precision vectors (standard IVF-PQ discipline: the
    * quantizer only compresses the scoring payload, not the routing);
    * scoring is `(scale_q · scale_c) · Σ q_i·c_i` — the integer dot is
    * EXACT (|q|≤127 ⇒ a 64-dim sum < 2^21, nowhere near Long range)
    * and the scale product is two IEEE multiplies in a fixed
    * parenthesization, so the whole ranking is bit-stable and
    * oracle-gateable. Output carries the integer dot (`idot`)
    * alongside the score: the gate pins the exact integer path, not
    * just the rounded ranking.
    */
  def annTopKIvfInt8(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, cents: Seq[(Int, Seq[Double])], k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) = {
      val z = quantizeInt8(col(vecCol))
      df.select(col(idCol).as(id),
        kmAssign(col(vecCol), cents).as("cell"),
        z.getField("scale").as(s"${id}_scale"),
        z.getField("q").as(s"${id}_q"))
    }
    val q = prep(queries, "query_id")
    val c = prep(corpus, "neighbor_id")
    // native integer dot (codegen loop) — exactly equal to the
    // portable aggregate(zip_with) fold on null-free arrays
    // (VectorExpressionsSpec), which is what quantizeInt8 emits
    val idot = graft.expressions.VectorExpressions.dotI(
      col("query_id_q"), col("neighbor_id_q"))
    val scored = TopK.probe(c, q, "cell")
      .withColumn("idot", idot)
      .withColumn("score",
        (col("query_id_scale") * col("neighbor_id_scale")) *
          col("idot").cast("double"))
    TopK.rank(scored, "query_id", col("score").desc, "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("idot"),
        col("score"))
  }

  /** Symmetric int8 quantization of an embedding vector — the 4×
    * memory-layout compression before int8 ANN serving. Per-vector
    * scale = max|v|/127; q_i = trunc(v_i/scale) ∈ [-127, 127]; zero
    * vectors keep scale 0 and quantize to all zeros. Pure projection
    * at scan speed. Deterministic across engines: floats widen to
    * double exactly, each divide is one correctly-rounded IEEE op,
    * and truncation-toward-zero is mirrored explicitly (Spark's
    * double→int cast truncates; SQL oracles must use trunc(), not a
    * rounding CAST). Returns struct(scale, q).
    */
  def quantizeInt8(vec: Column): Column = {
    val maxabs = array_max(transform(vec, v => abs(v.cast("double"))))
    val scale = maxabs / 127.0
    struct(
      scale.as("scale"),
      when(maxabs === 0.0d, transform(vec, _ => lit(0)))
        .otherwise(transform(vec,
          v => (v.cast("double") / scale).cast("int"))).as("q"))
  }

  /** Per-label embedding-space QA: the label's quantized-sum centroid
    * (the [[kmeansSummary]] accumulation — deterministic long sums,
    * no float partial-agg order) and each member's cosine to it,
    * summarized as integer ppm — n_vecs, Σ⌊cos·1e6⌋ and the minimum
    * (the class's worst member / mislabel candidate). The class-
    * compactness report run before training a classifier or probing
    * an embedding space.
    *
    * One label-keyed partial agg for centroids (labels × dim bounded),
    * one broadcast join back, one label-keyed summary agg.
    */
  def labelCentroidSpread(corpus: DataFrame, labelCol: String,
      vecCol: String, dim: Int): DataFrame = {
    val aggs = kmAggs(vecCol, dim)
    val cents = corpus.select(col(labelCol).as("__lbl"), col(vecCol))
      .groupBy(col("__lbl")).agg(aggs.head, aggs.tail: _*)
      .select(col("__lbl"),
        array((0 until dim).map(d =>
          col(s"s$d").cast("double") / (col("n").cast("double") * KmQ)): _*)
          .as("__cv"))
    corpus.select(col(labelCol).as("__lbl"), col(vecCol))
      .join(broadcast(cents), Seq("__lbl"))
      .select(col("__lbl"),
        floor(cosineNative(col(vecCol), col("__cv")) * 1000000)
          .cast("long").as("__cp"))
      .groupBy(col("__lbl"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__cp")).as("cos_ppm_sum"),
        min(col("__cp")).as("min_cos_ppm"))
      .select(col("__lbl").as("label"), col("n_vecs"),
        col("cos_ppm_sum"), col("min_cos_ppm"))
  }

  /** Recall@k of an ANN result against the exact top-k ground truth —
    * the evaluation every approximate index must publish before it
    * replaces a brute-force path. Both inputs are (queryCol,
    * neighborCol, …) top-k frames; output is one row per query:
    * n_hits = |ann ∩ exact| and recall_ppm = ⌊1e6·n_hits/k⌋, plus the
    * queries the ANN missed entirely (n_hits = 0 rows stay present
    * because the ground-truth side drives the join).
    *
    * One (query, neighbor)-keyed join between two k-bounded frames —
    * at 100 TB the frames are |queries|·k rows, never corpus-sized.
    */
  def recallAtK(ann: DataFrame, exact: DataFrame, queryCol: String,
      neighborCol: String, k: Int): DataFrame = {
    require(k >= 1)
    exact.select(col(queryCol), col(neighborCol))
      .join(ann.select(col(queryCol), col(neighborCol))
        .withColumn("__hit", lit(1L)),
        Seq(queryCol, neighborCol), "left")
      .groupBy(col(queryCol))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm", expr(s"(1000000 * n_hits) div $k"))
  }

  /** MRR@k — the retrieval-eval readout [[recallAtK]] doesn't give:
    * WHERE in the system's list the true answer sits. Per query, the
    * rank of the TRUE nearest neighbor (the exact top-1) inside the
    * approximate top-k list; reciprocal rank in exact ppm
    * (1000000 div rank, 0 on a miss). `hit` is the hit@k bit. Both
    * inputs are the (query_id, rn, neighbor_id) frames the ANN
    * operators emit — the join is between two k-bounded frames, so
    * the evaluation costs |queries| rows regardless of corpus size.
    */
  def mrrAtK(ann: DataFrame, exact: DataFrame): DataFrame = {
    val truth = exact.filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val sys = ann.select(col("query_id"),
      col("neighbor_id").as("true_nn"), col("rn").as("sys_rank"))
    truth.join(sys, Seq("query_id", "true_nn"), "left")
      .select(col("query_id"), col("true_nn"), col("sys_rank"),
        coalesce(expr("1000000L div sys_rank"), lit(0L)).as("rr_ppm"),
        col("sys_rank").isNotNull.as("hit"))
  }

  /** Overlap curve — [[recallAtK]] generalized across depths: for each
    * query and every depth d ≤ k, |ann top-d ∩ exact top-d|. The
    * curve shows WHERE an approximate index loses ground (rank-1
    * misses vs tail churn), which a single recall@k number hides.
    * Queries the ANN missed entirely still appear (0 at every depth).
    *
    * One (query, neighbor) join between two k-bounded frames, a k-fold
    * depth explode of the matches, one partial agg — |queries|·k
    * output rows, never corpus-sized.
    */
  def overlapCurve(ann: DataFrame, exact: DataFrame, queryCol: String,
      neighborCol: String, rankCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val a = ann.select(col(queryCol), col(neighborCol),
      col(rankCol).as("__ra"))
    val x = exact.select(col(queryCol), col(neighborCol),
      col(rankCol).as("__re"))
    val matched = x.join(a, Seq(queryCol, neighborCol))
    val grid = exact.select(col(queryCol)).distinct()
      .select(col(queryCol),
        explode(sequence(lit(1), lit(k))).as("depth"))
    val counts = matched
      .select(col(queryCol),
        explode(sequence(lit(1), lit(k))).as("depth"),
        col("__ra"), col("__re"))
      .filter(col("__ra") <= col("depth") && col("__re") <= col("depth"))
      .groupBy(col(queryCol), col("depth"))
      .agg(count(lit(1)).as("__n"))
    grid.join(counts, Seq(queryCol, "depth"), "left")
      .select(col(queryCol), col("depth").cast("long").as("depth"),
        coalesce(col("__n"), lit(0L)).as("n_overlap"))
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the k most similar corpus items with a DIFFERENT label — the
    * near-misses that carry the gradient signal random negatives
    * ([[graft.operators.Corpus.negativeSample]]) don't. Same broadcast
    * nested-loop shape as [[bruteForceTopK]] (the documented exact
    * baseline; the ANN variants are the scale route — swap the scored
    * frame for an [[annTopK]]/[[annTopKIvf]] probe with a label
    * filter). The label rides with the vector through [[TopK.pairs]],
    * and the different-label predicate filters the pairs before
    * ranking.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    def labelled(df: DataFrame) = df.select(col(idCol),
      struct(col(vecCol).as("v"), col(labelCol).as("l")).as("__vl"))
    val scored = TopK.pairs(labelled(queries), labelled(corpus), idCol,
        "__vl", (q, n) => cosineNative(q.getField("v"), n.getField("v")))
      .filter(col("qval.l") =!= col("nval.l"))
    TopK.rank(scored, "query_id", col("score").desc, "neighbor_id", k)
      .select(col("query_id"), col("qval.l").as("q_label"), col("rn"),
        col("neighbor_id"), col("nval.l").as("n_label"),
        col("score").as("cosine"))
  }

  /** Corpus diversity as the SUM OF ALL PAIRWISE Hamming distances
    * over sign-binarized embeddings — computed in closed form from
    * per-dimension sign counts: Σ_pairs hamming = Σ_d n⁺_d·(n−n⁺_d),
    * because a dimension contributes exactly one disagreement per
    * (positive, non-positive) pair. O(n·d) — one explode + one
    * dim-keyed partial agg — where the definitional form is O(n²·d);
    * the identity is what makes a diversity audit runnable on the
    * full corpus instead of a sample. Sign convention matches
    * [[binarizeSign]] (strictly positive = 1, nulls read 0).
    *
    * Returns one row: (n_vecs, n_dims, sum_hamming,
    * mean_hamming_milli) with the mean over the C(n,2) pairs in
    * exact integer milli units.
    */
  def signDiversity(corpus: DataFrame, vecCol: String): DataFrame = {
    val dims = corpus
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("__n"),
        sum(when(coalesce(col("x"), lit(0f)) > 0f, 1L).otherwise(0L))
          .as("__pos"))
    dims.agg(max(col("__n")).as("n_vecs"),
        count(lit(1)).as("n_dims"),
        sum(col("__pos") * (col("__n") - col("__pos")))
          .as("sum_hamming"))
      .withColumn("mean_hamming_milli",
        when(col("n_vecs") < 2, lit(0L)).otherwise(
          expr("sum_hamming * 1000L div (n_vecs * (n_vecs - 1) div 2)")))
  }

  /** Bitext mining by the margin criterion (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"): a candidate translation pair (x, y) scores
    *   margin(x, y) = cos(x, y) / ((avgNNₖ(x) + avgNNₖ(y)) / 2),
    * the RATIO of the pair's cosine to the mean of each side's k-NN
    * cosines — which cancels the hubness that makes raw cosine
    * thresholds unusable across languages. Candidates are each source
    * item's k nearest targets; per source the max-margin candidate is
    * emitted, flagged `mutual` when it is also that target's
    * max-margin source (the intersection criterion, the paper's
    * highest-precision variant).
    *
    * Determinism: k-NN lists come from [[bruteForceTopK]] (exact
    * baseline — the ANN paths are the scale route), each side's k-NN
    * mean is a SEQUENTIAL fold over the rank-ordered cosine list
    * (array_sort by rn, then `aggregate` — bit-stable regardless of
    * partitioning, mirrored by `list_reduce` over `list(... ORDER BY
    * rn)` in the oracle), and margin ties break to the smaller id.
    *
    * Scale: both directions reuse the top-k machinery (queries
    * broadcast, corpus streams); the margin join is then k-bounded
    * per item — (item, k) frames joined on id, never all-pairs.
    */
  def bitextMineMargin(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val fwd = bruteForceTopK(src, tgt, idCol, vecCol, k)
    val bwd = bruteForceTopK(tgt, src, idCol, vecCol, k)
    def knnAvg(nn: DataFrame, out: String): DataFrame =
      nn.groupBy(col("query_id"))
        .agg((aggregate(
            array_sort(collect_list(struct(col("rn"), col("cosine")))),
            lit(0.0d), (acc, s) => acc + s.getField("cosine")) /
          count(lit(1))).as(out))
    val ax = knnAvg(fwd, "ax").withColumnRenamed("query_id", "src_id")
    val ay = knnAvg(bwd, "ay").withColumnRenamed("query_id", "tgt_id")
    val cand = fwd.select(col("query_id").as("src_id"),
      col("neighbor_id").as("tgt_id"), col("cosine"))
    val m = cand.join(ax, "src_id").join(ay, "tgt_id")
      .withColumn("margin",
        when(col("ax") + col("ay") === 0.0d, lit(0.0d))
          .otherwise(col("cosine") / ((col("ax") + col("ay")) / lit(2.0d))))
    val wf = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    val wb = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin").desc, col("src_id"))
    m.withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb))
      .filter(col("rf") === 1)
      .select(col("src_id"), col("tgt_id"), col("cosine"),
        col("margin"), (col("rb") === 1).as("mutual"))
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, and within each
    * cluster collapse the members sitting close to the cluster
    * centroid — semantically redundant documents — down to one
    * representative (the minimum id, a deterministic choice where the
    * paper keeps an arbitrary one). Members below the proximity
    * threshold are all kept.
    *
    * The clustering here is the fixed-seed hyperplane LSH partition
    * ([[hyperplaneBucket]] — a scan-time projection, no training
    * pass); swapping in trained IVF cells ([[kmeansIterate]] +
    * [[kmAssign]]) changes only the bucket expression. Centroids use
    * the same order-free quantized accumulation as the k-means
    * trainer ([[KmQ]]), so the whole pipeline is bit-reproducible and
    * SQL-oracle-able.
    *
    * Output: one row per vector — (idCol, bucket, cos_ppm, is_kept),
    * cos_ppm = ⌊cos(v, centroid(bucket))·1e6⌋.
    *
    * Scale: one bucket-keyed partial agg (≤2^planes × dim cells), one
    * broadcast of the centroid frame, one bucket-keyed keeper agg
    * (≤2^planes rows, broadcast back). The corpus is never shuffled —
    * both joins broadcast — but it IS scanned three times (centroid
    * pass, keeper pass, output pass, `scored` being recomputed);
    * persist `scored` when the scan dominates. With data-sized
    * cluster counts (trained IVF) the joins become shuffle joins on
    * bucket and the design still holds.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], dim: Int, thresholdPpm: Long): DataFrame = {
    val b = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__bkt", hyperplaneBucket(col("__v"), planes))
    val aggs = kmAggs("__v", dim)
    val cents = b.groupBy(col("__bkt")).agg(aggs.head, aggs.tail: _*)
      .select(col("__bkt"),
        array((0 until dim).map(d =>
          col(s"s$d").cast("double") / (col("n").cast("double") * KmQ)): _*)
          .as("__cv"))
    val scored = b.join(broadcast(cents), Seq("__bkt"))
      .select(col("__id"), col("__bkt"),
        floor(cosineNative(col("__v"), col("__cv")) * 1000000)
          .cast("long").as("cos_ppm"))
    val keepers = scored.groupBy(col("__bkt"))
      .agg(min(when(col("cos_ppm") >= thresholdPpm, col("__id")))
        .as("__keeper"))
    scored.join(broadcast(keepers), Seq("__bkt"))
      .select(col("__id").as(idCol), col("__bkt").as("bucket"),
        col("cos_ppm"),
        (col("cos_ppm") < thresholdPpm || col("__id") === col("__keeper"))
          .as("is_kept"))
  }

  // ------------------------------------------------------------------
  // Binary (sign-bit) quantization + Hamming search
  // ------------------------------------------------------------------

  /** Sign-bit binarization of an embedding: bit i of word w is set iff
    * element (32w + i) is strictly positive (null and non-positive
    * elements clear the bit, mirroring the oracle's `coalesce(x,0) >
    * 0`). 32 bits per BIGINT word keeps every engine's packing sum in
    * safe positive range — a 64-bit word would need the sign bit and
    * overflow a signed add. 32× compression at pure scan speed: the
    * memory layout that keeps exhaustive search affordable once float
    * vectors no longer fit cluster RAM, and the XOR+popcount distance
    * is integer-exact so even the APPROXIMATE ranking is
    * oracle-gateable. Ref: powerbi queries keep embeddings as float
    * payloads only (reference has no ANN); this is the extension
    * surface's compressed-serving path.
    */
  def binarizeSign(vec: Column, dim: Int): Column = {
    require(dim >= 1, "binarizeSign: dim must be positive")
    val words = (dim + 31) / 32
    array((0 until words).map { w =>
      (0 until math.min(32, dim - 32 * w)).map { i =>
        when(vec.getItem(32 * w + i).cast("double") > 0.0d, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between packed sign codes: Σ popcount(xor) over
    * words — the PORTABLE reference formulation (higher-order
    * functions; integer-exact). The serving path uses the native
    * [[graft.expressions.HammingWords]] codegen loop, spec-asserted
    * identical on null-free arrays.
    */
  def hammingDistance(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)

  /** Exhaustive Hamming top-k over sign-binarized embeddings — the
    * compressed brute-force path: binarization rides both scans, the
    * (tiny) query side broadcasts, and the per-pair cost is
    * words × (XOR + POPCNT) instead of dim multiplies. One corpus
    * pass, no corpus shuffle; ranking is (hdist asc, neighbor_id) so
    * ties are deterministic and the whole result hash-gates.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    def prep(df: DataFrame) =
      df.select(col(idCol), binarizeSign(col(vecCol), dim).as("__w"))
    TopK.exact(prep(queries), prep(corpus), idCol, "__w",
        graft.expressions.VectorExpressions.hammingW, _.asc, k)
      .withColumnRenamed("score", "hdist")
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ): per-subspace codebooks + ADC search
  // ------------------------------------------------------------------

  /** Strict left-to-right squared-L2 fold between a subvector column
    * and a centroid column — the PORTABLE reference for the PQ
    * distance kernel. Null elements read as 0 (the oracle's
    * `coalesce` at the vector definition), and the (x-c)·(x-c)
    * per-element shape plus [0.0]-seeded fold is mirrored verbatim in
    * DuckDB, so distances are bit-identical. Kept as the cross-engine
    * semantics spec; [[l2sq]] is the codegen form used in plans.
    */
  private[operators] def l2sqPortable(sub: Column, cent: Column): Column =
    aggregate(
      zip_with(sub, cent, (x, c) => {
        val xd = coalesce(x.cast("double"), lit(0.0d))
        (xd - c) * (xd - c)
      }),
      lit(0.0d), _ + _)

  /** The native codegen form of [[l2sqPortable]]
    * ([[graft.expressions.L2DistSqF]] — bit-identical, spec-asserted):
    * a primitive double loop instead of two interpreted lambdas per
    * (row, centroid), which is the hot inner product of PQ assignment
    * (k evaluations per subspace per row).
    */
  private def l2sq(sub: Column, cent: Column): Column =
    graft.expressions.VectorExpressions.l2sqF(sub, cent)

  /** Nearest centroid (squared L2) within one subspace; ties to the
    * LOWER cell id via struct ordering (array_min over (d, i)).
    *
    * DEFINITIONAL form only (what the DuckDB oracles replay and what
    * PqExpressionsSpec asserts the native kernel against): unrolled
    * across M subspaces × K cells this tree blows the JVM's 64 KB
    * generated-method limit (VERDICT r12 item 2 — q483 ran
    * INTERPRETED). Production paths use
    * [[graft.expressions.PqExpressions.pqEncode]].
    */
  private[graft] def pqArgminPortable(sub: Column,
      cents: Seq[Seq[Double]]): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(l2sq(sub, array(c.map(lit): _*)).as("d"), lit(i).as("i"))
    }: _*)
    array_min(scored).getField("i")
  }

  /** Definitional ADC distance (the unrolled `reduce(_ + _)` tree the
    * native [[graft.expressions.PqAdcDist]] is spec-pinned against):
    * Σ_m ‖slice(q)_m − codebook_m[code_m]‖², fixed left association.
    */
  private[graft] def pqAdcPortable(q: Column, codes: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val sub = codebooks.head.head.size
    codebooks.indices.map { mi =>
      val qsub = slice(q, mi * sub + 1, sub)
      val cent = element_at(typedLit(codebooks(mi)), codes.getItem(mi) + 1)
      l2sq(qsub, cent)
    }.reduce(_ + _)
  }

  /** One quantized-Lloyd refinement of M per-subspace PQ codebooks
    * from a fixed seed. `init(m)(cell)` is the seed codebook: M
    * subspaces of dim/M coordinates, k cells each. ONE corpus pass:
    * every row assigns all M subvectors inside the scan, explodes M
    * (m, cell, subvector) rows, and a single (m, cell)-keyed partial
    * agg of quantized long sums (see [[KmQ]]) refines all codebooks at
    * once — M·k rows reach the driver, never data-sized. Cells with no
    * members keep their seed (the oracle mirrors with a seed-grid LEFT
    * JOIN + coalesce). Deterministic end-to-end: order-free long sums,
    * one double divide per coordinate, lower-cell tiebreaks.
    */
  def pqTrain(corpus: DataFrame, vecCol: String,
      init: Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    require(init.nonEmpty && init.head.nonEmpty)
    val m = init.size
    val sub = init.head.head.size
    val aggs = count(lit(1)).as("n") +: (0 until sub).map(d =>
      sum(floor(element_at(col("sv"), d + 1).cast("double") * KmQ))
        .as(s"s$d"))
    val rows = corpus
      // native encode ONCE per row; the M struct entries read codes
      // by index instead of re-unrolling M×K argmin trees (64 KB
      // codegen guard — VERDICT r12 item 2)
      .withColumn("__codes",
        graft.expressions.PqExpressions.pqEncode(col(vecCol), init))
      .select(explode(array((0 until m).map { mi =>
        val sv = slice(col(vecCol), mi * sub + 1, sub)
        struct(lit(mi).as("mi"), col("__codes").getItem(mi).as("cell"),
          sv.as("sv"))
      }: _*)).as("a"))
      .select(col("a.mi").as("mi"), col("a.cell").as("cell"),
        col("a.sv").as("sv"))
      .groupBy(col("mi"), col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
    val refined = Array.tabulate(m)(mi => init(mi).toArray)
    rows.foreach { r =>
      val mi = r.getInt(0)
      val cell = r.getInt(1)
      val n = r.getLong(2).toDouble
      refined(mi)(cell) =
        (0 until sub).map(d => r.getLong(d + 3).toDouble / (n * KmQ))
    }
    refined.map(_.toSeq).toSeq
  }

  /** PQ encoding: per subspace, the nearest-centroid code — an
    * array<int> of M codes per vector, computed at scan speed from
    * literal codebooks. dim/M·8-to-⌈log2 k⌉-bit compression; at 100 TB
    * the code table is what ships to the serving tier.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.expressions.PqExpressions.pqEncode(vec, codebooks)

  /** Asymmetric-distance (ADC) top-k: exact query subvectors against
    * PQ-coded corpus rows. The per-pair distance is Σ_m ‖q_m −
    * c_{m,code_m}‖² with the codebook as a broadcast literal lookup
    * (element_at on a typedLit array) — no join against a centroid
    * table, no corpus shuffle; queries broadcast. Term sum is a fixed
    * left-association so the double is engine-identical.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[Seq[Double]]], k: Int)
      : DataFrame = {
    // keeps its own join (no corpus Spread): the TopK.exact shape
    // measured slower on q212/q443 at sf0.1
    val c = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(col(vecCol), codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val adist = graft.expressions.PqExpressions.pqAdc(
      col("qv"), col("codes"), codebooks)
    TopK.rank(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", adist), "query_id", col("adist").asc,
        "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adist"))
  }

  /** Centroid of a runtime cell id against a trained (cell, centroid)
    * list — a when-chain over the nlist-bounded table (cell ids can be
    * sparse after [[kmeansIterate]] drops empty cells, so positional
    * element_at would mis-address).
    */
  private def centOf(cell: Column, cents: Seq[(Int, Seq[Double])]): Column =
    graft.expressions.IvfExpressions.cellCentroid(cell, cents)

  /** DEFINITIONAL when-chain lookup (spec reference only) — grows one
    * nested branch per cell, unusable at policy nlist.
    */
  private[graft] def centOfPortable(cell: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    cents.tail.foldLeft(
      when(cell === cents.head._1, typedLit(cents.head._2))) {
      case (acc, (i, c)) => acc.when(cell === i, typedLit(c))
    }

  /** IVF residuals (the FAISS IVF-PQ encoding input): each vector's
    * coarse cell under the trained quantizer plus the residual
    * r = v − centroid(cell) — the part of the vector the coarse
    * quantizer does NOT explain, which is what PQ should spend its
    * bits on (Jégou et al. 2011 §IV.A: residual energy ≪ vector
    * energy once the coarse quantizer has absorbed the cluster
    * structure, so the same codebook budget quantizes far finer).
    * Pure projection: assignment and subtraction both run against
    * literal centroids inside the scan — no join, no shuffle.
    */
  def ivfResiduals(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val cell = kmAssign(col(vecCol), cents)
    corpus.select(col(idCol), cell.as("cell"),
      zip_with(col(vecCol), centOf(cell, cents), (a, b) => a - b)
        .as("res"))
  }

  /** Residual IVF-PQ ADC top-k — the canonical IVF-PQ serve: each
    * query probes its `probes` nearest coarse cells; PER PROBED CELL
    * the query forms its own residual q − centroid(cell), and
    * candidates (corpus rows coded by [[pqEncode]] over THEIR
    * residuals) score by asymmetric distance Σ_m ‖q_res,m −
    * codebook_m[code_m]‖². Within one cell this approximates the true
    * ‖q − x‖² exactly up to PQ quantization error (the shared
    * centroid cancels: q − x = q_res − x_res), which is why residual
    * PQ beats plain PQ at equal bits.
    *
    * `corpusCoded` is the (id, cell, codes) frame [[ivfPqEncode]]
    * emits — at 100 TB the code table IS the serving index (M bytes
    * per vector), the raw vectors stay in cold storage for the
    * re-rank stage. The probe is a cell equi-join (≈ probes/nlist of
    * the corpus per query, never all-pairs), codebooks ride as
    * broadcast literals (no centroid join), and the ADC sum is a
    * fixed left-association so the double hash-gates. Shortlists
    * feed an exact re-rank (q443's discipline) for production recall.
    */
  def ivfPqAdcTopK(queries: DataFrame, corpusCoded: DataFrame,
      idCol: String, vecCol: String, cents: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[Seq[Double]]], probes: Int, k: Int): DataFrame = {
    require(probes >= 1 && probes <= cents.size)
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"),
        explode(assignCells(col(vecCol), cents, probes)).as("cell"))
      .withColumn("qres",
        zip_with(col("qvec"), centOf(col("cell"), cents), (a, b) => a - b))
      .select(col("query_id"), col("cell"), col("qres"))
    val c = corpusCoded.select(col(idCol).as("neighbor_id"),
      col("cell"), col("codes"))
    val adist = graft.expressions.PqExpressions.pqAdc(
      col("qres"), col("codes"), codebooks)
    TopK.rank(TopK.probe(c, q, "cell").withColumn("adist", adist),
        "query_id", col("adist").asc, "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"), col("adist"))
  }

  /** The IVF-PQ index build: (id, cell, codes) with codes the
    * per-subspace nearest-centroid ids of the RESIDUAL — one
    * scan-speed projection (coarse assign, residual subtract, M
    * argmins, all against literals).
    */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfResiduals(corpus, idCol, vecCol, cents)
      .select(col(idCol), col("cell"),
        pqEncode(col("res"), codebooks).as("codes"))

  /** md5-derived 60-bit hash of a STRING, driver-side — bit-identical
    * to [[graft.operators.GraphAnn.saltedHash60]] (conv(substr(md5,
    * 1,15),16,10)), so sign matrices computed here replay in either
    * engine from the same formula.
    */
  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** Signed Johnson–Lindenstrauss projection for INTEGER code vectors
    * (Achlioptas 2003's ±1 database-friendly JL): y_j = Σ_i s(i,j)·v_i
    * with s(i,j) ∈ {+1, −1} drawn from the shared md5 hash of
    * "i:j‖salt" — no gaussian, no float, so the projected vector is
    * EXACT i64 and hash-gates. Distances scale by outDim in
    * expectation (E‖Sx‖² = outDim·‖x‖²), concentration ~1/√outDim —
    * the dimension-reduction front end for ANN scans: shortlist in
    * outDim dims, re-rank exact (q483's two-stage discipline).
    *
    * The sign matrix is inDim×outDim driver-side longs baked into the
    * expression as adds/subtracts — the projection runs at scan speed
    * with ZERO runtime hashing, and an oracle re-derives every sign
    * from the same md5 formula over literal (i, j) strings.
    */
  def jlProjectInt(vec: Column, inDim: Int, outDim: Int,
      salt: String): Column = {
    require(inDim >= 1 && outDim >= 1)
    array((1 to outDim).map { j =>
      (1 to inDim).map { i =>
        val v = element_at(vec, i).cast("long")
        if (hash60(s"$i:$j$salt") % 2 == 0) v else -v
      }.reduce(_ + _)
    }: _*)
  }

  /** Per-dimension (min, max) ranges for [[sq8Encode]], trained in
    * ONE corpus pass (2·dim min/max aggregates, a 1-row collect) over
    * integral vectors — the SQ8 trainer.
    */
  def sq8Train(corpus: DataFrame, vecCol: String,
      dim: Int): Seq[(Long, Long)] = {
    val aggs = (0 until dim).flatMap(d => Seq(
      min(element_at(col(vecCol), d + 1).cast("long")).as(s"mn$d"),
      max(element_at(col(vecCol), d + 1).cast("long")).as(s"mx$d")))
    val r = corpus.agg(aggs.head, aggs.tail: _*).collect().head
    (0 until dim).map(d => (r.getLong(2 * d), r.getLong(2 * d + 1)))
  }

  /** SQ8 scalar quantization of integral vectors (the FAISS
    * ScalarQuantizer default — the compression tier BEFORE PQ): each
    * dimension maps affinely onto 0..255 by its trained (min, max)
    * range, code = ((x − mn)·255) div max(mx − mn, 1), clamped. All
    * integer, so codes hash-gate; 4× compression at int32 inputs
    * (8× at i64), with far less ranking loss than PQ — the q489 gate
    * pins both on the same fixture. Ranges ride as literals: the
    * encode is a scan-speed projection.
    */
  def sq8Encode(vec: Column, ranges: Seq[(Long, Long)]): Column = {
    import graft.functions.FixedPoint.idiv
    array(ranges.zipWithIndex.map { case ((mn, mx), d) =>
      val span = math.max(mx - mn, 1L)
      val c = idiv((element_at(vec, d + 1).cast("long") - mn) * 255L,
        lit(span))
      greatest(lit(0L), least(lit(255L), c)).cast("int")
    }: _*)
  }

  /** kNN label-agreement screen (confident-learning-lite): each
    * vector's k nearest SAME-BUCKET neighbors (single-probe LSH — the
    * scale path; candidates arise from the bucket equi-self-join,
    * never all-pairs) vote on its label, and low agreement flags the
    * row for review — the standard embedding-space screen for
    * mislabeled or noisy training rows. Vectors alone in their bucket
    * report 0 neighbors (unjudged, not suspect). Counts are integer;
    * `agree_ppm` is integer division; `is_suspect` = strict-minority
    * agreement among ≥2 neighbors.
    */
  def labelAgreement(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, planes: Seq[Seq[Double]], k: Int): DataFrame = {
    require(k >= 1)
    val b = df.select(col(idCol).as("vid"), col(vecCol).as("v"),
      col(labelCol).as("lbl"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val top = TopK.rank(b.as("a")
      .join(b.select(col("vid").as("nid"), col("v").as("nv"),
        col("lbl").as("nlbl"), col("bucket")).as("c"), Seq("bucket"))
      .filter(col("vid") =!= col("nid"))
      .withColumn("cos", cosineNative(col("v"), col("nv"))),
      "vid", col("cos").desc, "nid", k)
    val agg = top.groupBy(col("vid"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("lbl") === col("nlbl"), 1L).otherwise(0L))
          .as("n_agree"))
    df.select(col(idCol).as("vid"), col(labelCol).as("label"))
      .join(agg, Seq("vid"), "left")
      .na.fill(0L, Seq("n_neighbors", "n_agree"))
      .select(col("vid").as(idCol), col("label"), col("n_neighbors"),
        col("n_agree"),
        when(col("n_neighbors") > 0,
          expr("(1000000 * n_agree) div n_neighbors")).as("agree_ppm"),
        (col("n_neighbors") >= 2 &&
          col("n_agree") * 2 < col("n_neighbors")).as("is_suspect"))
  }

  /** Matryoshka / dimension-truncation audit: what fraction of each
    * vector's energy (squared L2 norm) lives in its first k
    * dimensions, for each k in `dims`? This is the decision input for
    * truncated-embedding serving (MRL-style): if r_16 ≈ 0.95 across
    * the corpus, a 16-dim ANN index costs 4× less at ~5% score
    * distortion — cos(v, v[:k] zero-padded) = ‖v[:k]‖/‖v‖ = √r_k, so
    * the energy ratio IS the self-similarity of the truncation.
    * Per-vector grain, scan-speed projection: each ratio is two
    * native sequential-fold dots and ONE IEEE division — engine-
    * stable doubles (the q31 discipline), so the table hash-gates.
    */
  def truncationEnergy(df: DataFrame, idCol: String, vecCol: String,
      dims: Seq[Int]): DataFrame = {
    import graft.expressions.VectorExpressions.dotF
    require(dims.nonEmpty && dims.forall(_ >= 1))
    val full = dotF(col(vecCol), col(vecCol))
    val ratios = dims.map { k =>
      val head = slice(col(vecCol), 1, k)
      (dotF(head, head) / full).as(s"r_$k")
    }
    df.select(col(idCol) +: full.as("energy") +: ratios: _*)
  }

  /** Embedding OUTLIER detection against the per-group centroid — the
    * mislabeled-sample / noise-document screen of a training-data
    * pipeline: each vector's cosine to its OWN group's mean vector,
    * bottom-`bottomK` per group flagged for review. Centroids use the
    * [[KmQ]] floor-quantized long sums (exact and order-free — the
    * q84 discipline), so the whole readout hash-gates; scoring is the
    * native codegen cosine. One partial-agg shuffle for the
    * group-count-bounded centroid frame, which then BROADCASTS onto
    * the corpus scan — the corpus itself shuffles only the bottom-k
    * window at group grain.
    */
  def centroidOutliers(df: DataFrame, idCol: String, vecCol: String,
      grpCol: String, dim: Int, bottomK: Int): DataFrame = {
    require(dim >= 1 && bottomK >= 1)
    val aggs = count(lit(1)).as("n") +: (0 until dim).map(d =>
      sum(floor(element_at(col(vecCol), d + 1) * KmQ)).as(s"s$d"))
    val cents = df.groupBy(col(grpCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(grpCol), col("n").as("n_members"),
        array((0 until dim).map(d =>
          col(s"s$d").cast("double") /
            (col("n").cast("double") * KmQ)): _*).as("__c"))
    TopK.rank(df.join(broadcast(cents), Seq(grpCol))
        .withColumn("cos", cosineNative(col(vecCol), col("__c"))),
        grpCol, col("cos").asc, idCol, bottomK)
      .select(col(grpCol), col("rn"), col(idCol), col("n_members"),
        col("cos"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 2-approximation
    * — the diversity-based data-pruning complement to [[semDedup]]:
    * SemDeDup REMOVES redundancy, k-center KEEPS a maximally-spread
    * subset). Distances are EXACT integer squared L2 over the int8
    * [[quantizeInt8]] codes, so every selection — including ties,
    * broken by ascending id — is deterministic and the whole
    * selection table hash-gates. Seeded at the minimum id; each round
    * selects the point FARTHEST from the chosen set.
    *
    * Returns (rank, id, sel_dist): sel_dist is the point's min
    * squared distance to the set at selection time (0 for the seed) —
    * the coverage-radius curve a pruning budget reads.
    *
    * Scale shape: k driver rounds, each ONE projection over the
    * corpus (running min against the single NEW center — a 64-int
    * literal) plus a 1-row argmax collect; driver state is k rows.
    * The q84 k-means / q107 BPE discipline: per-round driver traffic
    * is O(1), never data-sized. d² ≤ dims·254² fits i64 at any dim.
    */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).cast("long").as("id"),
        quantizeInt8(col(vecCol)).getField("q").as("__q"))
      .localCheckpoint(true) // k rounds re-read this; lineage truncated
    def dist(center: Seq[Int]): Column =
      aggregate(
        zip_with(col("__q"), typedLit(center),
          (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v.cast("long"))
    val seed = q.orderBy(col("id")).limit(1)
      .collect().head
    var centers = Seq((0, seed.getLong(0), 0L))
    var cvec = seed.getSeq[Int](1)
    var state = q.withColumn("__md", dist(cvec))
    (1 until k).foreach { r =>
      val next = state.filter(!col("id").isin(centers.map(_._2): _*))
        .orderBy(col("__md").desc, col("id")).limit(1)
        .select(col("id"), col("__md"), col("__q")).collect().head
      centers :+= ((r, next.getLong(0), next.getLong(1)))
      cvec = next.getSeq[Int](2)
      state = state
        .withColumn("__md", least(col("__md"), dist(cvec)))
        .localCheckpoint(true) // keep the plan k-independent
    }
    centers.toDF("rank", "id", "sel_dist")
      .select(col("rank").cast("long").as("rank"), col("id"),
        col("sel_dist"))
  }

  /** TWO-STAGE ANN serving: PQ-ADC shortlist → exact re-rank — the
    * production pattern compressed indexes actually serve with: the
    * cheap asymmetric-distance scan nominates `shortlistK`
    * candidates per query (M lookups per corpus code — the 8–32×-IO
    * stage), then ONLY those rows are re-scored with the
    * full-precision cosine and cut to `k`. Recall is bounded by the
    * shortlist (a true neighbor ADC misses is gone — the
    * recall/latency dial is shortlistK); arithmetic is bit-stable in
    * both stages, so ranks AND cosines hash-gate.
    *
    * Scale shape: stage 1 is [[pqAdcTopK]]'s code scan; stage 2
    * touches queries·shortlistK rows — the (shortlist ⋈ query-vec)
    * side is broadcast and the corpus vector fetch is one keyed join
    * (with the index parquet bucketed by id, a bucket-local read).
    */
  def twoStageAdcServe(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
      shortlistK: Int, k: Int): DataFrame = {
    require(shortlistK >= k)
    val sl = pqAdcTopK(queries, corpus, idCol, vecCol, codebooks,
        shortlistK)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__nv"))
    TopK.rank(
        cv.join(broadcast(sl.join(qv, Seq("query_id"))), Seq("neighbor_id"))
          .withColumn("cosine", cosineNative(col("__qv"), col("__nv"))),
        "query_id", col("cosine").desc, "neighbor_id", k)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        col("cosine"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998)
    * over a per-query candidate set: greedily select k items
    * maximizing `λ·rel − (1−λ)·max_{s∈S} sim(c, s)` — the
    * diversification pass between retrieval and prompt assembly
    * (RAG context packing, dedup-aware few-shot selection). Top-k by
    * relevance alone returns near-duplicates of one passage; MMR
    * penalizes each candidate by its worst redundancy against what's
    * already picked.
    *
    * `cands` carries (query_id, cand_id, rel, cvec): `rel` an
    * integer relevance and `cvec` the candidate's [[quantizeInt8]]
    * codes — similarity is the exact integer code dot (the
    * [[kCenterGreedy]] determinism contract: the metric is DEFINED
    * in code space, so every score, tie, and selection is an i64 the
    * oracle replays). λ in ppm; score = rel·λ − maxsim·(1e6−λ),
    * bounded by 64·127²·1e6 < 2⁴³. Round 1 has an empty penalty set:
    * maxsim = 0. Ties break to the lower cand_id.
    *
    * Scale shape: k is small and fixed — the k−1 refinement rounds
    * unroll as DataFrame ops (no driver loop, no collect): each
    * round joins remaining candidates against the ≤ queries·(r−1)
    * selected rows ON query_id (co-partitioned), one partial-agg max
    * per candidate, one per-query rank-1 window. Candidates per
    * query are top-N from the ANN family — THIS operator never scans
    * the corpus.
    */
  def mmrRerank(cands: DataFrame, lambdaPpm: Long, k: Int): DataFrame = {
    require(k >= 1 && lambdaPpm >= 0L && lambdaPpm <= 1000000L)
    import graft.expressions.VectorExpressions.dotI
    // materialize the candidate frame ONCE: every unrolled round
    // references it (directly and through the remaining-set chain),
    // and without truncation the k rounds would re-derive the
    // caller's candidate-generation subtree ~3k times. The frame is
    // queries·N rows by contract — bounded, never corpus-sized.
    val base = cands.select(col("query_id"), col("cand_id"),
      col("rel").cast("long").as("rel"), col("cvec"))
      .localCheckpoint(true)
    def winner(scored: DataFrame, r: Int): DataFrame =
      TopK.rank(scored, "query_id", col("score").desc, "cand_id", 1)
        .select(col("query_id"), lit(r.toLong).as("rank"),
          col("cand_id"), col("rel"), col("maxsim"), col("score"),
          col("cvec"))
    var selected = winner(base
      .withColumn("maxsim", lit(0L))
      .withColumn("score", col("rel") * lambdaPpm), 1)
    // `selected` is ≤ queries·(r−1) rows BY CONSTRUCTION (one winner
    // per query per round), but the unrolled rounds are LocalRelation
    // -rooted and stats-less, so without an explicit hint every round
    // plans as sort-merge (38 static shuffles measured in PLANS.md
    // round 9). Broadcasting the selected/winner sides collapses the
    // rounds to hash joins.
    var remaining = base.join(
      broadcast(selected.select(col("query_id"), col("cand_id"))),
      Seq("query_id", "cand_id"), "left_anti")
    for (r <- 2 to k) {
      // rel and cvec are CONSTANT within a (query_id, cand_id) group
      // (the selected-join only fans out the sim terms), so they ride
      // the max-sim agg via first() instead of a join-back — the old
      // `remaining ⋈ ms` re-join planned as a stats-less sort-merge
      // (2 exchanges + sorts per round, optimization r15)
      val scored = remaining
        .join(broadcast(
            selected.select(col("query_id"), col("cvec").as("__svec"))),
          Seq("query_id"))
        .select(col("query_id"), col("cand_id"), col("rel"), col("cvec"),
          dotI(col("cvec"), col("__svec")).as("__sim"))
        .groupBy(col("query_id"), col("cand_id"))
        .agg(max(col("__sim")).as("maxsim"),
          first(col("rel")).as("rel"), first(col("cvec")).as("cvec"))
        .withColumn("score",
          col("rel") * lambdaPpm - col("maxsim") * (1000000L - lambdaPpm))
      val wr = winner(scored, r)
      selected = selected.unionByName(wr)
      remaining = remaining.join(
        broadcast(wr.select(col("query_id"), col("cand_id"))),
        Seq("query_id", "cand_id"), "left_anti")
    }
    selected.select(col("query_id"), col("rank"), col("cand_id"),
      col("rel"), col("maxsim"), col("score"))
  }
}
