package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The incremental-IVF lifecycle pieces behind q501–q503: the nlist /
  * nprobe policies, assign-to-nearest insertion, the serve over stored
  * cells, and the drift audit's edge cases.
  */
class IvfLifecycleSpec extends SparkSpec {

  private val cents: Seq[(Int, Seq[Double])] = Seq(
    0 -> Seq(1.0, 0.0, 0.0),
    1 -> Seq(0.0, 1.0, 0.0),
    2 -> Seq(0.0, 0.0, 1.0))

  test("numCells: sqrt policy, clamped both ends, exact at squares") {
    assert(Similarity.numCells(0) === 4) // min clamp
    assert(Similarity.numCells(16) === 4)
    assert(Similarity.numCells(100) === 10) // perfect square exact
    assert(Similarity.numCells(500) === 22)
    assert(Similarity.numCells(2000) === 44)
    assert(Similarity.numCells(10L * 1000 * 1000 * 1000) === 65536) // cap
    // monotone over a sweep — a policy that ever SHRINKS with more
    // data would thrash the trainer
    val vals = (1L to 10000L by 37L).map(Similarity.numCells(_))
    assert(vals.zip(vals.tail).forall { case (a, b) => a <= b })
  }

  test("numProbes: grows with nlist, floor 3, never exceeds nlist") {
    assert(Similarity.numProbes(1) === 1) // capped at nlist
    assert(Similarity.numProbes(4) === 3)
    assert(Similarity.numProbes(22) === 3)
    assert(Similarity.numProbes(44) === 6)
    assert(Similarity.numProbes(1024) === 128)
    (1 to 200).foreach(nl =>
      assert(Similarity.numProbes(nl) <= nl))
  }

  test("insertIntoCells assigns exactly the quantizer's own argmax") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(0.9, 0.1, 0.0)), (2L, Seq(0.1, 0.8, 0.2)),
      (3L, Seq(0.0, 0.1, 0.9)), (4L, Seq(0.6, 0.6, 0.0)))
      .toDF("id", "v")
    val got = Similarity.insertIntoCells(rows, "id", "v", cents)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    // tie row 4 (equal cosine to cells 0 and 1) → HIGHER cell id, the
    // kmAssign/array_max struct-order contract
    assert(got.toSeq === Seq((1L, 0), (2L, 1), (3L, 2), (4L, 1)))
  }

  test("IVF serve ranks the stored members of the probed cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val rows = (0L until 120L).map(i =>
      (i, Seq.fill(3)(rnd.nextDouble() * 2 - 1)))
    val corpus = rows.toDF("id", "v").localCheckpoint(true)
    // a stale index: every stored cell shifted by one, so a serve that
    // recomputed corpus cells would probe different members
    val index = Similarity.insertIntoCells(corpus, "id", "v", cents)
      .withColumn("cell", (col("cell") + 1) % 3)
    val got = Similarity.annTopKIvf(corpus.filter(col("id") % 10 === 0),
        index, "id", "v", "cell", cents, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cos(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val stored = index.collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val want = rows.filter(_._1 % 10 == 0).flatMap { case (q, qv) =>
      val probed = cents.sortBy { case (c, cv) => (-cos(qv, cv), -c) }
        .take(2).map(_._1).toSet
      rows.filter { case (n, _) => n != q && probed(stored(n)) }
        .sortBy { case (n, nv) => (-cos(qv, nv), n) }.take(3)
        .zipWithIndex.map { case ((n, _), i) => (q, i + 1L, n) }
    }.toSet
    assert(got === want)
  }

  test("cellDriftAudit: no-insert cells carry zero drift, never flag") {
    import spark.implicits._
    val base = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0)))
      .toDF("id", "v")
    // inserts hit ONLY cell 0, and badly (orthogonal-ish)
    val ins = Seq((10L, Seq(0.6, -0.5, -0.5))).toDF("id", "v")
    val got = Similarity.cellDriftAudit(base, ins, "id", "v", cents,
        driftPpmThreshold = 100000L)
      .orderBy(col("cell")).collect()
    assert(got.length === 3)
    val cell0 = got(0)
    assert(cell0.getLong(2) === 1L) // n_inserted
    assert(cell0.getBoolean(6)) // drift far past 0.1 → retrain
    // cells 1 and 2: no inserts → drift 0, no flag
    Seq(got(1), got(2)).foreach { r =>
      assert(r.getLong(2) === 0L)
      assert(r.getLong(5) === 0L)
      assert(!r.getBoolean(6))
    }
  }

  test("cellDriftAudit on empty inserts: all cells report, none flag") {
    import spark.implicits._
    val base = Seq((1L, Seq(1.0, 0.0, 0.0)), (3L, Seq(0.0, 1.0, 0.0)))
      .toDF("id", "v")
    val ins = base.filter(col("id") < 0)
    val got = Similarity.cellDriftAudit(base, ins, "id", "v", cents, 1L)
      .collect()
    assert(got.length === 2)
    assert(got.forall(r => !r.getBoolean(6) && r.getLong(5) === 0L))
  }

  test("probesForSelectivity: widens by 1/selectivity, capped, floored") {
    // exact ceil: 3 probes at 5% selectivity wants 60 cells
    assert(Similarity.probesForSelectivity(3, 128, 25, 500) === 60)
    // capped at nlist
    assert(Similarity.probesForSelectivity(3, 22, 25, 500) === 22)
    // unselective predicate: floor at the unfiltered probe count
    assert(Similarity.probesForSelectivity(3, 22, 500, 500) === 3)
    assert(Similarity.probesForSelectivity(3, 22, 400, 500) === 4)
    // empty allowed set: base probes, no division
    assert(Similarity.probesForSelectivity(3, 22, 0, 500) === 3)
    // probes already past nlist: clamp
    assert(Similarity.probesForSelectivity(30, 22, 500, 500) === 22)
    // monotone: fewer allowed rows never means fewer probes
    val ps = (1L to 500L).map(a =>
      Similarity.probesForSelectivity(3, 4096, a, 500))
    assert(ps.zip(ps.tail).forall { case (hi, lo) => hi >= lo })
  }

  test("fit-stats combine is batch-split invariant (q513 contract)") {
    import spark.implicits._
    val base = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.0, 0.0, 1.0)))
      .toDF("id", "v")
    val ins = Seq(
      (10L, Seq(0.6, -0.5, -0.5)), (11L, Seq(0.8, 0.2, 0.0)),
      (12L, Seq(0.1, 0.9, 0.1)), (13L, Seq(0.2, 0.1, 0.9)),
      (14L, Seq(-0.3, 0.8, 0.2))).toDF("id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("cell")).collect().map(_.toSeq).toSeq
    val onePass = rows(
      Similarity.cellDriftAudit(base, ins, "id", "v", cents, 100000L))
    // any split into micro-batches, any order, combines to the same
    // audit — the associativity the streaming accumulator relies on
    for (splitAt <- Seq(1L, 3L); swap <- Seq(false, true)) {
      val (a, b) = (ins.filter(col("id") % 5 < splitAt),
        ins.filter(col("id") % 5 >= splitAt))
      val (p1, p2) = if (swap) (b, a) else (a, b)
      val streamed = Similarity.cellDriftFromStats(
        Similarity.cellFitStats(base, "v", cents),
        Similarity.combineFitStats(
          Similarity.cellFitStats(p1, "v", cents),
          Similarity.cellFitStats(p2, "v", cents)), 100000L)
      assert(rows(streamed) === onePass,
        s"split=$splitAt swap=$swap diverged from the one-pass audit")
    }
  }
}
