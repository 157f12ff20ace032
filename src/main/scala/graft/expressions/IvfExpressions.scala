package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native coarse-quantizer kernels — the IVF analog of
  * [[PqEncodeCodes]]/[[PqAdcDist]].
  *
  * The portable cell assignment
  * (`Similarity.assignCellPortable`/`assignCellsPortable`) builds an
  * `array_max(array(struct(cos, id) × nlist))` tree with the centroid
  * matrix inlined as literals. Correct at nlist = 8, already bulky at
  * the q501 policy's 22–44, and IMPOSSIBLE at the production nlist
  * the policy targets (⌊√n⌋ — thousands to 65 536): a 65 k-element
  * literal struct array is beyond what Catalyst/codegen can carry —
  * the same inlined-literal scaling disease that broke q483's PQ
  * unroll at M×K=128. These kernels hold the centroid matrix as an
  * instance field (one reference object, broadcast with the closure)
  * and loop over nlist in plain Java — the codegen span stays one
  * virtual call no matter the nlist.
  *
  * Bit-exactness contract (IvfExpressionsSpec pins native ≡ portable):
  *  - per-cell score = `Similarity.cosineNative(vec, lit(centroid))`:
  *    left-to-right `dotF` folds (null elements contribute 0), norm
  *    product `sqrt(dot(a,a))·sqrt(dot(b,b))`, zero-norm guard → 0.0;
  *  - ordering = Spark SQL's double total order (`-0.0 == 0.0`, NaN
  *    greatest, NaN == NaN), ties → HIGHER cell id — exactly
  *    `array_max(struct(s, i))` / `reverse(array_sort(...))`;
  *  - cell IDS (not positions) order ties and fill the output —
  *    trained quantizers drop empty cells, so ids are sparse;
  *  - NULL input vector ⇒ NULL output (null-intolerant
  *    UnaryExpression): the INTENDED contract — an absent embedding
  *    has no nearest cell. The definitional portable trees carry an
  *    explicit `when(isNull)` guard to match (a bare array_max over
  *    all-null scores would fall through to the highest id).
  */
private[expressions] final class CentroidTable(
    val cents: Seq[(Int, Seq[Double])]) extends Serializable {
  val n: Int = cents.size
  require(n >= 1, "empty centroid table")
  val ids: Array[Int] = cents.map(_._1).toArray
  val dim: Int = cents.head._2.size
  require(cents.forall(_._2.size == dim),
    "ragged centroid table")
  /** Row-major centroid matrix; centroid j starts at j·dim. */
  val flat: Array[Double] = {
    val a = new Array[Double](n * dim)
    var i = 0
    for ((_, c) <- cents; d <- c) { a(i) = d; i += 1 }
    a
  }
  /** Per-centroid `dotF(b, b)` — the literal side of the norm
    * product, folded exactly as the portable tree folds it.
    */
  val selfDot: Array[Double] = Array.tabulate(n) { j =>
    var acc = 0.0d
    var d = 0
    while (d < dim) { val x = flat(j * dim + d); acc += x * x; d += 1 }
    acc
  }

  /** Spark SQL's double comparison: -0.0 == 0.0, NaN greatest and
    * equal to itself (SQLOrderingUtil.compareDoubles semantics).
    */
  @inline private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** (score, id) descending — `reverse(array_sort(struct(s, i)))`. */
  @inline private def better(s1: Double, i1: Int, s2: Double, i2: Int)
      : Boolean = {
    val c = cmpD(s1, s2)
    c > 0 || (c == 0 && i1 > i2)
  }

  @inline private def get(v: ArrayData, i: Int, isDouble: Boolean): Double =
    if (v.isNullAt(i)) 0.0d
    else if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble

  /** All nlist cosine scores for one vector (portable-fold exact). */
  private def scores(vec: ArrayData, isDouble: Boolean): Array[Double] = {
    val len = vec.numElements()
    val nd = math.min(len, dim)
    // dotF(a, a): skip (contribute 0) where the element is null —
    // identical to the per-cell recomputation the portable tree does
    var daa = 0.0d
    var i = 0
    while (i < len) {
      if (!vec.isNullAt(i)) {
        val x = if (isDouble) vec.getDouble(i) else vec.getFloat(i).toDouble
        daa += x * x
      }
      i += 1
    }
    val na = math.sqrt(daa)
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      var dab = 0.0d
      var d = 0
      while (d < nd) {
        if (!vec.isNullAt(d)) {
          val x = if (isDouble) vec.getDouble(d) else vec.getFloat(d).toDouble
          dab += x * flat(j * dim + d)
        }
        d += 1
      }
      val normProd = na * math.sqrt(selfDot(j))
      out(j) = if (normProd == 0.0d) 0.0d else dab / normProd
      j += 1
    }
    out
  }

  /** Top-`probes` cell ids, (score desc, id desc) — a bounded
    * selection pass, O(n·probes) with tiny probes.
    */
  def nearest(vec: ArrayData, isDouble: Boolean, probes: Int)
      : GenericArrayData = {
    val s = scores(vec, isDouble)
    val chosen = new Array[Boolean](n)
    val out = new Array[Any](probes)
    var p = 0
    while (p < probes) {
      var bi = -1
      var j = 0
      while (j < n) {
        if (!chosen(j) &&
            (bi < 0 || better(s(j), ids(j), s(bi), ids(bi)))) bi = j
        j += 1
      }
      chosen(bi) = true
      out(p) = ids(bi)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Centroid of a (runtime) cell id; null for unknown ids — the
    * when-chain lookup's semantics.
    */
  def centroidOf(cell: Int): GenericArrayData = {
    var j = 0
    while (j < n) {
      if (ids(j) == cell) {
        val out = new Array[Any](dim)
        var d = 0
        while (d < dim) { out(d) = flat(j * dim + d); d += 1 }
        return new GenericArrayData(out)
      }
      j += 1
    }
    null
  }
}

/** `array<float|double> → array<int>`: the `probes` nearest cell ids
  * by guarded cosine, best first. Null input ⇒ null.
  */
case class NearestCells(child: Expression,
    cents: Seq[(Int, Seq[Double])], probes: Int) extends UnaryExpression {

  require(probes >= 1 && probes <= cents.size,
    s"probes must be in [1, ${cents.size}], got $probes")

  @transient private lazy val table = new CentroidTable(cents)
  private def isDoubleArr = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells requires array<float|double> input, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override protected def nullSafeEval(input: Any): Any =
    table.nearest(input.asInstanceOf[ArrayData], isDoubleArr, probes)

  /** Public trampoline for the generated code. */
  def doNearest(input: ArrayData): GenericArrayData =
    table.nearest(input, isDoubleArr, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this,
      classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.doNearest($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): NearestCells = copy(child = newChild)
}

/** `int → array<double>`: the centroid of a runtime cell id against
  * the table; unknown id ⇒ null (the when-chain lookup this replaces
  * had no otherwise). Null input ⇒ null.
  */
case class CellCentroid(child: Expression,
    cents: Seq[(Int, Seq[Double])]) extends UnaryExpression {

  @transient private lazy val table = new CentroidTable(cents)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_cell_centroid requires int input, got $t")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cell_centroid"

  override protected def nullSafeEval(input: Any): Any =
    table.centroidOf(input.asInstanceOf[Int])

  /** Public trampoline for the generated code; null for unknown. */
  def doLookup(cell: Int): GenericArrayData = table.centroidOf(cell)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centLookup", this,
      classOf[CellCentroid].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = $ref.doLookup($c);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CellCentroid = copy(child = newChild)
}

object IvfExpressions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column API: top-`probes` nearest cell ids, best first. */
  def nearestCells(vec: Column, cents: Seq[(Int, Seq[Double])],
      probes: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(vec), cents, probes))

  /** Column API: centroid lookup of a runtime cell id. */
  def cellCentroid(cell: Column, cents: Seq[(Int, Seq[Double])]): Column =
    Bridge.column(CellCentroid(Bridge.expression(cell), cents))
}
