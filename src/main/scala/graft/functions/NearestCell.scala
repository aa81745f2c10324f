package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native nearest-centroid argmin: given a vector `v` (array<double>)
  * and the whole centroid table as ONE value `cents`
  * (array<struct<cid:int, cv:array<double>>>, sorted by cid ascending
  * — the caller's contract), returns the cid minimizing
  *
  *   d2 = dot(v,v) − 2·dot(v,cv) + dot(cv,cv)
  *
  * with every dot the [[DotFold]] left-to-right accumulation and ties
  * broken toward the SMALLER cid (strict `<` over the ascending-cid
  * scan) — bit-for-bit the relational
  * `crossJoin(centroids) → min(struct(d2, cid))` argmin this replaces,
  * so the DuckDB oracle's row_number-over-(d2, cid) replay is
  * untouched.
  *
  * Why an expression and not the relational plan: the crossjoin argmin
  * materializes n·k intermediate rows whose payload is the vector
  * arrays (a BroadcastNestedLoopJoin row per (vector, centroid) pair —
  * measured dominating the √n-cell edge-quantizer build: k = ⌈√n⌉
  * makes that n^1.5 rows of ~0.5 KB each). This kernel is one codegen
  * loop per ROW — assignment becomes a map-only pass with zero
  * intermediate rows and zero shuffle, the classic
  * custom-Expression-beats-plan-blow-up case from the mandate's
  * preference order.
  *
  * Returns null for a null/empty centroid array (mirrors the
  * relational form, where an empty centroid table drops every row).
  */
case class NearestCell(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
        ArrayType(StructType(Array(f1, f2)), _))
        if f1.dataType == IntegerType &&
          f2.dataType.isInstanceOf[ArrayType] &&
          f2.dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      "graft_nearest_cell requires (array<double>, array<struct<cid:int, cv:array<double>>>), " +
        s"got ${l.catalogString}, ${r.catalogString}")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cell"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = b.asInstanceOf[ArrayData]
    if (cs.numElements() == 0) null else NearestCell.argmin(a.asInstanceOf[ArrayData], cs)
  }

  // the generated code calls the same argmin: a row holding many
  // NearestCells (one per PQ subspace) stays a small method the JIT
  // compiles, where inlined loops would exceed its 8 KB method limit
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($b.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.NearestCell$$.MODULE$$.argmin($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCell =
    copy(left = newLeft, right = newRight)
}

object NearestCell {
  def apply(v: Column, cents: Column): Column =
    ColumnBridge.column(NearestCell(ColumnBridge.expression(v), ColumnBridge.expression(cents)))

  /** The cid of the centroid nearest to `v` in a non-empty `cs`. */
  def argmin(v: ArrayData, cs: ArrayData): Int = {
    val n = v.numElements()
    val k = cs.numElements()
    var dvv = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); dvv += x * x; i += 1 }
    var found = false
    var best = 0.0
    var bestCid = 0
    var j = 0
    while (j < k) {
      val st = cs.getStruct(j, 2)
      val cid = st.getInt(0)
      val cv = st.getArray(1)
      val m = math.min(n, cv.numElements())
      var dvc = 0.0
      i = 0
      while (i < m) { dvc += v.getDouble(i) * cv.getDouble(i); i += 1 }
      var dcc = 0.0
      i = 0
      while (i < cv.numElements()) { val c = cv.getDouble(i); dcc += c * c; i += 1 }
      val d2 = dvv - 2.0 * dvc + dcc
      // NaN-robust: mirror Spark's struct-min double ordering, where NaN
      // sorts LARGEST — a NaN d2 never displaces a finite best, and a
      // finite d2 always displaces a NaN best (plain `d2 < best` would
      // freeze on a first-centroid NaN forever, diverging from the
      // relational argmin this expression must replay bit-for-bit)
      if (!found || d2 < best ||
          (java.lang.Double.isNaN(best) && !java.lang.Double.isNaN(d2))) {
        found = true; best = d2; bestCid = cid
      }
      j += 1
    }
    bestCid
  }
}
