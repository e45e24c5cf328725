package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.VectorKernels

/** Cosine similarity over two `array<double>` columns as a native
  * codegen'd expression: one fused loop per row via a static call,
  * versus the zip_with→aggregate composition which allocates an
  * intermediate array per row. This is the hot kernel of the ANN /
  * embedding-dedup operators. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Exact quantized squared norm over an `array<double>` column —
  * the norm-audit hot kernel as one fused codegen'd loop (see
  * [[graft.functions.VectorKernels.quantNormSq]]); the `aggregate`
  * HOF twin evaluates an interpreted lambda per element. */
case class QuantNormSqExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.quantNormSq(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorKernels.quantNormSq($a)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "quant_norm_sq"
}

/** Dot product over two `array<double>` columns (LSH signatures). */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** Per-row fused top-k cosine against a PLAN-REFERENCED corpus
  * matrix — the exact k-NN graph's scan operator. The join +
  * [[TopKAgg]] formulation materializes an UnsafeRow per candidate
  * pair (both 64-double vectors copied ~n² times) only to feed a
  * k-bounded reduction; here the matrix rides the stage's reference
  * array (serialized once per stage, not per pair) and each input
  * row runs one compiled scan producing its k best neighbors
  * directly — zero pair rows, zero aggregation state. Ranking,
  * rounding and self-exclusion are term-for-term the TopKAgg
  * semantics (see [[graft.functions.VectorKernels.topkCosine]]), so
  * results and oracles are unchanged. Bounded by construction: the
  * caller collects the corpus, which is only valid for the
  * exact-baseline regime (~10⁶ × small dim) — the scale path is the
  * IVF-blocked graph, which never materializes the corpus anywhere. */
case class TopKCosineExpr(left: Expression, right: Expression,
    ids: Array[Long], mat: Array[Array[Double]], k: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("payload", DoubleType))))
  override protected def nullSafeEval(emb: Any, selfId: Any): Any =
    VectorKernels.topkCosine(emb.asInstanceOf[ArrayData],
      selfId.asInstanceOf[Long], ids, mat, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("knnIds", ids, "long[]")
    val matRef = ctx.addReferenceObj("knnMat", mat, "double[][]")
    defineCodeGen(ctx, ev, (e, s) =>
      s"graft.functions.VectorKernels.topkCosine($e, $s, $idsRef, $matRef, $k)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "topk_cosine"
}

/** IVF cell routing against a PLAN-REFERENCED centroid matrix — the
  * structural fix for the nlist ceiling: the literal-centroid
  * `array_sort(array(struct(quantize(score, 6), b)…))` formulation carries an
  * O(nlist·dim) literal tree per operator (which is why nlist was
  * capped at 256); here the centroids and their precomputed squared
  * norms ride reference objects serialized once per stage, and each
  * row pays one compiled scan producing its nprobe nearest cells.
  * Semantics are term-for-term the literal formulation's (see
  * [[graft.functions.VectorKernels.nearestCells]]) so cell
  * assignments, downstream joins and oracles are unchanged. */
case class NearestCellsExpr(child: Expression, cc: Array[Double],
    mat: Array[Array[Double]], nprobe: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d", DoubleType), StructField("b", IntegerType))))
  override protected def nullSafeEval(emb: Any): Any =
    VectorKernels.nearestCells(emb.asInstanceOf[ArrayData], cc, mat, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ccRef = ctx.addReferenceObj("ivfCc", cc, "double[]")
    val matRef = ctx.addReferenceObj("ivfCents", mat, "double[][]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorKernels.nearestCells($e, $ccRef, $matRef, $nprobe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "nearest_cells"
}

/** Two-level IVF cell routing against PLAN-REFERENCED super/sub
  * centroid matrices — the assignment half of the 10⁸⁺ fit posture
  * (SURVEY row 29h): probe the `nprobeSuper` nearest super-cells
  * (exactly [[NearestCellsExpr]]'s quantized ranking), argmin over
  * their sub-cells, return the product cell id. O(superK +
  * nprobeSuper·subK) dots per row where the flat quantizer pays
  * O(superK·subK) — at nlist 8192 routed 64×64 with 2 probes, 192
  * dots instead of 8192. All four constant tables ride reference
  * objects serialized once per stage. */
case class TwoLevelCellExpr(child: Expression, sCc: Array[Double],
    sMat: Array[Array[Double]], subCc: Array[Double],
    subMat: Array[Array[Double]], subK: Int, nprobeSuper: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(emb: Any): Any =
    VectorKernels.twoLevelCell(emb.asInstanceOf[ArrayData], sCc, sMat,
      subCc, subMat, subK, nprobeSuper)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sCcRef = ctx.addReferenceObj("tlSupCc", sCc, "double[]")
    val sMatRef = ctx.addReferenceObj("tlSupMat", sMat, "double[][]")
    val subCcRef = ctx.addReferenceObj("tlSubCc", subCc, "double[]")
    val subMatRef = ctx.addReferenceObj("tlSubMat", subMat, "double[][]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorKernels.twoLevelCell($e, $sCcRef, $sMatRef, " +
        s"$subCcRef, $subMatRef, $subK, $nprobeSuper)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "two_level_cell"
}

/** Two-level QUERY routing against the same PLAN-REFERENCED tables
  * as [[TwoLevelCellExpr]] — the serving twin: instead of the single
  * home cell a corpus vector gets, a QUERY gets its `probeCells`
  * best product cells (the [[graft.operators.Similarity
  * .twoLevelProbeCells]] driver law, compiled — parity spec-pinned),
  * so a STREAM of queries routes in the scan stage of each
  * micro-batch with no driver round-trip. */
case class TwoLevelProbeCellsExpr(child: Expression, sCc: Array[Double],
    sMat: Array[Array[Double]], subCc: Array[Double],
    subMat: Array[Array[Double]], subK: Int, nprobeSuper: Int,
    probeCells: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType)
  override protected def nullSafeEval(emb: Any): Any =
    VectorKernels.twoLevelProbeCells(emb.asInstanceOf[ArrayData], sCc,
      sMat, subCc, subMat, subK, nprobeSuper, probeCells)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sCcRef = ctx.addReferenceObj("tlpSupCc", sCc, "double[]")
    val sMatRef = ctx.addReferenceObj("tlpSupMat", sMat, "double[][]")
    val subCcRef = ctx.addReferenceObj("tlpSubCc", subCc, "double[]")
    val subMatRef = ctx.addReferenceObj("tlpSubMat", subMat, "double[][]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorKernels.twoLevelProbeCells($e, $sCcRef, " +
        s"$sMatRef, $subCcRef, $subMatRef, $subK, $nprobeSuper, $probeCells)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "two_level_probe_cells"
}

/** Packed hyperplane LSH signature against a PLAN-REFERENCED plane
  * matrix — the structural fix for the pairs lane's 16-bit width
  * ceiling, the same seam [[NearestCellsExpr]] opened for nlist: the
  * literal formulation (`Σ when(dot(emb, array(64 lits)) >= 0,
  * 1<<k)`) carries an O(bits·dim) literal tree PER TABLE, which is
  * why `pairsBits` capped at 16 (4 tables × 16 bits × 64 dims ≈ 4k
  * literals was the plan-size comfort line); here the planes ride
  * one reference object serialized once per stage and each row pays
  * one compiled fused loop. Semantics are term-for-term the literal
  * tree's ([[graft.functions.VectorKernels.hyperplaneSig]]), so
  * signatures, buckets and oracles are unchanged — the width now
  * follows the n/2^bits ≤ 32 occupancy law unbounded (Int-packed,
  * bits ≤ 30). */
case class HyperplaneSigExpr(child: Expression,
    planes: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(emb: Any): Any =
    VectorKernels.hyperplaneSig(emb.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorKernels.hyperplaneSig($e, $planesRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "hyperplane_sig"
}

/** Centered projection y = W·(x − μ) against a plan-referenced
  * matrix — the APPLY step of any driver-fitted linear transform
  * (PCA whitening here; an OPQ rotation would ride the same seam).
  * W and μ are O(dim²) driver-fitted constants serialized once per
  * stage via reference objects; each row pays one compiled fused
  * loop, no join, no literal-tree blowup. */
case class MatVecExpr(child: Expression, mu: Array[Double],
    w: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType)
  override protected def nullSafeEval(emb: Any): Any =
    VectorKernels.matVec(emb.asInstanceOf[ArrayData], mu, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("matvecMu", mu, "double[]")
    val wRef = ctx.addReferenceObj("matvecW", w, "double[][]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorKernels.matVec($e, $muRef, $wRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "mat_vec"
}

/** Banded DTW distance over two `array<double>` series — the whole
  * O(n·m) dynamic program as ONE compiled scan-stage call per row
  * ([[graft.functions.VectorKernels.dtwBanded]]). DTW's sequential
  * 2-D recurrence has no windowed/HOF formulation (each cell needs
  * the neighbor in the SAME row), so this is exactly the "operator
  * the engine lacks → native codegen'd Expression" seam — the
  * alternative would be a per-row interpreted UDF, ~an order slower
  * on the hot path. Series are bounded per key (resample first —
  * the [[graft.operators.TimeSeries.theilSen]] in-row discipline),
  * so the DP is O(series²) with O(series) live state per row. */
case class DtwExpr(left: Expression, right: Expression, band: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dtwBanded(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], band)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.dtwBanded($a, $b, $band)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dtw_banded"
}

/** LTTB bucket selection over parallel sorted `array<long>` (x, y)
  * columns — like [[DtwExpr]], a sequential recurrence (each kept
  * point feeds the next triangle) that no window/HOF composition
  * expresses: one compiled pass per series via
  * [[graft.functions.VectorKernels.lttbSelect]], all-integer argmax,
  * returns the selected 0-based positions. */
case class LttbExpr(left: Expression, right: Expression, nOut: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType)
  override protected def nullSafeEval(xs: Any, ys: Any): Any =
    VectorKernels.lttbSelect(xs.asInstanceOf[ArrayData],
      ys.asInstanceOf[ArrayData], nOut)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.lttbSelect($a, $b, $nOut)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "lttb_select"
}

object VectorColumns {
  private def e(c: Column) = ColumnBridge.expression(c.cast("array<double>"))
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimExpr(e(a), e(b)))
  def dtw(a: Column, b: Column, band: Int): Column =
    ColumnBridge.column(DtwExpr(e(a), e(b), band))
  def lttb(xs: Column, ys: Column, nOut: Int): Column =
    ColumnBridge.column(LttbExpr(
      ColumnBridge.expression(xs.cast("array<bigint>")),
      ColumnBridge.expression(ys.cast("array<bigint>")), nOut))
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotExpr(e(a), e(b)))
  def topkCosine(emb: Column, selfId: Column, ids: Array[Long],
      mat: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(TopKCosineExpr(e(emb),
      ColumnBridge.expression(selfId.cast("long")), ids, mat, k))
  def matVec(emb: Column, mu: Array[Double], w: Array[Array[Double]]): Column =
    ColumnBridge.column(MatVecExpr(e(emb), mu, w))
  def hyperplaneSig(emb: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(HyperplaneSigExpr(e(emb), planes))
  /** Product cell id through the two-level quantizer — sub-centroids
    * arrive as [superK][subK][dim] and flatten to product-id order;
    * both ‖c‖² tables are derived with the same driver fold as
    * [[nearestCells]], so distances match the flat kernel's. */
  def twoLevelCell(emb: Column, superCents: Array[Array[Double]],
      subCents: Array[Array[Array[Double]]], nprobeSuper: Int): Column = {
    val flat = subCents.flatten
    ColumnBridge.column(TwoLevelCellExpr(e(emb),
      superCents.map(c => c.map(x => x * x).sum), superCents,
      flat.map(c => c.map(x => x * x).sum), flat,
      subCents(0).length, nprobeSuper))
  }
  /** The query-side probe list (array<int> of product cell ids in
    * rank order) through the two-level quantizer — same table
    * derivation as [[twoLevelCell]]. */
  def twoLevelProbeCells(emb: Column, superCents: Array[Array[Double]],
      subCents: Array[Array[Array[Double]]], nprobeSuper: Int,
      probeCells: Int): Column = {
    val flat = subCents.flatten
    ColumnBridge.column(TwoLevelProbeCellsExpr(e(emb),
      superCents.map(c => c.map(x => x * x).sum), superCents,
      flat.map(c => c.map(x => x * x).sum), flat,
      subCents(0).length, nprobeSuper, probeCells))
  }
  /** nprobe nearest IVF cells as array<struct<d,b>> — cc (the Σc²
    * terms) is derived here with the exact driver-side fold the
    * literal formulation used, so scores match bit-for-bit. */
  def nearestCells(emb: Column, cents: Array[Array[Double]],
      nprobe: Int): Column =
    ColumnBridge.column(NearestCellsExpr(e(emb),
      cents.map(c => c.map(x => x * x).sum), cents, nprobe))
}
