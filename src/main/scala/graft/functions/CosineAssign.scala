package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Shared driver-side helpers for the cosine-assignment expressions:
  * norms are folded EXACTLY like the executors' codegen
  * (`sqrt(dot(v, v))` with a left-to-right 0.0-seeded sum — the
  * [[DotProduct]] loop), so a driver-precomputed centroid norm is
  * bit-identical to the `sqrt(dot(cvec, cvec))` column it replaces.
  */
private[functions] object CosineAssignUtil {
  def norm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  def dot(x: ArrayData, c: Array[Double]): Double = {
    val n = math.min(x.numElements(), c.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * c(i); i += 1 }
    s
  }

  /** `when(den === 0.0, 0.0).otherwise(d / den)` in primitive Java
    * semantics — `==` on doubles matches Spark's EqualTo for the
    * 0.0/−0.0 case and NaN ≠ 0.0 either way.
    */
  def score(d: Double, den: Double): Double =
    if (den == 0.0) 0.0 else d / den
}

/** Nearest-centroid cosine assignment as ONE codegen loop per vector
  * over a driver-collected centroid table (r17, the
  * [[PqEncodeCodes]] discipline applied to the assignment kernel):
  * replaces the broadcast-join × k row expansion and its
  * `max_by(struct(score, cpart), struct(score, -cpart))` hash
  * aggregate with a scan-side projection. The centroid table is
  * O(cells × dims) by construction (the MLlib broadcast-centers
  * shape) — the reference array ships the same bytes the broadcast
  * relation did, with the join and the aggregate gone.
  *
  * Bit-identical to the join form: per-row norm and per-centroid norm
  * fold exactly like `sqrt(dot(x, x))`, the score is
  * `when(vn·cn === 0.0, 0.0).otherwise(dot/(vn·cn))` in the same
  * order, and candidates iterate in ASCENDING cpart with a strict
  * `Double.compare > 0` replacement — the lexicographic
  * (score, -cpart) max rule (ties fall to the smaller cpart), with
  * Double.compare reproducing Spark's sort semantics for ±0.0/NaN.
  * Output: struct(cell, score).
  */
case class CosineArgmaxCell(child: Expression,
    cells: Seq[Long], cvecs: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val cellArr: Array[Long] = cells.toArray
  @transient private lazy val cvArr: Array[Array[Double]] =
    cvecs.map(_.toArray).toArray
  @transient private lazy val cnArr: Array[Double] =
    cvArr.map(CosineAssignUtil.norm)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cosine_argmax_cell requires array<double>, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  override def prettyName: String = "cosine_argmax_cell"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var vnSq = 0.0
    var i = 0
    while (i < x.numElements()) { vnSq += x.getDouble(i) * x.getDouble(i); i += 1 }
    val vn = math.sqrt(vnSq)
    var bestJ = 0
    var bestS = Double.NaN
    var first = true
    var j = 0
    while (j < cvArr.length) {
      val den = vn * cnArr(j)
      val s = CosineAssignUtil.score(CosineAssignUtil.dot(x, cvArr(j)), den)
      if (first || java.lang.Double.compare(s, bestS) > 0) {
        bestS = s; bestJ = j; first = false
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(cellArr(bestJ), bestS)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cv = ctx.addReferenceObj("argmaxCvecs", cvArr, "double[][]")
      val cn = ctx.addReferenceObj("argmaxCnorms", cnArr, "double[]")
      val cl = ctx.addReferenceObj("argmaxCells", cellArr, "long[]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nd = ctx.freshName("nd")
      val vn = ctx.freshName("vn")
      val s = ctx.freshName("s")
      val den = ctx.freshName("den")
      val d = ctx.freshName("d")
      val cj = ctx.freshName("cj")
      val bestJ = ctx.freshName("bestJ")
      val bestS = ctx.freshName("bestS")
      s"""
         |double $vn = 0.0;
         |for (int $i = 0; $i < $v.numElements(); $i++) {
         |  $vn += $v.getDouble($i) * $v.getDouble($i);
         |}
         |$vn = java.lang.Math.sqrt($vn);
         |int $bestJ = 0;
         |double $bestS = 0.0;
         |for (int $j = 0; $j < $cv.length; $j++) {
         |  double[] $cj = $cv[$j];
         |  final int $nd = java.lang.Math.min($v.numElements(), $cj.length);
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $nd; $i++) {
         |    $d += $v.getDouble($i) * $cj[$i];
         |  }
         |  final double $den = $vn * $cn[$j];
         |  final double $s = ($den == 0.0D) ? 0.0D : $d / $den;
         |  if ($j == 0 || java.lang.Double.compare($s, $bestS) > 0) {
         |    $bestS = $s; $bestJ = $j;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Long.valueOf($cl[$bestJ]),
         |                java.lang.Double.valueOf($bestS) });
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): CosineArgmaxCell = copy(child = newChild)
}

object CosineArgmaxCell {
  /** `cands` in ASCENDING cpart order (the strict-compare tie rule's
    * required order), and non-empty: an argmax over no cells has no
    * answer, and the generated loop would read `cl[0]` out of bounds.
    */
  def of(vec: Column, cands: IndexedSeq[(Long, IndexedSeq[Double])]): Column = {
    require(cands.nonEmpty,
      "CosineArgmaxCell needs at least one centroid; the candidate " +
        "table is empty")
    GraftBridge.column(CosineArgmaxCell(GraftBridge.expression(vec),
      cands.map(_._1), cands.map(_._2)))
  }
}

/** The whole two-level (coarse probe → fine argmax) assignment of
  * [[graft.ext.Similarity]]'s `twoLevelAssign` as ONE codegen loop per
  * vector (r17): coarse scoring, top-`probe` group selection by
  * ascending (−score, gpart), fine argmax by (score, −cpart) over the
  * probed groups' cells, and the fine-candidate count — previously two
  * broadcast joins, one N-vs-N rejoin, one ObjectHashAggregate
  * (collect_list + sort_array) and one max_by hash aggregate per
  * assignment stage. Both tables are the SAME bounded relations the
  * joins broadcast; every comparison goes through Double.compare, so
  * the selection reproduces the struct-sort/max_by ordering exactly,
  * and every score folds in the identical IEEE order.
  * Output: struct(cell, score, n_fine_cand).
  */
case class TwoLevelCosineAssign(child: Expression,
    gparts: Seq[Long], gvecs: Seq[Seq[Double]],
    fineCells: Seq[Seq[Long]], fineVecs: Seq[Seq[Seq[Double]]],
    probe: Int) extends UnaryExpression {

  @transient private lazy val gpArr: Array[Long] = gparts.toArray
  @transient private lazy val gvArr: Array[Array[Double]] =
    gvecs.map(_.toArray).toArray
  @transient private lazy val gnArr: Array[Double] =
    gvArr.map(CosineAssignUtil.norm)
  @transient private lazy val fcArr: Array[Array[Long]] =
    fineCells.map(_.toArray).toArray
  @transient private lazy val fvArr: Array[Array[Array[Double]]] =
    fineVecs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val fnArr: Array[Array[Double]] =
    fvArr.map(_.map(CosineAssignUtil.norm))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"two_level_cosine_assign requires array<double>, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("n_fine_cand", LongType, nullable = false)))

  override def prettyName: String = "two_level_cosine_assign"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var vn = 0.0
    var i = 0
    while (i < x.numElements()) { vn += x.getDouble(i) * x.getDouble(i); i += 1 }
    vn = math.sqrt(vn)
    val p = math.min(probe, gpArr.length)
    val topNs = Array.fill(p)(Double.NaN)
    val topJ = Array.fill(p)(-1)
    var used = 0
    var j = 0
    while (j < gvArr.length) {
      val ns = -CosineAssignUtil.score(
        CosineAssignUtil.dot(x, gvArr(j)), vn * gnArr(j))
      // insertion by ascending (ns, gpart); iteration is already in
      // ascending gpart so strict compare keeps the smaller gpart
      var pos = used
      while (pos > 0 && java.lang.Double.compare(topNs(pos - 1), ns) > 0) pos -= 1
      if (pos < p) {
        var q = math.min(used, p - 1)
        while (q > pos) { topNs(q) = topNs(q - 1); topJ(q) = topJ(q - 1); q -= 1 }
        topNs(pos) = ns; topJ(pos) = j
        if (used < p) used += 1
      }
      j += 1
    }
    var bestCell = 0L
    var bestS = 0.0
    var nCand = 0L
    var first = true
    var t = 0
    while (t < used) {
      val g = topJ(t)
      val cells = fcArr(g); val vecs = fvArr(g); val norms = fnArr(g)
      var c = 0
      while (c < cells.length) {
        val s = CosineAssignUtil.score(
          CosineAssignUtil.dot(x, vecs(c)), vn * norms(c))
        if (first || java.lang.Double.compare(s, bestS) > 0 ||
            (java.lang.Double.compare(s, bestS) == 0 && cells(c) < bestCell)) {
          bestS = s; bestCell = cells(c); first = false
        }
        nCand += 1
        c += 1
      }
      t += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestCell, bestS, nCand)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val gv = ctx.addReferenceObj("tlGvecs", gvArr, "double[][]")
      val gn = ctx.addReferenceObj("tlGnorms", gnArr, "double[]")
      val fc = ctx.addReferenceObj("tlFineCells", fcArr, "long[][]")
      val fv = ctx.addReferenceObj("tlFineVecs", fvArr, "double[][][]")
      val fn = ctx.addReferenceObj("tlFineNorms", fnArr, "double[][]")
      val p = math.min(probe, gpArr.length)
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val vn = ctx.freshName("vn")
      val d = ctx.freshName("d")
      val nd = ctx.freshName("nd")
      val den = ctx.freshName("den")
      val ns = ctx.freshName("ns")
      val topNs = ctx.freshName("topNs")
      val topJ = ctx.freshName("topJ")
      val used = ctx.freshName("used")
      val pos = ctx.freshName("pos")
      val q = ctx.freshName("q")
      val cj = ctx.freshName("cj")
      val bestCell = ctx.freshName("bestCell")
      val bestS = ctx.freshName("bestS")
      val nCand = ctx.freshName("nCand")
      val first = ctx.freshName("first")
      val t = ctx.freshName("t")
      val g = ctx.freshName("g")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val cmp = ctx.freshName("cmp")
      s"""
         |double $vn = 0.0;
         |for (int $i = 0; $i < $v.numElements(); $i++) {
         |  $vn += $v.getDouble($i) * $v.getDouble($i);
         |}
         |$vn = java.lang.Math.sqrt($vn);
         |double[] $topNs = new double[$p];
         |int[] $topJ = new int[$p];
         |int $used = 0;
         |for (int $j = 0; $j < $gv.length; $j++) {
         |  double[] $cj = $gv[$j];
         |  final int $nd = java.lang.Math.min($v.numElements(), $cj.length);
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $nd; $i++) {
         |    $d += $v.getDouble($i) * $cj[$i];
         |  }
         |  final double $den = $vn * $gn[$j];
         |  final double $ns = -(($den == 0.0D) ? 0.0D : $d / $den);
         |  int $pos = $used;
         |  while ($pos > 0 && java.lang.Double.compare($topNs[$pos - 1], $ns) > 0) $pos--;
         |  if ($pos < $p) {
         |    for (int $q = java.lang.Math.min($used, $p - 1); $q > $pos; $q--) {
         |      $topNs[$q] = $topNs[$q - 1]; $topJ[$q] = $topJ[$q - 1];
         |    }
         |    $topNs[$pos] = $ns; $topJ[$pos] = $j;
         |    if ($used < $p) $used++;
         |  }
         |}
         |long $bestCell = 0L;
         |double $bestS = 0.0;
         |long $nCand = 0L;
         |boolean $first = true;
         |for (int $t = 0; $t < $used; $t++) {
         |  final int $g = $topJ[$t];
         |  for (int $c = 0; $c < $fc[$g].length; $c++) {
         |    double[] $cj = $fv[$g][$c];
         |    final int $nd = java.lang.Math.min($v.numElements(), $cj.length);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $nd; $i++) {
         |      $d += $v.getDouble($i) * $cj[$i];
         |    }
         |    final double $den = $vn * $fn[$g][$c];
         |    final double $s = ($den == 0.0D) ? 0.0D : $d / $den;
         |    final int $cmp = java.lang.Double.compare($s, $bestS);
         |    if ($first || $cmp > 0 || ($cmp == 0 && $fc[$g][$c] < $bestCell)) {
         |      $bestS = $s; $bestCell = $fc[$g][$c]; $first = false;
         |    }
         |    $nCand++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Long.valueOf($bestCell),
         |                java.lang.Double.valueOf($bestS),
         |                java.lang.Long.valueOf($nCand) });
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): TwoLevelCosineAssign = copy(child = newChild)
}

object TwoLevelCosineAssign {
  /** `groups` in ASCENDING gpart order; each group's cells in
    * ASCENDING cpart order (the strict-compare tie rules' required
    * orders).
    */
  def of(vec: Column,
      groups: IndexedSeq[(Long, IndexedSeq[Double])],
      fine: IndexedSeq[IndexedSeq[(Long, IndexedSeq[Double])]],
      probe: Int): Column =
    GraftBridge.column(TwoLevelCosineAssign(GraftBridge.expression(vec),
      groups.map(_._1), groups.map(_._2),
      fine.map(_.map(_._1)), fine.map(_.map(_._2)), probe))
}
