package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The native map-only nearest-centroid argmin behind
  * graft_nearest_cell and graft_nearest_cell_dist: the IVF/PQ cell
  * assignment as ONE projection over n rows instead of an n×k cross
  * join. The two expressions differ only in what they emit — the
  * winning cell id or the winning squared distance ([[pick]]).
  *
  * `ids` (array<int>) and `matrix` (array<array<double>>) must be
  * FOLDABLE (literals) — they are the quantizer's model state, k·d
  * doubles, embedded the way the MinHash permutation constants and the
  * bloom filter bytes are. The join formulation this replaces
  * (crossJoin(broadcast(centroids)) + min_by argmin) pays Spark row
  * overhead on n·k joined rows — measured ~600 s of the 698 s sf10
  * s12 runtime once cells scale with the corpus (200k×800 = 160 M rows
  * per training pass); this kernel pays it on n rows with a tight
  * k·d flop loop inside whole-stage codegen.
  *
  * Bit parity with the join formulation (every staged-centroid oracle
  * depends on it): per cell, d2 = (dot(v,v) − 2.0·dot(v,c)) + dot(c,c)
  * with each dot the same left-to-right fold as [[DotProduct]]; the
  * argmin compares with java.lang.Double.compare (Spark's double
  * ordering — NaN greatest, −0.0 < 0.0) in ascending cell-id order, so
  * ties go to the lowest cell id exactly like min_by(cell,
  * struct(d2, cell)), and the winning d2 equals min(struct(d2, cell)).d2
  * bit-for-bit. Null semantics: null if the vector is null or any
  * element is null (DotProduct's poisoning); a vector whose length
  * differs from a centroid's is null too (the zip_with-pads-with-null
  * chain the join formulation inherited).
  */
abstract class NearestCellKernel extends TernaryExpression {

  def vec: Expression
  def idsLit: Expression
  def matLit: Expression

  /** The emitted value: the winning cell `id` or its squared distance
    * `d2` — used for the interpreted result and the generated code. */
  protected def pick[T](id: T, d2: T): T

  override def first: Expression = vec
  override def second: Expression = idsLit
  override def third: Expression = matLit

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!idsLit.foldable || !matLit.foldable)
      return org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires foldable (literal) ids and matrix arguments")
    (vec.dataType, idsLit.dataType, matLit.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _),
            ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (v, i, m) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<int>, array<array<double>>), " +
            s"got (${v.catalogString}, ${i.catalogString}, ${m.catalogString})")
    }
  }

  @transient private lazy val ids: Array[Int] =
    idsLit.eval().asInstanceOf[ArrayData].toIntArray()

  @transient private lazy val mat: Array[Array[Double]] = {
    val ad = matLit.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }

  // dot(c,c) per centroid, same left-to-right fold — computed once at
  // plan time, identical double to the per-row evaluation it replaces
  @transient private lazy val cc: Array[Double] = mat.map { c =>
    var a = 0.0; var i = 0
    while (i < c.length) { a += c(i) * c(i); i += 1 }
    a
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vAny = vec.eval(input)
    if (vAny == null) return null
    val vd = vAny.asInstanceOf[ArrayData]
    val n = vd.numElements()
    var i = 0
    while (i < n) {
      if (vd.isNullAt(i)) return null
      i += 1
    }
    if (mat.isEmpty) return null
    val v = vd.toDoubleArray()
    // dot(v,v) is centroid-independent: hoisted out of the j loop (same
    // left-to-right fold, so the same double every iteration — bit parity
    // with the unhoisted kernel is preserved by construction)
    var dvv = 0.0
    var h = 0
    while (h < n) { dvv += v(h) * v(h); h += 1 }
    var best = Double.NaN
    var bestId = 0
    var first = true
    var j = 0
    while (j < mat.length) {
      val c = mat(j)
      if (c.length != n) return null
      var dvc = 0.0
      i = 0
      while (i < n) {
        dvc += v(i) * c(i)
        i += 1
      }
      val d2 = (dvv - 2.0 * dvc) + cc(j)
      if (first || java.lang.Double.compare(d2, best) < 0) {
        best = d2; bestId = ids(j); first = false
      }
      j += 1
    }
    pick[Any](bestId, best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val matRef = ctx.addReferenceObj("cents", mat, "double[][]")
    val ccRef = ctx.addReferenceObj("cc", cc, "double[]")
    val idsRef = ctx.addReferenceObj("cellIds", ids, "int[]")
    val vCode = vec.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val i2 = ctx.freshName("i2")
    val j = ctx.freshName("j")
    val dvv = ctx.freshName("dvv")
    val dvc = ctx.freshName("dvc")
    val d2 = ctx.freshName("d2")
    val best = ctx.freshName("best")
    val bestId = ctx.freshName("bestId")
    val firstF = ctx.freshName("first")
    val c = ctx.freshName("c")
    val vArr = ctx.freshName("vArr")
    val hasNull = ctx.freshName("hasNull")
    val lenBad = ctx.freshName("lenBad")
    ev.copy(code =
      code"""
        |${vCode.code}
        |boolean ${ev.isNull} = true;
        |${CodeGenerator.javaType(dataType)} ${ev.value} = 0;
        |if (!${vCode.isNull} && $matRef.length > 0) {
        |  int $n = ${vCode.value}.numElements();
        |  boolean $hasNull = false;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if (${vCode.value}.isNullAt($i)) { $hasNull = true; break; }
        |  }
        |  if (!$hasNull) {
        |    double[] $vArr = ${vCode.value}.toDoubleArray();
        |    // dot(v,v) is centroid-independent — hoisted (same fold, same double)
        |    double $dvv = 0.0;
        |    for (int $i2 = 0; $i2 < $n; $i2++) {
        |      $dvv += $vArr[$i2] * $vArr[$i2];
        |    }
        |    double $best = 0.0; int $bestId = 0; boolean $firstF = true;
        |    boolean $lenBad = false;
        |    for (int $j = 0; $j < $matRef.length; $j++) {
        |      double[] $c = $matRef[$j];
        |      if ($c.length != $n) { $lenBad = true; break; }
        |      double $dvc = 0.0;
        |      for (int $i2 = 0; $i2 < $n; $i2++) {
        |        $dvc += $vArr[$i2] * $c[$i2];
        |      }
        |      double $d2 = ($dvv - 2.0 * $dvc) + $ccRef[$j];
        |      if ($firstF || java.lang.Double.compare($d2, $best) < 0) {
        |        $best = $d2; $bestId = $idsRef[$j]; $firstF = false;
        |      }
        |    }
        |    if (!$lenBad) { ${ev.isNull} = false; ${ev.value} = ${pick(bestId, best)}; }
        |  }
        |}
      """.stripMargin)
  }
}

/** graft_nearest_cell(v, ids, matrix): the winning cell id. */
case class NearestCell(vec: Expression, idsLit: Expression, matLit: Expression)
    extends NearestCellKernel {

  override def prettyName: String = "graft_nearest_cell"
  override def dataType: DataType = IntegerType
  override protected def pick[T](id: T, d2: T): T = id

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): NearestCell =
    copy(vec = newFirst, idsLit = newSecond, matLit = newThird)
}

/** graft_nearest_cell_dist(v, ids, matrix): the winning squared
  * distance — the map-only form of "distance to the nearest codeword",
  * which is what the PQ distortion audits aggregate
  * (PQ.distortionBySubspace). */
case class NearestCellDist(vec: Expression, idsLit: Expression, matLit: Expression)
    extends NearestCellKernel {

  override def prettyName: String = "graft_nearest_cell_dist"
  override def dataType: DataType = DoubleType
  override protected def pick[T](id: T, d2: T): T = d2

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): NearestCellDist =
    copy(vec = newFirst, idsLit = newSecond, matLit = newThird)
}
