package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native kernels for the trainable-quantizer (IVF/PQ) paths — the
  * r20 follow-up to r19's `scoredCells` literal-array fix.
  *
  * Rationale (SURVEY.md §7.3 custom-surface policy, same case as
  * [[PqCodes]] / [[CosineSimilarity]]): Spark's higher-order functions
  * (`transform`, `zip_with`, `aggregate`) are CodegenFallback — every
  * HOF in a projection drops the enclosing stage out of whole-stage
  * codegen and evaluates its lambda interpreted, per row per element.
  * The ANN hot paths ran several of them per row (quantize fold, the
  * scored-cell transform + struct allocs + array_max, the residual
  * zip_with), measured at ~2.5 ms CPU per corpus row in the r20
  * profile of q75's Lloyd-iteration jobs. Each expression here runs
  * the identical arithmetic as one primitive loop and stays inside
  * WholeStageCodegen through the [[NativeEval]] bridge.
  *
  * Bit-exactness contracts (parity-pinned in CellOpsSpec against the
  * composed forms they replace):
  *   - cosine matches [[CosineSimilarity.compute]]'s sequential fold;
  *   - round(·, 6) matches Spark's `Round` on DoubleType —
  *     `java.math.BigDecimal.valueOf(d).setScale(6, HALF_UP)`, NaN/Inf
  *     passed through;
  *   - score comparison matches Spark's SQL double ordering
  *     (`SQLOrderingUtil.compareDoubles`: `if (x == y) 0 else
  *     java.lang.Double.compare(x, y)` — -0.0 == 0.0, NaN greatest),
  *     ties to the smallest cent_id exactly like the
  *     `max(struct(cs, -cent_id))` trick;
  *   - quantization matches `floor(x · scale)` cast long cast double.
  */
object CellOps {

  /** Spark `Round(d, 6)` on DoubleType, exactly (HALF_UP decimal). */
  @inline private[plans] def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark SQL double ordering (SQLOrderingUtil.compareDoubles). */
  @inline private[plans] def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** [[CosineSimilarity.compute]] against a flat centroid slab —
    * identical op order (dot/na/nb accumulated left-to-right, then
    * dot / (sqrt(na) * sqrt(nb))).
    */
  @inline private def cosineFlat(v: ArrayData, flat: Array[Double], base: Int, dim: Int): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < dim) {
      val x = v.getDouble(i)
      val y = flat(base + i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[plans] def flatten(cents: Seq[(Long, Seq[Double])]): (Array[Long], Array[Double], Int) = {
    require(cents.nonEmpty, "centroids must be non-empty")
    val dim = cents.head._2.size
    require(cents.forall(_._2.size == dim), "centroids must share one width")
    val ids = cents.map(_._1).toArray
    val flat = new Array[Double](cents.size * dim)
    var i = 0
    cents.foreach { case (_, v) =>
      v.foreach { x => flat(i) = x; i += 1 }
    }
    (ids, flat, dim)
  }

  def quantizeVec(vec: Column, scale: Double): Column =
    GraftColumnBridge.column(QuantizeVec(GraftColumnBridge.expression(vec), scale))

  def nearestCell(qvec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    GraftColumnBridge.column(NearestCell(GraftColumnBridge.expression(qvec), cents))

  def topCells(qvec: Column, cents: Seq[(Long, Seq[Double])], nProbe: Int): Column =
    GraftColumnBridge.column(TopCells(GraftColumnBridge.expression(qvec), cents, nProbe))

  def pqReconstruct(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumnBridge.column(PqReconstruct(GraftColumnBridge.expression(codes), codebooks))

  def pqReconstructResidual(
      codes: Column,
      centId: Column,
      codebooks: Seq[Seq[Seq[Double]]],
      cents: Seq[(Long, Seq[Double])]
  ): Column =
    GraftColumnBridge.column(
      PqReconstructResidual(
        GraftColumnBridge.expression(codes),
        GraftColumnBridge.expression(centId),
        codebooks,
        cents
      )
    )

  def residualVec(vec: Column, centId: Column, cents: Seq[(Long, Seq[Double])], scale: Double): Column =
    GraftColumnBridge.column(
      ResidualVec(
        GraftColumnBridge.expression(vec),
        GraftColumnBridge.expression(centId),
        cents,
        scale
      )
    )
}

/** Shared plumbing: array<float|double> input check + per-element
  * double read.
  */
private[plans] trait VecInput { self: Expression =>
  protected def vecChild: Expression

  protected lazy val elemIsFloat: Boolean =
    vecChild.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def checkVec(t: DataType, who: String)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = t match {
    case ArrayType(DoubleType | FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$who expects array<float|double>, got $other"
      )
  }

  @inline protected final def elem(v: ArrayData, i: Int): Double =
    if (elemIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
}

/** The one bridge from a null-safe native kernel into generated code.
  * The generated code calls the expression's own `nullSafeEval`
  * through a reference object, so one implementation serves the
  * interpreted and the generated path: no CodegenFallback boxing of the
  * input row, and the enclosing stage stays in WholeStageCodegen.
  *
  * Null flow is `nullSafeCodeGen`'s, over one child or two: a null
  * child yields null without a call. The result is cast to the boxed
  * `dataType` (Janino unboxes a primitive), and when the expression is
  * `nullable` a null result sets `isNull` — CodegenFallback's rule — so
  * a kernel that returns null on degenerate input never hands a fused
  * consumer a null value flagged non-null. Both paths of every kernel
  * are pinned in NativeKernelParitySpec.
  */
private[plans] trait NativeEval extends Expression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this)
    val args = children.map(_.genCode(ctx))
    val out = ctx.freshName("kernelOut")
    val javaType = CodeGenerator.javaType(dataType)
    val cast = s"(${CodeGenerator.boxedType(dataType)})"
    val call = s"$ref.nullSafeEval(${args.map(_.value).mkString(", ")})"
    if (nullable) {
      val result =
        s"""Object $out = $call;
           |${ev.isNull} = $out == null;
           |if (!${ev.isNull}) ${ev.value} = $cast $out;""".stripMargin
      // each child is evaluated only while the ones before it are non-null
      val body = children.zip(args).foldRight(result) { case ((c, a), inner) =>
        s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(
        code = code"""
          ${args.map(_.code.toString).mkString("\n")}
          $javaType ${ev.value} = $cast $call;""",
        isNull = FalseLiteral
      )
    }
  }
}

/** `transform(vec.cast(array<double>), x => floor(x*scale).cast(double))`
  * as one primitive loop: floor(x·scale) → long → double per element,
  * null elements pass through null.
  */
case class QuantizeVec(child: Expression, scale: Double)
    extends UnaryExpression with VecInput with NativeEval {

  override protected def vecChild: Expression = child

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    checkVec(child.dataType, "quantize_vec")

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        out(i) = java.lang.Double.valueOf(math.floor(elem(v, i) * scale).toLong.toDouble)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `-array_max(transform(centsLit, c => struct(round(cos(v,c),6), -id)))
  * .getField("negid")` as one primitive loop — the nearest-centroid
  * argmax with the (best rounded cosine, then smallest cent_id)
  * tiebreak. Input is the QUANTIZED vector; width must equal the
  * centroid width (raises like the composed cosine's length require).
  * A null vector yields null, where the composed `array_max` over null
  * scores picks an arbitrary id.
  */
case class NearestCell(child: Expression, cents: Seq[(Long, Seq[Double])])
    extends UnaryExpression with VecInput with NativeEval {

  override protected def vecChild: Expression = child

  @transient private lazy val (ids, flat, dim) = CellOps.flatten(cents)

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    checkVec(child.dataType, "nearest_cell")

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    require(
      v.numElements() == dim,
      s"nearest_cell: vector width ${v.numElements()} != centroid width $dim"
    )
    var bestCs = 0.0
    var bestNeg = 0L
    var c = 0
    while (c < ids.length) {
      val cs = CellOps.round6(cosineAt(v, c))
      val neg = -ids(c)
      if (c == 0 || {
          val d = CellOps.cmpD(cs, bestCs)
          d > 0 || (d == 0 && neg > bestNeg)
        }) {
        bestCs = cs
        bestNeg = neg
      }
      c += 1
    }
    java.lang.Long.valueOf(-bestNeg)
  }

  @inline private def cosineAt(v: ArrayData, c: Int): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val base = c * dim
    while (i < dim) {
      val x = elem(v, i)
      val y = flat(base + i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `slice(reverse(array_sort(scoredCells(v, cents))), 1, nProbe)`
  * mapped to cent_ids, as one primitive loop: the top-`nProbe` cells by
  * (rounded cosine desc, cent_id asc), in that order. A null vector
  * yields null, as for [[NearestCell]].
  */
case class TopCells(child: Expression, cents: Seq[(Long, Seq[Double])], nProbe: Int)
    extends UnaryExpression with VecInput with NativeEval {

  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override protected def vecChild: Expression = child

  @transient private lazy val (ids, flat, dim) = CellOps.flatten(cents)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    checkVec(child.dataType, "top_cells")

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    require(
      v.numElements() == dim,
      s"top_cells: vector width ${v.numElements()} != centroid width $dim"
    )
    val n = ids.length
    val cs = new Array[Double](n)
    val order = new Array[Integer](n)
    var c = 0
    while (c < n) {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      val base = c * dim
      while (i < dim) {
        val x = elem(v, i)
        val y = flat(base + i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      cs(c) = CellOps.round6(dot / (math.sqrt(na) * math.sqrt(nb)))
      order(c) = c
      c += 1
    }
    // (cs desc via SQL double ordering, cent_id asc) — exactly the
    // reverse of array_sort's (cs asc, -cent_id asc)
    java.util.Arrays.sort(
      order,
      new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int = {
          val d = CellOps.cmpD(cs(b), cs(a))
          if (d != 0) d else java.lang.Long.compare(ids(a), ids(b))
        }
      }
    )
    val take = math.min(nProbe, n)
    val out = new Array[Long](take)
    var j = 0
    while (j < take) {
      out(j) = ids(order(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `concat(cbs.map(cb => lit(cb)(codes(s))))` — the PQ reconstruction —
  * as one primitive loop. Null codes yield null. Too-few or
  * out-of-range codes also yield null — the ONE deliberate divergence
  * from the composed form, whose GetArrayItem raises under ANSI; no
  * real path produces them ([[PqCodes]] always emits m in-range
  * codes), and null-on-garbage beats a mid-stage error for at-rest
  * codes tables.
  */
case class PqReconstruct(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with NativeEval {

  require(codebooks.nonEmpty && codebooks.head.nonEmpty, "codebooks must be non-empty")
  require(
    codebooks.forall(cb => cb.size == codebooks.head.size) &&
      codebooks.flatten.forall(c => c.size == codebooks.head.head.size),
    "codebooks must be rectangular"
  )

  @transient private lazy val m = codebooks.size
  @transient private lazy val k = codebooks.head.size
  @transient private lazy val sub = codebooks.head.head.size
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](m * k * sub)
    var i = 0
    for (s <- 0 until m; c <- 0 until k; d <- 0 until sub) {
      a(i) = codebooks(s)(c)(d); i += 1
    }
    a
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_reconstruct expects array<int>, got $t"
        )
    }

  /** Decoded vector or null — shared with the residual variant. */
  private[plans] def decode(codes: ArrayData): Array[Double] = {
    if (codes.numElements() < m) return null
    val out = new Array[Double](m * sub)
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val code = codes.getInt(s)
      if (code < 0 || code >= k) return null
      val cbase = (s * k + code) * sub
      var d = 0
      while (d < sub) {
        out(s * sub + d) = flat(cbase + d)
        d += 1
      }
      s += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val dec = decode(input.asInstanceOf[ArrayData])
    if (dec == null) null else new GenericArrayData(dec)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `zip_with(element_at(centMap, cent_id), pqDecode(codes), c + r)` as
  * one primitive loop: centroid(cent_id) + decoded residual. Null
  * codes/cent_id or an unknown cent_id yield null.
  */
case class PqReconstructResidual(
    left: Expression,
    right: Expression,
    codebooks: Seq[Seq[Seq[Double]]],
    cents: Seq[(Long, Seq[Double])]
) extends BinaryExpression with NativeEval {

  @transient private lazy val decoder = PqReconstruct(left, codebooks)
  @transient private lazy val centMap: Map[Long, Array[Double]] =
    cents.map { case (id, v) => id -> v.toArray }.toMap

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_reconstruct_residual expects (array<int>, bigint), got ($l, $r)"
        )
    }

  override def nullSafeEval(codesIn: Any, centIdIn: Any): Any = {
    val cent = centMap.getOrElse(centIdIn.asInstanceOf[Long], null)
    if (cent == null) return null
    val dec = decoder.decode(codesIn.asInstanceOf[ArrayData])
    if (dec == null) return null
    require(
      cent.length == dec.length,
      s"pq_reconstruct_residual: centroid width ${cent.length} != decoded width ${dec.length}"
    )
    val out = new Array[Double](dec.length)
    var i = 0
    while (i < dec.length) {
      out(i) = cent(i) + dec(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

/** `zip_with(quantizeVec(vec), element_at(centMap, cent_id), x - c)` as
  * one primitive loop: the quantized residual the residual-PQ mode
  * trains and encodes. Null vec/cent_id or an unknown cent_id yield
  * null; a null vector ELEMENT yields a null residual element (the
  * zip_with behavior).
  */
case class ResidualVec(
    left: Expression,
    right: Expression,
    cents: Seq[(Long, Seq[Double])],
    scale: Double
) extends BinaryExpression with VecInput with NativeEval {

  override protected def vecChild: Expression = left

  @transient private lazy val centMap: Map[Long, Array[Double]] =
    cents.map { case (id, v) => id -> v.toArray }.toMap

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (checkVec(left.dataType, "residual_vec"), right.dataType) match {
      case (ok @ org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess, LongType) =>
        ok
      case (org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"residual_vec expects bigint cent_id, got $r"
        )
      case (fail, _) => fail
    }

  override def nullSafeEval(vecIn: Any, centIdIn: Any): Any = {
    val cent = centMap.getOrElse(centIdIn.asInstanceOf[Long], null)
    if (cent == null) return null
    val v = vecIn.asInstanceOf[ArrayData]
    // zip_with pads the shorter side with nulls; widths are equal on
    // every real path (dim-gated), so require instead of padding
    require(
      v.numElements() == cent.length,
      s"residual_vec: vector width ${v.numElements()} != centroid width ${cent.length}"
    )
    val out = new Array[Any](cent.length)
    var i = 0
    while (i < cent.length) {
      if (!v.isNullAt(i)) {
        out(i) = java.lang.Double.valueOf(
          math.floor(elem(v, i) * scale).toLong.toDouble - cent(i)
        )
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}
