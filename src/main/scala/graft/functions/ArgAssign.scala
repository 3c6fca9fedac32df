package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Nearest-centroid assignment expressions — the hot per-row loop of the
  * IVF/SemDeDup coarse quantizer and the PQ encoder as ONE compiled
  * loop per row instead of an interpreted higher-order `aggregate` fold.
  *
  * The composable fold (`aggregate(cents, init, (acc, c) => when(...))`)
  * is a HigherOrderFunction = CodegenFallback whose LAMBDA BODY is an
  * interpreted expression tree re-evaluated once per (row × centroid):
  * on the corpus-assignment pass — the per-row hot loop of the whole
  * ANN family, K centroids per vector — that interpretation tax
  * dominates (the r20 minhash `exists()` regression measured the same
  * pattern at pair scale). These expressions evaluate one tight Scala
  * loop per row over the broadcast model array; ExpressionSpec pins
  * bit-equality to the fold on null/empty/ragged corners.
  *
  * Exact semantics replicated from the folds (VectorOps.assignToLists /
  * pqAssign):
  *   - elements scanned in array order (the model array is sort_array'd
  *     cid-ascending), STRICT improvement only → ties keep the LOWEST
  *     cid;
  *   - a candidate whose score is NULL (null vector/norm/model fields)
  *     never updates the accumulator — an all-null scan returns the
  *     init cid −1, exactly like the fold's `when(null, ...)` →
  *     otherwise(acc);
  *   - NaN scores (0/0 on zero-norm vectors) compare false and never
  *     update, like Spark's GreaterThan on doubles;
  *   - a NULL model ARRAY yields NULL (aggregate's null propagation);
  *     an EMPTY one yields −1 (the init value);
  *   - dot products follow [[LongDotProduct]] strict=false: truncate to
  *     the shorter length, skip null pairs; long arithmetic wraps.
  */
abstract class ArgAssignBase extends Expression with CodegenFallback {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override lazy val deterministic: Boolean = true

  /** strict=false LongDotProduct semantics. `a`/`b` non-null. */
  protected final def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  protected final def fieldIndex(arr: Expression, name: String): Int =
    arr.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldIndex(name)

  /** Model struct fields `eval` reads: (name, required type as the
    * failure names it, test). */
  protected def modelFields: Seq[(String, String, DataType => Boolean)] =
    Seq(("cid", "bigint", _ == LongType),
      ("cv", "array<bigint>", {
        case ArrayType(LongType, _) => true
        case _ => false
      }),
      ("cnrm", "bigint", _ == LongType))

  /** Success when every model field is present with its required type,
    * else a failure naming the first missing or mistyped one — so a bad
    * model fails at analysis, not with a ClassCastException mid-task. */
  protected final def checkModel(model: StructType)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    modelFields.iterator.map { case (name, want, ok) =>
      model.fields.find(_.name == name) match {
        case None => TypeCheckFailure(
          s"$prettyName: model field '$name' ($want) is missing from " +
            model.simpleString)
        case Some(f) if !ok(f.dataType) => TypeCheckFailure(
          s"$prettyName: model field '$name' must be $want, got " +
            f.dataType.simpleString)
        case _ => TypeCheckSuccess
      }
    }.find(_.isFailure).getOrElse(TypeCheckSuccess)
  }
}

/** `argmax_cos_cid(qv, nrm, cents)` ≡
  * `aggregate(cents, (-2.0, -1L), (acc, c) => if cos(qv, c) > acc.cos
  *  then (cos, c.cid) else acc).cid` with cos = dot/sqrt(nrm·cnrm). */
case class ArgmaxCosineCid(qv: Expression, nrm: Expression, cents: Expression)
    extends ArgAssignBase {
  override def children: Seq[Expression] = Seq(qv, nrm, cents)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2))
  override def prettyName: String = "argmax_cos_cid"

  private lazy val cidI = fieldIndex(cents, "cid")
  private lazy val cvI = fieldIndex(cents, "cv")
  private lazy val cnrmI = fieldIndex(cents, "cnrm")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (qv.dataType, nrm.dataType, cents.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(st: StructType, _)) =>
        checkModel(st)
      case t => TypeCheckFailure(s"$prettyName got $t")
    }
  }

  override def eval(input: InternalRow): Any = {
    val cs = cents.eval(input)
    if (cs == null) return null // aggregate(NULL array) → NULL
    val arr = cs.asInstanceOf[ArrayData]
    val q = qv.eval(input).asInstanceOf[ArrayData] // may be null: no update ever
    val nr = nrm.eval(input)
    var bestCos = -2.0
    var bestCid: Any = -1L
    val n = arr.numElements()
    val elemType = cents.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val c = arr.getStruct(i, elemType.size)
        if (q != null && nr != null && !c.isNullAt(cvI) && !c.isNullAt(cnrmI)) {
          val d = dot(q, c.getArray(cvI))
          val prod = nr.asInstanceOf[Long] * c.getLong(cnrmI) // wraps like Multiply
          val cos = d.toDouble / java.lang.Math.sqrt(prod.toDouble)
          if (cos > bestCos) { // NaN compares false, like GreaterThan
            bestCos = cos
            bestCid = if (c.isNullAt(cidI)) null else c.getLong(cidI)
          }
        }
      }
      i += 1
    }
    bestCid
  }
}

/** `argmin_l2_cid(sv, snrm, m, cbs)` ≡
  * `aggregate(cbs, (Long.MaxValue, -1L), (acc, c) => if c.m = m AND
  *  snrm + c.cnrm − 2·dot(sv, c.cv) < acc.d then (d, c.cid) else
  *  acc).cid` — exact integer L2 over the per-subspace codebooks. */
case class ArgminL2Cid(sv: Expression, snrm: Expression, m: Expression,
    cbs: Expression) extends ArgAssignBase {
  override def children: Seq[Expression] = Seq(sv, snrm, m, cbs)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(c(0), c(1), c(2), c(3))
  override def prettyName: String = "argmin_l2_cid"

  override protected def modelFields
      : Seq[(String, String, DataType => Boolean)] =
    super.modelFields :+
      (("m", "int or bigint", (t: DataType) => t == IntegerType || t == LongType))

  private lazy val mI = fieldIndex(cbs, "m")
  private lazy val cidI = fieldIndex(cbs, "cid")
  private lazy val cvI = fieldIndex(cbs, "cv")
  private lazy val cnrmI = fieldIndex(cbs, "cnrm")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (sv.dataType, snrm.dataType, cbs.dataType) match {
      case (ArrayType(LongType, _), LongType, ArrayType(st: StructType, _))
        if m.dataType == IntegerType || m.dataType == LongType =>
        checkModel(st)
      case t => TypeCheckFailure(s"$prettyName got ($t, ${m.dataType})")
    }
  }

  private def longOf(v: Any): Long = v match {
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l
  }

  override def eval(input: InternalRow): Any = {
    val cs = cbs.eval(input)
    if (cs == null) return null
    val arr = cs.asInstanceOf[ArrayData]
    val s = sv.eval(input).asInstanceOf[ArrayData]
    val sn = snrm.eval(input)
    val mv = m.eval(input)
    var bestD = Long.MaxValue // strict <: a real d == MaxValue never wins, like the fold
    var bestCid: Any = -1L
    val elemType = cbs.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val mType = elemType.fields(mI).dataType
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val c = arr.getStruct(i, elemType.size)
        // c.m === m: null on either side never matches (the fold's when)
        val mMatch = mv != null && !c.isNullAt(mI) && {
          val cm = if (mType == IntegerType) c.getInt(mI).toLong else c.getLong(mI)
          cm == longOf(mv)
        }
        if (mMatch && s != null && sn != null &&
            !c.isNullAt(cvI) && !c.isNullAt(cnrmI)) {
          val d = sn.asInstanceOf[Long] + c.getLong(cnrmI) -
            dot(s, c.getArray(cvI)) * 2L // wraps like Add/Subtract/Multiply
          if (d < bestD) {
            bestD = d
            bestCid = if (c.isNullAt(cidI)) null else c.getLong(cidI)
          }
        }
      }
      i += 1
    }
    bestCid
  }
}

object ArgAssign {
  /** Column-API: argmax-cosine centroid id over a broadcast model array. */
  def argmaxCosineCid(qv: Column, nrm: Column, cents: Column): Column =
    Bridge.column(ArgmaxCosineCid(
      Bridge.expression(qv), Bridge.expression(nrm), Bridge.expression(cents)))

  /** Column-API: argmin exact-L2 codeword id over broadcast codebooks. */
  def argminL2Cid(sv: Column, snrm: Column, m: Column, cbs: Column): Column =
    Bridge.column(ArgminL2Cid(
      Bridge.expression(sv), Bridge.expression(snrm),
      Bridge.expression(m), Bridge.expression(cbs)))
}
