package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native per-row argmax cell assignment: given a vector and its
  * precomputed norm, return the cid of the centroid with the highest
  * guarded cosine, ties to the LOWEST cid — the
  * `max(struct(csim, -cid, payload))` semantics of the former
  * crossJoin+regroup form of `Similarity.assignToCells`, as one scalar
  * kernel call.
  *
  * Why native, measured (SCALE.md round 12): the crossJoin form
  * multiplied the corpus by `numCells` WITH the full vector payload
  * riding every row, and Max over a struct buffer plans as a double
  * SortAggregate — at sf1 that is a two-stage sort of ~16M × ~0.6 kB
  * rows feeding a corpus-payload exchange, repeated inside EIGHT
  * registry queries (q39/q55/q62/q73/q76/q92/q93 + the cell-index
  * build). This expression does the identical k × dim multiply-adds
  * per row with no row multiplication, no aggregate, and no exchange —
  * cell assignment becomes a pure map over the corpus scan.
  *
  * Exact-parity contract with the regroup form (oracle hashes depend
  * on it):
  *   - dot is [[ArrayDot]]'s left-to-right fold, bit-identical;
  *   - csim = dot / (nrm * cn), and any non-finite 0/0 (zero-norm
  *     vector or centroid — hashed embeddings can be real zero vectors)
  *     pins to -1, the `guardedCosine` totalization, so zero-norm rows
  *     land deterministically in the lowest cid;
  *   - a dimension mismatch or a null ELEMENT in either array also
  *     pins that centroid's csim to -1 (ArrayDot's null → coalesce(-1)
  *     path), never a crash;
  *   - the argmax compares with `java.lang.Double.compare` (Spark's
  *     struct ordering for doubles — keeps the -0.0 < 0.0 edge
  *     identical) and strict `>` while scanning cids ascending, which
  *     IS the (csim, -cid) tie-break.
  *   Divergence, deliberate and loud: a NULL vector or NULL norm
  *   returns null (dropped by downstream keyed joins) where the old
  *   form assigned the schema-corrupt row to the lowest cid — the
  *   no-signal-row-drops-early philosophy the similarity family
  *   applies at every zero-norm boundary.
  *
  * `cents` is a bounded constructor constant ((cid, centroid, norm),
  * sorted here; ≤ a few hundred rows by the same house bound that let
  * the old form `broadcast()` them), serialized with the plan like
  * [[GramHashes]]'s width — not a join side.
  */
case class CellArgmax(vector: Expression, nrm: Expression,
    cents: Seq[(Long, Seq[Double], Double)])
    extends BinaryExpression {

  require(cents.nonEmpty, "cell_argmax needs at least one centroid")

  override def left: Expression = vector
  override def right: Expression = nrm

  override def checkInputDataTypes(): TypeCheckResult =
    (vector.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"cell_argmax expects (ARRAY<DOUBLE>, DOUBLE), got ($a, $b)")
    }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  // hot-loop mirrors of the constant, built once per task
  @transient private lazy val cidArr: Array[Long] =
    sorted.map(_._1).toArray
  @transient private lazy val cvArr: Array[Array[Double]] =
    sorted.map(_._2.toArray).toArray
  @transient private lazy val cnArr: Array[Double] =
    sorted.map(_._3).toArray
  @transient private lazy val sorted = cents.sortBy(_._1)

  override def nullSafeEval(v: Any, n: Any): Any =
    assign(v.asInstanceOf[ArrayData], n.asInstanceOf[Double])

  /** Codegen target; also the interpreted kernel. */
  def assign(v: ArrayData, nrm: Double): Long = {
    val dim = v.numElements()
    // one null-element scan; a corrupt vector scores -1 everywhere
    // (the ArrayDot null → coalesce(-1) path) and lands in cid 0
    var corrupt = false
    var i = 0
    while (i < dim && !corrupt) {
      if (v.isNullAt(i)) corrupt = true
      i += 1
    }
    var best = Double.NegativeInfinity
    var bestCid = cidArr(0)
    var c = 0
    while (c < cidArr.length) {
      val cv = cvArr(c)
      var s = -1.0
      if (!corrupt && cv.length == dim) {
        var dot = 0.0
        var j = 0
        while (j < dim) {
          dot += v.getDouble(j) * cv(j)
          j += 1
        }
        val np = nrm * cnArr(c)
        val q = dot / np
        s = if (java.lang.Double.isNaN(q)) -1.0 else q
      }
      if (java.lang.Double.compare(s, best) > 0) {
        best = s
        bestCid = cidArr(c)
      }
      c += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmax", this,
      classOf[CellArgmax].getName)
    defineCodeGen(ctx, ev, (v, n) => s"$ref.assign($v, $n)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellArgmax =
    copy(vector = newLeft, nrm = newRight)
}

object CellArgmax {
  /** Column-API entry point; `cents` rows are (cid, centroid, norm). */
  def apply(v: Column, nrm: Column,
      cents: Seq[(Long, Seq[Double], Double)]): Column =
    ColumnBridge.column(CellArgmax(
      ColumnBridge.expression(v), ColumnBridge.expression(nrm), cents))
}
