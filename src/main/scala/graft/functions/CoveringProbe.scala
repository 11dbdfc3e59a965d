package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import graft.ops.SpatialJoin.CoveringIndex

/** Covering-probe kernel shared by interpreted eval and generated code:
  * leaf-encode the point, probe the broadcast CoveringIndex with the leaf,
  * refine boundary candidates exactly. The index labels regions by
  * position (SpatialJoin.indexByPosition); candidates are deduped and
  * refined by position, and the matching regions' ids are returned. A
  * point with a non-finite coordinate matches none (CellId encodes every
  * such point to one corner leaf, which a covering may contain).
  */
object CoveringProbe {
  /** (index by position, region id by position, refine(position, lat, lng)). */
  type State = (CoveringIndex, Array[Long], (Int, Double, Double) => Boolean)

  def probe(bc: Broadcast[State], lat: Double, lng: Double): Array[Long] = {
    if (!java.lang.Double.isFinite(lat) || !java.lang.Double.isFinite(lng)) return empty
    val (idx, ids, refine) = bc.value
    val leaf = graft.core.CellId.fromLatLngDegrees(lat, lng)
    val cands = idx.candidates(leaf)
    if (cands.length == 0) return CoveringProbe.empty
    // positions of the matches, mapped to ids once the scan is done
    var out: Array[Long] = null
    var n = 0
    var i = 0
    while (i < cands.length) {
      val pos = cands(i) >> 1
      val interior = (cands(i) & 1L) == 1L
      var dup = false
      var k = 0
      while (k < n) { if (out(k) == pos) { dup = true; k = n } else k += 1 }
      if (!dup && (interior || refine(pos.toInt, lat, lng))) {
        if (out == null) out = new Array[Long](cands.length)
        out(n) = pos
        n += 1
      }
      i += 1
    }
    if (n == 0) return empty
    val res = if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    var j = 0
    while (j < n) { res(j) = ids(res(j).toInt); j += 1 }
    res
  }

  private val empty = Array.empty[Long]
}

/** covering_probe(lat, lng) -> array of region ids containing the point.
  *
  * Replaces the boxed ScalaUDF on the headline join's hottest path: a
  * native expression whose doGenCode emits one static call, so the probe
  * stays inside whole-stage codegen with primitive doubles in and a
  * single array allocation out (VERDICT r1 finding #3). The broadcast
  * handle rides along via the codegen reference array, so executors
  * resolve the index through normal broadcast machinery.
  */
case class CoveringProbeExpr(left: Expression, right: Expression,
                             bc: Broadcast[CoveringProbe.State])
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(lat: Any, lng: Any): Any =
    new GenericArrayData(CoveringProbe.probe(bc,
      lat.asInstanceOf[Double], lng.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("coveringProbeBc", bc,
      classOf[Broadcast[CoveringProbe.State]].getName)
    defineCodeGen(ctx, ev, (lat, lng) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.CoveringProbe.probe($bcRef, $lat, $lng))")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "covering_probe"
}
