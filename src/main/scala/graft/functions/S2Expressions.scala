package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native Catalyst expressions for the S2 kernel.
  *
  * Each wraps a static pure function from graft.core, with `doGenCode`
  * emitting a direct static call so the whole pipeline stays inside
  * whole-stage codegen (no UDF boxing, no serialization). The underlying
  * bit semantics follow /root/reference/s2/cellid.go.
  */
object S2Expressions {
  // Codegen-reachable static entry points (Scala object static forwarders).
  final val K = "graft.core.CellId"
  final val LL = "graft.core.LatLng"
}

/** Codegen-reachable Snapper entry point: snap a lat/lng to its S2 cell
  * at a level through core.CellIdSnapper (builder_snapper.go CellIDSnapper
  * semantics). Snappers are stateless per level, so one instance per
  * level is cached for the JVM's lifetime.
  */
object SnapperStatics {
  private val snappers: Array[graft.core.CellIdSnapper] =
    Array.tabulate(graft.core.CellId.MaxLevel + 1)(graft.core.CellIdSnapper(_))
  def snapCell(latDeg: Double, lngDeg: Double, level: Int): Long = {
    require(level >= 0 && level <= graft.core.CellId.MaxLevel,
      s"s2_snap_cell level must be in [0, ${graft.core.CellId.MaxLevel}], got $level")
    snappers(level).snapToCell(graft.core.LatLng.toPointDegrees(latDeg, lngDeg))
  }
}

/** s2_snap_cell(latDeg, lngDeg, level) -> snapped cell id at the level
  * (the CellIdSnapper snap function in columnar form).
  */
case class S2SnapCellExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lat: Any, lng: Any, level: Any): Any =
    SnapperStatics.snapCell(lat.asInstanceOf[Double], lng.asInstanceOf[Double],
      level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.SnapperStatics.snapCell($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "s2_snap_cell"
}

/** s2_cellid(latDeg, lngDeg) -> level-30 leaf cell id. */
case class S2CellIdExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lat: Any, lng: Any): Any =
    graft.core.CellId.fromLatLngDegrees(lat.asInstanceOf[Double], lng.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${S2Expressions.K}.fromLatLngDegrees($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_cellid"
}

/** s2_parent(cell, level) -> ancestor cell id at level. */
case class S2ParentExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(id: Any, level: Any): Any =
    graft.core.CellId.parent(id.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${S2Expressions.K}.parent($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_parent"
}

/** s2_level(cell) -> level 0..30. */
case class S2LevelExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.level(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.level($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_level"
}

/** s2_token(cell) -> compact hex token. */
case class S2TokenExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullSafeEval(id: Any): Any =
    UTF8String.fromString(graft.core.CellId.toToken(id.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"org.apache.spark.unsafe.types.UTF8String.fromString(${S2Expressions.K}.toToken($a))")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_token"
}

/** s2_from_token(str) -> cell id (0 when invalid). */
case class S2FromTokenExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(s: Any): Any =
    graft.core.CellId.fromToken(s.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.fromToken($a.toString())")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_from_token"
}

/** s2_lat(cell) -> latitude of the cell center in degrees. */
case class S2LatExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.toLatDegrees(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.toLatDegrees($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_lat"
}

/** s2_lng(cell) -> longitude of the cell center in degrees. */
case class S2LngExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.toLngDegrees(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.toLngDegrees($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_lng"
}

/** s2_face(cell) -> cube face 0..5. */
case class S2FaceExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.face(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.face($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_face"
}

/** s2_i(cell, level) -> grid i index of the cell at the given level. */
case class S2CellIExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(id: Any, level: Any): Any =
    graft.core.CellId.iAtLevel(id.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${S2Expressions.K}.iAtLevel($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_i"
}

/** s2_j(cell, level) -> grid j index of the cell at the given level. */
case class S2CellJExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(id: Any, level: Any): Any =
    graft.core.CellId.jAtLevel(id.asInstanceOf[Long], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${S2Expressions.K}.jAtLevel($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_j"
}

/** s2_range_min(cell) / s2_range_max(cell) -> leaf range endpoints. */
case class S2RangeMinExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.rangeMin(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.rangeMin($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_range_min"
}

case class S2RangeMaxExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullSafeEval(id: Any): Any =
    graft.core.CellId.rangeMax(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${S2Expressions.K}.rangeMax($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "s2_range_max"
}

/** s2_cell_contains(ancestor, cell) -> boolean (unsigned range test). */
case class S2CellContainsExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.core.CellId.contains(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${S2Expressions.K}.contains($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_cell_contains"
}

/** s2_cells_at(cell, level) -> the cell's descendants at the level (or
  * its ancestor when already finer): executor-side covering
  * denormalization for the shuffle-path spatial joins.
  */
case class S2CellsAtExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(id: Any, level: Any): Any =
    new GenericArrayData(
      graft.core.CellId.cellsAtLevel(id.asInstanceOf[Long], level.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${S2Expressions.K}.cellsAtLevel($a, $b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_cells_at"
}

/** s2_neighbors(cell, level) -> array of all neighbor cells at level. */
case class S2NeighborsExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(id: Any, level: Any): Any =
    new GenericArrayData(
      graft.core.CellId.allNeighbors(id.asInstanceOf[Long], level.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${S2Expressions.K}.allNeighbors($a, $b))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "s2_neighbors"
}

/** s2_distance(lat1, lng1, lat2, lng2) -> haversine angle in radians
  * (degrees in).
  */
case class S2DistanceExpr(children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) null
    else {
      val d = LatLngStatics.distanceDegrees(
        vals(0).asInstanceOf[Double], vals(1).asInstanceOf[Double],
        vals(2).asInstanceOf[Double], vals(3).asInstanceOf[Double])
      d
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val nullChecks = evals.map(e => e.isNull.toString).mkString(" || ")
    ev.copy(code =
      org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper(
        new StringContext(
          evals.map(_.code.toString).mkString("\n") + s"""
      boolean ${ev.isNull} = $nullChecks;
      double ${ev.value} = -1.0;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.LatLngStatics.distanceDegrees(
          ${evals(0).value}, ${evals(1).value}, ${evals(2).value}, ${evals(3).value});
      }
      """)).code())
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
  override def prettyName: String = "s2_distance"
}

/** tile_x(lngDeg, zoom) -> Web-Mercator slippy tile x index. */
case class TileXExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lng: Any, zoom: Any): Any =
    graft.core.WebMercator.tileX(lng.asInstanceOf[Double], zoom.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.WebMercator.tileX($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "tile_x"
}

/** tile_y(latDeg, zoom) -> Web-Mercator slippy tile y index. */
case class TileYExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullSafeEval(lat: Any, zoom: Any): Any =
    graft.core.WebMercator.tileY(lat.asInstanceOf[Double], zoom.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.WebMercator.tileY($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "tile_y"
}

/** Fast geotag parse: scans for "geo:LAT,LNG" with plain byte search
  * instead of regex (the geocode step dominates the headline pipeline;
  * this is ~10x cheaper per row than regexp_extract and produces
  * bit-identical doubles since both paths end in Double.parseDouble on
  * the same substring).
  */
object GeoParse {
  // Design notes, both measured:
  //  - Decode-then-String-ops is deliberate. An in-place UTF8String scan
  //    (indexOf/substring) parsed 5-6x slower, because UTF8String.indexOf
  //    walks chars via numBytesForFirstByte while String.indexOf is
  //    JIT-intrinsified; the one-copy decode of ~150 B is cheap next to
  //    that. A raw Platform.getByte loop over the bytes, bit-identical
  //    output, took 178 ns per row against this decode's 162 ns (lat +
  //    lng, one thread of a 4-core container, JIT warm, 200k
  //    fixture-shaped texts), so it is no faster either.
  //  - A per-thread single-entry memo keyed by REFERENCE identity:
  //    Catalyst pushes PagesSource.withLatLng's NaN filter below the
  //    lat/lng projection, substituting the parse into the filter
  //    condition, so geo_lat/geo_lng evaluate 4-6x per row in the
  //    headline stage. All of those evaluations consume the same
  //    UTF8String local (one whole-stage-codegen row pipeline), and the
  //    vectorized reader wraps a FRESH UTF8String per row, so `eq` on
  //    the incoming object is a sound cache key: identical reference
  //    implies identical bytes, and a new row always misses. One parse
  //    per row instead of 4-6, and lat+lng share the single decode.
  private final class Memo {
    var ref: UTF8String = null
    var lat: Double = Double.NaN
    var lng: Double = Double.NaN
  }
  private val memo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo
  }

  private val pow10 = Array.tabulate(16)(k => math.pow(10, k)) // all exact

  /** Parse str[from, to) as a double, bit-identical to
    * Double.parseDouble on the same slice (NaN where it would throw).
    *
    * Fast path for plain fixed-point decimals `[+-]?digits[.digits]`
    * with <= 15 total digits — the fixture's "%.6f" grammar: the digit
    * string as an integer N < 10^15 < 2^53 is exactly representable, so
    * is 10^k (k <= 15), and IEEE division of two exact values returns
    * the correctly-rounded true rational N/10^k — the SAME value the
    * general decimal parser correctly rounds. parseDouble costs ~10x
    * the digit loop (FloatingDecimal + the substring allocation), so
    * everything not matching this grammar (exponents, hex, >15 digits,
    * Infinity/NaN, garbage) falls back to it verbatim.
    */
  private def parseField(str: String, from: Int, to: Int): Double = {
    var i = from
    var neg = false
    if (i < to) {
      val c0 = str.charAt(i)
      if (c0 == '-' || c0 == '+') { neg = c0 == '-'; i += 1 }
    }
    var n = 0L
    var digits = 0
    var frac = -1
    var plain = true
    while (plain && i < to) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') {
        n = n * 10 + (c - '0'); digits += 1
        if (frac >= 0) frac += 1
        i += 1
      } else if (c == '.' && frac < 0) { frac = 0; i += 1 }
      else plain = false
    }
    if (plain && digits > 0 && digits <= 15) {
      val v = n / pow10(if (frac > 0) frac else 0)
      if (neg) -v else v
    } else {
      try java.lang.Double.parseDouble(str.substring(from, to))
      catch { case _: NumberFormatException => Double.NaN }
    }
  }

  private def parse(s: UTF8String, m: Memo): Unit = {
    m.ref = s
    m.lat = Double.NaN
    m.lng = Double.NaN
    val str = s.toString
    val tag = str.indexOf("geo:")
    if (tag < 0) return
    val start = tag + 4
    val comma = str.indexOf(',', start)
    if (comma < 0) return
    // Fields fail independently: a malformed number yields NaN for that
    // field only (same behavior as a regex-non-match producing null),
    // dropped by PagesSource.withLatLng's finite filter.
    m.lat = parseField(str, start, comma)
    var end = comma + 1
    while (end < str.length && str.charAt(end) != ' ') end += 1
    m.lng = parseField(str, comma + 1, end)
  }

  def lat(s: UTF8String): Double = {
    val m = memo.get()
    if (m.ref ne s) parse(s, m)
    m.lat
  }
  def lng(s: UTF8String): Double = {
    val m = memo.get()
    if (m.ref ne s) parse(s, m)
    m.lng
  }
}

/** geo_lat(text) -> latitude parsed from the geo: tag. */
case class GeoLatExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(s: Any): Any =
    GeoParse.lat(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GeoParse.lat($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "geo_lat"
}

/** geo_lng(text) -> longitude parsed from the geo: tag. */
case class GeoLngExpr(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(s: Any): Any =
    GeoParse.lng(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GeoParse.lng($a)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "geo_lng"
}

/** Java-static helpers for codegen call sites. */
object LatLngStatics {
  def distanceDegrees(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double =
    graft.core.LatLng.distance(
      lat1 * graft.core.LatLng.DegToRad, lng1 * graft.core.LatLng.DegToRad,
      lat2 * graft.core.LatLng.DegToRad, lng2 * graft.core.LatLng.DegToRad)

  /** Squared chord distance between two lat/lng pairs in degrees. */
  def chord2Degrees(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val a = graft.core.LatLng.toPointDegrees(lat1, lng1)
    val b = graft.core.LatLng.toPointDegrees(lat2, lng2)
    graft.core.LatLng.chordAngle2(a, b)
  }
}

/** Column API + SQL registration. */
object S2 {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def cellId(lat: Column, lng: Column): Column = col(S2CellIdExpr(expr(lat), expr(lng)))
  def snapCell(lat: Column, lng: Column, level: Column): Column =
    col(S2SnapCellExpr(expr(lat), expr(lng), expr(level)))
  def parent(cell: Column, level: Column): Column = col(S2ParentExpr(expr(cell), expr(level)))
  def level(cell: Column): Column = col(S2LevelExpr(expr(cell)))
  def token(cell: Column): Column = col(S2TokenExpr(expr(cell)))
  def fromToken(tok: Column): Column = col(S2FromTokenExpr(expr(tok)))
  def lat(cell: Column): Column = col(S2LatExpr(expr(cell)))
  def lng(cell: Column): Column = col(S2LngExpr(expr(cell)))
  def face(cell: Column): Column = col(S2FaceExpr(expr(cell)))
  def cellI(cell: Column, level: Column): Column = col(S2CellIExpr(expr(cell), expr(level)))
  def cellJ(cell: Column, level: Column): Column = col(S2CellJExpr(expr(cell), expr(level)))
  def rangeMin(cell: Column): Column = col(S2RangeMinExpr(expr(cell)))
  def rangeMax(cell: Column): Column = col(S2RangeMaxExpr(expr(cell)))
  def cellContains(anc: Column, cell: Column): Column =
    col(S2CellContainsExpr(expr(anc), expr(cell)))
  def neighbors(cell: Column, level: Column): Column =
    col(S2NeighborsExpr(expr(cell), expr(level)))
  def cellsAt(cell: Column, level: Column): Column =
    col(S2CellsAtExpr(expr(cell), expr(level)))
  def distance(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column =
    col(S2DistanceExpr(Seq(expr(lat1), expr(lng1), expr(lat2), expr(lng2))))
  def tileX(lng: Column, zoom: Column): Column = col(TileXExpr(expr(lng), expr(zoom)))
  def tileY(lat: Column, zoom: Column): Column = col(TileYExpr(expr(lat), expr(zoom)))
  def geoLat(text: Column): Column = col(GeoLatExpr(expr(text)))
  def geoLng(text: Column): Column = col(GeoLngExpr(expr(text)))
}
