package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the geohash codec (SURVEY §2.9: the
  * scalar-UDF tier upgraded to tier (b) — a codegen'd `Expression`).
  *
  * `doGenCode` emits a direct static call into
  * [[graft.functions.GeoFunctions]] (Scala `object` methods compile to
  * static forwarders), so the call participates in whole-stage codegen
  * with no UDF boxing, no encoder round-trip, and null handling from
  * `nullSafeCodeGen`. [[GraftExtensions]] injects them into every session.
  */
case class GeohashEncode(first: Expression, second: Expression,
                         third: Expression)
    extends TernaryExpression {
  // Input typing: the registry builders wrap children in Cast (the
  // ExpectsInputTypes trait's input-type vocabulary is private[sql]).
  override def dataType: DataType = StringType
  override def prettyName: String = "geohash_encode"

  override protected def nullSafeEval(lat: Any, lon: Any, p: Any): Any =
    UTF8String.fromString(graft.functions.GeoFunctions.geohashEncode(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double], p.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, lo, p) =>
      s"${ev.value} = UTF8String.fromString(" +
        s"graft.functions.GeoFunctions.geohashEncode($la, $lo, $p));")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

abstract class GeohashDecodeBase extends UnaryExpression {
  override def dataType: DataType = DoubleType
  protected def accessor: String // "_1" (lat) | "_2" (lon)

  override protected def nullSafeEval(gh: Any): Any = {
    val (lat, lon) =
      graft.functions.GeoFunctions.geohashDecode(gh.toString)
    if (accessor == "_1") lat else lon
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, gh =>
      s"(Double) graft.functions.GeoFunctions.geohashDecode($gh.toString()).$accessor()")
}

case class GeohashDecodeLat(child: Expression) extends GeohashDecodeBase {
  override def prettyName: String = "geohash_decode_lat"
  protected def accessor: String = "_1"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class GeohashDecodeLon(child: Expression) extends GeohashDecodeBase {
  override def prettyName: String = "geohash_decode_lon"
  protected def accessor: String = "_2"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
