package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.TtnFastJson

/** Native TTN envelope parse — SURVEY §2.3 D1 + D5 (reference:
  * lib/MyMQTTclient.py:312-418 RecordImport, MyDatacollector.py:1467-1470
  * — argmax of 10·snr + 0.2·rssi). Wraps
  * [[graft.ingest.TtnFastJson.parseFused]] — a single-pass byte-level
  * recursive-descent extractor over the envelope JSON — as a
  * codegen-friendly expression: the generated code is one static call
  * into the parser (Scala top-level objects emit static forwarders), so
  * the surrounding Project stays inside whole-stage codegen instead of
  * falling back the way an interpreted `from_json` stage does.
  *
  * Returns `struct<app_id, dev_id, port, counter, payload_b64,
  * event_time, n_gateways, best_score, best_gtw_id>`: the best-gateway
  * argmax and the gateway count are reduced per element inside the parse
  * (r12, VERDICT r11 item 2), so the per-row gateway `array<struct>` is
  * never materialized. Null for null input or a malformed document (the
  * PERMISSIVE `from_json` contract); parity with the Jackson reference
  * [[graft.ingest.TtnEnvelope.parseJackson]] is differential-fuzzed in
  * TtnFastJsonSpec. */
case class TtnParseBest(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TtnFastJson.fusedOutType
  override def nullable: Boolean = true
  override def prettyName: String = "ttn_parse_best"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ttn_parse_best expects a string column, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    TtnFastJson.parseFused(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = ctx.freshName("env")
    nullSafeCodeGen(ctx, ev, line => s"""
       |InternalRow $out = graft.ingest.TtnFastJson.parseFused($line);
       |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = $out; }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
