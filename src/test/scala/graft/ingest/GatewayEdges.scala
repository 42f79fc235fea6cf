package graft.ingest

/** The best-gateway argmax edge table shared by [[TtnFastJsonSpec]] and
  * `graft.plans.GatewayExpressionsSpec`: exact score ties (broken by the
  * larger id, also between 0.0 and −0.0), null score components, null
  * ids, null and all-null elements, empty and null arrays. Elements are
  * (gtw_id, rssi, snr), None for a null element; None for a null array. */
object GatewayEdges {
  type Gw = Option[(String, java.lang.Double, java.lang.Double)]
  private def gw(id: String, rssi: java.lang.Double, snr: java.lang.Double): Gw =
    Some((id, rssi, snr))

  val edges: Seq[(String, Option[Seq[Gw]])] = Seq(
    "rssi_wins" -> Some(Seq(gw("a", -60.0, 5.0), gw("b", -50.0, 5.0))),
    "singleton" -> Some(Seq(gw("a", -60.0, 5.0))),
    "empty" -> Some(Seq.empty),
    "null_array" -> None,
    "exact_tie" -> Some(Seq(gw("a", -50.0, 5.0), gw("b", -50.0, 5.0))), // max id
    "null_rssi_loses" -> Some(Seq(gw("a", null, 5.0), gw("b", -90.0, -9.0))),
    "null_rssi_nulls_score" -> Some(Seq(gw("a", null, null), gw("b", null, 1.0))),
    "all_null_scores" -> Some(Seq(gw("a", null, null), gw("b", null, null))),
    "null_id_loses_tie" -> Some(Seq(gw(null, -50.0, 5.0), gw("b", -50.0, 5.0))),
    "null_element" -> Some(Seq(None, gw("b", -70.0, 2.0))),
    "close_scores" -> Some(Seq(gw("gw1", -119.9, -10.0), gw("gw0", -119.8, -10.0))),
    "all_null_elements" -> Some(Seq(None)),
    // -0.0 and 0.0 are equal scores, so the larger id wins the tie
    "neg_zero_tie" -> Some(Seq(gw("a", 0.0, 0.0), gw("b", -0.0, -0.0))))

  private def q(s: String) = "\"" + s + "\""
  private def jsonNum(d: java.lang.Double) = if (d == null) "null" else d.toString
  private def jsonStr(s: String) = if (s == null) "null" else q(s)

  /** Each edge array as a V2 and as a V3 envelope line, topic
    * `v2/<case>` / `v3/<case>`. */
  def lines: Seq[String] = edges.flatMap { case (name, arr) =>
    def render(el: Gw => String) =
      arr.fold("null")(_.map(el).mkString("[", ",", "]"))
    val v2 = render(_.fold("null") { case (id, rssi, snr) =>
      s"""{"gtw_id":${jsonStr(id)},"rssi":${jsonNum(rssi)},"snr":${jsonNum(snr)}}""" })
    val v3 = render(_.fold("null") { case (id, rssi, snr) =>
      s"""{"gateway_ids":{"gateway_id":${jsonStr(id)}},""" +
        s""""rssi":${jsonNum(rssi)},"snr":${jsonNum(snr)}}""" })
    Seq(
      s"""v2/$name {"app_id":"app","dev_id":"d","port":4,"counter":1,""" +
        s""""payload_raw":"AQ==","metadata":{"time":"2024-01-01T00:00:00Z",""" +
        s""""gateways":$v2}}""",
      s"""v3/$name {"end_device_ids":{"device_id":"d","application_ids":""" +
        s"""{"application_id":"app"}},"received_at":"2024-01-01T00:00:00Z",""" +
        s""""uplink_message":{"f_port":4,"f_cnt":1,"frm_payload":"AQ==",""" +
        s""""rx_metadata":$v3}}""")
  }
}
