package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.Wrp
import graft.sources.MsgPackWrp
import graft.streaming.Evt

/** One request body as it reaches the service: `fmt` 0 = JSON,
  * 1 = MessagePack. */
final case class Body(fmt: Byte, bytes: Array[Byte])

/** What the generator knows about one body, for the oracles. */
final case class Truth(key: String, reason: String, source: String,
    dest: String, eventType: String)

/** One route: filter.go's event regex plus the device regex layer. */
final case class Route(stream: String, eventRegex: String, deviceRegex: String)

/** Seeded input generators. Every draw comes from one
  * `java.util.SplittableRandom(seed)`, so a seed fixes the inputs. */
object Gen {

  val Reasons: Seq[String] =
    Seq("empty_payload", "invalid_format", "invalid_msg_type", "invalid_utf8")

  // event types and their weights (percent)
  private val Types: Array[(String, Int)] = Array(
    "click" -> 25, "view" -> 20, "purchase" -> 5, "signup" -> 5,
    "error" -> 10, "online" -> 10, "offline" -> 8, "reboot" -> 5,
    "heartbeat" -> 7, "config-change" -> 5)
  private val typeCdf: Array[Int] = Types.map(_._2).scanLeft(0)(_ + _).tail

  private def pickType(r: java.util.SplittableRandom): String = {
    val x = r.nextInt(100)
    Types(typeCdf.indexWhere(x < _))._1
  }

  /** The 5-filter table of `graft.queries.Events.metaRoutes`, firehose
    * included (copied so the oracle does not read the program). */
  val fanoutRoutes: Seq[Route] = Seq(
    Route("s_clicks", "^(click|view)$", ""),
    Route("s_commerce", "^(purchase|signup)$", ".*"),
    Route("s_errors", "error", "^mac:0000000000[0-4][0-9]$"),
    Route("s_dest_acks", ".*", "^error/[0-9]*[05]$"),
    Route("s_firehose", ".*", ""))

  /** 64 anchored filters, no firehose: filter k takes one event type
    * from devices k*1000 .. k*1000+999 of the 200k-device space, so
    * about 3% of events are delivered, each to at most one filter. The
    * filters share 4 streams: the sink writes a file per stream and
    * write task, and this workload is meant to spend its time before
    * the sink. */
  val selectiveRoutes: Seq[Route] = (0 until 64).map { k =>
    Route(s"sel_${k % 4}", "^" + java.util.regex.Pattern.quote(Types(k % Types.length)._1) + "$",
      f"^mac:000000$k%03d[0-9]{3}$$")
  }

  private def source(r: java.util.SplittableRandom): String = {
    // 2% of traffic from the 50 low device ids s_errors watches
    val dev = if (r.nextInt(50) == 0) r.nextInt(50) else r.nextInt(200000)
    f"mac:$dev%012d"
  }

  private def json(w: Wrp, payloadJson: String): String = {
    def q(s: String) = "\"" + s + "\""
    val sb = new StringBuilder(256)
    sb ++= "{\"msg_type\":" ++= w.msg_type.toString
    sb ++= ",\"source\":" ++= q(w.source)
    sb ++= ",\"dest\":" ++= q(w.dest)
    sb ++= ",\"transaction_uuid\":" ++= q(w.transaction_uuid)
    sb ++= ",\"content_type\":" ++= q(w.content_type)
    sb ++= ",\"partner_ids\":[" ++= w.partner_ids.map(q).mkString(",") += ']'
    sb ++= ",\"metadata\":{" ++=
      w.metadata.map { case (k, v) => q(k) + ":" + q(v) }.mkString(",") += '}'
    sb ++= ",\"payload\":" ++= payloadJson
    sb ++= ",\"session_id\":" ++= q(w.session_id)
    sb ++= ",\"qos\":" ++= w.qos.toString += '}'
    sb.toString
  }

  private val BadUtf8 = Array(0xff, 0xfe, 0xfd, 0xfc).map(_.toByte)

  /** `n` WRP bodies, half JSON and half MessagePack. About 1% of each
    * format falls in each of the four reject classes: empty, bad format
    * (a body cut in half), msg_type 3, and invalid UTF-8 in the payload
    * string. */
  def wrpBodies(seed: Long, n: Int): (Array[Body], Array[Truth]) = {
    val r = new java.util.SplittableRandom(seed)
    val bodies = new Array[Body](n)
    val truth = new Array[Truth](n)
    var i = 0
    while (i < n) {
      val fmt: Byte = if (r.nextBoolean()) 0 else 1
      val x = r.nextInt(100)
      val reason =
        if (x == 0) "empty_payload"
        else if (x == 1) "invalid_format"
        else if (x == 2) "invalid_msg_type"
        else if (x == 3) "invalid_utf8"
        else "valid"
      val et = pickType(r)
      val key = s"e$seed-$i"
      val src = source(r)
      val dest = s"event:$et/$i"
      val w = Wrp(
        msg_type = if (reason == "invalid_msg_type") 3 else 4,
        source = src, dest = dest, transaction_uuid = key,
        content_type = "application/json", partner_ids = Seq("comcast"),
        metadata = Map("/boot-time" -> (1700000000L + r.nextInt(86400)).toString,
          "/hw-model" -> s"hw${r.nextInt(8)}"),
        payload = if (reason == "invalid_utf8") "XXXX" else s"""{"v":${r.nextInt(1000)}}""",
        session_id = s"s${r.nextInt(1000000)}", qos = r.nextInt(4))
      val bytes: Array[Byte] =
        if (reason == "empty_payload") Array.emptyByteArray
        else {
          val b =
            if (fmt == 0) json(w, "\"" + w.payload.replace("\"", "\\\"") + "\"").getBytes(UTF_8)
            else MsgPackWrp.encode(w)
          if (reason == "invalid_format") java.util.Arrays.copyOf(b, b.length / 2)
          else if (reason == "invalid_utf8") {
            System.arraycopy(BadUtf8, 0, b, indexOf(b, "XXXX".getBytes(UTF_8)), BadUtf8.length)
            b
          } else b
        }
      bodies(i) = Body(fmt, bytes)
      truth(i) = Truth(key, reason, src, dest, et)
      i += 1
    }
    (bodies, truth)
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int =
    (0 to hay.length - needle.length).find { i =>
      needle.indices.forall(j => hay(i + j) == needle(j))
    }.getOrElse(sys.error("marker not found"))

  /** The routing oracle: filter.go:63-96 evaluated with java.util.regex
    * over the generator's own fields. Returns "key|stream" pairs. */
  def routeOracle(truth: Iterator[Truth], routes: Seq[Route]): Iterator[String] = {
    val compiled = routes.map(rt => (rt.stream,
      java.util.regex.Pattern.compile(rt.eventRegex),
      if (rt.deviceRegex.isEmpty || rt.deviceRegex == ".*") None
      else Some(java.util.regex.Pattern.compile(rt.deviceRegex))))
    truth.filter(_.reason == "valid").flatMap { t =>
      val stripped = t.dest.stripPrefix("event:")
      compiled.iterator.collect {
        case (stream, ev, dev) if ev.matcher(t.eventType).find() &&
            dev.forall(d => d.matcher(t.source).find() || d.matcher(stripped).find()) =>
          t.key + "|" + stream
      }
    }
  }

  /** Arrival-ordered events for the queue state machines: `streams`
    * event types with Zipf-like weights, `users` users with sticky
    * activity, and a simulated clock with idle gaps, so size, gap and
    * tick closes all fire. ts is non-decreasing in event_id. */
  def queueEvents(seed: Long, n: Int, streams: Int, users: Int): Array[Evt] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
    val w = (1 to streams).map(k => 1.0 / k)
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    var sec = 1700000000L
    val recent = Array.fill(64)(r.nextInt(users).toLong)
    Array.tabulate(n) { i =>
      sec += (if (r.nextInt(500) == 0) 3600 + r.nextInt(7200) else r.nextInt(40))
      val u = r.nextDouble()
      val s = cdf.indexWhere(u < _) match { case -1 => streams - 1; case k => k }
      val slot = r.nextInt(recent.length)
      if (r.nextInt(5) == 0) recent(slot) = r.nextInt(users).toLong
      Evt(recent(slot), new java.sql.Timestamp(sec * 1000), f"q$s%02d", i.toLong,
        r.nextInt(10000) / 100.0)
    }
  }
}
