package perfbench

import java.io.ByteArrayOutputStream

/** Seeded event generator and client-side Riemann wire encoder.
  *
  * Every frame owns a disjoint event-time range, so any output row (whose
  * `time` is the time of one of the frame's events) maps back to exactly
  * one frame. Event times are generated here and never taken from the
  * server clock. The encoder is written against the public Riemann
  * `proto.proto` and shares no code with the server's codec.
  */
object Gen {
  val Hosts = 50
  val Services = 20
  val WindowNs: Long = 10L * 1000000000L
  /** Start of the generated time axis (2023-11-14T22:13:20Z). */
  private val OriginUs: Long = 1700000000L * 1000000L
  private val LaneFrames = 10000L

  final case class Ev(timeNs: Long, host: Int, service: Int, critical: Boolean, metric: Double) {
    def hostName: String = f"host-$host%02d"
    def serviceName: String = f"svc-$service%02d"
    def state: String = if (critical) "critical" else "ok"
  }

  /** One frame: the encoded wire bytes (4-byte length prefix included).
    * Its events are regenerated on demand rather than kept, so a pool of
    * large frames costs only its bytes.
    */
  final class Frame(val id: String, val startNs: Long, val endNs: Long,
                    val bytes: Array[Byte], gen: () => Array[Ev]) {
    /** The events in send order. */
    def events: Array[Ev] = gen()
    /** Payload without the 4-byte length prefix, as the server decodes it. */
    def payload: Array[Byte] = java.util.Arrays.copyOfRange(bytes, 4, bytes.length)
  }

  private def startUs(lane: Int, seq: Int, spanS: Int): Long = {
    // lanes are 10^4 frames apart on the time axis; frames never overlap
    require(seq < LaneFrames, s"frame $seq beyond the lane's $LaneFrames frames")
    OriginUs + (lane.toLong * LaneFrames + seq) * spanS * 1000000L
  }

  /** Events of frame `seq` of stream `lane`: `n` events over `spanS`
    * seconds of event time. The rng is derived from (seed, lane, seq), so a
    * frame's content does not depend on how many frames were generated
    * before it.
    */
  def events(seed: Long, lane: Int, seq: Int, n: Int, spanS: Int): Array[Ev] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L ^ (lane.toLong << 32) ^ seq.toLong)
    val start = startUs(lane, seq, spanS)
    val stepUs = spanS * 1000000L / n
    val times = Array.tabulate(n)(i => start + i * stepUs + rng.nextLong(math.max(1L, stepUs)))
    // about 2% of events arrive out of order: swapped with their
    // predecessor, which lies in the same or the previous window
    var i = 1
    while (i < n) {
      if (rng.nextInt(100) < 2) { val t = times(i); times(i) = times(i - 1); times(i - 1) = t; i += 1 }
      i += 1
    }
    Array.tabulate(n) { j =>
      Ev(times(j) * 1000L, rng.nextInt(Hosts), rng.nextInt(Services),
        rng.nextInt(100) < 5, rng.nextInt(1000000) / 10000.0)
    }
  }

  def frame(seed: Long, lane: Int, seq: Int, n: Int, spanS: Int): Frame = {
    val start = startUs(lane, seq, spanS)
    new Frame(s"$lane/$seq", start * 1000L, (start + spanS * 1000000L) * 1000L,
      encode(events(seed, lane, seq, n, spanS)), () => events(seed, lane, seq, n, spanS))
  }

  // ---- Riemann proto2 wire encoding (Msg.events = 6) ----

  private def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) { o.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }
  private def str(o: ByteArrayOutputStream, field: Int, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    varint(o, (field << 3) | 2); varint(o, b.length); o.write(b, 0, b.length)
  }

  def encode(events: Array[Ev]): Array[Byte] = {
    val msg = new ByteArrayOutputStream(events.length * 64 + 16)
    val ev = new ByteArrayOutputStream(96)
    events.foreach { e =>
      ev.reset()
      str(ev, 2, e.state)
      str(ev, 3, e.serviceName)
      str(ev, 4, e.hostName)
      str(ev, 7, "perfbench")
      varint(ev, (10 << 3) | 0); varint(ev, e.timeNs / 1000L) // time_micros
      varint(ev, (14 << 3) | 1)                               // metric_d
      val bits = java.lang.Double.doubleToLongBits(e.metric)
      var k = 0
      while (k < 8) { ev.write(((bits >>> (8 * k)) & 0xFF).toInt); k += 1 }
      varint(msg, (6 << 3) | 2); varint(msg, ev.size()); ev.writeTo(msg)
    }
    val body = msg.toByteArray
    val out = new Array[Byte](body.length + 4)
    java.nio.ByteBuffer.wrap(out).putInt(body.length)
    System.arraycopy(body, 0, out, 4, body.length)
    out
  }

  /** Decode the (ok, error) fields of an ack `Msg` (ok = 2, error = 3). */
  def decodeAck(buf: Array[Byte]): (Boolean, String) = {
    var pos = 0
    var ok = false
    var err: String = null
    def vint(): Long = {
      var r = 0L; var shift = 0; var b = 0
      do { b = buf(pos) & 0xFF; pos += 1; r |= (b & 0x7FL) << shift; shift += 7 } while ((b & 0x80) != 0)
      r
    }
    while (pos < buf.length) {
      val tag = vint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 0) => ok = vint() != 0L
        case (3, 2) =>
          val n = vint().toInt
          err = new String(buf, pos, n, java.nio.charset.StandardCharsets.UTF_8); pos += n
        case (_, 0) => vint()
        case (_, 2) => pos += vint().toInt
        case (_, 1) => pos += 8
        case (_, 5) => pos += 4
        case (_, w) => throw new IllegalStateException(s"ack: unsupported wire type $w")
      }
    }
    (ok, err)
  }

  // ---- expected outputs ----

  /** One alert-sink row: the stream `where metric > 50 → by host →
    * fixed-time-window 10 s → coll-mean` emits, per pushed frame and per
    * (host, window), the mean metric and the latest event's fields.
    */
  final case class Alert(host: String, windowStart: Long, mean: Double,
                         latestTimeNs: Long, latestService: String)

  def expectedAlerts(f: Frame): Seq[Alert] =
    f.events.zipWithIndex.filter(_._1.metric > 50.0)
      .groupBy { case (e, _) => (e.host, Math.floorDiv(e.timeNs, WindowNs) * WindowNs) }
      .toSeq.map { case ((h, ws), evs) =>
        // the window payload is ordered by (time, arrival); the mean folds
        // in that order, as the stream does
        val ordered = evs.sortBy { case (e, i) => (e.timeNs, i) }.map(_._1)
        val sum = ordered.foldLeft(0.0)(_ + _.metric)
        val last = ordered.last
        Alert(last.hostName, ws, sum / ordered.length, last.timeNs, last.serviceName)
      }

  def criticalTimes(f: Frame): Seq[Long] = f.events.filter(_.critical).map(_.timeNs).toSeq
}
