package perfbench

import perfbench.TcpWorkload._

/** Shows that every output check rejects a perturbed expectation: each
  * case builds a correct output, confirms the check accepts it, then
  * perturbs it and confirms the check fails. Returns the cases that
  * misbehaved; empty means the checks are live.
  */
object SelfTest {
  def run(): Seq[String] = {
    val f = Gen.frame(7L, 0, 0, 400, 20)
    val g = Gen.frame(7L, 0, 1, 400, 20)
    val acked = Op(0, f, 0L, 1L, ok = true, answered = true, null)
    val nacked = Op(0, g, 1L, 2L, ok = false, answered = true, "nack")
    val rows = Gen.expectedAlerts(f).map(a => Row(a.host, a.windowStart, a.mean, a.latestTimeNs, a.latestService))
    val gRows = Gen.expectedAlerts(g).map(a => Row(a.host, a.windowStart, a.mean, a.latestTimeNs, a.latestService))
    val crit = Gen.criticalTimes(f)
    val fp = BatchWorkload.Fingerprint(6L, "12345")
    val exec = BatchWorkload.Exec("q", 1.0, fp, Seq("multiply"))

    def accepts(name: String, errs: Seq[String]) = if (errs.isEmpty) Nil else Seq(s"$name: correct output rejected: ${errs.head}")
    def rejects(name: String, errs: Seq[String]) = if (errs.nonEmpty) Nil else Seq(s"$name: perturbed output accepted")

    require(rows.size > 10 && crit.nonEmpty, "self-test frame too small")
    accepts("alerts", checkAlerts(Seq(acked, nacked), rows)) ++
      rejects("alerts: mean perturbed", checkAlerts(Seq(acked), rows.updated(3, rows(3).copy(mean = rows(3).mean + 1e-6)))) ++
      rejects("alerts: row missing", checkAlerts(Seq(acked), rows.tail)) ++
      rejects("alerts: row duplicated", checkAlerts(Seq(acked), rows :+ rows.head)) ++
      rejects("alerts: latest event wrong", checkAlerts(Seq(acked), rows.updated(0, rows.head.copy(timeNs = rows.head.timeNs - 1)))) ++
      rejects("alerts: nacked frame left rows", checkAlerts(Seq(acked, nacked), rows ++ gRows.take(1))) ++
      rejects("alerts: row of no frame", checkAlerts(Seq(acked), rows :+ rows.head.copy(timeNs = 42L))) ++
      accepts("websocket", checkWebSocket(Seq(acked, nacked), crit.reverse)) ++
      rejects("websocket: event missing", checkWebSocket(Seq(acked), crit.tail)) ++
      rejects("websocket: event twice", checkWebSocket(Seq(acked), crit :+ crit.head)) ++
      rejects("websocket: nacked frame published", checkWebSocket(Seq(acked, nacked), crit ++ Gen.criticalTimes(g).take(1))) ++
      accepts("batch", BatchWorkload.check(exec, Map("q" -> fp))) ++
      rejects("batch: fingerprint perturbed", BatchWorkload.check(exec, Map("q" -> fp.copy(hash = "12346")))) ++
      rejects("batch: row count perturbed", BatchWorkload.check(exec, Map("q" -> fp.copy(rows = 7L)))) ++
      rejects("batch: bare scan", BatchWorkload.check(exec.copy(kernels = Nil), Map("q" -> fp)))
  }
}
