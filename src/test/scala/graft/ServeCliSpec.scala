package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference CLI surface (`core.clj:116-128`) on Serve: `compile`
  * (EDN/JSON streams → validated canonical JSON), `test` (tap fixture
  * runner incl. the reference's no-target default routing and
  * `tap-results` alias), and graphviz export via the same dir loading.
  */
class ServeCliSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmpDir(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private def write(dir: String, name: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), text)

  private def streamsDir(): String = {
    val d = tmpDir("cli-streams")
    write(d, "keep.json",
      """{"action":"stream","params":[{"name":"keep","default":true}],
        | "children":[{"action":"where","params":[[">","metric",10]],
        |   "children":[{"action":"tap","params":["big"]}]}]}""".stripMargin)
    write(d, "targeted.edn",
      """{:targeted
        | {:actions {:action :increment
        |            :children [{:action :tap :params [:bumped]}]}}}""".stripMargin)
    d
  }

  test("runTests: target case, EDN no-target default routing, and tap-results alias") {
    val sd = streamsDir()
    val td = tmpDir("cli-tests")
    write(td, "a.json",
      """{"tests": {"t_target": {"target": "targeted",
        |  "input": [{"metric": 5, "time": 1}],
        |  "taps": {"bumped": [{"metric": 6}]}}}}""".stripMargin)
    // EDN fixture, reference shape: no :tests wrapper, no target (routes
    // through the default stream), :tap-results alias
    write(td, "b.edn",
      """{:t_default {:input [{:metric 13 :time 1}]
        |             :tap-results {:big [{:metric 13}]}}}""".stripMargin)
    val failures = Serve.runTests(spark, Seq(sd), Seq(td))
    assert(failures.isEmpty, failures.mkString("\n"))

    // a wrong expectation must FAIL, naming the tap and field
    write(td, "c.json",
      """{"tests": {"t_bad": {"target": "targeted",
        |  "input": [{"metric": 5, "time": 1}],
        |  "taps": {"bumped": [{"metric": 99}]}}}}""".stripMargin)
    val bad = Serve.runTests(spark, Seq(sd), Seq(td))
    assert(bad.exists(f => f.test == "t_bad" && f.tap == "bumped" &&
      f.message.contains("expected 99")))
  }

  test("fixtures force testMode on any registry; malformed fixture is a per-file failure") {
    val sd = streamsDir()
    val td = tmpDir("cli-tests2")
    write(td, "good.edn",
      """{:ok {:input [{:metric 13 :time 1}]
        |      :taps {:big [{:metric 13}]}}}""".stripMargin)
    write(td, "broken.edn", "{:unterminated")
    // registry built WITHOUT testMode: the runner must still record taps
    // (and never fire sinks) because runFixtureDoc forces test mode
    val failures = Serve.runTests(spark, Seq(sd), Seq(td), graft.ir.EngineCtx())
    assert(failures.size == 1 && failures.head.test == "broken.edn" &&
      failures.head.message.contains("exception during test"),
      failures.mkString("\n"))
  }

  test("compile stays total on training actions: empty-frame probe + missing model artifact") {
    val sd = tmpDir("cli-train")
    write(sd, "train.json",
      """{"action":"stream","params":[{"name":"train"}],
        | "children":[{"action":"train-logistic",
        |   "params":[{"id":"eventId","vec":"tags","label":"metric","dim":2}]}]}""".stripMargin)
    write(sd, "score.json",
      """{"action":"stream","params":[{"name":"score"}],
        | "children":[{"action":"score-logistic",
        |   "params":[{"vec":"tags","model-path":"/nonexistent/model","out":"q"}],
        |   "children":[{"action":"tap","params":["scored"]}]}]}""".stripMargin)
    val names = Serve.compileStreams(spark, sd, tmpDir("cli-train-out"))
    assert(names.sorted == Seq("score", "train"))
  }

  test("compileStreams: EDN+JSON in, validated canonical JSON out, round-trips through loadFrom") {
    val sd = streamsDir()
    val dst = tmpDir("cli-compiled")
    val names = Serve.compileStreams(spark, sd, dst)
    assert(names.sorted == Seq("keep", "targeted"))
    val reg = new graft.ir.StreamRegistry(graft.ir.EngineCtx(testMode = true))
    assert(reg.loadFrom(dst).sorted == Seq("keep", "targeted"))
    assert(reg.defaults == Seq("keep")) // default flag survives compilation

    // an invalid pipeline (unknown action) is rejected with the stream name
    val badSrc = tmpDir("cli-bad")
    write(badSrc, "x.json",
      """{"action":"stream","params":[{"name":"x"}],
        | "children":[{"action":"no-such-action","params":[]}]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Serve.compileStreams(spark, badSrc, tmpDir("cli-bad-out"))
    }
    assert(e.getMessage.contains("'x'") || e.getMessage.contains("no-such-action"))
  }
}
