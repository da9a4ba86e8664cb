package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExpectedSpec extends AnyFunSuite {
  private val golden = Expected.load("../src/test/resources/fixtures/gen_corpus_golden.tsv")
  // riskloc on 328006: two predictions, both right
  private val e = golden(("riskloc", "328006"))
  private def outcome(preds: Seq[String]) = {
    val x = Expected.of(e.label, preds)
    Outcome("328006", x.tp, x.fp, x.fn, Some(preds))
  }

  test("the golden's own predictions pass") {
    assert(e.predictions.size == 2)
    assert(Expected.check(golden, "riskloc", Seq("328006"), Seq(outcome(e.predictions))).isEmpty)
    // order and element order within a prediction do not matter
    val reordered = e.predictions.reverse.map(_.split('&').reverse.mkString("&"))
    assert(Expected.check(golden, "riskloc", Seq("328006"), Seq(outcome(reordered))).isEmpty)
  }

  test("a deliberately wrong prediction fails on its scores") {
    val wrong = Seq(e.predictions.head, "a=a6")
    val msg = Expected.check(golden, "riskloc", Seq("328006"), Seq(outcome(wrong)))
    assert(msg.exists(_.contains("scores")), msg)
  }

  test("a wrong prediction with the right scores fails on the predictions") {
    // swap one true positive for another label element: same counts
    val e2 = golden(("riskloc", "202669"))
    val truth = e2.label.split(';').toSeq
    val other = truth.filterNot(e2.predictions.contains).head
    val swapped = e2.predictions.tail :+ other
    val x = Expected.of(e2.label, swapped)
    assert((x.tp, x.fp, x.fn) == ((e2.tp, e2.fp, e2.fn)))
    val msg = Expected.check(golden, "riskloc", Seq("202669"),
      Seq(Outcome("202669", x.tp, x.fp, x.fn, Some(swapped))))
    assert(msg.exists(_.contains("predictions")), msg)
    // scores alone (the Runner entry points) cannot see this swap
    assert(Expected.check(golden, "riskloc", Seq("202669"),
      Seq(Outcome("202669", x.tp, x.fp, x.fn, None))).isEmpty)
  }

  test("missing, duplicate, unrecorded and unrequested outcomes fail") {
    val ok = outcome(e.predictions)
    assert(Expected.check(golden, "riskloc", Seq("328006"), Seq.empty)
      .exists(_.contains("missing prediction")))
    assert(Expected.check(golden, "riskloc", Seq("328006"), Seq(ok, ok)).isDefined)
    assert(Expected.check(golden, "no_such_algorithm", Seq("328006"), Seq(ok))
      .exists(_.contains("no expected")))
    assert(Expected.check(golden, "riskloc", Seq.empty, Seq(ok)).exists(_.contains("unrequested")))
  }

  test("write and load round-trip") {
    val path = "target/test-expected/x.tsv"
    Expected.write(path, Seq(("riskloc", "328006") -> e))
    assert(Expected.load(path) == Map(("riskloc", "328006") -> e))
  }
}
