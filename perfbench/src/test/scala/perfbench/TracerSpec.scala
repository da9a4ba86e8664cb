package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

class TracerSpec extends AnyFunSuite {

  private def start(t: Tracer, job: Int, atMs: Long, span: Option[Int]): Unit = {
    val p = new Properties()
    span.foreach(s => p.setProperty(Tracer.SpanKey, s.toString))
    t.onJobStart(SparkListenerJobStart(job, atMs, Seq.empty, p))
  }
  private def end(t: Tracer, job: Int, atMs: Long): Unit =
    t.onJobEnd(SparkListenerJobEnd(job, atMs, JobSucceeded))

  test("busy time merges overlapping jobs of one layer") {
    val t = new Tracer((_, _) => ())
    t.span("algorithms.riskloc", 1) {
      val id = t.current
      start(t, 1, 1000, id); start(t, 2, 1500, id) // concurrent jobs
      end(t, 1, 2000); end(t, 2, 2600)
      start(t, 3, 3000, id); end(t, 3, 3100)
    }
    val l = t.layers.find(_.name == "algorithms.riskloc").get
    assert(l.counts.jobs == 3)
    assert(l.counts.busyMs == 1700L) // 1000-2600 plus 3000-3100, not 1000+1100+100
  }

  test("jobs that never get an end event are counted, not dropped") {
    val t = new Tracer((_, _) => ())
    t.span("sources.load", 1) {
      start(t, 1, 0, t.current); end(t, 1, 10)
      start(t, 2, 20, t.current) // end event lost
    }
    assert(t.unfinishedJobs == 1)
    val l = t.layers.find(_.name == "sources.load").get
    assert(l.counts.jobs == 2 && l.counts.busyMs == 10L)
  }

  test("jobs outside any span are unattributed") {
    val t = new Tracer((_, _) => ())
    start(t, 7, 0, None); end(t, 7, 5)
    assert(t.layers.map(l => l.name -> l.counts.jobs) == Seq(Tracer.Unattributed -> 1))
  }

  test("spans nest per thread, set the local property and report self time") {
    val props = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val t = new Tracer((k, v) => props += k -> v)
    t.span("request", 4) {
      Thread.sleep(20)
      t.span("eval.score", 4)(Thread.sleep(30))
    }
    val spans = t.allSpans
    assert(spans.map(_.name) == Seq("request", "eval.score"))
    assert(spans(1).parent == spans(0).id && spans.forall(_.request == 4))
    assert(props.toSeq == Seq(Tracer.SpanKey -> "0", Tracer.SpanKey -> "1",
      Tracer.SpanKey -> "0", Tracer.SpanKey -> null))
    val req = t.layers.find(_.name == "request").get
    val score = t.layers.find(_.name == "eval.score").get
    assert(math.abs(req.wallS - req.selfS - score.wallS) < 1e-6)
    assert(req.selfS >= 0.015 && score.selfS >= 0.025)
  }
}
