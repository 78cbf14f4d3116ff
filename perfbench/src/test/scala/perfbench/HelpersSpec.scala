package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private def ramp(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tail(ramp(1000)) == Stats.Tail(99.0, 990.0, 1000))
    assert(Stats.tail(ramp(10000)) == Stats.Tail(99.9, 9990.0, 10000))
    assert(Stats.tail(ramp(100)) == Stats.Tail(90.0, 90.0, 100))
    assert(Stats.tail(ramp(99)) == Stats.Tail(75.0, 75.0, 99))
    assert(Stats.tail(ramp(40)) == Stats.Tail(75.0, 30.0, 40))
    // too few samples for any tail: the median, with the count that says so
    assert(Stats.tail(ramp(25)) == Stats.Tail(50.0, 13.0, 25))
    val t = Stats.tail(ramp(100))
    assert(ramp(100).count(_ > t.value) >= 10)
  }

  test("percentile is nearest-rank and the median of an even count is the lower middle") {
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99.9) == 7.0)
  }

  test("self time is the span minus the union of its children inside it") {
    val parent = Span(1, "http.query", 0, 100, 0, 7)
    val children = Seq(
      Span(2, "spark.job", 10, 30, 1, 7),
      Span(3, "spark.job", 20, 40, 1, 7), // overlaps the first
      Span(4, "spark.job", 90, 120, 1, 7)) // runs past the parent's end
    assert(Tracer.selfMicros(parent, children) == 100 - 30 - 10)
    assert(Tracer.selfMicros(parent, Nil) == 100)

    val t = new Tracer
    val (_, root) = t.span("root") { Thread.sleep(5) }
    t.record("child", root.startUs, root.endUs, parent = root.id)
    assert(t.all.find(_.id == root.id).contains(root))
    assert(Tracer.selfMicros(root, t.all.filter(_.parent == root.id)) == 0)
  }

  test("digest ignores row order but not row content or multiplicity") {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, -0.0))
    assert(Digest.of(rows) == Digest.of(rows.reverse))
    assert(Digest.of(rows) != Digest.of(rows :+ rows.head))
    assert(Digest.of(rows) != Digest.of(rows.updated(1, Row(2L, "b", 1.5))))
    // last-bit differences of a float sum do not change it
    assert(Digest.of(Seq(Row(0.1 + 0.2))) == Digest.of(Seq(Row(0.3))))
    assert(Digest.of(Seq(Row(-0.0))) == Digest.of(Seq(Row(0.0))))
    // map entries render in key order
    assert(Digest.render(Map("b" -> 1, "a" -> 2)) == Digest.render(Map("a" -> 2, "b" -> 1)))
  }

  test("open-loop latency counts from the due time, so a stall delays later requests") {
    var now = 0L
    val loop = new OpenLoop(10, clock = () => now, sleepUntil = t => now = math.max(now, t))
    // each operation takes 25 while one is due every 10
    val samples = loop.run(0, 40) { _ => now += 25; true }
    assert(samples.map(_.dueNanos) == Seq(0, 10, 20, 30))
    assert(samples.map(_.sentNanos) == Seq(0, 25, 50, 75))
    assert(samples.map(s => s.doneNanos - s.dueNanos) == Seq(25, 40, 55, 70))
    assert(samples.map(s => s.doneNanos - s.sentNanos).forall(_ == 25))
    assert(samples.map(_.lateMs * 1e6).map(math.round) == Seq(0, 15, 30, 45))
  }

  test("an operation that throws is a failed sample, not an aborted schedule") {
    var now = 0L
    val loop = new OpenLoop(10, clock = () => now, sleepUntil = t => now = math.max(now, t))
    val samples = loop.run(0, 30) { i => if (i == 1) throw new RuntimeException("boom") else true }
    assert(samples.map(_.ok) == Seq(true, false, true))
  }
}
