package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {

  test("an operation that throws is counted as failed and adds no sample") {
    val rec = new Recorder
    val got = rec.op("migrate")(throw new AssertionError("tampered"))(_ => None)
    assert(got.isEmpty)
    assert(rec.attempted == 1 && rec.failed == 1)
    assert(rec.samplesOf("migrate").isEmpty)
    assert(rec.failureList.map(_._1) == Seq("migrate"))
    assert(rec.failureList.head._2.contains("tampered"))
  }

  test("an operation whose output check fails is counted as failed and adds no sample") {
    val rec = new Recorder
    assert(rec.op("read")(41)(v => if (v == 42) None else Some(s"got $v")).isEmpty)
    assert(rec.op("read")(42)(v => if (v == 42) None else Some(s"got $v")).nonEmpty)
    assert(rec.attempted == 2 && rec.failed == 1)
    assert(rec.samplesOf("read").size == 1)
    assert(rec.failureList == Seq("read" -> "got 41"))
  }

  test("a check that throws counts as a failed check") {
    val rec = new Recorder
    assert(rec.op("q")(1)(_ => throw new IllegalStateException("boom")).isEmpty)
    assert(rec.failed == 1 && rec.samplesOf("q").isEmpty)
  }

  test("a successful operation is timed") {
    val rec = new Recorder
    val Some((v, t)) = rec.op("sleep") { Thread.sleep(20); 7 }(_ => None)
    assert(v == 7 && t.seconds >= 0.02 && t.cpuSeconds >= 0)
    assert(rec.samplesOf("sleep") == Seq(t.seconds))
    assert(rec.failed == 0)
  }

  test("median and the tail percentile with ten samples beyond it") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // 20 samples: p50 has 10 above it; p55 would leave only 9
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0)))
    // 100 samples: p90 is the 90th value and leaves 10 above it
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
  }
}
