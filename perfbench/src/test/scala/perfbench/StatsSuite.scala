package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSuite extends AnyFunSuite {
  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(Seq(7.0), 75) == 7.0)
  }

  test("tail percentile: the highest one with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000) {
      val xs = (1 to n).map(_.toDouble)
      Stats.tailPercentile(n) match {
        case Some(p) =>
          val v = Stats.percentile(xs, p)
          assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
          // No higher rung of the ladder would also leave 10 beyond.
          Stats.Ladder.filter(_ > p).foreach { q =>
            assert(xs.count(_ > Stats.percentile(xs, q)) < 10, s"n=$n q=$q")
          }
        case None =>
          assert(xs.count(_ > Stats.percentile(xs, 50)) < 10, s"n=$n")
      }
    }
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    // Overlapping children are counted once.
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L), (35L, 45L))) == 50)
    // Children that stick out of the parent count only inside it.
    assert(Stats.selfTime(50, 100, Seq((0L, 60L), (90L, 200L))) == 30)
    // A child outside the parent, or empty, covers nothing.
    assert(Stats.selfTime(0, 100, Seq((200L, 300L), (40L, 40L))) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("tracer self times follow the span tree") {
    val t = new Tracer
    val run = t.add(-1, "run", "w", 0, 1000)
    val key = t.add(run.id, "key", "k", 100, 900)
    val build = t.add(key.id, "build", "k", 100, 500)
    t.add(build.id, "job", "job 0", 200, 300)
    t.add(build.id, "job", "job 1", 250, 400)
    val sink = t.add(key.id, "sink", "k", 500, 900)
    val self = t.selfSeconds
    assert(self(run.id) == 200 / 1e9)
    assert(self(key.id) == 0.0)
    assert(self(build.id) == 200 / 1e9)
    assert(self(sink.id) == 400 / 1e9)
  }
}
