package perfbench

import org.scalatest.funsuite.AnyFunSuite

class WorkloadsSuite extends AnyFunSuite {
  private val keys = (1 to 100).map(i => f"k$i%03d")
  private val cost: String => Double = k => k.drop(1).toInt / 10.0 // 0.1 .. 10.0 s, mean 5.05

  test("the keys are fixed; the seed only orders them") {
    val picked = Workloads.select(keys, cost, 150)
    assert(Workloads.select(scala.util.Random.shuffle(keys), cost, 150) == picked)
    val a = Workloads.order(picked, 3)
    assert(a == Workloads.order(picked, 3))
    assert(a != Workloads.order(picked, 4))
    assert(a.sorted == picked.sorted && Workloads.order(picked, 4).sorted == picked.sorted)
  }

  test("the median key of each stratum of consecutive reference costs") {
    val picked = Workloads.select(keys, cost, 150)
    assert(picked.size == 30) // 150 s / 5.05 s mean
    assert(picked.distinct.size == picked.size)
    val sorted = keys.sortBy(cost)
    val strata = (0 until 30).map(i => sorted.slice(i * 100 / 30, (i + 1) * 100 / 30))
    assert(picked == strata.map(s => s(s.size / 2)))
  }

  test("at least MinKeys keys, at most all of them") {
    assert(Workloads.select(keys, cost, 1).size == Workloads.MinKeys)
    assert(Workloads.select(keys, cost, 1e6).sorted == keys)
  }

  test("the warm-up key is outside the selection, at the median of the rest") {
    val picked = Workloads.select(keys, cost, 150)
    val rest = keys.filterNot(picked.toSet).sortBy(cost)
    assert(Workloads.warmUpKey(keys, cost, picked).contains(rest(rest.size / 2)))
    assert(Workloads.warmUpKey(keys, cost, keys).isEmpty)
  }

  test("families map onto workloads") {
    val registry = Seq("agg_x", "src_y", "text_z", "vec_w", "stream_v")
    assert(Workloads.keys("etl_io", registry) == Seq("agg_x", "src_y", "stream_v"))
    assert(Workloads.keys("llm_pipeline", registry) == Seq("text_z", "vec_w"))
    assertThrows[IllegalArgumentException](Workloads.keys("nope", registry))
    assert(Workloads.writesAndStreams("etl_io") && !Workloads.writesAndStreams("llm_pipeline"))
  }
}
