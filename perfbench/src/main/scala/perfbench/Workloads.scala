package perfbench

/** The workloads, each a set of key families of the engine's registry (a
  * family is the key prefix before the first `_`).
  */
object Workloads {
  val families: Map[String, Set[String]] = Map(
    "etl_io" -> Set("proj", "filter", "sub", "sample", "join", "link", "agg", "win",
      "fn", "sort", "limit", "set", "pivot", "unpivot", "ts", "quality", "etl",
      "src", "stream"),
    "llm_pipeline" -> Set("text", "vec", "corpus", "graph", "multimodal"))

  def family(key: String): String = key.takeWhile(_ != '_')

  /** Whether the workload has source-write and streaming keys. */
  def writesAndStreams(workload: String): Boolean =
    families.get(workload).exists(f => f("src") || f("stream"))

  /** Every registry key of `workload`, in registry order. */
  def keys(workload: String, registry: Seq[String]): Seq[String] = {
    val fams = families.getOrElse(workload,
      throw new IllegalArgumentException(
        s"unknown workload '$workload' (known: ${families.keys.toSeq.sorted.mkString(", ")})"))
    registry.filter(k => fams(family(k)))
  }

  /** Fewest keys a run takes, so that the median is over at least 10. */
  val MinKeys = 10

  /** The keys every run of a workload takes. The workload's keys, sorted by
    * their seconds in the reference pass, are cut into `n` strata of
    * consecutive keys and the median key of each is taken, so the selection
    * has the workload's mix of cheap and expensive keys. `n` is the number
    * of keys of mean reference cost that fill `seconds`, at least
    * [[MinKeys]]. The seed does not pick keys: with seed-picked keys five
    * llm_pipeline runs spread by 13% in run_s.
    */
  def select(keys: Seq[String], cost: String => Double, seconds: Double): Seq[String] = {
    val sorted = keys.sortBy(k => (cost(k), k))
    val mean = sorted.map(cost).sum / sorted.size
    val n = math.min(sorted.size, math.max(MinKeys, math.round(seconds / mean).toInt))
    val strata = (0 until n).map(i => sorted.slice(i * sorted.size / n, (i + 1) * sorted.size / n))
    strata.map(s => s(s.size / 2))
  }

  /** The key of the workload outside the selection that the set-up runs
    * untimed, the one of median reference cost among the rest: the op
    * code of a workload warms up on its own keys, not on a plain query.
    * Without it, whichever llm_pipeline key came first ran 2-3 times slower
    * than later in a run.
    */
  def warmUpKey(keys: Seq[String], cost: String => Double, selected: Seq[String]): Option[String] = {
    val rest = keys.filterNot(selected.toSet).sortBy(k => (cost(k), k))
    rest.lift(rest.size / 2)
  }

  /** The order a run submits its keys in. */
  def order(keys: Seq[String], seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(keys)
}
