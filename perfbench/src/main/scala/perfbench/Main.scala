package perfbench

import graft.{Caches, Setups, SparkEntry, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Command-line options. `keys` overrides the workload's key selection
  * and `record` writes each key's result to a file instead of checking it
  * (both used to record the reference); `partitions` overrides the shuffle
  * partition count (used to check that digests do not depend on it).
  */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 20,
    trace: Boolean = false,
    data: String = "",
    reference: String = "",
    work: String = "",
    keys: Option[Seq[String]] = None,
    partitions: Option[Int] = None,
    record: Option[String] = None)

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case "--workload" +: v +: rest   => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest       => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest    => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest      => parse(rest).copy(trace = v == "1")
    case "--data" +: v +: rest       => parse(rest).copy(data = v)
    case "--reference" +: v +: rest  => parse(rest).copy(reference = v)
    case "--work" +: v +: rest       => parse(rest).copy(work = v)
    case "--keys" +: v +: rest       => parse(rest).copy(keys = Some(v.split(',').toSeq.filter(_.nonEmpty)))
    case "--partitions" +: v +: rest => parse(rest).copy(partitions = Some(v.toInt))
    case "--record" +: v +: rest     => parse(rest).copy(record = Some(v))
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }
}

/** What one key did in a run. Times are `nanoTime` values. */
final class KeyRun(val key: String) {
  var start, preEnd, buildEnd, planEnd, sinkEnd, end = 0L
  var digest: Option[Digest] = None
  var schema = ""
  var error: Option[String] = None
  var mismatch: Option[String] = None
  // Traced runs only.
  var phasesMs: Map[String, Long] = Map.empty
  var compiles = 0L
  var compileMs = 0.0
  var sourceBytes = 0.0
  var pinned = 0
  var cachedBytes = 0L
  var liveHeapBytes = 0L
  var paid: Seq[String] = Nil

  def failed: Boolean = error.isDefined || mismatch.isDefined
  def buildS: Double = (buildEnd - preEnd) / 1e9
  def planS: Double = (planEnd - buildEnd) / 1e9
  def sinkS: Double = (sinkEnd - planEnd) / 1e9
  /** Build + plan + sink; a key that threw has no latency. */
  def latencyS: Double =
    if (error.isDefined) Double.PositiveInfinity else (sinkEnd - preEnd) / 1e9
}

/** The benchmark program: one workload, one process, one submitting thread. */
object Main {
  /** Progress goes to stderr, which the runner keeps as the run's log. */
  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv.toSeq)
    require(o.data.nonEmpty && o.work.nonEmpty, "--data and --work are required")
    val work = Paths.get(o.work)
    val registry = SparkEntry.queries.keys.toSeq
    val reference =
      if (o.record.isEmpty) Reference.load(Paths.get(o.reference)) else Map.empty[String, Reference.Entry]
    val all = if (o.workload.isEmpty) Nil else Workloads.keys(o.workload, registry)
    val keys = o.keys match {
      case Some(Seq("all")) => all
      case Some(ks)         => ks
      case None =>
        val missing = all.filterNot(reference.contains)
        require(missing.isEmpty, s"no reference result for: ${missing.mkString(", ")}")
        Workloads.order(Workloads.select(all, reference(_).costS, o.seconds), o.seed)
    }
    val warmKey =
      if (o.keys.isDefined) None else Workloads.warmUpKey(all, reference(_).costS, keys)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val cpus = Runtime.getRuntime.availableProcessors
    val partitions = o.partitions.getOrElse(cpus)

    // --- Set-up, timed from JVM start so that class loading lands here.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, partitions, work)
    Tables.conf(spark)
    val u0 = System.nanoTime()
    warmUp(spark, o.data, work, streams = Workloads.writesAndStreams(o.workload))
    warmKey.foreach { w =>
      Setups.warm(spark, o.data, Set(w))
      Digest.consume(SparkEntry.queries(w)(spark, o.data))
      Caches.releaseAll(spark, o.data)
    }
    val w0 = System.nanoTime()
    Caches.schedule(spark, o.data, keys.toSet)
    Setups.warm(spark, o.data, keys.toSet)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"set-up: $setupS%.3f s (warm-up ${(w0 - u0) / 1e9}%.3f s, fixtures $warmS%.3f s)")

    // --- Run: one closed loop over the keys.
    val sc = spark.sparkContext
    val exec = new ExecListener(keys.toSet)
    val streams = new StreamListener
    if (o.trace) {
      sc.addSparkListener(exec)
      spark.streams.addListener(streams)
    }
    val queries = SparkEntry.queries
    val steal0 = Host.stealJiffies
    val cpu0 = Host.cpuSeconds
    var load1Max = Host.load1
    val runs = keys.map { k =>
      val r = new KeyRun(k)
      r.start = System.nanoTime()
      load1Max = math.max(load1Max, Host.load1)
      streams.currentKey = k
      sc.setJobGroup(k, k)
      // Keys share the engine's cached fixtures, as in `Bench`: the first
      // consumer in the seed's order builds one, and `keyDone` drops it
      // after its last scheduled consumer.
      Caches.noteRunningKey(spark, o.data, k)
      val payers0 = if (o.trace) Caches.cachePayers(spark, o.data).map(_._1).toSet else Set.empty[String]
      val cg0 = if (o.trace) Codegen.snapshot() else Codegen.Zero
      r.preEnd = System.nanoTime()
      var df: DataFrame = null
      try {
        df = queries(k)(spark, o.data)
        r.buildEnd = System.nanoTime()
        df.queryExecution.executedPlan
        r.planEnd = System.nanoTime()
        r.digest = Some(Digest.consume(df))
        r.sinkEnd = System.nanoTime()
        r.schema = Digest.schemaHash(df.schema)
      } catch {
        case NonFatal(e) =>
          val t = System.nanoTime()
          if (r.buildEnd == 0L) r.buildEnd = t
          if (r.planEnd == 0L) r.planEnd = t
          r.sinkEnd = t
          r.error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
      }
      if (o.trace) {
        val cg = Codegen.snapshot() - cg0
        r.compiles = cg.compiles
        r.compileMs = cg.compileMs
        r.sourceBytes = cg.sourceBytes
        if (df != null) r.phasesMs = df.queryExecution.tracker.phases.map { case (p, s) => p -> s.durationMs }
        r.pinned = Caches.pinnedRddCount(spark)
        r.cachedBytes = sc.getRDDStorageInfo.map(_.memSize).sum
        r.paid = Caches.cachePayers(spark, o.data).collect { case (n, p) if p == k && !payers0(n) => n }
      }
      // The live heap while the key's result and every fixture still in
      // use are held: a full collection, then the heap in use. It also
      // gives each key a collected heap to start from.
      System.gc()
      r.liveHeapBytes = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Caches.keyDone(spark, o.data, k)
      sc.clearJobGroup()
      if (r.error.isEmpty && o.record.isEmpty)
        r.mismatch = Reference.check(reference.get(k), r.digest.get, r.schema)
      r.end = System.nanoTime()
      log(f"$k: ${r.buildS}%.3f + ${r.planS}%.3f + ${r.sinkS}%.3f s, live heap ${r.liveHeapBytes / 1048576.0}%.1f MB" +
        r.error.orElse(r.mismatch).fold("")(" FAILED: " + _))
      r
    }
    val cpuS = Host.cpuSeconds - cpu0
    val steal = Host.stealJiffies - steal0
    load1Max = math.max(load1Max, Host.load1)
    val peakRss = Host.peakRssMb
    streams.currentKey = ""

    o.record match {
      case Some(path) =>
        Reference.write(Paths.get(path), runs)
        println(Metrics.resultLine(runs.size, runs.count(_.failed), Nil))
      case None =>
        val host = HostInfo(steal, load1Max, cpus)
        val report = new Report(o, runs, setupS, warmS, cpuS, peakRss, host)
        if (o.trace) {
          org.apache.spark.perfbench.BusDrain(sc)
          report.traced(exec, streams, Caches.cachePayers(spark, o.data), work)
        } else report.untraced(work)
    }
    spark.stop()
  }

  def session(cpus: Int, partitions: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The fixed warm-up, which is not a workload key: a join + aggregation
    * over two tables through the benchmark's sink and, for a workload with
    * write and stream keys, a small parquet write and a two-row stateful
    * stream. It loads the classes the first key would otherwise pay for.
    */
  def warmUp(spark: SparkSession, data: String, work: Path, streams: Boolean): Unit = {
    val li = Tables.t(spark, data, "lineitem")
    val od = Tables.t(spark, data, "orders")
    Digest.consume(li.join(od, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_quantity")), count(lit(1)))
      .orderBy(col("o_orderpriority")))
    if (!streams) return
    val dir = Files.createDirectories(work.resolve("warmup"))
    val src = dir.resolve("src").toString
    spark.range(2).selectExpr("id", "timestamp_micros(id * 1000000) AS ts")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema("id LONG, ts TIMESTAMP").parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).count()
      .writeStream.outputMode("complete").format("memory").queryName("perfbench_warmup")
      .option("checkpointLocation", dir.resolve(s"ckpt-${System.nanoTime()}").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

final case class HostInfo(stealJiffies: Long, load1Max: Double, cpus: Int)

/** JVM-wide codegen counters (`CodegenMetrics`). Compile time is the
  * histogram mean times the count, which is exact in count and close in
  * time.
  */
final case class Codegen(compiles: Long, compileMs: Double, sourceBytes: Double) {
  def -(o: Codegen): Codegen =
    Codegen(compiles - o.compiles, compileMs - o.compileMs, sourceBytes - o.sourceBytes)
}

object Codegen {
  val Zero: Codegen = Codegen(0L, 0.0, 0.0)
  def snapshot(): Codegen = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    Codegen(t.getCount, t.getSnapshot.getMean * t.getCount, s.getSnapshot.getMean * s.getCount)
  }
}
