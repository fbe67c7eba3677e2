package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Metric names and units, in print order. BENCHMARK.json lists the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "cpu_s" -> "s", "peak_rss_mb" -> "MB",
    "live_heap_mb" -> "MB")

  /** Printed with the end-to-end metrics but not in the result object: with
    * 10-22 keys a run, ten runs of the same code spread by 23-46% in them.
    */
  val KeyLatency: Seq[(String, String)] = Seq("key_p50_s" -> "s", "key_tail_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "ops.build_s" -> "s", "ops.build_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.plan_call_s" -> "s",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s", "codegen.source_kb" -> "KB",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.busy_frac" -> "ratio", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.sink_s" -> "s",
    "tables.scan_mb" -> "MB", "tables.scan_rows" -> "count",
    "io.write_mb" -> "MB", "io.write_rows" -> "count",
    "fixtures.warm_s" -> "s", "caches.built" -> "count",
    "caches.pinned_peak" -> "count", "caches.cached_peak_mb" -> "MB",
    "stream.batches" -> "count", "stream.batch_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.commit_s" -> "s", "stream.input_rows" -> "count", "stream.state_rows" -> "count",
    "host.steal_jiffies" -> "jiffies", "host.load1_max" -> "load",
    "trace.run_s" -> "s", "trace.harness_s" -> "s", "trace.unaccounted_s" -> "s")

  /** The last stdout line: the result object the benchmark contract asks for. */
  def resultLine(attempted: Int, failed: Int, values: Seq[(String, String, Double)]): String = {
    val ms = values.map { case (n, u, v) => s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Turns one run's key results into the printed metrics, and for a traced
  * run into spans, the per-layer table and the per-key breakdown.
  */
final class Report(o: Opts, runs: Seq[KeyRun], setupS: Double, warmS: Double,
    cpuS: Double, peakRssMb: Double, host: HostInfo) {
  private val runStart = runs.head.start
  private val runEnd = runs.map(_.sinkEnd).max
  val runS: Double = (runEnd - runStart) / 1e9
  private val failed = runs.count(_.failed)
  private val lat = runs.map(_.latencyS)
  private val tailP = Stats.tailPercentile(lat.size)
  private val tag = s"${o.workload}-seed${o.seed}"

  private def say(s: String): Unit = println(s)

  private def header(): Unit = {
    say(s"perfbench workload=${o.workload} seed=${o.seed} keys=${runs.size} " +
      s"cores=${host.cpus} trace=${if (o.trace) 1 else 0}")
    say(f"host steal_jiffies=${host.stealJiffies} load1_max=${host.load1Max}%.2f")
    runs.filter(_.failed).foreach { r =>
      say(s"FAILED ${r.key}: ${r.error.orElse(r.mismatch).get}")
    }
  }

  /** The end-to-end metrics followed by the key latencies. */
  def endToEnd: Seq[(String, String, Double)] = {
    // With fewer than 20 keys no rung leaves 10 keys beyond it; the lowest
    // rung, p50, is the tail the samples support.
    val tail = Stats.percentile(lat, tailP.getOrElse(Stats.Ladder.last))
    val v = Map("setup_s" -> setupS, "run_s" -> runS,
      "key_p50_s" -> Stats.median(lat), "key_tail_s" -> tail,
      "cpu_s" -> cpuS, "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> runs.map(_.liveHeapBytes).sum / runs.size / (1024.0 * 1024.0))
    (Metrics.EndToEnd ++ Metrics.KeyLatency).map { case (n, u) => (n, u, v(n)) }
  }

  def untraced(work: Path): Unit = {
    header()
    val all = endToEnd
    all.foreach { case (n, u, v) =>
      val note = n match {
        case "live_heap_mb" => f" (mean over keys; peak ${runs.map(_.liveHeapBytes).max / 1048576.0}%.1f MB)"
        case "key_tail_s" =>
          s" (p${tailP.getOrElse(Stats.Ladder.last)}, n=${lat.size}${if (tailP.isEmpty) ", under 10 beyond" else ""})"
        case _ => ""
      }
      say(f"metric $n%-12s $v%.4f $u$note")
    }
    say(f"metric fail_frac    ${failed.toDouble / runs.size}%.4f ratio ($failed/${runs.size})")
    val summary = (all.map { case (n, _, v) => s"${Json.str(n)}:${Json.num(v)}" } ++ Seq(
      s""""steal_jiffies":${host.stealJiffies}""", s""""load1_max":${Json.num(host.load1Max)}""",
      s""""keys":${runs.size}""", s""""failed":$failed""")).mkString("{", ",", "}")
    val dir = Files.createDirectories(work.resolve("runs"))
    Files.write(dir.resolve(s"$tag-trace0.json"), summary.getBytes("UTF-8"))
    say(Metrics.resultLine(runs.size, failed, all.take(Metrics.EndToEnd.size)))
  }

  def traced(exec: ExecListener, streams: StreamListener,
      payers: Seq[(String, String)], work: Path): Unit = {
    header()
    val tr = new Tracer
    val run = tr.add(-1, "run", o.workload, runStart, runEnd)
    final case class Phases(key: Span, phases: Seq[Span])
    val byKey = runs.map { r =>
      val k = tr.add(run.id, "key", r.key, r.start, r.end)
      val ph = Seq(
        tr.add(k.id, "harness", "pre", r.start, r.preEnd),
        tr.add(k.id, "build", r.key, r.preEnd, r.buildEnd,
          Map("compiles" -> r.compiles.toDouble) ++ r.paid.map(p => s"paid.$p" -> 1.0)),
        tr.add(k.id, "plan", r.key, r.buildEnd, r.planEnd,
          r.phasesMs.map { case (p, ms) => s"$p.ms" -> ms.toDouble }),
        tr.add(k.id, "sink", r.key, r.planEnd, r.sinkEnd,
          Map("rows" -> r.digest.map(_.rows.toDouble).getOrElse(0.0))),
        tr.add(k.id, "harness", "post", r.sinkEnd, r.end,
          Map("pinned" -> r.pinned.toDouble, "cached_bytes" -> r.cachedBytes.toDouble)))
      r.key -> Phases(k, ph)
    }.toMap
    // Jobs and batches hang under the phase of their key that was running
    // when they started; a job in a key's job group stays with that key.
    val keySpans = byKey.values.map(_.key).toSeq.sortBy(_.start)
    def keyAt(t: Long): String = keySpans.find(k => k.start <= t && t < k.end).map(_.name).getOrElse("")
    def parentOf(key: String, t: Long): Int = byKey.get(key).map { p =>
      p.phases.find(s => s.start <= t && t < s.end).getOrElse(p.key).id
    }.getOrElse(run.id)
    val jobSpans = exec.jobs.toSeq.map { j =>
      val s = tr.fromWallMs(j.startMs)
      val e = if (j.endMs >= 0) tr.fromWallMs(j.endMs) else runEnd
      tr.add(parentOf(j.group.getOrElse(keyAt(s)), s), "job", s"job ${j.id}", s, e,
        Map("tasks" -> j.counts.tasks.toDouble, "stages" -> j.counts.stages.toDouble,
          "task_s" -> j.counts.taskNs / 1e9))
    }
    val batches = streams.batches.asScala.toSeq
    batches.foreach { b =>
      val s = tr.fromWallMs(b.startMs)
      tr.add(parentOf(b.key, s), "batch", b.key, s, s + b.durationMs.getOrElse("triggerExecution", 0L) * 1000000L,
        Map("input_rows" -> b.inputRows.toDouble, "state_rows" -> b.stateRows.toDouble))
    }

    val spans = tr.spans
    val kind = spans.map(s => s.id -> s.kind).toMap
    def clipped(s: Span): Double = (math.min(s.end, runEnd) - math.max(s.start, runStart)).max(0L) / 1e9
    def total(k: String): Double = spans.filter(_.kind == k).map(clipped).sum
    val buildS = total("build")
    val planS = total("plan")
    val sinkS = total("sink")
    val harnessS = total("harness")
    val ex = exec.allCounts
    def exSum(f: ExecCounts => Long): Double = ex.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    val taskS = exSum(_.taskNs) / 1e9
    def ms(b: BatchRec, k: String): Double = b.durationMs.getOrElse(k, 0L) / 1e3
    val v = Map[String, Double](
      "ops.build_s" -> buildS,
      "ops.build_jobs" -> jobSpans.count(j => kind.get(j.parent).contains("build")).toDouble,
      "catalyst.analysis_s" -> runs.map(_.phasesMs.getOrElse("analysis", 0L)).sum / 1e3,
      "catalyst.optimization_s" -> runs.map(_.phasesMs.getOrElse("optimization", 0L)).sum / 1e3,
      "catalyst.planning_s" -> runs.map(_.phasesMs.getOrElse("planning", 0L)).sum / 1e3,
      "catalyst.plan_call_s" -> planS,
      "codegen.compiles" -> runs.map(_.compiles).sum.toDouble,
      "codegen.compile_s" -> runs.map(_.compileMs).sum / 1e3,
      "codegen.source_kb" -> runs.map(_.sourceBytes).sum / 1024.0,
      "exec.jobs" -> exec.jobs.size.toDouble, "exec.stages" -> exSum(_.stages),
      "exec.tasks" -> exSum(_.tasks), "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> exSum(_.taskCpuNs) / 1e9, "exec.gc_s" -> exSum(_.gcMs) / 1e3,
      "exec.busy_frac" -> taskS / (host.cpus * runS),
      "exec.shuffle_write_mb" -> exSum(_.shuffleWrite) / mb,
      "exec.shuffle_read_mb" -> exSum(_.shuffleRead) / mb,
      "exec.spill_mb" -> exSum(_.spill) / mb, "exec.sink_s" -> sinkS,
      "tables.scan_mb" -> exSum(_.scanBytes) / mb, "tables.scan_rows" -> exSum(_.scanRows),
      "io.write_mb" -> exSum(_.writeBytes) / mb, "io.write_rows" -> exSum(_.writeRows),
      "fixtures.warm_s" -> warmS,
      "caches.built" -> payers.count { case (_, k) => byKey.contains(k) }.toDouble,
      "caches.pinned_peak" -> runs.map(_.pinned).max.toDouble,
      "caches.cached_peak_mb" -> runs.map(_.cachedBytes).max / mb,
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_s" -> batches.map(ms(_, "triggerExecution")).sum,
      "stream.add_batch_s" -> batches.map(ms(_, "addBatch")).sum,
      "stream.commit_s" -> batches.map(b => ms(b, "walCommit") + ms(b, "commitOffsets")).sum,
      "stream.input_rows" -> batches.map(_.inputRows).sum.toDouble,
      "stream.state_rows" -> batches.map(_.stateRows).sum.toDouble,
      "host.steal_jiffies" -> host.stealJiffies.toDouble, "host.load1_max" -> host.load1Max,
      "trace.run_s" -> runS, "trace.harness_s" -> harnessS,
      "trace.unaccounted_s" -> (runS - buildS - planS - sinkS - harnessS))
    val layers = Metrics.PerLayer.map { case (n, u) => (n, u, v(n)) }

    // Per-key breakdown: where each key's seconds went, and which shared
    // caches it paid to build.
    val self = tr.selfSeconds
    say("key\tbuild_s\tbuild_self_s\tplan_s\tsink_s\tsink_self_s\tjobs\tbuild_jobs\tcompiles\tpaid")
    runs.foreach { r =>
      val ph = byKey(r.key).phases
      val (b, s) = (ph(1), ph(3))
      val jobs = jobSpans.filter(j => ph.exists(_.id == j.parent))
      say(f"${r.key}\t${r.buildS}%.4f\t${self(b.id)}%.4f\t${r.planS}%.4f\t${r.sinkS}%.4f\t" +
        f"${self(s.id)}%.4f\t${jobs.size}\t${jobs.count(_.parent == b.id)}\t${r.compiles}\t" +
        (if (r.paid.isEmpty) "-" else r.paid.mkString(",")))
    }
    say("layer table:")
    layers.foreach { case (n, u, x) => say(f"  $n%-24s $x%14.4f $u") }
    overheadBase(work).foreach { case (base, what) =>
      say(f"tracing overhead: traced run_s $runS%.3f s vs untraced $base%.3f s ($what): ${100 * (runS / base - 1)}%+.1f%%")
    }
    tr.writeJsonLines(work.resolve("trace").resolve(s"$tag.jsonl"))
    say(Metrics.resultLine(runs.size, failed, layers))
  }

  /** The untraced run_s of the same workload and seed from an earlier run
    * in `work`, else the median over the workload's untraced runs there.
    */
  private def overheadBase(work: Path): Option[(Double, String)] = {
    val dir = work.resolve("runs")
    if (!Files.isDirectory(dir)) return None
    val rx = "\"run_s\":([0-9.eE+-]+)".r
    def runS(p: Path) =
      rx.findFirstMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(_.group(1).toDouble)
    val same = dir.resolve(s"$tag-trace0.json")
    if (Files.exists(same)) return runS(same).map(_ -> "same seed")
    val xs = Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.matches(s"\\Q${o.workload}\\E-seed\\d+-trace0\\.json"))
      .flatMap(runS).toSeq
    if (xs.isEmpty) None else Some(Stats.median(xs) -> s"median of ${xs.size} runs, other seeds")
  }
}
