package perfbench

import java.io.File
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import graft.functions.GraftFunctions
import graft.meta.Tables

/** Per-layer metrics of a traced run, computed from the spans recorded at
  * the benchmark's calls and from the public Spark listeners' events. Layer
  * names are the library's module names. Pass-level figures are means per
  * traced counted pass. */
object Layers {
  /** Kernels probed on a fixed replicated `documents.text` column. */
  val ProbeRows = 20000L
  val Kernels: Seq[(String, Column => Column)] = Seq(
    "char_entropy" -> (c => GraftFunctions.char_entropy(c)),
    "deflate_ratio" -> (c => GraftFunctions.deflate_ratio(c)),
    "gopher_counts" -> (c => GraftFunctions.gopher_counts(c, Seq("the", "be", "to", "of", "and", "that"))),
    "minhash_sig" -> (c => GraftFunctions.minhash_sig(c)),
    "simhash64" -> (c => GraftFunctions.simhash64(c)),
    "nfc_normalize" -> (c => GraftFunctions.nfc_normalize(c)))

  /** After the passes: warm `Tables.load` timings, a split-layout rewrite
    * into a fresh cache, and the kernel probes. Returns metric values. */
  def probes(spark: SparkSession, pr: Probe, wl: Workload, data: String, work: File,
             pass: Int): Seq[(String, Double)] = {
    val Reps = 3
    val warm = wl.tables.map { t =>
      t -> Metrics.median((1 to Reps).map(_ => pr.timed("meta.load", t, pass)(Tables.load(spark, data, t))))
    }.toMap
    val files = wl.tables.map(t => Tables.load(spark, data, t).inputFiles.length).sum
    // The rewrite cache lives under java.io.tmpdir; a fresh directory makes
    // the next load of each large table redo it.
    val tmpKey = "java.io.tmpdir"
    val savedTmp = System.getProperty(tmpKey)
    val fresh = new File(work, "split-probe"); fresh.mkdirs()
    val rewriteMs = try {
      System.setProperty(tmpKey, fresh.getAbsolutePath)
      wl.tables.map { t =>
        math.max(0.0, pr.timed("meta.split_rewrite", t, pass)(Tables.load(spark, data, t)) - warm(t))
      }.sum
    } finally System.setProperty(tmpKey, savedTmp)
    pr.drain()
    val loadSpans = pr.spans.filter(s => s != null && s.kind == "meta.load" && s.pass == pass)
    val loadJobs = pr.jobs.count(j => loadSpans.exists(s => j.start >= s.start && j.start <= s.end))

    val docs = Tables.load(spark, data, "documents").select("text")
    val n = docs.count()
    val rep = docs.crossJoin(spark.range((ProbeRows + n - 1) / n)).select("text").limit(ProbeRows.toInt).cache()
    val rows = rep.count().toDouble
    val kernels = Kernels.map { case (name, k) =>
      val ms = Metrics.median((1 to Reps).map(_ => pr.timed("functions.probe", name, pass)(
        rep.select(k(col("text")).as("k")).write.format("noop").mode("overwrite").save())))
      s"functions.$name.rows_per_s" -> rows / (ms / 1000)
    }
    rep.unpersist(blocking = true)
    Seq(
      "meta.load_ms" -> (if (warm.isEmpty) 0.0 else Metrics.median(warm.values.toSeq)),
      "meta.load_jobs" -> loadJobs.toDouble / math.max(1, loadSpans.size),
      "meta.files_discovered" -> files.toDouble,
      "meta.split_rewrite_s" -> rewriteMs / 1000) ++ kernels
  }

  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var (s, e) = (Double.NaN, Double.NaN)
    c.foreach { case (a, b) =>
      if (s.isNaN) { s = a; e = b }
      else if (a <= e) e = math.max(e, b)
      else { total += e - s; s = a; e = b }
    }
    if (!s.isNaN) total += e - s
    total
  }

  def compute(pr: Probe, passes: Seq[PassResult],
              extra: Seq[(String, Double)], media: Seq[(String, Double)]): Seq[(String, Double)] = {
    val all = pr.spans.toSeq.filter(_ != null)
    val tc = {
      val c = passes.filter(p => p.traced && p.index >= 1)
      if (c.nonEmpty) c else passes.filter(_.traced).takeRight(1)
    }
    val tcIdx = tc.map(_.index).toSet
    val n = math.max(1, tc.size).toDouble
    def kind(k: String) = all.filter(s => s.kind == k && tcIdx(s.pass))
    val ops = kind("op")
    def inOps(t: Double) = ops.exists(s => t >= s.start && t <= s.end)
    val jobs = pr.jobs.toSeq.filter(j => inOps(j.start.toDouble))
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val tasks = pr.tasks.toSeq.filter(t => inOps(t.finish.toDouble))
    val plans = pr.plans.toSeq.filter(p => inOps(p.start))
    val trig = pr.triggers.toSeq.filter(t => inOps(t.start))
    def selfMs(ss: Seq[Span]) = ss.map(s => s.ms - covered(jobIv, s.start, s.end)).sum
    val builds = kind("operators.build")
    val actions = kind("sql.action")
    val wallS = tc.map(_.wallMs).sum / n / 1000
    def perPass(x: Double) = x / n
    def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Metrics.quantile(xs, p)
    val cold = passes.head
    val counted = passes.filter(_.index >= 1)
    // Pass 1 (untraced) is the first warm pass and still slower than the
    // rest, so the overhead compares traced and untraced passes from 2 on.
    val tracedWalls = counted.filter(p => p.traced && p.index >= 2).map(_.wallMs)
    val plainWalls = counted.filter(p => !p.traced && p.index >= 2).map(_.wallMs)

    // Spark jobs and stream triggers become children of the op they ran under.
    val byTime = all.filter(_.kind == "op")
    def parentOf(t: Double) = byTime.find(s => t >= s.start && t <= s.end).map(_.id).getOrElse(-1)
    pr.jobs.foreach(j => pr.record(parentOf(j.start.toDouble), "spark.job", s"job ${j.id}",
      j.start.toDouble, j.end.toDouble, -1))
    pr.triggers.foreach(t => pr.record(parentOf(t.start), "stream.trigger", "trigger",
      t.start, t.start + t.triggerMs, -1))

    Seq(
      "catalog.lookup_ms" -> q(kind("catalog.lookup").map(_.ms), 0.5),
      "operators.build_s" -> perPass(builds.map(_.ms).sum) / 1000,
      "operators.build_self_s" -> perPass(selfMs(builds)) / 1000,
      "operators.build_jobs" -> perPass(jobs.count(j => builds.exists(s => j.start >= s.start && j.start <= s.end))),
      "sql.action_s" -> perPass(actions.map(_.ms).sum) / 1000,
      "sql.action_self_s" -> perPass(selfMs(actions)) / 1000,
      "sql.analysis_ms" -> perPass(plans.map(_.analysisMs).sum),
      "sql.optimization_ms" -> perPass(plans.map(_.optimizationMs).sum),
      "sql.planning_ms" -> perPass(plans.map(_.planningMs).sum),
      "sql.codegen_compiles" -> cold.codegenCompiles.toDouble,
      "sql.codegen_ms" -> cold.codegenMs,
      "scheduler.jobs" -> perPass(jobs.size),
      "scheduler.stages" -> perPass(jobs.map(_.stages).sum),
      "scheduler.tasks" -> perPass(tasks.size),
      "scheduler.job_p50_ms" -> q(jobs.map(j => (j.end - j.start).toDouble), 0.5),
      "scheduler.driver_idle_s" -> perPass(ops.map(s => s.ms - covered(jobIv, s.start, s.end)).sum) / 1000,
      "executor.run_s" -> perPass(tasks.map(_.runMs).sum.toDouble) / 1000,
      "executor.cpu_s" -> perPass(tasks.map(_.cpuNs).sum.toDouble) / 1e9,
      "executor.gc_s" -> perPass(tasks.map(_.gcMs).sum.toDouble) / 1000,
      "executor.deser_s" -> perPass(tasks.map(_.deserMs).sum.toDouble) / 1000,
      "executor.util" -> (if (wallS > 0) perPass(tasks.map(_.runMs).sum.toDouble) / 1000 / (wallS * Setup.Cores) else 0.0),
      "shuffle.write_mb" -> perPass(tasks.map(_.shuffleWrite).sum.toDouble) / 1e6,
      "shuffle.read_mb" -> perPass(tasks.map(_.shuffleRead).sum.toDouble) / 1e6,
      "shuffle.spill_mb" -> perPass(tasks.map(_.spill).sum.toDouble) / 1e6,
      "shuffle.fetch_wait_ms" -> perPass(tasks.map(_.fetchWaitMs).sum.toDouble),
      "sources.scan_mb" -> perPass(tasks.map(_.inBytes).sum.toDouble) / 1e6,
      "sources.scan_rows" -> perPass(tasks.map(_.inRows).sum.toDouble),
      "sources.write_mb" -> perPass(tasks.map(_.outBytes).sum.toDouble) / 1e6,
      "streaming.triggers" -> perPass(trig.size),
      "streaming.trigger_p50_ms" -> q(trig.map(_.triggerMs), 0.5),
      "streaming.trigger_p75_ms" -> q(trig.map(_.triggerMs), Metrics.TailQuantile),
      "streaming.add_batch_ms" -> perPass(trig.map(_.addBatchMs).sum),
      "streaming.planning_ms" -> perPass(trig.map(_.planningMs).sum),
      "streaming.wal_ms" -> perPass(trig.map(_.walMs).sum),
      "streaming.state_rows" -> trig.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_commit_ms" -> perPass(trig.map(_.stateCommitMs).sum),
      "streaming.state_mb" -> trig.map(_.stateBytes / 1e6).maxOption.getOrElse(0.0),
      "storage.leaked_rdds" -> q(counted.map(_.leakedRdds.toDouble), 0.5),
      "storage.leaked_mb" -> q(counted.map(_.leakedMb), 0.5),
      "storage.tmp_mb" -> q(counted.map(_.tmpMb), 0.5),
      "bench.overhead_ms" -> perPass(tc.map(p => p.wallMs - p.opsMs).sum),
      "trace_overhead" -> (if (tracedWalls.isEmpty || plainWalls.isEmpty) 0.0
        else Metrics.median(tracedWalls) / Metrics.median(plainWalls))
    ) ++ media ++ extra
  }

  def spanJson(s: Span): String = Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "kind" -> Json.str(s.kind),
    "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start), "dur_ms" -> Json.num(s.ms),
    "pass" -> Json.num(s.pass))
}
