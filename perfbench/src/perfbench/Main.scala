package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.meta.Tables
import graft.operators.Media
import graft.sources.Ingest

/** Entry point, started by `run.py` in a fresh JVM per run.
  *
  *   --mode bench      set up, then run the workload's passes for
  *                     `--seconds`; results go to `--out` as JSON
  *   --mode queries    print the benchmark's catalog queries
  *   --mode reference  digest a `graft.Verify` dump (`--verify`) into
  *                     `--reference`
  */
object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val o = argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    lazy val work = new File(o("work"))
    o("mode") match {
      case "bench" =>
        new BenchRun(o, work).run()
      case "queries" =>
        println(Workloads.all.flatMap(_.queries).distinct.sorted.mkString(","))
      case "reference" =>
        val spark = Setup.session(work)
        Check.writeReference(spark, o("verify"), new File(o("reference")))
        spark.stop()
      case m => throw new IllegalArgumentException(s"unknown --mode $m")
    }
  }
}

object Setup {
  val Cores: Int = 4

  /** The session every mode uses: `graft.Bench`'s confs at `local[4]`, with
    * every on-disk location inside the run's own work directory (the JVM's
    * `java.io.tmpdir` is pointed there by the launcher). */
  def session(work: File): SparkSession = {
    def dir(n: String) = new File(work, n).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "24000")
      .config("spark.sql.files.openCostInBytes", "8192")
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.local.dir", dir("local"))
      .config("spark.sql.streaming.checkpointLocation", dir("checkpoints"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up as a user pays it: JVM start until the session is ready and
    * every table the workload reads has been through `Tables.load` once
    * (which includes the split-layout rewrite of large tables). Returns the
    * session, the set-up seconds and each table's first-load interval. */
  def apply(work: File, tables: Seq[String], data: String)
      : (SparkSession, Double, Seq[(String, Double, Double)]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val loads = tables.map { t =>
      val t0 = Clock.now()
      Tables.load(spark, data, t)
      (t, t0, Clock.now())
    }
    val setupS = (Clock.now() - jvmStart) / 1000.0
    (spark, setupS, loads)
  }

  /** Set-up again in the same JVM after the previous session has stopped:
    * a new session and every table through `Tables.load`, with a fresh
    * split-layout cache so the rewrite is redone. Returns milliseconds. */
  def again(work: File, tables: Seq[String], data: String): Double = {
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    try {
      val t0 = Clock.now()
      val spark = session(work)
      tables.foreach(t => Tables.load(spark, data, t))
      val ms = Clock.now() - t0
      spark.stop()
      ms
    } finally System.setProperty("java.io.tmpdir", saved)
  }
}

sealed trait Op { def name: String }
case class QueryOp(name: String) extends Op
case object ImageOp extends Op { val name = "image_etl" }

/** One timed operation: lookup, build and action, in milliseconds. */
case class OpResult(pass: Int, name: String, lookupMs: Double, buildMs: Double,
                    actionMs: Double, ok: Boolean) {
  def wallMs: Double = lookupMs + buildMs + actionMs
}

case class PassResult(index: Int, traced: Boolean, wallMs: Double, opsMs: Double,
                      leakedRdds: Int, leakedMb: Double, tmpMb: Double,
                      codegenCompiles: Long, codegenMs: Double)

final class BenchRun(o: Map[String, String], work: File) {
  private val wl = Workloads(o("workload"))
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val trace = o("trace") == "1"
  private val data = o("data")
  private val reference = Check.loadReference(new File(o("reference")))
  /** Deadline of one operation (and of one output check). */
  private val OpTimeoutS = 45.0
  /** JVM age after which no new pass starts, whatever `--seconds` says. */
  private val StopByS = 110.0
  /** The cold pass and at least three warm ones, whatever `--seconds` says. */
  private val MinPasses = 4
  /** Set-ups in the same JVM after the passes; `setup_s` is their median. */
  private val Setups = 5
  private val TensorBatch = 200
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  private val results = ArrayBuffer.empty[OpResult]
  private val passes = ArrayBuffer.empty[PassResult]
  private val errors = ArrayBuffer.empty[String]
  private val heapMb = ArrayBuffer.empty[Double]
  private var attempted = 0
  private var failed = 0

  private var exec: ExecutorService = newExec()
  private def newExec() = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }

  def run(): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val (spark, setupS, firstLoads) = Setup(work, wl.tables, data)
    val probe = if (trace) Some(new Probe(spark)) else None
    probe.foreach(pr => firstLoads.foreach { case (t, t0, t1) => pr.record(-1, "meta.load", t, t0, t1, -1) })
    val corpus = new File(work, "corpus")
    val expectedImages = if (wl.imageStep) Corpus.write(seed, corpus) else 0
    val measureStart = Clock.now()
    def more(p: Int) = p < MinPasses || (Clock.now() - measureStart) / 1000 < seconds
    def tooOld = (Clock.now() - jvmStart) / 1000 > StopByS
    var p = 0
    while (more(p) && !tooOld) {
      runPass(spark, probe, p, corpus, expectedImages, tmp)
      // Untimed: the live heap after the cold pass and after the last one,
      // before the storage the passes left behind is released.
      if (p == 0 || !more(p + 1) || tooOld) heapMb += gcHeapMb()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      p += 1
    }
    if (p < MinPasses) errors += s"stopped after $p passes: JVM age limit ${StopByS}s reached"
    val layers = probe.map { pr =>
      pr.attach()
      val extra = Layers.probes(spark, pr, wl, data, work, passes.size)
      pr.drain()
      val imageOps = results.filter(r => r.name == ImageOp.name && r.pass >= 1 && r.ok).map(_.wallMs)
      val media = Seq(
        "media.images_per_s" -> (if (imageOps.isEmpty) 0.0 else expectedImages / (Metrics.median(imageOps.toSeq) / 1000)),
        "media.tensor_mb" -> (if (passes.isEmpty || !wl.imageStep) 0.0 else tensorMb / passes.size))
      val table = Layers.compute(pr, passes.toSeq, extra, media)
      Json.write(new File(o("trace-out")), Json.obj(
        "workload" -> Json.str(wl.name), "seed" -> Json.num(seed.toDouble),
        "per_layer" -> Json.obj(table.map { case (k, v) => k -> Json.num(v) }: _*),
        "spans" -> Json.arr(pr.spans.toSeq.filter(_ != null).map(Layers.spanJson): _*)))
      table
    }.getOrElse(Nil)
    exec.shutdownNow()
    spark.stop()
    val setupMs = (1 to Setups).map(i => Setup.again(new File(work, s"setup-$i"), wl.tables, data))
    val e2e = Metrics.endToEnd(setupMs, setupS, passes.toSeq,
      results.filter(r => r.pass >= 1 && r.ok).toSeq, heapMb.toSeq)
    Json.write(new File(o("out")), Json.obj(
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "errors" -> Json.arr(errors.toSeq.map(Json.str): _*),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(
        "index" -> Json.num(p.index), "traced" -> Json.bool(p.traced),
        "wall_s" -> Json.num(p.wallMs / 1000))): _*),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }: _*),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }: _*)))
  }

  private def runPass(spark: SparkSession, probe: Option[Probe], p: Int, corpus: File,
                      expectedImages: Int, tmp: File): Unit = {
    val sc = spark.sparkContext
    // The cold pass is traced; warm passes alternate, so a traced run
    // measures its own overhead against its untraced passes.
    val traced = probe.isDefined && p % 2 == 0
    probe.foreach(pr => if (traced) pr.attach() else pr.detach())
    val order = new Random(seed * 1000003L + p).shuffle(wl.queries)
    val ops: Seq[Op] = (if (wl.imageStep) Seq(ImageOp) else Nil) ++ order.map(QueryOp)
    val tmpBefore = du(tmp)
    val (cgCount0, cgNs0) = codegen()
    val passStart = Clock.now()
    var untimedMs = 0.0
    var opsMs = 0.0
    val passSpan = if (traced) probe.get.record(-1, "pass", s"pass $p", passStart, passStart, p) else -1
    ops.zipWithIndex.foreach { case (op, i) =>
      val group = s"perfbench-$p-$i"
      attempted += 1
      val tOp = Clock.now()
      val outcome = bounded(spark, group, OpTimeoutS)(() => execute(spark, op, p, corpus))
      val opEnd = Clock.now()
      outcome match {
        case Right((r, df)) =>
          opsMs += r.wallMs
          if (traced) {
            val pr = probe.get
            val id = pr.record(passSpan, "op", op.name, tOp, opEnd, p)
            val t1 = tOp + r.lookupMs
            if (op != ImageOp) pr.record(id, "catalog.lookup", op.name, tOp, t1, p)
            pr.record(id, "operators.build", op.name, t1, t1 + r.buildMs, p)
            pr.record(id, "sql.action", op.name, t1 + r.buildMs, opEnd, p)
          }
          // Every operation's output is checked once per run, in the cold
          // pass; the check is untimed.
          val checkStart = Clock.now()
          val verdict =
            if (p == 0) bounded(spark, group + "-check", OpTimeoutS)(() => check(spark, op, df, p, expectedImages))
            else Right(None)
          if (op == ImageOp) {
            tensorMb += du(tensorDir(p)) / 1e6
            rm(tensorDir(p))
          }
          val checkEnd = Clock.now()
          untimedMs += checkEnd - checkStart
          if (traced) probe.get.record(passSpan, "check", op.name, checkStart, checkEnd, p)
          val problem = verdict match {
            case Right(v) => v
            case Left(e) => Some(s"${op.name}: check failed: $e")
          }
          problem.foreach(errors += _)
          results += r.copy(ok = problem.isEmpty)
          if (problem.nonEmpty) failed += 1
        case Left(e) =>
          errors += s"pass $p ${op.name}: $e"
          failed += 1
          opsMs += opEnd - tOp
          results += OpResult(p, op.name, 0, 0, opEnd - tOp, ok = false)
      }
    }
    val passEnd = Clock.now()
    val (cgCount1, cgNs1) = codegen()
    // Untimed pass boundary: count what the pass left behind (the caller
    // releases it).
    probe.foreach(_.drain())
    val leaked = sc.getPersistentRDDs.keySet
    val leakedMb = sc.getRDDStorageInfo.filter(i => leaked.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val tmpMb = (du(tmp) - tmpBefore) / 1e6
    val wall = passEnd - passStart - untimedMs
    if (traced) {
      val pr = probe.get
      pr.spans.synchronized(pr.spans(passSpan) = pr.spans(passSpan).copy(end = passEnd))
    }
    passes += PassResult(p, traced, wall, opsMs, leaked.size, leakedMb, tmpMb,
      cgCount1 - cgCount0, (cgNs1 - cgNs0) / 1e6)
  }

  /** Runs one operation on the op thread under its own job group. */
  private def execute(spark: SparkSession, op: Op, p: Int, corpus: File): (OpResult, Option[DataFrame]) =
    op match {
      case QueryOp(name) =>
        val t0 = Clock.now()
        val build = SparkEntry.queries(name)
        val t1 = Clock.now()
        val df = build(spark, data)
        val t2 = Clock.now()
        df.write.format("noop").mode("overwrite").save()
        val t3 = Clock.now()
        (OpResult(p, name, t1 - t0, t2 - t1, t3 - t2, ok = true), Some(df))
      case ImageOp =>
        val t0 = Clock.now()
        val tensors = Media.imageEtl(spark, Ingest.binaryFiles(spark, corpus.getAbsolutePath, "*.zip"))
        val t1 = Clock.now()
        Media.writeTensorBatches(tensors, tensorDir(p).getAbsolutePath, TensorBatch)
        val t2 = Clock.now()
        (OpResult(p, ImageOp.name, 0, t1 - t0, t2 - t1, ok = true), None)
    }

  private def tensorDir(p: Int) = new File(work, s"tensors/pass-$p")

  private def check(spark: SparkSession, op: Op, df: Option[DataFrame], p: Int,
                    expectedImages: Int): Option[String] = op match {
    case QueryOp(name) => Check.compare(name, Check.digest(df.get), reference.get(name))
    case ImageOp => Check.tensors(spark, tensorDir(p).getAbsolutePath, expectedImages, TensorBatch)
  }
  private var tensorMb = 0.0

  /** Generated-class compiles so far and their total nanoseconds (local
    * mode: driver and executors share these counters). */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Runs `body` on the op thread with a deadline. On expiry the job group
    * is cancelled and every active stream stopped, so a hung operation
    * costs its deadline and the run goes on. */
  private def bounded[T](spark: SparkSession, group: String, timeoutS: Double)
                        (body: () => T): Either[String, T] = {
    val sc = spark.sparkContext
    val f = exec.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try body() finally sc.clearJobGroup()
      }
    })
    try Right(f.get((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
        f.cancel(true)
        try f.get(10, TimeUnit.SECONDS) catch { case NonFatal(_) => }
        if (!f.isDone) { exec.shutdownNow(); exec = newExec() }
        Left(s"timed out after ${timeoutS}s")
      case e: ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Left(s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}")
    }
  }

  /** Heap in use after full GCs. Spark's context cleaner releases what
    * out-of-scope RDDs, shuffles and broadcasts hold only after a GC has
    * found them, in stages: the reading settles by the third GC, 200 ms
    * apart, so five are taken and the lowest kept. */
  private def gcHeapMb(): Double =
    (1 to 5).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

  private def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }
}

object Metrics {
  /** The value at quantile q (0..1) by linear interpolation. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  val TailQuantile = 0.75

  /** End-to-end metrics. Pass 0 is the cold pass; every later pass is warm
    * and counted. `setup_s` is the median of the in-JVM set-ups;
    * `cold_setup_s`, the one set-up that starts the JVM, is reported but too
    * unsteady across runs to gate on. */
  def endToEnd(setupMs: Seq[Double], coldSetupS: Double, passes: Seq[PassResult],
               warmOps: Seq[OpResult], heapMb: Seq[Double]): Seq[(String, Double)] = {
    def orNaN(xs: Seq[Double])(f: Seq[Double] => Double) = if (xs.isEmpty) Double.NaN else f(xs)
    val warm = passes.filter(_.index >= 1).map(_.wallMs / 1000)
    val lat = warmOps.map(_.wallMs / 1000)
    Seq(
      "setup_s" -> orNaN(setupMs)(median) / 1000,
      "cold_setup_s" -> coldSetupS,
      "cold_s" -> passes.headOption.map(_.wallMs / 1000).getOrElse(Double.NaN),
      "warm_s" -> orNaN(warm)(median),
      "query_p50_s" -> orNaN(lat)(median),
      "query_p75_s" -> orNaN(lat)(quantile(_, TailQuantile)),
      "query_samples" -> lat.size.toDouble,
      "live_heap_mb" -> heapMb.maxOption.getOrElse(Double.NaN))
  }
}
