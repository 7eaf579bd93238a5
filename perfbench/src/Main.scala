package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Samples and failures of one run. Sample keys are prefixed with
  * the pass mode: `u.` untraced, `t.` traced. */
final class Recorder {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val errors = new ConcurrentLinkedQueue[String]()

  def add(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += v
  }
  def get(key: String): Seq[Double] = synchronized {
    samples.get(key).map(_.toSeq).getOrElse(Seq.empty)
  }

  def fail(what: String, e: Throwable): Unit = {
    attempted.incrementAndGet()
    failed.incrementAndGet()
    val msg = Option(e.getMessage).getOrElse(e.toString).linesIterator
      .take(3).mkString(" | ")
    if (errors.size < 20) errors.add(s"$what: ${msg.take(400)}")
    System.err.println(s"[perfbench] FAILED $what: $msg")
  }
}

/** What a workload body sees: the session, its data, the seed, and
  * the recorder/trace pair for the current pass. */
final class Ctx(val spark: SparkSession, val data: String, val seed: Long,
    val trace: Trace, val rec: Recorder) {
  @volatile var traced = false
  /** Off while warming up: samples outside the window are dropped. */
  @volatile var recording = false
  private def mode = if (traced) "t." else "u."
  def sample(key: String, v: Double): Unit = if (recording) rec.add(mode + key, v)

  /** Seconds spent inside the current pass on checks that are not part
    * of the workload (subtracted from its pass time). */
  val checkNanos = new AtomicLong

  /** Run one timed operation. Its latency is recorded under `op` and
    * under each of `kinds`; a throw counts as a failed operation. */
  def op[T](name: String, kinds: String*)(body: Long => T): Option[T] = {
    val id = trace.newOp()
    if (traced) trace.tagJobs(id)
    val t0 = System.nanoTime()
    try {
      val r = trace.span(id, "op", name)(body(id))
      val dt = (System.nanoTime() - t0) / 1e9
      rec.attempted.incrementAndGet()
      sample("op", dt)
      kinds.foreach(sample(_, dt))
      Some(r)
    } catch {
      case NonFatal(e) => rec.fail(name, e); None
    } finally if (traced) trace.tagJobs(0L)
  }

  /** Run an untimed correctness check inside a pass. Its time is
    * subtracted from the pass, and its jobs, plans and compiles are
    * kept out of the traced counters. */
  def check[T](body: => T): T = {
    val t0 = System.nanoTime()
    try trace.excluding(body) finally checkNanos.addAndGet(System.nanoTime() - t0)
  }
}

/** One benchmark workload. */
trait Workload {
  /** The input tables this workload reads (and seeds into wire stores). */
  def tables: Seq[String]
  /** Work done once per set-up cycle and timed into `setup_s`: views,
    * catalogs, seeded wire stores, servers. */
  def setUp(spark: SparkSession, data: String, work: File): Unit
  /** Untimed, after set-up: capture expected results and warm up. */
  def prepare(ctx: Ctx): Unit
  /** One pass of the workload's fixed operation list. */
  def pass(ctx: Ctx, idx: Int): Unit
  /** Traced runs only, after the window: measurements a layer needs
    * beyond the pass samples. Returns layer metric values. */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
  /** Layer metrics derived from the traced pass samples. */
  def layerMetrics(ctx: Ctx): Map[String, Double] = Map.empty
  /** Workload-specific summary lines in seconds: (name, sample key). */
  def summary: Seq[(String, String)] = Seq.empty
}

object Main {
  val layerZeros: Seq[String] = Seq(
    "face.post_s", "face.page_s", "face.pages", "face.analysis_ms",
    "face.planning_ms", "face.overhead_s",
    "wire.mongo_scan_s", "wire.es_scan_s", "wire.mongo_rows_per_s",
    "wire.es_rows_per_s", "wire.mongo_ctas_s",
    "catalog.ctas_s", "catalog.insert_s", "catalog.merge_s",
    "catalog.delete_s", "catalog.optimize_s", "catalog.vacuum_s",
    "catalog.read_s", "catalog.read_asof_s", "catalog.data_files",
    "catalog.bytes_per_live_byte", "catalog.files_rewritten_per_delete") ++
    StmtFederated.names.map(q => s"stmt.${q}_p50_s")

  /** The session `graft.GraftSession.local` builds, with one
    * difference: its shuffle and spill directory stays inside the run's
    * work directory instead of `/dev/shm`, because a benchmark run may
    * write only inside its checkout. The warehouse and index roots are
    * per run for the same reason. */
  def session(work: File, cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("graft.index.root", new File(work, "index").getAbsolutePath)
    val spark = graft.GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.TrinoFunctions.register(spark)
    graft.functions.VectorFunctions.register(spark)
    spark.experimental.extraOptimizations = Seq(PlanningProbe)
    spark
  }

  def copyTables(from: File, to: File, tables: Seq[String]): Unit = {
    to.mkdirs()
    tables.foreach { t =>
      java.nio.file.Files.copy(new File(from, s"$t.parquet").toPath,
        new File(to, s"$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productIterator.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = new File(opts("data"))
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val w: Workload = workload match {
      case "stmt-federated" => new StmtFederated
      case "ingest-dml" => new IngestDml
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, three times: each cycle builds a fresh session over its
    // own copy of the data, so the wire stores seed again. The first
    // cycle runs in a cold JVM and is timed from JVM start
    // (`setup_cold_s`, printed only); setup_s is the median (the mean)
    // of the two warm cycles that follow.
    val setups = 3
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val dirs = (0 until setups).map { i =>
      val d = new File(work, s"data-$i"); copyTables(data, d, w.tables); d.getAbsolutePath
    }
    val setupS = mutable.ArrayBuffer[Double]()
    var coldS = 0.0
    var spark: SparkSession = null
    dirs.zipWithIndex.foreach { case (dir, i) =>
      val t0 = System.nanoTime()
      spark = session(work, cpus)
      w.setUp(spark, dir, work)
      if (i == 0) coldS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      else setupS += (System.nanoTime() - t0) / 1e9
      if (i < setups - 1) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val rec = new Recorder
    val trace = new Trace(spark)
    val ctx = new Ctx(spark, dirs.last, seed, trace, rec)
    val tPrep = System.nanoTime()
    w.prepare(ctx)
    val prepareS = (System.nanoTime() - tPrep) / 1e9
    ctx.recording = true

    // The window: whole passes until `seconds` have elapsed. Traced
    // runs mix untraced and traced passes in blocks of four (U T T U),
    // so the tracing cost is measured inside one run and a pass-to-pass
    // warming trend favours neither mode.
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    var tracedPasses = 0
    var tracedWallS = 0.0
    var idx = 0
    val w0 = System.nanoTime()
    def done = (System.nanoTime() - w0) / 1e9 >= seconds &&
      (!traced || idx % 4 == 0)
    while (!done) {
      ctx.traced = traced && (idx % 4 == 1 || idx % 4 == 2)
      ctx.checkNanos.set(0)
      if (ctx.traced) trace.attach()
      val ws = System.currentTimeMillis()
      val p0 = System.nanoTime()
      try w.pass(ctx, idx)
      catch { case NonFatal(e) => rec.fail(s"pass $idx", e) }
      val wall = (System.nanoTime() - p0 - ctx.checkNanos.get) / 1e9
      val we = System.currentTimeMillis()
      if (ctx.traced) {
        trace.detach()
        // the pass's window; its checks are cut out of it again in
        // outsideJobsMs, so every layer figure shares `wall`
        windows += ((ws, we))
        tracedPasses += 1
        tracedWallS += wall
      }
      ctx.sample("pass", wall)
      idx += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9

    def e2e(m: String): Map[String, Double] = {
      val ops = rec.get(s"$m.op")
      Map(
        "setup_s" -> median(setupS.toSeq),
        "pass_s" -> median(rec.get(s"$m.pass")),
        "op_mean_s" -> (if (ops.isEmpty) 0.0 else ops.sum / ops.size))
    }
    val untraced = e2e("u")
    val metrics: Map[String, Double] =
      if (!traced) untraced
      else {
        ctx.traced = true
        val n = tracedPasses.toDouble
        val probes = w.probes(ctx)
        val layers = mutable.LinkedHashMap[String, Double]()
        layerZeros.foreach(layers(_) = 0.0)
        layers ++= Map(
          "driver.analysis_s" -> trace.analysisMs.sum / 1e3 / n,
          "driver.optimization_s" -> trace.optimizationMs.sum / 1e3 / n,
          "driver.planning_s" -> trace.planningMs.sum / 1e3 / n,
          "driver.codegen_compile_s" -> trace.codegenNs.sum / 1e9 / n,
          "driver.codegen_compiles" -> trace.codegenCompiles.sum / n,
          "sched.jobs" -> trace.jobs.sum / n,
          "sched.stages" -> trace.stages.sum / n,
          "sched.tasks" -> trace.tasks.sum / n,
          "sched.single_task_stages" -> trace.singleTaskStages.sum / n,
          "sched.outside_jobs_s" -> trace.outsideJobsMs(windows.toSeq) / 1e3 / n,
          "sched.core_util" -> trace.runMs.sum / 1e3 / (tracedWallS * cpus),
          "exec.task_run_s" -> trace.runMs.sum / 1e3 / n,
          "exec.task_cpu_s" -> trace.cpuNs.sum / 1e9 / n,
          "exec.gc_s" -> trace.gcMs.sum / 1e3 / n,
          "exec.shuffle_read_mb" -> trace.shuffleReadBytes.sum / 1e6 / n,
          "exec.shuffle_write_mb" -> trace.shuffleWriteBytes.sum / 1e6 / n,
          "exec.spill_mb" -> trace.spillBytes.sum / 1e6 / n,
          "exec.peak_exec_mem_mb" -> trace.peakExecBytes.get / 1e6)
        layers ++= w.layerMetrics(ctx)
        layers ++= probes
        val t = e2e("t")
        Seq("pass_s", "op_mean_s").foreach { m =>
          layers(s"trace_overhead.$m") = t(m) - untraced(m)
        }
        val nSpans = trace.writeSpans(new File(opts("spans")))
        System.err.println(s"[perfbench] wrote $nSpans spans to ${opts("spans")}")
        layers.toMap
      }

    // Human-readable lines: every end-to-end figure with its unit,
    // sample count, median and widest well-sampled percentile.
    def line(name: String, unit: String, xs: Seq[Double]) =
      Map("name" -> name, "unit" -> unit, "samples" -> xs)
    val summary = Seq(
      line("setup_s", "s", setupS.toSeq),
      line("setup_cold_s", "s", Seq(coldS)),
      line("pass_s", "s", rec.get("u.pass")),
      line("op_latency_s", "s", rec.get("u.op"))) ++
      w.summary.map { case (name, key) => line(name, "s", rec.get(s"u.$key")) }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cpus" -> cpus, "setups" -> setupS.toSeq, "prepare_s" -> prepareS,
      "window_s" -> windowS, "passes" -> idx, "traced_passes" -> tracedPasses,
      "attempted" -> rec.attempted.get, "failed" -> rec.failed.get,
      "errors" -> rec.errors.asScala.toSeq,
      "metrics" -> metrics, "summary" -> summary)
    java.nio.file.Files.write(out.toPath, json(result).getBytes("UTF-8"))
    spark.stop()
    // the statement face's HTTP dispatcher and the wire servers hold
    // non-daemon threads
    sys.exit(0)
  }
}
