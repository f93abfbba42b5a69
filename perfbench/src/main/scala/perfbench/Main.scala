package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Permission-aware top-k benchmark over graft's public strategy, index
  * and layout functions. One process runs one workload: one client
  * thread in a closed loop on Spark `local[n]`. See perfbench/README.md.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --run-dir <dir> --out <dir> --cpus <n>
  *        Main --generate <data dir> <cpus>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dataRoot: String, runDir: String, outDir: String, cpus: Int)

  /** End-to-end metrics, every workload: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "answers_per_s" -> "1/s",
    "recall_at_k" -> "ratio", "cache_mb" -> "MB")

  /** Per-layer metrics of the traced run: (name, unit). A layer the
    * workload does not exercise reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "rbac.policy_ms" -> "ms", "rbac.selectivity" -> "ratio", "rbac.plan_ms" -> "ms") ++
    Point.All.map(s => s"strategy.${s.name}.p50_ms" -> "ms") ++ Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.driver_gap_ms" -> "ms",
    "spark.task_ms_per_op" -> "ms", "spark.scan_bytes_per_op" -> "bytes",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.gc_ms_per_op" -> "ms",
    "sources.files_scanned_per_query" -> "count", "sources.files_in_layout" -> "count",
    "sources.layout_bytes_per_block" -> "bytes",
    "sources.insert_ms" -> "ms", "sources.delete_ms" -> "ms", "sources.rollback_ms" -> "ms",
    "sources.rewrite_ms" -> "ms", "sources.write_p50_ms" -> "ms",
    "sources.jobs_per_write" -> "count", "sources.files_per_partition" -> "count",
    "sources.write_bytes_per_byte" -> "ratio",
    "build.dims_s" -> "s", "build.ivf_s" -> "s",
    "build.role_layout_s" -> "s", "build.costmodel_layout_s" -> "s",
    "kernel.pairs_per_s" -> "1/s",
    "cache.persisted_mb" -> "MB", "plancut.tmp_bytes_left" -> "bytes", "jvm.heap_peak_mb" -> "MB",
    "warmup.ops" -> "count", "trace.overhead_ms" -> "ms")

  val Workloads: Map[String, () => Workload] = Map(
    "point-sf0.1" -> (() => new Point),
    "churn-sf0.1" -> (() => new Churn))

  /** Writes the dataset under `dataRoot` and logs how long that took. */
  def generate(dataRoot: String, cpus: Int): Unit = {
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("perfbench-generate")
      .config("spark.ui.enabled", "false").getOrCreate()
    try Util.log(f"dataset generated in ${Data.generate(spark, dataRoot)}%.3f s")
    finally spark.stop()
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("run-dir"), need("out"), need("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--generate")) return generate(argv(1), argv(2).toInt)
    val a = parse(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; known: ${Workloads.keys.mkString(", ")}"))()
    Util.log(s"${a.workload} seed ${a.seed}")
    val line = new Runner(a).run(w)
    println(line)
  }
}

/** Everything a workload sees: the serving session and dataset, the
  * oracle, the tracer and its seeded stream.
  */
final class Ctx(val args: Main.Args, val spark: SparkSession, val dir: String,
                val oracle: Oracle, val tracer: Tracer, val rng: java.util.Random,
                val tmpDir: File)

/** What the measured phase produced. Latencies in ms. */
final class Outcome {
  val queryMs = mutable.ArrayBuffer.empty[Double]
  val recalls = mutable.ArrayBuffer.empty[Double]
  var answers = 0L
  var measuredS = 0.0
  var attempted = 0L
  var failed = 0L
  var warmupOps = 0L
  /** Latencies of the traced run, by (operation kind, traced). */
  val byTracing = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]

  /** Traced minus untraced median latency, per operation kind, then the
    * median over kinds: comparing within a kind keeps the mix of
    * strategies out of the estimate.
    */
  def tracingOverheadMs: Double = Util.median(byTracing.keys.map(_._1).toSeq.distinct.flatMap { kind =>
    for (t <- byTracing.get((kind, true)); u <- byTracing.get((kind, false)))
      yield Util.median(t.toSeq) - Util.median(u.toSeq)
  })
  val layer = mutable.Map.empty[String, Double]

  /** Runs one checked operation: an exception or a failed check counts as
    * a failure and never as a timed success.
    */
  def attempt(what: => String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case e: Exception =>
        Util.log(s"$what failed: $e")
        false
      }
    if (!ok) {
      failed += 1
      Util.log(s"wrong result: $what")
    }
    ok
  }
}

trait Workload {
  /** Builds every index and layout the workload serves from, cold, with
    * `workDir` for its own files. Returns seconds per build, keyed by
    * per-layer metric name.
    */
  def setup(spark: SparkSession, dir: String, seed: Long, workDir: File): Map[String, Double]
  /** Warms up, then measures for `ctx.args.seconds`. */
  def run(ctx: Ctx, out: Outcome): Unit
}

final class Runner(a: Main.Args) {
  private val SetupReps = 2

  private def session(localDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      // the same settings graft.Bench serves with
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getPath)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(w: Workload): String = {
    val runDir = new File(a.runDir)
    val tmp = new File(runDir, "tmp")
    val local = new File(runDir, "spark-local")
    tmp.mkdirs(); local.mkdirs()

    val dataDir = Data.dir(a.dataRoot)
    // generated by `--generate`, in its own JVM, so that every measured
    // run starts equally cold
    require(dataDir.isDirectory, s"dataset $dataDir is missing; run with --generate first")

    // Set-up, repeated cold: each repetition gets a fresh session and a
    // fresh alias of the dataset directory, so no session cache, JVM-level
    // index cache or materialized layout (all keyed by the directory) of an
    // earlier repetition is reused. The last repetition's session serves.
    var spark: SparkSession = null
    val reps = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val alias = new File(runDir, s"data-$r")
      Files.createSymbolicLink(alias.toPath, dataDir.toPath)
      val t0 = System.nanoTime()
      spark = session(local)
      val startS = (System.nanoTime() - t0) / 1e9
      val builds = w.setup(spark, alias.getPath, a.seed, new File(runDir, s"setup-$r"))
      (alias.getPath, startS + builds.values.sum, builds)
    }
    val setupS = Util.median(reps.map(_._2))
    val builds = reps.head._3.keys.map(k => k -> Util.median(reps.map(_._3(k)))).toMap
    Util.log(s"setup reps (s): ${reps.map(r => f"${r._2}%.3f ${r._3.map { case (k, v) => f"$k=$v%.2f" }.mkString("(", " ", ")")}").mkString(", ")}")
    Data.verify(spark, dataDir)

    val dir = reps.last._1
    val oracle = new Oracle(spark, dir)
    Util.log("oracle collected")
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(a, spark, dir, oracle, tracer, new java.util.Random(a.seed), tmp)
    val out = new Outcome
    w.run(ctx, out)

    Util.log("measured")
    tracer.drain()
    val frames = Probe.persistedMb(spark)
    val cacheMb = frames.map(_._2).sum
    spark.stop()
    // PlanCut's checkpoint dirs: whatever is left in them after the
    // session stopped was never released
    val leftovers = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_ckpt_"))
    val left = leftovers.map(Util.bytes).sum
    if (leftovers.nonEmpty)
      Util.log(s"left in the temp dir: ${leftovers.map(f => s"${f.getName} (${Util.bytes(f)} B)").mkString(", ")}")

    val e2e = Map(
      "setup_s" -> setupS,
      "query_p50_ms" -> Util.median(out.queryMs.toSeq),
      "answers_per_s" -> out.answers / out.measuredS,
      "recall_at_k" -> Util.mean(out.recalls.toSeq),
      "cache_mb" -> cacheMb)
    val layer = out.layer ++ builds ++ Map(
      "cache.persisted_mb" -> cacheMb,
      "plancut.tmp_bytes_left" -> left.toDouble,
      "jvm.heap_peak_mb" -> Probe.heapPeakMb,
      "warmup.ops" -> out.warmupOps.toDouble,
      "trace.overhead_ms" -> out.tracingOverheadMs)

    val metrics = if (a.trace) Main.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      else Main.EndToEnd.map { case (n, u) => (n, e2e(n), u) }
    val metricJson = metrics.map { case (n, v, u) =>
      s"${Util.jsonStr(n)}:{\"value\":${Util.jsonNum(v)},\"unit\":${Util.jsonStr(u)}}" }.mkString(",")
    val ok = out.failed == 0 && out.attempted > 0

    // the run report: samples, set-up repetitions, frames held, spans
    new File(a.outDir).mkdirs()
    val report = new StringBuilder
    report ++= s"""{"workload":${Util.jsonStr(a.workload)},"seed":${a.seed},"trace":${a.trace},"""
    report ++= s""""fingerprint":${Util.jsonStr(Data.fingerprintOf(dataDir))},"""
    report ++= s""""query_samples":${out.queryMs.length},"measured_s":${Util.jsonNum(out.measuredS)},"""
    report ++= s""""setup_reps_s":[${reps.map(r => Util.jsonNum(r._2)).mkString(",")}],"""
    report ++= s""""end_to_end":{${e2e.map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonNum(v)}" }.mkString(",")}},"""
    report ++= s""""per_layer":{${layer.toSeq.sortBy(_._1).map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonNum(v)}" }.mkString(",")}},"""
    report ++= s""""cache_mb_by_frame":{${frames.map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonNum(v)}" }.mkString(",")}},"""
    report ++= s""""attempted":${out.attempted},"failed":${out.failed},"spans":${tracer.toJson}}"""
    Files.write(Paths.get(a.outDir, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      report.toString.getBytes("UTF-8"))

    s"""{"correct":$ok,"attempted":${out.attempted},"failed":${out.failed},"metrics":{$metricJson}}"""
  }
}
