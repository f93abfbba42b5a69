package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ann.IvfIndex
import graft.rbac.{Hierarchy, Partitioned, Rbac}
import graft.sources.Layouts

object Point {
  /** How a strategy's answer is checked against the oracle. */
  sealed trait Check
  /** Equals the exact top-k, in order. */
  case object Exact extends Check
  /** Equals the exact top-k under the role hierarchy, in order. */
  case object HierarchyExact extends Check
  /** Equals the accessible blocks among the global top-(10·k), first k, in order. */
  case object Post extends Check
  /** Exactly min(k, accessible blocks) distinct accessible blocks in
    * distance order: the IVF probe widens until its lists hold k
    * accessible candidates, but need not find the exact ones.
    */
  case object IvfProbe extends Check

  final case class Strategy(name: String, check: Check, idCol: String,
                            run: (SparkSession, String, Long, Int) => DataFrame)

  val All: Seq[Strategy] = Seq(
    Strategy("prefilter", Exact, "block_id", Rbac.prefilterTopK),
    Strategy("postfilter", Post, "block_id", (s, d, u, k) => Rbac.postfilterTopK(s, d, u, k)),
    Strategy("rls", Exact, "block_id", Rbac.rlsTopK),
    Strategy("role_partition", Exact, "block_id", Partitioned.rolePartitionTopK),
    Strategy("comb_partition", Exact, "block_id", Partitioned.combPartitionTopK),
    Strategy("dynamic_partition", Exact, "block_id", (s, d, u, k) => Partitioned.dynamicPartitionTopK(s, d, u, k)),
    Strategy("pruned_layout", Exact, "block_id", Layouts.prefilterPruned),
    Strategy("hierarchy", HierarchyExact, "block_id", Hierarchy.hierarchyTopK),
    Strategy("ivf_probe", IvfProbe, "vec_id",
      (s, d, u, k) => IvfIndex.predicateAwareSearch(s, d, u, IvfLists, topk = k)))

  /** Lists of the IVF index the probe strategy searches (its default). */
  val IvfLists = 16

  val Ks: Seq[Int] = Seq(10, 100)

  /** A user of role combination `combo`: users hold roles u % 10 and
    * (3u + 1) % 10, so u % 10 fixes the combination.
    */
  def userOf(combo: Int, rng: java.util.Random): Long = combo + 10L * rng.nextInt(Data.Users / 10)

  /** Role combinations in shuffled blocks of 10: each 10 successive
    * draws cover every combination once, so a seed cannot shift a
    * latency median through its combination mix.
    */
  final class Combos(rng: java.util.Random) {
    private var block: Iterator[Int] = Iterator.empty
    def next(): Int = {
      if (!block.hasNext) block = shuffled(0 until 10, rng).iterator
      block.next()
    }
  }

  def shuffled[A](xs: Seq[A], rng: java.util.Random): Seq[A] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Warm-up ends when the medians of two successive rounds differ by
    * less than this share.
    */
  val SteadyShare = 0.05
  val MinWarmupRounds = 2
  val MaxWarmupRounds = 3
}

/** Closed loop of point queries (strategy, user, k) with the fixed query
  * vector. A round runs every strategy once, half of them at each k, in
  * seeded order, with the users stratified over the 10 role combinations;
  * the measured window holds whole pairs of rounds only, so every run
  * weighs the strategies and both k alike.
  */
final class Point extends Workload {
  import Point._

  // graft keeps these layouts under java.io.tmpdir, not in workDir
  def setup(s: SparkSession, d: String, seed: Long, workDir: File): Map[String, Double] = Map(
    "build.dims_s" -> Util.seconds {
      Rbac.userRoles(s, d).count(); Rbac.permissions(s, d).count(); Hierarchy.roleClosure(s).count()
    },
    "build.role_layout_s" -> Util.seconds(Layouts.prefilterPruned(s, d, 0L, 1)),
    "build.costmodel_layout_s" -> Util.seconds {
      Layouts.costModelLayoutPath(s, d); Partitioned.costModelLayout(s, d).count()
    },
    "build.ivf_s" -> Util.seconds {
      IvfIndex.getOrBuild(s, d, IvfLists); IvfIndex.assignments(s, d, IvfLists).count()
      IvfIndex.withCells(s, d, IvfLists).count()
    })

  /** Round `r`: every strategy once, half at each k, the halves swapped
    * in the next round, so two successive rounds cover every (strategy, k).
    */
  private def round(r: Int, combos: Combos, rng: java.util.Random): Seq[(Strategy, Int, Long)] =
    shuffled(All.zipWithIndex.map { case (st, i) => (st, Ks((i + r) % Ks.length)) }, rng)
      .map { case (st, k) => (st, k, userOf(combos.next(), rng)) }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val tr = ctx.tracer
    val perStrategy = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val selectivity = mutable.ArrayBuffer.empty[Double]
    val filesScanned = mutable.ArrayBuffer.empty[Double]
    var opNo = 0
    val combos = new Combos(ctx.rng)

    /** One checked query; returns its latency (plan + execute) in ms. */
    def query(st: Strategy, k: Int, u: Long, measured: Boolean): Double = {
      opNo += 1
      val traced = tr.on && measured && opNo % 2 == 0
      var ms = Double.NaN
      val ok = out.attempt(s"${st.name} user=$u k=$k") {
        // (query, block) pairs the strategy's semantics score: every block
        // for the post-filter, the accessible blocks otherwise
        val pairs = st.check match {
          case Post => ctx.oracle.ids.length.toDouble
          case HierarchyExact => ctx.oracle.selectivity(ctx.oracle.effectiveRoles(u)) * ctx.oracle.ids.length
          case _ => ctx.oracle.selectivity(ctx.oracle.roles(u)) * ctx.oracle.ids.length
        }
        tr.op(s"query:${st.name}", traced, "user" -> u, "k" -> k, "pairs" -> pairs) {
          if (traced) tr.child("policy", ownGroup = true)(Rbac.accessibleDocs(ctx.spark, ctx.dir, u).collect())
          val t0 = System.nanoTime()
          val df = tr.child("plan")(st.run(ctx.spark, ctx.dir, u, k))
          val rows = tr.child("execute")(df.collect())
          ms = Util.ms(t0)
          if (traced) filesScanned += Probe.filesScanned(df).toDouble
          check(ctx.oracle, st, u, k, rows, out.recalls)
        }
      }
      if (!ok) ms = Double.NaN // a wrong answer is never timed
      if (measured && !ms.isNaN) {
        out.queryMs += ms
        out.answers += 1
        out.measuredS += ms / 1000
        perStrategy.getOrElseUpdate(st.name, mutable.ArrayBuffer.empty) += ms
        selectivity += ctx.oracle.selectivity(ctx.oracle.roles(u))
        if (tr.on) out.byTracing.getOrElseUpdate((st.name, traced), mutable.ArrayBuffer.empty) += ms
      }
      ms
    }

    // warm-up: whole rounds until two successive round medians agree
    var prev = Double.NaN
    var steady = false
    var rounds = 0
    while (!steady && rounds < MaxWarmupRounds) {
      val r = round(rounds, combos, ctx.rng)
      val med = Util.median(r.map { case (st, k, u) => query(st, k, u, measured = false) }.filterNot(_.isNaN))
      out.warmupOps += r.length
      Util.log(f"warm-up round $rounds: median $med%.1f ms")
      rounds += 1
      steady = rounds >= MinWarmupRounds && math.abs(med - prev) <= SteadyShare * prev
      prev = med
    }
    Util.log(s"warm-up: ${out.warmupOps} queries in $rounds rounds (steady=$steady)")

    val end = System.nanoTime() + ctx.args.seconds * 1000000000L
    var r = 0
    while (System.nanoTime() < end || r % 2 != 0) {
      val ms = round(r, combos, ctx.rng).map { case (st, k, u) => query(st, k, u, measured = true) }
      Util.log(f"round $r: median ${Util.median(ms.filterNot(_.isNaN))}%.1f ms")
      r += 1
    }

    if (tr.on) {
      tr.drain()
      val ops = tr.opSpans("query:")
      // the policy child runs under its own job group; its wall time is
      // not part of the query's driver gap
      val c = ops.map { op =>
        val (cnt, gap) = tr.countersOf(op)
        (cnt, gap - tr.childSpans(op, "policy").map(_.durMs).sum)
      }
      def avg(f: ((Counters, Double)) => Double) = Util.mean(c.map(f))
      out.layer ++= Map(
        "rbac.policy_ms" -> Util.median(ops.flatMap(tr.childSpans(_, "policy")).map(_.durMs)),
        "rbac.plan_ms" -> Util.median(ops.flatMap(tr.childSpans(_, "plan")).map(_.durMs)),
        "spark.jobs_per_op" -> avg(_._1.jobs.toDouble),
        "spark.stages_per_op" -> avg(_._1.stages.toDouble),
        "spark.tasks_per_op" -> avg(_._1.tasks.toDouble),
        "spark.driver_gap_ms" -> avg(_._2),
        "spark.task_ms_per_op" -> avg(_._1.taskMs.toDouble),
        "spark.scan_bytes_per_op" -> avg(_._1.scanBytes.toDouble),
        "spark.shuffle_bytes_per_op" -> avg(_._1.shuffleBytes.toDouble),
        "spark.gc_ms_per_op" -> avg(_._1.gcMs.toDouble),
        "kernel.pairs_per_s" -> ops.map(_.attrs("pairs").toDouble).sum / (c.map(_._1.taskMs).sum / 1000.0),
        "sources.files_scanned_per_query" -> Util.mean(filesScanned.toSeq))
    }
    out.layer("rbac.selectivity") = Util.mean(selectivity.toSeq)
    perStrategy.foreach { case (n, xs) => out.layer(s"strategy.$n.p50_ms") = Util.median(xs.toSeq) }
    // the serving set-up's layouts: graft names them after the dataset dir
    val alias = s"_${new File(ctx.dir).getName}_"
    val layouts = Option(ctx.tmpDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_layouts_")).flatMap(_.listFiles())
      .filter(_.getName.contains(alias)).flatMap(Util.parquetFiles)
    out.layer("sources.files_in_layout") = layouts.length.toDouble
    out.layer("sources.layout_bytes_per_block") = layouts.map(_.length).sum.toDouble / ctx.oracle.ids.length
  }

  private def check(o: Oracle, st: Strategy, u: Long, k: Int, rows: Array[Row],
                    recalls: mutable.ArrayBuffer[Double]): Boolean = {
    val got = rows.map(_.getAs[Long](st.idCol)).toSeq
    st.check match {
      case Exact => got == o.pointTopK(o.roles(u), k).toSeq
      case HierarchyExact => got == o.pointTopK(o.effectiveRoles(u), k).toSeq
      case Post =>
        recalls += Oracle.recall(got, o.pointTopK(o.roles(u), k).toSeq)
        got == o.postTopK(o.roles(u), k).toSeq
      case IvfProbe =>
        val rs = o.roles(u)
        recalls += Oracle.recall(got, o.pointTopK(rs, k).toSeq)
        val d = got.map(b => Oracle.l2(o.vector(b), o.pointQuery))
        got.length == math.min(k, o.accessibleBlocks(rs)) && got.distinct.length == got.length &&
          got.forall(b => o.accessible(rs, o.docOf(b))) && d.zip(d.drop(1)).forall { case (a, b) => a <= b }
    }
  }
}
