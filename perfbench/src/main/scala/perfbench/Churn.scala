package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.rbac.Rbac
import graft.sources.Layouts

/** Writes beside reads on the materialized role layout. Set-up builds the
  * layout over the corpus minus seeded held-out blocks. Each cycle of the
  * closed loop then runs the write sequence of graft's own tests of these
  * functions (CoreSpec): it inserts one held-out batch of 1/13 of the
  * blocks and rewrites one role partition, as the compaction test does,
  * and it either deletes a seeded set of 1/11 of the documents or rolls
  * the previous cycle's delete back, as the delete test does. A point
  * read follows every write and is checked against the live block set
  * (inserted minus deleted); the reads draw their users and k from the
  * same stratified schedule as the point workload.
  */
final class Churn extends Workload {
  /** CoreSpec's compaction test holds out block_id % 13 == 0. */
  private val InsertBlocks = Data.Blocks / 13
  /** CoreSpec's delete test deletes doc_id % 11 == 0; a document has one block here. */
  private val DeleteBlocks = Data.Blocks / 11
  private val Batches = 8
  private val DeleteIds = 100000L
  private val WarmupCycles = 2
  /** Raw bytes of one block row: block id, document id, 64 floats. */
  private val BlockBytes = 8 + 8 + 4 * Data.Dim

  private var heldOut: IndexedSeq[Seq[Long]] = IndexedSeq.empty
  /** The layout the last set-up built; the measured phase writes to it. */
  private var layout = ""

  def setup(s: SparkSession, d: String, seed: Long, workDir: File): Map[String, Double] = {
    val rng = new java.util.Random(seed * 31 + 7)
    // block 0 is the query vector; it stays in the base layout
    heldOut = Point.shuffled(1L until Data.Blocks, rng).take(Batches * InsertBlocks).grouped(InsertBlocks).toIndexedSeq
    Map(
      "build.dims_s" -> Util.seconds { Rbac.userRoles(s, d).count(); Rbac.permissions(s, d).count() },
      "build.role_layout_s" -> Util.seconds {
        layout = Layouts.materializeRoleLayoutFrom(s, d,
          Rbac.blocks(s, d).filter(!col("block_id").isin(heldOut.flatten: _*)), workDir.getPath)
      })
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val (s, d, o, tr, rng) = (ctx.spark, ctx.dir, ctx.oracle, ctx.tracer, ctx.rng)
    val live = mutable.Set.from(o.ids)
    live --= heldOut.flatten
    val writeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var changedBytes = 0.0
    var reads = 0
    var measuring = false
    val combos = new Point.Combos(rng)

    def read(): Unit = {
      reads += 1
      // every other pair of reads, so traced and untraced reads see both k alike
      val traced = tr.on && measuring && (reads / 2) % 2 == 0
      val u = Point.userOf(combos.next(), rng)
      val k = Point.Ks(reads % Point.Ks.length)
      var ms = Double.NaN
      val snapshot = live.toSet
      val ok = out.attempt(s"read user=$u k=$k") {
        tr.op("read", traced, "user" -> u, "k" -> k) {
          val t0 = System.nanoTime()
          val df = tr.child("plan")(Layouts.prunedRoleSearch(s, d, layout, u, k))
          val rows = tr.child("execute")(df.collect())
          ms = Util.ms(t0)
          val got = rows.map(_.getAs[Long]("block_id")).toSeq
          val want = o.pointTopK(o.roles(u), k, Some(snapshot)).toSeq
          out.recalls += Oracle.recall(got, want)
          got == want
        }
      }
      if (!ok) ms = Double.NaN // a wrong answer is never timed
      if (measuring && !ms.isNaN) {
        out.queryMs += ms
        out.answers += 1
        out.measuredS += ms / 1000
        if (tr.on) out.byTracing.getOrElseUpdate(("read", traced), mutable.ArrayBuffer.empty) += ms
      }
    }

    def write(kind: String, blocks: Int)(body: => Unit): Unit = {
      var ms = Double.NaN
      out.attempt(s"$kind") {
        tr.op(s"write:$kind", measuring) {
          val t0 = System.nanoTime()
          body
          ms = Util.ms(t0)
          true
        }
      }
      if (measuring && !ms.isNaN) {
        writeMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        out.measuredS += ms / 1000
        changedBytes += blocks.toDouble * BlockBytes
      }
      read()
    }

    var cycle = 0
    var pending: Option[(Long, Seq[Long])] = None // a delete the next cycle rolls back
    def runCycle(): Unit = {
      val batch = heldOut(cycle)
      write("insert", batch.length) {
        Layouts.compactInserts(s, d, layout, Rbac.blocks(s, d).filter(col("block_id").isin(batch: _*)), cycle + 1L)
        live ++= batch
      }
      write("rewrite", 0)(Layouts.rewritePartition(s, layout, (cycle % Rbac.NumRoles).toLong))
      pending match {
        case None =>
          val victims = Point.shuffled(live.toSeq.sorted.filter(_ != 0L), rng).take(DeleteBlocks).map(o.docOf)
          val victimBlocks = o.ids.filter(b => victims.contains(o.docOf(b)) && live(b)).toSeq
          val delId = DeleteIds + cycle
          write("delete", victimBlocks.length) {
            Layouts.deleteBatch(s, d, layout, s.createDataFrame(victims.map(Tuple1(_))).toDF("document_id"), delId)
            live --= victimBlocks
          }
          pending = Some((delId, victimBlocks))
        case Some((delId, victimBlocks)) =>
          write("rollback", victimBlocks.length) {
            Layouts.rollbackDelete(s, layout, delId)
            live ++= victimBlocks
          }
          pending = None
      }
      cycle += 1
    }

    // warm-up: one delete cycle and one rollback cycle
    while (cycle < WarmupCycles) {
      val t0 = System.nanoTime()
      runCycle()
      Util.log(f"warm-up cycle $cycle: ${Util.ms(t0)}%.1f ms")
    }
    out.warmupOps = out.attempted

    measuring = true
    val end = System.nanoTime() + ctx.args.seconds * 1000000000L
    val first = cycle
    // whole pairs of cycles, so deletes and rollbacks weigh alike
    while ((System.nanoTime() < end || (cycle - first) % 2 != 0) && cycle < Batches) runCycle()
    require(System.nanoTime() >= end, s"held-out batches ran out after $cycle cycles")

    val allWrites = writeMs.values.flatten.toSeq
    out.layer ++= Map(
      "sources.insert_ms" -> Util.median(writeMs.getOrElse("insert", Nil).toSeq),
      "sources.delete_ms" -> Util.median(writeMs.getOrElse("delete", Nil).toSeq),
      "sources.rollback_ms" -> Util.median(writeMs.getOrElse("rollback", Nil).toSeq),
      "sources.rewrite_ms" -> Util.median(writeMs.getOrElse("rewrite", Nil).toSeq),
      "sources.write_p50_ms" -> Util.median(allWrites))
    val root = new File(layout)
    val files = Util.parquetFiles(root).filter(_.getParentFile.getName.startsWith("partition_role="))
    out.layer("sources.files_in_layout") = files.length.toDouble
    out.layer("sources.files_per_partition") = files.length.toDouble / files.map(_.getParentFile).distinct.length
    out.layer("sources.layout_bytes_per_block") = files.map(_.length).sum.toDouble / live.size
    if (tr.on) {
      tr.drain()
      val readSpans = tr.opSpans("read")
      val rc = readSpans.map(tr.countersOf)
      val wc = tr.opSpans("write:").map(tr.countersOf)
      out.layer ++= Map(
        "rbac.plan_ms" -> Util.median(readSpans.flatMap(tr.childSpans(_, "plan")).map(_.durMs)),
        "spark.jobs_per_op" -> Util.mean(rc.map(_._1.jobs.toDouble)),
        "spark.stages_per_op" -> Util.mean(rc.map(_._1.stages.toDouble)),
        "spark.tasks_per_op" -> Util.mean(rc.map(_._1.tasks.toDouble)),
        "spark.driver_gap_ms" -> Util.mean(rc.map(_._2)),
        "spark.task_ms_per_op" -> Util.mean(rc.map(_._1.taskMs.toDouble)),
        "spark.scan_bytes_per_op" -> Util.mean(rc.map(_._1.scanBytes.toDouble)),
        "spark.shuffle_bytes_per_op" -> Util.mean(rc.map(_._1.shuffleBytes.toDouble)),
        "spark.gc_ms_per_op" -> Util.mean(rc.map(_._1.gcMs.toDouble)),
        "sources.jobs_per_write" -> Util.mean(wc.map(_._1.jobs.toDouble)),
        "sources.write_bytes_per_byte" -> wc.map(_._1.outputBytes.toDouble).sum / changedBytes)
    }
  }
}
