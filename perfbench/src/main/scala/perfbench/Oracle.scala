package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Driver-side brute-force answers every strategy is checked against.
  *
  * The policy tables and the blocks are collected once per run, and every
  * answer is recomputed here with the reference's semantics: a document
  * is accessible when any role the user holds grants it (DISTINCT at
  * document level), distance is L2 computed in double from float
  * coordinates (graft's kernel does the same), and ties break on
  * `block_id`.
  */
final class Oracle(spark: SparkSession, dir: String) {
  import Oracle._

  private val blockRows = graft.rbac.Rbac.blocks(spark, dir)
    .select(col("block_id"), col("document_id"), col("embedding")).collect()
  val ids: Array[Long] = blockRows.map(_.getLong(0))
  val docs: Array[Long] = blockRows.map(_.getLong(1))
  val vecs: Array[Array[Float]] = blockRows.map(_.getSeq[Float](2).toArray)
  private val index: Map[Long, Int] = ids.zipWithIndex.toMap

  private val rolesByUser: Map[Long, Array[Long]] = graft.rbac.Rbac.userRoles(spark, dir)
    .collect().groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).sorted }

  private val rolesByDoc: Map[Long, Set[Long]] = graft.rbac.Rbac.permissions(spark, dir)
    .collect().groupBy(_.getLong(1)).map { case (d, rs) => d -> rs.map(_.getLong(0)).toSet }

  /** The fixed point-query vector: block 0's embedding. */
  val pointQuery: Array[Float] = vecs(index(0L))
  private val pointDist: Array[Double] = vecs.map(l2(_, pointQuery))

  def roles(user: Long): Set[Long] = rolesByUser.getOrElse(user, Array.empty[Long]).toSet

  /** Held roles plus every role below them in graft's derived role tree
    * (parent(r) = r / 2, role 0 the root): a senior role inherits its
    * juniors' grants.
    */
  def effectiveRoles(user: Long): Set[Long] = {
    val held = roles(user)
    (0L until graft.rbac.Rbac.NumRoles).filter { r =>
      Iterator.iterate(r)(_ / 2).takeWhile(_ > 0).exists(held) || held(0L) || held(r)
    }.toSet
  }

  def accessible(roleSet: Set[Long], doc: Long): Boolean =
    rolesByDoc.get(doc).exists(_.exists(roleSet))

  private val exactCache = mutable.Map.empty[(Set[Long], Int, Option[Set[Long]]), Array[Long]]

  /** Exact permission-aware top-k of the point query for a role set,
    * optionally restricted to a live block subset (the churn layout).
    */
  def pointTopK(roleSet: Set[Long], k: Int, live: Option[Set[Long]] = None): Array[Long] =
    exactCache.getOrElseUpdate((roleSet, k, live), {
      ids.indices.filter(i => accessible(roleSet, docs(i)) && live.forall(_.contains(ids(i))))
        .sortBy(i => (pointDist(i), ids(i))).take(k).map(ids).toArray
    })

  /** The post-filter's answer: the global top-(overfetch·k) over all
    * blocks, then its accessible blocks, first k, in order.
    */
  def postTopK(roleSet: Set[Long], k: Int, overfetch: Int = 10): Array[Long] =
    ids.indices.sortBy(i => (pointDist(i), ids(i))).take(overfetch * k)
      .filter(i => accessible(roleSet, docs(i))).take(k).map(ids).toArray

  /** Blocks a role set may read. */
  def accessibleBlocks(roleSet: Set[Long]): Int = docs.count(accessible(roleSet, _))

  /** Accessible blocks over all blocks, for a role set. */
  def selectivity(roleSet: Set[Long]): Double = accessibleBlocks(roleSet).toDouble / docs.length

  def vector(id: Long): Array[Float] = vecs(index(id))

  def docOf(block: Long): Long = docs(index(block))
}

object Oracle {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** |got ∩ want| / |want|; 1 when nothing is wanted. */
  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
