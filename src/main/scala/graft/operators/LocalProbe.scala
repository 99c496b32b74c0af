package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The one probe behind the cost-dispatched driver-local paths of the
  * iterative graph operators ([[ConnectedComponents]],
  * [[LabelPropagation]], [[Louvain]], [[PageRank]], [[RandomWalk]]) and
  * of [[Hits]]'s caller-passed threshold: a bounded `take(max+1)`
  * answers "does this relation fit the local ceiling?" with ONE
  * CollectLimit job — a corpus-sized input stops at the cap and stays on
  * the distributed path. Same dispatch idea as Spark's broadcast
  * threshold and [[RowIndexer]]'s window dispatch.
  */
private[graft] object LocalProbe {

  /** Ceilings of the graph operators' local paths: the local loops hold
    * the collected edges plus a few node-keyed maps, a few MB of driver
    * memory at these sizes. */
  val MaxNodes = 4096
  val MaxEdges = 1 << 20

  private val ceilings = new DynamicVariable((MaxNodes, MaxEdges))

  /** Runs `body` with other (node, edge) ceilings; a ceiling ≤ 0 turns
    * the local paths that use it off without a probe job. Read on the
    * calling thread, where every graph probe runs. */
  private[graft] def withCeilings[A](nodes: Int, edges: Int)(body: => A): A =
    ceilings.withValue((nodes, edges))(body)

  /** What bounds a probed relation. */
  sealed trait Bound
  /** Edge rows under the edge ceiling, their distinct keys under the node ceiling. */
  case object Edges extends Bound
  /** Edge rows under the edge ceiling, with no node ceiling. */
  case object Pairs extends Bound
  /** Node rows under the node ceiling. */
  case object Nodes extends Bound

  /** A collected relation: every row as longs — the key columns coded,
    * then the Long value columns — and the decoder from a key code back
    * to the caller's key value (typed like the first key column). */
  final case class Dense(rows: Array[Array[Long]], decode: Long => Any) {
    def pairs: Array[(Long, Long)] = rows.map(r => (r(0), r(1)))
    def triples: Array[(Long, Long, Long)] = rows.map(r => (r(0), r(1), r(2)))
  }

  /** `df` as dense rows when it fits `bound`, else None. The first `keys`
    * columns must be integral — of one type when `sameType` — or, when
    * `strings`, all strings, which are coded by their sorted order (the
    * local loops order by keys only to fix the accumulation order, so
    * any stable coding is sound); every other column must be LongType.
    * A type mismatch returns None without a job; otherwise ONE bounded
    * take, and None past the row ceiling, on any null, or past the node
    * ceiling. */
  def collect(df: DataFrame, bound: Bound, keys: Int = 2,
              sameType: Boolean = true, strings: Boolean = false): Option[Dense] = {
    val types = df.schema.fields.map(_.dataType)
    val keyT = types(0)
    val keyTypes = types.take(keys)
    val typed =
      (keyTypes.forall(isIntegral) || strings && keyTypes.forall(_ == StringType)) &&
        (!sameType || keyTypes.forall(_ == keyT)) && types.drop(keys).forall(_ == LongType)
    val (maxNodes, maxEdges) = ceilings.value
    if (!typed || bound == Edges && maxNodes <= 0) return None
    takeBounded(df, if (bound == Nodes) maxNodes else maxEdges)
      .filterNot(_.exists(_.anyNull))
      .flatMap { taken =>
        val (code, decode): (Any => Long, Long => Any) =
          if (keyT == StringType) {
            val dict = taken.flatMap(r => (0 until keys).map(r.getString)).distinct.sorted
            val idx = dict.iterator.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap
            (v => idx(v.asInstanceOf[String]), i => dict(i.toInt))
          } else (v => v.asInstanceOf[Number].longValue, fromLong(_, keyT))
        val rows = taken.map(r => Array.tabulate(r.length)(i =>
          if (i < keys) code(r.get(i)) else r.getLong(i)))
        def nodes = rows.iterator.flatMap(_.iterator.take(keys)).distinct.size
        if (bound == Edges && nodes > maxNodes) None else Some(Dense(rows, decode))
      }
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def fromLong(v: Long, dt: DataType): Any = dt match {
    case ByteType    => v.toByte
    case ShortType   => v.toShort
    case IntegerType => v.toInt
    case _           => v
  }

  /** Collected rows when the relation holds ≤ max of them; None past
    * the cap (or when the cap disables local execution outright). */
  def takeBounded(df: DataFrame, max: Int): Option[Array[Row]] = {
    if (max <= 0) return None
    val t = df.take(max + 1)
    if (t.length > max) None else Some(t)
  }
}
