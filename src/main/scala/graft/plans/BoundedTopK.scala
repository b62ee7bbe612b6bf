package graft.plans

import java.nio.ByteBuffer
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst bounded top-k aggregate: keeps the k best
  * (score DESC, id ASC) pairs in a fixed-size heap.
  *
  * This is the piece Spark lacks for scalable per-group top-k: a window
  * `row_number() <= k` shuffles EVERY scored row to the group's reducer,
  * while this aggregate participates in partial aggregation — each map
  * task emits at most k entries per group, so the shuffle volume is
  * O(groups * k * partitions) regardless of corpus size. Used by
  * Similarity.knnCosine* (per-query neighbor lists at 100 TB scale).
  *
  * Input: a struct(score: double, id: long) child expression.
  * Output: array<struct<score:double, id:bigint>> sorted best-first.
  */
case class BoundedTopK(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "k must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(f0, f1))
        if f0.dataType == DoubleType && f1.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires struct<score:double, id:bigint> input, got " +
        other.catalogString +
        " (cast the score to double and the id to bigint)")
  }

  // evict the WORST entry first: a min-heap under "better =
  // (higher score, then lower id)" — PriorityQueue keeps max on top, so
  // invert the comparison
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan[(Double, Long)] { (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  override def update(buffer: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        add(buffer, (row.getDouble(0), row.getLong(1)))
      }
    }
    buffer
  }

  private def add(buffer: mutable.PriorityQueue[(Double, Long)],
                  e: (Double, Long)): Unit = {
    if (buffer.size < k) buffer.enqueue(e)
    else if (worstFirst.lt(e, buffer.head)) { // e beats the current worst
      buffer.dequeue(); buffer.enqueue(e)
    }
  }

  override def merge(buffer: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(add(buffer, _))
    buffer
  }

  override def eval(buffer: mutable.PriorityQueue[(Double, Long)]): Any = {
    // under worstFirst "a < b iff a better", ascending sort = best first
    val sorted = buffer.toArray.sorted(worstFirst)
    new GenericArrayData(sorted.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    buffer.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val q = createAggregationBuffer()
    var j = 0
    while (j < n) { q.enqueue((bb.getDouble, bb.getLong)); j += 1 }
    q
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "bounded_top_k"
}

object BoundedTopK {
  val name = "bounded_top_k"

  private[plans] val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"$name(struct(score, id), k) takes 2 arguments")
    require(children(1).foldable,
      s"$name: k must be a literal (foldable) integer, got " +
        children(1).sql)
    val k = children(1).eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$name: k must be an integer literal, got $other")
    }
    BoundedTopK(children.head, k).toAggregateExpression()
  }

  /** Idempotent session registration — callable by operators directly;
    * also injected by [[GraftExtensions]] via spark.sql.extensions.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(name)
    if (!registry.functionExists(ident)) {
      registry.registerFunction(ident,
        new ExpressionInfo(classOf[BoundedTopK].getName, name), builder)
    }
  }
}

/** SparkSessionExtensions hook: set
  * spark.sql.extensions=graft.plans.GraftExtensions to get the graft
  * native functions in every session (SQL included).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(BoundedTopK.name),
      new ExpressionInfo(classOf[BoundedTopK].getName, BoundedTopK.name),
      BoundedTopK.builder))
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRule)
  }
}
