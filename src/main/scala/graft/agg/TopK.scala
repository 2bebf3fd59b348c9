package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graft.SqlAccess
import org.apache.spark.sql.types._

/** Bounded top-k as a Catalyst aggregate: the k rows of a group first
  * in `(score DESC, payload ASC)` order, as `array<struct<score, payload>>`
  * in that order — the scale-correct form of
  * `row_number() OVER (PARTITION BY g ORDER BY score DESC, payload ASC) <= k`.
  *
  * The window shuffles EVERY scored candidate row to the group's reducer
  * before discarding all but k; this aggregate updates map-side, so the
  * exchange carries at most k rows per (group × input partition) — at a
  * billion candidates per group that is the difference between shuffling
  * 10⁹ rows and shuffling k·partitions.
  *
  * Order: Spark's own ordering of each type, as the window's sort has it
  * (a double NaN ranks above +∞, −0.0 ties 0.0, strings compare by UTF-8
  * bytes). A row whose score or payload is NULL takes no part, as
  * `max_by` skips a NULL ordering value. Rows equal in both score and
  * payload are interchangeable. TopKSpec checks the aggregate against the
  * window over random partial/merge/serialize splits, codegen and
  * interpreted.
  *
  * Buffer: the kept rows in order, at most k (insertion keeps the order;
  * a candidate no better than the k-th is dropped after one compare). It
  * crosses an exchange as the `UnsafeArrayData` of its output array.
  *
  * @param elem the output struct; the inputs are cast to its two field types */
case class BoundedTopK(score: Expression, payload: Expression, k: Int, name: String, elem: StructType,
                       mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedTopK.Buffer] with BinaryLike[Expression] {

  override def left: Expression = score
  override def right: Expression = payload
  override def prettyName: String = name
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(elem, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k >= 0 && score.dataType == elem(0).dataType && payload.dataType == elem(1).dataType &&
        Seq(score, payload).forall(e => TypeUtils.checkForOrderingExpr(e.dataType, name).isSuccess))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires k >= 0 and orderable (${elem(0).dataType.simpleString}, " +
        s"${elem(1).dataType.simpleString}) inputs, got k=$k, " +
        s"(${score.dataType.simpleString}, ${payload.dataType.simpleString})")

  @transient private lazy val scoreOrd = TypeUtils.getInterpretedOrdering(elem(0).dataType)
  @transient private lazy val payloadOrd = TypeUtils.getInterpretedOrdering(elem(1).dataType)
  @transient private lazy val toUnsafe = UnsafeProjection.create(Array[DataType](dataType))

  /** (s1, p1) ranks strictly before (s2, p2). */
  private def before(s1: Any, p1: Any, s2: Any, p2: Any): Boolean = {
    val c = scoreOrd.compare(s1, s2)
    c > 0 || (c == 0 && payloadOrd.lt(p1, p2))
  }

  /** Keep (s, p) if it ranks among the k first, dropping the k-th; an
    * input row's values are copied only when kept (`owned` = already a copy). */
  private def offer(b: BoundedTopK.Buffer, s: Any, p: Any, owned: Boolean): Unit =
    if (k > 0 && (b.n < k || before(s, p, b.scores(b.n - 1), b.payloads(b.n - 1)))) {
      val (sv, pv) = if (owned) (s, p) else (InternalRow.copyValue(s), InternalRow.copyValue(p))
      var i = math.min(b.n, k - 1)
      while (i > 0 && before(sv, pv, b.scores(i - 1), b.payloads(i - 1))) {
        b.scores(i) = b.scores(i - 1)
        b.payloads(i) = b.payloads(i - 1)
        i -= 1
      }
      b.scores(i) = sv
      b.payloads(i) = pv
      if (b.n < k) b.n += 1
    }

  override def createAggregationBuffer(): BoundedTopK.Buffer = new BoundedTopK.Buffer(k)

  override def update(b: BoundedTopK.Buffer, input: InternalRow): BoundedTopK.Buffer = {
    val s = score.eval(input)
    if (s != null) {
      val p = payload.eval(input)
      if (p != null) offer(b, s, p, owned = false)
    }
    b
  }

  override def merge(b: BoundedTopK.Buffer, other: BoundedTopK.Buffer): BoundedTopK.Buffer = {
    var i = 0
    while (i < other.n) {
      offer(b, other.scores(i), other.payloads(i), owned = true)
      i += 1
    }
    b
  }

  override def eval(b: BoundedTopK.Buffer): Any =
    new GenericArrayData(Array.tabulate[Any](b.n)(i => InternalRow(b.scores(i), b.payloads(i))))

  override def serialize(b: BoundedTopK.Buffer): Array[Byte] =
    toUnsafe(InternalRow(eval(b))).getBytes

  override def deserialize(bytes: Array[Byte]): BoundedTopK.Buffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val rows = row.getArray(0)
    val b = new BoundedTopK.Buffer(k)
    b.n = rows.numElements()
    var i = 0
    while (i < b.n) {
      val r = rows.getStruct(i, 2)
      b.scores(i) = r.get(0, elem(0).dataType)
      b.payloads(i) = r.get(1, elem(1).dataType)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedTopK = copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedTopK = copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BoundedTopK =
    copy(score = newLeft, payload = newRight)
}

object BoundedTopK {

  /** The kept rows, first `n` slots in rank order. */
  final class Buffer(k: Int) {
    val scores = new Array[Any](k)
    val payloads = new Array[Any](k)
    var n = 0
  }

  /** The aggregate as a Column function `(score, payload) => top`, named
    * `name` in plans, its output element `elem`. */
  def column(k: Int, name: String, elem: StructType): (Column, Column) => Column =
    (score, payload) => SqlAccess.column(BoundedTopK(
      SqlAccess.expression(score.cast(elem(0).dataType)),
      SqlAccess.expression(payload.cast(elem(1).dataType)), k, name, elem).toAggregateExpression())

  private[agg] def elem(score: (String, DataType), payload: (String, DataType)): StructType =
    new StructType()
      .add(score._1, score._2, nullable = false)
      .add(payload._1, payload._2, nullable = payload._2 == StringType)
}

/** Top-k by (score desc, id asc) — similarity search.
  * `TopK(5)(col("sim"), col("vec_id"))` →
  * `array<struct<score: double, id: bigint>>`, length ≤ k. */
object TopK {
  def apply(k: Int): (Column, Column) => Column =
    BoundedTopK.column(k, "topk", BoundedTopK.elem("score" -> DoubleType, "id" -> LongType))
}

/** Top-k by (count desc, word asc) — vocabulary building.
  * `TopWords(10)(col("n"), col("w"))` → `array<struct<n: bigint, w: string>>`. */
object TopWords {
  def apply(k: Int): (Column, Column) => Column =
    BoundedTopK.column(k, "topwords", BoundedTopK.elem("n" -> LongType, "w" -> StringType))
}

/** Top-k by (score desc, term asc) — TF-IDF / keyword extraction.
  * `TopTerms(5)(col("tfidf"), col("w"))` →
  * `array<struct<score: double, term: string>>`. */
object TopTerms {
  def apply(k: Int): (Column, Column) => Column =
    BoundedTopK.column(k, "topterms", BoundedTopK.elem("score" -> DoubleType, "term" -> StringType))
}
