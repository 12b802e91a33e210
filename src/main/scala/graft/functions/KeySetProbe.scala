package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** True when the integral key columns `children` hold one of `keys`,
  * false when any of them is null (a null equals no key) — the state
  * store's journal-key probe ([[graft.EntityState]]'s merge filters on
  * its negation, so a null-keyed base row survives, as it did the
  * left-anti join this replaced).
  *
  * Why custom: Catalyst's InSet boxes every probed value into a Scala
  * hash set (a TreeSet under interpreted ordering for a struct key) and
  * renders every value into each plan string. Over the sf0.1 lineitem
  * with a 4096-key journal (the store's compaction bound) that made the
  * merge pass slower than the broadcast anti join. Here the first key
  * column is a binary search over a sorted primitive array, and only the
  * rows whose first column matches search the whole tuple. */
case class KeySetProbe(children: Seq[Expression], keys: KeySet) extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "key_set_probe"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.sizeIs != keys.width)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: ${children.size} key columns, ${keys.width}-column keys")
    else children.map(_.dataType).find(!KeySet.integral(_)) match {
      case Some(t) => TypeCheckResult.TypeCheckFailure(s"$prettyName takes integral key columns, got $t")
      case None => TypeCheckResult.TypeCheckSuccess
    }

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    !vs.contains(null) && keys.contains(vs.map(_.asInstanceOf[Number].longValue).toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("keys", keys, classOf[KeySet].getName)
    val cs = children.map(_.genCode(ctx))
    val first = s"$set.containsFirst((long) ${cs.head.value})"
    val whole =
      if (cs.sizeIs == 1) ""
      else cs.tail.map(c => s" && !${c.isNull}").mkString +
        s" && $set.contains(new long[] {${cs.map(c => s"(long) ${c.value}").mkString(", ")}})"
    ev.copy(code = code"""
      |${cs.map(_.code).mkString("\n")}
      |boolean ${ev.value} = !${cs.head.isNull} && $first$whole;
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KeySetProbe =
    copy(children = newChildren)
}

/** Keys of `width` integral columns as sorted primitive arrays: the
  * distinct first-column values, and every whole key flattened in
  * lexicographic order. Both lookups are binary searches; the arrays
  * ship to each task as two `long[]`. */
final class KeySet(tuples: Seq[Seq[Long]]) extends Serializable {
  require(tuples.nonEmpty, "a key set needs at least one key")
  val width: Int = tuples.head.size
  require(tuples.forall(_.sizeIs == width), "every key needs the same number of columns")
  private val firsts: Array[Long] = tuples.map(_.head).distinct.sorted.toArray
  private val flat: Array[Long] =
    tuples.sorted(Ordering.Implicits.seqOrdering[Seq, Long]).flatten.toArray
  def size: Int = flat.length / width

  def containsFirst(v: Long): Boolean = java.util.Arrays.binarySearch(firsts, v) >= 0

  def contains(vs: Array[Long]): Boolean = {
    var lo = 0
    var hi = size - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      var c = 0
      var j = 0
      while (c == 0 && j < width) { c = java.lang.Long.compare(flat(mid * width + j), vs(j)); j += 1 }
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  override def toString: String = s"$size keys"
}

object KeySet {
  def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
}
