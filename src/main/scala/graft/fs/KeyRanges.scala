package graft.fs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Ranges of the leading key `lead` that a key-clustered version's
  * files hold, and that a merge routes rows through: `bounds` are
  * ascending Catalyst values of the key's type, range `i` holds the
  * keys `k` with `bounds(i - 1) <= k < bounds(i)`, and null keys go to
  * range 0 (they sort first). A key's range is a function of the key
  * alone, so rows that join on the keys also agree on the range, and
  * two sides routed by the same ranges join on (keys, range id) with no
  * further exchange.
  */
private[fs] final case class KeyRanges(lead: String, bounds: IndexedSeq[Any]) {
  def count: Int = bounds.size + 1

  /** `df` with the range id column, one partition per range. */
  def route(df: DataFrame): DataFrame =
    df.withColumn(KeyRanges.Col, Bridge.column(KeyRangeId(Bridge.expression(col(lead)), bounds)))
      .repartitionById(count, col(KeyRanges.Col))
}

private[fs] object KeyRanges {
  /** The range id column a routed frame carries. */
  val Col = "_graft_range"
  /** A clustered version's file list, inside its directory. */
  val Manifest = "_manifest"

  /** The ranges of a version clustered into `files` files: every file
    * holds key stats and the files' ranges ascend without overlap.
    * None otherwise, and then the caller samples split points.
    */
  def ofManifest(lead: String, m: OnlineManifest, files: Int): Option[KeyRanges] = {
    val ranges = m.files.map(f => f.kmin.zip(f.kmax))
    val ascending = ranges.forall(_.isDefined) && ranges.flatten.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => OnlineManifest.order.lt(hi, lo)
      case _ => true
    }
    // integral stats are Longs; the bounds take the key's own type
    val keyType = m.schema(m.keyIndex).dataType
    def bound(v: Any): Any = (keyType, v) match {
      case (ByteType, l: Long) => l.toByte
      case (ShortType, l: Long) => l.toShort
      case (IntegerType, l: Long) => l.toInt
      case _ => v
    }
    if (m.keyCol != lead || m.files.size != files || !ascending) None
    else Some(KeyRanges(lead, m.files.tail.map(f => bound(f.kmin.get)).toIndexedSeq))
  }
}

/** The range id of `child` under ascending `bounds`: how many bounds
  * are <= the value, 0 for null. The generated code reads the bounds
  * from a reference array, so merges whose bounds differ share one
  * compiled stage.
  */
private[fs] final case class KeyRangeId(child: Expression, bounds: IndexedSeq[Any])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) 0
    else {
      var lo = 0
      var hi = bounds.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ordering.lteq(bounds(mid), k)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = child.genCode(ctx)
    val arr = ctx.addReferenceObj("bounds", bounds.map(_.asInstanceOf[AnyRef]).toArray, "Object[]")
    val jt = CodeGenerator.javaType(child.dataType)
    val boxed = CodeGenerator.boxedType(child.dataType)
    val Seq(lo, hi, mid, b) = Seq("lo", "hi", "mid", "b").map(ctx.freshName)
    ev.copy(code = code"""
      |${k.code}
      |int ${ev.value} = 0;
      |if (!${k.isNull}) {
      |  int $lo = 0;
      |  int $hi = $arr.length;
      |  while ($lo < $hi) {
      |    int $mid = ($lo + $hi) >>> 1;
      |    $jt $b = ($boxed) $arr[$mid];
      |    if (${ctx.genComp(child.dataType, b, k.value)} <= 0) $lo = $mid + 1; else $hi = $mid;
      |  }
      |  ${ev.value} = $lo;
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): KeyRangeId =
    copy(child = newChild)
}
