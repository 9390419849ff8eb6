package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, RandomUUIDGenerator}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-batch values that leave an append's generated code unchanged.
  *
  * Spark's codegen cache is keyed by the generated Java source, and a
  * literal is inlined into that source. A per-batch literal (an epoch,
  * `current_timestamp()`, `uuid()`'s seed) therefore makes every batch's
  * append of a type new source, and each batch pays Janino for it again
  * (12–24 classes of 15–22 ms). These expressions keep their value in the
  * generated class's references array instead, as the codebook kernels
  * keep their codebooks ([[NearestCentroidId]]): the source is the same
  * for every batch of a type, and a warm batch compiles nothing. They are
  * not foldable, so the optimizer never turns them back into literals.
  */
object BatchStamps {

  /** `t` as a TIMESTAMP: the micros `lit(t)` gives. */
  def timestamp(t: java.sql.Timestamp): Column =
    Bridge.column(Stamp(DateTimeUtils.fromJavaTimestamp(t), TimestampType))

  /** The driver's now as a TIMESTAMP, read once here, as
    * `current_timestamp()` reads it once per query. */
  def now(): Column = Bridge.column(
    Stamp(DateTimeUtils.instantToMicros(java.time.Instant.now()), TimestampType))

  /** `v` as a BIGINT. */
  def long(v: Long): Column = Bridge.column(Stamp(v, LongType))

  /** Random UUIDs as 32 lowercase hex chars, seeded per call like
    * `uuid()` is per query. */
  def uuidHex(): Column = Bridge.column(UuidHex(scala.util.Random.nextLong()))

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** `u` without its dashes. */
  def hex(u: java.util.UUID): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 32) {
      val word = if (i < 16) u.getMostSignificantBits else u.getLeastSignificantBits
      out(i) = HexDigits(((word >>> (60 - 4 * (i % 16))) & 0xf).toInt)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** A long-backed value (BIGINT or TIMESTAMP micros) read by reference. */
case class Stamp(value: Long, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def prettyName: String = "graft_stamp"
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stamp", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

/** `uuid()` with its seed read by reference; one generator per partition,
  * seeded `seed + partitionIndex` as Spark's `Uuid` does. */
case class UuidHex(seed: Long) extends LeafExpression with Nondeterministic {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_uuid_hex"

  @transient private[this] var gen: RandomUUIDGenerator = _
  override protected def initializeInternal(partitionIndex: Int): Unit =
    gen = RandomUUIDGenerator(seed + partitionIndex)
  override protected def evalInternal(input: InternalRow): Any =
    BatchStamps.hex(gen.getNextUUID())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RandomUUIDGenerator].getName
    val seedRef = ctx.addReferenceObj("seed", java.lang.Long.valueOf(seed), "java.lang.Long")
    val g = ctx.addMutableState(cls, "uuidGen", forceInline = true)
    ctx.addPartitionInitializationStatement(
      s"$g = new $cls($seedRef.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = graft.plans.BatchStamps.hex($g.getNextUUID());",
      isNull = FalseLiteral)
  }
}
