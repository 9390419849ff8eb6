package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Payload values and their two wire forms: JSON text and MsgPack bytes
  * (the two encodings the engine's consumer accepts). */
sealed trait V
final case class S(s: String) extends V
final case class L(l: Long) extends V
final case class D(d: Double) extends V
final case class B(b: Boolean) extends V
final case class O(fields: Seq[(String, V)]) extends V

object Envelopes {
  def json(v: V): String = {
    val sb = new StringBuilder
    def go(v: V): Unit = v match {
      case S(s) => sb.append(Json.str(s))
      case L(l) => sb.append(l)
      case D(d) => sb.append(f"$d%.2f")
      case B(b) => sb.append(b)
      case O(fs) =>
        sb.append('{')
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(',')
          sb.append(Json.str(k)).append(':')
          go(x)
        }
        sb.append('}')
    }
    go(v)
    sb.toString
  }

  /** MsgPack (msgpack.org spec): maps, strings, int64, float64, booleans. */
  def msgpack(v: V): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    def go(v: V): Unit = v match {
      case S(s) =>
        val b = s.getBytes(UTF_8)
        if (b.length < 32) data.writeByte(0xa0 | b.length)
        else { data.writeByte(0xda); data.writeShort(b.length) }
        data.write(b)
      case L(l) =>
        if (l >= 0 && l < 128) data.writeByte(l.toInt)
        else { data.writeByte(0xd3); data.writeLong(l) }
      case D(d) => data.writeByte(0xcb); data.writeDouble(BigDecimal(d).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
      case B(b) => data.writeByte(if (b) 0xc3 else 0xc2)
      case O(fs) =>
        if (fs.size < 16) data.writeByte(0x80 | fs.size)
        else { data.writeByte(0xde); data.writeShort(fs.size) }
        fs.foreach { case (k, x) => go(S(k)); go(x) }
    }
    go(v)
    data.flush()
    out.toByteArray
  }

  /** Flattened leaf names of a payload, the engine's `a__b` convention. */
  def leaves(v: V, prefix: String = ""): Seq[String] = v match {
    case O(fs) => fs.flatMap { case (k, x) =>
      x match {
        case o: O => leaves(o, prefix + k + "__")
        case _ => Seq(prefix + k)
      }
    }
    case _ => Nil
  }
}
