package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.language.implicitConversions
import graft.sources.hdf5.Hdf5Writer.{dataspace, dtFixed, dtFloat, dtString, pad8}

/** One header-attribute value, what every reader returns and every
  * writer takes: a scalar or a 1-D array of `Long`, `Double` or
  * `String` (scida's `tree["attrs"]`). It holds the only attribute
  * type switches: `scalar` (scida's `get_scalar`), value equality
  * (numbers as doubles, so an HDF5 long equals the double zarr's JSON
  * brings back; strings exactly; arrays by length and element-wise;
  * a scalar never equals an array), the zarr `.zattrs` JSON, and the
  * HDF5 attribute message (8-byte numbers, fixed-length strings).
  * Foreign zarr values outside the model (JSON `null`, booleans,
  * objects, mixed arrays) are `Json(text)`, so their keys survive:
  * zarr writes the text back, HDF5 stores it as a string. Literal
  * numbers, strings and arrays of them convert implicitly. */
sealed trait Attr extends Product with Serializable {
  import Attr._

  /** What `==` compares: numbers as doubles, arrays as sequences. */
  private def key: Any = this match {
    case I64(v) => v.toDouble
    case F64(v) => v
    case Str(v) => v
    case I64s(v) => v.map(_.toDouble)
    case F64s(v) => v
    case Strs(v) => v
    case Json(t) => ("json", t)
  }

  def scalar: Option[Double] = key match {
    case d: Double => Some(d)
    case Seq(d: Double, _*) => Some(d)
    case _ => None
  }

  def string: Option[String] = this match { case Str(v) => Some(v); case _ => None }

  override def equals(o: Any): Boolean = o match {
    case a: Attr => matches(a, _ == _)
    case _ => false
  }
  override def hashCode: Int = key.##

  /** `==` with numbers compared by `same` (np.isclose for config
    * identifiers, `Load.identifySimulation`). */
  def matches(o: Attr, same: (Double, Double) => Boolean): Boolean = (key, o.key) match {
    case (a: Double, b: Double) => same(a, b)
    case (a: Seq[_], b: Seq[_]) => a.length == b.length && a.lazyZip(b).forall {
      case (x: Double, y: Double) => same(x, y)
      case (x, y) => x == y
    }
    case (a, b) => a == b
  }

  def json: String = this match {
    case Json(t) => t
    case a => render(a.productElement(0))
  }

  /** The body of an HDF5 version-1 attribute message named `name`. */
  private[sources] def hdf5Message(name: String): Array[Byte] = {
    val ((dtB, dataB), dims) = this match {
      case I64(v) => (longs(Seq(v)), Nil)
      case F64(v) => (doubles(Seq(v)), Nil)
      case Str(v) => (strings(Seq(v)), Nil)
      case Json(t) => (strings(Seq(t)), Nil)
      case I64s(v) => (longs(v), Seq(v.length.toLong))
      case F64s(v) => (doubles(v), Seq(v.length.toLong))
      case Strs(v) => (strings(v), Seq(v.length.toLong))
    }
    val dsB = dataspace(dims.toArray)
    val nameB = name.getBytes("UTF-8") :+ 0.toByte
    val heads = Seq(nameB, dtB, dsB)
    val body = le(8 + heads.map(b => pad8(b.length)).sum + dataB.length)
    body.put(1.toByte); body.put(0.toByte) // version 1, reserved
    heads.foreach(b => body.putShort(b.length.toShort))
    heads.foreach(b => body.put(java.util.Arrays.copyOf(b, pad8(b.length))))
    body.put(dataB).array()
  }
}

object Attr {
  final case class I64(v: Long) extends Attr
  final case class F64(v: Double) extends Attr
  final case class Str(v: String) extends Attr
  final case class I64s(v: IndexedSeq[Long]) extends Attr
  final case class F64s(v: IndexedSeq[Double]) extends Attr
  final case class Strs(v: IndexedSeq[String]) extends Attr
  /** A foreign JSON value outside the model, as its JSON text. */
  final case class Json(text: String) extends Attr

  implicit def fromLong(v: Long): Attr = I64(v)
  implicit def fromDouble(v: Double): Attr = F64(v)
  implicit def fromString(v: String): Attr = Str(v)
  implicit def fromLongs(v: Array[Long]): Attr = I64s(v.toVector)
  implicit def fromDoubles(v: Array[Double]): Attr = F64s(v.toVector)
  implicit def fromStrings(v: Array[String]): Attr = Strs(v.toVector)

  /** A `MiniJson` value: a number, a string, an array of numbers (or
    * an empty one) or of strings; anything else is `Json`. */
  def fromJson(v: Any): Attr = v match {
    case d: Double => F64(d)
    case s: String => Str(s)
    case xs: Seq[_] if xs.forall(_.isInstanceOf[Double]) =>
      F64s(xs.collect { case d: Double => d }.toVector)
    case xs: Seq[_] if xs.forall(_.isInstanceOf[String]) =>
      Strs(xs.collect { case s: String => s }.toVector)
    case other => Json(render(other))
  }

  /** A `.zattrs` object: name → value, names sorted. */
  def jsonObject(m: Map[String, Attr]): String = render(m)

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** JSON text of an attribute (map), of its value or of a `MiniJson`
    * tree (numbers and booleans print as their `toString`). */
  private def render(v: Any): String = v match {
    case a: Attr => a.json
    case null => "null"
    case s: String => quote(s)
    case m: Map[String @unchecked, Any @unchecked] =>
      m.toSeq.sortBy(_._1).map { case (k, x) => quote(k) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => other.toString
  }

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def longs(v: Seq[Long]) = {
    val b = le(8 * v.length); v.foreach(b.putLong)
    (dtFixed(8, signed = true), b.array())
  }

  private def doubles(v: Seq[Double]) = {
    val b = le(8 * v.length); v.foreach(b.putDouble)
    (dtFloat(8), b.array())
  }

  /** One byte longer than the longest element, so each ends in NUL. */
  private def strings(v: Seq[String]) = {
    val raw = v.map(_.getBytes("UTF-8"))
    val len = raw.map(_.length).maxOption.getOrElse(0) + 1
    (dtString(len), raw.flatMap(java.util.Arrays.copyOf(_, len)).toArray)
  }
}
