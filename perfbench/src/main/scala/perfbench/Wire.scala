package perfbench

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URL}
import java.nio.{ByteBuffer, ByteOrder}

/** The client side of the server's wire protocol, written apart from the
  * engine's own codec so that a codec defect on the server cannot cancel
  * out on the client: msgpack JSON-RPC over HTTP POST, and the columnar
  * NumpyMultiDataset payload inside query results.
  */
object Wire {

  // ---------------------------------------------------------------- msgpack

  def encode(v: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    write(out, v)
    out.toByteArray
  }

  private def be(out: ByteArrayOutputStream, v: Long, bytes: Int): Unit =
    (bytes - 1 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))

  private def write(out: ByteArrayOutputStream, v: Any): Unit = v match {
    case null => out.write(0xc0)
    case b: Boolean => out.write(if (b) 0xc3 else 0xc2)
    case i: Int => write(out, i.toLong)
    case l: Long =>
      if (l >= 0 && l < 128) out.write(l.toInt)
      else if (l < 0 && l >= -32) out.write((l & 0xff).toInt)
      else { out.write(0xd3); be(out, l, 8) }
    case d: Double => out.write(0xcb); be(out, java.lang.Double.doubleToLongBits(d), 8)
    case s: String =>
      val b = s.getBytes("UTF-8")
      if (b.length < 32) out.write(0xa0 | b.length)
      else { out.write(0xdb); be(out, b.length.toLong, 4) }
      out.write(b)
    case b: Array[Byte] => out.write(0xc6); be(out, b.length.toLong, 4); out.write(b)
    case m: Map[_, _] =>
      out.write(0xdf); be(out, m.size.toLong, 4)
      m.foreach { case (k, x) => write(out, k); write(out, x) }
    case s: Seq[_] =>
      out.write(0xdd); be(out, s.size.toLong, 4)
      s.foreach(write(out, _))
    case other => throw new IllegalArgumentException(s"msgpack: cannot encode ${other.getClass}")
  }

  def decode(bytes: Array[Byte]): Any = read(ByteBuffer.wrap(bytes))

  private def read(b: ByteBuffer): Any = {
    val t = b.get() & 0xff
    def str(n: Int) = { val a = new Array[Byte](n); b.get(a); new String(a, "UTF-8") }
    def bin(n: Int) = { val a = new Array[Byte](n); b.get(a); a }
    def arr(n: Int) = Vector.fill(n)(read(b))
    def map(n: Int) = (0 until n).map(_ => read(b) -> read(b)).toMap
    t match {
      case x if x <= 0x7f => x.toLong
      case x if x >= 0xe0 => (x - 256).toLong
      case x if (x & 0xf0) == 0x80 => map(x & 0x0f)
      case x if (x & 0xf0) == 0x90 => arr(x & 0x0f)
      case x if (x & 0xe0) == 0xa0 => str(x & 0x1f)
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => bin(b.get() & 0xff)
      case 0xc5 => bin(b.getShort() & 0xffff)
      case 0xc6 => bin(b.getInt())
      case 0xca => b.getFloat().toDouble
      case 0xcb => b.getDouble()
      case 0xcc => (b.get() & 0xff).toLong
      case 0xcd => (b.getShort() & 0xffff).toLong
      case 0xce => b.getInt() & 0xffffffffL
      case 0xcf => b.getLong()
      case 0xd0 => b.get().toLong
      case 0xd1 => b.getShort().toLong
      case 0xd2 => b.getInt().toLong
      case 0xd3 => b.getLong()
      case 0xd9 => str(b.get() & 0xff)
      case 0xda => str(b.getShort() & 0xffff)
      case 0xdb => str(b.getInt())
      case 0xdc => arr(b.getShort() & 0xffff)
      case 0xdd => arr(b.getInt())
      case 0xde => map(b.getShort() & 0xffff)
      case 0xdf => map(b.getInt())
      case x => throw new IllegalArgumentException(f"msgpack: unsupported type byte 0x$x%02x")
    }
  }

  // ------------------------------------------------------------- transport

  /** One JSON-RPC call; returns the decoded `result` and the response size.
    * A JSON-RPC error is raised as an exception, so the caller counts the
    * request as failed.
    */
  def call(port: Int, method: String, params: Map[String, Any], id: Long): (Map[Any, Any], Int) = {
    val body = encode(Map("jsonrpc" -> "2.0", "method" -> method, "params" -> params, "id" -> id))
    val c = new URL(s"http://127.0.0.1:$port/rpc").openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/x-msgpack")
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val os = c.getOutputStream
    os.write(body); os.close()
    val in = c.getInputStream
    val resp = try in.readAllBytes() finally in.close()
    val m = decode(resp).asInstanceOf[Map[Any, Any]]
    m.get("error") match {
      case Some(e: Map[_, _]) => throw new IllegalStateException(s"rpc error: ${e.asInstanceOf[Map[Any, Any]].getOrElse("message", e)}")
      case _ =>
    }
    val result = m("result").asInstanceOf[Map[Any, Any]]
    (result, resp.length)
  }

  def get(port: Int, path: String): String = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    val in = c.getInputStream
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  // ------------------------------------------------------ numpy datasets

  /** A decoded NumpyMultiDataset: column names, and per TBK key the rows as
    * column-name → value maps. Integers decode to Long, floats to Double.
    */
  final case class Dataset(names: Seq[String], groups: Map[String, IndexedSeq[Map[String, Any]]])

  private val widths = Map("i4" -> 4, "i8" -> 8, "f4" -> 4, "f8" -> 8, "i1" -> 1, "i2" -> 2)

  def decodeDataset(ds: Map[Any, Any]): Dataset = {
    val names = ds("names").asInstanceOf[Seq[Any]].map(_.toString)
    val types = ds("types").asInstanceOf[Seq[Any]].map(_.toString)
    val data = ds("data").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Array[Byte]])
    val n = ds("length").asInstanceOf[Long].toInt
    val cols: Seq[IndexedSeq[Any]] = types.zip(data).map { case (t, bytes) =>
      val w = widths.getOrElse(t, throw new IllegalArgumentException(s"numpy: dtype $t"))
      require(bytes.length == n * w, s"numpy: blob of $t has ${bytes.length} bytes for $n rows")
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      (0 until n).map { _ =>
        t match {
          case "i1" => buf.get().toLong
          case "i2" => buf.getShort().toLong
          case "i4" => buf.getInt().toLong
          case "i8" => buf.getLong()
          case "f4" => buf.getFloat().toDouble
          case "f8" => buf.getDouble()
        }
      }
    }
    val rows = (0 until n).map(r => names.indices.map(c => names(c) -> cols(c)(r)).toMap)
    val starts = ds.getOrElse("startindex", Map.empty).asInstanceOf[Map[Any, Any]]
    val lens = ds.getOrElse("lengths", Map.empty).asInstanceOf[Map[Any, Any]]
    val groups = starts.map { case (k, s) =>
      val from = s.asInstanceOf[Long].toInt
      k.toString -> rows.slice(from, from + lens(k).asInstanceOf[Long].toInt)
    }
    Dataset(names, groups)
  }
}
