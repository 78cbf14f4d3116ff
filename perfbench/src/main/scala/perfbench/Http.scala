package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** One HTTP/1.1 exchange as the client saw it. Times are epoch micros:
  * request written, first response byte read, last body byte read. */
final case class Exchange(status: Int, headers: Map[String, String],
    body: Array[Byte], sentUs: Long, firstByteUs: Long, lastByteUs: Long)

/** A blocking keep-alive HTTP/1.1 client over one socket. The load
  * generator gives each of its threads one of these, so the number of
  * connections is the number of threads, and the client starts no
  * threads of its own. */
final class HttpConn(port: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setReceiveBufferSize(1 << 20)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  }

  def post(path: String, body: Array[Byte], headers: Map[String, String] = Map.empty): Exchange = {
    if (sock == null || sock.isClosed) open()
    val head = new StringBuilder(s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n")
    headers.foreach { case (k, v) => head ++= s"$k: $v\r\n" }
    head ++= s"Content-Length: ${body.length}\r\n\r\n"
    val os = sock.getOutputStream
    os.write(head.toString.getBytes(US_ASCII))
    os.write(body)
    os.flush()
    val sent = Clock.micros()
    try read(sent)
    catch { case e: Exception => close(); throw e }
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream(128)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    new String(b.toByteArray, US_ASCII)
  }

  private def readFully(n: Int, out: ByteArrayOutputStream): Unit = {
    val buf = new Array[Byte](1 << 16)
    var left = n
    while (left > 0) {
      val k = in.read(buf, 0, math.min(buf.length, left))
      if (k < 0) throw new java.io.EOFException("connection closed mid-body")
      out.write(buf, 0, k)
      left -= k
    }
  }

  private def read(sent: Long): Exchange = {
    val status = readLine()
    val first = Clock.micros()
    val code = status.split(" ")(1).toInt
    var headers = Map.empty[String, String]
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      headers += line.take(i).trim.toLowerCase -> line.drop(i + 1).trim
      line = readLine()
    }
    val body = new ByteArrayOutputStream()
    if (headers.get("transfer-encoding").exists(_.equalsIgnoreCase("chunked"))) {
      var size = Integer.parseInt(readLine().split(";")(0).trim, 16)
      while (size > 0) {
        readFully(size, body)
        readLine()
        size = Integer.parseInt(readLine().split(";")(0).trim, 16)
      }
      while (readLine().nonEmpty) ()
    } else headers.get("content-length").foreach(n => readFully(n.toInt, body))
    val last = Clock.micros()
    if (headers.get("connection").exists(_.equalsIgnoreCase("close"))) close()
    Exchange(code, headers, body.toByteArray, sent, first, last)
  }

  def close(): Unit = {
    if (sock != null) try sock.close() catch { case _: Exception => () }
    sock = null
  }
}

object HttpConn {
  /** The `{"sql": ...}` body of a query request. */
  def json(sql: String): Array[Byte] = {
    val esc = sql.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    ("{\"sql\":\"" + esc + "\"}").getBytes(UTF_8)
  }
}
