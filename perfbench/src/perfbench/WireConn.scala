package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

/** A client connection speaking the server's frame protocol (u32 BE length
  * + payload out; u8 ok + u64 BE length + body back). Unlike the program's
  * own `TcpClient` it lets a caller queue frames and read replies
  * separately, which a pipelined window and an open-loop writer need, and
  * it has a read timeout so a hung reply becomes a failed operation. */
final class WireConn(port: Int, timeoutMs: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)
  private val in = new DataInputStream(
    new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(
    new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  def send(payload: Array[Byte]): Unit = {
    out.writeInt(payload.length)
    out.write(payload)
  }

  def flush(): Unit = out.flush()

  /** Next reply: (ok flag, body). */
  def reply(): (Boolean, Array[Byte]) = {
    val ok = in.readByte() == 1
    val body = new Array[Byte](in.readLong().toInt)
    in.readFully(body)
    (ok, body)
  }

  def request(payload: Array[Byte]): (Boolean, Array[Byte]) = {
    send(payload); flush(); reply()
  }

  def cmd(s: String): (Boolean, String) = {
    val (ok, body) = request(s.getBytes("UTF-8"))
    (ok, new String(body, "UTF-8"))
  }

  def close(): Unit = try sock.close() catch { case _: Exception => () }
}
