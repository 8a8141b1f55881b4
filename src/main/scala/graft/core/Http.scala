package graft.core

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration

/** Real HTTP transport for the HTTP stages, on the JDK's built-in client —
  * no external dependency. One shared client per JVM (so per-executor):
  * connection pooling across rows/batches, never serialized into closures
  * (stage transports are plain function values; this object resolves
  * statically on each executor).
  */
object Http {

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()

  /** Largest body [[get]] and [[readFile]] return: 256 MB. A larger
    * response or file fails with an IOException before it is held, so one
    * huge blob cannot ask an executor for an array its heap cannot hold. */
  val MaxBodyBytes: Int = 1 << 28

  def get(uri: String, headers: Map[String, String] = Map.empty): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(uri)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
    val in = r.body()
    try {
      val body = in.readNBytes(MaxBodyBytes)
      if (in.read() >= 0) throw new IOException(s"$uri: body over $MaxBodyBytes bytes")
      (r.statusCode(), body)
    } finally in.close()
  }

  /** Bytes of a local file, at most [[MaxBodyBytes]]. */
  def readFile(path: Path): Array[Byte] = {
    val size = Files.size(path)
    if (size > MaxBodyBytes) throw new IOException(s"$path: $size bytes, over $MaxBodyBytes")
    Files.readAllBytes(path)
  }

  def post(
      uri: String,
      body: Array[Byte],
      headers: Map[String, String] = Map.empty
  ): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(uri))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  def postString(uri: String, body: String, headers: Map[String, String] = Map.empty): (Int, String) = {
    val (code, bytes) = post(uri, body.getBytes("UTF-8"), headers)
    (code, new String(bytes, "UTF-8"))
  }
}
