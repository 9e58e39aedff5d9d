package etlbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{Headers, HttpContext, HttpExchange, HttpPrincipal, HttpServer}
import graft.sources.odata.testkit.ODataStubServer

/** The stand-in OData server, run in a child JVM so that its GC and JIT
  * stay out of the measured process. It serves the seeded ByD rows and
  * counts every request that reaches it by URL shape. Protocol on
  * stdin/stdout: it prints `PORT <n>` when ready, answers `stats` with
  * one `STATS k=v ...` line and exits on `quit` or end of input.
  */
object StubMain {
  val Shapes = Seq("probe", "codes", "data", "other")

  def run(o: Map[String, String]): Unit = {
    val rows = Gen.OData.rows(o("seed").toLong, o("rows").toInt, o("codes").toInt)
    val stub = new ODataStubServer(rows, Gen.OData.Structure,
      badCandidates = Set(Gen.OData.Candidates.head), serverPageSize = 1000,
      extraServedFields = Seq("__metadata"), rawJsonFields = Set("__metadata"))
    val count = Shapes.map(_ -> new AtomicLong).toMap
    val bytes = new AtomicLong

    // ODataStubServer keeps its HttpServer and handler private. The
    // root context is swapped for one that classifies the request and
    // answers it from a cache of the stub's own responses. The stub's
    // answer is a function of the request alone (no transient failures
    // or rate limits are configured), and it filters every row for every
    // request, so without the cache the stand-in server's own scan cost,
    // which grows with rows x requests, would compete with the client
    // for the same cores in every pass.
    val cls = classOf[ODataStubServer]
    val http = { val f = cls.getDeclaredField("server"); f.setAccessible(true); f.get(stub).asInstanceOf[HttpServer] }
    val handle = cls.getDeclaredMethod("handle", classOf[HttpExchange])
    handle.setAccessible(true)
    val cache = new java.util.concurrent.ConcurrentHashMap[String, Capture]
    def answer(ex: HttpExchange): Capture = {
      val c = new Capture(ex)
      try handle.invoke(stub, c)
      catch {
        case e: java.lang.reflect.InvocationTargetException =>
          c.body.reset()
          c.body.write(s"""{"error": "${e.getCause}"}""".getBytes("UTF-8"))
          c.code = 500
      }
      c
    }
    http.removeContext("/")
    http.createContext("/", (ex: HttpExchange) => {
      count(shape(ex.getRequestURI.getRawQuery)).incrementAndGet()
      val c = if (ex.getRequestMethod == "GET") cache.computeIfAbsent(ex.getRequestURI.toString, _ => answer(ex))
              else answer(ex)
      val b = c.body.toByteArray
      ex.getResponseHeaders.putAll(c.getResponseHeaders)
      ex.sendResponseHeaders(c.code, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
      bytes.addAndGet(b.length)
    })
    stub.start()
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val out = new PrintWriter(System.out, true)
    out.println(s"PORT ${stub.port}")
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      if (line == "stats")
        out.println("STATS " + (Shapes.map(s => s"$s=${count(s).get}") ++ Seq(
          s"bytes=${bytes.get}", s"cpu_ns=${os.getProcessCpuTime}")).mkString(" "))
      line = in.readLine()
    }
    // returning ends the JVM at once: the stub's threads are daemons
  }

  /** probe: `$top=1` without a filter (the structure-candidate probe);
    * codes: an unfiltered single-field `$select` (the structure-code
    * enumeration, continuation pages included); data: a `$filter`ed
    * chain page.
    */
  def shape(rawQuery: String): String = {
    val q = Option(rawQuery).getOrElse("").split("&").flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
    if (q.contains("$filter")) "data"
    else if (q.get("$top").contains("1")) "probe"
    else if (q.get("$select").exists(s => s.nonEmpty && !s.contains(","))) "codes"
    else "other"
  }
}

/** An exchange that keeps what the stub's handler sends, to be replayed
  * to the client and to later requests for the same URI.
  */
private final class Capture(ex: HttpExchange) extends HttpExchange {
  val body = new java.io.ByteArrayOutputStream
  var code = 0
  private val headers = new Headers
  def getRequestHeaders: Headers = ex.getRequestHeaders
  def getResponseHeaders: Headers = headers
  def getRequestURI: java.net.URI = ex.getRequestURI
  def getRequestMethod: String = ex.getRequestMethod
  def getHttpContext: HttpContext = ex.getHttpContext
  def close(): Unit = ()
  def getRequestBody: java.io.InputStream = ex.getRequestBody
  def getResponseBody: java.io.OutputStream = body
  def sendResponseHeaders(rCode: Int, responseLength: Long): Unit = code = rCode
  def getRemoteAddress: java.net.InetSocketAddress = ex.getRemoteAddress
  def getResponseCode: Int = code
  def getLocalAddress: java.net.InetSocketAddress = ex.getLocalAddress
  def getProtocol: String = ex.getProtocol
  def getAttribute(name: String): AnyRef = ex.getAttribute(name)
  def setAttribute(name: String, value: AnyRef): Unit = ex.setAttribute(name, value)
  def setStreams(i: java.io.InputStream, o: java.io.OutputStream): Unit = ()
  def getPrincipal: HttpPrincipal = ex.getPrincipal
}

/** The parent's handle on the stub's child JVM. */
final class StubProcess(seed: Long, rows: Int, codes: Int) {
  private val proc = new ProcessBuilder(
    new File(System.getProperty("java.home"), "bin/java").getPath,
    "-Xms1g", "-Xmx1g", s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
    "-cp", System.getProperty("java.class.path"), "etlbench.Main",
    "--mode", "stub", "--seed", seed.toString, "--rows", rows.toString, "--codes", codes.toString)
    .redirectError(ProcessBuilder.Redirect.INHERIT)
    .start()
  private val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
  private val out = new PrintWriter(proc.getOutputStream, true)

  val url: String = {
    val l = in.readLine()
    require(l != null && l.startsWith("PORT "), s"stub did not start: $l")
    s"http://127.0.0.1:${l.stripPrefix("PORT ").trim}"
  }

  /** Cumulative counts: `requests`, `odata.<shape>_requests`,
    * `odata.response_mb`, `odata.server_cpu_s`.
    */
  def stats(): Map[String, Double] = synchronized {
    out.println("stats")
    val kv = in.readLine().stripPrefix("STATS ").split(" ").map { p =>
      val Array(k, v) = p.split("=", 2); k -> v.toDouble
    }.toMap
    StubMain.Shapes.map(s => s"odata.${s}_requests" -> kv(s)).toMap ++ Map(
      "requests" -> StubMain.Shapes.map(kv).sum,
      "odata.response_mb" -> kv("bytes") / (1024.0 * 1024.0),
      "odata.server_cpu_s" -> kv("cpu_ns") / 1e9)
  }

  def stop(): Unit = {
    out.println("quit")
    if (!proc.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
    proc.waitFor()
  }
}
