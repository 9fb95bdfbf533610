package perfbench

import java.io.{BufferedReader, File, OutputStream, PrintStream, Reader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.{Mcp, Search}
import graft.search.{AnnIndex, Embedder, HashingEmbedder, SearchEngine}

/** Drives the engine from outside, one closed-loop client, over
  * inputs that `gen.py` made from the workload seed.
  *
  * {{{
  * java -cp <classpath> perfbench.Harness --route root --inputs <dir> \
  *   --out <file.jsonl> --seconds 10 --trace 0 --cpus 4 --work <dir>
  * }}}
  *
  * Route `root` is the serve face: requests are JSON-RPC lines to
  * [[graft.Search.serve]] over in-process pipes, as an MCP stdio client
  * would send them, against a serving root (`Search --serve --root`)
  * with live ingest applied by the client between requests. A traced
  * run sends every request through [[graft.Mcp.tryHandle]] on the client
  * thread instead, with the tool routing `Search.serve` wires, so each
  * layer boundary can be wrapped in a span. Route `batch` is
  * [[BatchSuite]]. One JSON line per op goes to `--out` (response,
  * latency, what the checker needs), then one summary line.
  */
object Harness {
  val ClientThread = "perfbench-client"

  final case class Args(route: String, inputs: String, out: String,
                        seconds: Double, trace: Boolean, cpus: Int, work: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("route"), m("inputs"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("cpus").toInt, m("work"))
    var failure: Throwable = null
    val body: Runnable = () =>
      try { if (a.route == "batch") BatchSuite.run(a) else run(a) }
      catch { case e: Throwable => failure = e }
    val t = new Thread(body, ClientThread)
    t.start(); t.join()
    if (failure != null) { failure.printStackTrace(); sys.exit(1) }
    sys.exit(0)
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Embedder that records a span per driver-side embed; identical
    * vectors and signature to the wrapped one. */
  final class TracedEmbedder(inner: Embedder) extends Embedder {
    def dim: Int = inner.dim
    override def signature: String = inner.signature
    def embed(text: String): Array[Float] = Trace.span("Embedder.embed")(inner.embed(text))
  }

  private def readOps(path: String): IndexedSeq[JValue] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map(parse(_)).toIndexedSeq finally src.close()
  }

  private def vecJson(v: Array[Float]): JValue = JArray(v.toList.map(x => JDouble(x.toDouble)))

  def run(a: Args): Unit = {
    require(a.route == "root", s"unknown route ${a.route}")
    val corpus = s"${a.inputs}/corpus"
    val ops = readOps(s"${a.inputs}/ops.jsonl")
    val base = new HashingEmbedder(64)
    val embedder: Embedder = if (a.trace) new TracedEmbedder(base) else base

    // set-up is the cold start a user waits through: session start, the
    // index build and the serving root's first epoch, then the first
    // tool reply (op 0, timed below)
    val setupStart = System.nanoTime()
    var setupS = 0.0
    val spark = session(a.cpus)
    val engine = new SearchEngine(spark, embedder)
    val indexStart = System.nanoTime()
    val root = s"${a.work}/root"
    AnnIndex.ServingRoot.init(spark, engine.indexDir(corpus), root, Some(embedder.signature))
    val indexS = (System.nanoTime() - indexStart) / 1e9
    val sc = spark.sparkContext
    if (a.trace) Trace.attach(spark)
    val delta = AnnIndex.ServingRoot.resolve(spark, root)

    // the serve face: Search.serve over in-process pipes
    val toServer = new LinkedBlockingQueue[String]()
    val fromServer = new LinkedBlockingQueue[String]()
    val server = new Thread(() => Search.serve(engine, corpus, 10,
      new BufferedReader(new QueueReader(toServer)),
      new PrintStream(new LineSink(fromServer), true, "UTF-8"),
      index = true, root = Some(root)), "perfbench-serve")
    server.start()
    val tool: Mcp.Search = (p, f) => Trace.span("SearchEngine.searchJsonRoot")(
      engine.searchJsonRoot(corpus, root, p, 10, f))
    val toolBatch: Mcp.SearchBatch = (ps, f) => Trace.span("SearchEngine.searchJsonBatchRoot")(
      engine.searchJsonBatchRoot(corpus, root, ps, 10, f))
    def call(line: String): String =
      if (a.trace) Trace.span("Mcp.tryHandle")(Mcp.tryHandle(line, tool, toolBatch)).flatten.orNull
      else {
        toServer.put(line)
        val r = fromServer.poll(170, TimeUnit.SECONDS)
        if (r == null) throw new IllegalStateException("serve loop gave no response")
        r
      }

    val out = new PrintStream(new java.io.FileOutputStream(a.out), false, "UTF-8")
    def emit(v: JValue): Unit = out.println(compact(render(v)))
    var attempted = 0
    var measureStart = 0L
    var measured = 0.0
    var i = 0
    // measurement stops at the end of the first cycle (its last op
    // carries `end`) that closes after `seconds` have passed
    var atEnd = true
    def timeUp = measureStart > 0 && atEnd &&
      (System.nanoTime() - measureStart) / 1e9 >= a.seconds
    while (i < ops.length && !timeUp) {
      val op = ops(i)
      val warm = op \ "warm" == JBool(true)
      if (!warm && measureStart == 0) measureStart = System.nanoTime()
      val JString(kind) = op \ "op": @unchecked
      // a traced run starts each op with an empty listener bus, so no
      // event of an earlier op lands in this op's counters
      if (a.trace) {
        GraftListenerBridge.drainListenerBus(sc)
        Trace.beginRequest(i)
      }
      val t0 = System.nanoTime()
      val rec: List[JField] = Trace.span("request") {
        kind match {
          case "search" =>
            val JString(p) = op \ "prompt": @unchecked
            val args = JObject(("prompt" -> JString(p)) :: (op \ "filter" match {
              case f: JObject => List("filter" -> f)
              case _ => Nil
            }))
            val resp = call(rpcLine(i + 1, Mcp.ToolName, args))
            List("resp" -> JString(resp))
          case "batch" =>
            val JArray(ps) = op \ "prompts": @unchecked
            val resp = call(rpcLine(i + 1, Mcp.BatchToolName, JObject("prompts" -> JArray(ps))))
            List("resp" -> JString(resp))
          case "ingest" => ingest(spark, engine, delta, op, a.trace)
        }
      }
      val latNs = System.nanoTime() - t0
      if (i == 0) setupS = (System.nanoTime() - setupStart) / 1e9
      attempted += 1
      // what the checker needs, computed outside the timed interval
      def embedAll(texts: List[JValue]) =
        JArray(texts.map { case JString(t) => vecJson(base.embed(t)); case _ => JNull })
      val vecs: List[JField] = kind match {
        case "search" => List("qvecs" -> embedAll(List(op \ "prompt")))
        case "batch" =>
          val JArray(ps) = op \ "prompts": @unchecked
          List("qvecs" -> embedAll(ps))
        case _ =>
          val JArray(puts) = op \ "puts": @unchecked
          List("put_vecs" -> embedAll(puts.map(_ \ "text")))
      }
      val counters = if (a.trace) Trace.closeRequest(sc) else Nil
      emit(JObject(List("i" -> JInt(i), "op" -> JString(kind), "warm" -> JBool(warm),
        "lat_ns" -> JLong(latNs)) ++ rec ++ vecs ++ counters))
      i += 1
      atEnd = op \ "end" == JBool(true)
      if (measureStart > 0) measured = (System.nanoTime() - measureStart) / 1e9
    }
    toServer.put(QueueReader.Eof)
    server.join(60000)
    emit(JObject(List(
      "summary" -> JBool(true), "route" -> JString(a.route),
      "setup_s" -> JDouble(setupS), "index_build_s" -> JDouble(indexS),
      "attempted" -> JInt(attempted), "measured_s" -> JDouble(measured),
      "index_fallbacks" -> JLong(engine.indexFallbackCount.get),
      "cores" -> JInt(a.cpus),
      "peak_rss_mb" -> JDouble(vmHwmMb()), "heap_live_mb" -> JDouble(heapLiveMb()))
      ++ (if (a.trace) Trace.dump() else Nil)))
    out.close()
    spark.stop()
  }

  def rpcLine(id: Long, tool: String, args: JObject): String =
    compact(render(JObject("jsonrpc" -> JString("2.0"), "id" -> JLong(id),
      "method" -> JString("tools/call"),
      "params" -> JObject("name" -> JString(tool), "arguments" -> args))))

  /** Apply one ingest batch to the root's epoch delta on the client
    * thread (the single-writer contract): the puts embedded with
    * `embedCorpus`, then the deletes as tombstones, minor compaction
    * every 2 batches (a run applies two, so the measured one always
    * compacts). */
  private def ingest(spark: SparkSession, engine: SearchEngine, delta: (String, String),
                     op: JValue, trace: Boolean): List[JField] = {
    import spark.implicits._
    implicit val fmt: Formats = DefaultFormats
    val (idx, deltaDir) = delta
    val b = (op \ "batch").extract[Long]
    val puts = (op \ "puts").extract[List[JObject]].map { p =>
      ((p \ "id").extract[Long], (p \ "text").extract[String], (p \ "label").extract[Int])
    }
    val dels = (op \ "dels").extract[List[Long]]
    val before = if (trace) listing(deltaDir) else Map.empty[String, Long]
    Trace.span("AnnIndex.appendDeltaBatch") {
      AnnIndex.appendDeltaBatch(spark, idx, deltaDir,
        engine.embedder.embedCorpus(puts.toDF("vec_id", "text", "label"), "text", "embedding"),
        b, compactEvery = 2)
    }
    Trace.span("AnnIndex.appendTombstones") {
      AnnIndex.appendTombstones(spark, deltaDir, dels.toDF("vec_id"), b, compactEvery = 2)
    }
    if (!trace) Nil else {
      val after = listing(deltaDir)
      val fresh = after.filter { case (p, _) => !before.contains(p) }
      val segment = fresh.filter(_._1.contains(s"/live/b$b/")).values.sum
      // segment directory of a data file, per store (vectors, tombstones)
      val segDir = "^(.*/(?:live/b\\d+|compacted_g\\d+))/".r
      def segs(files: Iterable[String]) =
        files.flatMap(p => segDir.findFirstMatchIn(p.stripPrefix(deltaDir)).map(_.group(1))).toSet
      List("store" -> JObject(
        "bytes_written" -> JLong(fresh.values.sum), "segment_bytes" -> JLong(segment),
        "compactions" -> JInt(segs(fresh.keys).count(_.contains("compacted_g"))),
        "live_segments" -> JInt(segs(after.keys).size)))
    }
  }

  /** Data files under `dir` (recursive) with their sizes. */
  private def listing(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length)
      else Nil
    walk(new File(dir)).toMap
  }

  /** Heap the process still holds after full collections: the engine's
    * retained state (caches, memos, broadcast plans) once the run ends.
    * Spark's ContextCleaner frees shuffle and broadcast blocks only after
    * a collection has queued their references, so one collection alone
    * leaves a varying share of them behind. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The serve loop's stdin: whole lines handed over by the client. */
final class QueueReader(q: LinkedBlockingQueue[String]) extends Reader {
  private var buf = ""
  private var pos = 0
  def read(cbuf: Array[Char], off: Int, len: Int): Int = {
    if (pos >= buf.length) {
      val next = q.take()
      if (next eq QueueReader.Eof) { q.put(next); return -1 }
      buf = next + "\n"; pos = 0
    }
    val n = math.min(len, buf.length - pos)
    buf.getChars(pos, pos + n, cbuf, off)
    pos += n
    n
  }
  def close(): Unit = ()
}

object QueueReader { val Eof: String = new String("\u0000eof") }

/** The serve loop's stdout: each completed line goes to the client. */
final class LineSink(q: LinkedBlockingQueue[String]) extends OutputStream {
  private val buf = new java.io.ByteArrayOutputStream()
  def write(b: Int): Unit =
    if (b == '\n') { q.put(new String(buf.toByteArray, UTF_8).stripSuffix("\r")); buf.reset() }
    else buf.write(b)
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var i = off
    while (i < off + len) { write(b(i).toInt); i += 1 }
  }
}
