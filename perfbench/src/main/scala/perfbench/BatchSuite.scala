package perfbench

import java.io.PrintStream
import java.security.MessageDigest

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.SparkEntry

/** batch-suite: a fixed sample of [[graft.SparkEntry.benchQueries]] over
  * the generated fixture tables, driven the way `graft.Bench` drives the
  * full set: an untimed warm pass, then timed passes, each query run to
  * the noop sink (every output row evaluated, no I/O).
  *
  * Set-up is session start and the warm pass, which pays first-use
  * codegen and builds the session caches and artifacts the queries
  * share. The warm pass collects each query's rows instead, so the
  * checker can compare their count and hash with the recorded
  * reference; hashing is kept out of the set-up time. The timed passes
  * follow the seeded order in `ops.jsonl` and run whole passes until
  * `seconds` have passed. In a traced run each query is a request: its
  * DataFrame build (driver-side eager jobs included) and its execution
  * are spans, and the listener bus is drained before and after it.
  */
object BatchSuite {
  def run(a: Harness.Args): Unit = {
    val tables = s"${a.inputs}/tables"
    val ops = {
      val src = scala.io.Source.fromFile(s"${a.inputs}/ops.jsonl", "UTF-8")
      try src.getLines().filter(_.trim.nonEmpty).map(parse(_)).toIndexedSeq finally src.close()
    }
    val setupStart = System.nanoTime()
    val spark = Harness.session(a.cpus)
    val sc = spark.sparkContext
    if (a.trace) Trace.attach(spark)

    val out = new PrintStream(new java.io.FileOutputStream(a.out), false, "UTF-8")
    var setupS = 0.0
    var hashNs = 0L
    var measureStart = 0L
    var measured = 0.0
    var attempted = 0
    var i = 0
    var atEnd = true
    def timeUp = measureStart > 0 && atEnd &&
      (System.nanoTime() - measureStart) / 1e9 >= a.seconds
    while (i < ops.length && !timeUp) {
      val op = ops(i)
      val JString(name) = op \ "query": @unchecked
      val warm = op \ "warm" == JBool(true)
      if (!warm && measureStart == 0) {
        setupS = (System.nanoTime() - setupStart - hashNs) / 1e9
        measureStart = System.nanoTime()
      }
      if (a.trace) {
        org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
        Trace.beginRequest(i)
      }
      val t0 = System.nanoTime()
      var latNs = 0L
      val result: List[JField] =
        try {
          Trace.span("request") {
            val df = Trace.span("queries.build")(SparkEntry.benchQueries(name)(spark, tables))
            if (warm) {
              val rows = Trace.span("collect")(df.collect())
              latNs = System.nanoTime() - t0
              val h0 = System.nanoTime()
              val md = MessageDigest.getInstance("SHA-1")
              rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
              val hash = md.digest().map("%02x".format(_)).mkString
              hashNs += System.nanoTime() - h0
              List("rows" -> JInt(rows.length), "hash" -> JString(hash))
            } else {
              Trace.span("noop.write")(df.write.format("noop").mode("overwrite").save())
              latNs = System.nanoTime() - t0
              Nil
            }
          }
        } catch {
          case e: Throwable =>
            latNs = System.nanoTime() - t0
            List("error" -> JString(String.valueOf(e.getMessage).take(300)))
        }
      attempted += 1
      val counters = if (a.trace) Trace.closeRequest(sc) else Nil
      out.println(compact(render(JObject(List("i" -> JInt(i), "op" -> JString("query"),
        "query" -> JString(name), "warm" -> JBool(warm),
        "lat_ns" -> JLong(latNs)) ++ result ++ counters))))
      i += 1
      atEnd = op \ "end" == JBool(true)
      if (measureStart > 0) measured = (System.nanoTime() - measureStart) / 1e9
    }
    out.println(compact(render(JObject(List(
      "summary" -> JBool(true), "route" -> JString(a.route),
      "setup_s" -> JDouble(setupS), "attempted" -> JInt(attempted),
      "measured_s" -> JDouble(measured), "index_fallbacks" -> JInt(0),
      "cores" -> JInt(a.cpus), "peak_rss_mb" -> JDouble(Harness.vmHwmMb()),
      "heap_live_mb" -> JDouble(Harness.heapLiveMb()))
      ++ (if (a.trace) Trace.dump() else Nil)))))
    out.close()
    spark.stop()
  }
}
