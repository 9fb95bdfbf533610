package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._

/** One traced interval: a layer boundary crossed on behalf of request
  * `req`. Times are `System.nanoTime` readings; `parent` is the index
  * of the enclosing span in [[Trace.spans]] (-1 for a request root). */
final case class Span(name: String, start: Long, end: Long, parent: Int, req: Long)

/** Counts Spark attributes to whichever request is open when the
  * listener bus delivers them. The client drains the bus before it
  * opens a request and before it closes one, so every event a request
  * caused lands in its own counters. `tracerNs` is the tracer's own
  * time: span bookkeeping on the client thread plus the listener
  * callbacks. */
final class Counters {
  val sqlExecs, planMs, sqlExecNs, jobs, stages, tasks, cpuNs, runMs,
      bytesRead, recordsRead, shuffleWriteBytes, spillBytes, tracerNs = new AtomicLong
  // per-execution plan fingerprints, in completion order
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]

  def toMap: Map[String, Long] = Map(
    "sql_execs" -> sqlExecs.get, "plan_ms" -> planMs.get,
    "sql_exec_ns" -> sqlExecNs.get, "jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get,
    "bytes_read" -> bytesRead.get, "records_read" -> recordsRead.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get,
    "tracer_ns" -> tracerNs.get)
}

/** The benchmark's tracer. Spans live in memory on the client thread
  * and are written out when the run ends; Spark work attaches through
  * a [[SparkListener]] and a [[QueryExecutionListener]] registered on
  * the session under test. Off unless [[attach]] is called, so the
  * untraced run pays nothing. */
object Trace {
  @volatile private var on = false
  val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile private var req = -1L
  @volatile var current = new Counters
  // SQL executions from the listener bus as (request, start ms, end ms)
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]
  val sqlSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]

  /** Turn tracing on and register the listeners on `spark`. */
  def attach(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Open request `id` with fresh counters. */
  def beginRequest(id: Long): Unit = { req = id; current = new Counters }

  /** Drain the listener bus, then the open request's counters and plan
    * fingerprints as record fields. */
  def closeRequest(sc: SparkContext): List[JField] = {
    GraftListenerBridge.drainListenerBus(sc)
    val c = current
    List("counters" -> JObject(c.toMap.toList.map { case (k, v) => k -> JLong(v) }),
      "plans" -> JArray(c.plans.toArray(Array.empty[Map[String, Any]]).toList.map(fp =>
        JObject(fp.toList.map {
          case (k, v: Int) => k -> JInt(v)
          case (k, v: Map[_, _]) =>
            k -> JObject(v.toList.map { case (j, n) => j.toString -> JInt(n.asInstanceOf[Int]) })
          case (k, v) => k -> JString(v.toString)
        }))))
  }

  /** The run's spans and SQL execution intervals as summary fields. */
  def dump(): List[JField] = List(
    "spans" -> JArray(spans.toList.map(s => JArray(List(JString(s.name),
      JLong(s.start), JLong(s.end), JInt(s.parent), JLong(s.req))))),
    "sql_spans" -> JArray(sqlSpans.toArray(Array.empty[(Long, Long, Long)]).toList
      .filter(_._1 >= 0)
      .map { case (q, st, en) => JArray(List(JLong(q), JLong(st), JLong(en))) }))

  /** Time `body` as a span named `name` under this thread's open span.
    * Spans are recorded only on the client thread of a traced run;
    * executor threads (e.g. a corpus embed inside a task) pass through. */
  def span[T](name: String)(body: => T): T = {
    if (!on || req < 0 || Thread.currentThread.getName != Harness.ClientThread)
      return body
    val b0 = System.nanoTime
    val parent = stack.get.headOption.getOrElse(-1)
    val idx = spans.synchronized {
      spans += Span(name, 0L, 0L, parent, req)
      spans.size - 1
    }
    stack.set(idx :: stack.get)
    val start = System.nanoTime
    try body
    finally {
      val end = System.nanoTime
      stack.set(stack.get.tail)
      spans.synchronized { spans(idx) = spans(idx).copy(start = start, end = end) }
      current.tracerNs.addAndGet((start - b0) + (System.nanoTime - end))
    }
  }

  /** Run a listener callback, charging its time to the open request. */
  private def timed(body: Counters => Unit): Unit = {
    val t0 = System.nanoTime
    val c = current
    body(c)
    c.tracerNs.addAndGet(System.nanoTime - t0)
  }

  def listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed(_.jobs.incrementAndGet())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timed(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed { c =>
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => timed(_ => sqlStart.put(s.executionId, s.time))
      case s: SparkListenerSQLExecutionEnd => timed { _ =>
        val st = sqlStart.remove(s.executionId)
        if (st != null) sqlSpans.add((req, st.longValue, s.time))
      }
      case _ =>
    }
  }

  def queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed { c =>
        c.sqlExecs.incrementAndGet()
        c.sqlExecNs.addAndGet(durationNs)
        val phases = qe.tracker.phases
        c.planMs.addAndGet(Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum)
        c.plans.add(fingerprint(qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Plan fingerprint: exchange, scan and per-kind join counts, plus a
    * hash of the executed plan's operator tree (node names by depth —
    * no paths, ids or literals, so the same plan hashes the same in
    * every run). */
  def fingerprint(plan: SparkPlan): Map[String, Any] = {
    val nodes = ArrayBuffer.empty[(Int, String)]
    def walk(p: SparkPlan, depth: Int): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case _ =>
        nodes += depth -> p.nodeName
        p.children.foreach(walk(_, depth + 1))
        p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    val names = nodes.map(_._2)
    val joins = names.filter(_.contains("Join")).groupBy(identity).view.mapValues(_.size).toMap
    val shape = nodes.map { case (d, n) => s"$d:$n" }.mkString("|")
    val hash = java.security.MessageDigest.getInstance("SHA-1")
      .digest(shape.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    Map("exchanges" -> names.count(n => n.contains("Exchange") && !n.startsWith("Reused")),
      "scans" -> names.count(_.contains("Scan")), "joins" -> joins, "hash" -> hash)
  }
}
