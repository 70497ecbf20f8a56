package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span trace for the traced (`--trace 1`) runs.
  *
  * A span has a name, start, end, parent and an operation id (the tick or
  * query it belongs to). The span id rides on the calling thread as a Spark
  * local property, so the benchmark's own [[SparkListener]] can charge each
  * job — and its stages' shuffle and spill bytes — to the innermost span that
  * submitted it. Nothing is written until [[writeTo]] at the end of the run.
  * A disabled trace runs the wrapped code and records nothing. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val nextId = new AtomicLong(1)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      id.foreach { s =>
        val c = countsOf(s)
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
        val c = countsOf(s.longValue)
        val m = e.stageInfo.taskMetrics
        c.synchronized {
          c.stages += 1
          if (m != null) {
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def countsOf(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  /** Run `f` as a span named `name` under the thread's current span. */
  def span[A](name: String, op: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get()
      val s = Span(nextId.getAndIncrement(), name,
        if (parent == null) 0L else parent.id,
        if (op.nonEmpty || parent == null) op else parent.op, System.nanoTime(), 0L)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        done.add(s.copy(end = System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Let the listener bus catch up with every job submitted so far. */
  def settle(): Unit = if (enabled) {
    val marker = spark.sparkContext.getLocalProperty(SpanProp)
    // an empty job through the bus: once its stage event has arrived,
    // every earlier event has too (the bus delivers in order)
    val probe = Span(nextId.getAndIncrement(), "_settle", 0L, "", System.nanoTime(), 0L)
    spark.sparkContext.setLocalProperty(SpanProp, probe.id.toString)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setLocalProperty(SpanProp, marker)
    val deadline = System.nanoTime() + 10000000000L
    while (Option(counts.get(probe.id)).forall(_.stages == 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Job/stage/shuffle/spill counts of a span and all its descendants. */
  def countsUnder(spanIds: Set[Long]): Counts = {
    val all = spans
    val children = all.groupBy(_.parent)
    val out = new Counts
    def walk(id: Long): Unit = {
      Option(counts.get(id)).foreach(out.add)
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    spanIds.foreach(walk)
    out
  }

  /** Sum of the span durations (ms) per name, per operation id. */
  def msByOp(name: String): Map[String, Double] =
    spans.filter(_.name == name).groupBy(_.op).map { case (op, ss) => op -> ss.map(_.ms).sum }

  def writeTo(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""op":${Json.str(s.op)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes}}""")
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, op: String, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  final class Counts {
    var jobs = 0L
    var stages = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def add(o: Counts): Unit = o.synchronized {
      jobs += o.jobs; stages += o.stages; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    }
  }
}
