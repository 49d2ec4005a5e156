package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What the runtime did inside one span, as Spark's own task metrics
  * report it. Executor run and CPU time are summed over tasks.
  */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, runS: Double = 0, cpuS: Double = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, tasks + o.tasks,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, runS + o.runS, cpuS + o.cpuS)
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** One timed call: wall seconds, the JVM's GC seconds over the
  * same interval, and the Spark work attributed to it.
  */
final case class Sample(wallS: Double, gcS: Double, c: Counters) {
  def slotBusyFrac(cores: Int): Double = if (wallS <= 0) 0.0 else c.runS / (wallS * cores)
}

final case class SpanRecord(id: Long, name: String, parent: Long, startNs: Long, endNs: Long)

/** The benchmark's own listener: attributes each Spark job (and its
  * stages and tasks) to the span that was open when the job started.
  * Jobs submitted from the calling thread carry the span id as a local
  * property; jobs a streaming query submits from its own thread carry
  * none and fall back to the open span, which is exact because the
  * client is sequential and drains the listener bus before it closes a
  * span.
  */
final class Probe(spark: SparkSession, keepSpans: Boolean) extends SparkListener {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = new ConcurrentHashMap[java.lang.Long, Counters]()
  @volatile private var open: Long = 0L
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[SpanRecord]

  private def add(span: Long, c: Counters): Unit =
    totals.merge(span, c, (a: Counters, b: Counters) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    val span: Long = tagged.fold(open)(_.toLong)
    e.stageIds.foreach(s => stageSpan.put(s, java.lang.Long.valueOf(span)))
    add(span, Counters(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val span: Long = Option(stageSpan.get(e.stageId)).fold(open)(_.longValue)
      add(span, Counters(
        tasks = 1,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9))
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run `body` as span `name`; returns its value and what it cost. */
  def span[T](name: String)(body: => T): (T, Sample) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    val prevOpen = open
    val prevProp = sc.getLocalProperty(Key)
    stack = id :: stack
    open = id
    sc.setLocalProperty(Key, id.toString)
    val gc0 = gcMillis
    val start = System.nanoTime()
    try {
      val v = body
      val end = System.nanoTime()
      val gc1 = gcMillis
      PerfbenchBridge.drainListenerBus(sc)
      if (keepSpans) spans += SpanRecord(id, name, parent, start - t0, end - t0)
      val c = Option(totals.remove(id)).getOrElse(Counters())
      (v, Sample((end - start) / 1e9, (gc1 - gc0) / 1e3, c))
    } finally {
      stack = stack.tail
      open = prevOpen
      sc.setLocalProperty(Key, prevProp)
    }
  }
}

object Probe {
  def install(spark: SparkSession, keepSpans: Boolean): Probe = {
    val p = new Probe(spark, keepSpans)
    spark.sparkContext.addSparkListener(p)
    p
  }
}
