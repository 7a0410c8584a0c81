package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted for one span: jobs started under it and the metrics
  * of every task those jobs ran. */
final case class Work(jobs: Long, tasks: Long, taskMs: Long, cpuNs: Long,
                      gcMs: Long, spillBytes: Long, shuffleBytes: Long,
                      failedTasks: Long) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    spillBytes + o.spillBytes, shuffleBytes + o.shuffleBytes,
    failedTasks + o.failedTasks)
  def taskS: Double = taskMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  /** Task time not spent on a CPU: I/O, locks, state-store and shuffle
    * fetch waits. */
  def waitS: Double = math.max(0.0, taskS - cpuS)
  def gcS: Double = gcMs / 1e3
  def spillMb: Double = spillBytes / 1e6
  def shuffleMb: Double = shuffleBytes / 1e6
}

object Work {
  val Zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0)
}

final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into each layer, plus the Spark work
 * each span caused. Entering a span tags the driver thread's Spark local
 * properties with the span id; Spark copies local properties into every job
 * (threads spawned inside the span, such as a stream's execution thread,
 * inherit them), so a listener can charge each job and its tasks to the
 * innermost open span. While the tracer is inactive, `span` only runs its
 * body and no job is tagged.
 */
final class Tracer(sc: SparkContext) {
  import Tracer.PropKey

  @volatile var active = false

  private val closed = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val counters = new ConcurrentHashMap[Integer, Array[AtomicLong]]()
  private def slot(span: Integer): Array[AtomicLong] =
    counters.computeIfAbsent(span, _ => Array.fill(8)(new AtomicLong))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(PropKey)).orNull
      if (tag != null) {
        val span = Integer.valueOf(tag.toInt)
        slot(span)(0).incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, span))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      if (span != null) {
        val a = slot(span)
        a(1).incrementAndGet()
        if (e.reason != org.apache.spark.Success) a(7).incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          a(2).addAndGet(m.executorRunTime)
          a(3).addAndGet(m.executorCpuTime)
          a(4).addAndGet(m.jvmGCTime)
          a(5).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          a(6).addAndGet(m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
  })

  /** Run `body` inside a span named `name` (when active). */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.nanoTime()) :: open
      sc.setLocalProperty(PropKey, id.toString)
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        synchronized { closed += Span(id, name, parent, start, System.nanoTime()) }
        sc.setLocalProperty(PropKey,
          open.headOption.map(_._1.toString).orNull)
      }
    }

  def spans(name: String): Seq[Span] = spansWhere(_ == name)

  def spansWhere(p: String => Boolean): Seq[Span] =
    synchronized(closed.filter(s => p(s.name)).toSeq)

  def work(span: Span): Work = Option(counters.get(Integer.valueOf(span.id)))
    .map(a => Work(a(0).get, a(1).get, a(2).get, a(3).get, a(4).get,
      a(5).get, a(6).get, a(7).get))
    .getOrElse(Work.Zero)

  /** Work charged to every span named `name`. */
  def work(name: String): Work = spans(name).map(work).foldLeft(Work.Zero)(_ + _)

  /** Wait for the asynchronous listener bus to deliver the events of jobs
    * that already finished: poll until two reads 300 ms apart agree. */
  def drain(): Unit = {
    def snap() = counters.asScala.map { case (k, a) => k -> a.map(_.get).toSeq }.toMap
    var prev = snap()
    var polls = 0
    var stable = false
    while (!stable && polls < 20) {
      Thread.sleep(300)
      val cur = snap()
      stable = cur == prev
      prev = cur
      polls += 1
    }
  }
}

object Tracer {
  val PropKey = "graft.perfbench.span"
}
