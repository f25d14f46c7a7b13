package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Order statistics over measured samples. */
object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toVector.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `f`, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    (secondsSince(t0), r)
  }
}

/** JVM-wide counters: GC time, allocated bytes and the post-GC heap peak. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def allocatedBytes: Long = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  /** A window over which GC time, allocation and the post-GC heap peak are
    * read. The peak is sampled with a full collection at points the
    * workload chooses (between iterations or passes), so it reads the live
    * set the run retained; the time of those collections is not counted as
    * the program's GC time.
    */
  final class Window {
    private val gc0 = gcSeconds
    private val alloc0 = allocatedBytes
    private var sampledGc = 0.0
    private var peak = 0L

    def sample(): Unit = {
      val g = gcSeconds
      System.gc()
      sampledGc += gcSeconds - g
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }

    /** (GC seconds, allocated GB, post-GC heap peak MB) after a last sample. */
    def close(): (Double, Double, Double) = {
      val alloc = allocatedBytes - alloc0
      sample()
      (gcSeconds - gc0 - sampledGc, alloc / 1e9, peak / (1024.0 * 1024.0))
    }
  }
}

/** One finished task, as the scheduler reported it. */
final case class TaskRec(launchMs: Long, finishMs: Long)

/** Task and accumulator observations between [[start]] and [[stop]]. */
final class TaskProbe(sc: SparkContext) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val accums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime))
    e.taskInfo.accumulables.foreach { a =>
      (a.name, a.update) match {
        case (Some(name), Some(v: java.lang.Long)) if name.startsWith("graft.") =>
          accums.merge(name, v, (x, y) => x + y)
        case _ =>
      }
    }
  }

  def start(): TaskProbe = { sc.addSparkListener(this); this }

  /** Detach after every queued event was delivered. */
  def stop(): TaskProbe = { TaskProbe.drain(sc); sc.removeSparkListener(this); this }

  def records: Seq[TaskRec] = tasks.asScala.toSeq
  def accumulator(name: String): Long = Option(accums.get(name)).map(_.longValue).getOrElse(0L)
}

object TaskProbe {
  /** Wait for the listener bus to deliver queued events (not a public API;
    * falls back to a short pause when the method is not there).
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
}

/** One traced interval: name, start, end, the span that caused it, and the
  * doc or query it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, key: String, startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans nest along the calling
  * thread; executor-side per-doc spans are handed in whole via [[add]].
  */
object Tracer {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = -1L }

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  def span[T](name: String, key: String = null)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        add(Span(id, parent, name, key, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfSeconds(all: Seq[Span]): Map[String, (Long, Double)] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + (b - math.max(a, reach)), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
      name -> (ss.length.toLong, self)
    }
  }

  /** Writes every span (JSON lines) and the self-time table (JSON). */
  def write(spansPath: java.nio.file.Path, selfPath: java.nio.file.Path): Unit = {
    val s = all
    java.nio.file.Files.createDirectories(spansPath.getParent)
    val w = java.nio.file.Files.newBufferedWriter(spansPath)
    try s.foreach { x =>
      w.write(s"""{"id":${x.id},"parent":${x.parent},"name":${Json.str(x.name)},"key":${Json.str(x.key)},""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs}}""")
      w.newLine()
    } finally w.close()
    val self = selfSeconds(s).toSeq.sortBy(_._1).map { case (n, (c, sec)) =>
      s"""${Json.str(n)}:{"count":$c,"self_s":${Json.num(sec)}}"""
    }
    java.nio.file.Files.writeString(selfPath, self.mkString("{\n", ",\n", "\n}\n"))
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
