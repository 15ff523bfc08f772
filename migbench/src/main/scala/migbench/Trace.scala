package migbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end, run id). Spans stay in memory
  * and are written out once, when the run ends. When recording is off,
  * `span` only runs its body. Parents follow the calling thread; work
  * handed to another thread names its parent explicitly.
  */
final class Tracer(val runId: String) {
  import Tracer.Span
  @volatile var recording = false
  private val nextId = new AtomicInteger(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  @volatile private var iteration = ""

  def currentId: Int = current.get()

  def beginIteration(name: String): Unit = iteration = name

  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId.getAndIncrement()
      val p = if (parent >= 0) parent else current.get().intValue
      val saved = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, p, name, t0, System.nanoTime(), s"$runId/$iteration"))
        current.set(saved)
      }
    }

  /** Records a span whose interval was measured by the caller. */
  def record(name: String, parent: Int, start: Long, end: Long): Unit =
    if (recording) done.add(Span(nextId.getAndIncrement(), parent, name,
      start, end, s"$runId/$iteration"))

  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time per span name, per run id: a span's duration minus the
    * part of its interval that its children cover (children running in
    * parallel count once).
    */
  def selfSeconds: Map[String, Map[String, Double]] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.run).map { case (run, ss) =>
      run -> ss.groupBy(_.name).map { case (name, xs) =>
        name -> xs.map { s =>
          val covered = Tracer.unionLength(kids.getOrElse(s.id, Nil)
            .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
            .filter { case (a, b) => b > a })
          (s.end - s.start - covered) / 1e9
        }.sum
      }
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"run":"${s.run}"}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** A tracer that never records. */
  val off = new Tracer("off")

  final case class Span(id: Int, parent: Int, name: String, start: Long,
      end: Long, run: String)

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Heap in use after collections: the largest after-GC heap size seen
  * since the last `reset`, from the JVM's GC notifications.
  */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import javax.management.{Notification, NotificationEmitter, NotificationListener}

  private val peak = new AtomicLong(0L)
  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private lazy val installed: Unit = {
    val pools = heapPools
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if pools.contains(k) => v.getUsed }.sum
          peak.accumulateAndGet(used, math.max(_, _))
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter]
        .addNotificationListener(listener, null, null))
  }

  /** Collect, then start a new high-water mark at the live heap. */
  def reset(): Unit = {
    installed
    System.gc()
    val live = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peak.set(live)
  }

  def peakMb: Double = peak.get() / (1024.0 * 1024.0)
}
