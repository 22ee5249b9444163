package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.CollectionAccumulator

/** A span: a named interval with a parent, in one run. Driver spans (passes,
  * queries) cover wall time; task spans carry a layer's accumulated busy
  * nanoseconds and call count inside one task's window. Times are
  * `System.nanoTime`, which executor threads share with the driver in local
  * mode. */
final case class Span(name: String, run: String, id: Long, parent: Long, start: Long, end: Long,
                      busyNs: Long = -1L, calls: Long = 0L, task: Int = -1)

/** Per-task timers around calls into the program's layers. One clock lives in
  * one task; its spans reach the driver through an accumulator when the
  * task's iterator is exhausted. */
final class Clock(acc: CollectionAccumulator[Span], run: String, pass: Long, layers: Seq[String]) {
  private val t0 = System.nanoTime()
  private val busy = new Array[Long](layers.size)
  private val calls = new Array[Long](layers.size)

  def time[T](layer: Int)(f: => T): T = {
    val s = System.nanoTime()
    val r = f
    busy(layer) += System.nanoTime() - s
    calls(layer) += 1
    r
  }

  def wrap[T](it: Iterator[T]): Iterator[T] = new Iterator[T] {
    private var open = true
    def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && open) { open = false; flush() }
      h
    }
    def next(): T = it.next()
  }

  private def flush(): Unit = {
    val t1 = System.nanoTime()
    val part = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
    layers.indices.foreach(i => acc.add(Span(layers(i), run, -1L, pass, t0, t1, busy(i), calls(i), part)))
  }
}

/** What a task needs to start a [[Clock]]; shipped inside task closures. */
final case class ClockSpec(acc: CollectionAccumulator[Span], run: String, pass: Long, layers: Seq[String]) {
  def start(): Clock = new Clock(acc, run, pass, layers)
}

/** In-memory span store of one run, written out as JSON at the end. */
final class Tracer(spark: SparkSession, val run: String) {
  val acc: CollectionAccumulator[Span] = spark.sparkContext.collectionAccumulator[Span]("perfbench.spans")
  private val driverSpans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  val root: Long = 0L
  private val t0 = System.nanoTime()

  private def newId(): Long = synchronized { val id = nextId; nextId += 1; id }

  /** Times `f` as a driver span under `parent`; `f` receives the span id. */
  def span[T](name: String, parent: Long = root)(f: Long => T): T = {
    val id = newId()
    val s = System.nanoTime()
    try f(id)
    finally synchronized { driverSpans += Span(name, run, id, parent, s, System.nanoTime()) }
  }

  /** A clock factory for the tasks of pass `pass`, timing `layers`. */
  def clock(pass: Long, layers: String*): ClockSpec = ClockSpec(acc, run, pass, layers.toVector)

  def taskSpans: Seq[Span] = acc.value.asScala.toSeq

  /** Busy ns and calls of `layer` summed over all tasks. */
  def busy(layer: String): (Long, Long) = {
    val xs = taskSpans.filter(_.name == layer)
    (xs.map(_.busyNs).sum, xs.map(_.calls).sum)
  }

  /** Driver spans with their self time: duration minus the part covered by
    * child driver spans and by the windows of tasks under them. */
  def spans: Seq[(Span, Long)] = synchronized {
    val tasks = taskSpans
    val all = driverSpans.toSeq :+ Span("run", run, root, -1L, t0, System.nanoTime())
    all.map { s =>
      val kids = (all.filter(_.parent == s.id) ++ tasks.filter(_.parent == s.id))
        .map(k => Stats.Interval(k.start, k.end))
      s -> Stats.selfTime(Stats.Interval(s.start, s.end), kids)
    }
  }

  def writeJson(path: String, metrics: Map[String, (Double, String)]): Unit = {
    def spanMap(s: Span, self: Option[Long]): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", s.name); m.put("run", s.run); m.put("id", s.id); m.put("parent", s.parent)
      m.put("start_ns", s.start - t0); m.put("end_ns", s.end - t0)
      self.foreach(v => m.put("self_ns", v))
      if (s.busyNs >= 0) { m.put("busy_ns", s.busyNs); m.put("calls", s.calls); m.put("task", s.task) }
      m
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("run", run)
    out.put("driver_spans", spans.map { case (s, self) => spanMap(s, Some(self)) }.asJava)
    out.put("task_spans", taskSpans.map(spanMap(_, None)).asJava)
    out.put("metrics", metrics.map { case (k, (v, u)) =>
      k -> java.util.Map.of[String, Any]("value", v, "unit", u) }.asJava)
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(f, out)
  }
}

/** Host and JVM counters read from /proc and the management beans. */
object Host {
  /** Aggregate CPU jiffies from the first line of /proc/stat. */
  def cpu(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case _: Exception => Array.fill(10)(0L) }

  /** Percent of CPU time stolen by the hypervisor between two [[cpu]] reads. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = a.zip(b).map { case (x, y) => (y - x).toDouble }
    if (d.length < 8 || d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
  }

  /** Share of the CPU time the busy vCPUs wanted between two [[cpu]] reads
    * that the hypervisor gave to other guests: steal over busy plus steal.
    * Steal accrues only while a vCPU has work, so a program that ran for
    * `w` wall seconds would have run for about `w * (1 - share)` with the CPU
    * it asked for. */
  def stolenShare(a: Array[Long], b: Array[Long]): Double = {
    val d = a.zip(b).map { case (x, y) => y - x }
    if (d.length < 8) 0.0
    else {
      val busy = d(0) + d(1) + d(2) + d(5) + d(6) // user, nice, system, irq, softirq
      if (busy + d(7) <= 0) 0.0 else d(7).toDouble / (busy + d(7))
    }
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Heap in use after full collections, in MB: what the program and Spark
    * keep alive, without the collector's adaptive heap growth that makes the
    * peak RSS vary from run to run. Spark frees shuffle, broadcast and status
    * data from background threads once a collection has found them
    * unreachable, so this collects a few times, pausing between, and keeps
    * the least. */
  def liveHeapMb(): Double =
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** (collections, collection seconds) summed over the JVM's collectors. */
  def gc(): (Long, Double) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum / 1e3)
  }
}
