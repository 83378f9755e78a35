package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters per benchmark span. The benchmark sets the local
  * property [[Attribution.Key]] to a span name before it calls into a
  * layer; every job started under that property, and every stage and
  * task of the job, is charged to the span. Threads started while the
  * property is set (a streaming query's execution thread) inherit it,
  * so their jobs are charged too. The JDK HTTP server's threads do not
  * inherit it: jobs of request handlers land in [[Attribution.Unattributed]].
  */
final class Attribution extends SparkListener {
  import Attribution._

  private val accs = mutable.HashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]

  private def acc(span: String): Counters = accs.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse(Unattributed)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = acc(stageSpan.getOrElse(info.stageId, Unattributed))
    c.stages += 1
    for (s <- info.submissionTime; f <- info.completionTime) c.stageSpans += ((s, f))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageSpan.getOrElse(e.stageId, Unattributed))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes += m.resultSize
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running or serializing the result
      c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }

  /** Counters of `span` (an empty set when nothing ran under it). Call
    * after [[Attribution.drain]]. */
  def apply(span: String): Counters = synchronized {
    accs.get(span).map(_.copy()).getOrElse(new Counters)
  }

  /** Every span's counters. Call after [[Attribution.drain]]. */
  def all: Map[String, Counters] = synchronized(accs.map { case (k, v) => k -> v.copy() }.toMap)
}

object Attribution {
  val Key = "graftbench.span"
  val Unattributed = "unattributed"

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, schedulerDelayMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes, resultBytes = 0L
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    def copy(): Counters = {
      val c = new Counters
      c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.failedTasks = failedTasks
      c.runMs = runMs; c.cpuNs = cpuNs; c.gcMs = gcMs; c.schedulerDelayMs = schedulerDelayMs
      c.shuffleReadBytes = shuffleReadBytes; c.shuffleWriteBytes = shuffleWriteBytes
      c.spillBytes = spillBytes; c.resultBytes = resultBytes
      c.stageSpans ++= stageSpans
      c
    }

    def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes

    def toJson: String = Json.obj("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "executor_run_ms" -> runMs, "executor_cpu_ns" -> cpuNs,
      "gc_ms" -> gcMs, "scheduler_delay_ms" -> schedulerDelayMs,
      "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "result_bytes" -> resultBytes, "stage_union_ms" -> stageUnionMs)

    /** Milliseconds covered by at least one stage of this span. */
    def stageUnionMs: Long = Stats.unionLength(stageSpans.toSeq)
  }

  /** Delivers every event posted so far, without sleeping. */
  def drain(sc: SparkContext): Unit = org.apache.spark.ListenerBusDrain(sc)
}

/** Counts every job the context starts, under any span. Cheap enough
  * to stay attached in untraced runs, where checks need it. */
final class JobCounter extends SparkListener {
  private val n = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
  def jobs: Long = n.get
}

/** Spans recorded by the benchmark around its calls into each layer:
  * name, start, end, parent and the run id they share. Spans stay in
  * memory and are written out once, when the run ends. With tracing
  * off nothing is recorded, but the Spark local property that names
  * the current span is still set, so checks can attribute jobs.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](sc: SparkContext, name: String)(body: => T): T = {
    val prevProp = sc.getLocalProperty(Attribution.Key)
    sc.setLocalProperty(Attribution.Key, name)
    try record(name)(body)
    finally sc.setLocalProperty(Attribution.Key, prevProp)
  }

  /** A span with no Spark work attributed to it. */
  def record[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized { spans += null; spans.length - 1 }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized { spans(id) = Span(id, name, parents.headOption.getOrElse(-1), t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq.filter(_ != null))

  /** Duration of each span with this name, in seconds. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** A span's duration minus the part its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs) - Stats.unionLength(kids)
  }

  /** The spans, and the Spark counters of each span name. */
  def toJson(spark: Map[String, Attribution.Counters]): String = {
    val items = all.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> selfNs(s))
    }
    val counters = spark.toSeq.sortBy(_._1).map { case (k, c) => k -> Json.Raw(c.toJson) }
    Json.obj("run_id" -> runId, "spans" -> Json.Raw(items.mkString("[", ",", "]")),
      "spark" -> Json.Raw(Json.obj(counters: _*)))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Accumulated collection time of every JVM garbage collector, in s. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Heap still in use after a full collection, in MB: what the
    * program holds on to (sinks, caches, models), not what the
    * collector happened to leave behind. */
  def retainedHeapMb: Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  /** Peak resident set of this process in MB (`VmHWM`). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** The little JSON the benchmark writes. */
object Json {
  final case class Raw(s: String)

  def quote(s: String): String = s.map {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}
