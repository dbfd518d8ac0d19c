package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Shared pieces of the harness: JSON output, statistics, the span
  * recorder, and the Spark listener that attributes job/task counters to a
  * tag (a request id or a batch query) set on the submitting thread.
  */
object Common {

  /** Render nested Maps / Seqs / numbers / strings as JSON. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance()
      .quoteAsString(s).mkString("\"", "", "\"")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => json(other.toString)
  }

  def writeFile(path: String, text: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, text.getBytes(UTF_8))
  }

  /** Median, NaN for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def ms(ns: Long): Double = ns / 1e6

  /** Peak resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length

  /** Thread-local tag read by [[Counters]]: Spark copies local properties
    * into every job the thread submits.
    */
  val TagProperty = "perfbench.tag"

  def withTag[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TagProperty, tag)
    try body finally sc.setLocalProperty(TagProperty, null)
  }
}

/** One recorded span: a layer call of one request (or batch query). */
final case class Span(name: String, req: String, parent: String, startNs: Long, endNs: Long)

/** In-memory span store; written out once at the end of a traced run.
  * Self times (a span minus its children) are computed from the file.
  */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()

  def time[T](name: String, req: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally q.add(Span(name, req, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = q.asScala.toSeq

  def writeJsonl(path: String): Unit =
    Common.writeFile(path, all.sortBy(_.startNs).map { s =>
      Common.json(Map("name" -> s.name, "req" -> s.req, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n"))
}

/** Spark counters per tag: jobs, stages and tasks, task run/CPU/GC time,
  * shuffle bytes, spill, and the wait from job submission to its first
  * task launch. Events arrive on Spark's listener bus, after the action
  * returns; [[settle]] waits until every started job has been seen to end.
  */
final class Counters extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var waitMs = 0L
  }
  private val byTag = new ConcurrentHashMap[String, Agg]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val open = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var totalRunMs = 0L

  private def agg(tag: String): Agg = byTag.computeIfAbsent(tag, _ => new Agg)

  def get(tag: String): Option[Agg] = Option(byTag.get(tag))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Common.TagProperty)))
      .getOrElse("")
    jobTag.put(e.jobId, tag)
    jobSubmit.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val a = agg(tag)
    a.synchronized { a.jobs += 1; a.stages += e.stageIds.size }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = open.decrementAndGet(): Unit

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val submitted = jobSubmit.remove(job) // first task of the job only
    if (submitted != null) {
      val a = agg(jobTag.getOrDefault(job, ""))
      a.synchronized { a.waitMs += math.max(0L, e.taskInfo.launchTime - submitted) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(jobTag.getOrDefault(stageJob.getOrDefault(e.stageId, -1), ""))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      synchronized { totalRunMs += m.executorRunTime }
    }
  }

  def settle(timeoutMs: Long = 10000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (open.get() > 0 && System.currentTimeMillis() < end) Thread.sleep(20)
    Thread.sleep(200) // task-end events of the last stage trail the job end
  }
}
