package servebench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** What the benchmark observes from outside the program: host and JVM
  * diagnostics, Spark work counts from a listener, and spans around its own
  * calls into the program's public functions. */
object Probe {
  def nowMs: Double = System.nanoTime() / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length - 1e-9).toInt - 1)))
    }

  /** Host and JVM counters read at the start and end of a window. */
  final case class HostSnap(stealS: Double, gcMs: Long, jitMs: Long, atMs: Double)

  def hostSnap(): HostSnap = {
    val steal =
      try {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
      } catch { case _: Exception => 0.0 }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    HostSnap(steal, gc, jit, nowMs)
  }

  def windowDiag(a: HostSnap, b: HostSnap): Map[String, Any] = Map(
    "window_s" -> (b.atMs - a.atMs) / 1000,
    "steal_s" -> (b.stealS - a.stealS),
    "gc_ms" -> (b.gcMs - a.gcMs),
    "jit_ms" -> (b.jitMs - a.jitMs))

  /** Heap in use after a full collection: the least of four, each after a
    * pause that lets Spark's cleaner release what the collection before it
    * freed the handles of. */
  def heapMb(): Double = (0 until 4).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def diskBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(diskBytes).sum).getOrElse(0L)

  def dataFiles(dir: java.io.File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) {
      if (dir.getName.endsWith(".parquet")) Map(dir.getPath -> dir.length()) else Map.empty
    } else Option(dir.listFiles()).map(_.flatMap(f => dataFiles(f)).toMap).getOrElse(Map.empty)

  // ---- Spark work counts ---------------------------------------------------

  /** Local property naming the request a job belongs to; set on the traced
    * client's thread, so only its direct in-process calls carry it. */
  val TagKey = "servebench.tag"
  /** Set by Structured Streaming on every job of a micro-batch. */
  val BatchKey = "streaming.sql.batchId"

  final class Counts {
    var jobs = 0; var stages = 0; var tasks = 0
    var taskMs = 0L; var inputRows = 0L; var shuffleBytes = 0L; var jobWallMs = 0.0
    /** Input rows of each job, in the order the jobs started. */
    val jobRows = scala.collection.mutable.LinkedHashMap[Int, Long]()
  }

  /** Counts jobs, stages, tasks, executor run time, input rows and shuffle
    * bytes per tag (a traced request) or per streaming batch. */
  final class SparkCounts extends SparkListener {
    private val byTag = scala.collection.mutable.HashMap[String, Counts]()
    private val jobTag = scala.collection.mutable.HashMap[Int, (String, Long)]()
    private val stageTag = scala.collection.mutable.HashMap[Int, String]()
    private val stageJob = scala.collection.mutable.HashMap[Int, Int]()

    def get(tag: String): Counts = synchronized(byTag.getOrElse(tag, new Counts))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(TagKey)))
        .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("batch:" + _))
      tag.foreach { t =>
        jobTag(e.jobId) = (t, e.time)
        e.stageIds.foreach { s => stageTag(s) = t; stageJob(s) = e.jobId }
        val c = byTag.getOrElseUpdate(t, new Counts)
        c.jobs += 1
        c.jobRows(e.jobId) = 0L
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).foreach { case (t, start) =>
        byTag(t).jobWallMs += (e.time - start).toDouble
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageTag.get(e.stageInfo.stageId).foreach(t => byTag(t).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTag.get(e.stageId).foreach { t =>
        val c = byTag(t)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.inputRows += m.inputMetrics.recordsRead
          stageJob.get(e.stageId).filter(c.jobRows.contains).foreach(j =>
            c.jobRows(j) += m.inputMetrics.recordsRead)
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  // ---- spans ---------------------------------------------------------------

  final case class Span(name: String, id: Long, parent: Option[String], start: Double, end: Double) {
    def ms: Double = end - start
  }

  /** Spans kept in memory and written out when the run ends. */
  final class Spans {
    private val buf = scala.collection.mutable.ArrayBuffer[Span]()
    def time[T](name: String, id: Long, parent: Option[String] = None)(body: => T): T = {
      val t0 = nowMs
      try body finally add(Span(name, id, parent, t0, nowMs))
    }
    def add(s: Span): Unit = synchronized { buf += s }
    def all: Seq[Span] = synchronized(buf.toVector)
    def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

    /** A span's duration less the time its children cover. */
    def selfTimes(name: String): Seq[Double] = {
      val spans = all
      spans.filter(_.name == name).map { s =>
        val kids = spans.filter(k => k.id == s.id && k.parent.contains(name))
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(k => k._2 > k._1).sortBy(_._1)
        var covered = 0.0; var until = Double.NegativeInfinity
        kids.foreach { case (a, b) =>
          val from = math.max(a, until)
          if (b > from) { covered += b - from; until = b }
        }
        s.ms - covered
      }
    }

    def write(file: java.io.File): Unit = {
      file.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(file, "UTF-8")
      try all.foreach { s =>
        w.println(f"""{"name":"${s.name}","id":${s.id},"parent":${s.parent.map("\"" + _ + "\"").getOrElse("null")},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
      } finally w.close()
    }
  }
}
