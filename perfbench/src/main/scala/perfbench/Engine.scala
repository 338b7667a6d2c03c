package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

object Session {
  /** The one session of a run: local[n], UTC, and every directory Spark or
    * the engine writes to placed under `root`. */
  def build(n: Int, root: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Spans kept in memory and written out at exit. A span's self time is its
  * duration minus the part its children cover. */
final class Tracer(enabled: Boolean) {
  import Tracer.Span
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        if (op.nonEmpty) op else stack.headOption.map(_.op).getOrElse(""), System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** name -> (count, total seconds, self seconds) */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.size, ss.map(s => s.end - s.start).sum / 1e9,
        ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e9)
    }.sortBy(-_._4)
  }

  def write(p: Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(p)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Util.jsonString(s.name)},""" +
        s""""op":${Util.jsonString(s.op)},"start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      start: Long, var end: Long)
}

/** Per (op, phase) totals of the Spark jobs run under that job-group
  * property, from a listener on the benchmark's own session. */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }
  val OpKey = "perfbench.op"
  private val stageKey = new ConcurrentHashMap[Int, String]()
  val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("-")
    acc(k).synchronized { acc(k).jobs += 1 }
    e.stageIds.foreach(s => stageKey.put(s, k))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageKey.getOrDefault(e.stageInfo.stageId, "-"))
    a.synchronized { a.stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageKey.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    if (m != null) a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def take(k: String): Acc = Option(accs.remove(k)).getOrElse(new Acc)
}
