package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one operation share `op`; `parent` is
  * the enclosing span's id (0 = root). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: String)

/** In-memory span recorder. When disabled every call is a pass-through,
  * so the untraced run pays only the clock reads it needs for its own
  * end-to-end numbers. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Int] { override def initialValue = 0 }

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
        current.set(parent)
      }
    }

  /** Record an interval measured elsewhere (stream batches, read back
    * from the query's progress log). */
  def add(name: String, startNs: Long, endNs: Long, parent: Int, op: String): Int = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, name, startNs, endNs, parent, op))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name: each span's duration minus the union of
    * its children's intervals, summed by name, in seconds. */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(iv => iv._2 > iv._1))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((a, b) <- ivs.sortBy(_._1)) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Spark's own task metrics, summed over every job run under one job
  * group (the benchmark gives each operation its own group). */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L
  var spillMem = 0L; var spillDisk = 0L; var peakExecMem = 0L
  var inBytes = 0L; var inRows = 0L
  var worstSkew = 1.0
}

/** SparkListener + QueryExecutionListener pair the traced run registers:
  * aggregates task metrics per job group and counts block drops of
  * cached RDDs (the MVs' eviction signal). */
final class ExecListener extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val groups = new ConcurrentHashMap[String, GroupStats]()
  val blocksDropped = new AtomicLong
  val sqlExecutions = new AtomicLong

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val s = stats(group)
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(id => stageGroup.put(id, group))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitMs.remove(id)
    val times = Option(stageTaskMs.remove(id)).getOrElse(ArrayBuffer.empty[Long])
    Option(stageGroup.get(id)).foreach { group =>
      val s = stats(group)
      s.synchronized {
        s.stages += 1
        if (times.size >= 2) {
          val sorted = times.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          s.worstSkew = math.max(s.worstSkew, sorted.last.toDouble / med)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val s = stats(group)
      val info = e.taskInfo
      stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
        .synchronized { stageTaskMs.get(e.stageId) += info.duration }
      s.synchronized {
        s.tasks += 1
        if (!info.successful) s.failedTasks += 1
        val sub = stageSubmitMs.getOrDefault(e.stageId, info.launchTime)
        s.waitMs += math.max(0L, info.launchTime - sub)
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillMem += m.memoryBytesSpilled
          s.spillDisk += m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
          s.inBytes += m.inputMetrics.bytesRead
          s.inRows += m.inputMetrics.recordsRead
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && !b.storageLevel.isValid) blocksDropped.incrementAndGet(): Unit
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    sqlExecutions.incrementAndGet(): Unit

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    sqlExecutions.incrementAndGet(): Unit

  def get(group: String): Option[GroupStats] = Option(groups.get(group))
}
