package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Cumulative engine counters, as the listener has seen them so far. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    inputBytes: Long = 0, spillBytes: Long = 0,
    blocksWritten: Long = 0, blockBytesWritten: Long = 0) {

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    inputBytes - o.inputBytes, spillBytes - o.spillBytes,
    blocksWritten - o.blocksWritten, blockBytesWritten - o.blockBytesWritten)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1000.0, "gc_s" -> gcMs / 1000.0,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0,
    "input_mb" -> inputBytes / 1048576.0, "spill_mb" -> spillBytes / 1048576.0,
    "blocks_written" -> blocksWritten, "mb_written" -> blockBytesWritten / 1048576.0)
}

/** Counts jobs, stages, tasks, task metrics and newly stored cache or
  * checkpoint blocks, and keeps every job's (start, end) interval so the
  * driver-only share of a window can be derived.
  */
final class EngineListener extends SparkListener {
  private val jobs, stages, tasks, runMs, gcMs = new AtomicLong
  private val shW, shR, input, spill, blocks, blockBytes = new AtomicLong
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seenBlocks = mutable.Set.empty[RDDBlockId]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.incrementAndGet()
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId if info.storageLevel.isValid =>
        val fresh = synchronized(seenBlocks.add(id))
        if (fresh) {
          blocks.incrementAndGet()
          blockBytes.addAndGet(info.memSize + info.diskSize)
        }
      case id: RDDBlockId => synchronized(seenBlocks.remove(id))
      case _ =>
    }
  }

  def snapshot(): Counters = Counters(jobs.get, stages.get, tasks.get,
    runMs.get, gcMs.get, shW.get, shR.get, input.get, spill.get,
    blocks.get, blockBytes.get)

  /** Milliseconds of [from, to] covered by no job: the driver-only time. */
  def driverOnlyMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = from
    clipped.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (to - from) - covered
  }
}

/** One timed region: name, wall-clock start and end (epoch ms), the
  * enclosing span's index (-1 at top level) and the pass it belongs to.
  */
final case class Span(name: String, startMs: Long, endMs: Long, parent: Int, pass: Int)

/** In-memory span recorder. Spans are kept until the run ends and written
  * once, so recording costs two clock reads and a buffer append.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.currentTimeMillis(), -1L, stack.headOption.getOrElse(-1), pass)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis())
      }
    }

  /** Per span name: (count, total ms, self ms), self excluding child spans. */
  def selfTimes: Map[String, (Int, Long, Long)] = {
    val childMs = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.endMs - s.startMs)
    spans.indices.groupBy(i => spans(i).name).map { case (name, idx) =>
      val total = idx.map(i => spans(i).endMs - spans(i).startMs).sum
      name -> ((idx.size, total, total - idx.map(childMs).sum))
    }
  }
}
