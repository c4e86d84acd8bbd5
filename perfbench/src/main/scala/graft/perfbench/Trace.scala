package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.perfbench.Stats.Span
import graft.sources.{NotificationQueue, QueueMessage}

/** In-memory spans around the benchmark's calls into each layer, written
  * out when the run ends. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, op, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Record an interval timed elsewhere (a progress event) under the
    * span `parent`. */
  def recordUnder(parent: Int, name: String, op: String, startNs: Long,
      endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), name, parent, op, startNs, endNs))

  /** Id of the calling thread's innermost open span (-1 if none). */
  def current: Int = stack.get.headOption.getOrElse(-1)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Scheduler, shuffle and storage counters from Spark's listener bus.
  * Jobs carry the benchmark's operation id as the local property
  * [[SparkCounters.OpKey]], so per-operation job counts and shuffle bytes
  * need no timing guesswork. */
final class SparkCounters(include: String => Boolean) extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleRecords = new AtomicLong
  val spill = new AtomicLong
  val input = new AtomicLong
  private val taskMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val opJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val opShuffle = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  @volatile var cachedPeak = 0L

  private def counter(m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong],
      op: String) = m.computeIfAbsent(op, _ => new AtomicLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpKey)))
      .getOrElse("")
    if (include(op)) {
      jobs.incrementAndGet()
      counter(opJobs, op).incrementAndGet()
      e.stageIds.foreach(id => stageOp.put(id, op))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageOp.containsKey(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (stageOp.containsKey(e.stageId)) {
    tasks.incrementAndGet()
    taskMs.add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val w = m.shuffleWriteMetrics.bytesWritten
      shuffleWrite.addAndGet(w)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      counter(opShuffle, stageOp.get(e.stageId)).addAndGet(w)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val id = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cached += size - rddBlocks.getOrElse(id, 0L)
      if (size == 0) rddBlocks.remove(id) else rddBlocks(id) = size
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  def taskSeconds: Seq[Double] = taskMs.asScala.toSeq.map(_ / 1000.0)
  def jobsOf(op: String): Long = Option(opJobs.get(op)).map(_.get).getOrElse(0L)
  def shuffleOf(op: String): Long = Option(opShuffle.get(op)).map(_.get).getOrElse(0L)
}

object SparkCounters {
  val OpKey = "perfbench.op"
}

/** Micro-batch progress of the measured streaming query. */
final class StreamProgress extends StreamingQueryListener {
  import StreamProgress.Batch
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(epochMs(p.timestamp), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  def all: Seq[Batch] = batches.asScala.toSeq
}

object StreamProgress {
  /** One non-empty micro-batch: its start, input rows and phase walls (ms). */
  final case class Batch(startMs: Long, rows: Long, durations: Map[String, Long])
}

/** A delegating [[NotificationQueue]]: counts and times every receive,
  * ack and lease extension, and keeps each message's first-receive and
  * first-ack wall time (ms) — the ack time is what the stream's
  * end-to-end latency is measured to. While held it answers every
  * receive with nothing, so a backlog can be published in full before
  * the consumer sees any of it. */
final class CountingQueue(delegate: NotificationQueue) extends NotificationQueue {
  val receiveCalls = new AtomicLong
  val received = new AtomicLong
  val redelivered = new AtomicLong
  val extendCalls = new AtomicLong
  val receiveNs = new AtomicLong
  val deleteNs = new AtomicLong
  val firstReceive = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val firstAck = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** One entry per ack call: the message ids it acknowledged first. */
  val ackBatches = new ConcurrentLinkedQueue[Seq[String]]()

  private var held = false

  /** Once this returns, no receive is in flight and none delivers until
    * [[release]]. */
  def hold(): Unit = synchronized { held = true }
  def release(): Unit = synchronized { held = false }

  override def receive(max: Int): Seq[QueueMessage] = synchronized {
    if (held) Seq.empty
    else {
      val t0 = System.nanoTime()
      val got = delegate.receive(max)
      receiveNs.addAndGet(System.nanoTime() - t0)
      receiveCalls.incrementAndGet()
      if (got.nonEmpty) {
        val now = System.currentTimeMillis()
        received.addAndGet(got.size.toLong)
        redelivered.addAndGet(got.count(_.receiveCount > 1).toLong)
        got.foreach(m => firstReceive.putIfAbsent(m.messageId, now))
      }
      got
    }
  }

  override def delete(receiptHandles: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    delegate.delete(receiptHandles)
    deleteNs.addAndGet(System.nanoTime() - t0)
    val now = System.currentTimeMillis()
    val fresh = receiptHandles.map(h => h.substring(0, math.max(h.lastIndexOf(':'), 0)))
      .filter(id => firstAck.putIfAbsent(id, now) == null)
    if (fresh.nonEmpty) ackBatches.add(fresh)
  }

  override def extendVisibility(receiptHandles: Seq[String], seconds: Long): Unit = {
    extendCalls.incrementAndGet()
    delegate.extendVisibility(receiptHandles, seconds)
  }

  def deleted: Long = firstAck.size.toLong
}
