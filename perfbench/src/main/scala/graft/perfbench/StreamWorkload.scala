package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.etl.{EtlConfig, StreamingTransform, Transform}
import graft.sources.{FileQueue, QueueRegistry}
import graft.streaming.QueueMetrics

/** `stream`: the queue-fed stream (`graft-queue` source →
  * `StreamingTransform.queueNotificationPipeline` → parquet sink) under an
  * open-loop generator. One generator thread publishes one S3
  * `ObjectCreated:Put` notification per small seeded log object on a
  * fixed schedule that does not wait for the engine: a `low` phase well
  * under capacity, a `high` phase near it, then `drain` bursts (a backlog
  * published in full while the consumer is held back, timed from its
  * release until every message is acked; the median burst is reported).
  * Latency runs from each event's due time to its message's ack, which
  * the pipeline sends only after the batch's parquet commit. */
object StreamWorkload {
  val RequestsPerObject = 100
  val MaxMessagesPerTrigger = 50
  val LowRate = 2.0   // objects per second
  val HighRate = 6.0
  val DrainObjects = 100
  val Drains = 3
  val WarmupObjects = 100
  val QueueName = "perfbench-stream"

  /** One scheduled notification. */
  final case class Event(obj: Int, phase: String, var dueMs: Long) {
    var publishedMs = 0L
    var messageId = ""
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val objDir = ctx.work.resolve("stream-objects")
    val lowS = ctx.seconds * 0.4
    val highS = ctx.seconds * 0.4
    val nLow = math.max(1, (LowRate * lowS).round.toInt)
    val nHigh = math.max(1, (HighRate * highS).round.toInt)
    val nObjects = WarmupObjects + nLow + nHigh + Drains * DrainObjects

    val gens = (1 to 3).map { _ =>
      Util.deleteTree(objDir)
      val (c, s) = Util.secondsOf(generate(objDir, nObjects, ctx.seed))
      (c, s, Util.digest(objDir, ".log"))
    }
    ctx.verify(gens.map(_._3).distinct.size == 1,
      "regenerating the objects from the same seed changed their bytes")
    val counts = gens.head._1
    val resolve: (String, String) => String = (_, key) => objDir.resolve(key).toString
    val cfg = EtlConfig(hourlyPartitions = false)

    // warm-up: drain the first objects through a throwaway query
    {
      val wq = new FileQueue(ctx.work.resolve("queue-warm").toString, 600)
      QueueRegistry.register("perfbench-warm", wq)
      (0 until WarmupObjects).foreach(i => wq.enqueue(event(i)))
      val w = StreamingTransform.queueNotificationPipeline(spark, "perfbench-warm",
          ctx.work.resolve("warm-out").toString, ctx.work.resolve("warm-ckpt").toString,
          resolve, cfg, maxMessagesPerTrigger = MaxMessagesPerTrigger)
        .trigger(Trigger.AvailableNow()).start()
      w.awaitTermination()
      ctx.verify(wq.size == 0, "warm-up drain left messages in its queue")
    }
    ctx.setupDone(gens.map(_._2))

    // measured region
    val out = ctx.work.resolve("stream-out")
    val ckpt = ctx.work.resolve("stream-ckpt")
    val fileQueue = new FileQueue(ctx.work.resolve("queue").toString, 600)
    val queue = new CountingQueue(fileQueue)
    QueueRegistry.register(QueueName, queue)
    val progress = new StreamProgress
    if (ctx.traced) spark.streams.addListener(progress)
    val deadLettered0 = QueueMetrics.of(QueueName).deadLettered.get
    ctx.startCounters(_.isEmpty) // the stream's own jobs carry no operation
    val region0 = System.nanoTime()
    val regionWall0 = System.currentTimeMillis()
    var workloadSpan = -1
    val query = StreamingTransform.queueNotificationPipeline(spark, QueueName,
        out.toString, ckpt.toString, resolve, cfg,
        maxMessagesPerTrigger = MaxMessagesPerTrigger)
      .start()

    val wall0 = System.currentTimeMillis() + 500
    val low = (0 until nLow).map(k =>
      Event(WarmupObjects + k, "low", wall0 + (k * 1000 / LowRate).toLong))
    val highStart = wall0 + (lowS * 1000).toLong
    val high = (0 until nHigh).map(k =>
      Event(WarmupObjects + nLow + k, "high", highStart + (k * 1000 / HighRate).toLong))
    val scheduled = low ++ high
    val drainWallS = Array.fill(Drains)(Double.NaN)
    val drains = (0 until Drains).map(d => (0 until DrainObjects).map(k =>
      Event(WarmupObjects + nLow + nHigh + d * DrainObjects + k, "drain", 0L)))
    try {
      ctx.tracer.span("workload.stream") {
        workloadSpan = ctx.tracer.current
        ctx.tracer.span("stream.phases", "low+high") {
          publish(queue, fileQueue, scheduled)
          awaitAcks(query, queue, scheduled, 120)
        }
        drains.zipWithIndex.foreach { case (drain, d) =>
          queue.hold()
          publish(queue, fileQueue, drain)
          val d0 = System.currentTimeMillis()
          drain.foreach(_.dueMs = d0)
          queue.release()
          ctx.tracer.span("stream.drain", s"drain-$d") {
            awaitAcks(query, queue, drain, 60)
          }
          val acked = drain.filter(e => queue.firstAck.containsKey(e.messageId))
          if (acked.size == drain.size)
            drainWallS(d) = (acked.map(ackOf(queue, _)).max - d0) / 1000.0
        }
      }
    } finally query.stop()
    val regionS = (System.nanoTime() - region0) / 1e9
    ctx.log(f"measured region $regionS%.2f s, drains ${drainWallS.map(w => f"$w%.2f").mkString(", ")} s")
    ctx.sparkLayer(regionS)

    // output checks
    val all = scheduled ++ drains.flatten
    all.foreach(e => ctx.done(ctx.check(queue.firstAck.containsKey(e.messageId),
      s"message for object ${e.obj} (${e.phase}) was never acked")))
    ctx.verify(query.exception.isEmpty, s"query failed: ${query.exception}")
    ctx.verify(fileQueue.size == 0, s"queue holds ${fileQueue.size} messages after the run")
    val dead = QueueMetrics.of(QueueName).deadLettered.get - deadLettered0
    ctx.verify(dead == 0 && !Files.exists(ckpt.resolve("deadletter")),
      s"$dead messages were dead-lettered")
    val published = all.map(e => counts(e.obj)).foldLeft(Gen.LogCounts.zero)(_ + _)
    val sinkRows = if (Files.exists(out)) spark.read.parquet(out.toString).count() else 0L
    ctx.verify(sinkRows == published.validUnique,
      s"sink holds $sinkRows rows, the published objects hold ${published.validUnique} unique lines")

    // end-to-end metrics
    val drainLines = drains.map(_.map(e => counts(e.obj).lines).sum)
    val drainRates = drainLines.zip(drainWallS).map { case (l, w) => l / w }
    val measured = !drainWallS.exists(_.isNaN)
    ctx.metric("pass_s", if (measured) Stats.median(drainWallS.toSeq) else Double.NaN, "s")
    ctx.metric("lines_per_s", if (measured) Stats.median(drainRates) else Double.NaN, "lines/s")
    def lat(es: Seq[Event]) = {
      val acked = es.filter(e => queue.firstAck.containsKey(e.messageId))
      Stats.latencies(acked.map(_.dueMs / 1000.0), acked.map(ackOf(queue, _) / 1000.0))
    }
    val lowLat = lat(low)
    val highLat = lat(high)
    ctx.metric("latency_p50_s", Stats.median(lowLat ++ highLat), "s")
    val highBacklog = backlogSlope(queue, high)
    ctx.log(f"high phase offered ${high.map(e => counts(e.obj).lines).sum / highS}%.0f lines/s, " +
      f"drains ran ${drainRates.map(r => f"$r%.0f").mkString(", ")} lines/s; " +
      f"high backlog slope $highBacklog%.2f messages/s")

    if (ctx.traced) {
      ctx.metric("streaming.low_latency_p50_s", Stats.median(lowLat), "s")
      ctx.metric("streaming.low_latency_p90_s", Stats.p90(lowLat), "s")
      ctx.metric("streaming.high_latency_p50_s", Stats.median(highLat), "s")
      ctx.metric("streaming.high_latency_p90_s", Stats.p90(highLat), "s")
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val batches = progress.all
      def med(key: String) =
        Stats.median(batches.map(_.durations.getOrElse(key, 0L) / 1000.0))
      batches.foreach { b =>
        val startNs = region0 + (b.startMs - regionWall0) * 1000000L
        ctx.tracer.recordUnder(workloadSpan, "streaming.batch", "",
          startNs, startNs + b.durations.getOrElse("triggerExecution", 0L) * 1000000L)
      }
      ctx.metric("streaming.batches", batches.size.toDouble, "count")
      ctx.metric("streaming.batch_p50_s", med("triggerExecution"), "s")
      ctx.metric("streaming.add_batch_s", med("addBatch"), "s")
      ctx.metric("streaming.planning_s", med("queryPlanning"), "s")
      ctx.metric("streaming.wal_commit_s", med("walCommit"), "s")
      val byId = all.map(e => e.messageId -> e).toMap
      val perAck = queue.ackBatches.asScala.toSeq
        .map(ids => ids.flatMap(byId.get).map(e => counts(e.obj).lines).sum.toDouble)
      ctx.metric("streaming.lines_per_batch_p50", Stats.median(perAck), "lines")
      ctx.metric("streaming.ack_after_receive_p50_s", Stats.median(all.map(e =>
        (ackOf(queue, e) - queue.firstReceive.get(e.messageId)) / 1000.0)), "s")
      ctx.metric("streaming.generator_late_max_s",
        scheduled.map(e => (e.publishedMs - e.dueMs) / 1000.0).max, "s")

      ctx.metric("sources.receive_calls", queue.receiveCalls.get.toDouble, "count")
      ctx.metric("sources.received", queue.received.get.toDouble, "count")
      ctx.metric("sources.redelivered", queue.redelivered.get.toDouble, "count")
      ctx.metric("sources.deleted", queue.deleted.toDouble, "count")
      ctx.metric("sources.extend_calls", queue.extendCalls.get.toDouble, "count")
      ctx.metric("sources.dead_lettered", dead.toDouble, "count")
      ctx.metric("sources.receive_s", queue.receiveNs.get / 1e9, "s")
      ctx.metric("sources.delete_s", queue.deleteNs.get / 1e9, "s")
      val pubs = scheduled.map(_.publishedMs.toDouble)
      val acks = scheduled.map(e => ackOf(queue, e).toDouble)
      ctx.metric("sources.backlog_max", Stats.backlog(pubs, acks, pubs ++ acks).max, "count")
      ctx.metric("sources.backlog_slope_per_s", highBacklog, "count/s")
      ctx.metric("sources.queue_wait_p50_s", Stats.median(scheduled.map(e =>
        (queue.firstReceive.get(e.messageId) - e.dueMs) / 1000.0)), "s")

      // the etl split over the first drain backlog's objects as one input
      val drainPaths = drains.head.map(e => objDir.resolve(objectKey(e.obj)).toString)
      val probes = (0 until 2).map { i =>
        val probeOut = ctx.work.resolve(s"probe-out-$i")
        val probe = TransformWorkload.layerProbe(ctx, drainPaths, cfg, i)
        probe.copy(runS = TransformWorkload.timed(ctx, "etl.transform_run", i)(
          Transform.run(spark, drainPaths, probeOut.toString, cfg)))
      }
      TransformWorkload.reportEtl(ctx, probes, drainLines.head)
      ctx.metric("etl.input_lines", published.lines.toDouble, "count")
      ctx.metric("etl.malformed_lines", published.malformed.toDouble, "count")
      ctx.metric("etl.deduped_lines", published.duplicates.toDouble, "count")
      ctx.metric("etl.output_rows", sinkRows.toDouble, "count")
      val (files, bytes) = Util.sinkFiles(out)
      ctx.metric("io.files_written", files.toDouble, "count")
      ctx.metric("io.bytes_written", bytes.toDouble, "bytes")
      ctx.metric("io.bytes_per_input_byte", bytes.toDouble / published.bytes, "ratio")
      ctx.metric("io.rows_per_file", sinkRows.toDouble / files, "rows")
    }
  }

  private def ackOf(q: CountingQueue, e: Event): Long = q.firstAck.get(e.messageId)

  /** Backlog slope (messages/s) over the `high` phase, sampled every
    * 100 ms from publish and ack times. */
  private def backlogSlope(q: CountingQueue, high: Seq[Event]): Double = {
    val acked = high.filter(e => q.firstAck.containsKey(e.messageId))
    if (acked.size < 2) return Double.NaN
    val from = high.head.dueMs
    val to = high.last.dueMs
    val at = (from to to by 100L).map(_.toDouble)
    val b = Stats.backlog(high.map(_.publishedMs.toDouble),
      acked.map(e => ackOf(q, e).toDouble), at)
    Stats.slope(at.map(_ / 1000.0).zip(b))
  }

  /** The generator: publish each event at its due time (never earlier;
    * later only if the generator itself falls behind). */
  private def publish(q: CountingQueue, fq: FileQueue, events: Seq[Event]): Unit = {
    val t = new Thread(() => events.foreach { e =>
      val wait = e.dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      e.messageId = fq.enqueue(event(e.obj))
      e.publishedMs = System.currentTimeMillis()
    }, "perfbench-generator")
    t.start()
    t.join()
  }

  private def awaitAcks(query: StreamingQuery, q: CountingQueue,
      events: Seq[Event], timeoutS: Int): Unit = {
    val deadline = System.currentTimeMillis() + timeoutS * 1000L
    while (events.exists(e => !q.firstAck.containsKey(e.messageId)) &&
        System.currentTimeMillis() < deadline && query.isActive)
      Thread.sleep(20)
  }

  def objectKey(i: Int): String = f"obj-$i%05d.log"

  def event(i: Int): String =
    s"""{"Records":[{"eventName":"ObjectCreated:Put","awsRegion":"us-east-1",""" +
      s""""s3":{"bucket":{"name":"perfbench"},"object":{"key":"${objectKey(i)}","size":1}}}]}"""

  /** Seeded objects; planted duplicates stay inside their object, and
    * request ids are unique across objects. */
  def generate(dir: Path, n: Int, seed: Long): IndexedSeq[Gen.LogCounts] =
    (0 until n).map { i =>
      val (lines, c) = Gen.logLines(s"o$i", RequestsPerObject, Gen.mix64(seed * 7919 + i))
      Gen.writeLines(dir.resolve(objectKey(i)), lines)
      c
    }
}
