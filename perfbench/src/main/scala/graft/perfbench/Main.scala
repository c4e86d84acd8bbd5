package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Entry point of one benchmark run:
  *
  *   Main --workload <transform|dedup_gate|stream> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --out <result.json>
  *
  * Builds a `local[4]` session, generates the workload's inputs from the
  * seed under `--work`, warms up, times the workload's operations for
  * `--seconds`, checks their outputs outside the timed region and writes
  * one JSON result. With `--trace 1` a SparkListener, a streaming
  * listener, a counting queue and spans around every layer call record
  * the per-layer numbers, and the spans go to `<work>/spans.json`.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val out = Paths.get(opts("out"))
    val body: Ctx => Unit = workload match {
      case "transform" => TransformWorkload.run
      case "dedup_gate" => DedupGateWorkload.run
      case "stream" => StreamWorkload.run
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Files.createDirectories(work)
    val spark = GraftSession.local(cores = Cores.toString, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, seconds, new Tracer(trace))
    try {
      body(ctx)
      ctx.metric("peak_rss_mb", Util.peakRssMb, "MB")
    } catch {
      case e: Throwable =>
        ctx.verify(ok = false, s"run aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    if (trace) Files.writeString(work.resolve("spans.json"), Util.spansJson(ctx.tracer.all))
    Files.writeString(out, ctx.resultJson)
    spark.stop()
  }
}

/** What a workload needs: the session, its directories and the knobs of
  * this run, plus the result being assembled. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val tracer: Tracer) {
  val traced: Boolean = tracer.enabled
  private var live: Option[SparkCounters] = None
  def counters: Option[SparkCounters] = live

  /** Attach fresh Spark counters at the start of the measured region
    * (traced runs only), counting the jobs of the operations `include`
    * accepts. */
  def startCounters(include: String => Boolean): Unit = if (traced) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    live.foreach(spark.sparkContext.removeSparkListener)
    val c = new SparkCounters(include)
    spark.sparkContext.addSparkListener(c)
    live = Some(c)
  }

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record why a check failed; the caller counts the operation. */
  def fail(what: String): Unit = {
    failures += what
    log(s"FAILED: $what")
  }

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  /** Count one attempted operation, failed unless `ok`. */
  def done(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  /** A check that is an operation of its own. */
  def verify(ok: Boolean, what: => String): Unit = done(check(ok, what))

  /** Run `body` with its Spark jobs tagged as operation `op`. */
  def op[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkCounters.OpKey, op)
    try body finally sc.setLocalProperty(SparkCounters.OpKey, null)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Records `setup_s` — JVM start to now, the first timed operation —
    * counting the repeated input generation once, at its median. */
  def setupDone(generationS: Seq[Double]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val s = (System.currentTimeMillis() - jvmStart) / 1000.0 -
      generationS.sum + Stats.median(generationS)
    metric("setup_s", s, "s")
    log(f"set-up $s%.2f s (input generation ${generationS.map(g => f"$g%.2f").mkString(", ")} s)")
  }

  /** The `spark` layer's counters over a measured region of `wallS`. */
  def sparkLayer(wallS: Double): Unit = counters.foreach { c =>
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val tasks = c.taskSeconds
    metric("spark.jobs", c.jobs.get.toDouble, "count")
    metric("spark.stages", c.stages.get.toDouble, "count")
    metric("spark.tasks", c.tasks.get.toDouble, "count")
    metric("spark.task_run_s", c.runMs.get / 1000.0, "s")
    metric("spark.task_cpu_s", c.cpuNs.get / 1e9, "s")
    metric("spark.gc_s", c.gcMs.get / 1000.0, "s")
    metric("spark.task_p50_s", if (tasks.isEmpty) 0.0 else Stats.median(tasks), "s")
    metric("spark.task_max_s", if (tasks.isEmpty) 0.0 else tasks.max, "s")
    metric("spark.idle_core_s", wallS * Main.Cores - c.runMs.get / 1000.0, "s")
    metric("spark.shuffle_write_bytes", c.shuffleWrite.get.toDouble, "bytes")
    metric("spark.shuffle_read_bytes", c.shuffleRead.get.toDouble, "bytes")
    metric("spark.shuffle_records", c.shuffleRecords.get.toDouble, "count")
    metric("spark.spill_bytes", c.spill.get.toDouble, "bytes")
    metric("spark.input_bytes", c.input.get.toDouble, "bytes")
    metric("spark.cached_bytes_peak", c.cachedPeak.toDouble, "bytes")
  }

  def resultJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Util.str(k)}: {${Util.str("value")}: ${Util.num(v)}, ${Util.str("unit")}: ${Util.str(u)}}"
    }.mkString("{", ", ", "}")
    val fs = failures.map(Util.str).mkString("[", ", ", "]")
    s"""{"attempted": $attempted, "failed": $failed, "failures": $fs, "metrics": $ms}"""
  }
}

object Util {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Execute every column of `df` without writing anything. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** (data files, their bytes) under a sink directory. */
  def sinkFiles(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val files = s.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  /** Content digest of the files under `dir`, in path order. */
  def digest(dir: Path, suffix: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try s.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(p => dir.relativize(p).toString)
      .foreach(p => md.update(Files.readAllBytes(p)))
    finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  def spansJson(spans: Seq[Stats.Span]): String = {
    val self = Stats.selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, """ +
        s""""op": ${str(s.op)}, "start_s": ${num((s.startNs - t0) / 1e9)}, """ +
        s""""end_s": ${num((s.endNs - t0) / 1e9)}, "self_s": ${num(self(s.id) / 1e9)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
