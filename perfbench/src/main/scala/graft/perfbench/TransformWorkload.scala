package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions.{call_function, col}

import graft.etl.{AccessLogParser, EtlConfig, Transform, TransformStats}
import graft.functions.ParseS3LogExpr

/** `transform`: repeated `Transform.run(spark, in, out, EtlConfig())` over
  * seeded access-log text files covering the 24 hours of one day — the
  * reference's batch path: parse, the dedup shuffle and the partitioned
  * parquet sink (24 hour partitions × 8 salt buckets). At this input size
  * the sink's per-run work is most of a run. */
object TransformWorkload {
  val Files = 2
  val RequestsPerFile = 25000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val inDir = ctx.work.resolve("transform-in")

    // set-up: generate three times (the median is the set-up cost; the
    // three digests must agree), then warm up on the real input
    val gens = (1 to 3).map { _ =>
      Util.deleteTree(inDir)
      val (g, s) = Util.secondsOf(generate(inDir, ctx.seed))
      (g, s, Util.digest(inDir, ".log"))
    }
    val (paths, counts) = gens.head._1
    ctx.verify(gens.map(_._3).distinct.size == 1,
      "regenerating the input from the same seed changed its bytes")
    // warm-up: one full run compiles every plan the measured runs use
    val cfg = EtlConfig()
    Transform.run(spark, paths, ctx.work.resolve("transform-warm").toString, cfg)
    ctx.setupDone(gens.map(_._2))

    // measured region: back-to-back runs (closed loop, one caller)
    val results = Seq.newBuilder[(Probe, Path, Option[TransformStats])]
    ctx.startCounters(_.startsWith("etl.transform_run"))
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    ctx.tracer.span("workload.transform") {
      while (i < 3 || System.nanoTime() < deadline) {
        val out = ctx.work.resolve(s"transform-out-$i")
        val probe = if (ctx.traced) layerProbe(ctx, paths, cfg, i) else Probe()
        var stats: Option[TransformStats] = None
        val runS = timed(ctx, "etl.transform_run", i) {
          stats = Some(Transform.run(spark, paths, out.toString, cfg))
        }
        results += ((probe.copy(runS = runS), out, stats))
        i += 1
      }
    }
    val checked = results.result()
    val runs = checked.map(_._1.runS)
    ctx.log(s"Transform.run walls: ${runs.map(r => f"$r%.2f").mkString(", ")} s " +
      f"(IQR ${Stats.iqrShare(runs) * 100}%.0f%% of the median)")
    // output checks, outside the timed region
    checked.foreach { case (_, out, stats) =>
      ctx.tracer.span("check", out.getFileName.toString) {
        ctx.done(ctx.check(stats.nonEmpty, s"$out: no stats") &&
          checkRun(ctx, stats.get, counts, out))
      }
    }
    val io = Util.sinkFiles(checked.last._2)
    checked.foreach { case (_, out, _) => Util.deleteTree(out) }
    val wall = Stats.median(runs)
    ctx.metric("pass_s", wall, "s")
    ctx.metric("lines_per_s", counts.lines / wall, "lines/s")
    ctx.metric("latency_p50_s", wall, "s")

    if (ctx.traced) {
      reportEtl(ctx, checked.map(_._1), counts.lines)
      val s = checked.last._3.get
      ctx.metric("etl.input_lines", s.inputLines.toDouble, "count")
      ctx.metric("etl.malformed_lines", s.malformedLines.toDouble, "count")
      ctx.metric("etl.deduped_lines", s.dedupedLines.toDouble, "count")
      ctx.metric("etl.output_rows", s.outputRows.toDouble, "count")
      ctx.metric("io.files_written", io._1.toDouble, "count")
      ctx.metric("io.bytes_written", io._2.toDouble, "bytes")
      ctx.metric("io.bytes_per_input_byte", io._2.toDouble / counts.bytes, "ratio")
      ctx.metric("io.rows_per_file", s.outputRows.toDouble / io._1, "rows")
      ctx.sparkLayer(runs.sum)
    }
  }

  def timed(ctx: Ctx, name: String, i: Int)(body: => Unit): Double =
    ctx.op(s"$name-$i")(ctx.tracer.span(name, s"run-$i")(Util.secondsOf(body)._2))

  /** Walls of the calls one traced iteration makes into the etl and
    * functions layers over the same input as its `Transform.run`. */
  final case class Probe(parseS: Double = 0, pipelineS: Double = 0,
      scanS: Double = 0, tokenizeS: Double = 0, runS: Double = 0)

  def layerProbe(ctx: Ctx, paths: Seq[String], cfg: EtlConfig, i: Int): Probe = {
    val lines = ctx.spark.read.textFile(paths: _*).toDF("value")
    Probe(
      parseS = timed(ctx, "etl.parse", i)(Util.materialize(
        AccessLogParser.parse(lines, dropMalformed = false))),
      pipelineS = timed(ctx, "etl.pipeline", i)(Util.materialize(
        Transform.pipeline(lines, cfg))),
      scanS = timed(ctx, "functions.scan", i)(Util.materialize(lines)),
      tokenizeS = timed(ctx, "functions.tokenize", i)(Util.materialize(
        lines.select(call_function(ParseS3LogExpr.functionName, col("value"))))))
  }

  /** The etl split of a run's wall: parse, then dedup (the pipeline minus
    * parse), then the sink (the run minus the pipeline) — medians over the
    * probes, so the three add up to the median run. */
  def reportEtl(ctx: Ctx, probes: Seq[Probe], lines: Long): Unit = {
    def med(f: Probe => Double) = Stats.median(probes.map(f))
    ctx.metric("etl.parse_s", med(_.parseS), "s")
    ctx.metric("etl.dedup_s", med(_.pipelineS) - med(_.parseS), "s")
    ctx.metric("etl.sink_s", med(_.runS) - med(_.pipelineS), "s")
    ctx.metric("functions.tokenize_ns_per_line",
      (med(_.tokenizeS) - med(_.scanS)) * 1e9 / lines, "ns")
  }

  /** Seeded input: [[Files]] text files, request ids unique across files. */
  def generate(dir: Path, seed: Long): (Seq[String], Gen.LogCounts) = {
    val parts = (0 until Files).map { f =>
      val (lines, counts) =
        Gen.logLines(s"t$f", RequestsPerFile, Gen.mix64(seed * 31 + f))
      val p = dir.resolve(f"part-$f%02d.log")
      Gen.writeLines(p, lines)
      (p.toString, counts)
    }
    (parts.map(_._1), parts.map(_._2).foldLeft(Gen.LogCounts.zero)(_ + _))
  }

  /** Output checks of one run: the stats conserve the generator's counts,
    * and the sink holds exactly `outputRows` rows in 24 hour partitions. */
  private def checkRun(ctx: Ctx, s: TransformStats, c: Gen.LogCounts,
      out: Path): Boolean = {
    val back = ctx.spark.read.parquet(out.toString)
    val rows = back.count()
    val hours = back.select("year", "month", "day", "hour").distinct().count()
    ctx.check(s.inputLines == c.lines, s"input_lines ${s.inputLines} != generated ${c.lines}") &
      ctx.check(s.malformedLines == c.malformed,
        s"malformed_lines ${s.malformedLines} != generated ${c.malformed}") &
      ctx.check(s.dedupedLines == c.duplicates,
        s"deduped_lines ${s.dedupedLines} != planted ${c.duplicates}") &
      ctx.check(s.outputRows == c.validUnique,
        s"output_rows ${s.outputRows} != unique valid ${c.validUnique}") &
      ctx.check(rows == s.outputRows, s"sink holds $rows rows, run reported ${s.outputRows}") &
      ctx.check(hours == 24, s"sink has $hours hour partitions, expected 24")
  }
}
