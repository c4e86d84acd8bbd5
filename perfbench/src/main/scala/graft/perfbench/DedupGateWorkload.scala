package graft.perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SaveMode

import graft.{BenchExec, Tables}
import graft.queries.DedupQueries

/** `dedup_gate`: warm passes, in a fixed order, over four dedup-scope
  * gate queries on a seeded ScaleGen-shaped corpus. Each query is built
  * from the corpus directory and executed through `BenchExec.run`, the
  * gate's own timed action. Read-and-aggregate only; at this size it is
  * bound by per-query scheduling, not data. */
object DedupGateWorkload {
  val Docs = 2000
  /** Four of the eight dedup-scope gate queries — one per core in the
    * parallel warm-up — including the three ROADMAP #2 regressions
    * (d03, d06, d24) and the iterative connected-components scope (d11). */
  val Names: Seq[String] = Seq("d03_minhash_dedup_pairs", "d06_ngram_jaccard_dups",
    "d11_dup_clusters", "d24_incr_contamination")
  require(Names.forall(DedupQueries.scopedQueryNames), "not a dedup-scope query")

  /** `d03_minhash_dedup_pairs` → `d03`. */
  def shortId(name: String): String = name.takeWhile(_ != '_')

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val corpus = ctx.work.resolve("corpus")
    val checkDir = ctx.work.resolve("check")

    val gens = (1 to 3).map { _ =>
      Util.deleteTree(corpus)
      val (_, s) = Util.secondsOf(writeCorpus(ctx, corpus))
      (s, Util.digest(corpus, ".parquet"))
    }
    ctx.verify(gens.map(_._2).distinct.size == 1,
      "regenerating the corpus from the same seed changed its bytes")
    // hand the corpus and the oracle statements to run.py, which runs
    // them in DuckDB while this JVM warms up
    Files.writeString(ctx.work.resolve("oracle_sql.json"), Names.map(n =>
      s"${Util.str(n)}: ${Util.str(DedupQueries.oracleSql(n))}").mkString("{", ", ", "}"))
    Files.writeString(ctx.work.resolve("corpus.ready"),
      corpus.resolve("documents.parquet").toString)

    // warm-up pass: every query's full result goes to parquet for the
    // oracle comparison (outside any timed region). The queries run four
    // at a time to shorten this cold pass; timed passes run them in turn
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    val expectedRows = release(ctx) {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val results = Future.traverse(Names) { name => Future {
        val target = checkDir.resolve(name).toString
        DedupQueries.queries(name)(spark, corpus.toString)
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(target)
        name -> spark.read.parquet(target).count()
      }}
      try Await.result(results, Duration.Inf).toMap finally pool.shutdown()
    }

    /** One checked execution of `name`, tagged `op`; returns its wall. */
    def timedQuery(name: String, op: String): Double = {
      val id = shortId(name)
      var rows = -1L
      val dt = release(ctx) {
        ctx.op(id)(ctx.tracer.span(s"queries.$id", op) {
          Util.secondsOf {
            rows = BenchExec.run(DedupQueries.queries(name)(spark, corpus.toString))
          }._2
        })
      }
      ctx.done(ctx.check(rows == expectedRows(name),
        s"$name returned $rows rows, its checked result has ${expectedRows(name)}"))
      dt
    }
    // a second warm-up pass, one query at a time as the timed ones run:
    // the first sequential pass still runs 15-25% slower than the next
    Names.foreach(timedQuery(_, "warm-up"))
    // the oracle must not share the CPU with the timed passes
    val oracleDone = ctx.work.resolve("oracle.done")
    val waitUntil = System.currentTimeMillis() + 150000
    while (!Files.exists(oracleDone) && System.currentTimeMillis() < waitUntil)
      Thread.sleep(50)
    ctx.verify(Files.exists(oracleDone), "the oracle run did not finish")
    ctx.setupDone(gens.map(_._1))

    // measured region: whole passes over the queries in a fixed order, at
    // least two, and another only while it is expected to end within
    // --seconds; a pass is the sum of each query's median wall
    ctx.startCounters(Names.map(shortId).toSet)
    val perQuery = Names.map(_ -> Seq.newBuilder[Double]).toMap
    val signatureS = Seq.newBuilder[Double]
    val region0 = System.nanoTime()
    val deadline = region0 + ctx.seconds * 1000000000L
    var lastPassNs = 0L
    var p = 0
    ctx.tracer.span("workload.dedup_gate") {
      while (p < 2 || System.nanoTime() + lastPassNs < deadline) {
        val pass0 = System.nanoTime()
        ctx.tracer.span("queries.pass", s"pass-$p") {
          Names.foreach(name => perQuery(name) += timedQuery(name, s"pass-$p"))
        }
        lastPassNs = System.nanoTime() - pass0
        if (ctx.traced) signatureS += ctx.op("functions.signature")(
          ctx.tracer.span("functions.signature", s"pass-$p") {
            Util.secondsOf(Util.materialize(DedupQueries.signatureTable(
              Tables(spark, corpus.toString, "documents"))))._2
          })
        p += 1
      }
    }
    val regionS = (System.nanoTime() - region0) / 1e9
    val samples = Names.map(n => n -> perQuery(n).result()).toMap
    ctx.log(f"$p%d passes in $regionS%.2f s; per query: " + Names.map(n =>
      s"${shortId(n)} ${samples(n).map(t => f"$t%.2f").mkString("/")}").mkString(", "))
    val wall = Names.map(n => Stats.median(samples(n))).sum
    ctx.metric("pass_s", wall, "s")
    ctx.metric("lines_per_s", Docs / wall, "lines/s")
    ctx.metric("latency_p50_s", Stats.median(samples.values.flatten.toSeq), "s")

    if (ctx.traced) {
      Names.foreach { name =>
        val id = shortId(name)
        val n = samples(name).size
        ctx.metric(s"queries.${id}_s", Stats.median(samples(name)), "s")
        ctx.counters.foreach { c =>
          ctx.metric(s"queries.${id}_jobs", c.jobsOf(id).toDouble / n, "count")
          ctx.metric(s"queries.${id}_shuffle_bytes", c.shuffleOf(id).toDouble / n, "bytes")
        }
      }
      ctx.metric("functions.signature_s", Stats.median(signatureS.result()), "s")
      ctx.sparkLayer(samples.values.flatten.sum)
    }
  }

  /** Run `body`, then unpersist the RDDs it left cached (scope caches and
    * local checkpoints), so the next query starts from the same storage. */
  private def release[T](ctx: Ctx)(body: => T): T = {
    val sc = ctx.spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
  }

  /** The seeded corpus as `<dir>/documents.parquet` (one file). */
  def writeCorpus(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Gen.documents(Docs, ctx.seed).toSeq
      .map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir.resolve("documents.parquet").toString)
  }
}
