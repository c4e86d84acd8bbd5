package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col, count, count_distinct, expr, lit, max, sum, when}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.etl.{AccessLogParser, Compact, EtlConfig, StreamingTransform, Transform}
import graft.etl.Compact.longs
import graft.queries.{DedupQueries, DocumentQueries, EmbeddingQueries, QueryConf}

/** CLI entry point — the reference's `s3logs` binary surface
  * (s3logs/src/main.rs:7-48) re-expressed over the Spark engine, plus the
  * training-data verbs that compose into ingest → spandedup → curate →
  * decontam → pack (pinned end to end by MainSpec's composition test).
  *
  * Every verb is one row of [[verbs]]: its positionals (inputs, then
  * outputs), switches, valued flags with their checks and defaults, and a
  * body. One parser refuses unknown flags, bad values and wrong arity
  * before any job runs; every verb that replaces its output first runs
  * [[guardOutputClash]] against all of its inputs; one writer
  * ([[Args.write]]) applies the configured codec and file-size cap; and
  * `usage` is printed from the table.
  *
  * Config comes from the process environment via [[EtlConfig.fromEnv]] —
  * the reference's full env vocabulary, unknown S3LOGS_* keys rejected
  * loudly. The reference's `-t threads` knob maps to the session's core
  * count (SPARK_GRAFT_CPUS): parallelism is a cluster property here, not
  * a per-command flag. There is no `-r region`/`-b bucket` pair on
  * transform because the Spark sink takes ONE output URI; `-o
  * s3a://bucket/prefix` carries both.
  */
object Main {

  /** What a valued flag accepts; `parse` answers None for a refused
    * value. `InDir` is a directory the verb reads: the output guard
    * covers it like an input positional. */
  private[graft] sealed abstract class Kind(val what: String,
      val parse: String => Option[Any])
  private case object Str extends Kind("a string", Some(_))
  private case object InDir extends Kind("a directory", Some(_))
  private case object Int1 extends Kind("an integer >= 1",
    _.toIntOption.filter(_ >= 1))
  private case object Long0 extends Kind("an integer >= 0",
    _.toLongOption.filter(_ >= 0))
  private case object Long1 extends Kind("a positive integer",
    _.toLongOption.filter(_ >= 1))
  private case object Frac extends Kind("a number in (0, 1]",
    _.toDoubleOption.filter(d => d > 0 && d <= 1))
  private case object Frac0 extends Kind("a number in [0, 1]",
    _.toDoubleOption.filter(d => d >= 0 && d <= 1))

  private[graft] final case class Flag(name: String, meta: String,
      kind: Kind = Str, default: SparkSession => Option[Any] = _ => None,
      required: Boolean = false) {
    def usage: String = if (required) s"$name <$meta>" else s"[$name <$meta>]"
  }

  /** One CLI verb. `in` then `out` are its positionals (`<x>...` takes
    * one or more values, `[<x>...]` zero or more). With `overwrite` the
    * single `out` is replaced, so it must not equal, alias or nest with
    * any input positional or `InDir` flag. */
  private[graft] final case class Verb(name: String, in: String = "",
      out: String = "", switches: Seq[String] = Nil, flags: Seq[Flag] = Nil,
      overwrite: Boolean = true, doc: String = "")(
      val body: Args => Seq[String]) {
    val words: List[String] = name.split(' ').toList
    val positional: Seq[String] = s"$in $out".split(' ').filter(_.nonEmpty).toSeq
    def usage: String = {
      val (req, opt) = flags.partition(_.required)
      (Seq("graft.Main", name) ++ positional ++ req.map(_.usage) ++
        switches.map(s => s"[$s]") ++ opt.map(_.usage))
        .mkString(" ").padTo(58, ' ') + s" # $doc"
    }
  }

  /** A parsed invocation, handed to the verb's body. */
  private[graft] final class Args(val spark: SparkSession, val cfg: EtlConfig,
      val env: Map[String, String], val pos: Seq[String],
      switches: Set[String], values: Map[String, Any],
      defaults: Map[String, Any]) {
    def has(switch: String): Boolean = switches(switch)
    /** The flag's value if it was given. */
    def opt[T](flag: String): Option[T] = values.get(flag).map(_.asInstanceOf[T])
    /** The flag's value, or its declared default. */
    def apply[T](flag: String): T =
      values.getOrElse(flag, defaults(flag)).asInstanceOf[T]
    def read(dir: String): DataFrame = spark.read.parquet(dir)
    def docs(dir: String): DataFrame = read(dir).select("doc_id", "text")
    def vectors(dir: String): DataFrame = read(dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    /** The one parquet writer: replaces `out` with the configured codec
      * and records-per-file cap. */
    def write(df: DataFrame, out: String, partitionBy: String*): Unit = {
      val w = df.write.mode("overwrite")
        .option("compression", cfg.compression)
        .option("maxRecordsPerFile", cfg.maxRecordsPerFile)
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(out)
    }
  }

  private val topK = Flag("--topk", "k", Int1, s => Some(QueryConf.bm25TopK(s)))
  private val sep = Flag("--sep", "separator", Str, _ => Some("\n\n"))
  private val compactSwitches = "--flat" +: Compact.sidecarKinds.keys.toSeq.sorted
  private def required(name: String, meta: String) =
    Flag(name, meta, required = true)

  private[graft] val verbs: Seq[Verb] = Seq(
    Verb("aggregate s3", flags = Seq(required("-r", "region"),
        required("-b", "bucket"), required("-k", "key")), overwrite = false,
      doc = "parse one S3 object, print its line count")(aggregateS3),
    Verb("aggregate local", "<input>...", overwrite = false,
      doc = "parse local files/dirs, per-file line counts")(aggregateLocal),
    Verb("transform", "[<input>...]", flags = Seq(Flag("-o", "outDir"),
        Flag("--loop", "seconds", Long0), Flag("--iterations", "n", Int1)),
      overwrite = false, doc = "batch pipeline -> hourly parquet (appends); " +
        "--loop = daemon over the age gate")(transform),
    Verb("stream", "<landingDir>", "<outDir> <checkpointDir>",
      Seq("--once"), overwrite = false,
      doc = "streaming pipeline over a landing dir (--once = drain + exit)")(
      streamFiles),
    Verb("stream", "", "<outDir> <checkpointDir>", Seq("--once"),
      Seq(Flag("--queue-dir", "queueDir", required = true),
        Flag("--objects", "objDir")), overwrite = false,
      doc = "queue-fed streaming (graft-queue connector)")(streamQueue),
    Verb("ingest", "<dropDir>", "<corpusDir> <checkpointDir>", Seq("--once"),
      Seq(Flag("--sigs", "dir"), Flag("--spansigs", "dir"),
        Flag("--span-sep", "s", Str, _ => Some("\n\n")),
        Flag("--winnowsigs", "dir"), Flag("--repsigs", "dir"),
        Flag("--decontam", "dir"), Flag("--decontam-n", "k", Int1, _ => Some(8)),
        Flag("--quality-min", "q", Frac), Flag("--rejects", "dir")),
      overwrite = false, doc = "crawl drop -> deduped lang-partitioned " +
        "corpus (+ signature sidecars, d39 decontam gate, d09 quality gate)")(
      ingest),
    Verb("compact", "<lakeDir> [<partitionCol>...]",
      switches = compactSwitches,
      overwrite = false, doc = "small-file compaction (cols auto-detected); " +
        "--flat = unpartitioned dir; a sidecar switch folds its batch= " +
        "generations into one")(compact),
    Verb("dedup", "<corpusDir>", "<outDir>", Seq("--best"),
      doc = "d25 (--best: d34 quality-canonical) disposition: " +
        "kept/exact_dup/near_dup + canonical_id")(dedup),
    Verb("spandedup", "<corpusDir>", "<outDir>", flags = Seq(sep),
      doc = "d28 cross-doc repeated-span removal; docs rewritten")(spanDedup),
    Verb("curate", "<corpusDir>", "<outDir>", Seq("--best"),
      Seq(Flag("--quality-min", "score", Frac0, _ => Some(0.5))),
      doc = "quality/lang gates -> d25 dedup -> d27 rebalance -> d13 split; " +
        "<out>/dispositions + <out>/corpus")(curate),
    Verb("decontam", "<corpusDir>", "<outDir>",
      flags = Seq(Flag("--n", "tokens", Int1, _ => Some(8))),
      doc = "d30+d32: <out>/eval_report + <out>/train_dispositions")(decontam),
    Verb("bpetrain", "<corpusDir>", "<outDir>", flags = Seq(
        Flag("--merges", "k", Int1, _ => Some(32000)),
        Flag("--min-count", "n", Long1, _ => Some(1L))),
      doc = "d29: one corpus pass + driver merge loop -> merge table")(bpeTrain),
    Verb("tokenize", "<corpusDir> <mergesDir>", "<outDir>",
      doc = "d29b: per-doc BPE token counts off a stored merge table")(tokenize),
    Verb("pack", "<corpusDir>", "<outDir>",
      flags = Seq(Flag("--seq-len", "tokens", Long1, _ => Some(2048L))),
      doc = "d26: fixed-length sequences with per-slice provenance")(pack),
    Verb("overlap", "<corpusDir>", "<outDir>",
      doc = "d41: cross-source overlap matrix (sizes, shared, Jaccard)")(overlap),
    Verb("select", "<corpusDir>", "<outDir>",
      flags = Seq(Flag("--frac", "f", Frac, _ => Some(0.25))),
      doc = "d42: best-quality docs up to frac of corpus tokens")(select),
    Verb("semdedup", "<embeddingsDir>", "<outDir>",
      flags = Seq(Flag("--tau", "t", Frac, _ => Some(0.45))),
      doc = "s09: SemDeDup disposition over an embeddings table")(semDedup),
    Verb("semdecontam", "<trainEmbDir> <evalEmbDir>", "<outDir>",
      flags = Seq(Flag("--tau", "t", Frac,
        _ => Some(EmbeddingQueries.semDecTau))),
      doc = "s10: train vectors too close to eval vectors, with witness")(
      semDecontam),
    Verb("dsir", "<rawCorpusDir> <targetCorpusDir>", "<outDir>",
      doc = "d46: DSIR importance weights of raw docs vs a target")(dsir),
    Verb("cluster", "<corpusDir>", "<outDir>",
      doc = "d48: domain cluster per doc + dominant-source census")(cluster),
    Verb("bm25index", "<corpusDir>", "<outDir>",
      doc = "d58 build: postings + stored df + collection stats")(bm25Index),
    Verb("bm25", "<indexDir> <probesDir>", "<outDir>", flags = Seq(topK),
      doc = "d58 probe: BM25 top-k per (query_id, qtext) probe")(bm25),
    Verb("ivftrain", "<embeddingsDir>", "<outDir>",
      doc = "train the s04 coarse quantizer once -> stored centroids")(ivfTrain),
    Verb("ivfindex", "<embeddingsDir> <centroidsDir>", "<outDir>",
      doc = "assign vectors to cells under stored centroids, " +
        "partitioned by cell")(ivfIndex),
    Verb("ann", "<embeddingsDir>", "<outDir>", flags = Seq(topK,
        Flag("--queries", "dir", InDir), Flag("--nqueries", "n", Int1,
          _ => Some(20)), Flag("--centroids", "dir", InDir),
        Flag("--index", "dir", InDir)),
      doc = "s04 IVF rank table; --centroids/--index probe stored " +
        "artifacts")(ann),
    Verb("fuse", "<ranksDir> <ranksDir>...", "<outDir>", flags = Seq(topK),
      doc = "d59: RRF-fuse at least two stored rank tables")(fuse),
    Verb("salvage", "<corpusDir>", "<outDir>", flags = Seq(
        Flag("--quality-min", "q", Frac, _ => Some(0.5)), sep),
      doc = "d50: keep above-bar paragraphs; writes a manifest, not a " +
        "corpus")(salvage))

  private[graft] val usage: String =
    verbs.map("  " + _.usage).mkString("usage:\n", "\n", "")

  /** Run one CLI invocation against an existing session; returns the
    * lines a terminal user would see (printed by [[main]]). Separated so
    * the spec can drive the full command surface on the shared test
    * session with a controlled environment. */
  def run(spark: SparkSession, args: Seq[String],
      env: Map[String, String] = sys.env): Seq[String] = {
    val cfg = EtlConfig.fromEnv(env)
    // $GRAFT_CHECKPOINT_DIR routes every engine materialization through
    // reliable checkpoint() (see [[Materialize]]) so the iterative and
    // disposition verbs survive executor loss on a cluster. Explicitly
    // unset otherwise: a later run() on the same session must not
    // inherit a previous invocation's (possibly deleted) directory.
    env.get("GRAFT_CHECKPOINT_DIR").filter(_.trim.nonEmpty) match {
      case Some(d) => spark.conf.set(Materialize.DirKey, d)
      case None => spark.conf.unset(Materialize.DirKey)
    }
    val matching = verbs.filter(v => args.startsWith(v.words))
    if (matching.isEmpty) fail(usage)
    // a verb with two modes (stream) is told apart by its required flags
    val verb = matching.sortBy(-_.flags.count(_.required))
      .find(_.flags.forall(f => !f.required || args.contains(f.name)))
      .getOrElse(matching.head)
    verb.body(parse(verb, args.drop(verb.words.size).toList, spark, cfg, env))
  }

  /** Split, check and guard one verb's arguments — all before the body
    * starts any job. A typo'd flag or value refuses loudly instead of
    * producing a plausible-but-wrong artifact. */
  private def parse(v: Verb, args: List[String], spark: SparkSession,
      cfg: EtlConfig, env: Map[String, String]): Args = {
    val byName = v.flags.map(f => f.name -> f).toMap
    val switches = Set.newBuilder[String]
    val named = Map.newBuilder[String, String]
    val pos = Vector.newBuilder[String]
    val unknown = Vector.newBuilder[String]
    var rest = args
    while (rest.nonEmpty) {
      val t = rest.head
      rest = rest.tail
      if (v.switches.contains(t)) switches += t
      else if (byName.contains(t)) {
        if (rest.isEmpty) fail(s"${v.name}: flag $t needs a value\n  ${v.usage}")
        named += t -> rest.head
        rest = rest.tail
      } else if (t.startsWith("-")) unknown += t
      else pos += t
    }
    val bad = unknown.result()
    val accepted = v.switches ++ v.flags.map(_.name)
    if (bad.nonEmpty)
      fail(s"${v.name}: unknown flag(s) ${bad.mkString(", ")} — accepted: " +
        (if (accepted.isEmpty) "none" else accepted.mkString(", ")) +
        s"\n  ${v.usage}")
    val values = named.result()
    v.flags.find(f => f.required && !values.contains(f.name)).foreach(f =>
      fail(s"${v.name}: missing required flag ${f.name}\n  ${v.usage}"))
    val p = pos.result()
    val (many, one) = v.positional.partition(_.contains("..."))
    val least = one.size + many.count(!_.startsWith("["))
    if (p.size < least || (many.isEmpty && p.size > least))
      fail(s"${v.name} needs ${v.positional.mkString(" ")}, got ${p.size} " +
        s"positional argument(s)\n  ${v.usage}")
    val typed = values.map { case (f, raw) =>
      f -> byName(f).kind.parse(raw).getOrElse(
        fail(s"${v.name}: $f must be ${byName(f).kind.what}, got '$raw'"))
    }
    if (v.overwrite) {
      // a variadic input name labels every value it takes
      val names = v.positional.init.padTo(p.size - 1, v.positional.init.last)
      def label(name: String) = name.stripPrefix("<")
        .takeWhile(_ != '>').stripSuffix("Dir")
      guardOutputClash(spark, v.name, p.last,
        names.map(label).zip(p.init) ++ v.flags.filter(_.kind == InDir)
          .flatMap(f => values.get(f.name).map(f.name.stripPrefix("--") -> _)))
    }
    new Args(spark, cfg, env, p, switches.result(), typed,
      v.flags.flatMap(f => f.default(spark).map(f.name -> _)).toMap)
  }

  /** The row census of `c`, 0 for an absent value. */
  private def census(df: DataFrame, c: String): Map[String, Long] =
    df.groupBy(c).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)

  /** Parse-and-count one input (file, directory, or URI): the reference
    * aggregator's observable effect minus its staging files — under this
    * engine the staging layer IS the transform's shuffle (SURVEY §3.1),
    * so a standalone aggregate pass validates and counts. */
  private def aggregateCount(spark: SparkSession, in: String): Long =
    AccessLogParser
      .parse(spark.read.textFile(in).toDF("value"), dropMalformed = true)
      .count()

  private def aggregateS3(a: Args): Seq[String] = {
    // the region flag is APPLIED, not just parsed for arg parity
    // (main.rs:10-17): it rides the FS config, since an s3a:// path
    // carries no region of its own
    a.spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.endpoint.region", a[String]("-r"))
    val n = aggregateCount(a.spark, s"s3a://${a[String]("-b")}/${a[String]("-k")}")
    Seq(s"$n of lines processed")
  }

  /** Every directory arg expands to its plain files (main.rs:60-90 walks
    * each input), so the count is per FILE; an unreadable input reports
    * the failure line (main.rs:73,86 parity). */
  private def aggregateLocal(a: Args): Seq[String] = a.pos.flatMap { in =>
    def count(path: String): String =
      try s"${aggregateCount(a.spark, path)} of lines processed for input $path"
      catch { case scala.util.control.NonFatal(_) => s"process failed input $path" }
    val f = new java.io.File(in)
    if (!f.isDirectory) Seq(count(in))
    else Option(f.listFiles).fold(Seq(s"process failed input $in"))(
      _.toSeq.filter(_.isFile).map(_.toString).sorted.map(count))
  }

  /** With no input, scans $S3LOGS_STAGGING_ROOT_PATH like main.rs:97-101's
    * `process_stagging_dir`; prints main.rs:99,106's line. */
  private def transform(a: Args): Seq[String] = {
    val out = a.opt[String]("-o").getOrElse(
      a.env.getOrElse("S3LOGS_TRANSFORM_PARQUET_ROOT_PATH",
        fail("transform needs -o <outDir> or $S3LOGS_TRANSFORM_PARQUET_ROOT_PATH")))
    val inputs =
      if (a.pos.nonEmpty) a.pos
      else Seq(a.env.getOrElse("S3LOGS_STAGGING_ROOT_PATH",
        fail("transform needs input paths or $S3LOGS_STAGGING_ROOT_PATH")))
    a.opt[Long]("--loop") match {
      case None =>
        val stats = Transform.run(a.spark, inputs, out, a.cfg)
        Seq(s"transform task ended, ${stats.inputLines} lines processed")
      case Some(secs) =>
        transformLoop(a.spark, inputs, out, a.cfg, secs, a.opt[Int]("--iterations"))
    }
  }

  private def streamFiles(a: Args): Seq[String] = {
    val Seq(landing, out, checkpoint) = a.pos
    streaming(a, "stream", StreamingTransform.writer(
      StreamingTransform.stream(a.spark, landing, a.cfg), out, checkpoint, a.cfg))
  }

  /** Run a streaming query to its end. `--once` = Trigger.AvailableNow:
    * drain the backlog, checkpoint, exit — the reference's timer-driven
    * lambda transformer shape; without it the query runs continuously. */
  private def streaming(a: Args, verb: String,
      writer: DataStreamWriter[_]): Seq[String] = {
    (if (a.has("--once")) writer.trigger(Trigger.AvailableNow()) else writer)
      .start().awaitTermination()
    Seq(s"$verb query terminated")
  }

  /** s3logd's SQS poll shape: leases, sink-side ack after the transform
    * lands, redelivery on crash. `--objects` maps keys to a local dir;
    * without it keys resolve to s3a://bucket/key. */
  private def streamQueue(a: Args): Seq[String] = {
    val Seq(out, checkpoint) = a.pos
    // fixed registry name: fine under the CLI's one-command-per-JVM
    // contract; embedders running two queue streams in one JVM must
    // register distinct names
    graft.sources.QueueRegistry.register("cli",
      new graft.sources.FileQueue(a[String]("--queue-dir")))
    val resolve: (String, String) => String = a.opt[String]("--objects") match {
      case Some(dir) => (_, key) => s"$dir/$key"
      case None => (bucket, key) => s"s3a://$bucket/$key"
    }
    streaming(a, "stream", StreamingTransform.queueNotificationPipeline(
      a.spark, "cli", out, checkpoint, resolve, a.cfg))
  }

  /** Each sidecar flag maintains its artifact per micro-batch: `--sigs`
    * d16 signatures, `--spansigs` d36 span signatures (split on
    * `--span-sep`), `--winnowsigs` the d53/d54 winnowed-fp index,
    * `--repsigs` the d16/d24 rep index, `--decontam` the d39 gate (width
    * `--decontam-n`). `--quality-min` gates before the corpus and every
    * sidecar; `--rejects` quarantines what it drops. */
  private def ingest(a: Args): Seq[String] = {
    val Seq(drop, corpus, checkpoint) = a.pos
    val qualityMin = a.opt[Double]("--quality-min")
    if (a.opt[String]("--rejects").nonEmpty && qualityMin.isEmpty)
      fail("ingest: --rejects needs --quality-min — without a gate " +
        "nothing is ever rejected")
    val Seq(sigs, spanSigs, winnow, repSigs, decontam) = Seq("--sigs",
      "--spansigs", "--winnowsigs", "--repsigs", "--decontam").map(a.opt[String](_))
    val docs = graft.streaming.DocumentIngest.stream(a.spark, drop)
    val writer =
      if (Seq(sigs, spanSigs, winnow, repSigs, decontam, qualityMin).forall(_.isEmpty))
        graft.streaming.DocumentIngest.writer(docs, corpus, checkpoint)
      else graft.streaming.DocumentIngest.writerWithArtifacts(docs, corpus,
        sigs, spanSigs, a[String]("--span-sep"), checkpoint, decontam,
        a[Int]("--decontam-n"), qualityMin, a.opt[String]("--rejects"),
        winnow, repSigs)
    streaming(a, "ingest", writer)
  }

  /** `--flat` is explicit because treating a hive lake as flat would
    * flatten it. A sidecar switch folds through the artifact's own
    * read-side fold and conservation check — run it while the producing
    * ingest is stopped. */
  private def compact(a: Args): Seq[String] = {
    val lake +: cols = a.pos
    val chosen = compactSwitches.filter(a.has)
    if (chosen.size > 1 || (chosen.nonEmpty && cols.nonEmpty))
      fail(s"compact: unexpected flag among ${(chosen ++ cols).mkString(" ")}" +
        " — give one switch or partition columns")
    chosen.headOption match {
      case Some(kind) if kind != "--flat" =>
        val (fold, conserve) = Compact.sidecarKinds(kind)
        val st = Compact.sidecar(a.spark, lake, fold, conserve,
          maxRecordsPerFile = a.cfg.maxRecordsPerFile, compression = a.cfg.compression)
        Seq(s"compact task ended, ${st.rows} rows kept, " +
          s"${st.generations0} -> 1 generations, ${st.files0} -> ${st.files1} files")
      case flat =>
        val partCols =
          if (flat.nonEmpty) Nil
          else if (cols.nonEmpty) cols
          else detectPartitionCols(a.spark, lake)
        val st = Compact.run(a.spark, lake, partCols,
          maxRecordsPerFile = a.cfg.maxRecordsPerFile, compression = a.cfg.compression)
        Seq(s"compact task ended, ${st.rows} rows kept, " +
          s"${st.files0} -> ${st.files1} files")
    }
  }

  private def dedup(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val best = a.has("--best")
    // refuses duplicate, null or non-integral doc_ids before the pipeline
    // runs; the result is checkpoint-backed, so the census and the write
    // reuse one pipeline run
    val disp =
      if (best) DedupQueries.dedupBest(a.docs(corpus))
      else DedupQueries.dedupApply(a.docs(corpus))
    val n = census(disp, "status")
    a.write(disp, out)
    if (best)
      Seq(s"dedup task ended, ${n("kept")} of ${n.values.sum} docs kept " +
        s"(${n("dup")} duplicates dropped, best-quality canonicals)")
    else
      Seq(s"dedup task ended, ${n("kept")} of ${n.values.sum} docs kept " +
        s"(${n("exact_dup")} exact, ${n("near_dup")} near duplicates dropped)")
  }

  /** `--sep` is a LITERAL separator (default: a blank line). */
  private def spanDedup(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    a.write(DocumentQueries.spanDedupCorpus(a.docs(corpus), a[String]("--sep")), out)
    val Seq(docs, paras, dropped, chars) = longs(a.read(out), count(lit(1)),
      sum("n_paras"), sum("n_dropped"), sum("chars_dropped"))
    Seq(s"spandedup task ended, $docs docs, $dropped of $paras paragraphs " +
      s"dropped ($chars chars)")
  }

  private def salvage(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val (qmin, sep) = (a[Double]("--quality-min"), a[String]("--sep"))
    a.write(DocumentQueries.paragraphSalvage(
      DocumentQueries.corpusParas(a.docs(corpus), sep), qmin, sep), out)
    val Seq(docs, paras, dropped) = longs(a.read(out), count(lit(1)),
      sum("n_paras"), sum("n_dropped"))
    Seq(s"salvage task ended, $docs docs, $dropped of $paras paragraphs " +
      s"dropped at quality $qmin")
  }

  private def curate(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val best = a.has("--best")
    val docs = a.read(corpus).select("doc_id", "lang", "text")
    // materialized once for its three consumers: the artifact write, the
    // kept-corpus join and the census
    val disp = Materialize(DocumentQueries.curateDispositions(docs,
      a[Double]("--quality-min"), bestCanonical = best))
    a.write(disp, s"$out/dispositions")
    a.write(docs.join(disp.filter(col("disposition").isin("train", "val", "test"))
      .selectExpr("doc_id", "disposition AS split"), Seq("doc_id")),
      s"$out/corpus", "split")
    val n = census(disp, "disposition")
    val dupCensus =
      if (best) s"${n("dup")} dup (best-quality canonicals), "
      else s"${n("exact_dup")} exact, ${n("near_dup")} near dup, "
    Seq(s"curate task ended, ${n("train") + n("val") + n("test")} of " +
      s"${n.values.sum} docs kept (train ${n("train")}, val ${n("val")}, " +
      s"test ${n("test")}; dropped: ${n("low_quality")} low quality, " +
      s"${n("unknown_lang")} unknown lang, " + dupCensus +
      s"${n("sampled_out")} sampled out)")
  }

  /** The split is the d13 content-hash assignment, recomputed. */
  private def decontam(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    // ONE materialized n-gram fingerprint pass feeds both directions
    // (MainSpec pins zero corpus re-scans in the write actions)
    val grams = Materialize(DocumentQueries.splitNgramFps(a.docs(corpus), a[Int]("--n")))
    a.write(DocumentQueries.ngramDecontaminationFromFps(grams), s"$out/eval_report")
    a.write(DocumentQueries.trainDecontaminationFromFps(grams),
      s"$out/train_dispositions")
    val Seq(nEval, hit) = longs(a.read(s"$out/eval_report"), count(lit(1)),
      sum(when(col("n_hit") > 0, 1L).otherwise(0L)))
    val Seq(nTrain, drop) = longs(a.read(s"$out/train_dispositions"),
      count(lit(1)), sum(when(col("disposition") === "drop", 1L).otherwise(0L)))
    Seq(s"decontam task ended, $hit of $nEval eval docs compromised; drop " +
      s"$drop of $nTrain train docs to remediate")
  }

  /** The driver merge loop runs over the Heaps-bounded word table
    * (SCALE.md); `--min-count` prunes rarer words before the collect. */
  private def bpeTrain(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val k = a[Int]("--merges")
    val table = DocumentQueries.bpeMergesDriver(a.docs(corpus), k,
      a[Long]("--min-count"))
    val trained = table.count() // a driver-local relation: near-free
    a.write(table, out)
    Seq(s"bpetrain task ended, $trained merges trained" +
      (if (trained < k) s" (pairs exhausted before $k)" else ""))
  }

  private def tokenize(a: Args): Seq[String] = {
    val Seq(corpus, merges, out) = a.pos
    a.write(DocumentQueries.bpeTokenCountsFromMerges(a.docs(corpus),
      a.read(merges)), out)
    val Seq(docs, toks) = longs(a.read(out), count(lit(1)), sum("n_bpe_tokens"))
    Seq(s"tokenize task ended, $toks bpe tokens over $docs docs")
  }

  /** The slice table is bucket-count-independent (spec-pinned), so
    * nBuckets is only a tuning choice. */
  private def pack(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val seqLen = a[Long]("--seq-len")
    a.write(DocumentQueries.packSequences(a.docs(corpus), seqLen = seqLen,
      nBuckets = a.spark.sparkContext.defaultParallelism), out)
    val Seq(seqs, docs, toks) = longs(a.read(out), count_distinct(col("seq_id")),
      count_distinct(col("doc_id")), sum("n_toks"))
    Seq(s"pack task ended, $toks tokens from $docs docs packed into $seqs " +
      s"sequences of $seqLen")
  }

  private def overlap(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    a.write(DocumentQueries.sourceOverlap(
      a.read(corpus).select("doc_id", "text", "source")), out)
    val written = a.read(out)
    val top = written.orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
      .limit(1).collect().headOption
    Seq(s"overlap task ended, ${written.count()} source pairs" + top.fold("")(r =>
      s"; max overlap ${r.getString(0)}~${r.getString(1)} jaccard " +
        s"${r.getDouble(5)} (${r.getLong(4)} shared)"))
  }

  private def select(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val frac = a[Double]("--frac")
    val docs = a.read(corpus)
    val sel = DocumentQueries.budgetSelect(docs.select("doc_id", "text"),
      frac = frac, nBuckets = a.spark.sparkContext.defaultParallelism)
    a.write(docs.join(sel.select("doc_id", "quality", "cum_tok"), Seq("doc_id")), out)
    val total = docs.count()
    val Seq(kept, toks) = longs(a.read(out), count(lit(1)), max("cum_tok"))
    Seq(s"select task ended, $kept of $total docs kept ($toks tokens, frac " +
      s"$frac of corpus)")
  }

  private def semDedup(a: Args): Seq[String] = {
    val Seq(emb, out) = a.pos
    val tau = a[Double]("--tau")
    a.write(EmbeddingQueries.semDedup(a.vectors(emb), tau), out)
    val n = census(a.read(out), "decision")
    Seq(s"semdedup task ended, ${n("keep")} of ${n.values.sum} vectors kept " +
      s"(${n("drop")} semantic duplicates dropped at tau $tau)")
  }

  private def semDecontam(a: Args): Seq[String] = {
    val Seq(train, eval, out) = a.pos
    val tau = a[Double]("--tau")
    a.write(EmbeddingQueries.semDecontam(a.vectors(train), a.vectors(eval), tau), out)
    val n = census(a.read(out), "decision")
    Seq(s"semdecontam task ended, ${n("drop")} of ${n.values.sum} train " +
      s"vectors semantically contaminated at tau $tau (${n("keep")} clean)")
  }

  private def dsir(a: Args): Seq[String] = {
    val Seq(raw, target, out) = a.pos
    a.write(DocumentQueries.dsirWeights(a.docs(raw), a.docs(target)), out)
    val c = a.read(out)
      .agg(count(lit(1)), avg(col("log_ratio")), max(col("log_ratio"))).head()
    // avg/max are NULL over an empty manifest
    if (c.getLong(0) == 0L) Seq("dsir task ended, 0 raw docs scored")
    else Seq(f"dsir task ended, ${c.getLong(0)} raw docs scored " +
      f"(mean log-ratio ${c.getDouble(1)}%.4f, best ${c.getDouble(2)}%.4f)")
  }

  private def cluster(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    val corpusDf = a.read(corpus)
    a.write(DocumentQueries.domainClusters(corpusDf.select(col("doc_id"), col("text"))), out)
    val saved = a.read(out)
    val sizes = saved.groupBy("cluster").count()
      .orderBy(col("count").desc, col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val dominant =
      if (!corpusDf.columns.contains("source")) Map.empty[Long, String]
      else saved.join(corpusDf.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("cluster", "source").count().collect()
        .groupBy(_.getLong(0))
        .map { case (cl, rows) =>
          cl -> rows.maxBy(r => (r.getLong(2), r.getString(1))).getString(1)
        }
    val head = sizes.take(3).map { case (cl, n) =>
      dominant.get(cl).fold(s"$cl:$n")(src => s"$cl:$n($src)")
    }.mkString(", ")
    Seq(s"cluster task ended, ${sizes.map(_._2).sum} docs over " +
      s"${sizes.length} clusters (largest $head)")
  }

  private def bm25Index(a: Args): Seq[String] = {
    val Seq(corpus, out) = a.pos
    a.write(DocumentQueries.bm25Index(a.docs(corpus)), out)
    val Seq(postings, terms, docs) = longs(a.read(out), count(lit(1)),
      count_distinct(col("term")), max(col("n_docs")))
    if (postings == 0L) Seq("bm25index task ended, empty corpus")
    else Seq(s"bm25index task ended, $postings postings over $terms terms " +
      s"($docs docs)")
  }

  private def bm25(a: Args): Seq[String] = {
    val Seq(index, probesDir, out) = a.pos
    val probes = a.read(probesDir)
    if (!Seq("query_id", "qtext").forall(probes.columns.contains))
      fail("bm25: the probes table needs (query_id, qtext) columns")
    val k = a[Int]("--topk")
    a.write(DocumentQueries.bm25Probe(a.read(index),
      probes.select(col("query_id"), col("qtext")), k = k), out)
    val Seq(n, q) = longs(a.read(out), count(lit(1)), count_distinct(col("query_id")))
    Seq(s"bm25 task ended, $n results over $q queries (top-$k)")
  }

  private def ivfTrain(a: Args): Seq[String] = {
    val Seq(emb, out) = a.pos
    a.write(EmbeddingQueries.trainQuantizer(a.read(emb)), out)
    Seq(s"ivftrain task ended, ${a.read(out).count()} centroids " +
      s"(cells=${QueryConf.ivfCells(a.spark)}, " +
      s"rounds=${QueryConf.lloydRounds(a.spark)}; the " +
      "artifact is only comparable under these knobs)")
  }

  private def ivfIndex(a: Args): Seq[String] = {
    val Seq(emb, centroids, out) = a.pos
    // repartition ON the partition key: one file per cell, not a sliver
    // per task in every cell= dir (2.2x slower to probe at 100k vectors,
    // SCALE.md "ann --index cell pruning")
    a.write(EmbeddingQueries.ivfIndex(a.read(emb), a.read(centroids))
      .repartition(col("cell")), out, "cell")
    val Seq(n, cells) = longs(a.read(out), count(lit(1)), count_distinct(col("cell")))
    Seq(s"ivfindex task ended, $n vectors over $cells cells (partitioned by " +
      "cell; probe-able only under the centroids it was assigned with)")
  }

  /** Queries come from `--queries` or are the corpus's first
    * `--nqueries` vectors (the s04 gate convention). With `--index` the
    * corpus is neither trained on nor re-assigned. */
  private def ann(a: Args): Seq[String] = {
    val Seq(emb, out) = a.pos
    val Seq(queriesDir, centroids, index) =
      Seq("--queries", "--centroids", "--index").map(a.opt[String](_))
    if (index.isDefined && centroids.isEmpty)
      fail("ann: --index needs --centroids — the probe batch assigns " +
        "against the same stored quantizer the index was built with")
    if (queriesDir.isDefined && a.opt[Int]("--nqueries").isDefined)
      fail("ann: --queries and --nqueries are mutually exclusive — " +
        "an external query table carries its own row set")
    val k = a[Int]("--topk")
    val corpus = a.read(emb)
    val queries = queriesDir.map(a.read)
      .getOrElse(corpus.filter(col("vec_id") < a[Int]("--nqueries")))
    // pre-r19 artifacts carry no self-description, so the library's
    // knob/digest checks are vacuous there: say so
    centroids.foreach { d =>
      if (!a.read(d).columns.contains("meta_ver"))
        System.err.println("[ann] WARNING: centroids artifact at " +
          s"$d carries no self-description (pre-r19 ivftrain) — a " +
          "knob mismatch cannot be detected; retrain with ivftrain")
    }
    val ranks = index match {
      case Some(ix) => EmbeddingQueries.annRankTableIndexed(a.read(ix),
        queries, a.read(centroids.get), k = k)
      case None => EmbeddingQueries.annRankTable(corpus, queries, k = k,
        centroids = centroids.map(a.read))
    }
    a.write(ranks, out)
    val Seq(n, q) = longs(a.read(out), count(lit(1)), count_distinct(col("query_id")))
    Seq(s"ann task ended, $n results over $q queries (top-$k)")
  }

  private def fuse(a: Args): Seq[String] = {
    val (rankDirs, out) = (a.pos.init, a.pos.last)
    val k = a[Int]("--topk")
    a.write(DocumentQueries.rrfFuse(rankDirs.map(a.read), k = k), out)
    val Seq(n, q) = longs(a.read(out), count(lit(1)), count_distinct(col("query_id")))
    Seq(s"fuse task ended, $n fused results over $q queries from " +
      s"${rankDirs.size} rank tables (top-$k)")
  }

  /** `transform --loop <seconds>`: the reference's ops runbook
    * (scripts/transform.sh:19-26 re-runs `s3logs transform` on a timer)
    * as one daemon. Each iteration transforms EXACTLY the staging files
    * past the F3 age gate, then moves them into a hidden `.processed/`
    * sibling (the reference's transform_cleanup, utils.rs:1273-1294):
    * the move makes the loop idempotent and restart-safe with no ledger.
    * SIGTERM finishes the current iteration; files move only AFTER their
    * run commits, so a kill mid-iteration re-processes that batch
    * (append-mode duplicates, the reference's own crash semantics).
    * `--iterations n` bounds the loop for tests and cron runs. */
  private[graft] def transformLoop(spark: SparkSession, inputs: Seq[String],
      out: String, cfg: EtlConfig, intervalSeconds: Long,
      maxIterations: Option[Int]): Seq[String] = {
    require(intervalSeconds >= 0, "--loop interval must be >= 0 seconds")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val wake = new java.util.concurrent.CountDownLatch(1)
    // the hook must JOIN the loop thread, not just signal it: the JVM
    // halts as soon as shutdown hooks return, so a signal-only hook
    // would kill the current iteration mid-Transform (its parquet append
    // may have committed while the .processed/ moves were skipped —
    // restart would re-process the batch). Bounded join: a wedged
    // iteration must not block SIGTERM forever.
    val loopThread = Thread.currentThread()
    val hook = new Thread(() => {
      stop.set(true); wake.countDown()
      loopThread.join(10 * 60 * 1000L)
    })
    Runtime.getRuntime.addShutdownHook(hook)
    // per-iteration lines are EMITTED LIVE on stderr (a daemon whose
    // stdout is silent until SIGTERM is unobservable) and returned at
    // exit for the CLI's printed contract; the returned buffer is capped
    // so an unbounded daemon cannot grow one string per iteration forever
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var droppedLines = 0L
    def emit(line: String): Unit = {
      System.err.println(s"[transform-loop] $line")
      if (lines.size < 10000) lines += line else droppedLines += 1
    }
    try {
      var iter = 0
      while (!stop.get && maxIterations.forall(iter < _)) {
        iter += 1
        val batch = quietFiles(inputs, cfg)
        if (batch.isEmpty)
          emit("transform task ended, 0 lines processed")
        else {
          // the gate already ran in quietFiles — the run itself must not
          // re-apply it against a LATER now() and drop selected files
          val stats = Transform.run(spark, batch.map(_.toString), out,
            cfg.copy(jobIntervalSeconds = 0))
          emit(s"transform task ended, ${stats.inputLines} lines processed")
          batch.foreach { f =>
            val dest = new java.io.File(f.getParentFile, ".processed")
            dest.mkdirs()
            java.nio.file.Files.move(f.toPath,
              new java.io.File(dest, f.getName).toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
        if (!stop.get && maxIterations.forall(iter < _))
          wake.await(math.max(intervalSeconds, 1L),
            java.util.concurrent.TimeUnit.SECONDS)
      }
      // the terminating summary bypasses the cap — it carries the very
      // truncation disclosure the cap makes necessary
      val fin = s"transform loop ended after $iter iteration(s)" +
        (if (droppedLines > 0) s" ($droppedLines earlier lines on stderr only)"
         else "")
      System.err.println(s"[transform-loop] $fin")
      (lines += fin).toSeq
    } finally {
      // no-op during an actual shutdown (the hook is already running)
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => }
    }
  }

  /** The F3 age-gate listing ([[Transform.run]]'s mtime rule) applied to
    * loop inputs: plain, non-hidden files quiet for >= jobIntervalSeconds.
    * Explicit file args pass through; hidden names (`.processed/` movees,
    * in-flight `.tmp` drops, `_SUCCESS` markers) never enter a batch. */
  private def quietFiles(inputs: Seq[String], cfg: EtlConfig): Seq[java.io.File] = {
    val cutoff = System.currentTimeMillis - cfg.jobIntervalSeconds * 1000L
    inputs.flatMap { in =>
      val f = new java.io.File(in)
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).toSeq
          .filter(x => x.isFile && !x.getName.startsWith(".") &&
            !x.getName.startsWith("_") && x.lastModified <= cutoff)
          .sortBy(_.getName)
      else Seq(f).filter(_.isFile)
    }
  }

  /** Read the lake's hive partition columns off its directory names:
    * follow one `k=v` chain down from the root. Fails loudly on a
    * directory with no partition structure (compacting a non-lake dir
    * by accident must not flatten it). */
  private def detectPartitionCols(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    @annotation.tailrec
    def walk(p: org.apache.hadoop.fs.Path, acc: Vector[String]): Seq[String] = {
      val child = fs.listStatus(p).find(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      child match {
        case Some(st) => walk(st.getPath,
          acc :+ st.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    }
    val cols = walk(root, Vector.empty)
    if (cols.isEmpty) fail(s"no hive partition dirs (k=v) under $dir — " +
      "pass partition columns explicitly")
    cols
  }

  /** CANONICAL path for the output-clash guard: qualified-path equality
    * misses symlinks, dot segments and nesting (an output that is a
    * PARENT of an input deletes it on overwrite). Local paths resolve via
    * File.getCanonicalPath, remote ones via FileSystem.resolvePath where
    * the path exists, else the qualified form. */
  private def canonPath(spark: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(hp)
    val uri = q.toUri
    if (uri.getScheme == "file")
      try "file:" + new java.io.File(uri.getPath).getCanonicalPath
      catch { case _: java.io.IOException => q.toString }
    else
      try fs.resolvePath(q).toString
      catch { case _: java.io.IOException => q.toString }
  }

  private def pathsOverlap(a: String, b: String): Boolean =
    a == b || a.startsWith(b + "/") || b.startsWith(a + "/")

  /** Refuse an output that equals, aliases, or nests with any input. */
  private def guardOutputClash(spark: SparkSession, verb: String,
      out: String, inputs: Seq[(String, String)]): Unit = {
    val outCanon = canonPath(spark, out)
    inputs.find { case (_, d) => pathsOverlap(canonPath(spark, d), outCanon) }
      .foreach { case (what, d) =>
        fail(s"$verb: the output dir must differ from (and not alias or " +
          s"nest with) the $what dir '$d' — overwrite would destroy a table")
      }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-cli")
    try run(spark, args.toSeq).foreach(println)
    finally spark.stop()
  }
}
