package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for the partitioned parquet lake.
  *
  * Streaming ingest (ST4/ST5 semantics: rotation, idle close, late
  * arrivals) naturally leaves several small files per partition — the
  * reference accepts this (output.rs behavior); at 100 TB the lake needs
  * periodic compaction or scan planning drowns in file listings.
  *
  * One job, object-store-safe commit: rewrite the lake repartitioned by
  * its partition columns into a staging prefix (each output partition
  * lands in one task set, bounded file sizes), verify row conservation
  * against the staged footers, then commit PER PARTITION with per-FILE
  * operations — move the staged files into the live partition directory,
  * then delete the superseded ones. The lake root is never renamed,
  * moved, or absent (the round-4 design swapped the whole tree through
  * two java.io renames — a window with no lake at all, and no rename to
  * speak of on an object store). The same shape as the reference's
  * rename-free upload path (s3logd-stream/src/output.rs:905-949:
  * `.incomplete` staging name → complete upload, never a directory
  * rename), and all IO goes through the Hadoop FileSystem API, so the
  * operator runs unchanged on file://, hdfs://, or s3a://.
  *
  * Consistency window: within one partition, a concurrent reader between
  * the reveal and the delete can see old AND new files (transient
  * overcount). The alternative — delete first — trades that for a
  * transient EMPTY partition (undercount), which is what Spark's own
  * dynamic partition overwrite commit does; compaction prefers the
  * never-absent side. True atomic swap needs a table format's metadata
  * commit (Iceberg rewrite_data_files / Delta OPTIMIZE), which is the
  * production answer when readers can't tolerate either window.
  */
object Compact {

  final case class CompactStats(files0: Long, files1: Long, rows: Long)

  /** Data files (visible to planners): not hidden, not commit markers. */
  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  private def dataFiles(fs: FileSystem, root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && isDataFile(f.getPath)) out += f.getPath
    }
    out.result()
  }

  def run(spark: SparkSession, dir: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 10000000L,
      compression: String = "snappy"): CompactStats = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val before = dataFiles(fs, root).size.toLong

    val df = spark.read.parquet(dir)
    val rows = df.count()
    val staged = new Path(dir.stripSuffix("/") + ".compact-staging")
    fs.delete(staged, true) // stale staging from a crashed prior run
    df.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(staged.toString)

    // refuse to commit a lossy rewrite: footer-count the staged copy
    val stagedRows = spark.read.parquet(staged.toString).count()
    require(stagedRows == rows,
      s"compaction would lose rows: staged $stagedRows != source $rows")

    // per-partition commit: group staged data files by their partition
    // subpath, reveal them in the live partition dir, then delete the
    // files they supersede (enumerated BEFORE the reveal, so freshly
    // committed files are never collateral)
    val stagedPrefix = staged.toUri.getPath.stripSuffix("/")
    val byPartition = dataFiles(fs, staged).groupBy { f =>
      f.getParent.toUri.getPath.stripPrefix(stagedPrefix).stripPrefix("/")
    }
    byPartition.foreach { case (rel, files) =>
      val target = if (rel.isEmpty) root else new Path(root, rel)
      fs.mkdirs(target)
      val superseded = dataFiles(fs, target)
      files.foreach { f =>
        require(fs.rename(f, new Path(target, f.getName)),
          s"commit failed moving $f into $target")
      }
      superseded.foreach(f => fs.delete(f, false))
    }
    fs.delete(staged, true)
    CompactStats(before, dataFiles(fs, root).size.toLong, rows)
  }

  final case class SidecarStats(files0: Long, files1: Long, rows: Long,
      generations0: Long)

  /** One aggregate row of longs; a NULL (a sum, min or max over no
    * rows) reads as 0. */
  private[graft] def longs(df: org.apache.spark.sql.DataFrame,
      aggs: org.apache.spark.sql.Column*): Seq[Long] = {
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    aggs.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Per-artifact (fold, conserve) pairs for [[sidecar]], keyed by the
    * CLI flag — defined here next to the commit machinery so the CLI
    * stays a pure dispatcher and a new sidecar kind lands in ONE place.
    * Each fold is the artifact's own read-side fold (identity for doc
    * signatures — batches are doc-disjoint); each conserve extracts the
    * invariants that fold must preserve. */
  val sidecarKinds: Map[String,
      (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame => Seq[Long])] = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{count, countDistinct, lit, min,
      sum}
    Map(
      "--sigs" -> ((identity[DataFrame] _,
        (df: DataFrame) =>
          longs(df, count(lit(1)), countDistinct(col("doc_id"))))),
      "--spansigs" -> ((graft.queries.DocumentQueries.foldSpanSignatures _,
        (df: DataFrame) => longs(df, sum(col("df")),
          countDistinct(col("para_fp"))))),
      "--evalsigs" ->
        ((graft.queries.DocumentQueries.foldEvalNgramSignatures _,
          (df: DataFrame) =>
            longs(df, sum(col("eval_df")),
              countDistinct(col("fp"))))),
      // winnowed-fp index (d53/d54): rows are doc-disjoint under the
      // unique-doc_id ingest contract, but each generation carries
      // BATCH-LOCAL df — the fold recomputes the GLOBAL per-fp df
      // (foldWinnowSignatures, the read-side fold) so winnowMatches
      // probes a stored column instead of re-aggregating the whole
      // standing artifact per batch; conserve = row count + distinct
      // doc count + distinct fp count (df VALUES change by design)
      "--winnowsigs" -> ((graft.queries.DocumentQueries.foldWinnowSignatures _,
        (df: DataFrame) =>
          longs(df, count(lit(1)), countDistinct(col("doc_id")),
            countDistinct(col("fp"))))),
      // d16/d24 rep index: same-fp rows across generations MERGE (min
      // rep = the global exact-dup representative) and bucket_ns is
      // recomputed over the folded rep set — so row count shrinks by
      // design; conserve = distinct fp count + the global min rep id
      "--repsigs" -> ((graft.queries.DedupQueries.foldRepIndex _,
        (df: DataFrame) =>
          longs(df, countDistinct(col("fp")),
            min(col("rep"))))))
  }

  /** Generation compaction for the `batch=`-partitioned signature
    * sidecars (the d16 `--sigs`, d36 `--spansigs`, d39 `--evalsigs`
    * artifacts): fold every generation into ONE, so read-side fold cost
    * and small-file count stop growing with ingest-batch count.
    *
    * `fold` is the artifact's own generation fold (identity for the
    * doc-signature sidecar — batches are doc-disjoint; foldSpan/
    * foldEvalNgramSignatures for the aggregated ones) — ONE definition
    * shared with the read path, so compaction cannot disagree with what
    * readers compute. `conserve` extracts the invariants the fold must
    * preserve (df sums, distinct keys); the commit is refused if the
    * staged fold breaks them.
    *
    * The folded table lands under the MAX existing batch id: a resumed
    * ingest continues from its checkpoint's strictly-larger batch
    * counter, so future generations never collide. Run it while the
    * producing ingest is stopped — the same offline contract as lake
    * compaction (a concurrently replayed latest batch would overwrite
    * the folded generation with its own rows).
    *
    * Crash safety — the commit is a MARKER-guarded two-phase protocol,
    * not [[run]]'s reveal-then-delete: a sidecar fold REPLACES rows, so
    * a crash that left folded and original rows side by side would
    * over-count every df on the next read, and a naive re-run would
    * compute its conservation baseline from that corrupted state and
    * bless it permanently. Instead: the fold is staged and verified
    * with NO generation touched; then a commit marker (listing the
    * target generation, its original files, and the generations to
    * drop) is atomically renamed into place; only then do deletes and
    * staged-file moves run. A crash anywhere resumes from the marker —
    * deletes and moves are idempotent, and the baseline was captured
    * before anything changed — so the artifact can never be read as
    * double-counted AND committed that way. (Mid-commit readers can see
    * a transiently partial artifact; the offline contract above already
    * excludes them.) */
  def sidecar(spark: SparkSession, dir: String,
      fold: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      conserve: org.apache.spark.sql.DataFrame => Seq[Long],
      maxRecordsPerFile: Long = 10000000L,
      compression: String = "snappy"): SidecarStats = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new Path(dir.stripSuffix("/") + ".compact-staging")
    val marker = new Path(dir.stripSuffix("/") + ".compact-commit")
    if (fs.exists(marker)) {
      // resume an interrupted commit: the staged fold was verified
      // before the marker existed; finish the (idempotent) deletes and
      // moves it describes
      val lines = {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      val targetGen = lines.head
      val origFiles = lines.collect { case s if s.startsWith("file:") =>
        s.stripPrefix("file:") }
      val dropGens = lines.collect { case s if s.startsWith("gen:") =>
        s.stripPrefix("gen:") }
      finishCommit(fs, root, staged, marker, targetGen, origFiles, dropGens)
      val rows = spark.read.parquet(new Path(root, targetGen).toString).count()
      return SidecarStats(dataFiles(fs, root).size.toLong,
        dataFiles(fs, root).size.toLong, rows, dropGens.size.toLong + 1)
    }
    val gens = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath).toSeq
    require(gens.nonEmpty,
      s"no batch= generations under $dir — not a signature sidecar " +
        "(lake compaction is `compact <dir> [cols...]`)")
    val before = dataFiles(fs, root).size.toLong
    val all = spark.read.parquet(dir)
    val dataCols = all.columns.filterNot(_ == "batch").toSeq
    val flat = all.select(dataCols.map(col): _*)
    val pre = conserve(flat)
    val targetId = gens.map(_.getName.stripPrefix("batch=").toLong).max
    val targetGen = s"batch=$targetId"
    fs.delete(staged, true) // stale staging from a pre-marker crash
    fold(flat)
      .write.mode(SaveMode.Overwrite)
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(staged.toString)
    val stagedDf = spark.read.parquet(staged.toString)
    val post = conserve(stagedDf)
    require(post == pre,
      s"sidecar compaction would lose data: staged $post != source $pre")
    val rows = stagedDf.count()
    // the point of no return: the marker names the target generation,
    // its ORIGINAL files (so resume can tell them from moved folded
    // files sharing the directory), and the generations to drop.
    // Written to a temp name and renamed — a crash mid-write leaves a
    // .tmp the next run ignores, never a half-readable marker.
    val origFiles = dataFiles(fs, new Path(root, targetGen)).map(_.getName)
    val dropGens = gens.map(_.getName).filter(_ != targetGen)
    val markerTmp = new Path(marker.toString + ".tmp")
    val outS = fs.create(markerTmp, true)
    try outS.write((targetGen +:
      (origFiles.map("file:" + _) ++ dropGens.map("gen:" + _)))
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally outS.close()
    require(fs.rename(markerTmp, marker), s"could not publish $marker")
    finishCommit(fs, root, staged, marker, targetGen, origFiles, dropGens)
    SidecarStats(before, dataFiles(fs, root).size.toLong, rows,
      gens.size.toLong)
  }

  /** The idempotent half of the sidecar commit (re-runnable from the
    * marker after a crash at any point): drop the superseded files and
    * generations, move the staged folded files into the target
    * generation, clear staging and the marker. */
  private def finishCommit(fs: FileSystem, root: Path, staged: Path,
      marker: Path, targetGen: String, origFiles: Seq[String],
      dropGens: Seq[String]): Unit = {
    val target = new Path(root, targetGen)
    origFiles.foreach(n => fs.delete(new Path(target, n), false))
    dropGens.foreach(g => fs.delete(new Path(root, g), true))
    fs.mkdirs(target)
    if (fs.exists(staged)) dataFiles(fs, staged).foreach { f =>
      require(fs.rename(f, new Path(target, f.getName)),
        s"commit failed moving $f into $target")
    }
    fs.delete(staged, true)
    fs.delete(marker, false)
  }
}
