package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything is a pure function of the
  * workload seed, so the same seed gives byte-identical inputs and the
  * engine only ever sees the files written here.
  *
  * Access-log lines follow the engine's LogGen fixture format (26 S3
  * server-access-log fields, `-` nulls, quoted and bracketed fields).
  * Documents follow ScaleGen's shape: a 31-word hot vocabulary, lengths
  * of 10..100 words, ~5% near duplicates, ~0.3% exact duplicates and one
  * viral exact-duplicate group at 1% of the corpus. Duplicate clusters
  * are stars around an original, and a near duplicate edits ~5% of its
  * original's words, so the dedup queries do the same kind of work on
  * every seed.
  */
object Gen {

  /** splitmix64 finalizer (Steele et al.; the JDK SplittableRandom mix). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic stream of draws from one 64-bit state. */
  final class Rng(seed: Long) {
    private var s = mix64(seed)
    def next(): Long = { s += 0x9e3779b97f4a7c15L; mix64(s) }
    def int(bound: Int): Int = Math.floorMod(next(), bound.toLong).toInt
    def double(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  }

  // ---- access logs ------------------------------------------------------

  private val Operations = Array(
    "REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.OBJECT",
    "REST.DELETE.OBJECT", "REST.POST.MULTI_OBJECT_DELETE",
    "REST.GET.BUCKET", "BATCH.DELETE.OBJECT")
  private val Statuses = Array("200", "200", "200", "206", "204", "403", "404", "500")
  private val ErrorFor = Map("403" -> "AccessDenied", "404" -> "NoSuchKey",
    "500" -> "InternalError")
  private val Agents = Array(
    "aws-sdk-java/2.20.0 Linux/5.10 OpenJDK_64-Bit_Server_VM/17",
    "aws-cli/2.13.0 Python/3.11.4 Linux/6.1 exe/x86_64",
    "Mozilla/5.0 (compatible; test agent with spaces)",
    "S3Console/0.4", "-")
  private val TimeFmt = DateTimeFormatter
    .ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.US)
    .withZone(ZoneOffset.UTC)

  /** Start of the generated day: 2023-11-14T00:00:00Z. */
  val DayStart: Long = 1699920000L

  /** Shares of a generated log population: redelivered duplicates,
    * lines with overflow fields, lines with an unparseable time. */
  val DupFrac = 0.10
  val ExtraFrac = 0.01
  val MalformedFrac = 0.0005

  /** What a log population contains — the counts the engine must
    * conserve. `validUnique` is what a correct dedup sink holds. */
  final case class LogCounts(lines: Long, duplicates: Long, malformed: Long,
      bytes: Long) {
    def validUnique: Long = lines - duplicates - malformed
    def +(o: LogCounts): LogCounts = LogCounts(lines + o.lines,
      duplicates + o.duplicates, malformed + o.malformed, bytes + o.bytes)
  }
  object LogCounts { val zero: LogCounts = LogCounts(0, 0, 0, 0) }

  private def logLine(rng: Rng, requestId: String, epochSec: Long,
      extra: Boolean): String = {
    val status = Statuses(rng.int(Statuses.length))
    val err = ErrorFor.getOrElse(status, "-")
    val key = f"data/part-${rng.int(1000)}%05d.bin"
    val bytesSent = rng.int(1 << 20).toLong
    val sb = new java.lang.StringBuilder(420)
    sb.append("79a59df900b949e55d96a1e698fbacedfd6e09d98eacf8f8d5218e7cd47ef2be ")
      .append("examplebucket [").append(TimeFmt.format(Instant.ofEpochSecond(epochSec)))
      .append("] 192.0.2.").append(rng.int(255)).append(' ')
      .append("arn:aws:iam::123456789012:user/tester ").append(requestId).append(' ')
      .append(Operations(rng.int(Operations.length))).append(' ').append(key)
      .append(" \"GET /").append(key).append(" HTTP/1.1\" ")
      .append(status).append(' ').append(err).append(' ').append(bytesSent)
      .append(' ').append(bytesSent + 17).append(" 42 12 \"-\" \"")
      .append(Agents(rng.int(Agents.length))).append("\" - ")
      .append("HOSTID0123456789abcdef/example= SigV4 ECDHE-RSA-AES128-GCM-SHA256 ")
      .append("AuthHeader examplebucket.s3.us-east-1.amazonaws.com TLSv1.2 - Yes")
    if (extra) sb.append(" extraA extraB")
    sb.toString
  }

  /** `n` distinct requests spread evenly over the 24 hours of [[DayStart]]
    * (request i falls in hour i mod 24), plus ~[[DupFrac]] redelivered
    * copies of earlier lines and ~[[MalformedFrac]] lines with an
    * unparseable time, shuffled. Request ids carry `tag`, so populations
    * with distinct tags never share an id. Duplicates are byte-identical
    * copies, so they share their original's dedup window. */
  def logLines(tag: String, n: Int, seed: Long): (Array[String], LogCounts) = {
    val rng = new Rng(seed)
    val out = new ArrayBuffer[String](n + (n * (DupFrac + 0.01)).toInt)
    var i = 0
    while (i < n) {
      val t = DayStart + (i % 24) * 3600L + rng.int(3600)
      out += logLine(rng, s"$tag-$i", t, rng.double() < ExtraFrac)
      i += 1
    }
    val base = out.length
    var dups = 0L
    var bad = 0L
    i = 0
    while (i < base) {
      if (rng.double() < DupFrac) { out += out(rng.int(base)); dups += 1 }
      if (rng.double() < MalformedFrac) {
        out += s"malformed $tag-$i [not-a-time] truncated"
        bad += 1
      }
      i += 1
    }
    // Fisher-Yates with the same stream: a fixed permutation per seed
    var k = out.length - 1
    while (k > 0) {
      val j = rng.int(k + 1)
      val tmp = out(k); out(k) = out(j); out(j) = tmp
      k -= 1
    }
    val bytes = out.iterator.map(_.length.toLong + 1).sum
    (out.toArray, LogCounts(out.length.toLong, dups, bad, bytes))
  }

  /** Write lines as one newline-terminated text file. */
  def writeLines(path: Path, lines: Array[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  // ---- documents (ScaleGen's shape, seeded) -----------------------------

  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String,
      source: String, nChars: Long)

  /** The corpus: a pure function of (seed, nDocs). A duplicate picks one
    * of the 500 docs before it, so pair density per doc does not depend
    * on corpus size, and copies or edits that doc's original: a copy is
    * never made of another copy or edit, so every duplicate
    * cluster is a star: its diameter, and with it the number of rounds
    * the connected-components scope iterates, does not depend on the
    * seed. */
  def documents(nDocs: Int, seed: Long): Array[Doc] = {
    val salt = mix64(seed ^ 0x5eed5eedL)
    def draw(id: Long, k: Long, bound: Int): Int =
      Math.floorMod(mix64(salt + id * 1000003L + k), bound.toLong).toInt
    def baseText(id: Long): Array[String] = {
      val n = 10 + draw(id, 0, 91)
      Array.tabulate(n)(i => Vocab(draw(id, 100 + i, Vocab.length)))
    }
    val viral = math.max(2L, nDocs / 100L)
    val texts = new Array[String](nDocs)
    // the original each document was made of (itself for an original)
    val origin = new Array[Int](nDocs)
    for (id <- 0 until nDocs) {
      origin(id) = if (id < viral) 0 else id
      def source(k: Long): Int = {
        val back = math.min(id - 1, 500)
        origin(id - 1 - draw(id, k, back))
      }
      val words: Array[String] =
        if (id < viral) baseText(0)
        else {
          val roll = draw(id, 1, 1000)
          if (roll < 3) { origin(id) = source(2); texts(origin(id)).split(" ") }
          else if (roll < 53) {
            origin(id) = source(3)
            // ~5% of the words replaced, at least one: an edit stays
            // close enough to its original that LSH pairs the two on
            // nearly every seed
            val w = texts(origin(id)).split(" ")
            val edited = w.indices.filter(i => draw(id, 200 + i, 20) == 0)
            (if (edited.isEmpty) Seq(draw(id, 400, w.length)) else edited).foreach { i =>
              w(i) = Vocab(draw(id, 300 + i, Vocab.length))
            }
            w
          } else baseText(id)
        }
      texts(id) = words.mkString(" ")
    }
    Array.tabulate(nDocs) { id =>
      Doc(id.toLong, texts(id), Langs(draw(id, 4, Langs.length)),
        s"src${draw(id, 5, 20)}", texts(id).length.toLong)
    }
  }
}
