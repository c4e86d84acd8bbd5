package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("log lines: same seed, same bytes; another seed, other bytes") {
    val (a, ca) = Gen.logLines("t0", 2000, 7L)
    val (b, cb) = Gen.logLines("t0", 2000, 7L)
    val (c, _) = Gen.logLines("t0", 2000, 8L)
    assert(a.sameElements(b) && ca == cb)
    assert(!a.sameElements(c))
  }

  test("log lines: counts match the content") {
    val (lines, c) = Gen.logLines("t1", 5000, 3L)
    assert(c.lines == lines.length)
    assert(c.bytes == lines.map(_.length + 1L).sum)
    val bad = lines.count(_.startsWith("malformed "))
    assert(c.malformed == bad)
    val good = lines.filterNot(_.startsWith("malformed "))
    // a duplicate is a byte-identical redelivery of an earlier line
    assert(good.length - good.distinct.length == c.duplicates)
    assert(good.distinct.length == 5000 && c.validUnique == 5000)
    assert(c.duplicates > 350 && c.duplicates < 650)        // ~10%
    val overflow = good.distinct.count(_.endsWith(" extraA extraB"))
    assert(overflow > 20 && overflow < 90)                   // ~1%
    val hours = good.map(l => l.substring(l.indexOf('[') + 13, l.indexOf('[') + 15)).toSet
    assert(hours.size == 24)
  }

  test("documents: deterministic per seed, ScaleGen's shape") {
    val a = Gen.documents(1000, 5L)
    assert(a.sameElements(Gen.documents(1000, 5L)))
    assert(!a.sameElements(Gen.documents(1000, 6L)))
    assert(a.map(_.docId).toSeq == (0L until 1000L))
    // the viral exact-duplicate group: the first 1% share one text
    assert(a.take(10).map(_.text).distinct.length == 1)
    assert(a.forall(d => d.nChars == d.text.length))
    val words = a.map(_.text.split(" ").length)
    assert(words.min >= 10 && words.max <= 100)
    // exact duplicates beyond the viral group exist, but are rare (~0.3%)
    val b = Gen.documents(5000, 5L)
    val dupTexts = b.drop(50).groupBy(_.text).count(_._2.length > 1)
    assert(dupTexts > 0 && dupTexts < 60)
  }
}
