package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** The session memo of collapsed MinHash rep spaces is bounded: a caller
  * that dedups one new corpus per call (a crawl shard) keeps at most 16,
  * and a wider signature request still replaces a narrower entry. */
class RepSpaceMemoSpec extends AnyFunSuite with SharedSpark {

  private def corpus(i: Int) = {
    import spark.implicits._
    Seq((1L, s"shard $i alpha beta gamma delta"), (2L, s"shard $i alpha beta gamma delta"),
      (3L, s"other $i words here"))
      .toDF("doc_id", "text")
  }

  private def dedup(i: Int, numHashes: Int): Unit =
    Dedup.minHashDupPairs(corpus(i), "doc_id", "text", shingleLen = 3,
      numHashes = numHashes, bands = 2, jaccardThreshold = 0.5).unpersist()

  test("17 distinct corpora leave at most 16 rep spaces") {
    for (i <- 1 to 17) dedup(i, 8)
    assert(Dedup.repSpaceWidths.size <= 16)
  }

  test("a wider request replaces a narrower entry; a narrower one reuses it") {
    dedup(100, 8)
    val n = Dedup.repSpaceWidths.size
    assert(Dedup.repSpaceWidths.last == 8)
    dedup(100, 16)
    assert(Dedup.repSpaceWidths.size == n && Dedup.repSpaceWidths.last == 16)
    dedup(100, 8)
    assert(Dedup.repSpaceWidths.size == n && Dedup.repSpaceWidths.last == 16)
  }
}
