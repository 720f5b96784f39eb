package graft

import graft.operators.{AsOfJoin, Dedup, MergeOps, Resample}
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SharedSpark {
  import java.sql.Date.{valueOf => d}

  test("F1/F2 merge combinators: null/conflict matrix") {
    import spark.implicits._
    val df = Seq(
      (Some(10.0), Some(12.0)), // both
      (Some(10.0), None), // left only
      (None, Some(12.0)), // right only
      (Option.empty[Double], Option.empty[Double])) // neither
      .toDF("l", "r")
    val got = df.select(
      MergeOps.preferLeft($"l", $"r").as("pl"),
      MergeOps.preferRight($"l", $"r").as("pr"),
      MergeOps.meanValue($"l", $"r").as("mv"),
      MergeOps.conflictFlag($"l", $"r", tol = 0.01).as("cf"),
      MergeOps.provenance($"l", $"r").as("prov")).collect()
    assert(got(0).getDouble(0) == 10.0 && got(0).getDouble(1) == 12.0)
    assert(got(0).getDouble(2) == 11.0 && got(0).getBoolean(3))
    assert(got(0).getString(4) == "both")
    assert(got(1).getDouble(2) == 10.0 && !got(1).getBoolean(3))
    assert(got(1).getString(4) == "left_only")
    assert(got(2).getDouble(2) == 12.0 && got(2).getString(4) == "right_only")
    assert(got(3).isNullAt(2))
  }

  test("mean_value tolerance: within-epsilon pair is not a conflict") {
    import spark.implicits._
    val got = Seq((Some(100.0), Some(100.5)), (Some(100.0), Some(102.0)))
      .toDF("l", "r")
      .select(MergeOps.conflictFlag($"l", $"r", tol = 0.01).as("cf"))
      .collect().map(_.getBoolean(0))
    assert(got.toSeq == Seq(false, true))
  }

  test("as-of backward join picks latest state at-or-before each row") {
    import spark.implicits._
    val left = Seq(("k", 5), ("k", 10), ("k", 20), ("x", 7))
      .toDF("key", "t")
    val right = Seq(("k", 5, "r5"), ("k", 9, "r9"), ("k", 15, "r15"))
      .toDF("key", "rt", "v")
    val got = AsOfJoin.asofBackward(left, right, Seq("key"), "t", "rt", Seq("v"))
      .orderBy("key", "t").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(
      ("k", 5, Some("r5")), // equal timestamp: state visible same day
      ("k", 10, Some("r9")),
      ("k", 20, Some("r15")),
      ("x", 7, None))) // no state for this key
  }

  test("as-of join carries a row-consistent snapshot when the latest right row has nulls") {
    import spark.implicits._
    val left = Seq(("k", 10)).toDF("key", "t")
    // latest matching right row (rt=9) has a null in `b`: the join must
    // NOT backfill b from the older rt=5 row — all values from one row.
    val right = Seq(("k", 5, Some("a5"), Some("b5")), ("k", 9, Some("a9"), None))
      .toDF("key", "rt", "a", "b")
    val got = AsOfJoin.asofBackward(left, right, Seq("key"), "t", "rt", Seq("a", "b"))
      .collect().map(r => (Option(r.getString(2)), Option(r.getString(3))))
    assert(got.toSeq == Seq((Some("a9"), None)))
  }

  test("interval flag marks rows inside any [start,end] of their key") {
    import spark.implicits._
    val rows = Seq(("a", d("2021-01-05")), ("a", d("2021-02-01")), ("b", d("2021-01-05")))
      .toDF("k", "dt")
    val iv = Seq(("a", d("2021-01-01"), d("2021-01-10")),
      ("a", d("2021-01-04"), d("2021-01-06"))) // overlapping — no dup rows
      .toDF("k", "s", "e")
    val got = AsOfJoin.flagInIntervals(rows, iv, Seq("k"), "dt", "s", "e", "flag")
      .orderBy("k", "dt").collect().map(r => (r.getString(0), r.getInt(2)))
    assert(got.toSeq == Seq(("a", 1), ("a", 0), ("b", 0)))
  }

  test("tick→bar OHLCV: open/close by sequence, not by price") {
    import spark.implicits._
    val ticks = Seq(
      // out-of-order sequence within the minute
      ("s1", "2021-01-01 09:30:05", 3, 101.0, 5.0),
      ("s1", "2021-01-01 09:30:10", 1, 99.0, 10.0),
      ("s1", "2021-01-01 09:30:20", 2, 105.0, 2.0),
      ("s1", "2021-01-01 09:31:02", 4, 98.0, 1.0))
      .toDF("code", "ts_s", "seq", "price", "vol")
      .withColumn("ts", to_timestamp($"ts_s"))
    val got = Resample.ticksToBars(ticks, Seq("code"), "ts", "seq", "price", "vol", "1 minute")
      .orderBy("bar_start").collect()
    val b0 = got(0)
    assert(b0.getDouble(2) == 99.0) // open = price at min seq
    assert(b0.getDouble(3) == 105.0) // high
    assert(b0.getDouble(4) == 99.0) // low
    assert(b0.getDouble(5) == 101.0) // close = price at max seq
    assert(b0.getDouble(6) == 17.0) // volume
    assert(got.length == 2)
  }

  test("exact dedup keeps the lowest id per normalized content") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different doc"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 3L)) // 2 is a near-exact dup of 1
  }

  test("minhash LSH surfaces planted near-duplicates") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    val docs = (Seq((1L, base), (2L, nearDup)) ++
      (3L to 30L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
      shingleLen = 4, numHashes = 16, bands = 8, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.length < 10) // and not everything pairs with everything
  }

  test("minhash identity collapse: copy cohorts emit all pairs and never blow the cap") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    // 30 byte-identical copies of `base` (a verbatim-replication cohort:
    // pre-collapse their buckets of size ≥30 were DROPPED by a cap of 5
    // and every true jaccard-1.0 pair silently vanished), 2 copies of a
    // near-dup, and unique noise docs
    val docs = ((1L to 30L).map(i => (i, base)) ++
      Seq((41L, nearDup), (42L, nearDup)) ++
      (50L to 70L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleLen = 4, numHashes = 16, bands = 8, jaccardThreshold = 0.5,
        maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val within = pairs.filter { case (a, b, _) => a <= 30 && b <= 30 }
    assert(within.length == 30 * 29 / 2,
      s"expected all same-text pairs, got ${within.length}")
    assert(within.forall(_._3 == 1.0))
    assert(pairs.contains((41L, 42L, 1.0)))
    // cross-cohort near-dup pairs: every (copy of base, copy of nearDup)
    // inherits the reps' verified jaccard — 30×2 pairs, one jaccard value
    val cross = pairs.filter { case (a, b, _) => a <= 30 && (b == 41L || b == 42L) }
    assert(cross.length == 60, s"expected 60 cross-cohort pairs, got ${cross.length}")
    assert(cross.map(_._3).distinct.length == 1 && cross.head._3 >= 0.5)
    // noise docs stay unpaired
    assert(!pairs.exists { case (a, b, _) => a >= 50 || b >= 50 })
  }

  test("auto LSH shape: analytic bands reach the recall target at the threshold") {
    // b(r) = ceil(ln(1-R)/ln(1-τ^r)); the largest r fitting maxBands wins
    assert(Dedup.lshAutoShape(0.4, 0.99, 64) == (2, 27))
    for (tau <- Seq(0.3, 0.4, 0.6, 0.8); target <- Seq(0.95, 0.99)) {
      val (r, b) = Dedup.lshAutoShape(tau, target, 64)
      assert(b <= 64 && r >= 1)
      val recallAtTau = 1.0 - math.pow(1.0 - math.pow(tau, r), b)
      assert(recallAtTau >= target,
        s"tau=$tau target=$target shape=($r,$b) recall-at-threshold=$recallAtTau")
    }
  }

  test("auto LSH pairs: derived operating point still surfaces planted near-dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    // a degenerate cohort (identical boilerplate) plus unique docs: the
    // gap rule must keep the small true-dup bucket
    val docs = (Seq((1L, base), (2L, nearDup)) ++
      (3L to 40L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashDupPairsAuto(docs, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.length < 10)
  }

  test("minHashDupPairsMulti: each setting equals its standalone pipeline") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    val docs = (Seq((1L, base), (2L, nearDup), (3L, base)) ++
      (10L to 40L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).toSet
    // one shared collapse + 64-wide signature pass, two prefix settings
    val multi = Dedup.minHashDupPairsMulti(docs, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5,
      Seq(("a", 16, 8, Left(100)), ("b", 64, 32, Left(1000))))
    // the Kirsch–Mitzenmacher prefix property makes each setting
    // bit-identical to a standalone pipeline computed at its own width
    val directA = Dedup.minHashDupPairs(docs, "doc_id", "text",
      shingleLen = 4, numHashes = 16, bands = 8, jaccardThreshold = 0.5,
      maxBucketSize = 100)
    val directB = Dedup.minHashDupPairs(docs, "doc_id", "text",
      shingleLen = 4, numHashes = 64, bands = 32, jaccardThreshold = 0.5,
      maxBucketSize = 1000)
    assert(rows(multi("a")) == rows(directA))
    assert(rows(multi("b")) == rows(directB))
    assert(rows(multi("b")).contains((1L, 2L, rows(directB).find(t => t._1 == 1L && t._2 == 2L).get._3)))
  }

  test("minHashDupPairsMulti: duplicate labels fail loudly") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minHashDupPairsMulti(docs, "doc_id", "text",
        shingleLen = 4, jaccardThreshold = 0.5,
        Seq(("a", 16, 8, Left(100)), ("a", 64, 32, Left(1000))))
    }
  }

  test("budgeted LSH shape: within budget = ladder head, over budget = ladder tail") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today")
    val docs = (Seq((1L, base), (2L, nearDup)) ++
      (10L to 60L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).toSet
    // a generous budget keeps the R=0.99 head shape — bit-identical to
    // the plain auto pipeline
    val head = Dedup.minHashDupPairsBudgeted(docs, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5,
      budgetPairsPerRep = 1000000L)
    assert(rows(head) == rows(Dedup.minHashDupPairsAuto(docs, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5)))
    // a zero budget exhausts the ladder AND the tier-3 budget cap
    // collapses to 1: no bucket may pair, only identity-collapse
    // same-text pairs survive — the HARD mass bound at its floor
    val docsWithCopy = docs.unionByName(
      Seq((3L, base)).toDF("doc_id", "text"))
    val floor = Dedup.minHashDupPairsBudgeted(docsWithCopy, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5, budgetPairsPerRep = 0L)
    assert(rows(floor) == Set((1L, 3L, 1e6)),
      s"zero budget must keep identity pairs only, got ${rows(floor)}")
    // tier-2 (ladder-tail within budget) decision coverage lives in the
    // oracled dd_minhash_budget_mid query — a unit corpus cannot
    // separate the shapes' masses robustly
    // ladder must be highest-recall first
    intercept[IllegalArgumentException] {
      Dedup.minHashDupPairsBudgeted(docs, "doc_id", "text",
        shingleLen = 4, jaccardThreshold = 0.5, recallLadder = Seq(0.95, 0.99))
    }
  }

  test("fused bucket tail is bit-identical to the classic staged tail") {
    import spark.implicits._
    // Mixed corpus: a verbatim cohort, near-dup mutations at graded
    // similarity (some above and some below τ), and unique noise — the
    // shapes that exercise collapse fan-out, est pruning, and verify.
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight to sleep"
    val words = base.split(" ")
    val mutated = (0 until 8).map { k =>
      words.zipWithIndex.map { case (w, i) =>
        if (i % 8 < k) s"mut$k$i" else w }.mkString(" ")
    }
    val corpus = (1L to 5L).map(i => (i, base)) ++
      mutated.zipWithIndex.map { case (t, k) => (10L + k, t) } ++
      (30L to 60L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    def pairs(docs: org.apache.spark.sql.DataFrame) =
      rows(Dedup.minHashDupPairs(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 8, jaccardThreshold = 0.35,
        maxBucketSize = 50))
    // Long ids take the broadcast rep lookup (fused tail); the same
    // corpus keyed by Int ids has no lookup and runs the staged tail.
    val fused = pairs(corpus.toDF("doc_id", "text"))
    val staged = pairs(corpus.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text"))
    assert(fused.nonEmpty && fused == staged,
      s"fused=${fused.size} staged=${staged.size} " +
        s"diff=${(fused diff staged) ++ (staged diff fused)}")
  }

  /** Collected rows of a [[Dedup.minHashSigTable]]: (id, sig, shingles). */
  private type SigRow = (Long, Array[Long], Array[Long])

  private def sigRows(sigs: org.apache.spark.sql.DataFrame): Seq[SigRow] =
    sigs.collect().toSeq.map(r => (r.getAs[Number](0).longValue,
      r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray))

  private def pairBits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet

  /** Set equality that reports only the differing pairs. */
  private def assertSamePairs(label: String, got: Set[(Long, Long, Long)],
      want: Set[(Long, Long, Long)]): Unit = {
    assert(want.nonEmpty, s"$label: no pair expected")
    val diff = (got diff want) ++ (want diff got)
    if (diff.nonEmpty)
      fail(s"$label: got ${got.size}, want ${want.size}, differing $diff")
  }

  private def eqCount(a: Array[Long], b: Array[Long], n: Int): Int =
    (0 until n).count(k => a(k) == b(k))

  private def setJaccard(a: Array[Long], b: Array[Long]): Double = {
    val inter = (a.toSet & b.toSet).size
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Plain-Scala reference of minHashPairsWithinSigs (`batch` None) and
    * minHashPairsBetweenSigs: a pair is expected when it shares a band
    * of the first `numHashes` components whose index-side bucket holds
    * at most `cap` ids, its est over that prefix is ≥ τ − 0.25, and its
    * jaccard is ≥ τ. Between pairs keep the max jaccard per unordered
    * pair. Band keys are the slices themselves, not their hash. */
  private def bruteSigPairs(index: Seq[SigRow], batch: Option[Seq[SigRow]],
      numHashes: Int, bands: Int, tau: Double,
      cap: Int = Int.MaxValue): Set[(Long, Long, Long)] = {
    val r = numHashes / bands
    def keys(s: SigRow) =
      (0 until bands).map(k => (k, s._2.slice(k * r, k * r + r).toSeq)).toSet
    val sizes = index.flatMap(keys).groupBy(identity).map { case (k, v) => k -> v.size }
    val idx = index.map(s => s -> keys(s).filter(sizes(_) <= cap))
    val left = batch.fold(idx)(_.map(s => s -> keys(s)))
    val cutoff = math.max(0.0, tau - 0.25)
    val hits = for {
      (x, kx) <- left
      (y, ky) <- idx
      if (if (batch.isEmpty) x._1 < y._1 else x._1 != y._1) && (kx & ky).nonEmpty
      if eqCount(x._2, y._2, numHashes).toDouble / numHashes >= cutoff
      j = setJaccard(x._3, y._3) if j >= tau
    } yield (math.min(x._1, y._1), math.max(x._1, y._1), j)
    hits.groupBy(h => (h._1, h._2)).map { case ((a, b), v) =>
      (a, b, java.lang.Double.doubleToLongBits(v.map(_._3).max)) }.toSet
  }

  test("MinHash pair operators: lookup and staged verify agree; sig-table pairs equal brute force") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight to sleep"
    val words = base.split(" ")
    val mutated = (0 until 8).map { k =>
      words.zipWithIndex.map { case (w, i) =>
        if (i % 8 < k) s"mut$k$i" else w }.mkString(" ")
    }
    val noise = (30L to 60L).map(i =>
      (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j"))
    val corpus = (1L to 5L).map(i => (i, base)) ++
      mutated.zipWithIndex.map { case (t, k) => (10L + k, t) } ++ noise
    // the index holds base copies, the even mutants and the low noise; the
    // batch holds the other copies and mutants, fresh noise, and a noise
    // near-dup of an index doc
    val (idxRows, batchRows0) = corpus.partition { case (i, _) =>
      i <= 3L || (i >= 10L && i < 18L && i % 2 == 0) || (i >= 30L && i < 45L) }
    val batchRows = batchRows0 :+ ((99L, noise.head._2.replace("kh30j", "kh99j")))
    // Long ids take the broadcast lookups (fused tail / probe verify); the
    // same rows keyed by Int ids have none and run the staged verify.
    def keyed(rows: Seq[(Long, String)], long: Boolean) =
      if (long) rows.toDF("doc_id", "text")
      else rows.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text")
    def both(label: String)(run: Boolean => org.apache.spark.sql.DataFrame) = {
      val l = pairBits(run(true))
      assertSamePairs(s"$label int vs long ids", pairBits(run(false)), l)
      l
    }
    both("minHashDupPairs") { long =>
      Dedup.minHashDupPairs(keyed(corpus, long), "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 8, jaccardThreshold = 0.35,
        maxBucketSize = 50)
    }
    both("minHashDupAgainstIndex") { long =>
      Dedup.minHashDupAgainstIndex(keyed(idxRows, long), keyed(batchRows, long),
        "doc_id", "text", shingleLen = 3, numHashes = 16, bands = 8,
        jaccardThreshold = 0.35, maxBucketSize = 50)
    }
    both("minHashDupAgainstIndexAuto") { long =>
      Dedup.minHashDupAgainstIndexAuto(keyed(idxRows, long), keyed(batchRows, long),
        "doc_id", "text", shingleLen = 3, jaccardThreshold = 0.5)
    }
    def sigs(rows: Seq[(Long, String)], long: Boolean) =
      Dedup.minHashSigTable(keyed(rows, long), "doc_id", "text", 3, 16)
    val corpusSigs = sigRows(sigs(corpus, long = true))
    // cap 3 drops every bucket of the five verbatim copies
    for (cap <- Seq(Int.MaxValue, 3)) {
      val got = both(s"minHashPairsWithinSigs cap=$cap") { long =>
        Dedup.minHashPairsWithinSigs(sigs(corpus, long), "doc_id",
          numHashes = 16, bands = 8, jaccardThreshold = 0.35, maxBucketSize = cap)
      }
      assertSamePairs(s"within cap=$cap vs brute force", got,
        bruteSigPairs(corpusSigs, None, 16, 8, 0.35, cap))
    }
    val got = both("minHashPairsBetweenSigs") { long =>
      Dedup.minHashPairsBetweenSigs(sigs(batchRows, long), sigs(idxRows, long),
        "doc_id", numHashes = 16, bands = 8, jaccardThreshold = 0.35)
    }
    assertSamePairs("between vs brute force", got,
      bruteSigPairs(sigRows(sigs(idxRows, long = true)),
        Some(sigRows(sigs(batchRows, long = true))), 16, 8, 0.35))
  }

  test("sig-table verify estimates over the numHashes prefix of a wider signature") {
    import spark.implicits._
    // 100 random 60-word bases, each with four mutants that replace 7
    // non-adjacent words: jaccard ≈ 0.71 against the base, just above
    // τ = 0.7, so the 16-component est often lands on either side of the
    // cutoff τ − 0.25 while the 32-wide table's extra components would
    // push an eq/16 count over it.
    val rnd = new scala.util.Random(7)
    def word() = Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString
    val bases = (1 to 100).map(i => (i * 10L, Array.fill(60)(word())))
    val mutants = bases.flatMap { case (id, ws) =>
      (1 to 4).map { m =>
        val at = rnd.shuffle((0 until 30).map(_ * 2)).take(7).toSet
        (id + m, ws.indices.map(i => if (at(i)) word() else ws(i)).mkString(" "))
      }
    }
    val baseRows = bases.map { case (id, ws) => (id, ws.mkString(" ")) }
    val tau = 0.7
    def sigs(rows: Seq[(Long, String)], long: Boolean) = Dedup.minHashSigTable(
      if (long) rows.toDF("doc_id", "text")
      else rows.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text"),
      "doc_id", "text", 5, 32)
    val all = sigRows(sigs(baseRows ++ mutants, long = true))
    // the corpus must hold a pair the full-width count would pass: it
    // shares a prefix band and verifies, its prefix est is under the
    // cutoff, yet eq over all 32 components / 16 reaches it
    val cutoff = tau - 0.25
    val drift = for {
      x <- all; y <- all if x._1 < y._1
      e16 = eqCount(x._2, y._2, 16) if e16 > 0 && e16.toDouble / 16 < cutoff
      if eqCount(x._2, y._2, 32).toDouble / 16 >= cutoff
      if setJaccard(x._3, y._3) >= tau
    } yield (x._1, y._1)
    assert(drift.nonEmpty, "corpus plants no pair on the estimate-width edge")
    def within(long: Boolean) = pairBits(Dedup.minHashPairsWithinSigs(
      sigs(baseRows ++ mutants, long), "doc_id", numHashes = 16, bands = 16,
      jaccardThreshold = tau))
    val want = bruteSigPairs(all, None, 16, 16, tau)
    assertSamePairs("within, long ids", within(true), want)
    assertSamePairs("within, int ids", within(false), want)
    def between(long: Boolean) = pairBits(Dedup.minHashPairsBetweenSigs(
      sigs(mutants, long), sigs(baseRows, long), "doc_id", numHashes = 16,
      bands = 16, jaccardThreshold = tau))
    val wantB = bruteSigPairs(sigRows(sigs(baseRows, long = true)),
      Some(sigRows(sigs(mutants, long = true))), 16, 16, tau)
    assertSamePairs("between, long ids", between(true), wantB)
    assertSamePairs("between, int ids", between(false), wantB)
  }

  test("PPJoin and containment pairs are bit-identical to a brute-force reference") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val words = base.split(" ")
    val mutated = (0 until 10).map { k =>
      words.zipWithIndex.map { case (w, i) =>
        if (i % 10 < k) s"mm$k$i" else w }.mkString(" ")
    }
    // a short doc embedded in a longer one (containment shape) + noise
    val corpus = (1L to 4L).map(i => (i, base)) ++
      mutated.zipWithIndex.map { case (t, k) => (10L + k, t) } ++
      Seq((30L, words.take(6).mkString(" ")),
        (31L, base + " extra tail words here now")) ++
      (40L to 70L).map(i =>
        (i, s"aa${i}x bb${i}y cc${i}z dd${i}w ee${i}v ff${i}u gg${i}t"))
    // Reference: word 2-gram sets in plain Scala, every pair scored.
    val sets = corpus.map { case (i, t) =>
      i -> t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(2).map(_.mkString(" ")).toSet
    }
    def bits(a: Long, b: Long, v: Double) =
      (a, b, java.lang.Double.doubleToLongBits(v))
    def bruteJaccard(tau: Double) = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= tau
    } yield bits(a, b, j)).toSet
    def bruteContainment(tau: Double) = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b && sa.size <= sb.size
      c = (sa & sb).size.toDouble / sa.size if c >= tau
    } yield bits(a, b, c)).toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => bits(r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getDouble(2))).toSet
    // Long ids verify through the broadcast SetsLookup; Int ids have no
    // lookup, so the same corpus verifies through the join form
    // (jaccardOfSets / array_intersect).
    val keyings = Seq(
      "long ids" -> corpus.toDF("doc_id", "text"),
      "int ids" -> corpus.map { case (i, t) => (i.toInt, t) }.toDF("doc_id", "text"))
    for (tau <- Seq(0.3, 0.5); (keying, docs) <- keyings) {
      val wantJ = bruteJaccard(tau)
      val wantC = bruteContainment(tau)
      val gotJ = rows(Dedup.prefixFilterPairs(docs, "doc_id", "text", 2, tau))
      val gotC = rows(Dedup.containmentPairs(docs, "doc_id", "text", 2, tau))
      assert(wantJ.nonEmpty && gotJ == wantJ,
        s"tau=$tau $keying jaccard diff=${(gotJ diff wantJ) ++ (wantJ diff gotJ)}")
      assert(wantC.nonEmpty && gotC == wantC,
        s"tau=$tau $keying containment diff=${(gotC diff wantC) ++ (wantC diff gotC)}")
    }
  }

  test("autoBucketCap: qualified knee cuts at it; knee-less falls back to absolute gap") {
    import spark.implicits._
    def banded(sizes: Seq[Int]): org.apache.spark.sql.DataFrame =
      sizes.zipWithIndex.flatMap { case (n, b) =>
        (0 until n).map(i => (0, s"bucket$b", i))
      }.toDF("band", "band_hash", "member").select(col("band"), col("band_hash"))
    // 30 -> 100 is a 3.3x qualified knee: cut there
    assert(Dedup.autoBucketCap(banded((16 to 30) :+ 100), 16, 1.5) == 30)
    // dense 16..40: no ratio reaches 1.5; the r14 interim rule would cut
    // at the SMALLEST size (max ratio 17/16) — the fallback cuts at the
    // largest absolute gap instead (all gaps 1, ties -> larger n = 39)
    assert(Dedup.autoBucketCap(banded(16 to 40), 16, 1.5) == 39)
    // no gap rows at all (every size < minOutlierBucket): keep everything
    assert(Dedup.autoBucketCap(banded(Seq(2, 3, 5)), 16, 1.5) == 5)
  }

  test("minHashPairsBetweenSigs: an id on both sides stays well-defined") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val idx = Seq((1L, base), (2L, "totally unrelated filler content here"))
      .toDF("doc_id", "text")
    // id 1 appears on BOTH sides (a caller bug the old union-based verify
    // silently corrupted): per-side joins now yield exactly the
    // batch-row x index-row pairs, no fan-out, no self pair
    val batch = Seq((1L, base.replace("tonight", "today")),
      (9L, base.replace("tonight", "today")))
      .toDF("doc_id", "text")
    val idxSigs = Dedup.minHashSigTable(idx, "doc_id", "text", 4, 16)
    val batchSigs = Dedup.minHashSigTable(batch, "doc_id", "text", 4, 16)
    val all = Dedup.minHashPairsBetweenSigs(batchSigs, idxSigs, "doc_id",
      numHashes = 16, bands = 8, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // batch 9 x index 1 is the one true cross pair; batch 1 x index 1
    // is the equal-id candidate (dropped), and nothing may fan out
    assert(all.toSet == Set((1L, 9L)), s"got ${all.toSeq}")
    assert(all.length == 1, "per-side verify joins must not duplicate pairs")
    // BOTH ids on both sides: the pair matches in both orientations
    // (batch 1 x index 9 AND batch 9 x index 1) and must still emit ONE
    // canonical row — with the MAX jaccard when the orientations verify
    // different texts (here index 9's text is a further-mutated copy,
    // so the two orientations' jaccards differ)
    val idx2 = Seq((1L, base),
      (9L, base.replace("tonight", "today").replace("lazy", "idle")))
      .toDF("doc_id", "text")
    val idx2Sigs = Dedup.minHashSigTable(idx2, "doc_id", "text", 4, 16)
    val both = Dedup.minHashPairsBetweenSigs(batchSigs, idx2Sigs, "doc_id",
      numHashes = 16, bands = 8, jaccardThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(both.count { case (a, b, _) => (a, b) == (1L, 9L) } <= 1,
      s"overlapping-id pair emitted in both orientations: ${both.toSeq}")
  }

  test("minHashDupAgainstIndexAuto: derived point finds the planted batch dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val index = (Seq((1L, base)) ++
      (10L to 40L).map(i =>
        (i, s"zq${i}a xv${i}b mn${i}c pq${i}d rs${i}e tu${i}f wy${i}g kh${i}j")))
      .toDF("doc_id", "text")
    val batch = Seq((100L, base.replace("tonight", "today")),
      (101L, "totally fresh unseen content with none of the corpus phrasing"))
      .toDF("doc_id", "text")
    val got = Dedup.minHashDupAgainstIndexAuto(index, batch, "doc_id", "text",
      shingleLen = 4, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 1L)))
    assert(!got.exists(_._1 == 101L))
  }

  test("simhash of near-identical docs differs in few bits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val h = Dedup.simHash(docs, "text").orderBy("doc_id")
      .collect().map(_.getAs[Long]("simhash"))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(0), h(1)) < hamming(h(0), h(2)))
  }

  test("simhash banded pairs: recall is exact when maxHamming < bands") {
    import spark.implicits._
    // hamming ≤ bands-1 pigeonholes at least one identical 15-bit band,
    // so every such pair MUST be surfaced regardless of hashing luck.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa mu"),
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(docs, "text").orderBy("doc_id")
      .collect().map(_.getAs[Long]("simhash"))
    val h12 = java.lang.Long.bitCount(sigs(0) ^ sigs(1))
    val pairs = Dedup.simHashDupPairs(docs, "doc_id", "text",
      maxHamming = math.max(h12, 3), bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    if (h12 <= 3) // guaranteed band collision → guaranteed recall
      assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
    // reported hamming must equal the true signature distance
    pairs.filter(p => p._1 == 1L && p._2 == 2L)
      .foreach(p => assert(p._3 == h12))
    assert(!pairs.exists(p => p._2 == 3L && p._3 > 20))
  }

  test("ivf search equals brute force when every cell is probed") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() - 0.5))).toDF("vec_id", "v")
    val centroids = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("cent_id"), $"v".as("cv"))
    val queries = vecs.filter($"vec_id" < 5)
    val brute = graft.operators.Similarity.bruteForceTopK(
      queries, vecs, "vec_id", "v", "vec_id", "v", k = 3, rankRound = Some(9))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val ivfAll = graft.operators.Similarity.ivfSearch(
      queries, vecs, "vec_id", "v", "vec_id", "v",
      centroids, "cent_id", "cv", nprobe = 4, k = 3, rankRound = Some(9))
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(ivfAll == brute) // probing all cells = exhaustive search
    val ivf1 = graft.operators.Similarity.ivfSearch(
      queries, vecs, "vec_id", "v", "vec_id", "v",
      centroids, "cent_id", "cv", nprobe = 1, k = 3, rankRound = Some(9))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // nprobe=1 returns a subset universe: every neighbor lives in the
    // query's own nearest cell
    assert(ivf1.nonEmpty && ivf1.size <= brute.size)
  }

  test("pq: seed vectors encode to themselves with zero reconstruction error") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() - 0.5).toSeq)).toDF("vec_id", "v")
    val cb = graft.operators.Similarity.pqTrain(vecs, "vec_id", "v",
      dim = 8, m = 2, kSub = 4)
    assert(cb.count() == 8) // m * kSub codebook rows
    val enc = graft.operators.Similarity.pqEncode(vecs, "vec_id", "v", cb, m = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(enc.length == 60) // 30 vectors * 2 subspaces
    // A seed's subvectors ARE centroids: it must pick itself, err 0.
    for ((id, _, code, err) <- enc if id < 4) {
      assert(code == id, s"seed $id coded to $code")
      assert(err == 0.0, s"seed $id err $err")
    }
    // Non-seed codes come from the codebook; error is non-negative.
    assert(enc.forall { case (_, _, code, err) => code < 4 && err >= 0.0 })
  }

  test("pq ADC search is exact when every vector is its own centroid") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 25
    val data = (0L until n.toLong).map(i => (i, Array.fill(8)(rnd.nextDouble() - 0.5).toSeq))
    val vecs = data.toDF("vec_id", "v")
    // m=1, kSub=n: the codebook IS the corpus, every vector codes to
    // itself, and the ADC distance degenerates to exact L2².
    val cb = graft.operators.Similarity.pqTrain(vecs, "vec_id", "v", dim = 8, m = 1, kSub = n)
    val codes = graft.operators.Similarity.pqEncode(vecs, "vec_id", "v", cb, m = 1)
      .select($"vec_id", $"sub_id", $"code")
    val got = graft.operators.Similarity.pqSearch(
      vecs.filter($"vec_id" < 5), "vec_id", "v", codes, "vec_id", cb, m = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    def l2sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = (for (q <- data.take(5)) yield {
      data.filter(_._1 != q._1)
        .sortBy(c => (l2sq(q._2, c._2), c._1)).take(3).zipWithIndex
        .map { case (c, i) => (q._1, i + 1, c._1) }
    }).flatten.toSet
    assert(got == expect)
  }

  test("count-min sketch never undercounts and is exact when wide enough") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (1 to 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30) + 1)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val probes = vocab.toDF("token")
    val exact: Map[String, Long] = docs
      .select(explode(graft.functions.TextFunctions.tokens(lower($"text"))).as("t"))
      .groupBy($"t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Narrow sketch: estimates must dominate the true counts (CMS
    // one-sided error), never undercount.
    val narrow = graft.operators.CorpusStats.cmsSketch(docs, "text", depth = 2, width = 16)
    graft.operators.CorpusStats.cmsEstimate(narrow, probes, "token", depth = 2, width = 16)
      .collect().foreach { r =>
        assert(r.getLong(1) >= exact.getOrElse(r.getString(0), 0L),
          s"CMS undercounted ${r.getString(0)}")
      }
    // Wide sketch: 40 tokens in 4×65536 cells — collisions would need
    // two of 40 fixed md5 hashes to agree mod 65536 in every row.
    val wide = graft.operators.CorpusStats.cmsSketch(docs, "text", depth = 4, width = 65536)
    graft.operators.CorpusStats.cmsEstimate(wide, probes, "token", depth = 4, width = 65536)
      .collect().foreach { r =>
        assert(r.getLong(1) == exact.getOrElse(r.getString(0), 0L))
      }
  }

  test("piiScrub redacts emails/phones/IPs and counts on the original text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail bob.smith+x@sub.example.org now"),
      (2L, "call 555-123-4567 or 555-000-1111 today"),
      (3L, "host 192.168.0.1 and 10.0.3.7 up"),
      (4L, "no pii here"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusStats.piiScrub(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (Option(r.getString(1)), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got(0) == ((Some("mail [EMAIL] now"), 1L, 0L, 0L)))
    assert(got(1) == ((Some("call [PHONE] or [PHONE] today"), 0L, 2L, 0L)))
    assert(got(2) == ((Some("host [IP] and [IP] up"), 0L, 0L, 2L)))
    assert(got(3) == ((Some("no pii here"), 0L, 0L, 0L)))
    assert(got(4)._1.isEmpty) // null text stays null, counts null-safe
  }

  test("dedupChunks keeps the first occurrence of each k-token chunk") {
    import spark.implicits._
    // 2-token chunks: [a b][c d][a b][e] — the second [a b] must drop
    val docs = Seq(
      (1L, "a b c d a b e"),
      (2L, "x y"),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusStats.dedupChunks(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == (("a b c d e", 4L, 1L)))
    assert(got(1) == (("x y", 1L, 0L)))
    assert(got(2) == (("", 0L, 0L)))
    assert(got(3) == (("", 0L, 0L)))
  }

  test("packSequences cuts the per-shard token stream at the pack budget") {
    import spark.implicits._
    // shard A: docs of 3, 4, 5 tokens, budget 6 → stream of 12 tokens:
    // d1 [0,3) pack0; d2 [3,7) packs 0+1 (straddles); d3 [7,12) pack 1
    val docs = Seq(
      ("A", 1L, "a b c"), ("A", 2L, "d e f g"), ("A", 3L, "h i j k l"),
      ("B", 4L, "x y"), ("B", 5L, "")) // empty doc lands in no pack
      .toDF("source", "doc_id", "text")
    val got = graft.operators.CorpusStats
      .packSequences(docs, "doc_id", "text", "source", "doc_id", packTokens = 6)
      .orderBy("shard", "doc_id", "pack_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("A", 1L, 0L, 0L, 3L),
      ("A", 2L, 0L, 0L, 3L), ("A", 2L, 1L, 3L, 4L),
      ("A", 3L, 1L, 0L, 5L),
      ("B", 4L, 0L, 0L, 2L)))
  }

  test("kmeansTrain converges to the obvious cluster means") {
    import spark.implicits._
    // two tight blobs around (0,0) and (10,10); seeds 0 and 1 land one
    // in each blob, so 2 iterations must recover the exact blob means
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (2L, Seq(0.2, 0.0)), (4L, Seq(0.0, 0.4)),
      (1L, Seq(10.0, 10.0)), (3L, Seq(10.2, 10.0)), (5L, Seq(10.0, 10.4)))
      .toDF("vec_id", "v")
    val got = graft.operators.Similarity.kmeansTrain(vecs, "vec_id", "v", k = 2, iters = 2)
      .orderBy("cent_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(x => math.round(x * 1e9) / 1e9)))
    assert(got(0) == ((0L, Seq(0.2 / 3, 0.4 / 3).map(x => math.round(x * 1e9) / 1e9))))
    assert(got(1) == ((1L, Seq(30.2 / 3, 30.4 / 3).map(x => math.round(x * 1e9) / 1e9))))
  }

  test("pqTrain Lloyd iterations recover per-subspace blob means") {
    import spark.implicits._
    // 4-dim vectors, m = 2 subspaces; each subspace has two tight blobs
    // and the two seed vectors (ids 0, 1) land one per blob, so training
    // must converge to the exact per-subspace blob means.
    val vecs = Seq(
      (0L, Seq(0.0, 0.0, 5.0, 5.0)), (2L, Seq(0.2, 0.0, 5.2, 5.0)),
      (4L, Seq(0.0, 0.4, 5.0, 5.4)),
      (1L, Seq(10.0, 10.0, 9.0, 9.0)), (3L, Seq(10.2, 10.0, 9.2, 9.0)),
      (5L, Seq(10.0, 10.4, 9.0, 9.4)))
      .toDF("vec_id", "v")
    val got = graft.operators.Similarity
      .pqTrain(vecs, "vec_id", "v", dim = 4, m = 2, kSub = 2, iters = 2)
      .orderBy("sub_id", "cent_id").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Double](2).map(x => math.round(x * 1e9) / 1e9)))
    def m(xs: Double*) = xs.map(x => math.round(x / 3 * 1e9) / 1e9)
    assert(got.toSeq == Seq(
      (0, 0L, m(0.2, 0.4)), (0, 1L, m(30.2, 30.4)),
      (1, 0L, m(15.2, 15.4)), (1, 1L, m(27.2, 27.4))))
  }

  test("bpeTrain: hand-computed merges incl. argmax tie-break and </w> marker") {
    import spark.implicits._
    // words: low x3, lower x1. Iter 1 pairs: (l,o)=4, (o,w)=4, ... —
    // count tie broken by pair order → (l,o). Iter 2: (lo,w)=4.
    // Iter 3: (low,</w>)=3 — the end-of-word marker merges like any
    // symbol.
    val docs = Seq((1L, "low low lower"), (2L, "low")).toDF("doc_id", "text")
    val got = graft.operators.LanguageModel
      .bpeTrain(docs, "doc_id", "text", vocabWords = 10, numMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "l", "o", 4L), (2, "lo", "w", 4L), (3, "low", "</w>", 3L)))
  }

  test("bpeTrain: stops early when every word is a single symbol") {
    import spark.implicits._
    // "ab" exhausts after 2 merges ((a,b) then (ab,</w>)); asking for 10
    // returns just the realized table — same shape as the SQL replay
    // oracle's empty-CTE tail.
    val docs = Seq((1L, "ab")).toDF("doc_id", "text")
    val got = graft.operators.LanguageModel
      .bpeTrain(docs, "doc_id", "text", vocabWords = 10, numMerges = 10)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 1L), (2, "ab", "</w>", 1L)))
  }

  test("zValue interleaves bits; z-buckets cover aligned rectangles") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // z(5, 3): a-bits → odd positions (2 + 32), b-bits → even (1 + 4).
    val z53 = Seq((5, 3)).toDF("a", "b")
      .select(graft.functions.ZOrder.zValue($"a", $"b")).head().getLong(0)
    assert(z53 == 39L)
    // Full 64×64 grid into 16 z-buckets of 256 points: the curve tiles
    // the grid into aligned 16×16 quadrants — span exactly 15 on BOTH
    // dims. A lexicographic (a, b) sort would give span 63 on b.
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a, b)).toDF("a", "b")
    val spans = grid
      .withColumn("z", graft.functions.ZOrder.zValue($"a", $"b"))
      .withColumn("bucket", ntile(16).over(Window.orderBy($"z")))
      .groupBy($"bucket")
      .agg((max($"a") - min($"a")).as("sa"), (max($"b") - min($"b")).as("sb"))
      .collect()
    assert(spans.length == 16)
    assert(spans.forall(r => r.getInt(1) == 15 && r.getInt(2) == 15),
      spans.mkString(","))
  }

  test("bpeEncode: segmentation replays the learned merges") {
    import spark.implicits._
    // merges from the bpeTrain spec: low → one token "low</w>";
    // lower → low + e + r + </w>. Non-[a-z] words drop out entirely.
    val docs = Seq((1L, "low lower"), (2L, "Zürich42 99")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", "</w>"))
    val got = graft.operators.LanguageModel
      .bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.toSeq == Seq(
      (1L, 2L, 5L, m("low</w> low+e+r+</w>")),
      (2L, 0L, 0L, m(""))))
  }

  test("pmiCollocations: hand-computed PMI and ranks on a two-doc corpus") {
    import spark.implicits._
    // uni: a:2 b:2 c:1 d:1 (N_tok=6); bigrams: (a,b)x2 (b,a)x1 (c,d)x1
    // (N_big=4). PMI = ln(c12·N_tok² / (N_big·c1·c2)).
    val docs = Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text")
    val got = graft.operators.LanguageModel
      .pmiCollocations(docs, "doc_id", "text", minCount = 1L, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    def pmi(c12: Double, c1: Double, c2: Double): Double =
      BigDecimal(math.log(c12 * 6.0 * 6.0 / (4.0 * c1 * c2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      ("c", "d", 1L, pmi(1, 1, 1), 1),
      ("a", "b", 2L, pmi(2, 2, 2), 2),
      ("b", "a", 1L, pmi(1, 2, 2), 3)))
  }

  test("weightedSample: ranks replay the documented A-ES key formula") {
    import spark.implicits._
    val weights = Map(1L -> 10L, 2L -> 100L, 3L -> 1L, 4L -> 50L, 5L -> 7L)
    val docs = weights.toSeq.toDF("doc_id", "w")
    val got = graft.operators.CorpusStats.weightedSample(docs, "doc_id", "w", n = 3)
      .orderBy("rank").collect().map(_.getLong(0))
    def key(id: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val u = (h % 1000000000L + 0.5) / 1e9
      BigDecimal(-math.log(u) / w)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = weights.toSeq.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (k, id) }.take(3).map(_._1)
    assert(got.toSeq == expect)
  }

  test("chunkTokenWindows: HF overflow convention incl. short tail and empty doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i"), // 9 tokens → 3 chunks, short tail
      (2L, "x y z"), // under one window → 1 chunk
      (3L, "")).toDF("doc_id", "text") // empty → 1 empty chunk
    val got = graft.operators.CorpusStats
      .chunkTokenWindows(docs, "doc_id", "text", windowTokens = 4, strideTokens = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, "a b c d"), (1L, 1L, 4L, "d e f g"), (1L, 2L, 3L, "g h i"),
      (2L, 0L, 3L, "x y z"),
      (3L, 0L, 0L, "")))
  }

  test("semDedup: within-cell greedy keeps lowest id; cells isolate pairs") {
    import spark.implicits._
    // Two well-separated cells. Cell of c0=(1,0,0,0): v10 ≡ c0 (dup of
    // the lower-id cell-mate), v11 orthogonal-ish (kept). Cell of
    // c1=(0,0,1,0): v20 ≡ c1 but can't pair with v10 across cells.
    // Chain semantics: v12 is similar to v11 but NOT to v10 — the
    // upper-triangular greedy still removes it (matches the public
    // SemDeDup reference, which thresholds against ALL lower-id rows,
    // removed or not).
    val vecs = Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.0), // centroid 0
      1L -> Seq(0.0, 0.0, 1.0, 0.0), // centroid 1
      10L -> Seq(1.0, 0.01, 0.0, 0.0), // dup of 0 (cos≈1)
      11L -> Seq(0.6, 0.8, 0.0, 0.0), // cell 0, cos≈0.6 vs 0 → kept at eps=0.9
      12L -> Seq(0.55, 0.84, 0.0, 0.0), // cos≈0.997 vs 11 → removed via chain
      20L -> Seq(0.0, 0.0, 1.0, 0.01) // dup of 1, other cell
    ).toDF("vec_id", "v")
    val cents = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("cent_id"), $"v".as("cv"))
    val got = Dedup.semDedup(vecs, "vec_id", "v", cents, "cent_id", "cv", eps = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 0L, 1L), (1L, 1L, 1L), (10L, 0L, 0L),
      (11L, 0L, 1L), (12L, 0L, 0L), (20L, 1L, 0L)))
  }

  test("semDedup identity collapse: replication cohorts keep raw semantics") {
    import spark.implicits._
    // 80 byte-identical copies trip the collapsePays probe; the output
    // must equal the raw per-document semantics, including the edges the
    // collapse could get wrong: the cohort's min-id member stays a dup
    // of the lower-id near-identical centroid vector, and IDENTICAL ZERO
    // vectors are NOT duplicates of each other (their self-cosine is 0,
    // the raw kernel's value — never a blanket jaccard-1-style fanout).
    val vecs = (Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.0), // centroid 0
      1L -> Seq(0.0, 0.0, 1.0, 0.0), // centroid 1
      50L -> Seq(0.6, 0.8, 0.0, 0.0), // cell 0, cos 0.6 vs everything — kept
      300L -> Seq(0.0, 0.0, 0.0, 0.0), // zero vector
      301L -> Seq(0.0, 0.0, 0.0, 0.0)) ++ // identical zero vector — kept too
      (100L to 179L).map(i => i -> Seq(1.0, 0.01, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val cents = vecs.filter($"vec_id" < 2)
      .select($"vec_id".as("cent_id"), $"v".as("cv"))
    val got = Dedup.semDedup(vecs, "vec_id", "v", cents, "cent_id", "cv", eps = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (Seq((0L, 0L, 1L), (1L, 1L, 1L), (50L, 0L, 1L),
      (300L, 0L, 1L), (301L, 0L, 1L)) ++
      (100L to 179L).map(i => (i, 0L, 0L))).toSet // every copy dups vs id 0
    assert(got == expected)
  }

  test("embeddingCosinePairs identity collapse: blocked replication equals brute force") {
    import spark.implicits._
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(1.0, 0.05, 0.0, 0.0) // cos(a,b) ≈ 0.99875
    val vecs = ((0L to 79L).map(i => (i, "x", a)) ++ Seq(
      (90L, "x", b),
      (95L, "x", Seq(0.0, 1.0, 0.0, 0.0)), // orthogonal — no pairs
      (200L, "x", Seq(0.0, 0.0, 0.0, 0.0)), // zero vectors: cosine 0,
      (201L, "x", Seq(0.0, 0.0, 0.0, 0.0)), //   never pair even if identical
      (500L, "y", a))) // identical bytes, OTHER block — no cross-block pair
      .toDF("vec_id", "label", "v")
    val got = Dedup.embeddingCosinePairs(vecs, "vec_id", "v", "label",
        minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val withinA = got.filter { case (x, y, _) => x <= 79 && y <= 79 }
    assert(withinA.length == 80 * 79 / 2)
    assert(withinA.map(_._3).distinct.length == 1) // the one self-cosine value
    val crossAB = got.filter { case (_, y, _) => y == 90L }
    assert(crossAB.length == 80 && crossAB.forall(_._3 >= 0.99))
    assert(got.length == withinA.length + crossAB.length,
      s"unexpected extra pairs: ${got.filterNot(p =>
        (p._1 <= 79 && p._2 <= 79) || p._2 == 90L)}")
  }

  test("lshNeighborPairs drops mega-buckets over the cap") {
    import spark.implicits._
    // 8 identical vectors land in one SRP bucket; with the cap below 8
    // the bucket contributes no pairs, with a loose cap it contributes
    // all C(8,2) = 28 perfect-cosine pairs.
    val vecs = (0L until 8L).map(i => (i, Seq.fill(4)(1.0))).toDF("vec_id", "v")
    def pairs(cap: Int) = graft.operators.Similarity
      .lshNeighborPairs(vecs, "vec_id", "v", dim = 4, nBits = 3,
        minCosine = 0.5, maxBucketSize = cap).count()
    assert(pairs(100) == 28L)
    assert(pairs(7) == 0L, "bucket over the cap must be dropped from pair generation")
  }

  test("bigram LM: hand-computed cross-entropy on a two-doc corpus") {
    import spark.implicits._
    // corpus: "a b a b" + "a b c" → bigrams: (a,b)×3, (b,a)×1, (b,c)×1;
    // c1: a→3, b→2; V = 3; k = 0.5
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = graft.operators.LanguageModel
      .bigramPerplexity(docs, "doc_id", "text", k = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pAB = (3.0 + 0.5) / (3.0 + 0.5 * 3) // p(b|a)
    val pBA = (1.0 + 0.5) / (2.0 + 0.5 * 3) // p(a|b)
    val pBC = (1.0 + 0.5) / (2.0 + 0.5 * 3) // p(c|b)
    val h1 = -(2 * math.log(pAB) + math.log(pBA)) / 3
    val h2 = -(math.log(pAB) + math.log(pBC)) / 2
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 3L), (2L, 2L)))
    assert(math.abs(got(0)._3 - h1) < 1e-12)
    assert(math.abs(got(1)._3 - h2) < 1e-12)
  }

  test("mixture resample hits floored quotas and is partition-invariant") {
    import spark.implicits._
    val docs = (0L until 100L).map(i =>
      (i, if (i % 10 < 7) "web" else if (i % 10 < 9) "wiki" else "code"))
      .toDF("doc_id", "dom")
    val w = Map("web" -> 0.5, "wiki" -> 0.3, "code" -> 0.2)
    // avail: web 70, wiki 20, code 10 → λ = min(140, 66.7, 50) = 50
    // quotas: web 25, wiki 15, code 10
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.CorpusStats
      .mixtureResample(df, "doc_id", "dom", w)
    val kept = run(docs)
    val counts = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("web" -> 25L, "wiki" -> 15L, "code" -> 10L))
    // membership is a pure function of ids: repartitioning can't move it
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = run(docs.repartition(13)).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
    // a weighted domain missing from the corpus is an error, not 0 rows
    intercept[IllegalArgumentException] {
      run(docs.filter($"dom" =!= "code"))
    }
  }

  test("hll estimate lands near truth and shard registers merge by max") {
    import spark.implicits._
    val n = 20000L
    val vals = spark.range(0, n).select(concat(lit("key_"), $"id").as("v"))
    val regs = graft.operators.CorpusStats.hllRegisters(vals, $"v", p = 8)
    val est = graft.operators.CorpusStats.hllEstimate(regs, p = 8)
      .head().getDouble(2)
    // m=256 → stderr ≈ 1.04/√256 = 6.5%; 4σ bound keeps this deterministic-stable
    assert(math.abs(est - n) / n < 0.26, s"est $est vs $n")
    // sketch property: registers of shards, max-merged, equal the union's
    val a = graft.operators.CorpusStats.hllRegisters(
      vals.filter($"v".substr(5, 10).cast("long") % 2 === 0), $"v", p = 8)
    val b = graft.operators.CorpusStats.hllRegisters(
      vals.filter($"v".substr(5, 10).cast("long") % 2 === 1), $"v", p = 8)
    val merged = a.union(b).groupBy("idx").agg(max("rho").as("rho"))
    assert(merged.except(regs).isEmpty && regs.except(merged).isEmpty)
  }

  test("bloom filter has no false negatives, or-merges shards, bounded FPs") {
    import spark.implicits._
    import graft.operators.Sketches
    val m = 1L << 14
    val vals = spark.range(0, 2000).select(concat(lit("v_"), $"id").as("v"))
    val sk = Sketches.bloomBuild(vals, $"v", mBits = m, k = 5)
    // no false negatives — every inserted value probes positive
    val misses = Sketches.bloomMightContain(sk, vals, $"v", mBits = m, k = 5)
      .filter(!col("might_contain")).count()
    assert(misses === 0)
    // shard sketches OR-merge to the whole-corpus sketch
    val a = Sketches.bloomBuild(vals.filter($"v".substr(3, 10).cast("long") % 2 === 0), $"v", m, 5)
    val b = Sketches.bloomBuild(vals.filter($"v".substr(3, 10).cast("long") % 2 === 1), $"v", m, 5)
    val merged = a.union(b).groupBy("word").agg(expr("bit_or(bits)").as("bits"))
    assert(merged.except(sk).isEmpty && sk.except(merged).isEmpty)
    // false-positive rate stays near theory: 2000 keys * 5 hashes in
    // 16384 bits → p ≈ (1 - e^-0.61)^5 ≈ 2.6%; 4× headroom on 10k probes
    val other = spark.range(2000, 12000).select(concat(lit("v_"), $"id").as("v"))
    val fp = Sketches.bloomMightContain(sk, other, $"v", mBits = m, k = 5)
      .filter(col("might_contain")).count()
    assert(fp < 1000, s"implausible FP count $fp")
  }

  test("histogram quantiles interpolate to the exact uniform percentiles") {
    import spark.implicits._
    import graft.operators.Sketches
    // 0..99 each 100× → bin width 2 holds exactly 200 rows; the q=0.5
    // target (5000) lands on a bin edge, making interpolation exact
    val xs = spark.range(0, 10000).select(($"id" % 100).cast("double").as("x"))
    val h = Sketches.histogram(xs, $"x", lo = 0.0, hi = 100.0, nBins = 50)
    assert(h.agg(sum("cnt")).head().getLong(0) === 10000L)
    val q = Sketches.histQuantiles(h, Seq(0.5, 0.9), 0.0, 100.0, 50)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(q(0.5) === 50.0)
    assert(math.abs(q(0.9) - 90.0) <= 2.0, s"q90 ${q(0.9)}")
  }

  test("ivf-pq search equals plain pq search when probing every cell") {
    import spark.implicits._
    import graft.operators.Similarity
    val vecs = (0L until 40L).map(i =>
      (i, Seq.tabulate(8)(j => math.sin(i * 8 + j).abs + 0.1 * j)))
      .toDF("vec_id", "v")
    val cents = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("cent_id"), $"v".as("cv"))
    val cb = Similarity.pqTrain(vecs, "vec_id", "v", dim = 8, m = 2, kSub = 4, iters = 1)
    val codes = Similarity.pqEncode(vecs, "vec_id", "v", cb, m = 2)
      .select($"vec_id", $"sub_id", $"code")
    val cells = Similarity.ivfAssign(vecs, "vec_id", "v", cents, "cent_id", "cv")
      .select($"vec_id", $"cell")
    val queries = vecs.filter($"vec_id" < 6)
    val full = Similarity.pqSearch(queries, "vec_id", "v", codes, "vec_id",
      cb, m = 2, k = 3, distRound = Some(9))
    val fused = Similarity.ivfPqSearch(queries, "vec_id", "v", codes, "vec_id",
      cells, cb, cents, "cent_id", "cv",
      m = 2, nprobe = 4, k = 3, distRound = Some(9))
    assert(fused.except(full).isEmpty && full.except(fused).isEmpty)
  }

  test("code-mapping refresh skips already-mapped codes and splits update/insert") {
    import spark.implicits._
    import graft.operators.CodeMapping
    val wind = Seq(("W1.SH", "Alpha Fund"), ("W2.SZ", "Beta Fund"))
      .toDF("wind_code", "full_name")
    val ifind = Seq(
      ("T1.SZ", "  alpha fund "),  // name-matches W1.SH → relink
      ("T3.SH", "Gamma Fund"),     // no wind match → insert
      ("T9.SH", "Beta Fund"))      // already mapped → must be ignored
      .toDF("ths_code", "full_name")
    val base = CodeMapping.fromWind(wind, "fund")
      .withColumn("ths_code",
        when(col("wind_code") === "W2.SZ", "T9.SH").otherwise(col("ths_code")))
    val (upd, ins) = CodeMapping.refreshFromIfind(base, ifind, wind, "fund")
    assert(upd.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))).toSet == Set(("i.T1.SZ", "W1.SH", "T1.SZ", "SZ")))
    assert(ins.collect().map(r => (r.getString(0), Option(r.getString(1)), r.getString(2),
      r.getString(3))).toSet == Set(("i.T3.SH", None, "T3.SH", "SH")))
  }

  test("language id picks the profile with most marker hits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog of to is"),
      (2L, "el perro y la casa de que los"),
      (3L, "xyzzy plugh qwerty"))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id", TextFunctions.langId($"text").as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got.toSeq == Seq("en", "es", "und"))
  }

  test("bm25TopK: hand-computed Lucene-variant scores and ranks") {
    import spark.implicits._
    // corpus: d1 "a b a", d2 "b c", d3 "c c c c"; N=3, avgdl=3;
    // df: a→1 b→2 c→2. Query "a c": d1 scores on a only, d2/d3 on c.
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val qs = Seq((10L, "a c")).toDF("query_id", "qtext")
    def j6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def term(idf: Double, tf: Double, dl: Double): Long =
      math.round(j6(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))) * 1e6)
    val idfA = math.log(1.0 + (3.0 - 1.0 + 0.5) / 1.5)
    val idfC = math.log(1.0 + (3.0 - 2.0 + 0.5) / 2.5)
    val exp = Seq(
      (10L, 1L, j6(term(idfA, 2, 3) / 1e6), 1L),
      (10L, 3L, j6(term(idfC, 4, 4) / 1e6), 2L),
      (10L, 2L, j6(term(idfC, 1, 2) / 1e6), 3L))
    val got = graft.operators.CorpusStats
      .bm25TopK(docs, "doc_id", "text", qs, "query_id", "qtext", k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == exp, s"got ${got.toSeq}")
  }

  test("zipfSlope recovers −1 on an exact power-law corpus, partition-invariant") {
    import spark.implicits._
    // token t_k appears floor(64 / k) times, k = 1..8: an exact-ish 1/k
    // law. The fitted ln-ln slope must land near −1; fully deterministic
    // integer-term sums make the value identical at any partitioning.
    val words = (1 to 8).flatMap(k => Seq.fill(64 / k)(f"t$k%02d"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    def run(parts: Int) = graft.operators.CorpusStats
      .zipfSlope(docs.repartition(parts), lit("all"), "text", topRanks = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    val (n, slope) = run(3)
    assert(n == 8)
    assert(math.abs(slope - (-1.0)) < 0.05, s"slope $slope strayed from -1")
    assert(run(1) == ((n, slope)) && run(7) == ((n, slope)),
      "zipf slope depends on partitioning")
  }

  test("domainMixReport: uniform two-domain mixture has entropy ln 2") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d", "s1"), (2L, "e f g h", "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.CorpusStats
      .domainMixReport(docs, col("source"), "text")
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length == 2)
    got.foreach { case (_, nd, nt, share, ent) =>
      assert(nd == 1 && nt == 4 && share == 0.5)
      assert(math.abs(ent - math.log(2.0)) < 1e-5, s"entropy $ent != ln 2")
    }
  }

  test("ScdHistory.fold: hand-computed intervals with change detection and open current") {
    import spark.implicits._
    // one entity: O,O,F,O over four dates → three runs; valid_to chains
    // to the next run's start; last run open-ended + current. Drives the
    // SAME operator the k9_scd2_history query ships.
    val rows = Seq(
      (7L, 1L, d("2024-01-01"), "O"), (7L, 2L, d("2024-01-05"), "O"),
      (7L, 3L, d("2024-02-01"), "F"), (7L, 4L, d("2024-03-01"), "O"))
      .toDF("o_custkey", "o_orderkey", "od", "status")
    def run(parts: Int) = graft.operators.ScdHistory.fold(
        rows.repartition(parts), keyCol = col("o_custkey"), orderCol = col("od"),
        tieCol = col("o_orderkey"), statusCol = col("status"))
      .orderBy("run_id").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDate(3).toString,
        Option(r.getDate(4)).map(_.toString), r.getBoolean(5), r.getLong(6)))
      .toSeq
    val got = run(3)
    assert(got == Seq(
      (1L, "O", "2024-01-01", Some("2024-02-01"), false, 2L),
      (2L, "F", "2024-02-01", Some("2024-03-01"), false, 1L),
      (3L, "O", "2024-03-01", None, true, 1L)), s"got $got")
    assert(run(1) == got && run(7) == got, "SCD2 fold depends on partitioning")
  }

  test("tokenBalancedShards: snake placement balances skewed token masses") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // heavy-tailed token masses — the shape that makes naive modulo
    // sharding lopsided
    val docs = (1L to 997L).map(id =>
      (id, (math.pow(rnd.nextDouble(), 4) * 5000).toLong + 1))
    val out = graft.operators.CorpusStats.tokenBalancedShards(
        docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.length == 997)
    assert(out.forall(x => x._4 >= 0 && x._4 < 16))
    // rank is the exact (tokens desc, id) order
    val byRank = out.sortBy(_._3)
    assert(byRank.map(x => (-x._2, x._1)).toSeq == byRank.map(x => (-x._2, x._1)).sorted.toSeq)
    // each round of 16 deals one doc per shard → doc counts differ ≤ 1
    val counts = out.groupBy(_._4).view.mapValues(_.length).values
    assert(counts.max - counts.min <= 1)
    // token-mass spread bounded by a couple of max docs (snake pairing),
    // FAR below the heavy tail a fixed modulo would concentrate
    val mass = out.groupBy(_._4).view.mapValues(_.map(_._2).sum).values
    val maxDoc = docs.map(_._2).max
    assert(mass.max - mass.min <= 2 * maxDoc,
      s"spread ${mass.max - mass.min} vs maxDoc $maxDoc")
    // deterministic: same input, same assignment
    val again = graft.operators.CorpusStats.tokenBalancedShards(
        docs.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 16)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(out.forall(x => again(x._1) == x._4))
  }
}
