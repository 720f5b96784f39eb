package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{TableSpec, TableStore}
import graft.operators.Dedup

/** corpus_dedup: the LLM-curation side. Each op is one new crawl shard:
  * MinHash-LSH pairs, exact prefix-filtered Jaccard pairs and exact
  * containment pairs, their connected components, and the kept doc ids
  * (one per component plus every unpaired doc) upserted into a kept-docs
  * table partitioned by shard.
  *
  * Shards are random-word documents with planted pairs: near-duplicates
  * at several edit rates (so some fall below the threshold), short docs
  * embedded whole or lightly edited in long ones, and exact copies.
  */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._

  private val spark = ctx.spark
  private val tr = ctx.tracer

  val opsPerSecond = 0.2
  val warmupOps = 1

  private val spec = TableSpec("kept_docs", Seq("shard", "doc_id"), partitionBy = Seq("shard"))

  private var store: TableStore = _
  private var root: File = _
  def storeRoot: File = root
  def tables: Seq[(TableStore, TableSpec)] = Seq(store -> spec)

  private var shard: Shard = _
  private var minhash: Seq[(Long, Long, Double)] = Nil
  private var jaccard: Seq[(Long, Long, Double)] = Nil
  private var containment: Seq[(Long, Long, Double)] = Nil
  private var comps: Map[Long, Long] = Map.empty
  private var kept: Set[Long] = Set.empty

  def prepare(dir: File): Unit = {
    root = dir
    store = new TableStore(spark, dir.getPath)
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  def op(i: Int): Long = {
    shard = Shard.generate(ctx.seed, i, if (i < warmupOps) WarmupDocs else DocsPerShard)
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(shard.docs.map { case (id, t) => Row(id, t) }: _*), DocSchema)
    minhash = tr.span("Dedup.minHashDupPairsAuto") {
      val p = Dedup.minHashDupPairsAuto(docs, "doc_id", "text", MinHashShingle, MinHashTau)
      try triples(p.select("id_a", "id_b", "jaccard")) finally p.unpersist()
    }
    jaccard = tr.span("Dedup.prefixFilterPairs")(triples(
      Dedup.prefixFilterPairs(docs, "doc_id", "text", WordShingle, JaccardTau)))
    containment = tr.span("Dedup.containmentPairs")(triples(
      Dedup.containmentPairs(docs, "doc_id", "text", WordShingle, ContainmentTau)))
    val pairs = (minhash ++ jaccard ++ containment).map(p => Row(p._1, p._2))
    comps = tr.span("Dedup.connectedComponents") {
      Dedup.connectedComponents(spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
        PairSchema), "id_a", "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    kept = shard.docs.map(_._1).filter(id => comps.get(id).forall(_ == id)).toSet
    val keptRows = kept.toSeq.sorted.map(id => Row(i, id))
    tr.span("TableStore.upsert")(store.upsert(spec,
      spark.createDataFrame(java.util.Arrays.asList(keptRows: _*), KeptSchema)))
    shard.docs.size.toLong
  }

  def check(i: Int): Boolean = {
    val text = shard.docs.toMap
    val words = text.map { case (id, t) => id -> wordShingles(t) }
    val chars = mutable.HashMap[Long, Set[String]]()
    def charSet(id: Long) = chars.getOrElseUpdate(id, charShingles(text(id)))
    // every planted pair at or above the threshold is found by the exact joins
    val jSet = jaccard.map(p => (p._1, p._2)).toSet
    val cSet = containment.map(p => (p._1, p._2)).toSet
    val recall = shard.planted.forall {
      case Planted(a, b, false) =>
        jac(words(a), words(b)) < JaccardTau || jSet((math.min(a, b), math.max(a, b)))
      case Planted(a, b, true) =>
        cont(words(a), words(b)) < ContainmentTau || cSet((a, b))
    }
    // every reported pair clears its threshold when recomputed here
    val precision =
      minhash.forall { case (a, b, s) =>
        val j = jac(charSet(a), charSet(b)); j >= MinHashTau - Eps && math.abs(j - s) <= Eps } &&
      jaccard.forall { case (a, b, s) =>
        val j = jac(words(a), words(b)); a < b && j >= JaccardTau - Eps && math.abs(j - s) <= Eps } &&
      containment.forall { case (a, b, s) =>
        val c = cont(words(a), words(b))
        c >= ContainmentTau - Eps && math.abs(c - s) <= Eps && words(a).size <= words(b).size }
    // components equal a plain union-find over the reported pairs
    val uf = new UnionFind
    (minhash ++ jaccard ++ containment).foreach(p => uf.union(p._1, p._2))
    val compOk = comps.keySet == uf.members && comps.forall { case (id, c) => uf.find(id) == c }
    val stored = store.read(spec).filter(col("shard") === i).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val keptOk = stored == shard.docs.map(_._1).filter(id => uf.find(id) == id).toSet
    if (!(recall && precision && compOk && keptOk))
      System.err.println(s"[perfbench] shard $i: recall=$recall precision=$precision " +
        s"components=$compOk kept=$keptOk")
    recall && precision && compOk && keptOk
  }

  override def traceDetail: String =
    s"""{"docs_per_shard":$DocsPerShard,"near_dup_pairs":${NearDupRates.size * NearDupsPerRate},""" +
      s""""containment_pairs":${ContainmentEdits.size * ContainmentsPerEdit},"exact_copies":$ExactCopies}"""
}

object CorpusDedup {
  val DocsPerShard = 120
  /** Warm-up shards are smaller: they only need to run every code path. */
  val WarmupDocs = 40
  val Vocabulary = 4000
  val MinHashShingle = 5
  val MinHashTau = 0.6
  val WordShingle = 3
  val JaccardTau = 0.7
  val ContainmentTau = 0.8
  val Eps = 1e-9
  /** Share of a copy's words replaced, per planted near-duplicate. */
  val NearDupRates = Seq(0.0, 0.03, 0.06, 0.12, 0.25)
  val NearDupsPerRate = 2
  /** Words replaced inside the embedded part of a containment pair. */
  val ContainmentEdits = Seq(0, 1, 4)
  val ContainmentsPerEdit = 2
  val ExactCopies = 2

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val PairSchema: StructType = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType)))
  val KeptSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("doc_id", LongType)))

  /** (a, b, isContainment): for containment `a` is the short side. */
  final case class Planted(a: Long, b: Long, containment: Boolean)
  final case class Shard(docs: Seq[(Long, String)], planted: Seq[Planted])

  object Shard {
    def generate(seed: Long, shard: Int, size: Int): Shard = {
      val rnd = new scala.util.Random(seed * 7919L + shard)
      // skewed word frequencies, so prefix filtering sees rare and common grams
      def word(): String = { val u = rnd.nextDouble(); s"w${(Vocabulary * u * u).toInt}" }
      def words(n: Int): IndexedSeq[String] = IndexedSeq.fill(n)(word())
      def edit(ws: IndexedSeq[String], k: Int): IndexedSeq[String] = {
        val out = ws.toArray
        rnd.shuffle(out.indices.toList).take(k).foreach(p => out(p) = word())
        out.toIndexedSeq
      }
      val base = shard.toLong * 100000L
      val docs = mutable.ArrayBuffer[(Long, String)]()
      val planted = mutable.ArrayBuffer[Planted]()
      def add(ws: IndexedSeq[String]): Long = {
        val id = base + docs.size
        docs += id -> ws.mkString(" ")
        id
      }
      for (rate <- NearDupRates; _ <- 0 until NearDupsPerRate) {
        val ws = words(60 + rnd.nextInt(60))
        val a = add(ws)
        val b = add(edit(ws, math.round(ws.size * rate).toInt))
        planted += Planted(a, b, containment = false)
      }
      for (k <- ContainmentEdits; _ <- 0 until ContainmentsPerEdit) {
        val short = words(25 + rnd.nextInt(10))
        val a = add(short)
        val b = add(words(50 + rnd.nextInt(30)) ++ edit(short, k) ++ words(50 + rnd.nextInt(30)))
        planted += Planted(a, b, containment = true)
      }
      for (_ <- 0 until ExactCopies) {
        val ws = words(40 + rnd.nextInt(80))
        val a = add(ws)
        val b = add(ws)
        planted += Planted(a, b, containment = false)
      }
      while (docs.size < size) add(words(40 + rnd.nextInt(100)))
      // rows no longer follow plant order once shuffled into the shard
      Shard(rnd.shuffle(docs.toSeq), planted.toSeq)
    }
  }

  private def normalized(t: String): IndexedSeq[String] =
    t.toLowerCase.split("\\s+").filter(_.nonEmpty).toIndexedSeq

  /** Word n-gram set; a text shorter than n is one gram. */
  def wordShingles(t: String): Set[String] = {
    val ws = normalized(t)
    if (ws.size <= WordShingle) Set(ws.mkString(" "))
    else ws.sliding(WordShingle).map(_.mkString(" ")).toSet
  }

  /** Char n-gram set of the whitespace-normalized text. */
  def charShingles(t: String): Set[String] = {
    val s = normalized(t).mkString(" ")
    if (s.length <= MinHashShingle) Set(s)
    else s.sliding(MinHashShingle).toSet
  }

  def jac(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def cont(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty) 0.0 else a.count(b).toDouble / a.size

  final class UnionFind {
    private val parent = mutable.HashMap[Long, Long]()
    def members: Set[Long] = parent.keySet.toSet
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }
}
