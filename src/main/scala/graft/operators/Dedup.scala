package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Each variant is designed
  * around one shuffle on a compact key — the shape that holds at 100 TB:
  * hash/signature computation is a codegen'd map, clustering is a
  * groupBy on the signature (never an O(n²) cross join), and pair
  * verification only runs inside LSH candidate buckets.
  */
object Dedup {

  /** Dev-only phase timing (SPARK_GRAFT_DEDUP_TIMING=1): brackets the
    * pipeline's internal actions so a bench regression can be
    * attributed to a stage instead of a query total. Zero cost when
    * unset. */
  private val timingOn = sys.env.get("SPARK_GRAFT_DEDUP_TIMING").contains("1")
  private def timed[T](label: String)(f: => T): T =
    if (!timingOn) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[dedup-timing] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** Exact dedup: keep the lowest-id document per normalized-content
    * fingerprint. One shuffle on the 64-bit fingerprint. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.withColumn("__fp", TextFunctions.fingerprint64(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    fp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Exact-dup groups: fingerprint → member count + kept id (for audit). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Embedding-cosine near-dup pairs: two documents are near-duplicates
    * when their embedding cosine ≥ `minCosine`. Pairs are only formed
    * inside a blocking key (a cluster / language / coarse-quantizer cell
    * column) — the standard trick that keeps embedding dedup at
    * O(Σ block²) instead of O(n²); at 100 TB the block column comes from
    * an IVF assignment ([[Similarity.ivfAssign]]) or SRP bucket so block
    * sizes are bounded. One shuffle on the block key.
    */
  def embeddingCosinePairs(vectors: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minCosine: Double): DataFrame = {
    // Identity collapse for VECTORS (r15, the dd_doc_semdedup/
    // dd_embed_cosine sf10 fix — the text-side collapseByText discipline
    // applied to embeddings): byte-identical vectors inside a block
    // collapse to one representative, the pairwise cosine scan runs in
    // rep space, and member pairs fan out arithmetically at emission
    // (same-vector members pair at the vector's own self-cosine — the
    // raw kernel's value for an identical pair, which is NOT exactly 1.0
    // in floating point and is 0 for zero vectors; cross-rep member
    // pairs inherit their reps' cosine, identical bytes being
    // interchangeable). On a replication-heavy corpus (the verbatim
    // ScaleUp corpus: 100 identical copies per vector) the within-block
    // quadratic cost drops from O(Σ block²) in DOCUMENTS to O(Σ block²)
    // in DISTINCT vectors; the output fan-out is the mandated result,
    // not intermediate state. The identity key is the vector's exact
    // decimal string form (Spark's double→string cast is
    // shortest-round-trip, hence injective), sha2-256-hashed so the
    // grouping shuffle moves 32-byte keys. Rows with a null block or
    // null vector produce no pairs in the raw kernel (null equi-join /
    // null cosine) and are filtered symmetrically here. The
    // duplicate-sparse short-circuit ([[collapsePays]]) keeps the raw
    // single-join plan — and the bench-SF board cost — when collapsing
    // cannot pay.
    // The upstream `vectors` plan can be arbitrarily expensive (for
    // dd_doc_semdedup it is a full corpus text→embedding pass), and
    // this operator consumes it from several DAG branches — the
    // collapsePays probe, the grouping, the member fan-out, and (raw
    // path) both self-join sides. Materialize the keyed scan ONCE so
    // the upstream plan executes exactly once regardless of which path
    // runs (r16: the 3× re-evaluation was 2/3 of dd_doc_semdedup's
    // sf10 cost).
    val key = s"$idCol|$vecCol|$blockCol|$minCosine|" +
      graft.core.Scratch.planKey(vectors)
    val keyed = graft.core.Scratch.materialize(
      vectors
        .select(col(blockCol).as("__bk"), col(idCol).as("__mid"),
          col(vecCol).as("__mv"))
        .filter(col("__bk").isNotNull && col("__mv").isNotNull)
        .withColumn("__gk",
          sha2(col("__mv").cast("array<string>").cast("string").cast("binary"), 256)),
      "vec_collapse_keyed", key)
    val groups = keyed.groupBy(col("__bk"), col("__gk"))
      .agg(min(col("__mid")).as("__rid"), first(col("__mv")).as("__mv"),
        count(lit(1)).as("__k"))
    if (!collapsePays(groups)) {
      // raw single-join plan, off the same materialized scan (rows with
      // a null block or null vector were filtered above; they produce
      // no pairs in this plan anyway — null equi-join key, null cosine)
      val a = keyed.select(col("__bk"), col("__mid").as("id_a"),
        col("__mv").as("__va"))
      val b = keyed.select(col("__bk"), col("__mid").as("id_b"),
        col("__mv").as("__vb"))
      return a.join(b, Seq("__bk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine",
          graft.functions.VectorFunctions.cosine(col("__va"), col("__vb")))
        .filter(col("cosine") >= minCosine)
        .select("id_a", "id_b", "cosine")
    }
    val grp = graft.core.Scratch.materialize(groups, "vec_collapse_groups", key)
    val mem = keyed.select(col("__bk"), col("__gk"), col("__mid"))
    val a = grp.select(col("__bk"), col("__gk").as("__ga"),
      col("__rid").as("__ra"), col("__mv").as("__va"))
    val b = grp.select(col("__bk"), col("__gk").as("__gb"),
      col("__rid").as("__rb"), col("__mv").as("__vb"))
    val repPairs = a.join(b, Seq("__bk"))
      .filter(col("__ra") < col("__rb"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("__bk"), col("__ga"), col("__gb"), col("cosine"))
    val cross = repPairs
      .join(mem.select(col("__bk"), col("__gk").as("__ga"), col("__mid").as("__ma")),
        Seq("__bk", "__ga"))
      .join(mem.select(col("__bk"), col("__gk").as("__gb"), col("__mid").as("__mb")),
        Seq("__bk", "__gb"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("cosine"))
    val same = grp.filter(col("__k") >= 2)
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosine(col("__mv"), col("__mv")))
      .filter(col("cosine") >= minCosine)
      .select(col("__bk"), col("__gk"), col("cosine"))
      .join(mem.select(col("__bk"), col("__gk"), col("__mid").as("__ma")),
        Seq("__bk", "__gk"))
      .join(mem.select(col("__bk"), col("__gk"), col("__mid").as("__mb")),
        Seq("__bk", "__gk"))
      .filter(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"), col("cosine"))
    cross.unionByName(same)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest coarse
    * centroid ([[Similarity.ivfAssign]]), then inside each cell mark as
    * duplicate any vector whose cosine to a LOWER-id cell-mate is
    * ≥ `eps` — the upper-triangular greedy of the public reference
    * implementation (facebookresearch/SemDeDup, `dedup` over the
    * cluster-local similarity matrix). Reference analogue: the
    * cross-vendor near-duplicate reconciliation family
    * (`tasks/merge/delete_duplicate_ticks.py:15-67` deduplicates exact
    * keys; this is its semantic-space counterpart for training corpora).
    *
    * Scale shape: clustering bounds the quadratic pair scan to
    * within-cell — O(Σ|cell|²), not O(n²). At 100 TB pick
    * k ∝ n / targetCellSize so each cell's self-join fits one executor;
    * the only wide exchange is the self-join on the cell id (centroids
    * are broadcast by [[Similarity.ivfAssign]]).
    *
    * Returns one row per input vector: (idCol, cell, kept 1/0) —
    * filtering `kept = 1` yields the deduplicated corpus.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, centId: String, centVec: String,
      eps: Double): DataFrame = {
    val key = s"$idCol|$vecCol|$eps|${graft.core.Scratch.planKey(vectors)}" +
      s"|${graft.core.Scratch.planKey(centroids)}"
    // Identity collapse for vectors (r15 — see [[embeddingCosinePairs]]):
    // byte-identical vectors share one cell assignment (nearest-centroid
    // is a pure function of the vector) and one within-cell scan row.
    // The per-member dup verdict reconstructs arithmetically: a member x
    // of group g is a duplicate iff SOME lower-id cell-mate sits within
    // eps, i.e. iff x exceeds the group's minimum qualifying threshold —
    // min over {rid(g') : (g,g') rep pair at cos ≥ eps} ∪ {rid(g) when
    // the group's self-cosine (1 for nonzero vectors, 0 for zero/NaN —
    // the raw kernel's own value for identical pairs) clears eps and
    // |g| ≥ 2}. The null key is coalesced to a sentinel so null-vector
    // rows keep flowing to the output exactly as the raw plan's
    // null-cosine (never ≥ eps → kept) semantics. Duplicate-sparse
    // corpora short-circuit to the raw per-document plan
    // ([[collapsePays]]), keeping the bench-SF board cost unchanged.
    // Like [[embeddingCosinePairs]] (r16): the upstream `vectors` plan
    // (dd_doc_semdedup: a full corpus text→embedding pass) is consumed
    // by the collapsePays probe, the rep grouping, and the member
    // fan-out (or the raw path's assignment) — materialize the keyed
    // scan ONCE so upstream executes exactly once on either path.
    val keyed = graft.core.Scratch.materialize(
      vectors
        .select(col(idCol).as("__mid"), col(vecCol).as("__mv"))
        .withColumn("__gk", sha2(coalesce(
          col("__mv").cast("array<string>").cast("string"),
          lit("__NULL_VEC__")).cast("binary"), 256)),
      "semdedup_keyed", key)
    val groups = keyed.groupBy(col("__gk"))
      .agg(min(col("__mid")).as("__rid"), first(col("__mv")).as("__mv"),
        count(lit(1)).as("__k"))
    if (!collapsePays(groups)) {
      // The assignment subtree (scan + broadcast argmin + top-1 window)
      // is consumed three times (both self-join sides + the final keep
      // join); materialize it once — Catalyst shares no plans across
      // join branches, and at corpus scale three assignment passes would
      // triple the operator's only per-vector shuffle.
      val assigned = graft.core.Scratch.materialize(
        graft.operators.Similarity.ivfAssign(
          keyed.select(col("__mid").as(idCol), col("__mv").as(vecCol)),
          idCol, vecCol, centroids, centId, centVec),
        "semdedup_cells", key)
      val a = assigned.select(col("cell"), col(idCol).as("__ida"), col(vecCol).as("__va"))
      val b = assigned.select(col("cell"), col(idCol).as("__idb"), col(vecCol).as("__vb"))
      val dups = a.join(b, Seq("cell"))
        .filter(col("__ida") < col("__idb"))
        .filter(graft.functions.VectorFunctions.cosine(col("__va"), col("__vb")) >= eps)
        .select(col("__idb").as(idCol)).distinct()
      return assigned
        .join(dups.withColumn("__dup", lit(1)), Seq(idCol), "left_outer")
        .select(col(idCol), col("cell"),
          when(col("__dup").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
    }
    // rep-space assignment, consumed by both self-join sides and the
    // member fan-out — materialized once, like the raw path's cache
    val assigned = graft.core.Scratch.materialize(
      graft.operators.Similarity.ivfAssign(
        groups.select(col("__gk"), col("__rid"), col("__k"), col("__mv")),
        "__rid", "__mv", centroids, centId, centVec),
      "semdedup_repcells", key)
    val a = assigned.select(col("cell"), col("__gk").as("__ga"),
      col("__rid").as("__ra"), col("__mv").as("__va"))
    val b = assigned.select(col("cell"), col("__gk").as("__gb"),
      col("__rid").as("__rb"), col("__mv").as("__vb"))
    val repPairs = a.join(b, Seq("cell"))
      .filter(col("__ra") < col("__rb"))
      .filter(graft.functions.VectorFunctions.cosine(col("__va"), col("__vb")) >= eps)
      .select(col("__ga"), col("__ra"), col("__gb"), col("__rb"))
    // per-group duplicate threshold: a rep pair (g, g') at cos ≥ eps
    // makes every member of g above rid(g') (and of g' above rid(g)) a
    // duplicate; a qualifying self-cosine makes every non-rep member one
    val thresholds = repPairs.select(col("__gb").as("__gk"), col("__ra").as("__thr"))
      .unionByName(repPairs.select(col("__ga").as("__gk"), col("__rb").as("__thr")))
      .unionByName(assigned.filter(col("__k") >= 2 &&
          graft.functions.VectorFunctions.cosine(col("__mv"), col("__mv")) >= eps)
        .select(col("__gk"), col("__rid").as("__thr")))
      .groupBy(col("__gk")).agg(min(col("__thr")).as("__thr"))
    keyed
      .join(assigned.select(col("__gk"), col("cell")), Seq("__gk"))
      .join(thresholds, Seq("__gk"), "left_outer")
      .select(col("__mid").as(idCol), col("cell"),
        when(col("__thr").isNotNull && col("__mid") > col("__thr"), lit(0L))
          .otherwise(lit(1L)).as("kept"))
  }

  /** 2⁶¹ − 1, the Mersenne prime modulus of the per-component MinHash
    * permutations. */
  private[graft] val MinHashP: Long = (1L << 61) - 1

  /** Per-component universal-hash coefficients, derived from MD5 so the
    * DuckDB oracle recomputes them verbatim: (a_k, b_k) = the h1/h2
    * windows of md5("mh:k"), with a_k = 0 remapped to 1 (a zero
    * multiplier would make the component constant). */
  private[graft] def permCoeff(k: Int): (Long, Long) = {
    val (a, b) = graft.functions.Md5Hash.h1h2(s"mh:$k")
    (if (a == 0L) 1L else a, b)
  }

  /** `(a·x + b) mod (2⁶¹ − 1)` without 128-bit types: Math.multiplyHigh
    * plus Mersenne folding (2⁶¹ ≡ 1, hence 2⁶⁴ ≡ 8 mod p). Inputs are
    * non-negative and < 2⁶¹, so the folded sum fits a signed long with
    * one conditional subtract. Bit-equal to DuckDB's
    * `(a::HUGEINT * x + b) % 2305843009213693951`.
    */
  private def permApply(a: Long, b: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x
    val t0 = (lo & MinHashP) + (lo >>> 61) + hi * 8L + b
    val t1 = (t0 & MinHashP) + (t0 >>> 61)
    if (t1 >= MinHashP) t1 - MinHashP else t1
  }

  /** MinHash signature: `numHashes` independent universal-hash
    * permutations `π_k(x) = (a_k·x + b_k) mod (2⁶¹−1)` over the MD5-h1
    * shingle hash ([[graft.functions.Md5Hash]] — chosen so the DuckDB
    * oracle can recompute signatures exactly); signature_k = min over
    * distinct char shingles of the normalized text.
    *
    * Per-component permutations, NOT the Kirsch–Mitzenmacher linear
    * family `h1 + k·h2` this shipped with through round 14: K–M
    * components are monotone-correlated in k, so ADJACENT components
    * share their argmin shingle and an r-row band discriminates like
    * ~1 row — measured on the sf1-mutated corpus, the (3-row, 46-band)
    * shape carried 2.0 BILLION capped candidate pairs under K–M and
    * 40.7 M under independent permutations (49×), flipping banding from
    * structurally broken to matching the analytic 1-(1-s^r)^b model.
    * Component k depends only on k, so narrower signatures remain exact
    * prefixes of wider ones (the property the multi-setting and
    * budgeted pipelines slice on).
    *
    * Fused single-pass UDF rather than Column algebra: higher-order
    * array functions are interpreted (no codegen, no subexpression
    * elimination), so the expression form rebuilds the shingle array
    * once per hash function — ~16× the work. One executor-local pass
    * keeps the scan stage map-only either way.
    */
  def minHashSignature(docs: DataFrame, textCol: String, shingleLen: Int,
      numHashes: Int): DataFrame = {
    val as = Array.tabulate(numHashes)(k => permCoeff(k)._1)
    val bs = Array.tabulate(numHashes)(k => permCoeff(k)._2)
    val sigUdf = udf { text: String =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      if (text != null) {
        val norm = text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
        val n = math.max(norm.length - shingleLen + 1, 1)
        val seen = new java.util.HashSet[String](n * 2)
        var i = 0
        while (i < n) {
          val s = norm.substring(i, math.min(i + shingleLen, norm.length))
          if (seen.add(s)) {
            val x = graft.functions.Md5Hash.h1(s)
            var k = 0
            while (k < numHashes) {
              val h = permApply(as(k), bs(k), x)
              if (h < sig(k)) sig(k) = h
              k += 1
            }
          }
          i += 1
        }
      }
      sig
    }
    docs.withColumn("minhash_sig", sigUdf(col(textCol)))
  }

  /** One fused pass producing both the MinHash signature and the sorted,
    * distinct, MD5-h1-hashed shingle set. Shingling + MD5 dominate the
    * whole dedup job, and the signature and verify stages need the same
    * intermediate — computing them together (and persisting the result)
    * means the corpus text is normalized and hashed exactly once.
    * Shingles as sorted longs, not strings: the exact-Jaccard verify
    * becomes a two-pointer merge over primitive arrays (~100× cheaper
    * than per-pair string hash sets) and the verify join shuffles 8
    * bytes per shingle instead of the shingle text.
    */
  private[graft] def sigAndHashedShingles(shingleLen: Int, numHashes: Int) = {
    val as = Array.tabulate(numHashes)(k => permCoeff(k)._1)
    val bs = Array.tabulate(numHashes)(k => permCoeff(k)._2)
    udf { text: String =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var sh = Array.empty[Long]
      if (text != null) {
        val norm = text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
        val n = math.max(norm.length - shingleLen + 1, 1)
        val seen = new java.util.HashSet[String](n * 2)
        val hs = new java.util.TreeSet[java.lang.Long]()
        var i = 0
        while (i < n) {
          val s = norm.substring(i, math.min(i + shingleLen, norm.length))
          if (seen.add(s)) {
            val x = graft.functions.Md5Hash.h1(s)
            if (hs.add(x)) {
              // distinct-h1 guard: two shingles sharing h1 produce the
              // SAME permuted values, so re-running the k-loop for a
              // colliding shingle cannot change any minimum
              var k = 0
              while (k < numHashes) {
                val h = permApply(as(k), bs(k), x)
                if (h < sig(k)) sig(k) = h
                k += 1
              }
            }
          }
          i += 1
        }
        sh = new Array[Long](hs.size)
        val it = hs.iterator()
        var j = 0
        while (it.hasNext) { sh(j) = it.next(); j += 1 }
      }
      (sig, sh)
    }
  }

  /** Jaccard of two sorted distinct long arrays via two-pointer merge.
    * Parameters are primitive `Array[Long]`, not `Seq[Long]`: Spark
    * converts `UnsafeArrayData` to a primitive array in one copy, and
    * positional access stays O(1) — a `Seq` parameter can arrive as a
    * non-indexed collection and turn this loop quadratic.
    */
  val jaccardOfSortedLongs: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Long], b: Array[Long]) =>
      if (a == null || b == null || (a.isEmpty && b.isEmpty)) 0.0
      else {
        var i = 0; var j = 0; var inter = 0
        while (i < a.length && j < b.length) {
          val x = a(i); val y = b(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        val union = a.length + b.length - inter
        if (union == 0) 0.0 else inter.toDouble / union
      }
    }

  /** MinHash-LSH near-dup pairs, staged for scale:
    *  1. ONE fused corpus pass → (signature, hashed shingle set),
    *     persisted — every later stage column-prunes from this cache
    *     instead of re-reading and re-hashing the text;
    *  2. band the signatures, self-join buckets on ids ONLY (the narrow
    *     shuffle — never drag shingle arrays through the bucket join);
    *  3. dedup candidate pairs;
    *  4. cheap prefilter: estimated Jaccard = fraction of equal
    *     signature components (16 long comparisons/pair) — note a pair
    *     sharing one of `bands` bands already has est ≥ rowsPerBand /
    *     numHashes, so this only prunes when the threshold exceeds that;
    *  5. exact hashed-shingle Jaccard only for survivors, via id-joins
    *     back to the (broadcastable) per-doc table.
    * On a 1000-executor cluster the bucket join shuffles ~16 bytes/row
    * per band; shingle arrays move only for the tiny verified tail.
    */
  def minHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.6, maxBucketSize: Int = 100): DataFrame =
    minHashPairsCore(docs, idCol, textCol, shingleLen, numHashes, bands,
      jaccardThreshold, Left(maxBucketSize))

  /** [[minHashDupPairs]] with BOTH knobs derived instead of hand-set —
    * the operating point a deployment can trust without a per-corpus
    * sweep (the r12 cap sweep found the hand-set default silently
    * costing 41% recall; this automates exactly that computation):
    *
    *  - '''(rowsPerBand, bands)''' analytically from the threshold: the
    *    probability a true pair at similarity s=τ shares ≥1 band is
    *    1-(1-τ^r)^b, so b(r) = ⌈ln(1-R)/ln(1-τ^r)⌉ bands reach target
    *    recall R at the threshold (and MORE than R above it — the
    *    S-curve is increasing). The largest r whose b(r) fits `maxBands`
    *    wins: larger r sharpens the curve (fewer sub-threshold
    *    candidates) at the cost of more signature components.
    *  - '''mega-bucket cap''' from the MEASURED bucket-size histogram:
    *    duplicate clusters and ordinary shared-phrase cohorts populate a
    *    DENSE range of bucket sizes (every size present or nearly so),
    *    while degenerate noise cohorts (empty text, boilerplate shared
    *    by a large corpus fraction) sit far outside that bulk. The cap
    *    cuts at the largest RELATIVE gap between consecutive distinct
    *    sizes (among sizes ≥ `minOutlierBucket`, and only when that gap
    *    exceeds `outlierGapRatio` — no qualifying gap means no outliers,
    *    keep every bucket). Measured here: the driver corpus reads a
    *    dense bulk then a ~2× jump to the noise cohorts at every SF
    *    (124→242 at sf0.001, 100→215 at sf0.01, 1091→2248 at sf0.1) —
    *    the same knee the round-12 MANUAL cap sweep found at sf0.1. The
    *    histogram is one tiny aggregate over the banding frame (one row
    *    per distinct size), so selection costs one model-sized pass. A
    *    pair-cost budget was tried and rejected: bucket size alone does
    *    not order "duplicate-rich" before "noise" (measured recall 0.55
    *    at sf0.1 under any per-doc budget that kept the join affordable).
    *
    * Both derivations are deterministic functions of (τ, corpus), so a
    * SQL oracle replays them exactly (dd_lsh_recall_report's auto row).
    *
    * This is the single-shape form; the engine's DEFAULT dedup path is
    * [[minHashDupPairsBudgeted]], which walks a recall ladder and only
    * keeps this shape when its MEASURED candidate mass fits the budget
    * (the R=0.99-forced 2-row banding is quadratic-ish on realistic
    * corpora — 209 s at sf1-mutated, the r14 scaling record).
    */
  def minHashDupPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, jaccardThreshold: Double = 0.6,
      targetRecall: Double = 0.99, maxBands: Int = 64,
      minOutlierBucket: Int = 16, outlierGapRatio: Double = 1.5): DataFrame = {
    val (r, b) = lshAutoShape(jaccardThreshold, targetRecall, maxBands)
    minHashPairsCore(docs, idCol, textCol, shingleLen, r * b, b,
      jaccardThreshold, Right((minOutlierBucket, outlierGapRatio)))
  }

  /** [[minHashDupPairsAuto]] with a MEASURED candidate-budget check on
    * the band shape — the missing cost dial of the derived operating
    * point. The analytic chooser alone is recall-only: at τ=0.4 a
    * R=0.99 target forces r=2 (r=3 needs 70 > 64 bands), and 2-row band
    * keys are so coarse that a low-duplication corpus (heavy rewrites,
    * realistic growth — the mutated ScaleUp corpus) carries crushing
    * INTRINSIC candidate mass in perfectly ordinary buckets the
    * mega-bucket cap must not cut (measured 209 s at sf1-mutated, the
    * r14 scaling record). This operator walks `recallLadder` from the
    * highest target down: for each shape it bands the (collapsed,
    * already-hashed) representative signatures, derives the auto cap,
    * and MEASURES the capped candidate mass Σ C(bucket,2) — the exact
    * row count of the bucket self-join; the first shape whose mass fits
    * `budgetPairsPerRep · nReps` wins, and the ladder's last entry is
    * unconditional (at τ=0.4 that is R=0.95 → r=3 × 46 bands, whose
    * buckets are cubically smaller). The trade is explicit and
    * measurable: dd_lsh_recall_report carries the fallback shape's
    * measured recall next to the primary's.
    *
    * Cost of the decision: the ladder shapes share ONE corpus
    * normalization/collapse/hash pass (per-component-permutation prefix
    * slicing, as [[minHashDupPairsMulti]]); each probe is a banding
    * groupBy over rep-space id/hash rows plus the model-sized histogram
    * — nothing pairwise runs until the shape is chosen. The decision is
    * a deterministic integer compare over measured longs, so the DuckDB
    * oracle replays shape selection, cap, mass, and verdict exactly.
    */
  /** Default candidate budget of [[minHashDupPairsBudgeted]], shared
    * with the DuckDB decision replay (TextQueries inlines the same
    * constant into the oracle SQL). */
  val DefaultBudgetPairsPerRep: Long = 1024L

  def minHashDupPairsBudgeted(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 5, jaccardThreshold: Double = 0.6,
      recallLadder: Seq[Double] = Seq(0.99, 0.95), maxBands: Int = 64,
      minOutlierBucket: Int = 16, outlierGapRatio: Double = 1.5,
      budgetPairsPerRep: Long = DefaultBudgetPairsPerRep): DataFrame = {
    require(recallLadder.nonEmpty, "recallLadder must be non-empty")
    require(recallLadder == recallLadder.sorted.reverse,
      s"recallLadder $recallLadder must be highest-recall first — the walk " +
      "accepts the FIRST shape within budget and must not skip a cheaper, " +
      "higher-recall one")
    val shapes = recallLadder.map(lshAutoShape(jaccardThreshold, _, maxBands))
    val maxHashes = shapes.map { case (r, b) => r * b }.max
    val rs = collapseToReps(docs, idCol, textCol, shingleLen, maxHashes)
    val budget = budgetPairsPerRep * rs.nReps
    // ONE (size, count) histogram per probed shape: cap, capped mass,
    // and the tier-3 budget cap are all pure functions of it (the r15
    // probe re-aggregated the same banded frame up to three times).
    // The iterator is lazy, so when find() hits early the remaining
    // shapes are never banded; when it exhausts, lastHist holds the
    // LAST shape's histogram for the tier-3 budget cap.
    var lastHist: Array[(Long, Long)] = Array.empty
    val probed = shapes.iterator.map { case (r, b) =>
      // memoized per (rep space, shape): the histogram is budget-
      // independent, so the walk's probes are shared across every
      // budget tier a session runs (dd_minhash_budget_mid/_floor and
      // the shared default all walk the same shapes)
      val hist = timed(s"probe hist r=$r b=$b")(bandHistOf(rs, r * b, b))
      lastHist = hist
      val cap = autoBucketCapFromHist(hist, minOutlierBucket, outlierGapRatio)
      ((r, b), cap, cappedMassFromHist(hist, cap))
    }.find(_._3 <= budget)
    val out = probed match {
      case Some(((r, b), cap, _)) =>
        // reuse the measured cap — re-deriving it inside the pair
        // pipeline would repeat the histogram pass for the same answer
        pairsFromRepSpace(rs, r * b, b, jaccardThreshold, Left(cap))
      case None =>
        // Ladder exhausted: even the sharpest shape's histogram-derived
        // cap exceeds the budget. Tier 3 makes the budget a HARD bound —
        // derive the cap from the budget itself (the largest bucket size
        // whose ascending cumulative mass still fits), so candidate mass
        // is ≤ budgetPairsPerRep·reps BY CONSTRUCTION, i.e. linear in
        // corpus size at any scale. Intrinsic-similarity-heavy corpora
        // (shared-vocab synthetic text, boilerplate-dense crawls) have
        // Σ C(bucket,2) ∝ N²·E[s^r]·bands under ANY fixed shape, so a
        // shape alone cannot bound the join at 100 TB; the sacrifice —
        // pairs living only in hot buckets — is uniform band-redundancy
        // loss, and dd_lsh_recall_report measures it per corpus.
        val (r, b) = shapes.last
        pairsFromRepSpace(rs, r * b, b, jaccardThreshold,
          Left(budgetCapFromHist(lastHist, budget)))
    }
    rs.release()
    out
  }

  /** Ascending (bucket size, bucket count) histogram of a banded frame —
    * ONE aggregation pass per probed shape; the auto cap, the capped
    * candidate mass, and the tier-3 budget cap are all pure functions
    * of it. Model-sized at any corpus scale: one row per DISTINCT
    * bucket size, so the collect is bounded like the calibration
    * histograms. */
  private def bucketHistogram(banded0: DataFrame): Array[(Long, Long)] =
    sortedHist(banded0.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__m")))

  /** Collect a model-sized `(__n, __m)` histogram, one row per distinct
    * `__n`, and sort it ascending by `__n` on the driver. The keys are
    * distinct, so this is the array a global `orderBy` would give,
    * without its range-partition exchange and sampling job. */
  private def sortedHist(hist: DataFrame): Array[(Long, Long)] =
    hist.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  /** Σ C(bucket, 2) over the cap-surviving buckets — the exact
    * bucket-self-join row count the budget check bounds. Integer `div`,
    * long sum: DuckDB replays it with `//`. */
  private def cappedMassFromHist(hist: Array[(Long, Long)], cap: Int): Long =
    hist.iterator.takeWhile(_._1 <= cap)
      .map { case (n, m) => n * (n - 1) / 2 * m }.sum

  /** Budget-derived mega-bucket cap: the largest bucket size whose
    * ascending cumulative candidate mass Σ C(n,2)·count(n) still fits
    * `budget`; 1 (identity-collapse pairs only) when even size-2
    * buckets overshoot. Pure integer arithmetic over the model-sized
    * size histogram — DuckDB replays it with a running-sum window. */
  private def budgetCapFromHist(hist: Array[(Long, Long)], budget: Long): Int =
    budgetWalk(hist, budget)((n, m) => n * (n - 1) / 2 * m)

  /** The incremental twin: hist rows are (index bucket size n, batch
    * band-row hits m) and each hit contributes n candidates — the
    * batch×index join's mass is n·m, not the self-join's C(n,2)·m. */
  private def budgetCapFromMassHist(hist: Array[(Long, Long)], budget: Long): Int =
    budgetWalk(hist, budget)((n, m) => n * m)

  /** Largest bucket size whose ascending cumulative mass still fits
    * `budget`; 1 when even the smallest overshoots (identity-collapse /
    * same-text pairs only — those bypass the cap by construction). */
  private def budgetWalk(hist: Array[(Long, Long)], budget: Long)
      (mass: (Long, Long) => Long): Int = {
    var cum = 0L
    var cap = 1L
    var i = 0
    var over = false
    while (i < hist.length && !over) {
      val (n, m) = hist(i)
      cum += mass(n, m)
      if (cum <= budget) cap = n else over = true
      i += 1
    }
    cap.toInt
  }

  /** Analytic (rowsPerBand, bands) for target recall R at threshold τ —
    * see [[minHashDupPairsAuto]]. Pure, engine-independent. */
  private[graft] def lshAutoShape(tau: Double, targetRecall: Double,
      maxBands: Int): (Int, Int) = {
    require(tau > 0 && tau < 1, s"threshold $tau must be in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, "target recall in (0,1)")
    (8 to 1 by -1).view
      .map { r =>
        val p = math.pow(tau, r)
        (r, math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt)
      }
      .find(_._2 <= maxBands)
      .getOrElse((1, maxBands))
  }

  /** Data-derived mega-bucket cap over the distinct bucket-size
    * sequence — see [[minHashDupPairsAuto]]. Two-tier selection:
    *
    *  1. '''qualified knee''': the largest RELATIVE gap between
    *     consecutive distinct sizes (among sizes ≥ `minOutlierBucket`),
    *     accepted when it reaches `outlierGapRatio` — the bulk/noise
    *     boundary every driver SF exhibits (≥2× jumps).
    *  2. '''knee-less fallback''': when no gap qualifies (a SMOOTH
    *     histogram — the mutated-copy corpus populates a dense size
    *     range with no 1.5× jump), cut at the largest ABSOLUTE gap
    *     (ties → larger n) instead. The r14 interim rule cut at the
    *     relative-gap argmax unconditionally, but on a fully dense
    *     sequence the max ratio is (n+1)/n at the SMALLEST n, which
    *     collapsed the cap to ≈`minOutlierBucket` and silently dropped
    *     legitimate duplicate cohorts corpus-wide; the absolute-gap
    *     fallback keeps a real bound (the r13 keep-everything rule let
    *     the 2-row-band join go quadratic: 367 s at sf1-mutated)
    *     without the recall cliff. Bulk candidate mass on knee-less
    *     corpora is governed by the budget-aware band SHAPE
    *     ([[minHashDupPairsBudgeted]]), not by this cap.
    *
    * Only ordering comparisons (argmax by (ratio, n) / (gap, n)) plus
    * one exact-double ratio-vs-literal compare, so DuckDB replays the
    * selection bit-identically. The gap table is one row per distinct
    * size — model-sized at any corpus scale — and is collected like the
    * calibration histograms.
    */
  private[graft] def autoBucketCap(banded0: DataFrame, minOutlierBucket: Int,
      outlierGapRatio: Double): Int =
    autoBucketCapFromHist(bucketHistogram(banded0), minOutlierBucket,
      outlierGapRatio)

  /** The gap-rule selection itself, over the ascending size histogram —
    * pure, so the budgeted walk derives it from the SAME single
    * aggregation pass that feeds the mass and budget-cap checks. */
  private[graft] def autoBucketCapFromHist(hist: Array[(Long, Long)],
      minOutlierBucket: Int, outlierGapRatio: Double): Int = {
    val sizes = hist.map(_._1) // ascending DISTINCT bucket sizes
    val gaps = sizes.zip(sizes.drop(1)).filter(_._1 >= minOutlierBucket)
    if (gaps.isEmpty) {
      if (sizes.isEmpty) 1 else sizes.last.toInt
    } else {
      val knee = gaps.maxBy { case (n, nx) => (nx.toDouble / n, n) }
      if (knee._2.toDouble / knee._1 >= outlierGapRatio) knee._1.toInt
      else gaps.maxBy { case (n, nx) => (nx - n, n) }._1.toInt
    }
  }

  /** Normalized text — the collapse identity. Must equal the
    * normalization inside [[sigAndHashedShingles]] (lowercase,
    * whitespace-split, single-space join) so identical-signature texts
    * collapse onto identical keys. */
  private val normalizeText =
    udf { t: String =>
      if (t == null) null
      else t.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ") }

  /** Shared rep-space state of the identity collapse: the rep→member
    * map and the fused per-representative (signature, shingles) cache,
    * both persisted, plus the rep count (already materialized by the
    * collapse — lets consumers make broadcast decisions without a new
    * job). `release()` after the consuming pair frames are
    * materialized.
    */
  private case class RepSpace(members: DataFrame, perDoc: DataFrame,
      nReps: Long, shingleBytes: Long, sigWidth: Int) {
    /** No-op since r16: rep spaces are scratch-parquet-backed and owned
      * by the session memo ([[repSpaceMemo]]) — the JVM-exit scratch
      * sweep is the release point. Kept so call sites still mark where
      * their use of the shared space ends. */
    def release(): Unit = ()

    /** Driver-built sorted-id lookup of the model-sized rep tables,
      * built AT MOST ONCE per rep space (lazy, session-cached with the
      * memo) and broadcast to executors. est and verify probe it from
      * inside their UDFs, so the candidate stream stays 16 bytes/row
      * end to end; the broadcast-JOIN form materialized two sig arrays
      * and two shingle arrays into every candidate row (measured at
      * sf0.1: 3.9 M capped candidates × ~2.6 KB of attached arrays ≈
      * 10 GB of UnsafeRow writes + copies — the est+verify joins were
      * nearly the whole 16.7 s budgeted-pipeline wall). Same memory
      * class as the old `broadcast(sigs)` hint (the driver builds that
      * relation anyway); the payload bounds below are unchanged, and
      * bigger-than-bound corpora (or non-long ids) keep the join form.
      */
    lazy val lookup: Option[org.apache.spark.broadcast.Broadcast[RepLookup]] =
      if (perDoc.schema("__id").dataType !=
            org.apache.spark.sql.types.LongType ||
          nReps * sigWidth * 8L > (1L << 30) ||
          shingleBytes > (2L << 30)) None
      else {
        val rows = timed("pairs: lookup collect")(
          perDoc.select(col("__id"), col("minhash_sig"), col("__sh"))
            .collect())
        java.util.Arrays.sort(rows,
          java.util.Comparator.comparingLong(
            (r: org.apache.spark.sql.Row) => r.getLong(0)))
        val n = rows.length
        val ids = new Array[Long](n)
        val sg = new Array[Array[Long]](n)
        val sh = new Array[Array[Long]](n)
        var i = 0
        while (i < n) {
          val r = rows(i)
          ids(i) = r.getLong(0)
          sg(i) = r.getSeq[Long](1).toArray
          sh(i) = r.getSeq[Long](2).toArray
          i += 1
        }
        Some(perDoc.sparkSession.sparkContext.broadcast(
          new RepLookup(ids, sg, sh)))
      }
  }

  /** Broadcast payload of [[RepSpace.lookup]]: rep ids (sorted), full-
    * width signatures, sorted hashed-shingle sets — positional, probed
    * by binary search. */
  private[operators] final class RepLookup(val ids: Array[Long],
      val sigs: Array[Array[Long]], val shs: Array[Array[Long]])
      extends Serializable {
    def idx(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** Session memo of collapsed rep spaces, keyed by the input plan —
    * the operator-layer twin of the query-layer scratch sharing
    * (`minhashPairsShared`): the identity collapse + fused signature
    * pass is the fixed cost of EVERY MinHash operator over a corpus
    * (measured ~6-7 s of each 8-9 s single-point run at sf0.1), and
    * component k of the signature depends only on k, so ONE pass at
    * the widest requested width serves every narrower caller by prefix
    * slice. Widest-wins: a wider request rebuilds and replaces (the
    * scratch path embeds the width, so a stale narrow table is never
    * read through a replaced entry). Scratch-parquet-backed rather
    * than persist()-pinned so a session-long cache costs disk, not
    * executor memory — this is the single-node shape of the 100 TB
    * discipline where the signature table is a PERSISTED corpus asset
    * computed once per ingest, not per query. Bounded LRU like
    * [[bandHistMemo]]: a shard-per-call caller (a crawl ingest) adds one
    * corpus per call, and an evicted entry is rebuilt on its next use. */
  private val repSpaceMemo =
    new graft.core.BoundedMemo[String, (Int, RepSpace)](16)

  /** Signature widths of the memoized rep spaces, least recently used
    * first (test seam). */
  private[graft] def repSpaceWidths: Seq[Int] = synchronized {
    repSpaceMemo.keysInAccessOrder.flatMap(repSpaceMemo.get).map(_._1)
  }

  /** Model-sized banding histograms, memoized per (rep space, band
    * shape): the (bucket size, count) histogram — and the incremental
    * path's batch-hit mass histogram below — are pure functions of
    * these; every BUDGET or cap rule is applied to them afterwards,
    * driver-side. So the budgeted walk's shape probes, the multi
    * audit's auto-cap derivation, and the incremental index-side cap
    * all share one banding aggregation per (corpus, shape) instead of
    * re-running it per query/budget. Keys hold the memoized RepSpace
    * instances (reference equality via the case class); bounded LRU
    * like every model cache. */
  private val bandHistMemo =
    new graft.core.BoundedMemo[(RepSpace, Int, Int), Array[(Long, Long)]](16)
  private def bandHistOf(rs: RepSpace, numHashes: Int, bands: Int)
      : Array[(Long, Long)] =
    bandHistMemo.getOrElseUpdate((rs, numHashes, bands),
      bucketHistogram(bandsOfSigs(rs.perDoc.select(col("__id"),
        slice(col("minhash_sig"), 1, numHashes).as("minhash_sig")),
        numHashes, bands)))
  private val massHistMemo =
    new graft.core.BoundedMemo[(RepSpace, RepSpace, Int, Int, Int),
      Array[(Long, Long)]](16)

  /** Count of equal positions of two equal-length long arrays — the
    * signature-estimate kernel, fused (zip_with/filter/size run
    * interpreted per element; at tens of millions of candidates the
    * Column form dominated the whole pair join). */
  private val sigEqCount: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Long], b: Array[Long]) =>
      // null-safe like the zip_with/filter/size Column form it replaced:
      // est 0 never passes the cutoff, matching the old null→filtered
      // semantics (all current call sites inner-join non-null sig
      // tables, but a nullable minhash_sig column must not NPE)
      if (a == null || b == null) 0
      else {
        var i = 0
        var eq = 0
        val n = math.min(a.length, b.length)
        while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
        eq
      }
    }

  private def minHashPairsCore(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int, bands: Int,
      jaccardThreshold: Double, capSpec: Either[Int, (Int, Double)]): DataFrame = {
    val rs = collapseToReps(docs, idCol, textCol, shingleLen, numHashes)
    val out = pairsFromRepSpace(rs, numHashes, bands, jaccardThreshold, capSpec)
    rs.release()
    out
  }

  /** Several LSH operating points over ONE shared identity collapse and
    * ONE fused signature pass: component k of the signature depends only
    * on k (an independent permutation `(a_k·h1 + b_k) mod (2⁶¹−1)` —
    * see [[minHashSignature]]), so every shorter signature is a PREFIX
    * of the widest one and the corpus is normalized, collapsed, shingled and hashed
    * exactly once at `max(numHashes)` and each setting merely slices
    * its prefix before banding. This is what makes a multi-setting
    * audit (dd_lsh_recall_report) cost one corpus pass plus per-setting
    * banding joins instead of one full pipeline per setting. Returned
    * pair frames are persisted and materialized (same contract as
    * [[minHashDupPairs]]).
    *
    * @param settings (label, numHashes, bands, capSpec) per operating
    *                 point; capSpec as in [[minHashPairsCore]].
    */
  def minHashDupPairsMulti(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, jaccardThreshold: Double,
      settings: Seq[(String, Int, Int, Either[Int, (Int, Double)])])
      : Map[String, DataFrame] = {
    require(settings.nonEmpty, "at least one LSH setting")
    require(settings.map(_._1).distinct.size == settings.size,
      s"duplicate setting labels in ${settings.map(_._1)} — .toMap would " +
      "silently keep only the last pipeline per label while every earlier " +
      "one stays persisted for the session's life")
    val maxHashes = settings.map(_._2).max
    val rs = collapseToReps(docs, idCol, textCol, shingleLen, maxHashes)
    val out = settings.map { case (label, nh, b, cap) =>
      label -> pairsFromRepSpace(rs, nh, b, jaccardThreshold, cap)
    }.toMap
    rs.release()
    out
  }

  private def collapseToReps(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int): RepSpace = synchronized {
    require(numHashes > 0, "numHashes must be positive")
    val memoKey = s"$idCol|$textCol|$shingleLen|${graft.core.Scratch.planKey(docs)}"
    repSpaceMemo.get(memoKey) match {
      case Some((w, rs)) if w >= numHashes => return rs
      case _ => ()
    }
    // Identity collapse (r13): one REPRESENTATIVE per distinct
    // normalized text — signatures, banding, the cap histogram, and
    // verification all run in representative space; member pairs fan
    // out only at EMISSION (same-text members are jaccard-1.0 duplicates
    // by definition, cross-rep member pairs inherit their reps' exact
    // jaccard). Two wins that matter at 100 TB: (a) a duplicate-heavy
    // corpus (the ScaleUp verbatim corpus: 100 identical copies per doc
    // — found by the sf10 board, where the uncollapsed candidate join
    // filled the disk) costs what its DISTINCT texts cost, because
    // copies never enter the bucket join; (b) identical-text pairs can
    // no longer be silently LOST to the mega-bucket cap — pre-collapse,
    // a big-enough cohort of byte-identical documents blew past the cap
    // and its (true, jaccard-1.0) pairs vanished from the output. The
    // cap now counts DISTINCT TEXTS per bucket, which is the
    // mega-bucket definition that was always intended (template
    // cohorts, not replication). Grouping key is the sha2-256 of the
    // normalized text (collision-construction-proof — dedup runs over
    // untrusted corpora, and the member fan-out joins on the key ALONE,
    // so the key must be safe to treat as the identity; md5 was not),
    // and the collapse shuffle moves 32-byte keys, not the corpus: the
    // text itself is shuffled exactly once (the groupBy that elects
    // representatives).
    // Persisted (r16): BOTH the rep election groupBy and the members
    // join read this frame — uncached, the corpus normalize UDF + sha2
    // ran twice (once building `reps`, once as the members-join probe
    // side). MEMORY_AND_DISK for the collapse's duration only.
    val withNorm = graft.core.Tables.scatter(docs)
      .select(col(idCol).as("__id"), normalizeText(col(textCol)).as("__norm"))
      .filter(col("__norm").isNotNull)
      .withColumn("__k", sha2(col("__norm").cast("binary"), 256))
      .persist()
    // Persisted: both `members` (the fan-out map) and `perDoc` (the
    // signature pass) consume reps — uncached, the representative
    // election (the one full-corpus text shuffle) would execute twice.
    // min(__norm) carries the text: all members of a __k group share
    // one normalized text by construction.
    val reps = withNorm.groupBy(col("__k"))
      .agg(min(col("__id")).as("__rid"), min(col("__norm")).as("__norm"))
      .persist()
    // Scratch-parquet both tables (width in the path so a widest-wins
    // rebuild never overwrites a frame an older plan might lazily
    // re-read); the banding, estimate, and verify branches all reuse
    // perDoc — uncached, the fused UDF would re-run once per DAG branch.
    // __k (the 32-byte identity key) rides along in both tables: the
    // asymmetric ingest path ([[minHashAgainstIndexCore]]) matches
    // identical texts ACROSS the batch/index boundary on it; the
    // within-corpus consumers simply never select it.
    val members = timed("collapse: members write")(graft.core.Scratch.materialize(
      withNorm.select(col("__k"), col("__id"))
        .join(reps.select(col("__k"), col("__rid")), Seq("__k"))
        .select(col("__k"), col("__rid"), col("__id")),
      "mh_members", memoKey))
    val perDoc = timed("collapse: perDoc write")(graft.core.Scratch.materialize(
      reps
        .select(col("__rid").as("__id"), col("__k"),
          sigAndHashedShingles(shingleLen, numHashes)(col("__norm")).as("__c"))
        .select(col("__id"), col("__k"),
          col("__c._1").as("minhash_sig"), col("__c._2").as("__sh")),
      "mh_perdoc", s"$memoKey|$numHashes"))
    // One aggregate over the written table measures the shingle payload
    // (long count × 8) so downstream join-vs-broadcast staging decisions
    // cost no extra job.
    val stats = timed("collapse: stats agg")(
      perDoc.agg(count(lit(1)), sum(size(col("__sh")))).head())
    val nReps = stats.getLong(0)
    val shingleBytes = (if (stats.isNullAt(1)) 0L else stats.getLong(1)) * 8L
    reps.unpersist()
    withNorm.unpersist()
    val rs = RepSpace(members, perDoc, nReps, shingleBytes, numHashes)
    repSpaceMemo.put(memoKey, (numHashes, rs))
    rs
  }

  /** One LSH operating point over an already-collapsed [[RepSpace]]:
    * band the signature PREFIX of width `numHashes`, cap mega-buckets,
    * estimate-prefilter, verify with exact hashed-shingle Jaccard, and
    * fan the verified rep pairs back out to member pairs. Returns a
    * persisted, materialized pair frame; does NOT release the shared
    * rep-space caches (the caller owns them — see
    * [[minHashDupPairsMulti]]).
    */
  private def pairsFromRepSpace(rs: RepSpace, numHashes: Int, bands: Int,
      jaccardThreshold: Double, capSpec: Either[Int, (Int, Double)]): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes — a remainder would " +
      "silently drop trailing signature components and lower recall")
    require(jaccardThreshold > 0,
      "threshold must be positive — the identity collapse emits " +
      "same-text pairs at jaccard 1.0 and null-text docs never pair, " +
      "which matches the uncollapsed semantics only for τ > 0")
    val rowsPerBand = numHashes / bands
    val members = rs.members
    // Prefix slice: component k is min over shingles of the k-th
    // independent permutation regardless of the total width, so a
    // narrower setting's signature is exactly the wider cache's prefix.
    val sigs = rs.perDoc.select(col("__id"),
      slice(col("minhash_sig"), 1, numHashes).as("minhash_sig"))
    val banded0 = sigs.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("minhash_sig"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string"))
      }: _*)).as(Seq("band", "band_hash")))
    // Degenerate mega-buckets (a band hash shared by a large fraction of
    // the corpus) are noise, not signal: they quadratically explode the
    // candidate join while contributing almost no true near-dups. Cap
    // them — the standard LSH skew guard at web scale. The cap is either
    // caller-fixed or derived from the measured histogram (auto path).
    val maxBucketSize = capSpec match {
      case Left(fixed) => fixed
      case Right((minOutlier, gapRatio)) =>
        // derive from the memoized per-shape histogram (identical to
        // autoBucketCap(banded0, ...): banded0 IS this shape's banding)
        timed(s"pairs: autoBucketCap nh=$numHashes")(
          autoBucketCapFromHist(bandHistOf(rs, numHashes, bands),
            minOutlier, gapRatio))
    }
    val bucketSizes = banded0.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
    val banded = banded0.join(bucketSizes, Seq("band", "band_hash"), "left_semi")
    val candRaw = banded.select(col("band"), col("band_hash"), col("__id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"), col("__id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // signature-estimate prefilter (slightly permissive vs the exact
    // threshold so borderline true pairs survive to verification).
    // The rep sig table is model-sized on any collapsed corpus; when it
    // fits a 1 GB broadcast budget (well under Spark's 8 GB broadcast
    // cap — ~1 M reps at 138 components), ship it to the candidates AND
    // run the estimate as a MAP-ONLY filter over the raw (still
    // band-duplicated) candidate stream, deduplicating only the
    // survivors: the alternative — dedup first, then est via joins —
    // sorts the FULL candidate mass (a 476 M-row sort at sf10-mutated
    // filled a 75 GB disk) and/or drags one 8·numHashes-byte array per
    // candidate through a shuffle (~77 GB at sf1-mutated). est is a
    // pure function of the pair, so filtering band-duplicates before
    // dedup returns the identical pair set. Past the broadcast bound
    // (DISTINCT texts in the many millions) the dedup-first shuffle
    // join remains — at that scale a deployment shards the candidate
    // join by rep-id range so each block's sig slice broadcasts.
    // NOTE both bounds here and below are raw PAYLOAD bytes; Spark
    // materializes a broadcast deserialized on the driver and every
    // executor with 2-4x object overhead, so the 1 GB / 2 GB constants
    // assume ≥ ~8-16 GB driver/executor heaps (this rig runs 128 GB;
    // a default 1 GB driver would OOM near the bound — size the
    // constants to ~1/16 of the smallest heap when porting).
    val estCutoff = math.max(0.0, jaccardThreshold - 0.25)
    val sigsSmall = rs.nReps * numHashes * 8L <= (1L << 30)
    def sigSide(idAs: String, sigAs: String) = {
      val s = sigs.select(col("__id").as(idAs), col("minhash_sig").as(sigAs))
      if (sigsSmall) broadcast(s) else s
    }
    def estFilter(pairs: DataFrame): DataFrame = pairs
      .join(sigSide("id_a", "sig_a"), Seq("id_a"))
      .join(sigSide("id_b", "sig_b"), Seq("id_b"))
      .withColumn("est",
        sigEqCount(col("sig_a"), col("sig_b")).cast("double") / numHashes)
      .filter(col("est") >= estCutoff)
      .select("id_a", "id_b")
    // Fused bucket-local candidate+est+verify (r17): when the rep
    // tables fit the documented broadcast bounds, the per-bucket pair
    // ENUMERATION, the signature-estimate prefilter and the exact
    // shingle verify all run in ONE tight loop per uncapped bucket,
    // probing the shared [[RepSpace.lookup]]. The r16 shape — bucket
    // self-join → per-candidate est UDF → dropDuplicates → per-pair
    // verify UDF — materialized every capped candidate as a row and
    // shuffled every est survivor: measured at sf1-mutated, the
    // R=0.99 audit point (54×27, cap 7608) enumerates 242 M candidate
    // rows of which est passes 124 M (51% — the prefilter barely
    // prunes at cutoff τ−0.25) while only 16 807 pairs verify; the est
    // UDF invocations, the 124 M-row distinct shuffle, and the 124 M
    // broadcast-probe verify calls were 52 s of wall for a 17 k-row
    // answer. Here the candidate stream never becomes rows: buckets
    // (≤ cap ids each, sorted) flatMap through an iterator that runs
    // the IDENTICAL est compare (same eq-count loop over the width
    // prefix, same eq/width ≥ cutoff double compare) and the IDENTICAL
    // two-pointer jaccard ([[jaccardOfSortedLongs]] arithmetic), so
    // only verified pairs materialize; duplicates across bands (est
    // and jaccard are pure functions of the pair, so every bucket
    // emits the same verdict) collapse in a distinct over the VERIFIED
    // set instead of the candidate set. Pair set and every jaccard
    // value are bit-identical to the join form; the shuffle cost drops
    // from O(capped candidates) to O(reps · bands + verified pairs).
    val repPairs = (rs.lookup match {
      case Some(bl) =>
        val width = numHashes
        val cutoff = estCutoff
        val tau = jaccardThreshold
        // The mega-bucket cap rides the same aggregation: bucket size
        // IS the collected list's size, so the count-groupBy +
        // semi-join of the classic shape (bucketSizes/banded) folds
        // into one exchange. Each surviving bucket is then SPLIT into
        // chunks of ≲2¹⁷ pairs (outer index i strided by chunk count —
        // a disjoint exact partition of the i<j pair space) and the
        // chunks round-robin-repartitioned to the session parallelism:
        // bucket rows are a few KB while their pair loops are C(n,2)
        // CPU, so AQE's byte-based coalescing otherwise folds the whole
        // corpus' pair work onto 1-2 post-shuffle partitions (measured
        // at sf0.1: 23.5 s → 12.8 s for one operating point just by
        // keeping the exchange wide), and a capped mega-bucket
        // (C(7608,2) ≈ 29 M pairs) otherwise lands on ONE core.
        // repartition with an explicit partition count is exempt from
        // AQE coalescing, and defaultParallelism keeps it
        // scale-adaptive rather than tuned to this rig.
        val chunkPairs = 1L << 17
        val sz = size(col("__ids")).cast("long")
        val buckets = banded0
          .groupBy(col("band"), col("band_hash"))
          .agg(collect_list(col("__id")).as("__ids"))
          .filter(size(col("__ids")) >= 2 &&
            size(col("__ids")) <= maxBucketSize)
          .select(col("__ids"),
            greatest(lit(1L),
              (sz * (sz - 1L) / 2L + (chunkPairs - 1L)) / chunkPairs)
              .cast("int").as("__nc"))
          .select(col("__ids"), col("__nc"),
            explode(sequence(lit(0), col("__nc") - 1)).as("__c"))
          .toDF("_1", "_2", "_3")
        val sess = buckets.sparkSession
        import sess.implicits._
        buckets
          .repartition(sess.sparkContext.defaultParallelism)
          .as[(Array[Long], Int, Int)]
          .flatMap { case (raw, nc, c) =>
            val l = bl.value
            val ids = raw.clone()
            java.util.Arrays.sort(ids)
            val m = ids.length
            // Hoist the broadcast lookups once per chunk: the inner
            // loop would otherwise re-run an O(log reps) binary search
            // (16 cache-missing probes at sf1m) per CANDIDATE.
            val asig = new Array[Array[Long]](m)
            val ash = new Array[Array[Long]](m)
            var t = 0
            while (t < m) {
              val x = l.idx(ids(t))
              if (x >= 0) { asig(t) = l.sigs(x); ash(t) = l.shs(x) }
              t += 1
            }
            // Smallest eq count passing the est compare — the integer
            // form of `eq/width >= cutoff` (finitely many eq values, so
            // this is EXACTLY the same predicate, enabling early
            // accept/reject inside the eq loop).
            var minEq = 0
            while (minEq.toDouble / width < cutoff && minEq <= width) minEq += 1
            new scala.collection.AbstractIterator[(Long, Long, Double)] {
              private var i = c - nc // advance() starts each row at i + nc
              private var j = m // forces the first advance to move i
              private var nxt: (Long, Long, Double) = _
              private var has = false
              advance()
              private def advance(): Unit = {
                has = false
                while (!has && i < m - 1) {
                  j += 1
                  if (j >= m) { i += nc; j = i + 1 }
                  if (i < m - 1 && j < m && (asig(i) ne null)) {
                    val b = asig(j)
                    if (b ne null) {
                      // est: the same eq/width >= cutoff predicate as
                      // the classic estOk probe, decided via minEq with
                      // early accept (eq can only grow) and early
                      // reject (eq + remaining < minEq can't recover)
                      val a = asig(i)
                      var k = 0; var eq = 0
                      val n = math.min(width, math.min(a.length, b.length))
                      var pass = minEq == 0 // cutoff 0 admits every pair
                      var undecided = !pass
                      while (undecided && k < n) {
                        if (a(k) == b(k)) {
                          eq += 1
                          if (eq >= minEq) { pass = true; undecided = false }
                        } else if (eq + (n - k - 1) < minEq) undecided = false
                        k += 1
                      }
                      // (a loop that runs out leaves eq < minEq: reject
                      // — same as eq/width < cutoff in the classic form)
                      if (pass) {
                        val sa = ash(i); val sb = ash(j)
                        val la = sa.length; val lb = sb.length
                        // length screen: real jac <= min/max and
                        // correctly-rounded division is monotone, so
                        // fl(min/max) < tau implies fl(jac) < tau —
                        // the pair cannot pass the final compare.
                        val lmin = math.min(la, lb); val lmax = math.max(la, lb)
                        if (lmax == 0 || lmin.toDouble / lmax >= tau) {
                          // verify: same arithmetic as
                          // [[jaccardOfSortedLongs]], with a guarded
                          // abandon: once inter + min(remaining) sits a
                          // FULL UNIT below the real-algebra requirement
                          // tau*(la+lb)/(1+tau), the final fl compare
                          // cannot pass (fp error is ~1 ulp, the margin
                          // is 1), so the merge stops scanning.
                          val needLow = tau * (la + lb) / (1.0 + tau) - 1.0
                          var p = 0; var q = 0; var inter = 0
                          var live = true
                          var guard = 64
                          while (live && p < la && q < lb) {
                            val u = sa(p); val v = sb(q)
                            if (u == v) { inter += 1; p += 1; q += 1 }
                            else if (u < v) p += 1
                            else q += 1
                            guard -= 1
                            if (guard == 0) {
                              guard = 64
                              if ((inter + math.min(la - p, lb - q)).toDouble
                                  < needLow) live = false
                            }
                          }
                          if (live) {
                            val union = la + lb - inter
                            val jac =
                              if (union == 0) 0.0 else inter.toDouble / union
                            if (jac >= tau) {
                              nxt = (ids(i), ids(j), jac); has = true
                            }
                          }
                        }
                      }
                    }
                  }
                }
              }
              def hasNext: Boolean = has
              def next(): (Long, Long, Double) = { val r = nxt; advance(); r }
            }
          }.toDF("id_a", "id_b", "jaccard")
          .dropDuplicates("id_a", "id_b")
      case _ =>
        // Staged tail, the path when the rep tables exceed the lookup
        // bounds or the ids are not long: est via sig joins or
        // broadcast-lookup-free staging, distinct over est survivors,
        // then the shingle-array verify join.
        val withSigs =
          if (sigsSmall) estFilter(candRaw).dropDuplicates("id_a", "id_b")
          else estFilter(candRaw.dropDuplicates("id_a", "id_b"))
        val shingles = rs.perDoc.select(col("__id"), col("__sh"))
        def shSide(idAs: String, shAs: String) = {
          val s = shingles.select(col("__id").as(idAs), col("__sh").as(shAs))
          if (rs.shingleBytes <= (2L << 30)) broadcast(s) else s
        }
        withSigs
          .join(shSide("id_a", "sh_a"), Seq("id_a"))
          .join(shSide("id_b", "sh_b"), Seq("id_b"))
          .withColumn("jaccard", jaccardOfSortedLongs(col("sh_a"), col("sh_b")))
    })
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
    // Emission fan-out of the identity collapse: cross-rep member pairs
    // inherit their representatives' exact jaccard (identical texts are
    // interchangeable), same-rep member pairs are jaccard-1.0 by
    // definition. Each (a, b) arises from exactly one rep pair (a doc
    // belongs to one rep), so no dedup is needed; the fan-out is
    // O(emitted rows) — the mandated output, not intermediate state.
    val crossPairs = repPairs
      .join(members.select(col("__rid").as("id_a"), col("__id").as("__ma")), Seq("id_a"))
      .join(members.select(col("__rid").as("id_b"), col("__id").as("__mb")), Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    val samePairs = members.select(col("__rid"), col("__id").as("id_a"))
      .join(members.select(col("__rid"), col("__id").as("id_b")), Seq("__rid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    // The verified pair set is tiny next to the per-doc cache; pin and
    // materialize it before the caller releases the rep-space caches —
    // otherwise the lazy pair DAG would recompute the whole collapse.
    val out = crossPairs.unionByName(samePairs).persist()
    timed(s"pairs: full pipeline nh=$numHashes b=$bands cap=$maxBucketSize")(
      out.count())
    out
  }

  /** Incremental MinHash dedup of a NEW batch against an EXISTING
    * corpus index — the continuous-ingest shape: the index side's
    * banded signatures are precomputed once (at scale, a persisted
    * table partitioned by (band, band_hash)), and each arriving batch
    * joins its own bands against the index only. Asymmetric by design:
    * no within-batch and no within-index pairs — those are [[
    * minHashDupPairs]]'s job at bootstrap; this is the steady-state
    * operator that keeps a trillion-token corpus deduplicated without
    * re-pairing it. Mirrors the reference's incremental ingestion
    * discipline (watermark loads, `tasks/tushare/tushare_stock_daily/
    * stock.py:124-150`) applied to near-dup state.
    *
    * The mega-bucket cap applies to INDEX-side buckets (the index is
    * the big side); batch buckets are batch-sized by construction.
    * Returns (new_id, index_id, jaccard) for verified matches.
    */
  def minHashDupAgainstIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int = 5, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.6, maxBucketSize: Int = 100): DataFrame =
    minHashAgainstIndexCore(index, batch, idCol, textCol, shingleLen,
      numHashes, bands, jaccardThreshold, Left(maxBucketSize))

  /** One fused (signature, hashed-shingle-set) pass over a batch — the
    * columns an incremental dedup index PERSISTS so steady-state ingest
    * never re-hashes previously indexed text (the "at scale, a
    * persisted table" shape [[minHashDupAgainstIndex]]'s scaladoc
    * promises; e2e_corpus_curation stores these next to the curated
    * rows and re-reads them as the index side of every later drop).
    * Returns (idCol, minhash_sig, shingles).
    */
  def minHashSigTable(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int): DataFrame =
    graft.core.Tables.scatter(docs)
      .select(col(idCol),
        sigAndHashedShingles(shingleLen, numHashes)(col(textCol)).as("__c"))
      .select(col(idCol), col("__c._1").as("minhash_sig"), col("__c._2").as("shingles"))

  /** Verified near-dup pairs WITHIN one precomputed signature table —
    * banding, optional mega-bucket cap, signature-estimate prefilter,
    * exact hashed-shingle verify; (id_a < id_b, jaccard). The sig/
    * shingle columns are [[minHashSigTable]]'s. No identity collapse:
    * callers on duplicate-heavy corpora want [[minHashDupPairs]]; this
    * is the primitive for pipelines that already own a signature store.
    */
  def minHashPairsWithinSigs(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, jaccardThreshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded0 = bandsOfSigs(sigs.select(col(idCol).as("__id"),
      col("minhash_sig")), numHashes, bands)
    val banded = cappedBands(banded0, maxBucketSize)
    val cand = banded.select(col("band"), col("band_hash"), col("__id").as("id_a"))
      .join(banded.select(col("band"), col("band_hash"), col("__id").as("id_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sigTable = sigs.select(col(idCol).as("__id"), col("minhash_sig"), col("shingles"))
    verifySigCandidates(cand, "id_a", "id_b", sigTable, sigTable,
      numHashes, jaccardThreshold)
  }

  /** Verified near-dup pairs BETWEEN a batch signature table and a
    * (typically persisted) index signature table — the steady-state
    * ingest join with zero re-hashing of index text. The candidate
    * keeps its (batch id, index id) orientation through estimation and
    * verification — each side joins ONLY its own signature table, so an
    * id that appears in both tables cannot fan the verify joins out or
    * cross-match rows (it yields the well-defined batch-row × index-row
    * pair instead; self pairs with equal ids are dropped). Returns
    * (id_a, id_b, jaccard) with id_a < id_b, ONE row per unordered
    * pair: when ids overlap between the tables a pair can band together
    * in BOTH orientations (batch x vs index y AND batch y vs index x),
    * and the two verifies may even compute different jaccards if the
    * same id carries different text per table — the final aggregate
    * keeps the MAX jaccard across orientations (deterministic, and the
    * identity when the orientations agree). Cap applies to index-side
    * buckets, as in [[minHashDupAgainstIndex]].
    */
  def minHashPairsBetweenSigs(batchSigs: DataFrame, indexSigs: DataFrame,
      idCol: String, numHashes: Int, bands: Int, jaccardThreshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val idxBanded = cappedBands(bandsOfSigs(
      indexSigs.select(col(idCol).as("__id"), col("minhash_sig")),
      numHashes, bands), maxBucketSize)
    val batchBanded = bandsOfSigs(batchSigs.select(col(idCol).as("__id"),
      col("minhash_sig")), numHashes, bands)
    val cand = batchBanded.select(col("band"), col("band_hash"), col("__id").as("__bid"))
      .join(idxBanded.select(col("band"), col("band_hash"), col("__id").as("__iid")),
        Seq("band", "band_hash"))
      .filter(col("__bid") =!= col("__iid"))
      .select("__bid", "__iid")
      .dropDuplicates("__bid", "__iid")
    verifySigCandidates(cand, "__bid", "__iid",
        batchSigs.select(col(idCol).as("__id"), col("minhash_sig"), col("shingles")),
        indexSigs.select(col(idCol).as("__id"), col("minhash_sig"), col("shingles")),
        numHashes, jaccardThreshold)
      .select(least(col("__bid"), col("__iid")).as("id_a"),
        greatest(col("__bid"), col("__iid")).as("id_b"), col("jaccard"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("jaccard")).as("jaccard"))
  }

  private def bandsOfSigs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rowsPerBand = numHashes / bands
    sigs.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("minhash_sig"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string"))
      }: _*)).as(Seq("band", "band_hash")))
  }

  /** Mega-bucket cap over a banded frame; Int.MaxValue skips the
    * histogram pass entirely (capless mode pays no extra shuffle). */
  private def cappedBands(banded0: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) banded0
    else {
      val ok = banded0.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n")
      banded0.join(ok, Seq("band", "band_hash"), "left_semi")
    }

  /** Optional driver-built lookup over an (__id, minhash_sig, shingles)
    * signature table — the [[RepSpace.lookup]] discipline for callers
    * that own a sig table instead of a rep space. Bounds and payload
    * are identical (1 GiB sigs / 2 GiB shingles, long ids); one
    * column-pruned stats aggregate decides, so the corpus-sized regime
    * pays one cheap pass and keeps the join staging. */
  /** Memoized per input plan (r16): within-corpus + cross-index calls
    * over the same batch frame (the e2e drop shape — within pairs, then
    * batch×index pairs) otherwise re-ran the stats aggregate and the
    * collect per call. planKey folds file mtimes, so a rewritten
    * scratch table mints a fresh entry. */
  private val sigLookupMemo = new graft.core.BoundedMemo[String,
    Option[org.apache.spark.broadcast.Broadcast[RepLookup]]](32)
  private def sigTableLookup(sigs: DataFrame)
      : Option[org.apache.spark.broadcast.Broadcast[RepLookup]] =
    sigLookupMemo.getOrElseUpdate(graft.core.Scratch.planKey(sigs),
      sigTableLookupBuild(sigs))

  private def sigTableLookupBuild(sigs: DataFrame)
      : Option[org.apache.spark.broadcast.Broadcast[RepLookup]] = {
    if (sigs.schema("__id").dataType !=
        org.apache.spark.sql.types.LongType) return None
    val st = sigs.agg(count(lit(1)),
      sum(size(col("minhash_sig"))), sum(size(col("shingles")))).head()
    val sigB = (if (st.isNullAt(1)) 0L else st.getLong(1)) * 8L
    val shB = (if (st.isNullAt(2)) 0L else st.getLong(2)) * 8L
    if (sigB > (1L << 30) || shB > (2L << 30)) None
    else {
      val rows = sigs.select(col("__id"), col("minhash_sig"), col("shingles"))
        .collect()
      java.util.Arrays.sort(rows,
        java.util.Comparator.comparingLong(
          (r: org.apache.spark.sql.Row) => r.getLong(0)))
      val n = rows.length
      val ids = new Array[Long](n)
      val sg = new Array[Array[Long]](n)
      val sh = new Array[Array[Long]](n)
      var i = 0
      while (i < n) {
        val r = rows(i)
        ids(i) = r.getLong(0)
        sg(i) = r.getSeq[Long](1).toArray
        sh(i) = r.getSeq[Long](2).toArray
        i += 1
      }
      Some(sigs.sparkSession.sparkContext.broadcast(new RepLookup(ids, sg, sh)))
    }
  }

  /** Shared est-prefilter + exact-verify tail over candidate id pairs —
    * staged like [[pairsFromRepSpace]]: when both signature tables fit
    * the broadcast-lookup bounds the candidate stream stays 16
    * bytes/row and the arrays are probed inside the UDFs (bit-identical
    * arithmetic); otherwise the estimate pass joins SIGNATURES only
    * (16·numHashes bytes/row) and shingle arrays move only for the
    * verified tail. Each candidate side uses its OWN signature table
    * (`sigsA` for `aCol`, `sigsB` for `bCol`) so two-table callers
    * stay well-defined even when an id appears in both tables;
    * single-table callers pass the same frame twice. */
  private def verifySigCandidates(cand: DataFrame, aCol: String, bCol: String,
      sigsA: DataFrame, sigsB: DataFrame,
      numHashes: Int, jaccardThreshold: Double): DataFrame = {
    val estCutoff = math.max(0.0, jaccardThreshold - 0.25)
    val la = sigTableLookup(sigsA)
    val lb = if (sigsA eq sigsB) la else sigTableLookup(sigsB)
    (la, lb) match {
      case (Some(ba), Some(bb)) =>
        val width = numHashes
        val cutoff = estCutoff
        val estOk = udf { (ia: Long, ib: Long) =>
          val a0 = ba.value; val b0 = bb.value
          val x = a0.idx(ia); val y = b0.idx(ib)
          x >= 0 && y >= 0 && {
            val a = a0.sigs(x); val b = b0.sigs(y)
            var i = 0
            var eq = 0
            val n = math.min(width, math.min(a.length, b.length))
            while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
            eq.toDouble / width >= cutoff
          }
        }
        val jac = udf { (ia: Long, ib: Long) =>
          val a0 = ba.value; val b0 = bb.value
          val x = a0.idx(ia); val y = b0.idx(ib)
          if (x < 0 || y < 0) 0.0
          else {
            val a = a0.shs(x); val b = b0.shs(y)
            if (a.isEmpty && b.isEmpty) 0.0
            else {
              var i = 0; var j = 0; var inter = 0
              while (i < a.length && j < b.length) {
                val u = a(i); val v = b(j)
                if (u == v) { inter += 1; i += 1; j += 1 }
                else if (u < v) i += 1
                else j += 1
              }
              val union = a.length + b.length - inter
              if (union == 0) 0.0 else inter.toDouble / union
            }
          }
        }
        cand.filter(estOk(col(aCol), col(bCol)))
          .withColumn("jaccard", jac(col(aCol), col(bCol)))
          .filter(col("jaccard") >= jaccardThreshold)
          .select(col(aCol), col(bCol), col("jaccard"))
      case _ =>
        val est = cand
          .join(sigsA.select(col("__id").as(aCol), col("minhash_sig").as("__siga")), Seq(aCol))
          .join(sigsB.select(col("__id").as(bCol), col("minhash_sig").as("__sigb")), Seq(bCol))
          .withColumn("est",
            sigEqCount(col("__siga"), col("__sigb")).cast("double") / numHashes)
          .filter(col("est") >= estCutoff)
          .select(aCol, bCol)
        est
          .join(sigsA.select(col("__id").as(aCol), col("shingles").as("__sha")), Seq(aCol))
          .join(sigsB.select(col("__id").as(bCol), col("shingles").as("__shb")), Seq(bCol))
          .withColumn("jaccard", jaccardOfSortedLongs(col("__sha"), col("__shb")))
          .filter(col("jaccard") >= jaccardThreshold)
          .select(col(aCol), col(bCol), col("jaccard"))
    }
  }

  /** [[minHashDupAgainstIndex]] at the DERIVED operating point — the
    * same discipline as [[minHashDupPairsAuto]]: (rowsPerBand, bands)
    * analytically from (τ, targetRecall), the index-side mega-bucket
    * cap from the measured bucket-size histogram's largest relative
    * gap. The steady-state ingest operator thereby inherits the
    * bootstrap operator's recall guarantee instead of a hand-set knob
    * calibrated for a different band shape.
    *
    * Candidate-mass bound (r16): the asymmetric join's mass is linear
    * in the BATCH by construction — each batch-rep band row probes one
    * index bucket of cap-surviving size ≤ cap, so candidates
    * ≤ batchReps × bands × cap. That bound is only as good as the cap:
    * on a knee-less histogram (the mutated scale corpus) the gap rule
    * degenerates to cap = max bucket size, and the first sf10-mutated
    * run of this path filled a 62 GB disk through exactly that hole.
    * So the auto path carries the budget construction after all —
    * `budgetPairsPerBatchRep` (default 1024) measures the EXACT
    * pre-join mass from the (index bucket size, batch hits) histogram
    * (mass = Σ n·hits, the asymmetric analogue of the self-join's
    * Σ C(n,2)) and lowers the cap until candidates ≤ budget × batchReps
    * BY CONSTRUCTION; identical batch/index texts still pair
    * unconditionally below the cap, so the recall floor survives even
    * the cap-1 floor. (Measured: dd_incremental_index at sf10-mutated
    * in BASELINE.md r16.)
    */
  def minHashDupAgainstIndexAuto(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int = 5, jaccardThreshold: Double = 0.6,
      targetRecall: Double = 0.99, maxBands: Int = 64,
      minOutlierBucket: Int = 16, outlierGapRatio: Double = 1.5,
      budgetPairsPerBatchRep: Long = 1024L): DataFrame = {
    val (r, b) = lshAutoShape(jaccardThreshold, targetRecall, maxBands)
    minHashAgainstIndexCore(index, batch, idCol, textCol, shingleLen,
      r * b, b, jaccardThreshold, Right((minOutlierBucket, outlierGapRatio)),
      Some(budgetPairsPerBatchRep))
  }

  // r14, found by the full sf10 board: the asymmetric ingest join now
  // runs the SAME identity collapse as minHashPairsCore, on BOTH sides.
  // On a duplicate-heavy corpus (the verbatim ScaleUp corpus: 100
  // identical copies per text) the uncollapsed batch×index bucket join
  // exploded multiplicatively in copy counts — 1147 s at sf10 at the
  // auto point — while the collapsed pipeline pays for DISTINCT texts
  // and fans members out only at emission. Same two recall wins as the
  // bootstrap fix: identical batch/index texts pair UNCONDITIONALLY
  // (pre-collapse a big-enough identical cohort blew past the cap and
  // its jaccard-1.0 matches silently vanished), and the index-side cap
  // counts DISTINCT texts — the mega-bucket definition intended all
  // along.
  private def minHashAgainstIndexCore(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int, bands: Int,
      jaccardThreshold: Double, capSpec: Either[Int, (Int, Double)],
      budgetPairsPerBatchRep: Option[Long] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    require(jaccardThreshold > 0,
      "threshold must be positive — identical batch/index texts emit " +
      "unconditionally at jaccard 1.0, which matches the uncollapsed " +
      "semantics only for τ > 0")
    val rowsPerBand = numHashes / bands
    // r16: both sides run the SHARED identity collapse + fused signature
    // pass ([[collapseToReps]] — scratch-parquet-backed, session-
    // memoized). The index side of a steady-state ingest IS the corpus
    // the within-corpus family already collapsed, so the board's
    // incremental queries inherit that signature asset by memo instead
    // of re-normalizing and re-hashing the corpus per query — the
    // single-node shape of "the index side's banded signatures are
    // precomputed once" this scaladoc always promised.
    val iRs = collapseToReps(index, idCol, textCol, shingleLen, numHashes)
    val bRs = collapseToReps(batch, idCol, textCol, shingleLen, numHashes)
    val iMem = iRs.members
    val bMem = bRs.members
    // identical texts across the boundary: every (batch member, index
    // member) pair, unconditionally — banding and the cap never see them
    val samePairs = bMem.select(col("__k"), col("__id").as("new_id"))
      .join(iMem.select(col("__k"), col("__id").as("index_id")), Seq("__k"))
      .select(col("new_id"), col("index_id"), lit(1.0).as("jaccard"))
    // prefix-slice each side's (possibly wider) memoized signature
    def perDocOf(rs: RepSpace) = rs.perDoc
      .select(col("__id"), col("__k"),
        slice(col("minhash_sig"), 1, numHashes).as("sig"), col("__sh"))
    def bandedOf(sigs: DataFrame) = sigs.select(col("__id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string"))
      }: _*)).as(Seq("band", "band_hash")))
    val idxDoc = perDocOf(iRs)
    val newDoc = perDocOf(bRs)
    val idxBand0 = bandedOf(idxDoc.select(col("__id"), col("sig")))
    // r16: the index-side bucket histogram is a pure function of the
    // rep space and the band shape — callers that differ only in the
    // BUDGET applied to it (dd_incremental_index vs _budget run the
    // same corpus at budget 1024 vs 4) re-ran the full banding
    // aggregation to re-derive the same model-sized array. Session-
    // memoized like the rep spaces themselves.
    val idxHist = bandHistOf(iRs, numHashes, bands)
    val gapCap = capSpec match {
      case Left(fixed) => fixed
      case Right((minOutlier, gapRatio)) =>
        autoBucketCapFromHist(idxHist, minOutlier, gapRatio)
    }
    val bucketN = idxBand0.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= gapCap)
      .persist()
    val newBand = bandedOf(newDoc.select(col("__id"), col("sig")))
    // Budget-derived cap refinement (r16, found by the sf10m run that
    // filled the disk): on a knee-less bucket histogram the gap rule
    // degenerates to cap = max bucket size, and the batch×index join's
    // mass — linear in the batch but ∝ cap — can still explode. The
    // EXACT mass is measurable before the join: each batch band row
    // matched to an index bucket of (cap-surviving) size n contributes
    // n candidates, so the (n, hits) histogram's running sum gives the
    // largest cap whose total mass fits budget·batchReps — candidates
    // ≤ budget × batchReps BY CONSTRUCTION, the incremental twin of
    // minHashDupPairsBudgeted's tier-3 rule (floor 1: identical texts
    // still pair unconditionally below).
    val nBatchReps = bRs.nReps
    val maxBucketSize = budgetPairsPerBatchRep match {
      case None => gapCap
      case Some(budget) =>
        // the (bucket size, batch hits) mass histogram is likewise
        // budget-INDEPENDENT (the budget is applied to it afterwards,
        // in budgetCapFromMassHist) — memoize it so the probe join
        // runs once per (index, batch, shape), not once per budget
        val hits = massHistMemo.getOrElseUpdate(
          (iRs, bRs, numHashes, bands, gapCap),
          sortedHist(newBand.select(col("band"), col("band_hash"))
            .join(bucketN, Seq("band", "band_hash"))
            .groupBy(col("__n")).agg(count(lit(1)).as("__m"))))
        math.min(gapCap.toLong,
          budgetCapFromMassHist(hits, budget * nBatchReps).toLong).toInt
    }
    val okBuckets = bucketN.filter(col("__n") <= maxBucketSize)
      .drop("__n")
    val idxBand = idxBand0.join(okBuckets, Seq("band", "band_hash"), "left_semi")
    // same-text rep pairs are spoken for (emitted above at 1.0): drop
    // them by anti-joining the (model-sized) identical-key rep pairs
    // instead of dragging 32-byte identity keys through the candidate
    // stream
    val sameRepPairs = bRs.perDoc.select(col("__k"), col("__id").as("new_rid"))
      .join(iRs.perDoc.select(col("__k"), col("__id").as("index_rid")), Seq("__k"))
      .select("new_rid", "index_rid")
    val cand = newBand.select(col("band"), col("band_hash"), col("__id").as("new_rid"))
      .join(idxBand.select(col("band"), col("band_hash"), col("__id").as("index_rid")),
        Seq("band", "band_hash"))
      .select("new_rid", "index_rid")
      .dropDuplicates("new_rid", "index_rid")
      .join(sameRepPairs, Seq("new_rid", "index_rid"), "left_anti")
    // est/verify staging (r16 — the sf10m disk-fill's second half): the
    // batch side is model-sized by definition, so BROADCAST it under
    // the same 1 GiB payload bound as the within-corpus path; the index
    // side's array payload is corpus-sized, so force a SHUFFLE_HASH
    // join — a sort-merge join would sort gigabytes of sig/shingle
    // ARRAYS per candidate (the measured failure), where a hash join
    // moves each side exactly once and streams the probe.
    val batchSmall = nBatchReps * numHashes * 8L <= (1L << 30)
    def newSide(c1: String, as1: String) = {
      val s = newDoc.select(col("__id").as("new_rid"), col(c1).as(as1))
      if (batchSmall) broadcast(s) else s.hint("SHUFFLE_HASH")
    }
    def idxSide(c1: String, as1: String) =
      idxDoc.select(col("__id").as("index_rid"), col(c1).as(as1))
        .hint("SHUFFLE_HASH")
    val estCutoff = math.max(0.0, jaccardThreshold - 0.25)
    // Candidate-local est + verify when BOTH sides' rep tables fit the
    // documented broadcast bounds (same rule and same arithmetic as the
    // within-corpus [[pairsFromRepSpace]] fast path): the candidate
    // stream stays 16 bytes/row and the arrays are probed from the two
    // shared lookups instead of materialized per candidate through four
    // joins. Past the bounds (the sf10m regime) the broadcast/
    // SHUFFLE_HASH staging below remains — nothing wide is ever sorted.
    val repPairs = ((iRs.lookup, bRs.lookup) match {
      case (Some(il), Some(bl)) =>
        val width = numHashes
        val cutoff = estCutoff
        val estOk = udf { (ib: Long, ii: Long) =>
          val lb = bl.value; val li = il.value
          val x = lb.idx(ib); val y = li.idx(ii)
          x >= 0 && y >= 0 && {
            val a = lb.sigs(x); val b = li.sigs(y)
            var i = 0
            var eq = 0
            val n = math.min(width, math.min(a.length, b.length))
            while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
            eq.toDouble / width >= cutoff
          }
        }
        val jac = udf { (ib: Long, ii: Long) =>
          val lb = bl.value; val li = il.value
          val x = lb.idx(ib); val y = li.idx(ii)
          if (x < 0 || y < 0) 0.0
          else {
            val a = lb.shs(x); val b = li.shs(y)
            if (a.isEmpty && b.isEmpty) 0.0
            else {
              var i = 0; var j = 0; var inter = 0
              while (i < a.length && j < b.length) {
                val u = a(i); val v = b(j)
                if (u == v) { inter += 1; i += 1; j += 1 }
                else if (u < v) i += 1
                else j += 1
              }
              val union = a.length + b.length - inter
              if (union == 0) 0.0 else inter.toDouble / union
            }
          }
        }
        cand.filter(estOk(col("new_rid"), col("index_rid")))
          .withColumn("jaccard", jac(col("new_rid"), col("index_rid")))
      case _ =>
        cand
          .join(newSide("sig", "sig_n"), Seq("new_rid"))
          .join(idxSide("sig", "sig_i"), Seq("index_rid"))
          .withColumn("est",
            sigEqCount(col("sig_n"), col("sig_i")).cast("double") / numHashes)
          .filter(col("est") >= estCutoff)
          .select("new_rid", "index_rid")
          .join(newSide("__sh", "sh_n"), Seq("new_rid"))
          .join(idxSide("__sh", "sh_i"), Seq("index_rid"))
          .withColumn("jaccard", jaccardOfSortedLongs(col("sh_n"), col("sh_i")))
    })
      .filter(col("jaccard") >= jaccardThreshold)
      .select("new_rid", "index_rid", "jaccard")
    // emission fan-out: cross-rep member pairs inherit their reps' exact
    // jaccard (identical texts are interchangeable)
    val crossPairs = repPairs
      .join(bMem.select(col("__rid").as("new_rid"), col("__id").as("new_id")),
        Seq("new_rid"))
      .join(iMem.select(col("__rid").as("index_rid"), col("__id").as("index_id")),
        Seq("index_rid"))
      .select(col("new_id"), col("index_id"), col("jaccard"))
    val out = crossPairs.unionByName(samePairs).persist()
    timed(s"against-index: full pipeline nh=$numHashes b=$bands " +
      s"cap=$maxBucketSize")(out.count())
    bucketN.unpersist()
    iRs.release(); bRs.release()
    out
  }

  /** 60-bit SimHash of words: per-bit weighted vote packed into a long;
    * near-dups differ in few bits (hamming distance). 60 bits because the
    * word hash is the MD5-window `h1` ([[graft.functions.Md5Hash]]),
    * which the DuckDB oracle recomputes exactly. Single-pass Scala UDF —
    * the pure-Column form needs one `aggregate()` traversal per bit,
    * which blows up codegen; one fused pass is ~10× faster and still
    * executor-local (no shuffle).
    */
  val simHashBits = 60

  private val simHash64 = udf { text: String =>
    if (text == null) 0L
    else {
      val votes = new Array[Int](simHashBits)
      text.toLowerCase.split("\\s+").foreach { w =>
        if (w.nonEmpty) {
          val h = graft.functions.Md5Hash.h1h2Cached(w)._1
          var bit = 0
          while (bit < simHashBits) {
            if (((h >>> bit) & 1L) != 0L) votes(bit) += 1 else votes(bit) -= 1
            bit += 1
          }
        }
      }
      var out = 0L
      var bit = 0
      while (bit < simHashBits) { if (votes(bit) > 0) out |= (1L << bit); bit += 1 }
      out
    }
  }

  def simHash(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("simhash", simHash64(col(textCol)))

  /** SimHash near-dup pairs: split the 60-bit signature into `bands`
    * 15-bit keys; documents sharing ANY band key are candidates
    * (pigeonhole: hamming ≤ bands-1 guarantees at least one equal band,
    * so recall is exact for the default maxHamming=3 / bands=4); verify
    * with `bit_count(xor)`. The candidate join shuffles only
    * (band, 15-bit key, id); mega-buckets (e.g. empty-text signature 0)
    * are capped like [[minHashDupPairs]].
    */
  def simHashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    // Persisted: the banding branch and both verification joins would
    // otherwise re-run the per-word hash over the whole corpus 3×.
    val sigs = simHash(graft.core.Tables.scatter(docs), textCol)
      .select(col(idCol).as("__id"), col("simhash"))
      .persist()
    bandedHammingPairs(sigs, maxHamming, bands, maxBucketSize)
  }

  /** Banded hamming self-join over an already-computed 60-bit signature
    * frame (`__id`, `simhash`) — shared by the text SimHash path above
    * and the media perceptual-hash path
    * ([[graft.streaming.MultimodalPipeline]]). Expects `sigs` persisted;
    * unpersists it before returning the persisted pair set.
    */
  private[graft] def bandedHammingPairs(sigs: DataFrame,
      maxHamming: Int, bands: Int, maxBucketSize: Int,
      blockCol: Option[String] = None): DataFrame = {
    require(simHashBits % bands == 0,
      s"bands=$bands must divide $simHashBits signature bits — a remainder " +
      "would leave trailing bits un-banded and break the pigeonhole recall bound")
    val bandBits = simHashBits / bands
    val mask = (1L << bandBits) - 1
    // An optional blocking column joins the band-bucket key: rows in
    // different blocks (e.g. media formats whose fingerprints live in
    // incomparable spaces) can never bucket together, so cross-block
    // pairs are impossible by construction rather than improbable.
    val bkCols = Seq("band", "bk") ++ blockCol
    val banded0 = sigs.select(col("__id") +: blockCol.map(col).toSeq :+
      posexplode(array((0 until bands).map { b =>
        shiftrightunsigned(col("simhash"), b * bandBits).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bk")): _*)
    val ok = banded0.groupBy(bkCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucketSize).drop("__n")
    val banded = banded0.join(ok, bkCols, "left_semi")
    val pairs = banded.select(bkCols.map(col) :+ col("__id").as("id_a"): _*)
      .join(banded.select(bkCols.map(col) :+ col("__id").as("id_b"): _*),
        bkCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(sigs.select(col("__id").as("id_a"), col("simhash").as("__sa")), Seq("id_a"))
      .join(sigs.select(col("__id").as("id_b"), col("simhash").as("__sb")), Seq("id_b"))
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    val out = pairs.persist()
    out.count()
    sigs.unpersist()
    out
  }

  /** Jaccard over two precomputed shingle-set columns. Compute the
    * shingle arrays once per document BEFORE any pairwise join — inlining
    * the shingle expression in a pair filter re-tokenizes every document
    * once per candidate pair. Single-pass UDF: `array_intersect` +
    * `array_union` are interpreted (two hash-set builds each) and carry
    * no codegen benefit; one fused pass halves the per-pair work.
    */
  val jaccardOfSets: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[String], b: Seq[String]) =>
      if (a == null || b == null) 0.0
      else {
        val sa = new java.util.HashSet[String](a.size * 2)
        a.foreach(sa.add)
        var inter = 0
        val union = new java.util.HashSet[String](sa)
        b.foreach { s => if (sa.contains(s)) inter += 1; union.add(s) }
        if (union.isEmpty) 0.0 else inter.toDouble / union.size
      }
    }

  /** Distinct char n-gram shingles of normalized text — fused pass
    * (see [[minHashSignature]] for why not Column algebra). */
  def charShingleSet(shingleLen: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else {
        val norm = text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
        val n = math.max(norm.length - shingleLen + 1, 1)
        val seen = new java.util.LinkedHashSet[String](n * 2)
        var i = 0
        while (i < n) {
          seen.add(norm.substring(i, math.min(i + shingleLen, norm.length))); i += 1
        }
        seen.toArray(Array.empty[String])
      }
    }

  /** Distinct word n-gram shingles — fused pass. */
  def wordShingleSet(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val count = math.max(toks.length - n, 0) + 1
        val seen = new java.util.LinkedHashSet[String](count * 2)
        var i = 0
        while (i < count) {
          seen.add(toks.slice(i, math.min(i + n, toks.length)).mkString(" ")); i += 1
        }
        seen.toArray(Array.empty[String])
      }
    }

  /** N-gram Jaccard similarity of two text columns (exact; small inputs
    * or already-pruned candidate sets only — see [[jaccardOfSets]]). */
  def ngramJaccard(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    jaccardOfSets(TextFunctions.wordShingles(a, n), TextFunctions.wordShingles(b, n))

  /** Cross-document duplicated-PASSAGE detection — the exact-substring
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), re-expressed relationally: instead of a
    * suffix array (single-machine construction, random-access scans),
    * fingerprint every token n-gram, keep fingerprints seen in ≥ minDf
    * DISTINCT documents, and merge each document's hit positions into
    * maximal spans with a gaps-and-islands window. The output names the
    * byte-free token span `[span_start, span_end]` (1-based, inclusive)
    * to cut from each document — the whole-doc dedup family above can't
    * see a boilerplate paragraph shared by otherwise-distinct pages;
    * this operator is what removes it.
    *
    * Shape at 100 TB: tokenize+hash is map-only; the only wide exchanges
    * are (a) one partial-aggregated count-distinct-ish shuffle on the
    * 32-hex fingerprint (an approx_count_distinct-style two-level
    * groupBy keeps it partial-aggregatable) and (b) one fingerprint-keyed
    * semi-join back to positions. Token arrays never shuffle — only
    * (doc_id, pos, 16-byte hash) triples do. The island merge is a
    * per-doc window: one sort inside the doc partition.
    *
    * Adjacent-or-overlapping hits merge when `pos − prev ≤ n` (touching
    * spans form one contiguous duplicated region of text).
    */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDf: Int = 2): DataFrame = {
    require(n >= 2 && n <= 64, s"n-gram length $n out of range")
    require(minDf >= 2, s"minDf=$minDf must be >= 2 (cross-doc means >1 doc)")
    val grams = gramFingerprints(docs, idCol, textCol, n)
    // Single pass over the gram stream (tokenize+hash runs ONCE — at
    // corpus scale re-scanning or scratch-writing the 8×-exploded gram
    // set is the dominant cost): fold each (h, doc)'s positions into one
    // row, window-count the document frequency over h, and explode the
    // survivors back to hit positions. Each (doc, pos) carries exactly
    // one gram, so the explode needs no re-dedup. Skew note: the window
    // puts all docs sharing one fingerprint in one task — 12 bytes/row,
    // so even a 10M-doc boilerplate gram is ~120 MB; beyond that,
    // pre-filter known stop-passages the way the LSH path caps
    // mega-buckets.
    val byGramDoc = grams.groupBy(col("h"), col("doc_id"))
      .agg(collect_list(col("pos")).as("__ps"))
    val hits = byGramDoc
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__df") >= minDf)
      .select(col("doc_id"), explode(col("__ps")).as("pos"))
    // Gaps-and-islands: new island when the previous hit is > n back.
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") > col("__prev") + n, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** The (doc_id, pos, h) token-n-gram fingerprint stream — the shared
    * front half of the exact-substring dedup family. Fused per-doc
    * kernel (the simhash/shingle pattern: higher-order Column forms run
    * interpreted): one UDF pass emits every (1-based pos, 16-byte md5)
    * fingerprint. Binary hashes, not hex — half the bytes through every
    * downstream exchange. `distinct` of the `h` column IS the
    * persistable corpus gram index (see [[crossDocSpansAgainstIndex]]).
    */
  def gramFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val kernel = udf { text: String =>
      if (text == null) Array.empty[(Int, Array[Byte])]
      else {
        val ts = text.split("\\s+").filter(_.nonEmpty)
        if (ts.length < n) Array.empty[(Int, Array[Byte])]
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          Array.tabulate(ts.length - n + 1) { i =>
            md.reset()
            var j = i
            while (j < i + n) {
              if (j > i) md.update(' '.toByte)
              md.update(ts(j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              j += 1
            }
            (i + 1, md.digest())
          }
        }
      }
    }
    docs
      .select(col(idCol).as("doc_id"), explode(kernel(col(textCol))).as("g"))
      .select(col("doc_id"), col("g._1").as("pos"), col("g._2").as("h"))
  }

  /** Incremental exact-substring dedup — [[crossDocSpans]]'s
    * batch-vs-corpus production shape (the [[minHashDupAgainstIndex]]
    * contract): `index` is the persisted DISTINCT gram-fingerprint set
    * of the accepted corpus (column `h`, 16-byte binary); the batch's
    * spans that replicate ANY corpus passage come back for scrubbing
    * before the batch is admitted. One semi-join on the fingerprint —
    * the corpus text never re-tokenizes, only its hash set is read.
    */
  def crossDocSpansAgainstIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    require(n >= 2 && n <= 64, s"n-gram length $n out of range")
    val grams = gramFingerprints(batch, idCol, textCol, n)
    val hits = grams.join(index.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") > col("__prev") + n, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__island")
  }

  /** The removal half of [[crossDocSpans]] — Lee et al. cut EVERY
    * occurrence of a duplicated substring (ExactSubstr, §4.1: dropping
    * all copies measurably beats keep-one for LM training); this
    * rebuilds each document's text with all duplicated-span tokens
    * removed. Returns every input document (scrubbed or untouched):
    * (doc_id, n_before, n_removed, clean_text).
    *
    * Shape: the span table is output-sized (duplicated regions only);
    * positions explode to O(duplicated tokens); one anti-join on
    * (doc, pos) and one per-doc fold (sort_array over collected
    * (pos, token) structs — per-doc bounded) reassemble the text.
    */
  def scrubCrossDocSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDf: Int = 2): DataFrame = {
    val spans = crossDocSpans(docs, idCol, textCol, n, minDf)
    // Islands are merged, so per-doc ranges never overlap: no re-dedup.
    val dropped = spans.select(col("doc_id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__i", "tok")))
      .select(col("doc_id"), (col("__i") + 1).cast("long").as("pos"), col("tok"))
    val kept = toks.join(dropped, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s("tok"))).as("__clean"))
    docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_before"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_before"),
        (col("n_before") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Connected components over a near-dup pair list → dedup GROUPS (the
    * step after [[minHashDupPairs]]/[[simHashDupPairs]]: "keep one doc
    * per cluster" needs the cluster, not the pairs). Distributed
    * min-label propagation: each round every node takes the smallest
    * component id among itself and its neighbours; converges in
    * diameter(G) rounds — LSH dup clusters are near-cliques, so a
    * handful in practice, with `maxIter` as the runaway bound. Each
    * round is one join + one groupBy on (edge, label) tables that only
    * carry two longs per row; the corpus text never enters the loop.
    *
    * Returns (id, component) with component = min id in the cluster;
    * only ids that appear in `pairs` are returned (singletons are their
    * own trivial cluster).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, smallGraphEdges: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    val spark = pairs.sparkSession
    val nEdges = sym.count()
    // Broadcast-join philosophy: LSH-verified dup pairs are a sliver of
    // the corpus (≈0.1% of docs pair up), so the edge list usually fits
    // the driver even when the corpus is 100 TB — union-find there costs
    // one collect instead of diameter× join rounds. The distributed loop
    // below remains the path for genuinely huge pair graphs.
    if (nEdges <= smallGraphEdges) {
      import spark.implicits._
      val es = sym.collect().map(r => (r.getLong(0), r.getLong(1)))
      sym.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      return ids.map(id => (id, find(id))).toDF("id", "comp")
    }
    // The loop state is two-long rows; size its shuffle width to the
    // edge count (≥100k edges/partition) instead of paying core-count
    // partitions of per-round scheduling overhead on a small pair list.
    val parts = math.max(4, math.min(spark.sparkContext.defaultParallelism,
      (nEdges / 100000L).toInt + 1))
    graft.streaming.TickBarStream.withShufflePartitions(spark, parts) {
      // Each round MUST truncate lineage (localCheckpoint), not just
      // cache: the next label frame references the previous one twice, so
      // an uncheckpointed loop doubles the logical plan per round and OOMs
      // the driver on analysis long before the data is big.
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")).localCheckpoint(true)
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val nbrMin = sym.join(labels, sym("dst") === labels("id"))
          .groupBy(sym("src").as("nid")).agg(min(col("comp")).as("nbr_comp"))
        val next = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(labels("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
          .localCheckpoint(true)
        changed = next
          .join(labels.withColumnRenamed("comp", "__old"), Seq("id"))
          .filter(col("comp") =!= col("__old")).count()
        labels = next
        iter += 1
      }
      sym.unpersist()
      labels
    }
  }

  /** Exact Jaccard threshold self-join via prefix filtering — the
    * AllPairs/PPJoin candidate-pruning family (Bayardo et al., WWW'07;
    * Xiao et al., WWW'08) re-expressed relationally. Unlike the
    * MinHash-LSH path this is EXACT (no false negatives, no probability
    * knob): every pair with Jaccard(shingles_a, shingles_b) >= tau is
    * returned with its true similarity, but instead of the O(n²) cross
    * join the candidate space is cut with two published filters:
    *
    *  - prefix filter: order every document's shingle set by GLOBAL
    *    document frequency (rarest first; ties by shingle). If
    *    J(A,B) >= tau then |A∩B| >= ceil(tau·|A|), so A and B must share
    *    at least one shingle inside the first |A| − ceil(tau·|A|) + 1
    *    shingles of A's ordering. Only those prefix shingles are emitted
    *    as join keys — the overwhelmingly-common tail shingles (which
    *    would explode the candidate count) never leave the document row.
    *  - length filter: J(A,B) >= tau forces
    *    tau·|A| <= |B| <= |A|/tau; applied inside the join condition so
    *    mismatched-size candidates die before the distinct.
    *
    * Every exchange is keyed on a scalar (shingle or doc id) — the
    * 100 TB shape: the document-frequency table is vocabulary-sized and
    * flows through a shuffle JOIN (never a broadcast of corpus-sized
    * state), prefix emission is ~(1−tau)·|set| keys per doc, and exact
    * verification runs once per surviving candidate pair via two
    * id-keyed joins back to the full shingle sets.
    *
    * Reference behavior anchor: the same near-dup surface the reference
    * exposes via pairwise merge checks (`tasks/utils/check.py`'s
    * df-compare loops), here as one declarative plan.
    *
    * Floating-point soundness: every `ceil(tau·n)`-shaped bound is
    * computed with a 1e-9 slack BELOW the product before the ceil (and
    * the symmetric slack on ≤ comparisons). `0.9 * 10` is
    * 9.000000000000002 in binary — a naive ceil returns 10, silently
    * shortening the prefix (or tightening the length filter) by one and
    * DROPPING true pairs that sit exactly on the threshold. The slack
    * can only loosen a bound when the true product is within 1e-9 of an
    * integer, which for shingle-set sizes means it IS that integer —
    * so the filters stay sound and tight. [[ceilSlack]].
    */
  private def ceilSlack(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ceil(x - lit(1e-9))

  /** Identity-collapse pre-pass shared by the exact pair joins
    * ([[prefixFilterPairs]], [[containmentPairs]]).
    *
    * Real crawl corpora are duplicate-DENSE: mirrors, boilerplate and
    * re-posts make byte-identical groups of hundreds of members, and any
    * pair operator that feeds whole identity groups through its
    * candidate machinery pays the group's k² output *through every
    * stage* (prefix emission, candidate join, verification) — the
    * measured sf1 blowup (BASELINE.md round-8 scaling record). Instead:
    * collapse byte-identical texts to one representative (content-hash
    * groupBy — the same SHA-256 identity the exact-dedup family uses;
    * 2⁻¹²⁸ collision bound documented there), run the O(candidates)
    * machinery on representatives only, then reconstruct the full pair
    * set arithmetically: within-identity pairs carry similarity 1.0 by
    * definition and are emitted by a gid-keyed self-expansion (work
    * proportional to the OUTPUT pair count, nothing else), and each
    * cross-representative pair fans out to members by two gid-keyed
    * joins carrying its already-verified similarity. The result set is
    * identical to running the machinery raw (differentially pinned in
    * PropertySpec on duplicate-dense corpora).
    *
    * Returns (members: __gid/__mid, groups: __gid/__rid/__mtx/__k).
    */
  private def collapseByText(docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val base = docs
      .select(col(idCol).as("__mid"), col(textCol).as("__mtx"))
      .filter(col("__mtx").isNotNull)
      .withColumn("__gid", sha2(col("__mtx"), 256))
    val members = base.select(col("__gid"), col("__mid"))
    // first(__mtx) is safe: every member of a gid carries the same bytes.
    val groups = base.groupBy("__gid")
      .agg(min(col("__mid")).as("__rid"), first(col("__mtx")).as("__mtx"),
        count(lit(1)).as("__k"))
    (members, groups)
  }

  /** All ordered member pairs inside multi-member identity groups whose
    * text shingles non-trivially (the raw machinery drops empty shingle
    * sets, so empty-text identity groups must not pair here either).
    * `symmetric=false` emits id_a < id_b once (Jaccard); `true` emits
    * both directions (containment's |A|≤|B| holds with equality). */
  private def withinIdentityPairs(members: DataFrame, groups: DataFrame,
      shingleLen: Int, scoreName: String, symmetric: Boolean): DataFrame = {
    val eligible = groups
      .filter(col("__k") >= 2 &&
        size(wordShingleSet(shingleLen)(col("__mtx"))) > 0)
      .select(col("__gid"))
    val m = eligible.join(members, "__gid")
    val cond = if (symmetric) col("x.__mid") =!= col("y.__mid")
      else col("x.__mid") < col("y.__mid")
    m.as("x").join(m.as("y"), col("x.__gid") === col("y.__gid") && cond)
      .select(col("x.__mid").as("id_a"), col("y.__mid").as("id_b"),
        lit(1.0).as(scoreName))
  }

  /** Fan a representative-level pair table out to all member pairs.
    * `reorder` re-sorts each emitted pair by id (Jaccard is symmetric
    * and the raw operator's contract is id_a < id_b at MEMBER level,
    * which group representatives don't decide). */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame,
      members: DataFrame, scoreName: String, reorder: Boolean): DataFrame = {
    val repGid = groups.select(col("__rid"), col("__gid"))
    val withGids = repPairs
      .join(repGid.select(col("__rid").as("id_a"), col("__gid").as("__ga")), "id_a")
      .join(repGid.select(col("__rid").as("id_b"), col("__gid").as("__gb")), "id_b")
    val expanded = withGids
      .join(members.select(col("__gid").as("__ga"), col("__mid").as("__ma")), "__ga")
      .join(members.select(col("__gid").as("__gb"), col("__mid").as("__mb")), "__gb")
    if (reorder)
      expanded.select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(scoreName))
    else
      expanded.select(col("__ma").as("id_a"), col("__mb").as("id_b"), col(scoreName))
  }

  /** Cost probe for the collapse pre-pass: ONE driver-side aggregate
    * row over the content-hash groups (Catalyst prunes the unused
    * first(__mtx)/min(__mid) aggregates out of the probed plan, so the
    * job is a sha2 + count groupBy and nothing else). The collapse
    * pays when the within-identity pair count Σ C(k, 2) — the pairs
    * the RAW machinery would push through prefix emission + candidate
    * join + exact verification, each costing a set intersection — is
    * material next to the corpus size n; its own price is four
    * scalar-keyed hash joins over n rows. Threshold: collapse iff
    * Σ C(k, 2) ≥ max(64, n / 100). A duplicate-sparse corpus (a
    * handful of size-2 groups — the bench SFs) takes the raw path and
    * pays nothing; a duplicate-dense one (crawl mirrors, the 10×-copy
    * sf1 corpus: Σ C(k, 2) ≈ 45 · g ≫ n / 100) collapses. Either path
    * returns the identical pair set (differentially pinned in
    * PropertySpec), so the threshold tunes cost only. */
  private def collapsePays(groups: DataFrame): Boolean = {
    val r = groups.agg(
      sum(col("__k")).as("n"),
      sum(col("__k") * (col("__k") - 1) / 2).as("dupPairs")).head()
    if (r.isNullAt(0)) return false
    val n = r.getLong(0)
    val dupPairs = r.getDouble(1)
    dupPairs >= math.max(64.0, n / 100.0)
  }

  /** Exact Jaccard threshold self-join with the identity-collapse
    * pre-pass: representatives through [[prefixFilterPairsRaw]], member
    * pairs reconstructed arithmetically — see [[collapseByText]].
    * Duplicate-sparse inputs short-circuit to the raw machinery
    * ([[collapsePays]]). */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, tau: Double): DataFrame = {
    val (members, groups) = collapseByText(docs, idCol, textCol)
    if (!collapsePays(groups))
      return prefixFilterPairsRaw(docs, idCol, textCol, shingleLen, tau)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    val repPairs = prefixFilterPairsRaw(
      groups.select(col("__rid"), col("__mtx")), "__rid", "__mtx", shingleLen, tau)
    expandRepPairs(repPairs, groups, members, "jaccard", reorder = true)
      .unionAll(withinIdentityPairs(members, groups, shingleLen, "jaccard",
        symmetric = false))
  }

  /** Exact containment threshold join with the identity-collapse
    * pre-pass (directional: expansion preserves pair orientation, and
    * within-identity pairs emit both directions since |A| = |B|).
    * Duplicate-sparse inputs short-circuit to the raw machinery
    * ([[collapsePays]]). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, tau: Double): DataFrame = {
    val (members, groups) = collapseByText(docs, idCol, textCol)
    if (!collapsePays(groups))
      return containmentPairsRaw(docs, idCol, textCol, shingleLen, tau)
        .select(col("id_a"), col("id_b"), col("containment"))
    val repPairs = containmentPairsRaw(
      groups.select(col("__rid"), col("__mtx")), "__rid", "__mtx", shingleLen, tau)
    expandRepPairs(repPairs, groups, members, "containment", reorder = false)
      .unionAll(withinIdentityPairs(members, groups, shingleLen, "containment",
        symmetric = true))
  }

  /** One shingle pass per (corpus, shingleLen), scratch-parquet-backed
    * (r16): the PPJoin kernels consume the shingle-set table from FOUR
    * DAG branches (the df aggregation, the prefix emission, and both
    * verify sides), and uncached each branch re-ran the wordShingleSet
    * UDF over the corpus — the session memo makes it one corpus pass,
    * the operator-layer twin of the MinHash rep-space memo. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int): DataFrame = synchronized {
    val key = s"$idCol|$textCol|$shingleLen|${graft.core.Scratch.planKey(docs)}"
    ppSetsMemo.getOrElseUpdate(key, graft.core.Scratch.materialize(
      docs
        .select(col(idCol).as("__id"),
          wordShingleSet(shingleLen)(col(textCol)).as("__sh"))
        .withColumn("__n", size(col("__sh")))
        .filter(col("__n") > 0),
      "pp_sets", key))
  }
  private val ppSetsMemo =
    new graft.core.BoundedMemo[String, DataFrame](32)

  /** Broadcast payload of [[setsLookup]]: doc ids (sorted) and their
    * string shingle SETS (already distinct — wordShingleSet builds a
    * LinkedHashSet), probed by binary search. Each set is co-sorted
    * with a 64-bit FNV-1a hash array (r17): the exact per-pair
    * intersection count runs as a zero-allocation two-pointer merge on
    * the hashes (string compare only on the ~never-occurring hash
    * ties) instead of building two java.util.HashSet[String] per pair
    * (~400 allocations/pair — the GC wall of the verify stage). The
    * count is EXACTLY |A ∩ B| over the string sets, so every
    * jaccard/containment value is unchanged. */
  private[operators] final class SetsLookup(val ids: Array[Long],
      val sets: Array[Array[String]]) extends Serializable {
    def idx(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    /** hashes(i) is sorted ascending; sets(i) is co-sorted by
      * (hash, string) so equal-hash runs are string-sorted. */
    val hashes: Array[Array[Long]] = {
      val out = new Array[Array[Long]](sets.length)
      var i = 0
      while (i < sets.length) {
        val s = sets(i)
        val idxs = Array.range(0, s.length)
        val h = s.map(SetsLookup.fnv64)
        val sorted = idxs.sortBy(k => (h(k), s(k)))
        val hs = new Array[Long](s.length)
        val ss = new Array[String](s.length)
        var k = 0
        while (k < s.length) { hs(k) = h(sorted(k)); ss(k) = s(sorted(k)); k += 1 }
        sets(i) = ss
        out(i) = hs
        i += 1
      }
      out
    }
  }

  private[operators] object SetsLookup {
    /** FNV-1a 64 over chars — a local, deterministic merge key; NOT
      * part of any result (ties fall back to string equality). */
    def fnv64(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) {
        h ^= s.charAt(i)
        h *= 0x100000001b3L
        i += 1
      }
      h
    }

    /** Exact |A ∩ B| of two (hash, string)-sorted sets, with an
      * optional sound abandon: once inter + min(remaining) drops below
      * `needLow` the caller's final threshold compare cannot pass, so
      * -1 is returned (callers treat it as "fails the threshold";
      * needLow carries a full-unit margin below the real-algebra
      * requirement, dwarfing the ~1 ulp error of the final correctly-
      * rounded division). Pass needLow <= 0 to disable. */
    def interCount(ha: Array[Long], sa: Array[String],
        hb: Array[Long], sb: Array[String], needLow: Double): Int = {
      val la = ha.length; val lb = hb.length
      var p = 0; var q = 0; var inter = 0
      var guard = 64
      while (p < la && q < lb) {
        val u = ha(p); val v = hb(q)
        if (u < v) p += 1
        else if (u > v) q += 1
        else {
          // equal-hash runs: both string-sorted — merge the runs
          var p2 = p; while (p2 < la && ha(p2) == u) p2 += 1
          var q2 = q; while (q2 < lb && hb(q2) == u) q2 += 1
          if (p2 - p == 1 && q2 - q == 1) {
            if (sa(p) == sb(q)) inter += 1
          } else {
            var pp = p; var qq = q
            while (pp < p2 && qq < q2) {
              val c = sa(pp).compareTo(sb(qq))
              if (c == 0) { inter += 1; pp += 1; qq += 1 }
              else if (c < 0) pp += 1
              else qq += 1
            }
          }
          p = p2; q = q2
        }
        guard -= 1
        if (guard == 0) {
          guard = 64
          if (needLow > 0 &&
              (inter + math.min(la - p, lb - q)).toDouble < needLow)
            return -1
        }
      }
      inter
    }
  }

  /** Driver-built lookup over a (__id, __sh) string-shingle table —
    * the [[RepSpace.lookup]] discipline for the exact PPJoin kernels:
    * their verify step joined two ~KB string arrays onto every
    * candidate row (the same payload drag §1 measured on the MinHash
    * family). One column-pruned stats aggregate bounds the payload
    * (per shingle: string bytes + 24 B string/array overhead + the 8 B
    * FNV hash `SetsLookup` keeps beside it; ≤ 1 GiB, long ids); past the
    * bound the join form below stays. Memoized next to the sets table
    * so the collect runs once per (corpus, shingleLen) session-wide. */
  private val ppLookupMemo = new graft.core.BoundedMemo[String,
    Option[org.apache.spark.broadcast.Broadcast[SetsLookup]]](32)
  private def setsLookup(sets: DataFrame)
      : Option[org.apache.spark.broadcast.Broadcast[SetsLookup]] =
    ppLookupMemo.getOrElseUpdate(graft.core.Scratch.planKey(sets), {
      if (sets.schema("__id").dataType !=
          org.apache.spark.sql.types.LongType) None
      else {
        val st = sets.agg(
          sum(expr("aggregate(transform(__sh, x -> length(x) + 32L)," +
            " 0L, (a, x) -> a + x)"))).head()
        val bytes = if (st.isNullAt(0)) 0L else st.getLong(0)
        if (bytes > (1L << 30)) None
        else {
          val rows = sets.select(col("__id"), col("__sh")).collect()
          java.util.Arrays.sort(rows,
            java.util.Comparator.comparingLong(
              (r: org.apache.spark.sql.Row) => r.getLong(0)))
          val n = rows.length
          val ids = new Array[Long](n)
          val sh = new Array[Array[String]](n)
          var i = 0
          while (i < n) {
            ids(i) = rows(i).getLong(0)
            sh(i) = rows(i).getSeq[String](1).toArray
            i += 1
          }
          Some(sets.sparkSession.sparkContext.broadcast(
            new SetsLookup(ids, sh)))
        }
      }
    })

  private[graft] def prefixFilterPairsRaw(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau=$tau out of (0, 1]")
    val sets = shingleSets(docs, idCol, textCol, shingleLen)
    // One corpus pass feeds both the df table and the prefix emission.
    val grams = sets.select(col("__id"), col("__n"),
      explode(col("__sh")).as("__g"))
    val df = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    // Rarest-first global ordering; prefix length |A| - ceil(tau|A|) + 1.
    val w = Window.partitionBy("__id").orderBy(col("__df"), col("__g"))
    val prefixes = grams.join(df, "__g")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__n") - ceilSlack(lit(tau) * col("__n")) + 1)
      .select(col("__g"), col("__id"), col("__n"), col("__rk"))
    val pa = prefixes.select(col("__g"), col("__id").as("id_a"),
      col("__n").as("na"), col("__rk").as("ra"))
    val pb = prefixes.select(col("__g"), col("__id").as("id_b"),
      col("__n").as("nb"), col("__rk").as("rb"))
    // PPJoin positional filter (Xiao et al.): a shared prefix shingle at
    // ordered positions (ra, rb) bounds the achievable overlap by
    // 1 + min(na − ra, nb − rb); Jaccard >= tau needs overlap
    // alpha = ceil(tau/(1+tau) · (na+nb)). The FIRST shared shingle of
    // any true pair satisfies the bound (all its overlap sits at
    // positions >= ra / >= rb), so per-row pruning never drops a pair.
    val alpha = ceilSlack(lit(tau / (1.0 + tau)) * (col("na") + col("nb")))
    val candidates = pa.join(pb, Seq("__g"))
      .filter(col("id_b") > col("id_a") &&
        col("nb") >= ceilSlack(lit(tau) * col("na")) &&
        col("nb") * tau <= col("na") + lit(1e-9) &&
        lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")) >= alpha)
      .select("id_a", "id_b").distinct()
    // Exact verification: candidates only. Candidate-local when the
    // sets table fits the broadcast-lookup bound (the join form
    // materialized two ~KB string arrays per candidate row); the probe
    // counts |A ∩ B| by the zero-allocation sorted-hash merge
    // ([[SetsLookup.interCount]] — exact string-set intersection), so
    // the pair set and every jaccard value are bit-identical to
    // [[jaccardOfSets]] either way. The abandon bound: jac >= tau
    // needs inter >= tau(la+lb)/(1+tau) in reals; a full-unit margin
    // below that cannot be crossed by the ~1 ulp error of the final
    // division.
    setsLookup(sets) match {
      case Some(bl) =>
        val jac = udf { (ia: Long, ib: Long) =>
          val l = bl.value
          val x = l.idx(ia); val y = l.idx(ib)
          if (x < 0 || y < 0) 0.0
          else {
            val la = l.sets(x).length; val lb = l.sets(y).length
            val lmin = math.min(la, lb); val lmax = math.max(la, lb)
            // length screen: real jac <= min/max; correctly-rounded
            // division is monotone, so fl(min/max) < tau implies
            // fl(jac) < tau — returning 0.0 (also < tau) is exact
            // w.r.t. the >= tau filter this feeds.
            if (lmax == 0 || lmin.toDouble / lmax < tau) 0.0
            else {
              val inter = SetsLookup.interCount(
                l.hashes(x), l.sets(x), l.hashes(y), l.sets(y),
                tau * (la + lb) / (1.0 + tau) - 1.0)
              if (inter < 0) 0.0
              else {
                val union = la + lb - inter
                if (union == 0) 0.0 else inter.toDouble / union
              }
            }
          }
        }
        candidates.withColumn("jaccard", jac(col("id_a"), col("id_b")))
          .filter(col("jaccard") >= tau)
          .select(col("id_a"), col("id_b"), col("jaccard"))
      case None =>
        val fa = sets.select(col("__id").as("id_a"), col("__sh").as("__sa"))
        val fb = sets.select(col("__id").as("id_b"), col("__sh").as("__sb"))
        candidates.join(fa, "id_a").join(fb, "id_b")
          .withColumn("jaccard", jaccardOfSets(col("__sa"), col("__sb")))
          .filter(col("jaccard") >= tau)
          .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Exact CONTAINMENT threshold join: pairs where
    * |A ∩ B| / |A| >= tau and |A| <= |B| — the asymmetric complement of
    * [[prefixFilterPairs]]. Jaccard misses the classic corpus defect of
    * a SHORT document embedded verbatim in a much longer one (an
    * abstract inside the full paper, a quoted article inside a digest):
    * the union term dilutes the score below any usable threshold, while
    * containment of the short side is ~1. Same prefix-filter machinery
    * with the asymmetric bound: overlap >= ceil(tau·|A|) forces A's
    * rarest-first prefix of size |A| − ceil(tau·|A|) + 1 to intersect B
    * SOMEWHERE, so A's prefix shingles join against B's FULL shingle
    * stream (no prefix on the container side — containment has no upper
    * size bound to prune with). Same 100 TB shape: vocabulary-sized df
    * table through a shuffle join, scalar-keyed exchanges only, exact
    * verification once per surviving candidate.
    */
  private[graft] def containmentPairsRaw(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau=$tau out of (0, 1]")
    val sets = shingleSets(docs, idCol, textCol, shingleLen)
    val grams = sets.select(col("__id"), col("__n"),
      explode(col("__sh")).as("__g"))
    val df = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("__id").orderBy(col("__df"), col("__g"))
    // One window ranks EVERY gram (both sides read it): the A side keeps
    // its prefix, the container side keeps the full ranked stream so the
    // positional filter below has (rb, nb). ceilSlack: see
    // [[prefixFilterPairs]]'s fp-soundness note.
    val ranked = grams.join(df, "__g")
      .withColumn("__rk", row_number().over(w))
    val prefixes = ranked
      .filter(col("__rk") <= col("__n") - ceilSlack(lit(tau) * col("__n")) + 1)
      .select(col("__g"), col("__id").as("id_a"), col("__n").as("na"),
        col("__rk").as("ra"))
    val full = ranked.select(col("__g"), col("__id").as("id_b"),
      col("__n").as("nb"), col("__rk").as("rb"))
    // Positional filter, asymmetric form: required overlap is
    // ceil(tau·|A|); a shared shingle at (ra, rb) caps it at
    // 1 + min(na − ra, nb − rb). The first shared shingle of a true
    // pair meets the cap, so per-row pruning is sound.
    val candidates = prefixes.join(full, Seq("__g"))
      .filter(col("id_a") =!= col("id_b") && col("na") <= col("nb") &&
        lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")) >=
          ceilSlack(lit(tau) * col("na")))
      .select("id_a", "id_b").distinct()
    // Candidate-local verify under the same lookup bound; the probe's
    // |A∩B| count over the (already-distinct) shingle sets equals
    // size(array_intersect(A, B)) exactly ([[SetsLookup.interCount]] —
    // exact string-set intersection via the sorted-hash merge), and
    // |A| = a.length, so the containment value is bit-identical to the
    // join form. Abandon bound: containment >= tau needs
    // inter >= tau·la in reals; full-unit margin as in the jaccard
    // probe.
    setsLookup(sets) match {
      case Some(bl) =>
        val cont = udf { (ia: Long, ib: Long) =>
          val l = bl.value
          val x = l.idx(ia); val y = l.idx(ib)
          if (x < 0 || y < 0) 0.0
          else {
            val la = l.sets(x).length; val lb = l.sets(y).length
            if (la == 0) 0.0
            else {
              // screen: inter <= min(la, lb), so containment
              // <= min(la,lb)/la; monotone division as in the jaccard
              // probe — fl(bound) < tau implies fl(containment) < tau.
              if (math.min(la, lb).toDouble / la < tau) 0.0
              else {
                val inter = SetsLookup.interCount(
                  l.hashes(x), l.sets(x), l.hashes(y), l.sets(y),
                  tau * la - 1.0)
                if (inter < 0) 0.0 else inter.toDouble / la
              }
            }
          }
        }
        candidates.withColumn("containment", cont(col("id_a"), col("id_b")))
          .filter(col("containment") >= tau)
          .select(col("id_a"), col("id_b"), col("containment"))
      case None =>
        val fa = sets.select(col("__id").as("id_a"), col("__sh").as("__sa"))
        val fb = sets.select(col("__id").as("id_b"), col("__sh").as("__sb"))
        candidates.join(fa, "id_a").join(fb, "id_b")
          .withColumn("containment",
            size(array_intersect(col("__sa"), col("__sb"))).cast("double") /
              size(col("__sa")).cast("double"))
          .filter(col("containment") >= tau)
          .select(col("id_a"), col("id_b"), col("containment"))
    }
  }
}
