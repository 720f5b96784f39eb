package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data operators over the `documents` / `embeddings`
  * tables: text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard / embedding-cosine), and embedding similarity search. The
  * hash-based kernels (minhash, simhash, SRP-LSH) derive their hashes
  * from MD5 windows ([[graft.functions.Md5Hash]]) precisely so the
  * DuckDB oracle can recompute them — every query here carries a full
  * value-level oracle.
  */
object TextQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** dd_minhash_pairs / dd_dup_clusters / dd_keep_best all consume the
    * same LSH-verified pair set (same corpus, same parameters);
    * materialize it to scratch parquet once per (session, sfDir) so the
    * signature+verify pipeline — the dominant cost of all three — runs
    * once. Write-once/read-many scratch parquet is the cluster-correct
    * form of the shared intermediate (cf. futuresBarsCached).
    */
  private val pairsCache =
    new graft.core.BoundedMemo[(SparkSession, String), DataFrame](8)
  private def minhashPairsShared(s: SparkSession, d: String): DataFrame = {
    pairsCache.evictIf((k, _) => k._1.sparkContext.isStopped)
    // r15: the shared pair set runs at the BUDGET-AWARE derived point
    // (minHashDupPairsBudgeted — the r14 auto point plus a measured
    // candidate-mass check on the band shape). The R=0.99-forced 2-row
    // banding the r14 default ran carries crushing intrinsic candidate
    // mass even where the mega-bucket cap is right (measured 22.7 M
    // capped candidates for 5 000 docs at sf0.1; 209 s at sf1-mutated),
    // so the walk accepts R=0.95 → r=3 × 46 bands whenever the measured
    // mass exceeds 64 pairs/rep — cubically smaller buckets, analytic
    // recall ≥ 0.952 at τ exactly (and → 1 above it; measured in
    // dd_lsh_recall_report's auto row). Every downstream consumer
    // (dd_minhash_pairs, dd_dup_clusters, dd_keep_best) inherits the
    // budgeted point by default.
    pairsCache.getOrElseUpdate((s, d),
      graft.core.Scratch.materialize(
        Dedup.minHashDupPairsBudgeted(Tables.documents(s, d), "doc_id", "text",
          shingleLen = 5, jaccardThreshold = 0.4),
        "mh_pairs", d))
  }

  /** One SimHash signature pass per (session, sfDir) — dd_simhash
    * returns the table, dd_simhash_pairs bands it (r16). */
  private val simhashCache =
    new graft.core.BoundedMemo[(SparkSession, String), DataFrame](8)
  private def simhashShared(s: SparkSession, d: String): DataFrame = {
    simhashCache.evictIf((k, _) => k._1.sparkContext.isStopped)
    simhashCache.getOrElseUpdate((s, d), graft.core.Scratch.materialize(
      Dedup.simHash(Tables.scatter(Tables.documents(s, d)), "text")
        .select(col("doc_id"), col("simhash")),
      "simhash_tbl", d))
  }

  /** The synthesized URL ledger shared by t_url_dedup (batch) and
    * stream_url_ledger (micro-batch fold): one row per (cid, url).
    * Variant blocks ride million-wide id offsets, which the stream
    * twin uses to split canonical groups across micro-batches. */
  private def urlLedger(s: SparkSession, d: String): DataFrame = {
      val docs = Tables.documents(s, d)
      def base(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("https://www."), col("source"),
        lit(".example.com/"), col("lang"), lit("/doc-"), c)
      val u0 = docs.select(col("doc_id").as("cid"), base(col("doc_id")).as("url"))
      val u1 = docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 3000000L).as("cid"),
          concat(base(col("doc_id")),
            lit("?utm_source=feed&utm_campaign=x&fbclid=abc")).as("url"))
      val u2 = docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 4000000L).as("cid"),
          concat(lit("HTTPS://WWW."), upper(col("source")),
            lit(".EXAMPLE.COM:443/"), col("lang"), lit("/doc-"),
            col("doc_id")).as("url"))
      val u3 = docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 5000000L).as("cid"),
          concat(lit("https://www."), col("source"), lit(".example.com//"),
            col("lang"), lit("//doc-"), col("doc_id"), lit("/#frag")).as("url"))
      val u4 = docs.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 6000000L).as("cid"),
          concat(base(col("doc_id")), lit("?b=2&a=1&utm_medium=m")).as("url"))
      // %37: unreserved escape (%64 → 'd') + './x/..' dot segments —
      // decodes and resolves ≡ base. %41: a '/../' at the root (clamps)
      // plus a RESERVED escape in the query whose hex must upper-case
      // (%2f → %2F) — a singleton whose canonical string pins both.
      val u5 = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 7000000L).as("cid"),
          concat(lit("https://www."), col("source"), lit(".example.com/"),
            col("lang"), lit("/./x/../%64oc-"), col("doc_id")).as("url"))
      val u6 = docs.filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 8000000L).as("cid"),
          concat(lit("https://www."), col("source"), lit(".example.com/../"),
            col("lang"), lit("/doc-"), col("doc_id"), lit("?q=%2fv")).as("url"))
      u0.unionAll(u1).unionAll(u2).unionAll(u3).unionAll(u4)
        .unionAll(u5).unionAll(u6)
  }

  /** Shared runner for the streaming URL-ledger fold (see the
    * stream_url_ledger / stream_url_ledger_recovery query comments).
    * `injectCrash=true` runs the stream_recovery protocol: a checkpoint,
    * an exception thrown in foreachBatch after batch 0's store commit,
    * and a second start from the same checkpoint that replays batch 0.
    */
  private def runUrlLedgerStream(s: SparkSession, d: String, tag: String,
      injectCrash: Boolean): DataFrame = {
    val ledger = urlLedger(s, d)
      .withColumn("half", expr("(cid div 1000000) % 2"))
    val streamDir = DomainQueries.stageParityHalves(
      s, ledger, "half", s"graft_stream_${tag}_src")
    val storeDir = graft.core.Scratch.queryDir(s"stream_${tag}_store")
    val ckptDir = graft.core.Scratch.queryDir(s"stream_${tag}_ckpt")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    Seq(storeDir, ckptDir).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val store = new graft.core.TableStore(s, storeDir)
    val spec = graft.core.TableSpec("url_ledger", Seq("canonical_url"))
    @volatile var injected = false
    def fold(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit = {
      // ExactlyOnce: the n_urls sum is not idempotent, so a replayed
      // batch (same batchId, at-least-once foreachBatch) must no-op.
      if (!graft.streaming.ExactlyOnce.alreadyApplied(store, spec, batchId) &&
          !batch.isEmpty) {
        val agg = graft.operators.UrlOps
          .dedupByCanonicalUrl(batch.toDF(), "url", "cid")
        val merged =
          if (store.exists(spec))
            agg.join(store.read(spec)
                .select(col("canonical_url"), col("keep_id").as("__k0"),
                  col("n_urls").as("__n0")),
              Seq("canonical_url"), "left")
              .select(col("canonical_url"),
                least(col("keep_id"),
                  coalesce(col("__k0"), col("keep_id"))).as("keep_id"),
                (col("n_urls") + coalesce(col("__n0"), lit(0L))).as("n_urls"))
          else agg
        // the applied-batchId marker commits in the SAME manifest rename
        // as the folded rows — no window where one landed without the other
        store.upsert(spec, merged,
          props = graft.streaming.ExactlyOnce.applied(batchId))
      }
      if (injectCrash && !injected && batchId == 0) {
        injected = true
        throw new RuntimeException(
          "injected crash: fold committed, batch not committed")
      }
    }
    def run(crashRun: Boolean): Unit =
      graft.streaming.TickBarStream.withShufflePartitions(s, 8) {
        val raw = s.readStream.schema(ledger.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir)
        val q = raw.writeStream.outputMode("update")
          .queryName(s"graft_stream_$tag")
          .option("checkpointLocation", ckptDir)
          .foreachBatch(fold _).start()
        if (crashRun) {
          try q.processAllAvailable() catch { case _: Throwable => () }
          try q.stop() catch { case _: Throwable => () }
        } else {
          try q.processAllAvailable() finally q.stop()
        }
      }
    if (injectCrash) {
      run(crashRun = true)
      require(injected, "crash injection never fired — recovery untested")
    }
    run(crashRun = false)
    store.read(spec).orderBy(col("canonical_url"))
  }

  val queries: Map[String, Q] = Map(
    "t_url_dedup" -> ((s, d) => {
      // URL-ledger dedup — the web-corpus pre-pass BEFORE text dedup:
      // canonicalize, group by canonical form, first-fetch-wins. Each
      // doc gets a deterministic URL built from its own columns; planted
      // variants (positive id offsets) exercise each canonicalization
      // step: %17 adds only tracking params (utm_*/fbclid → stripped ≡
      // base), %23 upper-cases scheme+host and adds the default :443
      // port (case-folded + port-dropped ≡ base), %29 doubles slashes,
      // adds a trailing slash and a #fragment (collapsed/stripped ≡
      // base), %31 adds unsorted real params + a tracking param
      // (canonicalizes to a SORTED ?a=1&b=2 — a singleton group that
      // pins parameter sorting and selective removal via the canonical
      // string itself). The oracle replays every canonicalization step
      // in DuckDB string/list algebra — full value-level compare on
      // (canonical_url, keep_id, n_urls).
      // No per-branch scatter: canonicalization is map work that rides
      // each branch's scan split, and the groupBy's hash exchange does
      // the real redistribution — one scatter of the unioned ledger
      // covers the single-split testdata parquet.
      graft.operators.UrlOps.dedupByCanonicalUrl(
          Tables.scatter(urlLedger(s, d)), "url", "cid")
        .orderBy(col("canonical_url"))
    }),

    "stream_url_ledger" -> ((s, d) => {
      // The URL ledger as a continuously-maintained STREAM — the crawl
      // ingest shape: each micro-batch canonicalizes its arrivals and
      // folds (min keep_id, sum n_urls) into a keyed store, so the
      // ledger is exact first-fetch-wins at any batch boundary. The
      // synthesized corpus is split by canonical-variant BLOCK (base +
      // the even-offset variants in batch 0, odd-offset variants in
      // batch 1), so most groups MUST merge across batches — a
      // same-batch winner can't fake the fold. min/sum are associative
      // and commutative and each URL arrives exactly once, so the final
      // table equals the batch group-by: the oracle IS t_url_dedup's.
      // The fold is a read-modify-write whose sum is NOT idempotent, so
      // it rides the ExactlyOnce applied-batchId guard (proven under an
      // injected crash by stream_url_ledger_recovery below).
      runUrlLedgerStream(s, d, tag = "url", injectCrash = false)
    }),

    "stream_url_ledger_recovery" -> ((s, d) => {
      // §2.11 crash-recovery proof for the READ-MODIFY-WRITE fold family
      // (the stream_recovery_upsert protocol, MoreQueries.scala): run the
      // ledger stream over a checkpoint, crash AFTER batch 0's fold
      // committed but BEFORE the engine commits the batch — the
      // worst-ordered failure — then restart from the same checkpoint.
      // The engine replays batch 0; without the ExactlyOnce guard the
      // replay double-counts every batch-0 group's n_urls (min keep_id
      // would survive, the sum would not) and the value-level oracle
      // catches it. With the guard the final table equals the one-shot
      // batch group-by: the oracle is t_url_dedup's, unchanged.
      runUrlLedgerStream(s, d, tag = "url_rec", injectCrash = true)
    }),


    "t_quality_budget_cut" -> ((s, d) => {
      // Curation cut: the best documents by composite quality until a
      // token budget (here 3/5 of the corpus' tokens — exact integer
      // arithmetic both sides) is exhausted. Scoring materializes once
      // to scratch (the realistic shape: a scoring job writes the score
      // ledger; the cut is a second job over it), then the two-pass
      // histogram cut: bounded per-bucket token histogram → driver
      // prefix scan → wholesale keep of full buckets + a tiny window
      // over ONLY the boundary bucket. No global sort anywhere.
      val scored = graft.core.Scratch.materialize(
        Tables.scatter(Tables.documents(s, d))
          .withColumn("__toks", tokens(col("text")))
          .withColumn("__ltoks", tokens(lower(col("text"))))
          .select(col("doc_id"),
            qualityScoreOf(col("text"), col("__toks"), col("__ltoks")).as("quality"),
            tokenCountOf(col("__toks")).cast("long").as("n_tokens")),
        "qbudget_scored", d)
      val budget = scored.agg(sum("n_tokens")).first.getLong(0) * 3 / 5
      graft.operators.BudgetCut.qualityBudgetCut(
          scored, "doc_id", "quality", "n_tokens", budget, buckets = 1000)
        .orderBy(col("doc_id"))
    }),

    "t_corpus_shuffle" -> ((s, d) => {
      // Deterministic global corpus shuffle — training-order
      // randomization as a reproducible function of (seed, doc_id):
      // position = md5 hex prefix (the engine's standard DuckDB-twin
      // hash), global order index + 64-way shard via the two-pass
      // GlobalRank/ntile (one range shuffle, NEVER a single-partition
      // window — p10's audited shape). Re-running with the same seed
      // reproduces the exact training order on any cluster layout.
      val docs = Tables.scatter(Tables.documents(s, d)).select(col("doc_id"))
      val withPos = docs.withColumn("pos",
        conv(substring(md5(concat(lit("shuffle:42:"), col("doc_id"))), 1, 15),
          16, 10).cast("long"))
      val ranked = graft.operators.GlobalRank.withGlobalRank(
        withPos, Seq(col("pos"), col("doc_id")), "ord")
      graft.operators.GlobalRank.withNtile(
          ranked, Seq(col("pos"), col("doc_id")), 64, "shard")
        .select(col("doc_id"), col("pos"), col("ord"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    "t_token_shards" -> ((s, d) => {
      // Token-balanced 16-way training shards: exact global
      // (tokens desc, id) rank via the two-pass GlobalRank (one range
      // shuffle, never a single-partition window), snake placement as a
      // map. DuckDB's row_number IS the order GlobalRank distributes,
      // and the snake arithmetic replays verbatim — full value oracle.
      val docs = Tables.scatter(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"))
      graft.operators.CorpusStats
        .tokenBalancedShards(docs, "doc_id", "n_tokens", 16)
        .orderBy(col("doc_id"))
    }),

    "t_token_stats" -> ((s, d) =>
      // tokenize once, share across all five metrics (see TextFunctions
      // scaladoc: interpreted higher-order Columns get no CSE); scatter —
      // the corpus parquet is one split, the tokenization is the cost
      Tables.scatter(Tables.documents(s, d))
        .withColumn("__toks", tokens(col("text")))
        .withColumn("__ltoks", tokens(lower(col("text"))))
        .select(
          col("doc_id"),
          tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
          subwordCountOf(col("__toks")).cast("long").as("n_subwords"),
          punctRatio(col("text")).as("punct_ratio"),
          meanTokenLengthOf(col("__toks")).as("mean_token_len"),
          stopwordRatioOf(col("__ltoks")).as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    "t_quality_langid" -> ((s, d) =>
      Tables.scatter(Tables.documents(s, d))
        .withColumn("__toks", tokens(col("text")))
        .withColumn("__ltoks", tokens(lower(col("text"))))
        .select(
          col("doc_id"),
          qualityScoreOf(col("text"), col("__toks"), col("__ltoks")).as("quality"),
          langIdOf(col("__ltoks")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    "t_fingerprint" -> ((s, d) =>
      Tables.scatter(Tables.documents(s, d)).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // Retrieval/context-window chunking: 64-token windows, stride 48
    // (25 % overlap). Chunk text is fingerprinted so the value check
    // covers every chunk's exact content without hauling the text.
    "t_chunk_windows" -> ((s, d) =>
      graft.operators.CorpusStats.chunkTokenWindows(
        Tables.scatter(Tables.documents(s, d)), "doc_id", "text",
        windowTokens = 64, strideTokens = 48)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    "dd_exact_groups" -> ((s, d) => {
      // scatter: the corpus parquet is one snappy split; without a
      // round-robin exchange the tokenize+md5 fingerprint kernel runs
      // on one core (see Tables.scatter scaladoc).
      // The fixture corpus has no exact duplicates at any SF, so the raw
      // query proved nothing (a 0-row hash match is vacuous). Inject a
      // deterministic duplicate slice — every doc_id % 37 == 0 document
      // re-keyed past the id range — so the group semantics are actually
      // exercised; the oracle derives the identical corpus.
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val dups = Tables.documents(s, d).filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exactDupGroups(Tables.scatter(base.unionAll(dups)), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    "dd_ngram_jaccard_pairs" -> ((s, d) => {
      // Shingle sets are materialized once per document before the
      // pairwise join, and the |id_a−id_b|≤25 band is folded into the
      // join key (id bucket) — without it the source-equi-join builds
      // every same-source pair before filtering, which is quadratic in
      // docs-per-source.
      def base(ia: String, w1: String, w3: String) = Tables.scatter(Tables.documents(s, d))
        .select(col("doc_id").as(ia), col("source"),
          Dedup.wordShingleSet(1)(col("text")).as(w1),
          Dedup.wordShingleSet(3)(col("text")).as(w3))
      val a = base("id_a", "w1_a", "w3_a")
        .withColumn("bk", floor(col("id_a") / 25))
      val b = base("id_b", "w1_b", "w3_b")
        .withColumn("bk", explode(array(floor(col("id_b") / 25), floor(col("id_b") / 25) - 1)))
      a.join(b, Seq("source", "bk"))
        .filter(col("id_b") > col("id_a") && col("id_b") - col("id_a") <= 25)
        .withColumn("jaccard1", round(Dedup.jaccardOfSets(col("w1_a"), col("w1_b")), 6))
        .withColumn("jaccard3", round(Dedup.jaccardOfSets(col("w3_a"), col("w3_b")), 6))
        .filter(col("jaccard1") >= 0.5)
        .select("id_a", "id_b", "jaccard1", "jaccard3")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Asymmetric containment (|A∩B|/|A|): catches a SHORT doc embedded
    // verbatim in a LONG one, which Jaccard's union term dilutes below
    // any usable threshold. Injected fragments (first 15 tokens of every
    // doc_id % 41 doc, re-keyed) plant true short-inside-long pairs; the
    // oracle injects identically and brute-forces all ordered pairs.
    "dd_containment_pairs" -> ((s, d) => {
      import graft.functions.TextFunctions
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val frags = Tables.documents(s, d).filter(col("doc_id") % 41 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 15)).as("text"))
      Dedup.containmentPairs(Tables.scatter(base.unionAll(frags)),
        "doc_id", "text", shingleLen = 3, tau = 0.9)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT threshold join (vs the probabilistic minhash path below):
    // AllPairs/PPJoin prefix filtering prunes candidates by global
    // shingle rarity + set size, then verifies survivors exactly — the
    // guarantee-preserving alternative when a pipeline can't tolerate
    // LSH false negatives.
    "dd_prefix_filter_pairs" -> ((s, d) =>
      Dedup.prefixFilterPairs(Tables.scatter(Tables.documents(s, d)),
        "doc_id", "text", shingleLen = 3, tau = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))),

    "dd_minhash_pairs" -> ((s, d) =>
      minhashPairsShared(s, d)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))),

    // Decision-tier coverage for the budgeted walk (the default budget
    // lands on tier 1 at the gate SF, so tiers 2 and 3 would otherwise
    // never face the oracle): budget 128/rep forces the LADDER TAIL
    // (R=0.95 shape within budget) at sf0.01, budget 8/rep forces the
    // TIER-3 budget-derived hard cap. Both replay the full three-tier
    // walk, so the oracle checks the DECISION, not just the pipeline.
    "dd_minhash_budget_mid" -> ((s, d) =>
      graft.core.Scratch.materialize(
        Dedup.minHashDupPairsBudgeted(Tables.documents(s, d), "doc_id", "text",
          shingleLen = 5, jaccardThreshold = 0.4, budgetPairsPerRep = 128L),
        "mh_pairs_mid", d)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))),

    "dd_minhash_budget_floor" -> ((s, d) =>
      graft.core.Scratch.materialize(
        Dedup.minHashDupPairsBudgeted(Tables.documents(s, d), "doc_id", "text",
          shingleLen = 5, jaccardThreshold = 0.4, budgetPairsPerRep = 8L),
        "mh_pairs_floor", d)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))),

    // Measured LSH dedup quality — the dedup twin of v_recall_report,
    // at THREE operating points against the PPJoin EXACT threshold join
    // run at the SAME (shingleLen=5, τ=0.4): auto (the derived default
    // every dd_* consumer now runs), plus two hand-set comparison
    // points sharing one signature pass:
    //   legacy_16x4 = 16 hashes × 4 bands (4 rows/band): the pre-r14 default.
    //     Band-match probability at similarity s is 1-(1-s⁴)⁴ — steep,
    //     so borderline true pairs are mostly lost (measured 0.594
    //     recall at sf0.1 duplicate density in round 11).
    //   tuned = 64 hashes × 32 bands (2 rows/band), bucket cap 1000:
    //     threshold-matched — 1-(1-s²)³² ≥ 0.996 at s=0.4, at 4× the
    //     signature hashing and 8× the banding shuffle. The cap must
    //     scale with the band key's coarseness: 2-row band hashes put
    //     whole duplicate CLUSTERS (and, on a dense-vocabulary corpus,
    //     big NOISE cohorts) in one bucket, so the r=4-calibrated
    //     default cap of 100 silently drops the duplicate-rich buckets.
    //     Measured round 12 at sf0.1: recall 0.68 at cap 100 → 0.918
    //     at 500 → 0.969 at 1000 (plateau: 2000 adds nothing), while
    //     warm query cost moves 7.3 → 8.1 → ~10 s — cap 1000 is the
    //     knee. The at-scale trade is explicit: pay ~4× signature CPU
    //     and the wider bucket join for ≥0.9 recall, or run the exact
    //     PPJoin path when recall must be 1.
    // LSH verifies its candidates with exact Jaccard, so precision is 1
    // by construction (up to 64-bit gram-hash collisions); recall
    // measures exactly what banding, the estimate prefilter and the
    // mega-bucket cap lose — the number a dedup deployment must KNOW,
    // not assume. Counts are exact longs and the ratios are floor-micro
    // quantized, so the report replays value-level.
    "dd_lsh_recall_report" -> ((s, d) => {
      val exact = graft.core.Scratch.materialize(
        graft.operators.Dedup.prefixFilterPairs(
          Tables.scatter(Tables.documents(s, d)), "doc_id", "text",
          shingleLen = 5, tau = 0.4)
          .select(col("id_a"), col("id_b")),
        "exact_j54", d)
      def r6(x: org.apache.spark.sql.Column) =
        floor(x * lit(1e6) + lit(0.5)) / lit(1e6)
      def settingRow(setting: String, pairs: DataFrame): DataFrame = {
        // counts only — safe to consume a lazily re-read scratch frame
        val lsh = pairs.select(col("id_a"), col("id_b"))
        val hit = exact.join(lsh, Seq("id_a", "id_b"), "left_semi")
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(lit(setting).as("setting"),
            col("n_exact"), col("n_lsh"), col("n_hit"),
            when(col("n_exact") > 0, r6(col("n_hit").cast("double") /
              col("n_exact").cast("double"))).as("lsh_recall"),
            when(col("n_lsh") > 0, r6(col("n_hit").cast("double") /
              col("n_lsh").cast("double"))).as("lsh_precision"))
      }
      // r14 decomposition, r15 row set: the auto row IS the shared
      // default pipeline (scratch-materialized once per session — zero
      // marginal pipeline cost on a board run; r15: the BUDGET-AWARE
      // point, which lands on r=3 × 46 bands wherever the R=0.99 shape's
      // measured candidate mass blows the 64-pairs/rep budget — every
      // driver SF does). The comparison points ride ONE shared
      // identity-collapse + signature pass (minHashDupPairsMulti slices
      // the widest signature's prefixes) instead of replaying the
      // corpus per setting:
      //   legacy_16x4 — the pre-r14 hand-set default (recall 0.6055 at
      //     sf0.1); tuned — the r12 hand-calibrated 64×32/cap-1000 point;
      //   p99_r2xN — the r14 analytic R=0.99 shape the budget walk now
      //     REJECTS on this corpus: its recall rides next to the budget
      //     point's so the explicit recall-for-cost trade stays measured.
      val (lr99, lb99) = Dedup.lshAutoShape(0.4, 0.99, 64)
      val cmp = Dedup.minHashDupPairsMulti(
        Tables.documents(s, d), "doc_id", "text",
        shingleLen = 5, jaccardThreshold = 0.4,
        Seq(("legacy_16x4", 16, 4, Left(100)),
          ("tuned", 64, 32, Left(1000)),
          (s"p99_r${lr99}x$lb99", lr99 * lb99, lb99, Right((16, 1.5)))))
      val legacyPairs = graft.core.Scratch.materialize(
        cmp("legacy_16x4"), "mh_pairs_legacy", d)
      val tunedPairs = graft.core.Scratch.materialize(
        cmp("tuned"), "mh_pairs_tuned", d)
      val p99Pairs = graft.core.Scratch.materialize(
        cmp(s"p99_r${lr99}x$lb99"), "mh_pairs_p99", d)
      cmp.values.foreach(_.unpersist())
      settingRow("auto", minhashPairsShared(s, d))
        .unionByName(settingRow("legacy_16x4", legacyPairs))
        .unionByName(settingRow("tuned", tunedPairs))
        .unionByName(settingRow(s"p99_r${lr99}x$lb99", p99Pairs))
        .orderBy(col("setting"))
    }),

    "dd_simhash" -> ((s, d) =>
      simhashShared(s, d).orderBy(col("doc_id"))),

    "dd_simhash_pairs" -> ((s, d) =>
      // the banded hamming join over the SHARED simhash table (r16:
      // dd_simhash returns that table and this query re-ran the
      // per-word hash pass to rebuild it — one corpus pass serves
      // both); bandedHammingPairs is the same kernel simHashDupPairs
      // wraps, at its default cap. Scratch-materialized so the pin
      // doesn't outlive the query.
      graft.core.Scratch.materialize(
        Dedup.bandedHammingPairs(
          simhashShared(s, d).select(col("doc_id").as("__id"), col("simhash"))
            .persist(),
          maxHamming = 20, bands = 4, maxBucketSize = 1000),
        "sh_pairs", d)
        .orderBy(col("id_a"), col("id_b"))),

    // Deterministic hash-stratified sampling — the curation primitive
    // for training-data mixes: keep a doc iff h(doc_id) mod 100 <
    // rate(source). Hash-threshold sampling is reproducible at any
    // scale, partitioning, and cluster layout (no RNG state), and the
    // md5-window hash is the DuckDB twin, so the oracle reproduces the
    // EXACT sample membership (pinned by the id checksum).
    "t_stratified_sample" -> ((s, d) => {
      val h = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
      val rate = when(
        pmod(regexp_extract(col("source"), "\\d+", 0).cast("int"), lit(2)) === 0,
        lit(20)).otherwise(lit(60))
      Tables.documents(s, d)
        .filter(pmod(h, lit(100)) < rate)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_id"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))
    }),

    // Weighted sampling without replacement (A-ES): 50 docs drawn with
    // probability ∝ n_chars; exact membership and rank are replayed by
    // the oracle from the md5-derived uniforms.
    "t_weighted_sample" -> ((s, d) =>
      graft.operators.CorpusStats.weightedSample(
        Tables.documents(s, d), "doc_id", "n_chars", n = 50)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("rank"))),

    // Deterministic train/valid/test assignment: split = hash-bucket of
    // the doc id (80/10/10). Like t_stratified_sample, membership is a
    // pure function of the id — reproducible at any scale, partitioning,
    // or cluster layout, and any engine can recompute it (the property
    // that makes a 100 TB split auditable). Checked per (source, split)
    // with an id checksum pinning exact membership.
    "t_split_assign" -> ((s, d) => {
      val h = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
      val bucket = pmod(h, lit(100))
      Tables.documents(s, d)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"), col("split"))
    }),

    // Oracled via a recursive min-label-propagation CTE over the same
    // pair SQL (MATERIALIZED, so the pair pipeline runs once); also
    // differentially tested against union-find in PropertySpec.
    "dd_dup_clusters" -> ((s, d) => {
      val pairs = minhashPairsShared(s, d)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("comp").as("cluster"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_doc"))
        .orderBy(col("cluster"))
    }),

    // Dedup → keep-best: canonical document per near-dup cluster (the
    // step a real curation pipeline runs after clustering — drop all but
    // the "best" copy; quality = n_chars, doc_id tie-break so the pick
    // is deterministic).
    "dd_keep_best" -> ((s, d) => {
      val comps = Dedup.connectedComponents(minhashPairsShared(s, d), "id_a", "id_b")
      val quality = Tables.documents(s, d)
        .select(col("doc_id").cast("long").as("id"), col("n_chars"))
      comps.join(quality, Seq("id"))
        .groupBy(col("comp").as("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          max_by(col("id"), struct(col("n_chars"), col("id"))).as("canonical_doc"))
        .orderBy(col("cluster"))
    }),

    // Continuous-ingest dedup: a new batch (the doc_id % 37 slice,
    // re-keyed) checked against the EXISTING corpus as a banded index —
    // no within-batch or within-index pairs. Every batch doc has its
    // verbatim source in the index (jaccard 1), so the match set is
    // non-vacuous at every SF. r14: runs at the DERIVED operating point
    // (band shape analytic from τ, index-side cap from the measured
    // bucket histogram) so steady-state ingest inherits the bootstrap
    // pipeline's recall instead of the legacy 16×4/cap-100 knob.
    "dd_incremental_index" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = Tables.documents(s, d).filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.minHashDupAgainstIndexAuto(base, batch, "doc_id", "text",
          shingleLen = 5, jaccardThreshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("new_id"), col("index_id"))
    }),

    // Budget-branch coverage for the incremental path (r16 — the
    // asymmetric twin of dd_minhash_budget_mid/_floor): a forced tiny
    // per-batch-rep budget makes the measured (bucket size, batch hits)
    // walk LOWER the gap cap at the gate SF, so the budget decision —
    // not just the default pipeline — faces the oracle.
    "dd_incremental_budget" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = Tables.documents(s, d).filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.minHashDupAgainstIndexAuto(base, batch, "doc_id", "text",
          shingleLen = 5, jaccardThreshold = 0.4,
          budgetPairsPerBatchRep = 4L)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("new_id"), col("index_id"))
    }),

    // ── E2E: the LLM-curation flagship DAG — incremental, crash-recovered ──
    // URL ledger → canonical dedup → quality gate → LSH near-dup →
    // budget cut → token shards, composed as TWO incremental crawl
    // drops over a keyed store with a crash injected INSIDE drop 2 —
    // after the drop's pair commit and its first doc chunk, before the
    // rest (a torn mid-drop state) — then a recovery run that resumes
    // from the sink instead of restarting (the e2e_vendor_ingest
    // discipline applied to the §2.14 family). Every stage is an
    // already-oracled operator; what THIS query proves is the
    // COMPOSITION: the two-run + crash + recovery final output must
    // equal the from-scratch single-pass build the oracle expresses.
    //
    // Near-dup setting: the ANALYTIC auto band shape (lshAutoShape at
    // τ=0.4 → 2 rows × 27 bands) with the mega-bucket cap DISABLED.
    // Capless LSH is per-pair decomposable — pairs(A∪B) = pairs(A) ∪
    // pairs(B) ∪ cross(A,B) EXACTLY, because band-bucket membership is
    // a per-document property — which is what makes incremental ≡
    // from-scratch provable instead of approximate. The measured cap
    // (minHashDupPairsAuto) is corpus-dependent, so decompositions
    // would diverge exactly at cap boundaries; a deployment re-enables
    // it per batch and accepts that bounded divergence.
    //
    // Commit order inside a drop is load-bearing: ALL the drop's pairs
    // BEFORE any doc chunk. A crash in between (exactly what run 2
    // injects) leaves pairs for docs the sink doesn't know — harmless,
    // the recovery re-run recomputes and PK-upserts them idempotently.
    // The opposite order would commit docs whose pairs are lost, and
    // the recovery's anti-join would never revisit them: a silent,
    // permanent dedup hole.
    "e2e_corpus_curation" -> ((s, d) => {
      import graft.core.{TableSpec, TableStore}
      val dir = graft.core.Scratch.queryDir("e2e_curation")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val store = new TableStore(s, dir)
      val docSpec = TableSpec("curated_docs", Seq("doc_id"))
      val pairSpec = TableSpec("dup_pairs", Seq("id_a", "id_b"))
      val (lr, lb) = Dedup.lshAutoShape(0.4, 0.99, 64)

      // S-stage, ONCE per query (r16): canonical-URL dedup
      // (first-fetch-wins) then the crawl frontier — one row per doc
      // with its url mass. Every canonical group lives wholly inside
      // one doc (a cid's doc is cid % 1e6, shared by all its variant
      // blocks), so slicing the GROUPED frontier by doc parity is
      // identical to canonicalizing each parity slice separately —
      // and the three drops (run1, crash, recovery) were each
      // re-running the full canonicalize+group chain on their slice.
      // One ledger snapshot, one frontier, three slices.
      val frontier = graft.core.Scratch.materialize(
        graft.operators.UrlOps
          .dedupByCanonicalUrl(Tables.scatter(urlLedger(s, d)), "url", "cid")
          .select(pmod(col("keep_id"), lit(1000000L)).as("doc_id"), col("n_urls"))
          .groupBy("doc_id").agg(sum("n_urls").as("n_urls")),
        "e2e_cur_frontier", d)

      // One crawl drop = the frontier slice whose docs belong to `pred`.
      // Returns the number of docs actually fetched (post anti-join).
      def runDrop(tag: String, pred: org.apache.spark.sql.Column,
          crashBetweenChunk: Int): Long = {
        val perDoc = frontier.filter(pred === pmod(col("doc_id"), lit(2)))
        // J4: docs already in the sink are not re-fetched — the
        // idempotence the recovery run rides
        val newDocs =
          if (store.exists(docSpec))
            perDoc.join(store.read(docSpec).select(col("doc_id")),
              Seq("doc_id"), "left_anti")
          else perDoc
        // Materialize the fetched batch ONCE per drop (r16): the gate
        // pass, the score+sig pass and the frontier count all consume
        // it, and uncached each consumer re-ran the ledger build +
        // canonicalization + frontier groupBy + docs join. The count
        // equals the frontier count — every frontier doc_id is a
        // documents PK by construction (ids are pmod(cid, 1e6) of cids
        // minted from doc_ids).
        val batch0 = graft.core.Scratch.materialize(
          newDocs.join(
            Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
            Seq("doc_id")),
          s"e2e_cur_b0_$tag", d)
        val n = batch0.count()
        // quality gate (Gopher repetition rule) rides as a STORED flag:
        // rejected docs are remembered, so recovery never re-fetches
        // them; only kept docs enter the dedup index and the output
        val gate = graft.operators.CorpusStats
          .gopherQuality(batch0, "doc_id", "text")
          .select(col("doc_id"), col("keep"))
        // one fused scoring + signature pass per fetched doc: the
        // minhash signature and shingle set are computed HERE, once,
        // and PERSISTED with the row — every later drop reads them as
        // its index side instead of re-hashing previously ingested
        // text (the incremental-index shape minHashSigTable documents)
        val batch = graft.core.Scratch.materialize(
          batch0.join(gate, Seq("doc_id"))
            .withColumn("__toks", tokens(col("text")))
            .withColumn("__ltoks", tokens(lower(col("text"))))
            .withColumn("__c", Dedup.sigAndHashedShingles(5, lr * lb)(col("text")))
            .select(col("doc_id"), col("source"), col("n_urls"),
              qualityScoreOf(col("text"), col("__toks"), col("__ltoks")).as("quality"),
              tokenCountOf(col("__toks")).cast("long").as("n_tokens"),
              col("keep"), col("__c._1").as("minhash_sig"),
              col("__c._2").as("shingles")),
          s"e2e_cur_batch_$tag", d)
        // Near-dup pairs for the WHOLE drop, committed BEFORE any doc
        // chunk: within-drop pairs + drop-vs-index pairs cover exactly
        // the pairs this drop adds, and committing them first means a
        // crash can only leave ORPHAN pairs (docs the sink doesn't
        // know — recomputed and PK-upserted idempotently on recovery).
        // The opposite order would commit docs whose pairs are lost,
        // and the recovery anti-join would never revisit them: a
        // silent, permanent dedup hole.
        val dedupIn = batch.filter(col("keep"))
          .select(col("doc_id"), col("minhash_sig"), col("shingles"))
        val index =
          if (store.exists(docSpec))
            store.read(docSpec).filter(col("keep"))
              .select(col("doc_id"), col("minhash_sig"), col("shingles"))
          else dedupIn.filter(lit(false))
        val within = Dedup.minHashPairsWithinSigs(dedupIn, "doc_id",
          numHashes = lr * lb, bands = lb, jaccardThreshold = 0.4)
        val cross = Dedup.minHashPairsBetweenSigs(dedupIn, index, "doc_id",
          numHashes = lr * lb, bands = lb, jaccardThreshold = 0.4)
        // count() (not isEmpty) fills the persisted cache completely, so
        // the upsert reads the cache instead of recomputing the pair
        // pipeline for the partitions isEmpty never touched
        val pairs = within.unionByName(cross).persist()
        val nPairs = pairs.count()
        if (nPairs > 0) store.upsert(pairSpec, pairs)
        pairs.unpersist()
        // the reference's bunch-insert batching: docs commit in chunks
        // so a crash preserves partial progress
        // chunk on doc_id div 2 so BOTH parity drops split non-trivially
        (0 until 2).foreach { i =>
          val chunk = batch.filter(pmod(expr("doc_id div 2"), lit(2)) === i)
          if (!chunk.isEmpty) store.upsert(docSpec, chunk)
          if (i == crashBetweenChunk)
            throw new RuntimeException(
              "injected crash: drop pairs + first doc chunk committed, rest lost")
        }
        n
      }

      runDrop("run1", lit(0), -1) // drop 1: even docs, clean run
      val crashed =
        try { runDrop("crash", lit(1), 0); false }
        catch { case _: RuntimeException => true }
      require(crashed, "e2e curation: crash injection never fired")
      // what the torn state actually committed (drop 2 = the odd docs);
      // the recovery assertion is exact arithmetic against it rather
      // than a strict `< fullDrop2` — at a small enough SF (or an
      // unlucky id distribution under the div-2 chunking) chunk 0 can
      // legitimately be empty, where re-fetching the whole drop IS the
      // correct recovery and the old inequality aborted a healthy run
      val committedAtCrash = store.read(docSpec)
        .filter(pmod(col("doc_id"), lit(2)) === 1).count()
      // recovery: REPLAN from the sink — the committed chunk's docs are
      // skipped, the lost chunk's docs are re-fetched and their (already
      // committed) pairs PK-upsert idempotently
      val replayed = runDrop("rec", lit(1), -1)
      val fullDrop2 = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(2)) === 1).count()
      require(replayed == fullDrop2 - committedAtCrash,
        s"recovery re-fetched $replayed of $fullDrop2 docs with " +
          s"$committedAtCrash already committed — sink replanning is " +
          "not engaged")
      // ── the serving read: suppress near-dups, cut to budget, shard ──
      val curated = store.read(docSpec)
      val kept = curated.filter(col("keep"))
      val dupPairs =
        if (store.exists(pairSpec)) store.read(pairSpec)
        else kept.select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
          .filter(lit(false))
      // min-id-wins, pair-set-based (NOT transitive): a doc survives
      // unless some smaller-id doc pairs with it — a pure function of
      // the pair SET, so batch order cannot change the outcome
      val alive = graft.core.Scratch.materialize(
        kept.join(dupPairs.select(col("id_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_urls"),
            col("quality"), col("n_tokens")),
        "e2e_cur_alive", d)
      val budget = alive.agg(sum("n_tokens")).first.getLong(0) * 3 / 5
      val cut = graft.operators.BudgetCut.qualityBudgetCut(
        alive, "doc_id", "quality", "n_tokens", budget, buckets = 1000)
      graft.operators.CorpusStats
        .tokenBalancedShards(cut.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", 16)
        .join(alive.select(col("doc_id"), col("source"), col("n_urls"),
          col("quality")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_urls"), col("quality"),
          col("n_tokens"), col("ord"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    "dd_embed_cosine" -> ((s, d) => {
      // Embedding-cosine near-dup: same-label blocking (at scale the
      // block is an IVF cell), exact cosine verify, keep lower id.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      Dedup.embeddingCosinePairs(e, "vec_id", "v", "label", minCosine = 0.3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup: coarse-cluster the embedding space (8 deterministic
    // low-id centroids — at scale, kmeansTrain output), then drop any
    // vector with a ≥eps lower-id neighbor in its own cell. eps = 0.3 is
    // this fixture's near-duplicate band (max within-cell cosine ≈ 0.49;
    // real corpora run ≥ 0.95) — same float-safe cutoff dd_embed_cosine
    // proved engine-portable.
    "dd_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      Dedup.semDedup(e, "vec_id", "v", centroids, "cent_id", "cv", eps = 0.3)
        .orderBy(col("vec_id"))
    }),

    "v_knn_bruteforce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e,
        qId = "vec_id", qVec = "v", cId = "vec_id", cVec = "v",
        k = 3, rankRound = Some(6))
        .withColumn("rank", col("rank").cast("long")) // DuckDB row_number is BIGINT
        .orderBy(col("query_id"), col("rank"))
    }),

    // Filtered vector search — the metadata-predicate ANN problem: the
    // label filter applies BEFORE ranking (pre-filter, exact top-k over
    // the eligible slice). Post-filtering an unfiltered ANN result
    // undershoots k when the predicate is selective; declaring the
    // filter on the corpus side keeps the semantics right and lets
    // Catalyst push the predicate to the scan.
    "v_ann_filtered" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e.filter(pmod(col("label"), lit(2)) === 0),
        qId = "vec_id", qVec = "v", cId = "vec_id", cVec = "v",
        k = 3, rankRound = Some(6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "v_ivf_assign" -> ((s, d) => {
      // IVF coarse quantization: assign every vector to its nearest of 8
      // deterministic centroids (vec_id < 8); per-cell population stats.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      Similarity.ivfAssign(e, "vec_id", "v", centroids, "cent_id", "cv")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy(col("cell"))
    }),

    "v_ivf_topk" -> ((s, d) => {
      // Full IVF search: 8 deterministic centroids, probe the 2 nearest
      // cells per query, exact top-3 inside the probed cells.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      Similarity.ivfSearch(
        e.filter(col("vec_id") < 20), e,
        qId = "vec_id", qVec = "v", cId = "vec_id", cVec = "v",
        centroids, "cent_id", "cv",
        nprobe = 2, k = 3, rankRound = Some(6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "v_lsh_pairs" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // maxBucketSize = 16 is deliberately below the largest SRP bucket
      // at every SF (18 at sf0.001, 19 at sf0.01, 80 at sf0.1), so the
      // mega-bucket skew guard is actually exercised — the oracle
      // replicates the cap and its dropped pairs.
      Similarity.lshNeighborPairs(e, "vec_id", "v", dim = 64, nBits = 6,
        minCosine = 0.3, maxBucketSize = 16)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // IVF centroid training: 2 Lloyd iterations from the 8 lowest-id
    // seeds; the trained model is value-checked component-by-component
    // (melted to (cent_id, pos, val) — 8×64 rows). Exact decimal sums
    // make the means bit-reproducible, so the oracle replays both
    // iterations and hash-matches every coordinate.
    "v_kmeans_train" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.kmeansTrain(e, "vec_id", "v", k = 8, iters = 2)
        .select(col("cent_id"), posexplode(col("centroid")).as(Seq("pos", "val")))
        .select(col("cent_id"), col("pos").cast("long").as("pos"),
          round(col("val"), 6).as("val"))
        .orderBy(col("cent_id"), col("pos"))
    }),

    // Product quantization: 64-dim → 4 sub-codes from an 8-centroid
    // codebook per subspace (deterministic low-id seeds + 2 Lloyd
    // iterations per subspace — the trained-codebook path) + total
    // reconstruction error. Melted to (vec_id, sub_id, code) so every
    // code byte is value-checked; err repeats per row, rounded like the
    // kmeans model. The oracle replays both training iterations
    // (exact-decimal means, as v_kmeans_train proved replayable).
    "v_pq_encode" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cb = Similarity.pqTrain(e, "vec_id", "v", dim = 64, m = 4, kSub = 8, iters = 2)
      Similarity.pqEncode(e, "vec_id", "v", cb, m = 4)
        .select(col("vec_id"), col("sub_id").cast("long").as("sub_id"),
          col("code"), round(col("recon_err"), 6).as("recon_err"))
        .orderBy(col("vec_id"), col("sub_id"))
    }),

    // ADC top-k over the PQ codes: the corpus side of the search is ONLY
    // the m-code rows — the compressed-ANN read path at 100 TB.
    "v_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cb = Similarity.pqTrain(e, "vec_id", "v", dim = 64, m = 4, kSub = 8, iters = 2)
      val codes = Similarity.pqEncode(e, "vec_id", "v", cb, m = 4)
        .select(col("vec_id"), col("sub_id"), col("code"))
      Similarity.pqSearch(e.filter(col("vec_id") < 20), "vec_id", "v",
        codes, "vec_id", cb, m = 4, k = 3, distRound = Some(6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF + PQ fused: the billion-scale index shape — coarse cells
    // prune the corpus to nprobe=2 of 8 cells, ADC over the PQ codes
    // inside them. Same deterministic coarse centroids as v_ivf_topk,
    // same trained codebook as v_pq_topk; the oracle composes both
    // replays.
    "v_ivfpq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centroids = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
      val cb = Similarity.pqTrain(e, "vec_id", "v", dim = 64, m = 4, kSub = 8, iters = 2)
      val codes = Similarity.pqEncode(e, "vec_id", "v", cb, m = 4)
        .select(col("vec_id"), col("sub_id"), col("code"))
      val e2 = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cells = Similarity.ivfAssign(e2, "vec_id", "v", centroids, "cent_id", "cv")
        .select(col("vec_id"), col("cell"))
      Similarity.ivfPqSearch(e.filter(col("vec_id") < 20), "vec_id", "v",
        codes, "vec_id", cells, cb, centroids, "cent_id", "cv",
        m = 4, nprobe = 2, k = 3, distRound = Some(6))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The index measuring itself: recall@3 of the IVF search against
    // the exact scan, per query and with the same tie-breaks — the
    // quality number an ANN deployment watches when it tunes nprobe.
    // Two operating points are reported: "base" is v_ivf_topk's
    // cost-first setting (8 cells, nprobe 2 — probes 25% of the index,
    // the trade-off illustration), "tuned" is the recall-target
    // deployment point (32 cells, nprobe 10 — finer cells, ~31%
    // probed): measured mean recall@3 ≥ 0.95 at every test SF
    // (0.983 / 0.967 / 1.0 at sf0.001 / 0.01 / 0.1). The oracle
    // composes the exact-scan replay with one IVF replay per setting.
    "v_recall_report" -> ((s, d) => {
      val exact = queries("v_knn_bruteforce")(s, d)
        .select(col("query_id"), col("neighbor_id"))
      def recallOf(setting: String, nCells: Int, nprobe: Int) = {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val centroids = e.filter(col("vec_id") < nCells)
          .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        val ivf = Similarity.ivfSearch(
          e.filter(col("vec_id") < 20), e,
          qId = "vec_id", qVec = "v", cId = "vec_id", cVec = "v",
          centroids, "cent_id", "cv",
          nprobe = nprobe, k = 3, rankRound = Some(6))
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
        exact.join(ivf, Seq("query_id", "neighbor_id"), "left_outer")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
          .select(lit(setting).as("setting"), col("query_id"), col("k"),
            round(col("n_found").cast("double") / col("k").cast("double"), 6)
              .as("recall"))
      }
      recallOf("base", 8, 2).unionAll(recallOf("tuned", 32, 10))
        .orderBy(col("setting"), col("query_id"))
    }),

    // MMR diversified re-ranking over the exact top-10 pool: greedy
    // λ=0.7 relevance-vs-redundancy selection of 4 results per query.
    // The oracle unrolls the greedy loop step by step (same pattern as
    // the BPE-merge replay), so every selection and score is
    // value-checked.
    "v_mmr_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      Similarity.mmrRerank(q, e, "vec_id", "v", "vec_id", "v",
        k = 4, poolSize = 10, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Int8 scalar quantization of every embedding: per-vector scale,
    // fingerprinted codes, and L2 reconstruction error — all replayed
    // cell-exact by the oracle.
    "v_int8_quant" -> ((s, d) =>
      Similarity.int8Quantize(Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy(col("vec_id"))))

  private val toksExpr =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0)"""
  private val toksLower =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0)"""
  // single-quote doubled for embedding in SQL string literals
  private val punctClass = """[.,!?;:''"()\[\]{}-]"""

  /** Corpus-side CTEs shared by every MinHash-LSH setting: normalized
    * text → distinct 5-char shingles → (h1, h2) MD5 hash pairs. The
    * per-setting pipelines ([[minhashSettingCtes]]) differ only in how
    * many permutation components they take and how they band.
    */
  private def minhashBaseCtes = minhashBaseCtesFrom("documents")

  /** [[minhashBaseCtes]] over an arbitrary source CTE/table carrying
    * (doc_id, text) — the e2e curation oracle runs the pipeline over
    * its GATE-surviving subset instead of the whole corpus. */
  private def minhashBaseCtesFrom(src: String) =
    // Identity collapse replay (r13, Dedup.minHashPairsCore): one
    // representative (min doc_id) per distinct normalized text; the
    // whole pipeline runs in rep space (`sh`/`hs` are per-REP), member
    // pairs fan out at emission — `spr` carries the same-text
    // jaccard-1.0 pairs every setting unions in.
    s"""t AS (SELECT doc_id, array_to_string($toksLower, ' ') AS norm FROM $src),
       |grp AS (SELECT norm, min(doc_id) AS rid FROM t
       |  WHERE norm IS NOT NULL GROUP BY norm),
       |mem AS (SELECT g.rid, t.doc_id AS id FROM t JOIN grp g ON g.norm = t.norm),
       |spr AS (SELECT a.id AS id_a, b.id AS id_b, 1.0 AS jac
       |  FROM mem a JOIN mem b ON b.rid = a.rid AND b.id > a.id),
       |sh AS (SELECT rid AS doc_id,
       |    list_distinct(list_transform(range(0, greatest(len(norm) - 4, 1)),
       |      i -> substr(norm, i + 1, 5))) AS shingles
       |  FROM grp),
       |hs AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, s ->
       |      ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hl
       |  FROM sh)""".stripMargin

  /** The ONE shared signature pass every MinHash-LSH setting in a query
    * prefix-slices (the r16 oracle-cost fix): `maxHashes` independent
    * universal permutations `(a_k·h1 + b_k) mod (2⁶¹−1)` with
    * MD5-derived coefficients — one multiply-mod per (shingle, k), the
    * exact twin of the engine's Mersenne-folded kernel
    * (Dedup.minHashSignature; component k depends only on k, so a
    * numHashes-component signature IS sig[1:numHashes] of this one —
    * the same prefix-slicing Dedup.minHashDupPairsBudgeted's shared
    * collapse pass exploits). Two cost properties are load-bearing for
    * the driver's gate wall time (DuckDB 1.0):
    *
    *  1. MATERIALIZED: 1.0 INLINES plain CTEs per reference, and `sigs`
    *     is referenced ~5× per setting × up to 3 settings — the r15
    *     oracles re-evaluated the |shingles|×numHashes pass ~15× per
    *     query (measured 195 s for dd_minhash_pairs at sf0.01; 4 s once
    *     materialized and shared).
    *  2. BIGINT split arithmetic: DuckDB's 128-bit `%` is a real
    *     128-bit division — measured 0.6 M rows/s/thread vs 13.5 M for
    *     the split form (22×). With a = ah·2³¹+al, x = xh·2³⁰+xl and
    *     2⁶¹ ≡ 1 (mod p): a·x ≡ ah·xh + rot₃₁(ah·xl) + rot₃₀(al·xh)
    *     + al·xl, every product < 2⁶² and every rotation a shift/mask
    *     pair — verified bit-equal to the HUGEINT form on 2 M random
    *     (a, b, x) triples and on the full corpus signature table.
    *
    * Also emits `hx`, the exploded (doc_id, shingle-hash) table the
    * join-based exact-Jaccard verify in [[minhashSettingCtes]] probes.
    */
  private def minhashSigCtes(maxHashes: Int): String =
    s"""mhab AS (SELECT r.range AS k,
       |    CASE WHEN ('0x' || substr(md5('mh:' || r.range), 1, 15))::BIGINT = 0 THEN 1
       |      ELSE ('0x' || substr(md5('mh:' || r.range), 1, 15))::BIGINT END AS a,
       |    ('0x' || substr(md5('mh:' || r.range), 16, 14))::BIGINT AS b
       |  FROM range(0, $maxHashes) r),
       |sigt AS (SELECT doc_id, k, b,
       |    (ah * xh) % 2305843009213693951 AS t1,
       |    (ah * xl) % 2305843009213693951 AS t2,
       |    (al * xh) % 2305843009213693951 AS t3,
       |    (al * xl) % 2305843009213693951 AS t4
       |  FROM (SELECT doc_id, k, b,
       |      (a >> 31) AS ah, (a & 2147483647) AS al,
       |      (x >> 30) AS xh, (x & 1073741823) AS xl
       |    FROM (SELECT doc_id, unnest(hl) AS x FROM hs) u CROSS JOIN mhab) sp),
       |sigx AS (SELECT doc_id, k,
       |    min(((((t1
       |      + ((t2 & 1073741823) * 2147483648 + (t2 >> 30))) % 2305843009213693951
       |      + ((t3 & 2147483647) * 1073741824 + (t3 >> 31))) % 2305843009213693951
       |      + t4) % 2305843009213693951
       |      + b) % 2305843009213693951) AS mn
       |  FROM sigt GROUP BY doc_id, k),
       |sigs AS MATERIALIZED (SELECT h.doc_id, h.hl, len(h.hl) AS hn,
       |    list(s.mn ORDER BY s.k) AS sig
       |  FROM sigx s JOIN hs h USING (doc_id) GROUP BY h.doc_id, h.hl),
       |hx AS MATERIALIZED (SELECT doc_id, unnest(hl) AS x FROM sigs)""".stripMargin

  /** Per-setting MinHash-LSH pipeline CTEs on top of [[minhashBaseCtes]]
    * + [[minhashSigCtes]] (whose `maxHashes` must be ≥ this setting's
    * `numHashes` — the banding and the est prefilter read prefixes of
    * the shared `sigs`), ending in `prs$p(id_a, id_b, jac)`: banding
    * (`bands` bands of numHashes/bands rows — bucket KEYS differ from
    * the engine's xxhash64 but bucket MEMBERSHIP is identical), the
    * mega-bucket cap (literal, or the measured gap-rule selection when
    * `autoCap`), the est ≥ 0.15 signature prefilter over the first
    * `numHashes` components, the exact hashed-shingle Jaccard ≥ τ
    * verify, and the member fan-out of the identity collapse
    * (cross-rep pairs + the shared `spr` same-text pairs) — the exact
    * replay of [[graft.operators.Dedup.minHashDupPairs]]. `banded$p`
    * and `prs$p` are MATERIALIZED (multi-referenced under DuckDB 1.0's
    * per-reference CTE inlining; both are rep-space-sized).
    */
  private def minhashSettingCtes(p: String, numHashes: Int, bands: Int,
      maxBucket: Int = 100, autoCap: Boolean = false,
      noCap: Boolean = false, tau: Double = 0.4,
      budgetCapPerRep: Option[Long] = None): String = {
    val rows = numHashes / bands
    // engine twin: estCutoff = max(0, τ - 0.25); fixed 2-dp rendering so
    // the SQL literal is exact for the thresholds in use
    val tauLit = f"$tau%.2f"
    val estLit = f"${math.max(0.0, tau - 0.25)}%.2f"
    // Auto mode replays Dedup.autoBucketCap's two-tier rule (r15): the
    // largest relative gap (argmax by (ratio, n)) between consecutive
    // distinct bucket sizes ≥ 16 when it QUALIFIES (ratio ≥ 1.5 — an
    // exact-double compare against a representable literal), else the
    // largest ABSOLUTE gap (ties → larger n), else max(n) when no gap
    // row exists at all. budgetCapPerRep replays Dedup.budgetCap — the
    // tier-3 HARD bound: the largest bucket size whose ascending
    // cumulative mass Σ C(n,2)·count(n) fits budget·|reps|, 1 when even
    // size-2 buckets overshoot. noCap disables the mega-bucket guard
    // entirely (the e2e curation DAG's decomposable setting).
    require(!(autoCap && budgetCapPerRep.isDefined),
      "autoCap and budgetCapPerRep are mutually exclusive cap modes")
    val capClause =
      if (noCap) Long.MaxValue.toString
      else if (autoCap) s"(SELECT cap FROM cap$p)"
      else if (budgetCapPerRep.isDefined) s"(SELECT cap FROM bcap$p)"
      else maxBucket.toString
    val autoCtes = if (autoCap)
      s"""|bsz$p AS (SELECT band, bh, count(*) AS n FROM banded$p GROUP BY 1, 2),
          |ds$p AS (SELECT DISTINCT n FROM bsz$p),
          |gap$p AS (SELECT n, lead(n) OVER (ORDER BY n) AS nx FROM ds$p),
          |cap$p AS (SELECT COALESCE(
          |    (SELECT n FROM (SELECT n, CAST(nx AS DOUBLE) / n AS r FROM gap$p
          |       WHERE n >= 16 AND nx IS NOT NULL
          |       ORDER BY r DESC, n DESC LIMIT 1) g
          |     WHERE g.r >= 1.5),
          |    (SELECT n FROM (SELECT n, nx - n AS ag FROM gap$p
          |       WHERE n >= 16 AND nx IS NOT NULL
          |       ORDER BY ag DESC, n DESC LIMIT 1) a),
          |    (SELECT max(n) FROM ds$p)) AS cap),
          |""".stripMargin
    else budgetCapPerRep.map(bpr =>
      s"""|bsz$p AS (SELECT band, bh, count(*) AS n FROM banded$p GROUP BY 1, 2),
          |bh$p AS (SELECT n, CAST(count(*) AS BIGINT) AS m FROM bsz$p GROUP BY n),
          |bcap$p AS (SELECT COALESCE((SELECT max(n) FROM (
          |    SELECT n, sum((n * (n - 1) // 2) * m) OVER (ORDER BY n) AS cum
          |    FROM bh$p) z
          |  WHERE cum <= $bpr * (SELECT count(*) FROM grp)), 1) AS cap),
          |""".stripMargin).getOrElse("")
    s"""banded$p AS MATERIALIZED (SELECT doc_id, b.range AS band,
       |    array_to_string(sig[b.range * $rows + 1 : b.range * $rows + $rows], ',') AS bh
       |  FROM sigs, range(0, $bands) b),
       |${autoCtes}ok$p AS (SELECT band, bh FROM banded$p GROUP BY 1, 2 HAVING count(*) <= $capClause),
       |cand$p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded$p a JOIN ok$p USING (band, bh)
       |  JOIN banded$p b ON b.band = a.band AND b.bh = a.bh AND b.doc_id > a.doc_id),
       |est$p AS (SELECT id_a, id_b
       |  FROM cand$p
       |  JOIN sigs sa ON sa.doc_id = cand$p.id_a
       |  JOIN sigs sb ON sb.doc_id = cand$p.id_b
       |  WHERE CAST(len(list_filter(range(1, ${numHashes + 1}),
       |    i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $numHashes >= $estLit),
       |rp$p AS (
       |  -- exact-Jaccard verify as an unnest-join intersection count:
       |  -- per-pair list_intersect over ~200-element lists ran at
       |  -- ~150 µs/pair (9 s for one setting's 59 k candidates at
       |  -- sf0.01); the join form is one hash probe per (pair,
       |  -- shingle). hl is distinct, so count(*) = |A∩B| and
       |  -- |A∪B| = hn_a + hn_b − ic exactly; a candidate with empty
       |  -- intersection has no group row, matching jac 0 < τ.
       |  SELECT id_a, id_b, jac FROM (
       |    SELECT i.id_a, i.id_b,
       |      CAST(i.ic AS DOUBLE) / (sa.hn + sb.hn - i.ic) AS jac
       |    FROM (SELECT e.id_a, e.id_b, count(*) AS ic
       |        FROM est$p e
       |        JOIN hx ua ON ua.doc_id = e.id_a
       |        JOIN hx ub ON ub.doc_id = e.id_b AND ub.x = ua.x
       |        GROUP BY 1, 2) i
       |    JOIN sigs sa ON sa.doc_id = i.id_a
       |    JOIN sigs sb ON sb.doc_id = i.id_b) x
       |  WHERE jac >= $tauLit),
       |prs$p AS MATERIALIZED (
       |  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, jac
       |  FROM rp$p JOIN mem ma ON ma.rid = rp$p.id_a
       |  JOIN mem mb ON mb.rid = rp$p.id_b
       |  UNION ALL SELECT id_a, id_b, jac FROM spr)""".stripMargin
  }

  /** The DEFAULT pipeline with unprefixed CTE names, ending in `prs` —
    * used by the pair oracle and the connected-components oracles.
    * r15: the default is the BUDGET-AWARE derived operating point
    * (Dedup.minHashDupPairsBudgeted), all THREE tiers replayed: both
    * ladder shapes' pipelines are built (R=0.99 → `_p99`, R=0.95 →
    * `_p95`, each with its measured histogram cap) plus the tail shape
    * under the tier-3 BUDGET-derived cap (`_p95b` — the hard bound);
    * the decision CTE recomputes each shape's capped candidate mass
    * Σ C(n,2) against the budget·|reps| bound with exact integer
    * arithmetic, and `prs` is the gated three-way union — exactly the
    * walk the engine performs, replayed value-level.
    */
  private def minhashPairCtes: String =
    minhashPairCtesAt(graft.operators.Dedup.DefaultBudgetPairsPerRep)

  /** [[minhashPairCtes]] at an explicit per-rep budget — the floor/mid
    * decision-coverage oracles replay the identical three-tier walk at
    * budgets that force tiers 3 and 2 at the driver's gate SF. */
  /** dd_incremental_index / dd_incremental_budget oracle (r16): the
    * asymmetric ingest replay — two-sided identity collapse, index-side
    * banding under the full three-branch gap rule (ratio knee ≥ 1.5 →
    * absolute-gap knee → max) REFINED by the measured per-batch budget
    * walk (engine: `minHashAgainstIndexCore`'s `budgetCapFromMassHist`
    * over the (index bucket size, batch band hits) histogram — mass
    * n·m, the asymmetric analogue of the self-join's C(n,2)·m), est
    * prefilter and join-based exact verify on the shared
    * permutation-family signature pass ([[minhashSigCtes]] — r16 also
    * retires this oracle's leftover Kirsch–Mitzenmacher replay, which
    * matched the engine only value-level at gate SFs). */
  private def incrementalIndexOracle(budget: Long): String = {
    val (idxR, idxB) = graft.operators.Dedup.lshAutoShape(0.4, 0.99, 64)
    val idxH = idxR * idxB
    s"""WITH inp AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 37 = 0),
       |t AS (SELECT doc_id, array_to_string($toksLower, ' ') AS norm FROM inp),
       |ig AS (SELECT norm, min(doc_id) AS rid FROM t
       |  WHERE doc_id < 1000000 AND norm IS NOT NULL GROUP BY norm),
       |bg AS (SELECT norm, min(doc_id) AS rid FROM t
       |  WHERE doc_id >= 1000000 AND norm IS NOT NULL GROUP BY norm),
       |im AS (SELECT g.rid, t.doc_id AS id, t.norm FROM t
       |  JOIN ig g ON g.norm = t.norm WHERE t.doc_id < 1000000),
       |bm AS (SELECT g.rid, t.doc_id AS id, t.norm FROM t
       |  JOIN bg g ON g.norm = t.norm WHERE t.doc_id >= 1000000),
       |spr AS (SELECT b.id AS new_id, a.id AS index_id, 1.0 AS jac
       |  FROM bm b JOIN im a ON a.norm = b.norm),
       |srp AS (SELECT b.rid AS new_rid, a.rid AS index_rid
       |  FROM bg b JOIN ig a ON a.norm = b.norm),
       |reps AS (SELECT rid AS doc_id, norm FROM ig
       |  UNION ALL SELECT rid AS doc_id, norm FROM bg),
       |sh AS (SELECT doc_id,
       |    list_distinct(list_transform(range(0, greatest(len(norm) - 4, 1)),
       |      i -> substr(norm, i + 1, 5))) AS shingles
       |  FROM reps),
       |hs AS (SELECT doc_id,
       |    list_distinct(list_transform(shingles, s ->
       |      ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hl
       |  FROM sh),
       |${minhashSigCtes(idxH)},
       |banded AS MATERIALIZED (SELECT doc_id, b.range AS band,
       |    array_to_string(sig[b.range * $idxR + 1 : b.range * $idxR + $idxR], ',') AS bh
       |  FROM sigs, range(0, $idxB) b),
       |bszi AS MATERIALIZED (SELECT band, bh, count(*) AS n FROM banded
       |  WHERE doc_id < 1000000 GROUP BY 1, 2),
       |dsi AS (SELECT DISTINCT n FROM bszi),
       |gapi AS (SELECT n, lead(n) OVER (ORDER BY n) AS nx FROM dsi),
       |capi AS (SELECT COALESCE(
       |    (SELECT n FROM (SELECT n, CAST(nx AS DOUBLE) / n AS r FROM gapi
       |       WHERE n >= 16 AND nx IS NOT NULL
       |       ORDER BY r DESC, n DESC LIMIT 1) g
       |     WHERE g.r >= 1.5),
       |    (SELECT n FROM (SELECT n, nx - n AS ag FROM gapi
       |       WHERE n >= 16 AND nx IS NOT NULL
       |       ORDER BY ag DESC, n DESC LIMIT 1) a),
       |    (SELECT max(n) FROM dsi)) AS cap),
       |bn AS (SELECT band, bh, n FROM bszi WHERE n <= (SELECT cap FROM capi)),
       |mh AS (SELECT bn.n, count(*) AS m
       |  FROM banded b JOIN bn ON bn.band = b.band AND bn.bh = b.bh
       |  WHERE b.doc_id >= 1000000 GROUP BY bn.n),
       |capb AS (SELECT COALESCE((SELECT max(n) FROM (
       |    SELECT n, sum(n * m) OVER (ORDER BY n
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM mh) w
       |    WHERE cum <= $budget * (SELECT count(*) FROM bg)), 1) AS cap),
       |fcap AS (SELECT least((SELECT cap FROM capi), (SELECT cap FROM capb)) AS cap),
       |ok AS (SELECT band, bh FROM bszi WHERE n <= (SELECT cap FROM fcap)),
       |cand AS (SELECT DISTINCT b.doc_id AS new_rid, a.doc_id AS index_rid
       |  FROM banded a JOIN ok ON ok.band = a.band AND ok.bh = a.bh
       |  JOIN banded b ON b.band = a.band AND b.bh = a.bh
       |  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000),
       |est AS (SELECT c.new_rid, c.index_rid
       |  FROM cand c
       |  JOIN sigs sn ON sn.doc_id = c.new_rid
       |  JOIN sigs si ON si.doc_id = c.index_rid
       |  WHERE NOT EXISTS (SELECT 1 FROM srp s
       |      WHERE s.new_rid = c.new_rid AND s.index_rid = c.index_rid)
       |    AND CAST(len(list_filter(range(1, ${idxH + 1}),
       |      i -> sn.sig[i] = si.sig[i])) AS DOUBLE) / $idxH >= 0.15),
       |rp AS (
       |  SELECT i.new_rid, i.index_rid,
       |    CAST(i.ic AS DOUBLE) / (sn.hn + si.hn - i.ic) AS jac
       |  FROM (SELECT e.new_rid, e.index_rid, count(*) AS ic
       |      FROM est e
       |      JOIN hx ua ON ua.doc_id = e.new_rid
       |      JOIN hx ub ON ub.doc_id = e.index_rid AND ub.x = ua.x
       |      GROUP BY 1, 2) i
       |  JOIN sigs sn ON sn.doc_id = i.new_rid
       |  JOIN sigs si ON si.doc_id = i.index_rid),
       |fan AS (SELECT bm.id AS new_id, im.id AS index_id, rp.jac
       |  FROM rp JOIN bm ON bm.rid = rp.new_rid
       |  JOIN im ON im.rid = rp.index_rid
       |  WHERE rp.jac >= 0.4)
       |SELECT new_id, index_id, round(jac, 6) AS jaccard
       |FROM (SELECT * FROM fan UNION ALL SELECT * FROM spr) u
       |ORDER BY new_id, index_id""".stripMargin
  }

  private def minhashPairCtesAt(bud: Long) = {
    val (r99, b99) = graft.operators.Dedup.lshAutoShape(0.4, 0.99, 64)
    val (r95, b95) = graft.operators.Dedup.lshAutoShape(0.4, 0.95, 64)
    // the shared signature table carries the WIDEST shape's components;
    // every setting (including recall-report's 16/64-hash extras) is a
    // prefix slice of it — max over the ladder, exactly like the
    // engine's maxHashes in minHashDupPairsBudgeted
    val maxH = math.max(r99 * b99, r95 * b95)
    s"""$minhashBaseCtes,
       |${minhashSigCtes(maxH)},
       |${minhashSettingCtes("_p99", numHashes = r99 * b99, bands = b99, autoCap = true)},
       |${minhashSettingCtes("_p95", numHashes = r95 * b95, bands = b95, autoCap = true)},
       |${minhashSettingCtes("_p95b", numHashes = r95 * b95, bands = b95,
           budgetCapPerRep = Some(bud))},
       |dec AS (SELECT
       |    COALESCE((SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT)
       |      FROM bsz_p99 WHERE n <= (SELECT cap FROM cap_p99)), 0)
       |    <= $bud * (SELECT count(*) FROM grp) AS use_p99,
       |    COALESCE((SELECT CAST(sum((n * (n - 1)) // 2) AS BIGINT)
       |      FROM bsz_p95 WHERE n <= (SELECT cap FROM cap_p95)), 0)
       |    <= $bud * (SELECT count(*) FROM grp) AS use_p95),
       |prs AS MATERIALIZED (
       |  SELECT id_a, id_b, jac FROM prs_p99 WHERE (SELECT use_p99 FROM dec)
       |  UNION ALL
       |  SELECT id_a, id_b, jac FROM prs_p95
       |  WHERE NOT (SELECT use_p99 FROM dec) AND (SELECT use_p95 FROM dec)
       |  UNION ALL
       |  SELECT id_a, id_b, jac FROM prs_p95b
       |  WHERE NOT (SELECT use_p99 FROM dec) AND NOT (SELECT use_p95 FROM dec))""".stripMargin
  }

  /** One recall-report row CTE: setting label + counts + floor-micro
    * recall/precision of LSH pair table `prsName` vs the exact CTE
    * `exp`.
    */
  private def lshReportCte(setting: String, prsName: String, cteName: String): String =
    s"""$cteName AS (
       |  SELECT '$setting' AS setting, n_exact, n_lsh, n_hit,
       |    CASE WHEN n_exact > 0 THEN
       |      floor(CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    END AS lsh_recall,
       |    CASE WHEN n_lsh > 0 THEN
       |      floor(CAST(n_hit AS DOUBLE) / CAST(n_lsh AS DOUBLE) * 1e6 + 0.5) / 1e6
       |    END AS lsh_precision
       |  FROM (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM exp) AS n_exact,
       |    (SELECT CAST(count(*) AS BIGINT) FROM $prsName) AS n_lsh,
       |    (SELECT CAST(count(*) AS BIGINT) FROM
       |      (SELECT id_a, id_b FROM exp INTERSECT
       |       SELECT id_a, id_b FROM $prsName) h) AS n_hit) x)""".stripMargin
  private val enStops =
    englishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** One Lloyd iteration of the k-means oracle: assignment under the
    * centroids CTE `prev` → exact-decimal per-(cell, dim) means →
    * carried centroids CTE `c` (empty cells keep `prev`'s centroid,
    * mirroring [[graft.operators.Similarity.kmeansTrain]]).
    */
  private def kmeansIterCtes(prev: String, a: String, c: String): String =
    s"""$a AS (
       |  SELECT vec_id, cid AS cell, v FROM (
       |    SELECT e.vec_id, c.cid, e.v,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY sqrt(list_sum(list_transform(range(1, 65),
       |          j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j])))) ASC,
       |        c.cid ASC) AS rn
       |    FROM e CROSS JOIN $prev c) x WHERE rn = 1),
       |${a}m AS (
       |  SELECT cell, i,
       |    CAST(sum(CAST(v[i + 1] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
       |  FROM $a, range(0, 64) r(i) GROUP BY cell, i),
       |${a}v AS (SELECT cell AS cid, list(m ORDER BY i) AS cv FROM ${a}m GROUP BY cell),
       |$c AS (SELECT p.cid, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN ${a}v n ON n.cid = p.cid)""".stripMargin

  /** One per-subspace Lloyd iteration of the PQ-codebook oracle, over
    * the melted corpus CTE `es(vec_id, sub, sv)`: assignment under the
    * sub-codebook CTE `prev(sub, cid, cv)` → exact-decimal per-(sub,
    * cell, pos) means → carried codebook CTE `c` (empty cells keep
    * `prev`'s centroid), mirroring
    * [[graft.operators.Similarity.pqTrain]].
    */
  private def pqIterCtes(prev: String, a: String, c: String): String =
    s"""$a AS (
       |  SELECT vec_id, sub, cid, sv FROM (
       |    SELECT es.vec_id, es.sub, c.cid, es.sv,
       |      row_number() OVER (PARTITION BY es.vec_id, es.sub
       |        ORDER BY list_sum(list_transform(range(1, 17),
       |          j -> (es.sv[j] - c.cv[j]) * (es.sv[j] - c.cv[j]))) ASC,
       |        c.cid ASC) AS rn
       |    FROM es JOIN $prev c ON c.sub = es.sub) x WHERE rn = 1),
       |${a}m AS (
       |  SELECT sub, cid, i,
       |    CAST(sum(CAST(sv[i + 1] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
       |  FROM $a, range(0, 16) r(i) GROUP BY sub, cid, i),
       |${a}v AS (SELECT sub, cid, list(m ORDER BY i) AS cv FROM ${a}m GROUP BY sub, cid),
       |$c AS (SELECT p.sub, p.cid, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN ${a}v n ON n.sub = p.sub AND n.cid = p.cid)""".stripMargin

  /** Shared CTE prefix for the PQ oracles: melted subvectors, the seed
    * codebook, two Lloyd iterations (→ `pcb2`), and corpus-code
    * assignment distances `d` under the trained codebook. */
  private val pqTrainedCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |es AS (SELECT vec_id, s.range AS sub,
       |    v[s.range * 16 + 1 : s.range * 16 + 16] AS sv
       |  FROM e, range(0, 4) s),
       |pcb0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM es WHERE vec_id < 8),
       |${pqIterCtes("pcb0", "pt1", "pcb1")},
       |${pqIterCtes("pcb1", "pt2", "pcb2")},
       |d AS (SELECT es.vec_id, es.sub, c.cid,
       |    list_sum(list_transform(range(1, 17),
       |      i -> (es.sv[i] - c.cv[i]) * (es.sv[i] - c.cv[i]))) AS dd
       |  FROM es JOIN pcb2 c ON c.sub = es.sub)""".stripMargin

  /** Full URL-canonicalization CTE chain (every step of
    * UrlOps.canonicalizeUrl over the synthesized ledger), ending in
    * `c(cid, canonical_url)` — shared by t_url_dedup and the e2e
    * curation oracle. */
  private val urlCanonCtes: String =
      """u AS (
        |  SELECT doc_id AS cid, 'https://www.' || source || '.example.com/' || lang || '/doc-' || doc_id AS url FROM documents
        |  UNION ALL SELECT doc_id + 3000000, 'https://www.' || source || '.example.com/' || lang || '/doc-' || doc_id || '?utm_source=feed&utm_campaign=x&fbclid=abc' FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL SELECT doc_id + 4000000, 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/' || lang || '/doc-' || doc_id FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL SELECT doc_id + 5000000, 'https://www.' || source || '.example.com//' || lang || '//doc-' || doc_id || '/#frag' FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL SELECT doc_id + 6000000, 'https://www.' || source || '.example.com/' || lang || '/doc-' || doc_id || '?b=2&a=1&utm_medium=m' FROM documents WHERE doc_id % 31 = 0
        |  UNION ALL SELECT doc_id + 7000000, 'https://www.' || source || '.example.com/' || lang || '/./x/../%64oc-' || doc_id FROM documents WHERE doc_id % 37 = 0
        |  UNION ALL SELECT doc_id + 8000000, 'https://www.' || source || '.example.com/../' || lang || '/doc-' || doc_id || '?q=%2fv' FROM documents WHERE doc_id % 41 = 0),
        |s1 AS (SELECT cid, string_split(url, '#')[1] AS nofrag0 FROM u),
        |s1b AS (SELECT cid, CASE WHEN strpos(nofrag0, '%') = 0 THEN nofrag0 ELSE
        |  string_split(nofrag0, '%')[1] || array_to_string(list_transform(
        |    list_transform(string_split(nofrag0, '%')[2:], p -> {'p': p,
        |      'c': CAST(CASE WHEN regexp_matches(p[1:2], '^[0-9A-Fa-f]{2}$')
        |           THEN (strpos('0123456789ABCDEF', upper(p[1:1])) - 1) * 16
        |              + strpos('0123456789ABCDEF', upper(p[2:2])) - 1
        |           ELSE -1 END AS INTEGER)}),
        |    e -> CASE WHEN e.c = -1 THEN '%' || e.p
        |              WHEN e.c IN (45, 46, 95, 126) OR e.c BETWEEN 48 AND 57
        |                OR e.c BETWEEN 65 AND 90 OR e.c BETWEEN 97 AND 122
        |              THEN chr(e.c) || e.p[3:]
        |              ELSE '%' || upper(e.p[1:2]) || e.p[3:] END), '')
        |  END AS nofrag FROM s1),
        |s2 AS (SELECT cid,
        |  lower(nofrag[1 : strpos(nofrag, '://') - 1]) AS scheme,
        |  nofrag[strpos(nofrag, '://') + 3 :] AS rest FROM s1b),
        |s3 AS (SELECT *,
        |  CASE WHEN strpos(rest, '/') > 0
        |         AND (strpos(rest, '?') = 0 OR strpos(rest, '/') < strpos(rest, '?'))
        |       THEN strpos(rest, '/') - 1
        |       WHEN strpos(rest, '?') > 0 THEN strpos(rest, '?') - 1
        |       ELSE length(rest) END AS hostend FROM s2),
        |s3b AS (SELECT *, rest[1 : hostend] AS hostport,
        |  rest[hostend + 1 :] AS pathquery FROM s3),
        |s4 AS (SELECT *, lower(string_split(hostport, ':')[1]) AS host,
        |  strpos(hostport, ':') > 0 AS hasport,
        |  string_split(hostport, ':')[-1] AS port,
        |  strpos(pathquery, '?') AS qpos FROM s3b),
        |s5 AS (SELECT *,
        |  CASE WHEN hasport AND NOT ((scheme = 'http' AND port = '80')
        |    OR (scheme = 'https' AND port = '443'))
        |    THEN host || ':' || port ELSE host END AS hostc,
        |  CASE WHEN qpos > 0 THEN pathquery[1 : qpos - 1] ELSE pathquery END AS path,
        |  CASE WHEN qpos > 0 THEN pathquery[qpos + 1 :] ELSE '' END AS qry FROM s4),
        |s6 AS (SELECT *,
        |  list_reduce(list_prepend('', list_filter(string_split(path, '/'),
        |      x -> x <> '' AND x <> '.')),
        |    (acc, x) -> CASE WHEN x = '..' THEN regexp_replace(acc, '/[^/]*$', '')
        |                     ELSE acc || '/' || x END) AS pathc,
        |  array_to_string(list_sort(list_filter(string_split(qry, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qc
        |  FROM s5),
        |c AS (SELECT cid, scheme || '://' || hostc || pathc ||
        |  CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canonical_url FROM s6)""".stripMargin

  private def baseOracles: Map[String, String] = Map(
    // Same md5-prefix position, and DuckDB's window ntile/row_number ARE
    // the semantics GlobalRank reproduces distributively — full value
    // replay of position, order index, and shard.
    "t_corpus_shuffle" ->
      """WITH p AS (SELECT doc_id,
        |    ('0x' || substr(md5('shuffle:42:' || doc_id), 1, 15))::BIGINT AS pos
        |  FROM documents)
        |SELECT doc_id, pos,
        |  CAST(row_number() OVER (ORDER BY pos, doc_id) AS BIGINT) AS ord,
        |  CAST(ntile(64) OVER (ORDER BY pos, doc_id) AS BIGINT) AS shard
        |FROM p ORDER BY doc_id""".stripMargin,

    // Histogram-cut replay: same quality formula as t_quality_langid
    // (round-6 doubles are bit-identical cross-engine, so the bucket
    // quantization floor(q*1000) agrees exactly), same 3/5-of-total
    // integer budget, then the bucket prefix-sum replaces the driver
    // scan: full buckets = prefix-before + bucket total ≤ budget, the
    // single boundary bucket replays the (quality desc, doc_id) running
    // token sum against the residual budget.
    "t_quality_budget_cut" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks, $toksLower AS ltoks FROM documents),
         |parts AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS length_score,
         |  1.0 - least((CASE WHEN len(text) > 0 THEN
         |      CAST(len(text) - len(regexp_replace(text, '$punctClass', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
         |  CASE WHEN (CASE WHEN len(toks) > 0 THEN
         |        CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) ELSE 0.0 END)
         |      BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS word_score,
         |  least((CASE WHEN len(ltoks) > 0 THEN
         |      CAST(len(list_filter(ltoks, x -> list_contains($enStops, x))) AS DOUBLE) / len(ltoks)
         |    ELSE 0.0 END) * 5.0, 1.0) AS sw_score
         |FROM t),
         |q AS (SELECT doc_id, n_tokens,
         |  round(length_score * 0.4 + punct_score * 0.2 + word_score * 0.2 + sw_score * 0.2, 6) AS quality
         |FROM parts),
         |qb AS (SELECT *, CAST(floor(least(greatest(quality, 0), 1) * 1000) AS INT) AS b FROM q),
         |bud AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 3 // 5 AS budget FROM q),
         |hist AS (SELECT b, CAST(sum(n_tokens) AS BIGINT) AS bt FROM qb GROUP BY b),
         |cum AS (SELECT b, bt, CAST(coalesce(sum(bt) OVER (ORDER BY b DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb FROM hist),
         |sel AS (SELECT qb.doc_id, qb.quality, qb.n_tokens, qb.b, c.bt, c.cumb, bud.budget
         |  FROM qb JOIN cum c ON qb.b = c.b CROSS JOIN bud),
         |keep AS (
         |  SELECT doc_id, quality, n_tokens FROM sel WHERE cumb + bt <= budget
         |  UNION ALL
         |  SELECT doc_id, quality, n_tokens FROM (
         |    SELECT s.doc_id, s.quality, s.n_tokens, s.cumb, s.budget,
         |      CAST(sum(s.n_tokens) OVER (PARTITION BY s.b
         |        ORDER BY s.quality DESC, s.doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
         |    FROM sel s WHERE s.cumb < s.budget AND s.cumb + s.bt > s.budget) x
         |  WHERE run <= budget - cumb)
         |SELECT doc_id, quality, n_tokens FROM keep ORDER BY doc_id""".stripMargin,

    // Full canonicalization replay: every step of UrlOps.canonicalizeUrl
    // (fragment strip, percent-encoding normalization — decode
    // unreserved escapes, upper-case the rest's hex —, scheme/host
    // lower-case, default-port drop, dot-segment resolution via a
    // string-accumulator list_reduce, slash collapse, trailing-slash
    // strip, tracking-param removal, param sort) re-expressed in DuckDB
    // string/list algebra over the SAME synthesized URL ledger, then
    // the same min-id/count group-by.
    "t_url_dedup" ->
      s"""WITH $urlCanonCtes
        |SELECT canonical_url, CAST(min(cid) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_urls
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    // Snake-shard replay: row_number over (tokens desc, id) is exactly
    // the total order GlobalRank distributes; the boustrophedon
    // placement is pure integer arithmetic on the rank.
    "t_token_shards" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |r AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
         |o AS (SELECT doc_id, n_tokens,
         |  CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS ord FROM r)
         |SELECT doc_id, n_tokens, ord,
         |  CAST(CASE WHEN ((ord - 1) // 16) % 2 = 0 THEN (ord - 1) % 16
         |            ELSE 15 - (ord - 1) % 16 END AS INT) AS shard
         |FROM o ORDER BY doc_id""".stripMargin,

    "t_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks, $toksLower AS ltoks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform(toks, w -> CAST(ceil(len(w) / 4.0) AS INT))) AS BIGINT) AS n_subwords,
         |  CASE WHEN len(text) > 0 THEN
         |    CAST(len(text) - len(regexp_replace(text, '$punctClass', '', 'g')) AS DOUBLE) / len(text)
         |  ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN len(toks) > 0 THEN
         |    CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks)
         |  ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN len(ltoks) > 0 THEN
         |    CAST(len(list_filter(ltoks, x -> list_contains($enStops, x))) AS DOUBLE) / len(ltoks)
         |  ELSE 0.0 END AS stopword_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "t_quality_langid" -> {
      val hitExprs = langProfiles.map { case (lang, markers) =>
        val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(ltoks, x -> list_contains($arr, x))) AS h_$lang"
      }.mkString(",\n  ")
      val langs = langProfiles.map(_._1)
      val gmax = langs.map(l => s"h_$l").mkString("greatest(", ", ", ")")
      val langCase = langs.map(l => s"WHEN h_$l = $gmax THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks, $toksLower AS ltoks FROM documents),
         |h AS (SELECT doc_id, text, toks, ltoks,
         |  $hitExprs
         |FROM t),
         |parts AS (SELECT doc_id,
         |  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS length_score,
         |  1.0 - least((CASE WHEN len(text) > 0 THEN
         |      CAST(len(text) - len(regexp_replace(text, '$punctClass', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
         |  CASE WHEN (CASE WHEN len(toks) > 0 THEN
         |        CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) ELSE 0.0 END)
         |      BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS word_score,
         |  least((CASE WHEN len(ltoks) > 0 THEN
         |      CAST(len(list_filter(ltoks, x -> list_contains($enStops, x))) AS DOUBLE) / len(ltoks)
         |    ELSE 0.0 END) * 5.0, 1.0) AS sw_score,
         |  CASE WHEN $gmax > 0 THEN CASE $langCase END ELSE 'und' END AS lang_pred
         |FROM h)
         |SELECT doc_id,
         |  round(length_score * 0.4 + punct_score * 0.2 + word_score * 0.2 + sw_score * 0.2, 6) AS quality,
         |  lang_pred
         |FROM parts ORDER BY doc_id""".stripMargin
    },

    "t_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string($toksLower, ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |    1 + greatest(0, CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT)) AS nc
         |  FROM t),
         |c AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS chunk_id FROM n)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  least(64, n - chunk_id * 48) AS n_tokens,
         |  md5(array_to_string(
         |    toks[CAST(chunk_id * 48 + 1 AS INT) : CAST(chunk_id * 48 + 64 AS INT)],
         |    ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "t_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 1000000000 + 0.5) / 1e9 AS u
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, n_chars, round(-ln(u) / n_chars, 12) AS key FROM s),
        |r AS (SELECT doc_id, n_chars, key,
        |    row_number() OVER (ORDER BY key ASC, doc_id ASC) AS rank FROM k)
        |SELECT doc_id, n_chars, key, rank FROM r WHERE rank <= 50
        |ORDER BY rank""".stripMargin,

    "t_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS h,
        |    CASE WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) % 2 = 0
        |         THEN 20 ELSE 60 END AS rate
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
        |  min(doc_id) AS first_id, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s WHERE h < rate GROUP BY source ORDER BY source""".stripMargin,

    "t_split_assign" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_id,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    "dd_exact_groups" ->
      s"""SELECT md5(array_to_string($toksLower, ' ')) AS fp,
         |  count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM (SELECT doc_id, text FROM documents
         |      UNION ALL
         |      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 37 = 0)
         |GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin,

    "dd_ngram_jaccard_pairs" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    list_distinct($toksLower) AS w1,
         |    list_distinct(list_transform(
         |      range(0, greatest(len($toksLower) - 3, 0) + 1),
         |      i -> array_to_string(($toksLower)[i + 1:i + 3], ' '))) AS w3
         |  FROM documents)
         |SELECT id_a, id_b, jaccard1, jaccard3 FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(CASE WHEN len(list_distinct(list_concat(a.w1, b.w1))) > 0 THEN
         |      CAST(len(list_intersect(a.w1, b.w1)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.w1, b.w1))) ELSE 0.0 END, 6) AS jaccard1,
         |    round(CASE WHEN len(list_distinct(list_concat(a.w3, b.w3))) > 0 THEN
         |      CAST(len(list_intersect(a.w3, b.w3)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.w3, b.w3))) ELSE 0.0 END, 6) AS jaccard3
         |  FROM t a JOIN t b ON a.source = b.source
         |    AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 25) p
         |WHERE jaccard1 >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dd_containment_pairs" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |    array_to_string((list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> len(x) > 0))[1:15], ' ')
         |  FROM documents WHERE doc_id % 41 = 0),
         |t AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len($toksLower) - 3, 0) + 1),
         |      i -> array_to_string(($toksLower)[i + 1:i + 3], ' '))) AS w3
         |  FROM corpus),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.w3, b.w3)) AS DOUBLE) / len(a.w3) AS c
         |  FROM t a JOIN t b
         |    ON a.doc_id <> b.doc_id AND len(a.w3) <= len(b.w3)
         |  WHERE len(a.w3) > 0)
         |SELECT id_a, id_b, round(c, 6) AS containment
         |FROM p WHERE c >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    // Semantics oracle for the prefix-filter path: brute-force ALL pairs
    // (the filters are a pruning strategy, not a semantics change — the
    // oracle must not replicate them).
    "dd_prefix_filter_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(0, greatest(len($toksLower) - 3, 0) + 1),
         |      i -> array_to_string(($toksLower)[i + 1:i + 3], ' '))) AS w3
         |  FROM documents),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.w3, b.w3)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.w3, b.w3))) AS j
         |  FROM t a JOIN t b ON b.doc_id > a.doc_id
         |  WHERE len(a.w3) > 0 AND len(b.w3) > 0)
         |SELECT id_a, id_b, round(j, 6) AS jaccard
         |FROM p WHERE j >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dd_minhash_pairs" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM prs
         |ORDER BY id_a, id_b""".stripMargin,

    "dd_minhash_budget_mid" ->
      s"""WITH ${minhashPairCtesAt(128L)}
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM prs
         |ORDER BY id_a, id_b""".stripMargin,

    "dd_minhash_budget_floor" ->
      s"""WITH ${minhashPairCtesAt(8L)}
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM prs
         |ORDER BY id_a, id_b""".stripMargin,

    // Recall-report replay: all FOUR LSH pipelines (auto = the
    // unprefixed budget-gated default prs, legacy_16x4 prs_ba, tuned
    // prs_tu, and the budget-rejected R=0.99 shape prs_p99 — already
    // built inside minhashPairCtes for the decision replay) against a
    // brute-force 5-gram τ=0.4 ground truth, membership-intersected
    // per setting.
    "dd_lsh_recall_report" -> {
      val (lr99, lb99) = graft.operators.Dedup.lshAutoShape(0.4, 0.99, 64)
      s"""WITH $minhashPairCtes,
         |${minhashSettingCtes("_ba", numHashes = 16, bands = 4, maxBucket = 100)},
         |${minhashSettingCtes("_tu", numHashes = 64, bands = 32, maxBucket = 1000)},
         |ex0 AS MATERIALIZED (SELECT doc_id, w5, len(w5) AS wn FROM (
         |    SELECT doc_id, list_distinct(list_transform(
         |      range(0, greatest(len($toksLower) - 5, 0) + 1),
         |      i -> array_to_string(($toksLower)[i + 1:i + 5], ' '))) AS w5
         |    FROM documents) z WHERE len(w5) > 0),
         |wx AS (SELECT doc_id, unnest(w5) AS g FROM ex0),
         |-- brute-force τ=0.4 ground truth as a gram-equality self-join
         |-- (w5 is distinct per doc, so count(*) = |A∩B| and
         |-- |A∪B| = wn_a + wn_b − ic; all-pairs list_intersect cost
         |-- 8 s of the gate's wall at sf0.01, the join form is ~0.1 s)
         |exp AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (
         |    SELECT i.id_a, i.id_b,
         |      CAST(i.ic AS DOUBLE) / (na.wn + nb.wn - i.ic) AS jac
         |    FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ic
         |        FROM wx a JOIN wx b ON b.g = a.g AND b.doc_id > a.doc_id
         |        GROUP BY 1, 2) i
         |    JOIN ex0 na ON na.doc_id = i.id_a
         |    JOIN ex0 nb ON nb.doc_id = i.id_b) x
         |  WHERE jac >= 0.4),
         |${lshReportCte("legacy_16x4", "prs_ba", "c_base")},
         |${lshReportCte("tuned", "prs_tu", "c_tuned")},
         |${lshReportCte(s"p99_r${lr99}x$lb99", "prs_p99", "c_p99")},
         |${lshReportCte("auto", "prs", "c_auto")}
         |SELECT * FROM c_auto UNION ALL SELECT * FROM c_base
         |UNION ALL SELECT * FROM c_tuned UNION ALL SELECT * FROM c_p99
         |ORDER BY setting""".stripMargin
    },

    // Connected components over the minhash pairs: recursive min-label
    // propagation (transitive closure is fine at the dup-pair graph's
    // size — LSH-verified pairs are a sliver of the corpus). MATERIALIZED
    // pins prs/sym so each recursion step re-reads a table, not the
    // whole minhash pipeline.
    "dd_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |sym AS MATERIALIZED (
         |  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM prs
         |  UNION SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS lab FROM sym
         |  UNION
         |  SELECT s.src AS id, r.lab FROM reach r JOIN sym s ON s.dst = r.id),
         |cmp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)
         |SELECT comp AS cluster, count(*) AS n_docs, max(id) AS max_doc
         |FROM cmp GROUP BY comp ORDER BY cluster""".stripMargin,

    "dd_keep_best" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |sym AS MATERIALIZED (
         |  SELECT CAST(id_a AS BIGINT) AS src, CAST(id_b AS BIGINT) AS dst FROM prs
         |  UNION SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM prs),
         |reach AS (
         |  SELECT src AS id, src AS lab FROM sym
         |  UNION
         |  SELECT s.src AS id, r.lab FROM reach r JOIN sym s ON s.dst = r.id),
         |cmp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
         |ranked AS (
         |  SELECT c.comp, c.id,
         |    row_number() OVER (PARTITION BY c.comp
         |      ORDER BY d.n_chars DESC, c.id DESC) AS rn,
         |    count(*) OVER (PARTITION BY c.comp) AS n_docs
         |  FROM cmp c JOIN documents d ON d.doc_id = c.id)
         |SELECT comp AS cluster, CAST(n_docs AS BIGINT) AS n_docs,
         |  id AS canonical_doc
         |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin,

    "dd_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksLower AS ltoks FROM documents),
         |tok AS (SELECT doc_id, unnest(ltoks) AS w FROM t),
         |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
         |votes AS (SELECT doc_id, b.range AS bit,
         |    sum(CASE WHEN ((hv >> b.range) & 1) = 1 THEN 1 ELSE -1 END) AS v
         |  FROM h, range(0, 60) b GROUP BY 1, 2),
         |sigs AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN sigs s ON s.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dd_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toksLower AS ltoks FROM documents),
         |tok AS (SELECT doc_id, unnest(ltoks) AS w FROM t),
         |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
         |votes AS (SELECT doc_id, b.range AS bit,
         |    sum(CASE WHEN ((hv >> b.range) & 1) = 1 THEN 1 ELSE -1 END) AS v
         |  FROM h, range(0, 60) b GROUP BY 1, 2),
         |sig0 AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY 1),
         |sigs AS (SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
         |  FROM documents d LEFT JOIN sig0 s ON s.doc_id = d.doc_id),
         |banded AS (SELECT doc_id, b.range AS band,
         |    (simhash >> (b.range * 15)) & 32767 AS bk
         |  FROM sigs, range(0, 4) b),
         |ok AS (SELECT band, bk FROM banded GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN ok USING (band, bk)
         |  JOIN banded b ON b.band = a.band AND b.bk = a.bk AND b.doc_id > a.doc_id)
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT id_a, id_b,
         |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = cand.id_a
         |  JOIN sigs sb ON sb.doc_id = cand.id_b) x
         |WHERE hamming <= 20
         |ORDER BY id_a, id_b""".stripMargin,

    "v_ivf_topk" -> ivfTopkOracle(nCells = 8, nprobe = 2),

    "v_lsh_pairs" ->
      """WITH planes AS (SELECT b.range AS b,
        |    list_transform(range(0, 64), i ->
        |      CASE WHEN ('0x' || substr(md5('srp:42:' || b.range || ':' || i), 1, 15))::BIGINT % 2 = 0
        |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS wl
        |  FROM range(0, 6) b),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bits AS (SELECT e.vec_id, p.b,
        |    CASE WHEN list_sum(list_transform(range(1, 65), i -> e.v[i] * p.wl[i])) >= 0
        |      THEN (1::BIGINT << p.b) ELSE 0 END AS bitval
        |  FROM e CROSS JOIN planes p),
        |buckets AS (SELECT vec_id, CAST(sum(bitval) AS BIGINT) AS bucket FROM bits GROUP BY 1),
        |small AS (SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= 16),
        |eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN buckets b USING (vec_id)
        |       WHERE b.bucket IN (SELECT bucket FROM small)),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS cos_raw
        |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND b.vec_id > a.vec_id)
        |SELECT id_a, id_b, round(cos_raw, 6) AS cosine
        |FROM pairs WHERE cos_raw >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // The crash-recovered two-run curation DAG must equal this
    // from-scratch single pass: URL ledger → canonical dedup (n_urls
    // per doc), Gopher gate, quality score + token count, capless
    // (2-row × 27-band) minhash pairs over the gated set with the
    // identity collapse, min-id-wins suppression, the 3/5-token budget
    // cut (histogram semantics), and the snake token shards.
    "e2e_corpus_curation" -> {
      val (lr, lb) = graft.operators.Dedup.lshAutoShape(0.4, 0.99, 64)
      s"""WITH $urlCanonCtes,
         |ledg AS (SELECT canonical_url, CAST(min(cid) AS BIGINT) AS keep_id,
         |    CAST(count(*) AS BIGINT) AS n_urls FROM c GROUP BY 1),
         |pdoc AS (SELECT keep_id % 1000000 AS doc_id,
         |    CAST(sum(n_urls) AS BIGINT) AS n_urls FROM ledg GROUP BY 1),
         |gt AS (SELECT doc_id, $toksLower AS lt FROM documents),
         |gtok AS (SELECT doc_id, unnest(lt) AS w FROM gt),
         |gtc AS (SELECT doc_id, w, count(*) AS c FROM gtok GROUP BY 1, 2),
         |guni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    max(c) AS top_c, count(*) AS n_uniq FROM gtc GROUP BY 1),
         |gk AS (SELECT d.doc_id,
         |    coalesce(CAST(guni.top_c AS DOUBLE) / guni.n_tokens <= 0.1
         |      AND CAST(guni.n_uniq AS DOUBLE) / guni.n_tokens >= 0.4, false) AS keep
         |  FROM documents d LEFT JOIN guni ON guni.doc_id = d.doc_id),
         |qt AS (SELECT doc_id, text, $toksExpr AS toks, $toksLower AS ltoks FROM documents),
         |parts AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS length_score,
         |  1.0 - least((CASE WHEN len(text) > 0 THEN
         |      CAST(len(text) - len(regexp_replace(text, '$punctClass', '', 'g')) AS DOUBLE) / len(text)
         |    ELSE 0.0 END) * 5.0, 1.0) AS punct_score,
         |  CASE WHEN (CASE WHEN len(toks) > 0 THEN
         |        CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE) / len(toks) ELSE 0.0 END)
         |      BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS word_score,
         |  least((CASE WHEN len(ltoks) > 0 THEN
         |      CAST(len(list_filter(ltoks, x -> list_contains($enStops, x))) AS DOUBLE) / len(ltoks)
         |    ELSE 0.0 END) * 5.0, 1.0) AS sw_score
         |FROM qt),
         |q AS (SELECT doc_id, n_tokens,
         |  round(length_score * 0.4 + punct_score * 0.2 + word_score * 0.2 + sw_score * 0.2, 6) AS quality
         |FROM parts),
         |kd AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.text, p.n_urls, q.quality, q.n_tokens
         |  FROM documents d
         |  JOIN pdoc p ON p.doc_id = d.doc_id
         |  JOIN gk ON gk.doc_id = d.doc_id
         |  JOIN q ON q.doc_id = d.doc_id
         |  WHERE gk.keep),
         |${minhashBaseCtesFrom("kd")},
         |${minhashSigCtes(lr * lb)},
         |${minhashSettingCtes("", numHashes = lr * lb, bands = lb, noCap = true, tau = 0.4)},
         |drp AS (SELECT DISTINCT id_b AS doc_id FROM prs),
         |alive AS MATERIALIZED (
         |  SELECT kd.doc_id, kd.source, kd.n_urls, kd.quality, kd.n_tokens
         |  FROM kd LEFT JOIN drp ON drp.doc_id = kd.doc_id
         |  WHERE drp.doc_id IS NULL),
         |ab AS (SELECT *, CAST(floor(least(greatest(quality, 0), 1) * 1000) AS INT) AS b FROM alive),
         |bud AS (SELECT CAST(sum(n_tokens) AS BIGINT) * 3 // 5 AS budget FROM alive),
         |bhist AS (SELECT b, CAST(sum(n_tokens) AS BIGINT) AS bt FROM ab GROUP BY b),
         |bcum AS (SELECT b, bt, CAST(coalesce(sum(bt) OVER (ORDER BY b DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb FROM bhist),
         |bsel AS (SELECT ab.doc_id, ab.quality, ab.n_tokens, ab.b, c.bt, c.cumb, bud.budget
         |  FROM ab JOIN bcum c ON ab.b = c.b CROSS JOIN bud),
         |bkeep AS (
         |  SELECT doc_id, n_tokens FROM bsel WHERE cumb + bt <= budget
         |  UNION ALL
         |  SELECT doc_id, n_tokens FROM (
         |    SELECT s.doc_id, s.n_tokens, s.cumb, s.budget,
         |      CAST(sum(s.n_tokens) OVER (PARTITION BY s.b
         |        ORDER BY s.quality DESC, s.doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
         |    FROM bsel s WHERE s.cumb < s.budget AND s.cumb + s.bt > s.budget) x
         |  WHERE run <= budget - cumb),
         |o AS (SELECT doc_id, n_tokens,
         |  CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS ord FROM bkeep)
         |SELECT o.doc_id, a.source, a.n_urls, a.quality, o.n_tokens, o.ord,
         |  CAST(CASE WHEN ((o.ord - 1) // 16) % 2 = 0 THEN (o.ord - 1) % 16
         |            ELSE 15 - (o.ord - 1) % 16 END AS INT) AS shard
         |FROM o JOIN alive a ON a.doc_id = o.doc_id
         |ORDER BY o.doc_id""".stripMargin
    },

    // Asymmetric replay of the minhash pipeline over base ∪ re-keyed
    // batch, WITH the r14 two-sided identity collapse: per-side rep
    // election (min id per normalized text), unconditional same-text
    // cross pairs, rep-space signatures/banding, the gap-rule cap on
    // index-side REP buckets, est + exact verify on cross-text rep
    // pairs, and the member fan-out.
    "dd_incremental_index" -> incrementalIndexOracle(budget = 1024L),
    "dd_incremental_budget" -> incrementalIndexOracle(budget = 4L),

    "dd_embed_cosine" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6) AS cosine,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS cos_raw
        |  FROM v a JOIN v b ON a.label = b.label AND b.vec_id > a.vec_id) p
        |WHERE cos_raw >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup oracle: replay the coarse assignment (v_ivf_assign's
    // argmin CTEs), then the upper-triangular within-cell greedy.
    "dd_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        |d AS (
        |  SELECT e.vec_id, c.cent_id,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS dist
        |  FROM e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
        |    FROM d) t WHERE rn = 1),
        |eb AS (SELECT e.vec_id, e.v, b.cell FROM e JOIN best b USING (vec_id)),
        |dup AS (SELECT DISTINCT b.vec_id
        |  FROM eb a JOIN eb b ON a.cell = b.cell AND b.vec_id > a.vec_id
        |  WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) >= 0.3)
        |SELECT eb.vec_id, eb.cell,
        |  CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM eb LEFT JOIN dup ON eb.vec_id = dup.vec_id
        |ORDER BY eb.vec_id""".stripMargin,

    "v_ivf_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
        |d AS (
        |  SELECT e.vec_id, c.cent_id,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS dist
        |  FROM e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, cent_id AS cell FROM (
        |    SELECT vec_id, cent_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
        |    FROM d) t WHERE rn = 1)
        |SELECT cell, count(*) AS n_vectors, min(vec_id) AS min_id, max(vec_id) AS max_id
        |FROM best GROUP BY cell ORDER BY cell""".stripMargin,

    "v_kmeans_train" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8) s),
         |${kmeansIterCtes("c0", "a1", "c1")},
         |${kmeansIterCtes("c1", "a2", "c2")}
         |SELECT cid AS cent_id, i AS pos, ${Oracles.jr6("cv[i + 1]")} AS val
         |FROM c2, range(0, 64) r(i)
         |ORDER BY cent_id, pos""".stripMargin,

    // PQ oracle: per-(vector, subspace) argmin over the 8 sub-centroids
    // with (dist, cent_id) tie-break; the error total sums the per-sub
    // minima in sub order (list_sum over an ORDER BY sub list — same
    // fold order as the Scala kernel, so double addition is
    // bit-identical).
    "v_pq_encode" ->
      s"""WITH $pqTrainedCtes,
         |best AS (SELECT vec_id, sub, cid AS code, dd FROM (
         |    SELECT vec_id, sub, cid, dd,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
         |    FROM d) x WHERE rn = 1),
         |tot AS (SELECT vec_id, list_sum(list(dd ORDER BY sub)) AS err
         |  FROM best GROUP BY vec_id)
         |SELECT b.vec_id, CAST(b.sub AS BIGINT) AS sub_id,
         |  CAST(b.code AS BIGINT) AS code, ${Oracles.jr6("t.err")} AS recon_err
         |FROM best b JOIN tot t USING (vec_id)
         |ORDER BY vec_id, sub_id""".stripMargin,

    // ADC oracle: replay the corpus-code assignment (same CTEs as
    // v_pq_encode), build each query's per-(sub, centroid) distance
    // table, approximate distance = per-sub table terms summed in sub
    // order, rank on the 6-decimal-rounded distance.
    "v_pq_topk" ->
      s"""WITH $pqTrainedCtes,
         |best AS (SELECT vec_id, sub, cid AS code FROM (
         |    SELECT vec_id, sub, cid, dd,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
         |    FROM d) x WHERE rn = 1),
         |qt AS (SELECT vec_id AS query_id, sub, cid, dd FROM d WHERE vec_id < 20),
         |ad AS (SELECT t.query_id, b.vec_id AS neighbor_id,
         |    list_sum(list(t.dd ORDER BY t.sub)) AS adist
         |  FROM best b JOIN qt t ON t.sub = b.sub AND t.cid = b.code
         |  WHERE b.vec_id <> t.query_id
         |  GROUP BY t.query_id, b.vec_id)
         |SELECT query_id, neighbor_id, adist, rank FROM (
         |  SELECT query_id, neighbor_id, ${Oracles.jr6("adist")} AS adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${Oracles.jr6("adist")} ASC, neighbor_id ASC) AS rank
         |  FROM ad) t
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // IVF-PQ oracle: the v_pq_topk ADC replay restricted to the probed
    // coarse cells — cell assignment and probes replayed exactly like
    // v_ivf_topk (sqrt-L2 against the 8 low-id centroids), the
    // candidate set is the join of probe cells with neighbor cells.
    "v_ivfpq_topk" ->
      s"""WITH $pqTrainedCtes,
         |cc AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
         |cd AS (
         |  SELECT e.vec_id, c.cent_id,
         |    sqrt(list_sum(list_transform(range(1, 65),
         |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS dist
         |  FROM e CROSS JOIN cc c),
         |ccell AS (
         |  SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
         |    FROM cd) t WHERE rn = 1),
         |cprobe AS (
         |  SELECT vec_id AS query_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
         |    FROM cd WHERE vec_id < 20) t WHERE rn <= 2),
         |best AS (SELECT vec_id, sub, cid AS code FROM (
         |    SELECT vec_id, sub, cid, dd,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd ASC, cid ASC) AS rn
         |    FROM d) x WHERE rn = 1),
         |qt AS (SELECT vec_id AS query_id, sub, cid, dd FROM d WHERE vec_id < 20),
         |ad AS (SELECT t.query_id, b.vec_id AS neighbor_id,
         |    list_sum(list(t.dd ORDER BY t.sub)) AS adist
         |  FROM best b
         |  JOIN ccell cl ON cl.vec_id = b.vec_id
         |  JOIN cprobe p ON p.cell = cl.cell
         |  JOIN qt t ON t.query_id = p.query_id AND t.sub = b.sub AND t.cid = b.code
         |  WHERE b.vec_id <> t.query_id
         |  GROUP BY t.query_id, b.vec_id)
         |SELECT query_id, neighbor_id, adist, rank FROM (
         |  SELECT query_id, neighbor_id, ${Oracles.jr6("adist")} AS adist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${Oracles.jr6("adist")} ASC, neighbor_id ASC) AS rank
         |  FROM ad) t
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "v_knn_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))) AS cos_raw
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q
        |  JOIN e c ON q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos_raw, 6) DESC, neighbor_id ASC) AS rank
        |  FROM s) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "v_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))) AS cos_raw
        |  FROM (SELECT * FROM e WHERE vec_id < 20) q
        |  JOIN e c ON q.vec_id <> c.vec_id AND c.label % 2 = 0)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY round(cos_raw, 6) DESC, neighbor_id ASC) AS rank
        |  FROM s) t
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "v_mmr_rerank" -> mmrOracle(k = 4, pool = 10),

    "v_int8_quant" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS vmax FROM e),
         |c AS (SELECT vec_id, v, vmax,
         |    CASE WHEN vmax > 0 THEN list_transform(v,
         |        x -> greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
         |          CAST(round(x * 127.0 / vmax) AS BIGINT))))
         |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
         |  FROM m),
         |r AS (SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, vmax, codes,
         |    list_sum(list_transform(range(1, len(v) + 1),
         |      i -> (v[i] - codes[i] * vmax / 127.0) * (v[i] - codes[i] * vmax / 127.0))) AS se
         |  FROM c)
         |SELECT vec_id, n_dims, ${Oracles.jr6("vmax / 127.0")} AS scale,
         |  md5(array_to_string(codes, '-')) AS codes_fp,
         |  ${Oracles.jr6("CASE WHEN vmax > 0 THEN sqrt(se) ELSE 0.0 END")} AS recon_err
         |FROM r ORDER BY vec_id""".stripMargin)

  /** Parametrized replay of the IVF search (assign → probe → exact
    * top-3 inside probed cells): shared by the v_ivf_topk oracle
    * (nCells = 8, nprobe = 2) and the recall report's per-setting
    * compositions. */
  private def ivfTopkOracle(nCells: Int, nprobe: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $nCells),
       |d AS (
       |  SELECT e.vec_id, c.cent_id,
       |    sqrt(list_sum(list_transform(range(1, 65),
       |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])))) AS dist
       |  FROM e CROSS JOIN c),
       |cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
       |    FROM d) t WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
       |    FROM d WHERE vec_id < 20) t WHERE rn <= $nprobe),
       |s AS (
       |  SELECT p.query_id, m.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.v[i] * n.v[i])) /
       |    (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
       |     sqrt(list_sum(list_transform(range(1, 65), i -> n.v[i] * n.v[i])))) AS cos_raw
       |  FROM probes p
       |  JOIN cells m ON m.cell = p.cell AND m.vec_id <> p.query_id
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN e n ON n.vec_id = m.vec_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(cos_raw, 6) DESC, neighbor_id ASC) AS rank
       |  FROM s) t
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** The recall oracle composes the exact-scan and per-setting IVF
    * replays as subqueries — recall is DEFINED against those result
    * sets, so the composition is the spec. */
  private def recallSettingOracle(setting: String, nCells: Int, nprobe: Int): String =
    s"""SELECT '$setting' AS setting, ex.query_id, CAST(count(*) AS BIGINT) AS k,
       |  ${Oracles.jr6("CAST(sum(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS recall
       |FROM (SELECT query_id, neighbor_id FROM (${baseOracles("v_knn_bruteforce")}) t) ex
       |LEFT JOIN (SELECT query_id, neighbor_id FROM (${ivfTopkOracle(nCells, nprobe)}) t) iv
       |  ON iv.query_id = ex.query_id AND iv.neighbor_id = ex.neighbor_id
       |GROUP BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = baseOracles +
    // the streaming ledger's min/sum fold across micro-batches must
    // converge to exactly the batch group-by — same replay
    ("stream_url_ledger" -> baseOracles("t_url_dedup")) +
    // the crash-injected replay must land on the SAME final table — the
    // ExactlyOnce guard is correct iff this unchanged oracle stays green
    ("stream_url_ledger_recovery" -> baseOracles("t_url_dedup")) +
    ("v_recall_report" ->
    s"""SELECT * FROM (
       |${recallSettingOracle("base", 8, 2)}
       |UNION ALL
       |${recallSettingOracle("tuned", 32, 10)}
       |) ORDER BY setting, query_id""".stripMargin)

  /** Inline DuckDB cosine over 64-dim DOUBLE[] columns, with the same
    * zero-norm guard as the engine's cosine kernels (0 when a norm is
    * 0 — an unguarded division would emit inf/NaN and diverge). */
  private def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i]))) *
       |      sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i]))) > 0
       |    THEN list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) /
       |    (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i]))) *
       |     sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i]))))
       |    ELSE 0.0 END""".stripMargin

  /** Unrolled greedy-MMR replay (the BPE-iteration pattern): step t
    * scores every unchosen candidate `0.7·rel − (1.0−0.7)·max sim to
    * the chosen set` and takes the argmax (mmr DESC, rel DESC, id ASC —
    * the engine's scan order). The λ constants are CAST AS DOUBLE:
    * DuckDB evaluates bare `1.0 - 0.7` in exact DECIMAL (= 0.3), while
    * the engine computes `1 - lambda` in doubles
    * (= 0.30000000000000004) — without the casts the two scores differ
    * by 1 ulp at 6-digit boundaries.
    */
  private def mmrOracle(k: Int, pool: Int): String = {
    val steps = (2 to k).map { t =>
      s"""sc$t AS (SELECT c.query_id, c.neighbor_id, c.rel,
         |    ${Oracles.jr6(s"CAST(0.7 AS DOUBLE) * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * max(sm.s)")} AS mmr
         |  FROM cand c
         |  JOIN sims sm ON sm.query_id = c.query_id AND sm.aid = c.neighbor_id
         |  JOIN ch${t - 1} p ON p.query_id = sm.query_id AND p.neighbor_id = sm.bid
         |  WHERE NOT EXISTS (SELECT 1 FROM ch${t - 1} x
         |    WHERE x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |s$t AS (SELECT query_id, neighbor_id, rel, mmr, $t AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY mmr DESC, rel DESC, neighbor_id ASC) AS rn FROM sc$t) t
         |  WHERE rn = 1),
         |ch$t AS (SELECT * FROM ch${t - 1}
         |  UNION ALL SELECT query_id, neighbor_id FROM s$t)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k)
      .map(t => s"SELECT query_id, neighbor_id, rel, mmr, $t AS rank FROM s$t")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${Oracles.jr6(cosSql("q.v", "c.v"))} AS rel
       |  FROM (SELECT * FROM e WHERE vec_id < 20) q
       |  JOIN e c ON q.vec_id <> c.vec_id),
       |cand AS (SELECT query_id, neighbor_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id ASC) AS rn FROM sc) t
       |  WHERE rn <= $pool),
       |cv AS (SELECT cand.query_id, cand.neighbor_id, cand.rel, e.v
       |  FROM cand JOIN e ON e.vec_id = cand.neighbor_id),
       |sims AS (SELECT a.query_id, a.neighbor_id AS aid, b.neighbor_id AS bid,
       |    ${Oracles.jr6(cosSql("a.v", "b.v"))} AS s
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
       |s1 AS (SELECT query_id, neighbor_id, rel,
       |    ${Oracles.jr6("CAST(0.7 AS DOUBLE) * rel")} AS mmr, 1 AS rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id ASC) AS rn FROM cand) t
       |  WHERE rn = 1),
       |ch1 AS (SELECT query_id, neighbor_id FROM s1),
       |$steps
       |SELECT query_id, neighbor_id, rel AS relevance, mmr,
       |  CAST(rank AS BIGINT) AS rank
       |FROM ($union)
       |ORDER BY query_id, rank""".stripMargin
  }
}
