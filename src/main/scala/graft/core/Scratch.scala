package graft.core

/** Paths for write-once/read-many scratch-parquet intermediates shared
  * across queries in one session (cf. `DomainQueries.futuresBarsCached`,
  * `TextQueries.minhashPairsShared`).
  *
  * The path embeds a full-width md5 of the cache key (two different data
  * dirs can never collide onto one path, unlike a 31-bit `hashCode`) and
  * the JVM's pid, so two concurrent processes benchmarking the same dir
  * never race an overwrite against a read. Scratch is re-derived per
  * process by design — it is a cache, not a store: a JVM shutdown hook
  * removes this pid's dirs, and startup sweeps dirs left by pids that
  * are no longer alive (a crash can't clean up after itself), so
  * repeated bench/verify runs don't leak tmpdir disk without bound.
  */
object Scratch {
  private val jvmTag: String = ProcessHandle.current().pid().toString

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try
        stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  /** graft_* scratch dirs in tmpdir whose pid suffix matches `keep`. */
  private def scratchDirs(pidFilter: Long => Boolean): Seq[java.nio.file.Path] = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val stream = java.nio.file.Files.list(tmp)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && {
          val i = n.lastIndexOf("_p")
          i > 0 && n.drop(i + 2).forall(_.isDigit) && n.length > i + 2 &&
            pidFilter(n.drop(i + 2).toLong)
        }
      }.toSeq
    } finally stream.close()
  }

  locally {
    // sweep dirs orphaned by dead pids (best-effort; a dir another live
    // process owns is never touched), then arrange our own cleanup
    try scratchDirs(pid => ProcessHandle.of(pid).isEmpty).foreach(deleteRecursively)
    catch { case _: java.io.IOException => () }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try scratchDirs(_ == ProcessHandle.current().pid()).foreach(deleteRecursively)
      catch { case _: java.io.IOException => () },
      "graft-scratch-cleanup"))
  }

  /** Collision-resistant session cache key for a DataFrame input: the
    * SHA-256 of the canonicalized analyzed plan's string form, plus
    * content versions for both relation kinds the plan string alone
    * can't distinguish:
    *
    *  - '''LocalRelation rows''': the canonical form (and semanticHash)
    *    covers the SCHEMA but not the rows — two in-memory inputs of the
    *    same shape would otherwise share a key and cross-feed each
    *    other's models.
    *  - '''File-source mtimes''' (round 11): the plan string covers
    *    paths and literals, not file CONTENTS — an in-place overwrite of
    *    a memoized input dir used to serve stale reductions for the
    *    session. Each file relation's root paths now fold in their own
    *    and their immediate children's max modification time, so a
    *    rewrite (Spark overwrites recreate files, bumping the dir and
    *    partition-dir mtimes) mints a fresh key. One listing level
    *    bounds the cost per path; a short-TTL per-path version memo
    *    ([[PathVersionTtlMs]]) bounds it per SESSION — a hot memo
    *    lookup loop (many queries sharing one input dir) does the
    *    getFileStatus+listStatus round-trip at most once per TTL
    *    window per path instead of once per invocation. The TTL is
    *    the staleness bound: an in-place rewrite is picked up by the
    *    first planKey call more than [[PathVersionTtlMs]] after it.
    *    A byte-level rewrite that preserves every file name AND every
    *    mtime is outside the contract.
    */
  /** How long a probed path version stays good without re-listing. */
  private[graft] val PathVersionTtlMs = 10000L
  private val pathVersionMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Test seam: drop the TTL memo so the next planKey re-probes. */
  private[graft] def invalidatePathVersions(): Unit = pathVersionMemo.clear()

  /** Drop memoized versions for `written` and every memo entry related
    * to it by path containment (ancestors whose listing just changed,
    * descendants the write replaced). Every in-repo write site
    * ([[materialize]], [[TableStore]] commits) calls this, so a
    * write-then-read pipeline inside one session can never observe the
    * TTL's stale window on its own writes — the TTL only bounds
    * staleness for rewrites performed OUTSIDE the engine's write paths.
    */
  def invalidatePath(written: String): Unit = {
    // memo keys are hadoop Path.toString (may carry a scheme AND an
    // authority like hdfs://host:9000/...); normalize both sides to the
    // bare URI path — hand-parsing ":/": kept the authority, so a bare
    // write path never matched a fully-qualified memo key and the
    // invalidation silently missed
    def norm(s: String): String = {
      val p = new org.apache.hadoop.fs.Path(s).toUri.getPath
      val base = if (p == null || p.isEmpty) s else p
      if (base.length > 1) base.stripSuffix("/") else base
    }
    val w = norm(written)
    val keys = pathVersionMemo.keys()
    while (keys.hasMoreElements) {
      val k = keys.nextElement()
      val kk = norm(k)
      // path-boundary containment either way: /a/b relates to /a/b/c
      // (ancestor listing changed) and vice versa, never /a/bc
      if (kk == w || kk.startsWith(w + "/") || w.startsWith(kk + "/"))
        pathVersionMemo.remove(k)
    }
  }

  private def pathVersion(rp: org.apache.hadoop.fs.Path,
      hadoopConf: org.apache.hadoop.conf.Configuration): String = {
    val now = System.currentTimeMillis()
    val cached = pathVersionMemo.get(rp.toString)
    if (cached != null && now - cached._1 < PathVersionTtlMs) cached._2
    else {
      val ver =
        try {
          val hfs = rp.getFileSystem(hadoopConf)
          val st = hfs.getFileStatus(rp)
          val sb = new StringBuilder(st.getModificationTime.toString)
          if (st.isDirectory)
            // child NAMES too: a Spark overwrite mints fresh
            // part-file UUIDs, so the key changes even when the
            // filesystem's mtime granularity is coarse
            hfs.listStatus(rp).sortBy(_.getPath.getName)
              .foreach(c => sb.append('|')
                .append(c.getPath.getName).append('@')
                .append(c.getModificationTime))
          sb.toString
        } catch { case _: java.io.IOException => null }
      // never memoize a failed probe: a path probed just before it is
      // created (or during a transient FS error) must not key as
      // missing for the whole TTL window
      if (ver != null) { pathVersionMemo.put(rp.toString, (now, ver)); ver }
      else "-1"
    }
  }

  def planKey(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(plan.canonicalized.toString.getBytes("UTF-8"))
    lazy val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    plan.foreach {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.foreach { rp =>
              md.update(s"$rp@${pathVersion(rp, hadoopConf)}".getBytes("UTF-8"))
            }
          case _ => ()
        }
      case _ => ()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Pid-scoped fixed-name scratch dir for a query's side-effect
    * surface (export dirs, upsert stores, streaming sources/checkpoints).
    * Two CONCURRENT boards of one repo used to clobber each other's
    * warehouse tables and stream checkpoints through the shared fixed
    * /tmp names; the pid suffix isolates them, and the name matches the
    * `graft_*_p<pid>` sweep pattern so the shutdown hook and the
    * dead-pid startup sweep clean these up like every other scratch. */
  def queryDir(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_p$jvmTag"

  def path(kind: String, key: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${h}_p$jvmTag"
  }

  /** Materialize a (typically `persist()`-pinned) DataFrame to scratch
    * parquet, release the in-memory copy, and return the parquet-backed
    * read. This is the standard release point for operators that return
    * persisted results ([[graft.operators.Dedup.minHashDupPairs]];
    * [[graft.analytics.ContinuousFutures.continuousSeries]], whose
    * persisted result is still unfilled, so this write is what runs its
    * scan): holding
    * the cache for the session's life pins executor memory and builds GC
    * pressure that taxes every LATER job in the session — the parquet
    * copy costs one small write and is re-readable at full parallelism.
    * The read-back takes the schema of the frame just written, so it runs
    * no footer-inference job.
    */
  def materialize(df: org.apache.spark.sql.DataFrame, kind: String,
      key: String): org.apache.spark.sql.DataFrame = {
    val p = path(kind, key)
    df.write.mode("overwrite").parquet(p)
    invalidatePath(p)
    df.unpersist()
    df.sparkSession.read.schema(df.schema).parquet(p)
  }
}
