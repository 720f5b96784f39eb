package graft.core

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Logical table descriptor: the reference retrofitted primary keys onto
  * MySQL tables by name convention (/root/reference/tasks/backend/orm.py:113-298);
  * here the convention is explicit code.
  *
  * @param partitionBy storage partition columns (coarse date buckets or
  *                    instrument type) — at 100 TB these drive partition
  *                    pruning and bound the rewrite set of an upsert.
  *                    Partition values must be simple scalars whose
  *                    `CAST(v AS STRING)` matches the directory name Spark
  *                    writes (ints, longs, dates, plain strings) — i.e. no
  *                    characters needing Hive path escaping and no
  *                    timestamps. All driver tables satisfy this.
  * @param schema      optional declared schema — the engine-native form of
  *                    the reference's per-table dtype dicts + MySQL DDL
  *                    (/root/reference/tasks/backend/orm.py:113-298). When
  *                    set, every write is conformed to it (schema-on-write):
  *                    batch columns must match the declared names exactly,
  *                    types must equal the declared ones or widen safely
  *                    (`Cast.canUpCast` — int→long, float→double, never
  *                    lossy), and the batch is projected into declared
  *                    column order so every parquet file lays out
  *                    identically. Reads complete missing declared columns
  *                    as typed nulls (schema-on-read for batches written
  *                    before a column was added). Nullability flags are
  *                    advisory: enforcing NOT NULL would cost a per-row
  *                    check on the write path.
  */
final case class TableSpec(
    name: String,
    primaryKey: Seq[String],
    partitionBy: Seq[String] = Nil,
    schema: Option[org.apache.spark.sql.types.StructType] = None)

/** Keyed-upsert table store over Parquet — the engine's #1 primitive.
  *
  * Reimplements the reference's `bunch_insert_on_duplicate_update`
  * (partials at /root/reference/tasks/backend/__init__.py:18-19, used by
  * every pipeline) on an immutable columnar store:
  *
  *  - `upsert`     = INSERT … ON DUPLICATE KEY UPDATE (new row wins)
  *  - `insertIgnore` = INSERT IGNORE (existing row wins;
  *                   /root/reference/tasks/pytdx/stock_tick_2_bar.py:39)
  *  - `overwritePartitions` = delete-then-insert of a partition slice
  *                   (/root/reference/tasks/wind/future_reorg/reorg_md_2_db.py:176-193)
  *
  * == Commit protocol (manifest, not rename-swap) ==
  *
  * Layout under `root/<table>/`:
  * {{{
  *   _manifests/m-000000042        one text line per (batchDir, partitionDir)
  *   b-000000042-1a2b3c4d/         immutable parquet tree written by one job
  * }}}
  * A write job (1) writes a fresh `b-*` directory, (2) atomically publishes
  * a new manifest — write to a dot-temp file, then a checked rename to its
  * final name (file rename is atomic on HDFS and local FS; an existing
  * destination makes the rename fail, which detects a concurrent commit) —
  * and (3) garbage-collects batch dirs the new manifest no longer
  * references. Readers resolve the highest committed manifest, so they
  * never observe a missing or half-written table: a crash before (2)
  * leaves only an unreferenced `b-*` dir (swept by the next successful
  * write), and a crash after (2) has already committed. Every filesystem
  * mutation on the commit path checks its return value and throws — HDFS
  * `rename`/`delete` signal failure by returning false, not by throwing.
  * This is also the only shape that stays correct on object stores, where
  * directory renames are neither atomic nor cheap; one writer per table at
  * a time (the reference serialized writes through MySQL the same way).
  *
  * == Scale design ==
  *
  * A commit pays only for the jobs its data needs:
  *
  *  - '''No schema inference for dirs the store wrote.''' A `b-*` dir
  *    never changes after its write, so `writeBatch` records the data
  *    schema it wrote (partition columns excluded) in a per-store map
  *    keyed by the dir, and every read of that dir passes it to
  *    `spark.read.schema(…)` instead of running a footer-inference job;
  *    partition columns are still discovered from the paths. `gc` drops
  *    an entry with its dir, so the map is bounded by the live dirs. The
  *    adopted legacy `.` dir can change in place and dirs another store
  *    instance wrote are unknown here; both are inferred on every read.
  *  - '''Manifest-pruned merge read.''' For a partitioned table the merge
  *    reads and rewrites only the manifest pairs whose partition path the
  *    incoming batch touches (one small distinct over the batch), so an
  *    incremental daily load against a 100 TB history reads one date
  *    partition, not the table.
  *  - '''One keep-latest window.''' In-batch duplicates and conflicts with
  *    stored rows resolve in a single `row_number` over batch ∪ existing,
  *    ordered by (priority, batch position). When the partition columns
  *    are a subset of the primary key, one hash exchange on the partition
  *    columns serves both the window and the writer, so the merge is one
  *    shuffle; otherwise the window shuffles on the key and the writer
  *    clusters on the partition columns.
  *
  * When the partition columns are a subset of the primary key, a changed
  * partition value implies a different key, so pruning is provably safe;
  * otherwise a row's partition value may move between batches, and
  * `upsert` additionally semi-joins incoming keys against the untouched
  * partitions to pull the stale home of any moved key into the rewrite
  * set (one broadcast semi-join scan — set `evictMovedKeys = false` to
  * skip it when the pipeline guarantees partition values are immutable
  * per key, as every reference table does).
  */
final class TableStore(spark: SparkSession, root: String) {

  def path(name: String): String = s"$root/$name"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data schema (partition columns excluded) of every batch dir this
    * store wrote and `gc` has not deleted, keyed `table/b-…`. */
  private val batchSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def schemaKey(name: String, dir: String): String = s"$name/$dir"

  /** Test seam: the batch dirs of table `name` with a recorded schema. */
  private[graft] def recordedSchemaDirs(name: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    batchSchemas.keySet.asScala.collect {
      case k if k.startsWith(s"$name/") => k.stripPrefix(s"$name/")
    }.toSet
  }

  // ── manifest machinery ────────────────────────────────────────────────

  /** `pairs` are (batchDir, partitionDir) with partitionDir == "" meaning
    * the whole batch dir (unpartitioned tables), or "." for a pre-manifest
    * plain parquet directory adopted in place.
    *
    * `props` are caller-supplied key→value strings committed ATOMICALLY
    * with the data (same manifest rename). This is what makes the
    * transactional-foreachBatch pattern possible: a streaming fold
    * records the applied micro-batch id in the same commit as the rows,
    * so "data landed but the marker didn't" cannot happen — see
    * [[graft.streaming.ExactlyOnce]].
    */
  private case class Manifest(version: Long, pairs: Seq[(String, String)],
      props: Map[String, String] = Map.empty)

  private def manifestDir(name: String) = new Path(path(name), "_manifests")

  private def must(ok: Boolean, what: String): Unit =
    if (!ok) throw new IOException(s"TableStore: $what failed")

  private def manifestVersions(f: FileSystem, name: String): Seq[Long] = {
    val dir = manifestDir(name)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("m-") && !n.startsWith("."))
      .map(_.stripPrefix("m-").toLong).toSeq.sorted
  }

  private def readManifestFile(f: FileSystem, name: String, version: Long): Manifest = {
    val in = f.open(new Path(manifestDir(name), f"m-$version%09d"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    // Header lines `#key=value` carry the commit props; manifests written
    // before props existed have none and read back as Map.empty.
    val props = lines.takeWhile(_.startsWith("#")).map { line =>
      val i = line.indexOf('=')
      (line.substring(1, i), line.substring(i + 1))
    }.toMap
    val pairs = lines.dropWhile(_.startsWith("#")).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i), line.substring(i + 1))
    }
    Manifest(version, pairs, props)
  }

  private def latestManifest(f: FileSystem, name: String): Option[Manifest] =
    manifestVersions(f, name).lastOption.map(readManifestFile(f, name, _))

  private def commit(f: FileSystem, name: String, version: Long,
      pairs: Seq[(String, String)],
      props: Map[String, String] = Map.empty): Unit = {
    require(props.forall { case (k, v) =>
      !k.contains('=') && !k.contains('\n') && !v.contains('\n') },
      s"TableStore: prop keys must be '='-free and values newline-free")
    val dir = manifestDir(name)
    if (!f.exists(dir)) must(f.mkdirs(dir), s"mkdirs $dir")
    val fin = new Path(dir, f"m-$version%09d")
    val tmp = new Path(dir, f".tmp-m-$version%09d-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, false)
    val body = (props.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++
      pairs.map { case (d, p) => s"$d\t$p" }).mkString("\n")
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    // HDFS rename is atomic and fails on an existing destination; POSIX
    // rename silently REPLACES it, so the explicit exists check is what
    // detects a concurrent commit on local filesystems (narrowed, not
    // eliminated — the class contract is one writer per table; this
    // turns a silent lost-batch into a loud failure in practice).
    if (f.exists(fin) || !f.rename(tmp, fin)) {
      f.delete(tmp, false)
      throw new IOException(
        s"TableStore: commit of ${name} v$version failed (concurrent writer?)")
    }
    // every table mutation lands here: drop any Scratch.planKey path
    // versions memoized under this table so a read in the same session
    // immediately sees the new commit (ADVICE r12 — the TTL memo must
    // never serve a stale version across the engine's OWN write paths)
    Scratch.invalidatePath(path(name))
  }

  /** Retained manifest versions double as readable snapshots
    * ([[readVersion]] — the engine-native form of the reference's `_bak`
    * copy-compare, /root/reference/tasks/jqdata/stock/available_check).
    */
  private val retainedVersions = 3

  /** Delete batch dirs no retained manifest references, and manifest
    * files older than the retention window. Best-effort: leftovers are
    * unreferenced and thus harmless.
    *
    * `keepHistory=false` (compact) drops every older snapshot: an upsert
    * retains only the delta batches of recent versions, but a compaction
    * rewrote the WHOLE table, so retaining its predecessors would double
    * storage — compaction deliberately collapses time-travel history.
    */
  private def gc(f: FileSystem, name: String, live: Manifest,
      keepHistory: Boolean = true): Unit = {
    val floor =
      if (keepHistory) live.version - (retainedVersions - 1) else live.version
    // A batch dir stays on disk while ANY retained manifest references
    // it, so every retained version remains a complete readable snapshot.
    val keep = manifestVersions(f, name).filter(_ >= floor)
      .flatMap(v => readManifestFile(f, name, v).pairs.map(_._1)).toSet ++
      live.pairs.map(_._1)
    val tableDir = new Path(path(name))
    f.listStatus(tableDir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("b-") && !keep.contains(n)) {
        f.delete(st.getPath, true)
        batchSchemas.remove(schemaKey(name, n))
      }
    }
    val mdir = manifestDir(name)
    f.listStatus(mdir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("m-") && n.stripPrefix("m-").toLong < floor)
        f.delete(st.getPath, false)
      if (n.startsWith(".tmp-m-")) f.delete(st.getPath, false)
    }
  }

  /** Write `df` as a fresh immutable batch dir, record its data schema
    * in [[batchSchemas]], and return its name and the partition dirs it
    * contains (listed from disk, so the names are exactly what Spark's
    * writer produced). `clusterByPartition=false` is for callers that
    * already partitioned the frame: compact's deliberate file layout, or
    * a merge clustered on the partition columns.
    */
  private def writeBatch(f: FileSystem, spec: TableSpec, df: DataFrame,
      version: Long, clusterByPartition: Boolean = true): (String, Seq[String]) = {
    val dirName = f"b-$version%09d-${java.util.UUID.randomUUID.toString.take(8)}"
    val dest = new Path(path(spec.name), dirName)
    // Pre-shuffle onto the partition columns: straight out of the PK
    // merge shuffle every task holds every partition value, so a write
    // opens tasks × |partitions| tiny files (the many-writers explosion).
    // One hashpartitioning Exchange makes it one file per partition per
    // batch; an oversized partition is later split by the size-aware
    // salted `compact`, which actually knows the bytes.
    val sized =
      if (spec.partitionBy.isEmpty || !clusterByPartition) df
      else df.repartition(spark.sparkContext.defaultParallelism,
        spec.partitionBy.map(col): _*)
    val w = sized.write.mode(SaveMode.Overwrite)
    (if (spec.partitionBy.nonEmpty) w.partitionBy(spec.partitionBy: _*) else w)
      .parquet(dest.toString)
    batchSchemas.put(schemaKey(spec.name, dirName),
      StructType(df.schema.filterNot(fl => spec.partitionBy.contains(fl.name))))
    val parts =
      if (spec.partitionBy.isEmpty) Seq("")
      else listPartDirs(f, dest, spec.partitionBy.size)
    (dirName, parts)
  }

  private def listPartDirs(f: FileSystem, base: Path, levels: Int): Seq[String] = {
    def rec(p: Path, level: Int, rel: String): Seq[String] =
      if (level == levels) Seq(rel)
      else f.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => rec(st.getPath, level + 1,
          if (rel.isEmpty) st.getPath.getName else s"$rel/${st.getPath.getName}"))
    rec(base, 0, "")
  }

  private def readPairs(spec: TableSpec, pairs: Seq[(String, String)]): DataFrame = {
    val byDir = pairs.groupBy(_._1).toSeq.sortBy(_._1)
    val dfs = byDir.map { case (dir, ps) =>
      val abs = if (dir == ".") path(spec.name) else s"${path(spec.name)}/$dir"
      // the legacy "." dir is never recorded, so it is always inferred
      val reader = Option(batchSchemas.get(schemaKey(spec.name, dir)))
        .fold(spark.read)(spark.read.schema)
      val parts = ps.map(_._2)
      if (parts == Seq("")) reader.parquet(abs)
      else reader.option("basePath", abs).parquet(parts.map(p => s"$abs/$p"): _*)
    }
    // allowMissingColumns: batch dirs written before a column was added
    // (see the schema-evolution contract on [[upsert]]) read as null.
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Adopt a pre-manifest plain parquet directory (no `_manifests`) as
    * version 0 so reads and merges treat it uniformly.
    */
  private def adoptLegacy(f: FileSystem, spec: TableSpec): Option[Manifest] = {
    val p = new Path(path(spec.name))
    if (!f.exists(p)) return None
    val parts =
      if (spec.partitionBy.isEmpty) Seq("")
      else listPartDirs(f, p, spec.partitionBy.size)
    Some(Manifest(0L, parts.map("." -> _)))
  }

  private def current(f: FileSystem, spec: TableSpec): Option[Manifest] =
    latestManifest(f, spec.name).orElse(adoptLegacy(f, spec))

  // ── declared-schema enforcement ───────────────────────────────────────

  /** Schema-on-write: conform `batch` to the spec's declared schema (see
    * [[TableSpec.schema]]). Name mismatches and lossy type changes fail
    * loudly — the MySQL-DDL behavior the reference relied on; safe
    * widenings are cast; columns are projected into declared order.
    */
  private def conformToSchema(spec: TableSpec, batch: DataFrame, op: String): DataFrame =
    spec.schema match {
      case None => batch
      case Some(declared) =>
        val have = batch.columns.toSet
        val missing = declared.fieldNames.filterNot(have)
        val extra = batch.columns.filterNot(declared.fieldNames.toSet)
        if (missing.nonEmpty || extra.nonEmpty)
          throw new IOException(
            s"TableStore: $op batch for ${spec.name} does not match the declared schema" +
            (if (missing.nonEmpty) s"; missing: ${missing.mkString(", ")}" else "") +
            (if (extra.nonEmpty) s"; undeclared: ${extra.mkString(", ")}" else ""))
        batch.select(declared.fields.toSeq.map { f =>
          val actual = batch.schema(f.name).dataType
          if (actual == f.dataType) col(f.name)
          else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(actual, f.dataType))
            col(f.name).cast(f.dataType)
          else
            throw new IOException(
              s"TableStore: $op batch for ${spec.name} has ${f.name}: " +
              s"${actual.simpleString}, declared ${f.dataType.simpleString} " +
              "(not a safe widening — cast explicitly if the loss is intended)")
        }: _*)
    }

  /** Schema-on-read: present exactly the declared columns in declared
    * order, completing columns the stored batches predate as typed nulls.
    */
  private def presentWithSchema(spec: TableSpec, df: DataFrame): DataFrame =
    spec.schema match {
      case None => df
      case Some(declared) =>
        val have = df.columns.toSet
        df.select(declared.fields.toSeq.map { f =>
          if (have.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
    }

  // ── public API ────────────────────────────────────────────────────────

  def exists(spec: TableSpec): Boolean = current(fs, spec).nonEmpty

  /** Props recorded with the CURRENT manifest (empty for a missing table
    * or a pre-props manifest). Props carry forward across commits until
    * overwritten — a commit's props are `previous ++ supplied`.
    */
  def props(spec: TableSpec): Map[String, String] =
    current(fs, spec).map(_.props).getOrElse(Map.empty)

  def read(spec: TableSpec): DataFrame = {
    val m = current(fs, spec).getOrElse(
      throw new IOException(s"TableStore: table ${spec.name} does not exist"))
    presentWithSchema(spec, readPairs(spec, m.pairs))
  }

  /** Committed versions still readable as snapshots (ascending). */
  def versions(spec: TableSpec): Seq[Long] = manifestVersions(fs, spec.name)

  /** Time-travel read of a retained version — the engine-native form of
    * the reference's `_bak` snapshot-then-compare
    * (/root/reference/tasks/jqdata/stock/available_check/__init__.py:23-109):
    * instead of copying the table before a refresh, diff `readVersion(v-1)`
    * against `read`. Retention is [[retainedVersions]] commits; asking for
    * an expired version fails loudly rather than returning partial data.
    */
  def readVersion(spec: TableSpec, version: Long): DataFrame = {
    val f = fs
    if (!manifestVersions(f, spec.name).contains(version))
      throw new IOException(
        s"TableStore: ${spec.name} v$version not retained " +
        s"(have: ${manifestVersions(f, spec.name).mkString(",")})")
    val m = readManifestFile(f, spec.name, version)
    m.pairs.map(_._1).distinct.filterNot(_ == ".").foreach { d =>
      if (!f.exists(new Path(path(spec.name), d)))
        throw new IOException(
          s"TableStore: ${spec.name} v$version batch dir $d was GC'd " +
          "(written before snapshot retention existed)")
    }
    presentWithSchema(spec, readPairs(spec, m.pairs))
  }

  /** Append rows without merging (K4 watermark-append path). */
  def append(spec: TableSpec, batch0: DataFrame,
      props: Map[String, String] = Map.empty): Unit = {
    val batch = conformToSchema(spec, batch0, "append")
    val f = fs
    val cur = current(f, spec)
    // Same additive-evolution contract as upsert: new columns are fine
    // (old rows read null), a batch missing an existing column (typo'd
    // rename) fails loudly instead of committing silent nulls.
    cur.foreach { m =>
      val missing = readPairs(spec, m.pairs).columns.filterNot(batch.columns.toSet)
      if (missing.nonEmpty)
        throw new IOException(
          s"TableStore: append batch for ${spec.name} lacks existing columns " +
          s"${missing.mkString(", ")}; select them (or null literals) explicitly")
    }
    val version = cur.map(_.version).getOrElse(0L) + 1
    val (dir, parts) = writeBatch(f, spec, batch, version)
    val next = Manifest(version, cur.map(_.pairs).getOrElse(Nil) ++ parts.map(dir -> _),
      cur.map(_.props).getOrElse(Map.empty) ++ props)
    commit(f, spec.name, version, next.pairs, next.props)
    gc(f, spec.name, next)
  }

  /** Keep-latest-per-PK merge. `newWins=false` gives INSERT IGNORE.
    *
    * @param evictMovedKeys when the partition columns are NOT all part of
    *        the primary key, an incoming row may have moved to a new
    *        partition, leaving a stale duplicate of its key in the old
    *        one. True (default) spends one semi-join scan of the untouched
    *        partitions to find and rewrite those homes; false skips the
    *        scan and requires the caller to guarantee partition values are
    *        immutable per key. Irrelevant (never scans) when partitionBy
    *        ⊆ primaryKey, where a moved value is by definition a new key.
    */
  def upsert(spec: TableSpec, batch0: DataFrame, newWins: Boolean = true,
      evictMovedKeys: Boolean = true,
      props: Map[String, String] = Map.empty): Unit =
    upsertConformed(spec, conformToSchema(spec, batch0, "upsert"), None,
      newWins, evictMovedKeys, props)

  /** [[upsert]] that commits no version for an empty batch, as a
    * streaming sink needs for its no-data triggers. On a partitioned
    * table one collect of the conformed batch's partition paths says
    * both whether the batch is empty and which partitions the merge
    * touches, so the check costs no job of its own; an unpartitioned
    * batch is counted. The batch is read again by the merge, so the
    * caller should cache it.
    */
  def upsertIfNonEmpty(spec: TableSpec, batch0: DataFrame): Unit = {
    val batch = conformToSchema(spec, batch0, "upsert")
    if (spec.partitionBy.isEmpty) {
      if (batch.count() > 0) upsertConformed(spec, batch, None)
    } else {
      val parts = partitionPaths(spec, batch)
      if (parts.nonEmpty) upsertConformed(spec, batch, Some(parts))
    }
  }

  /** The body of [[upsert]] for a batch already conformed to the spec;
    * `knownParts` are the batch's partition paths if already collected. */
  private def upsertConformed(spec: TableSpec, batch: DataFrame,
      knownParts: Option[Set[String]], newWins: Boolean = true,
      evictMovedKeys: Boolean = true,
      props: Map[String, String] = Map.empty): Unit = {
    require(spec.primaryKey.nonEmpty, s"${spec.name}: upsert needs a primary key")
    val f = fs
    // Batch row order decides in-batch duplicates, like the reference's
    // sequential INSERT..ON DUPLICATE loop: last occurrence wins for
    // upsert, first for INSERT IGNORE. monotonically_increasing_id
    // encodes (partition, position) and is monotone in row order within
    // each partition — the strongest order a distributed batch has.
    // Stored rows carry __seq = 0: the table holds one row per key.
    val seq = if (newWins) -monotonically_increasing_id() else monotonically_increasing_id()
    val incoming = batch
      .withColumn("__prio", lit(if (newWins) 0 else 1)).withColumn("__seq", seq)
    val cur = current(f, spec)
    if (cur.isEmpty) {
      val (dir, parts) = writeBatch(f, spec, keepLatest(spec, incoming), 1L,
        clusterByPartition = !partitionsInKey(spec))
      val next = Manifest(1L, parts.map(dir -> _), props)
      commit(f, spec.name, 1L, next.pairs, next.props)
      gc(f, spec.name, next)
      return
    }
    // Every live dir, for the column check; the recorded batch schemas
    // make building it cost no job.
    val existingAll = readPairs(spec, cur.get.pairs)
    // Additive schema evolution (the vendor-adds-a-metric case the
    // reference handles with ALTER TABLE): a batch may introduce NEW
    // columns — rows from older batches read them as null. A batch
    // missing an existing column is rejected instead of silently
    // nulling it out on conflict (MySQL's column-level ON DUPLICATE
    // update keeps unprovided columns; whole-row replace would not).
    val missing = existingAll.columns.filterNot(batch.columns.toSet)
    if (missing.nonEmpty)
      throw new IOException(
        s"TableStore: upsert batch for ${spec.name} lacks existing columns " +
        s"${missing.mkString(", ")}; select them (or null literals) explicitly")
    // Partition pruning: only merge against partitions the batch touches.
    val batchParts =
      if (spec.partitionBy.isEmpty) Set.empty[String]
      else knownParts.getOrElse(partitionPaths(spec, batch))
    // Moved-key eviction (see scaladoc): partitions that still hold an old
    // home of an incoming key join the rewrite set, so the keep-latest
    // merge drops the stale row when the partition is rewritten.
    val untouched = cur.get.pairs.filterNot { case (_, p) => batchParts.contains(p) }
    val movedParts =
      if (batchParts.isEmpty || !evictMovedKeys || partitionsInKey(spec) || untouched.isEmpty)
        Set.empty[String]
      else partitionPaths(spec, readPairs(spec, untouched)
        .join(broadcast(batch.select(spec.primaryKey.map(col): _*)), spec.primaryKey, "left_semi"))
    val affected = batchParts ++ movedParts
    val mergePairs =
      if (spec.partitionBy.isEmpty) cur.get.pairs
      else cur.get.pairs.filter { case (_, p) => affected.contains(p) }
    val candidates =
      if (mergePairs.isEmpty) incoming
      else incoming.unionByName(readPairs(spec, mergePairs)
        .withColumn("__prio", lit(if (newWins) 1 else 0)).withColumn("__seq", lit(0L)),
        allowMissingColumns = true)
    val version = cur.get.version + 1
    val (dir, newParts) = writeBatch(f, spec, keepLatest(spec, candidates), version,
      clusterByPartition = !partitionsInKey(spec))
    val removed: Set[String] =
      if (spec.partitionBy.isEmpty) cur.get.pairs.map(_._2).toSet
      else newParts.toSet ++ affected
    val next = Manifest(version,
      cur.get.pairs.filterNot { case (_, p) => removed.contains(p) } ++ newParts.map(dir -> _),
      cur.get.props ++ props)
    commit(f, spec.name, version, next.pairs, next.props)
    gc(f, spec.name, next)
  }

  /** K2 — keep the first-seen row on PK conflict. */
  def insertIgnore(spec: TableSpec, batch: DataFrame): Unit =
    upsert(spec, batch, newWins = false)

  /** K3 — wipe the partition slice(s) present in `batch`, then load it. */
  def overwritePartitions(spec: TableSpec, batch0: DataFrame,
      props: Map[String, String] = Map.empty): Unit = {
    require(spec.partitionBy.nonEmpty, s"${spec.name}: no partition columns")
    val batch = conformToSchema(spec, batch0, "overwritePartitions")
    val f = fs
    val cur = current(f, spec)
    val version = cur.map(_.version).getOrElse(0L) + 1
    val (dir, parts) = writeBatch(f, spec, batch, version)
    val removed = parts.toSet
    val next = Manifest(version,
      cur.map(_.pairs).getOrElse(Nil).filterNot { case (_, p) => removed.contains(p) } ++
        parts.map(dir -> _),
      cur.map(_.props).getOrElse(Map.empty) ++ props)
    commit(f, spec.name, version, next.pairs, next.props)
    gc(f, spec.name, next)
  }

  /** Small-file compaction: incremental upserts leave one batch dir per
    * write; periodically rewrite the table into ~targetFileSize files.
    * The reference's analog was MySQL REPAIR TABLE + partition maintenance
    * (/root/reference/tasks/backend/repair_table.py:15-22); on an
    * immutable columnar store the concern becomes file-count hygiene —
    * at 100 TB, scan parallelism and NameNode/listing pressure are set by
    * this. Partitioned tables size each partition independently: a
    * partition of B bytes is salted into ceil(B/target) writer tasks, so
    * an oversized partition splits instead of collapsing to one huge file
    * (the salt is a hash of the primary key — deterministic output).
    * Same manifest-commit path as upsert, so readers never see a
    * half-compacted table.
    */
  /** `clusterBy = Seq(a, b)` additionally Z-ORDERS the rewrite: rows are
    * range-partitioned and sorted by the Morton code of (a, b)
    * ([[graft.functions.ZOrder.zValue]]), so every output file covers a
    * small RECTANGLE of the (a, b) space and parquet min/max stats
    * prune point scans on EITHER column — the Delta/Iceberg `ZORDER BY`
    * maintenance pass as a compaction option. Unpartitioned tables
    * only (a partitioned table already clusters its partition key;
    * compose by choosing z columns orthogonal to it in a follow-up).
    */
  def compact(spec: TableSpec, targetFileSizeBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Unit = {
    require(clusterBy.isEmpty || clusterBy.size == 2,
      "z-order clustering takes exactly two columns")
    require(clusterBy.isEmpty || spec.partitionBy.isEmpty,
      "z-order compaction supports unpartitioned tables")
    val f = fs
    val cur = current(f, spec).getOrElse(
      throw new IOException(s"TableStore: nothing to compact for ${spec.name}"))
    // bytes per partition dir (or whole table when unpartitioned)
    def bytesUnder(p: Path): Long = {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".parquet")) n += s.getLen }
      n
    }
    val df = readPairs(spec, cur.pairs)
    val version = cur.version + 1
    val compacted =
      if (spec.partitionBy.isEmpty) {
        val total = bytesUnder(new Path(path(spec.name)))
        val n = math.max(1, math.ceil(total.toDouble / targetFileSizeBytes).toInt)
        if (clusterBy.nonEmpty) {
          val z = graft.functions.ZOrder.zValue(col(clusterBy(0)), col(clusterBy(1)))
          df.withColumn("__z", z)
            .repartitionByRange(n, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z")
        } else df.repartition(n)
      } else {
        val perPart: Map[String, Long] = cur.pairs
          .map { case (d, p) =>
            val abs = if (d == ".") new Path(path(spec.name), p)
                      else new Path(new Path(path(spec.name), d), p)
            p -> bytesUnder(abs)
          }
          .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
        val nFiles: Map[String, Int] = perPart.map { case (p, b) =>
          p -> math.max(1, math.ceil(b.toDouble / targetFileSizeBytes).toInt)
        }
        val totalFiles = math.max(1, nFiles.values.sum)
        val partName = concat_ws("/", spec.partitionBy.map(c =>
          concat(lit(s"$c="), coalesce(col(c).cast("string"),
            lit("__HIVE_DEFAULT_PARTITION__")))): _*)
        // PK-less (append-only) tables salt on every column — the salt
        // only needs determinism and spread, not key identity.
        val saltCols =
          if (spec.primaryKey.nonEmpty) spec.primaryKey else df.columns.toSeq
        val salt = pmod(xxhash64(saltCols.map(col): _*),
          coalesce(element_at(typedLit(nFiles), partName), lit(1)))
        df.withColumn("__salt", salt)
          .repartition(totalFiles, (spec.partitionBy.map(col) :+ col("__salt")): _*)
          .drop("__salt")
      }
    val (dir, parts) = writeBatch(f, spec, compacted, version,
      clusterByPartition = false)
    val next = Manifest(version, parts.map(dir -> _), cur.props)
    commit(f, spec.name, version, next.pairs, next.props)
    gc(f, spec.name, next, keepHistory = false)
  }

  private def partitionsInKey(spec: TableSpec): Boolean =
    spec.partitionBy.nonEmpty && spec.partitionBy.forall(spec.primaryKey.contains)

  /** Keep, per primary key, the row with the lowest (__prio, __seq). When
    * the partition columns are part of the key, hash-clustering on them
    * satisfies both this window and the writer (whose caller then passes
    * `clusterByPartition = false`), so the merge is one exchange.
    */
  private def keepLatest(spec: TableSpec, rows: DataFrame): DataFrame = {
    val clustered =
      if (partitionsInKey(spec))
        rows.repartition(spark.sparkContext.defaultParallelism, spec.partitionBy.map(col): _*)
      else rows
    val w = Window.partitionBy(spec.primaryKey.map(col): _*)
      .orderBy(col("__prio"), col("__seq"))
    clustered.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__prio", "__seq")
  }

  /** The relative partition dirs of `df`'s rows, named as Spark's writer
    * names them: each value cast to string (session time zone) and
    * escaped, null or empty as the default partition name.
    */
  private def partitionPaths(spec: TableSpec, df: DataFrame): Set[String] =
    df.select(spec.partitionBy.map(col(_).cast("string")): _*).distinct().collect()
      .map(r => spec.partitionBy.zipWithIndex.map { case (c, i) =>
        ExternalCatalogUtils.getPartitionPathString(c, r.getString(i))
      }.mkString("/"))
      .toSet

}

/** Instance-free table utilities. */
object TableStore {

  /** Order-independent content checksum over the named columns: each
    * row canonicalizes to a `|`-joined string, hashes through the
    * md5-window family ([[graft.functions.Md5Hash]]), and the SUM of
    * the 60-bit row hashes — exact DECIMAL(38,0) internally, published
    * mod 2⁶¹ so the fingerprint rides in a plain BIGINT; partition
    * order and parallelism can't change it — plus the row count form
    * the table's fingerprint. This is how two sides of a replication /
    * migration compare a 100 TB table without moving it: one
    * partial-aggregated scan each, two numbers over the wire.
    *
    * Callers pick columns with engine-stable string forms (integers,
    * strings, dates); doubles render differently across engines and
    * belong behind an explicit cast/round. Null canonicalizes to the
    * empty string (distinct from the literal "null").
    */
  def contentChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
    df.select(conv(substring(md5(canon), 1, 15), 16, 10)
        .cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__h")).as("__sum"))
      .select(col("n_rows"),
        pmod(col("__sum"), lit(BigDecimal(1L << 61)).cast("decimal(38,0)"))
          .cast("long").as("checksum"))
  }
}
