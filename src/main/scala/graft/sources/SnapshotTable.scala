package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-lite SNAPSHOT-VERSIONED TABLE on plain parquet — the
  * transactional write path the dataset-diff/SCD2 queries stop short
  * of: immutable data files, a manifest per version listing the FILE
  * SETS composing that version, and an ATOMIC RENAME as the commit
  * point (the Iceberg/Delta idea with the catalog swap reduced to a
  * filesystem rename, atomic per-dir on HDFS/local).
  *
  * Layout under a table root:
  * {{{
  *   data/s<id>/        immutable parquet file set added by commit <id>
  *   manifests/v<id>/   parquet manifest: (dir, added_in, n_rows) rows
  *                      — PUBLISHED by rename from a _tmp dir
  * }}}
  *
  * Guarantees, and where they come from:
  *  - SNAPSHOT ISOLATION: a reader resolves one manifest and only
  *    ever touches the dirs it lists; commits add new dirs + new
  *    manifests and never mutate published ones, so an in-flight
  *    reader is untouched by any number of later commits.
  *  - ATOMIC COMMIT: the manifest is fully written (with its
  *    _SUCCESS) under `manifests/_tmp_v<id>` and renamed in; a crash
  *    before the rename leaves only unreferenced debris (invisible
  *    to readers), never a half-visible version.
  *  - OPTIMISTIC CONCURRENCY: the rename target embeds the version
  *    id, so two writers racing to commit the same version cannot
  *    both succeed — the loser's rename fails and surfaces as a
  *    retryable conflict, the Iceberg commit-conflict semantic.
  *  - TIME TRAVEL: any published version remains readable until the
  *    user explicitly runs [[expire]] (retention is a separate,
  *    explicitly destructive operation — never implicit).
  *  - SCHEMA EVOLUTION (additive): a commit may carry MORE columns
  *    than the versions before it; [[read]] resolves the union
  *    schema across the file sets a manifest lists, null-filling
  *    columns a file set predates (the Iceberg add-column semantic).
  *    Versions committed before the new column keep their original
  *    schema — evolution is per-version, not retroactive.
  *
  * Scale posture: a commit writes data once plus a manifest of
  * O(commits) rows; reads open only the dirs the chosen manifest
  * lists — partition pruning and column pruning inside each dir are
  * untouched parquet behavior. Nothing is corpus-sized on the driver:
  * the manifest is the only driver-materialized relation and it is
  * O(number of commits). */
object SnapshotTable {

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Published version ids at `root`, ascending (published = the
    * rename completed; the _tmp debris of a crashed commit never
    * matches the v<id> name). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/manifests")
    val fs = fsOf(spark, root)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** Commit `df` as the next version. `append = true` carries the
    * previous version's file sets forward (the new version = old ∪
    * new files); `append = false` is a full overwrite (the new
    * version references only the new file set — old versions stay
    * readable). Returns the committed version id. Throws
    * IllegalStateException on a commit conflict (another writer
    * published the same version id first); data-file debris from the
    * losing commit is unreferenced and harmless. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
             append: Boolean = true, statsKey: Option[String] = None): Int =
    commitAs(spark, root, df, latestVersion(spark, root), append, statsKey)

  /** A manifest row: one immutable file set of a version, with the
    * commit that added it, its row count, and (when the committer
    * passed `statsKey`) the file set's min/max of that key plus a
    * serialized key bloom filter — the data-skipping statistics
    * [[readPruned]] (ranges) and [[readPoint]] (blooms) consume. */
  final case class Entry(dir: String, addedIn: Int, nRows: Long,
                         minKey: Option[Long], maxKey: Option[Long],
                         keyBloom: Option[Array[Byte]],
                         kind: String = "data",
                         key2: Option[String] = None,
                         minKey2: Option[Long] = None,
                         maxKey2: Option[Long] = None)

  /** False-positive rate of the per-file-set key blooms: ~29
    * bits/key, small enough to ride the manifest, tight enough that
    * a point lookup's expected false-positive file sets are ~0 even
    * over thousands of sets. */
  val BloomFpp = 1e-6

  /** Tiny jobs over the just-written file set: row count plus the
    * optional min/max and key bloom of the stats key. The bloom is
    * deterministic for a given key set (fixed sketch seed), so
    * manifest bytes — and every skipping decision — replay across
    * runs. */
  private[sources] def statsOf(spark: SparkSession, path: String,
                      statsKey: Option[String])
      : (Long, Option[Long], Option[Long], Option[Array[Byte]]) = {
    val df = spark.read.parquet(path)
    statsKey match {
      case Some(k) =>
        val r = df.agg(count(lit(1)), min(col(k)).cast("long"),
          max(col(k)).cast("long")).collect()(0)
        val n = r.getLong(0)
        val bloom = if (n == 0 || r.isNullAt(1)) None else {
          val bf = df.select(col(k).cast("long").as(k))
            .stat.bloomFilter(k, n, BloomFpp)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Some(bos.toByteArray)
        }
        (n,
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          bloom)
      case None => (df.count(), None, None, None)
    }
  }

  /** Commit with the base version PINNED — the optimistic-concurrency
    * primitive: two writers that both resolved the same `prev` race
    * for the same target id, and exactly one rename wins. */
  private[graft] def commitAs(spark: SparkSession, root: String,
                              df: DataFrame, prev: Option[Int],
                              append: Boolean,
                              statsKey: Option[String] = None): Int = {
    val next = prev.getOrElse(0) + 1
    // ATTEMPT-unique data dir (the Iceberg unique-filename rule):
    // two racers for the same version id must not write the same
    // path, or the LOSER's data write clobbers files the WINNER's
    // already-published manifest references — readers go through the
    // manifest, so the name only needs uniqueness, not meaning
    val dataRel = s"data/s$next-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) = statsOf(spark, s"$root/$dataRel", statsKey)
    val carried = if (append) prev.toSeq.flatMap(manifestEntries(spark, root, _))
                  else Seq.empty
    publish(spark, root, next,
      carried :+ Entry(dataRel, next, nRows, minK, maxK, bloom))
    next
  }

  /** Write + atomically publish the manifest for version `next` —
    * the shared commit point of [[commitAs]] and [[commitBatch]]. */
  private[sources] def publish(spark: SparkSession, root: String, next: Int,
                      entries: Seq[Entry]): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val committedAt = System.currentTimeMillis()
    entries.map(e => (e.dir, e.addedIn, e.nRows,
        e.minKey.map(java.lang.Long.valueOf).orNull,
        e.maxKey.map(java.lang.Long.valueOf).orNull,
        e.keyBloom.orNull, e.kind, committedAt,
        e.key2.orNull,
        e.minKey2.map(java.lang.Long.valueOf).orNull,
        e.maxKey2.map(java.lang.Long.valueOf).orNull))
      .toDF("dir", "added_in", "n_rows", "min_key", "max_key", "key_bloom",
        "kind", "committed_at", "key2", "min_key2", "max_key2")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$root/manifests/_tmp_v$next")
    val src = new org.apache.hadoop.fs.Path(s"$root/manifests/_tmp_v$next")
    val dst = new org.apache.hadoop.fs.Path(s"$root/manifests/v$next")
    // FileContext.rename with the default (no-overwrite) option is
    // the portable atomic claim: it FAILS when dst exists, where
    // FileSystem.rename on the local FS silently nests src inside an
    // existing dst directory — which would both hide the manifest
    // and mask the conflict
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fsOf(spark, root).makeQualified(dst).toUri,
      spark.sessionState.newHadoopConf())
    try fc.rename(src, dst)
    catch {
      case e: java.io.IOException =>
        fsOf(spark, root).delete(src, true)
        if (e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]
            || fsOf(spark, root).exists(dst))
          throw new IllegalStateException(
            s"commit conflict: version $next at $root was published by " +
              "a concurrent writer; re-read the latest version and retry")
        else throw e
    }
  }

  /** EXACTLY-ONCE batch commit: append `df` as the next version,
    * keyed by the caller's `batchId` so an at-least-once REPLAY of
    * the same batch is a detected no-op instead of a duplicate
    * version. The batch's identity rides in its data-dir NAME
    * (`data/b<batchId>`), which the published manifest references —
    * so "did this batch commit?" is answered by the same
    * atomically-published metadata readers use, with no sidecar
    * marker that could decouple from the commit point. Crash
    * windows: after the data write but before the manifest rename →
    * the dir is unreferenced debris, the replay REWRITES it
    * (overwrite) and publishes; after the rename → the replay sees
    * `data/b<batchId>` in the latest manifest and skips. Returns the
    * version committed, or None for a detected replay. Contract: the
    * batch lineage must be the table's only APPEND writer — an
    * interleaved `append = false` overwrite drops the manifest
    * references replay detection reads (expire-style retention of
    * old VERSIONS is fine; the latest manifest keeps every live
    * batch dir). */
  def commitBatch(spark: SparkSession, root: String, df: DataFrame,
                  batchId: Long, statsKey: Option[String] = None)
      : Option[Int] = {
    val prev = latestVersion(spark, root)
    val dataRel = s"data/b$batchId"
    val replayed = prev.exists(v =>
      manifestEntries(spark, root, v).exists(_.dir == dataRel))
    if (replayed) None
    else {
      val next = prev.getOrElse(0) + 1
      df.write.mode("overwrite").parquet(s"$root/$dataRel")
      val (nRows, minK, maxK, bloom) = statsOf(spark, s"$root/$dataRel", statsKey)
      val carried = prev.toSeq.flatMap(manifestEntries(spark, root, _))
      publish(spark, root, next,
        carried :+ Entry(dataRel, next, nRows, minK, maxK, bloom))
      Some(next)
    }
  }

  /** MEMOIZED manifest resolution (r18, guide §1.2 "driver does no
    * data work"): a published manifest is IMMUTABLE (rename-published,
    * never rewritten), yet every resolution paid a full Spark job
    * (parquet read + collect, measured 60–150 ms) — and the SQL front
    * door resolves each table reference several times per statement
    * (catalog loadTable reads the schema through [[read]], the
    * analyzer runs to fixed point), so a 5-version readback paid
    * 10–15 such jobs per run. The memo key embeds the manifest
    * DIRECTORY'S child listing (name:length:mtime of every file), so
    * any rewrite — a table root deleted and rebuilt at the same
    * version ids (pipeline_snapshot_dml_cycle does exactly this every
    * run), an expire, a crashed half-commit — changes the key and the
    * stale entry is simply never hit again (bounded by clear-at-4096).
    * A MISSING manifest bypasses the memo entirely and falls through
    * to the uncached reader, preserving the standard missing-path
    * error surface. The plan-level twin [[planMemo]] sits in [[read]].
    */
  private val entryMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Entry]]()
  private val planMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  locally {
    // session teardown drops the memoized plans (they hold session
    // refs via their logical plans); entries are session-free but
    // cheap to rebuild, so both clear together
    graft.Caches.onRelease { _ => planMemo.clear(); entryMemo.clear() }
  }

  /** Content tag of a published manifest dir: the sorted child
    * listing. None when the manifest does not exist (callers fall
    * through to the uncached path for the standard error). */
  private def manifestTag(spark: SparkSession, root: String,
                          version: Int): Option[String] =
    try {
      Some(fsOf(spark, root)
        .listStatus(new org.apache.hadoop.fs.Path(
          s"$root/manifests/v$version"))
        .map(k => s"${k.getPath.getName}:${k.getLen}:${k.getModificationTime}")
        .sorted.mkString("|"))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Manifest rows of a published version, oldest file set first.
    * Tolerates manifests written before the stats columns existed
    * (min/max read as unknown — skipping degrades to reading, never
    * to wrong pruning). Memoized on the manifest dir's content tag. */
  private[sources] def manifestEntries(spark: SparkSession, root: String,
                              version: Int): Seq[Entry] =
    manifestTag(spark, root, version) match {
      case Some(tag) =>
        val key = s"$root#v$version#$tag"
        val hit = entryMemo.get(key)
        if (hit != null) hit
        else {
          val e = readManifestUncached(spark, root, version)
          if (entryMemo.size > 4096) entryMemo.clear()
          entryMemo.put(key, e)
          e
        }
      case None => readManifestUncached(spark, root, version)
    }

  private def readManifestUncached(spark: SparkSession, root: String,
                              version: Int): Seq[Entry] = {
    val df = spark.read.parquet(s"$root/manifests/v$version")
    def opt(name: String, tpe: String) =
      if (df.columns.contains(name)) col(name)
      else lit(null).cast(tpe).as(name)
    df.select(col("dir"), col("added_in"), col("n_rows"),
        opt("min_key", "long"), opt("max_key", "long"),
        opt("key_bloom", "binary"), opt("kind", "string"),
        opt("key2", "string"), opt("min_key2", "long"),
        opt("max_key2", "long"))
      .collect()
      .map(r => Entry(r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getAs[Array[Byte]](5)),
        if (r.isNullAt(6)) "data" else r.getString(6),
        if (r.isNullAt(7)) None else Some(r.getString(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8)),
        if (r.isNullAt(9)) None else Some(r.getLong(9))))
      .toSeq.sortBy(_.addedIn)
  }

  /** Time-travel read of a PUBLISHED version: the union of exactly
    * the file sets its manifest lists. The manifest is resolved HERE,
    * once — the returned DataFrame's scan set is fixed, so later
    * commits (or a changed "latest") cannot leak in mid-query.
    * File sets are unioned BY NAME with null-fill for columns a set
    * predates (additive schema evolution): the resolved schema is
    * the oldest set's columns followed by later additions in
    * added_in order — deterministic for a given manifest. */
  def read(spark: SparkSession, root: String, version: Int): DataFrame = {
    // plan-level memo (r18): beyond the manifest rows, building the
    // read plan pays one spark.read.parquet per file set and delete
    // vector (driver-side listing + footer schema reads, 20–50 ms
    // each — 0.17–0.54 s per version resolution measured at sf0.1,
    // ~70% of a version readback's warm cost). A published version's
    // resolved plan is immutable for a given manifest content, so it
    // is memoized under the SAME content tag as the manifest rows,
    // scoped to the owning session (plans hold session refs; the
    // Caches.onRelease hook above drops them at session teardown).
    // The data itself is still scanned from parquet on every action —
    // this caches resolution metadata, never results.
    val tag = manifestTag(spark, root, version)
    // key on the session UUID, not identityHashCode: two live sessions
    // whose identity hashes collide must never share a memoized plan
    // (plans hold session refs)
    val sid = org.apache.spark.sql.GraftSqlBridge.sessionUUID(spark)
    val key = tag.map(t => s"$sid#$root#v$version#$t")
    key.flatMap(k => Option(planMemo.get(k))).getOrElse {
      val dirs = manifestEntries(spark, root, version)
      require(dirs.nonEmpty, s"version $version not published at $root")
      val (schema, dels, datas) = partitionKinds(dirs)
      val df = applyDeletes(spark, root, dels, datas, schema)
      key.foreach { k =>
        if (planMemo.size > 1024) planMemo.clear()
        planMemo.put(k, df)
      }
      df
    }
  }

  /** Split a manifest into (schema actions, delete vectors, data). */
  private[sources] def partitionKinds(entries: Seq[Entry])
      : (Seq[Entry], Seq[Entry], Seq[Entry]) = {
    val (schema, rest) = entries.partition(_.kind == "schema")
    val (dels, datas) = rest.partition(_.kind == "delete")
    (schema, dels, datas)
  }

  /** METADATA-ONLY SCHEMA EVOLUTION — apply the manifest's pending
    * DROP/RENAME COLUMN actions to ONE file set's frame. An action is
    * an [[Entry]] of kind `schema` whose `dir` encodes it
    * (`drop:<col>` / `rename:<old>:<new>`, see [[alterSchema]]); no
    * data is rewritten — dropping or renaming a column on a 100 TB
    * table is one manifest commit, and every reader normalizes each
    * file set THROUGH the actions younger than it before the union:
    *  - only actions with `addedIn > set.addedIn` apply, so a column
    *    re-added after a drop is never re-dropped from the newer sets
    *    that legitimately carry it;
    *  - rename is a no-op on sets already written under the new name,
    *    drop a no-op on sets that never had the column — application
    *    is idempotent, so a maintenance rewrite (compact /
    *    materializeDeletes) that already normalized stays correct
    *    with the actions still in the manifest.
    * MOR delete vectors bind AFTER normalization: [[alterSchema]]
    * refuses to run over live vectors, so every live vector is
    * younger than every schema action and its key names the CURRENT
    * (post-action) column. The read debt is bounded the usual way —
    * [[compact]] rewrites under the resolved schema and clears the
    * actions. */
  private def applySchemaActions(df: DataFrame, setAddedIn: Int,
                                 actions: Seq[Entry]): DataFrame =
    actions.filter(_.addedIn > setAddedIn).foldLeft(df) { (acc, a) =>
      a.dir.split(':') match {
        case Array("drop", c) =>
          acc.columns.find(_.equalsIgnoreCase(c))
            .fold(acc)(actual => acc.drop(actual))
        case Array("rename", from, to) =>
          acc.columns.find(_.equalsIgnoreCase(from))
            .fold(acc)(actual => acc.withColumnRenamed(actual, to))
        case other => throw new IllegalStateException(
          s"unknown schema action '${a.dir}' in manifest")
      }
    }

  private def unionSets(spark: SparkSession, root: String,
                        dirs: Seq[Entry],
                        schema: Seq[Entry] = Seq.empty): DataFrame =
    dirs.map(e => applySchemaActions(
        spark.read.parquet(resolveDir(root, e.dir)), e.addedIn, schema))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Union of `datas` with the MERGE-ON-READ delete vectors in `dels`
    * applied: each delete vector (a tiny single-column key list —
    * broadcast side by construction) anti-joins away matching rows of
    * every data set COMMITTED BEFORE it (`addedIn` strictly lower) —
    * so a key re-inserted after, or in the same commit as, its delete
    * survives (the [[upsertMor]] contract). A data set predating the
    * key column cannot hold matching rows and is passed through. */
  private def applyDeletes(spark: SparkSession, root: String,
                           dels: Seq[Entry], datas: Seq[Entry],
                           schema: Seq[Entry] = Seq.empty): DataFrame = {
    require(datas.nonEmpty, "no data file sets to read")
    if (dels.isEmpty) unionSets(spark, root, datas, schema)
    else datas.map { e =>
      // normalize through pending schema actions FIRST: every live
      // vector postdates every action (the alterSchema guard), so
      // vector key columns name the normalized schema
      val df = applySchemaActions(
        spark.read.parquet(resolveDir(root, e.dir)), e.addedIn, schema)
      dels.filter(_.addedIn > e.addedIn).foldLeft(df) { (acc, d) =>
        val kdf = spark.read.parquet(resolveDir(root, d.dir))
        // a vector may carry a MULTI-column key (a tuple-keyed DML
        // predicate): the anti join binds on ALL its columns — a set
        // predating any key column cannot hold matching rows (the
        // missing column null-fills, and a predicate is never TRUE
        // on NULL inputs under the store's DML lowering)
        val ks = kdf.columns.toIndexedSeq
        if (!ks.forall(acc.columns.contains)) acc
        else acc.join(broadcast(kdf), ks, "left_anti")
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Manifest dirs are root-relative EXCEPT in shallow clones, whose
    * entries reference the source table's file sets by absolute
    * path ([[cloneFrom]]). */
  private[sources] def resolveDir(root: String, dir: String): String =
    if (dir.startsWith("/") ||
        new org.apache.hadoop.fs.Path(dir).toUri.getScheme != null) dir
    else s"$root/$dir"

  /** SHALLOW (zero-copy) CLONE — the Delta/Iceberg table-branching
    * primitive: publish version 1 at `dstRoot` whose manifest
    * references the SOURCE's latest file sets by ABSOLUTE path. No
    * data is copied or moved; the clone is immediately readable,
    * independently appendable, and snapshot-isolated from subsequent
    * source commits (those create NEW file sets the clone never
    * references — file sets are immutable by the table's core
    * invariant). The shallow-clone caveat every engine documents
    * rather than solves: retention on the SOURCE only protects dirs
    * its own surviving manifests reference, so the cloned-from
    * version must stay within the source's retention window for as
    * long as the clone lives (expire on the CLONE is safe either
    * way — its GC only sweeps the clone's own data/ namespace). */
  def cloneFrom(spark: SparkSession, srcRoot: String,
                dstRoot: String): Int = {
    val v = latestVersion(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no versions to clone at $srcRoot"))
    // qualify the source root FIRST: a relative srcRoot would leave
    // relative dirs in the clone's manifest, which resolveDir later
    // resolves against the CLONE's root — silently reading wrong or
    // nonexistent paths
    val qualifiedSrc = fsOf(spark, srcRoot)
      .makeQualified(new org.apache.hadoop.fs.Path(srcRoot)).toString
    // lineage RESETS on clone (added_in = 1): the clone's version
    // history starts at its own v1, so a changes() window over the
    // clone never misreports carried source sets as rows added inside
    // the window, and a post-clone append (added_in = 2) always sorts
    // AFTER every carried set in the schema-evolution union order
    val entries = manifestEntries(spark, srcRoot, v)
      .map(e => e.copy(dir = resolveDir(qualifiedSrc, e.dir), addedIn = 1))
    // the lineage reset would collapse the added_in ordering MOR
    // delete application depends on (deletes would silently stop
    // applying in the clone) — materialize first
    require(entries.forall(_.kind == "data"),
      s"cannot clone a table with live merge-on-read deletes or pending " +
        s"schema actions at $srcRoot; run materializeDeletes / compact first")
    publish(spark, dstRoot, 1, entries)
    1
  }

  /** INCREMENTAL (CHANGES) SCAN — the Iceberg incremental-read
    * semantic: exactly the rows ADDED by commits in (fromVersion,
    * toVersion], resolved from `toVersion`'s manifest alone (its
    * `added_in` column records which commit contributed each file
    * set). This is what lets a downstream consumer — an aggregate
    * refresh, a feature backfill, an index ingest — process a 100 TB
    * table's NEW data only, instead of re-scanning the corpus per
    * version. Defined for append lineages: an overwrite commit
    * inside the window drops earlier file sets from the manifest, so
    * its "changes" are its own additions (the rewrite is a new
    * dataset, not a delta — same as Iceberg's replace snapshots). */
  def changes(spark: SparkSession, root: String, fromVersion: Int,
              toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"changes window must be ascending: ($fromVersion, $toVersion]")
    // changes() reports APPENDED rows; MOR delete vectors inside the
    // window are not reported as phantom appends.
    // Appended rows normalize through the manifest's schema actions
    // like every read, so a consumer sees the resolved schema.
    val all = manifestEntries(spark, root, toVersion)
    val schema = all.filter(_.kind == "schema")
    val added = all.filter(e => e.addedIn > fromVersion && e.kind == "data")
    if (added.isEmpty)
      throw new IllegalArgumentException(
        s"no file sets added in ($fromVersion, $toVersion] at $root")
    unionSets(spark, root, added, schema)
  }

  /** A data-skipping read: the rows, plus how much of the manifest
    * the key range let us skip. */
  final case class PrunedRead(df: DataFrame, dirsRead: Int, dirsTotal: Int)

  /** MIN/MAX DATA SKIPPING — manifest-level pruning, the Iceberg
    * file-skipping semantic: a file set whose recorded [min,max] of
    * the stats key cannot intersect [lo,hi] is never opened. The
    * decision uses O(file sets) driver-side manifest rows — no data
    * IO — and is CONSERVATIVE: sets with unknown stats (committed
    * without `statsKey`, or pre-stats manifests) are always read, so
    * skipping can only cut work, never rows. Callers still apply the
    * exact predicate to the returned frame: the skip is a file-set
    * superset, parquet row-group pruning and the residual filter
    * finish the job — at 100 TB this turns a key-ranged query over a
    * range-committed table from a corpus scan into a few file sets. */
  def readPruned(spark: SparkSession, root: String, version: Int,
                 lo: Long, hi: Long): PrunedRead = {
    val all = manifestEntries(spark, root, version)
    require(all.nonEmpty, s"version $version not published at $root")
    val (schema, dels, dirs) = partitionKinds(all)
    val hit = dirs.filter(e => (e.minKey, e.maxKey) match {
      case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
      case _ => true // unknown stats: must read
    })
    val df = if (hit.isEmpty) unionSets(spark, root, dirs, schema).limit(0)
             else applyDeletes(spark, root, dels, hit, schema)
    PrunedRead(df, hit.size, dirs.size)
  }

  /** BLOOM POINT-LOOKUP SKIPPING — the pruning min/max ranges cannot
    * do: when commits interleave keys (round-robin ingest, hash
    * routing), every file set spans nearly the full key range and
    * [[readPruned]] keeps them all; the per-set KEY BLOOM still
    * prunes a point lookup to the sets that might hold the key.
    * Both filters compose: range first (free), then bloom. The
    * decision stays a driver-side walk over manifest rows — no data
    * IO — and is conservative the same way: no bloom → read the set.
    * A bloom can only produce false POSITIVES (extra sets read,
    * never rows missed), at [[BloomFpp]] per set; the caller applies
    * the exact `key` predicate to the returned frame as usual. */
  def readPoint(spark: SparkSession, root: String, version: Int,
                key: Long): PrunedRead = {
    val all = manifestEntries(spark, root, version)
    require(all.nonEmpty, s"version $version not published at $root")
    val (schema, dels, dirs) = partitionKinds(all)
    val hit = dirs.filter { e =>
      val inRange = (e.minKey, e.maxKey) match {
        case (Some(mn), Some(mx)) => key >= mn && key <= mx
        case _ => true
      }
      inRange && e.keyBloom.forall(b =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))
          .mightContainLong(key))
    }
    val df = if (hit.isEmpty) unionSets(spark, root, dirs, schema).limit(0)
             else applyDeletes(spark, root, dels, hit, schema)
    PrunedRead(df, hit.size, dirs.size)
  }

  def readLatest(spark: SparkSession, root: String): DataFrame =
    read(spark, root, latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root")))

  /** Wall-clock publish time of a version's manifest (None for
    * manifests written before the column existed). The rename is the
    * commit point; the stamp is taken just before it — monotone
    * non-decreasing across a table's versions on one writer clock. */
  def commitTime(spark: SparkSession, root: String,
                 version: Int): Option[Long] = {
    val df = spark.read.parquet(s"$root/manifests/v$version")
    if (!df.columns.contains("committed_at")) None
    else Option(df.select(col("committed_at")).head.get(0))
      .map(_.asInstanceOf[Long])
  }

  /** TIME TRAVEL BY TIMESTAMP — the `AS OF <timestamp>` form next to
    * the by-version reads: the latest version whose manifest was
    * published at or before `tsMillis`. Versions predating the
    * commit-time column cannot be located by time and are skipped
    * (locate those by version id). O(versions) driver-side manifest
    * reads, no data IO. */
  def versionAsOf(spark: SparkSession, root: String,
                  tsMillis: Long): Int =
    versions(spark, root).reverse
      .find(v => commitTime(spark, root, v).exists(_ <= tsMillis))
      .getOrElse(throw new IllegalStateException(
        s"no version at $root published at or before $tsMillis"))

  def readAsOf(spark: SparkSession, root: String,
               tsMillis: Long): DataFrame =
    read(spark, root, versionAsOf(spark, root, tsMillis))

  /** PLAN-INTEGRATED read — the [[SnapshotSource]] relation as a
    * DataFrame: Spark's own parquet scan over a manifest-backed
    * [[SnapshotFileIndex]], so `.where(statsColumn ...)` predicates
    * prune whole FILE SETS during planning (min/max range + key
    * bloom), and parquet pushdown/column pruning/codegen apply
    * unchanged below the skip. Equivalent rows to [[read]]; prefer
    * this form when queries filter on the stats key. */
  def readIndexed(spark: SparkSession, root: String, version: Int,
                  statsColumn: Option[String] = None): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(
        SnapshotSource.relationFor(spark, root, version, statsColumn))

  /** The read the SQL surface lowers a snapshot relation onto
    * ([[ResolveSnapshotSql]]): the stats-pruned manifest file index
    * ([[readIndexed]] — file-set skipping, parquet pushdown, codegen)
    * whenever the version carries no MOR delete vectors, else the
    * delete-applying union ([[read]]) whose anti joins the file-index
    * form cannot express. Same rows either way — the split only picks
    * the faster physical plan for the common (fully-compacted/COW)
    * case. */
  private[sources] def sqlRead(spark: SparkSession, root: String,
                               version: Int): DataFrame =
    // any non-data entry (MOR vector, pending schema action) needs
    // the union read path — the plain file index can neither anti
    // join nor normalize; compact() restores the indexed path
    if (manifestEntries(spark, root, version).exists(_.kind != "data"))
      read(spark, root, version)
    else readIndexed(spark, root, version)

  /** Retention report from [[expire]]. Counts are data DIRS (file
    * sets), not files — the manifest's unit of reference. */
  final case class ExpireReport(versionsExpired: Int, versionsKept: Int,
                                dirsRemoved: Int, dirsKept: Int)

  /** EXPIRE SNAPSHOTS — the explicitly destructive retention
    * operation time travel defers to: drop every published version
    * `< keepFrom`, then garbage-collect data file sets no surviving
    * manifest references (which also sweeps the unreferenced debris
    * of crashed or conflict-losing commits). Order is the safety
    * argument: dead MANIFESTS are deleted first, so a crash mid-way
    * leaves either (a) a still-fully-readable dead version or (b) a
    * version that is cleanly "not published" — never a published
    * manifest pointing at deleted data. Readers of surviving
    * versions are untouched: their manifests and every dir those
    * manifests list survive by construction. Scale: O(versions)
    * driver-side manifest reads + O(file sets) namespace ops; no
    * data is read or moved. */
  def expire(spark: SparkSession, root: String, keepFrom: Int): ExpireReport = {
    val vs = versions(spark, root)
    val (dead, live) = vs.partition(_ < keepFrom)
    require(live.nonEmpty,
      s"expire would drop every published version at $root (keepFrom=$keepFrom)")
    // a clustered rewrite's entries are SUBDIRS (data/rN-x/__rb=k);
    // matching on the top-level child keeps their parent alive
    val liveDirs = live.flatMap(manifestEntries(spark, root, _))
      .map(_.dir.split("/").take(2).mkString("/")).toSet
    val fs = fsOf(spark, root)
    dead.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/manifests/v$v"), true)
    }
    // crashed-commit manifest debris is never readable; sweep it too
    val mDir = new org.apache.hadoop.fs.Path(s"$root/manifests")
    if (fs.exists(mDir)) fs.listStatus(mDir).toSeq
      .map(_.getPath).filter(_.getName.startsWith("_tmp_"))
      .foreach(fs.delete(_, true))
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    val all = if (fs.exists(dataDir))
      fs.listStatus(dataDir).toSeq.map(_.getPath.getName) else Seq.empty
    val (kept, removed) = all.partition(d => liveDirs.contains(s"data/$d"))
    removed.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/data/$d"), true)
    }
    ExpireReport(dead.size, live.size, removed.size, kept.size)
  }

  /** MERGE (upsert) as a transactional commit — PARTITION-SCOPED
    * copy-on-write, the Delta/Iceberg COW model: rows of the CURRENT
    * version whose `key` appears in `updates` are replaced, all
    * other current rows carried, new keys inserted; the new version
    * is visible atomically or not at all and old versions stay
    * readable. Only file sets whose stats-key range intersects the
    * update batch's key envelope are read and rewritten — every
    * non-intersecting set is carried as a MANIFEST REFERENCE with
    * its stats and lineage intact (see [[mergeAs]]), so a small
    * upsert against a 100 TB table costs work proportional to the
    * touched partitions. The rewrite's anti-join builds on
    * `updates`' key projection — broadcastable whenever the update
    * batch is small, the common MERGE shape. Returns the committed
    * version id.
    *
    * Concurrency: the base version is resolved ONCE and pinned
    * through to the commit — if another writer publishes between the
    * merge's read and its rename, the rename targets an
    * already-taken version id and fails as a clean conflict
    * (re-merge from the new latest and retry). Re-resolving "latest"
    * at commit time instead would let the overwrite silently DROP
    * the concurrent commit's rows — the lost-update anomaly MERGE
    * exists to prevent. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            key: String): Int =
    mergeAs(spark, root, updates, key, latestVersion(spark, root))

  /** Write one delete-vector file set (distinct keys, single column
    * named `key`) and return its entry for `next`. Key min/max stats
    * ride the entry so [[materializeDeletes]] can scope by manifest
    * intersection alone. */
  private def writeDeleteVector(spark: SparkSession, root: String,
                                keys: DataFrame, key: String,
                                next: Int): Entry = {
    val dataRel =
      s"data/del$next-${java.util.UUID.randomUUID().toString.take(8)}"
    // the vector carries EVERY column of `keys` (one for the classic
    // keyed delete; the full referenced-column tuple for a
    // multi-column DML predicate — the anti join binds on all of
    // them); stats are recorded for `key` (the first/primary column)
    // and stamped with its NAME in key2, so materializeDeletes can
    // tell a same-column envelope from a foreign one
    keys.distinct().coalesce(1)
      .write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) =
      statsOf(spark, s"$root/$dataRel", Some(key))
    Entry(dataRel, next, nRows, minK, maxK, bloom, kind = "delete",
      key2 = Some(key))
  }

  /** MERGE-ON-READ DELETE — the Iceberg v2 / Delta deletion-vector
    * model: publish a new version whose manifest carries every prior
    * file set UNCHANGED plus one tiny DELETE VECTOR (the distinct
    * keys to drop). No data is read or rewritten — deleting a
    * thousand rows from a 100 TB table costs one key-list write and
    * a manifest rename; readers ([[read]]/[[readPruned]]/
    * [[readPoint]]) anti-join the vector against every OLDER data
    * set (tiny broadcast side). The read-side debt is intentional
    * and bounded: [[materializeDeletes]] folds vectors in during
    * scheduled maintenance, exactly the compact-small cadence. Old
    * versions stay readable with their rows intact — a MOR delete is
    * a commit, not an erasure ([[expire]] is the destructive op). */
  def deleteRows(spark: SparkSession, root: String, keys: DataFrame,
                 key: String): Int =
    deleteRowsKeyed(spark, root, keys.select(col(key)), key)

  /** TUPLE-KEYED MOR DELETE — [[deleteRows]] generalized to a
    * multi-column key: the vector carries EVERY column of `keys`, and
    * the read-side anti join binds on all of them — which is what
    * makes ANY deterministic, subquery-free DML predicate MOR-safe
    * (the full referenced-column tuple functionally determines the
    * match verdict, where a single column of a multi-column predicate
    * does not). `statsCol` (the first referenced column) gets the
    * vector's min/max envelope for [[materializeDeletes]] scoping. */
  def deleteRowsKeyed(spark: SparkSession, root: String, keys: DataFrame,
                      statsCol: String): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val next = base + 1
    val entry = writeDeleteVector(spark, root, keys, statsCol, next)
    publish(spark, root, next,
      manifestEntries(spark, root, base) :+ entry)
    next
  }

  /** MERGE-ON-READ UPSERT — constant-time MERGE: ONE commit carrying
    * a delete vector of the update batch's keys AND the update rows
    * as a new data set. The vector (addedIn = next) suppresses
    * matched rows in every OLDER set; the new set (also next) is NOT
    * older than the vector, so the replacement rows survive — the
    * strict `addedIn <` rule makes the pair atomic and ordered
    * without any data rewrite. This is the write path a CDC ingest
    * uses against a 100 TB table: cost per batch is the
    * batch, never the table ([[merge]]'s COW rewrite is the
    * read-optimized alternative; [[materializeDeletes]] converts one
    * into the other). */
  def upsertMor(spark: SparkSession, root: String, updates: DataFrame,
                key: String,
                vectorCols: Option[Seq[String]] = None): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val next = base + 1
    // vectorCols (the DML path's referenced-column tuple) generalizes
    // the suppress key the same way deleteRowsKeyed does; the default
    // stays the classic single-column upsert key
    val delEntry = writeDeleteVector(spark, root,
      updates.select(vectorCols.getOrElse(Seq(key)).map(col): _*), key, next)
    val dataRel =
      s"data/u$next-${java.util.UUID.randomUUID().toString.take(8)}"
    updates.write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) =
      statsOf(spark, s"$root/$dataRel", Some(key))
    publish(spark, root, next,
      manifestEntries(spark, root, base) :+ delEntry :+
        Entry(dataRel, next, nRows, minK, maxK, bloom))
    next
  }

  /** MATERIALIZE MERGE-ON-READ DELETES — the maintenance op that
    * converts read debt back into clean data files: rewrite ONLY the
    * data sets some delete vector CAN affect (vector younger than the
    * set AND key envelopes intersecting — a manifest-only decision
    * via the stats [[writeDeleteVector]] recorded; missing stats →
    * conservative rewrite), carry every unaffected set by reference,
    * drop the vectors. After it, the table is plain data again
    * (clones, COW merges and the Spark relation all require this
    * state). No-op without vectors — no version minted. */
  def materializeDeletes(spark: SparkSession, root: String,
                         key: String): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val entries = manifestEntries(spark, root, base)
    val (schemaActs, dels, datas) = partitionKinds(entries)
    if (dels.isEmpty) return base
    val (touched, carried) = datas.partition { e =>
      dels.filter(_.addedIn > e.addedIn).exists { d =>
        // the envelope skip is only SOUND when the vector's recorded
        // key column (Entry.key2, stamped by writeDeleteVector) IS
        // the column the data sets' min/max describe: a vector keyed
        // on a different column (a `DELETE WHERE quality < 3` against
        // doc_id-statted sets) compares unrelated ranges — a false
        // no-intersect verdict would CARRY the set, then drop the
        // vector, resurrecting the deleted rows. No recorded key, or
        // a different one ⇒ conservative rewrite.
        val sameCol = d.key2.exists(_.equalsIgnoreCase(key))
        (e.minKey, e.maxKey, d.minKey, d.maxKey) match {
          case (Some(elo), Some(ehi), Some(dlo), Some(dhi)) if sameCol =>
            ehi >= dlo && elo <= dhi
          case _ => true // unknown/foreign stats: might intersect
        }
      }
    }
    val next = base + 1
    val newEntries = if (touched.isEmpty) Seq.empty else {
      val dataRel =
        s"data/x$next-${java.util.UUID.randomUUID().toString.take(8)}"
      applyDeletes(spark, root, dels, touched, schemaActs)
        .write.parquet(s"$root/$dataRel")
      val (nRows, minK, maxK, bloom) =
        statsOf(spark, s"$root/$dataRel", Some(key))
      Seq(Entry(dataRel, next, nRows, minK, maxK, bloom))
    }
    // schema actions are CARRIED: the untouched raw sets still need
    // them at read time (the rewritten set is already normalized —
    // re-application is a no-op by idempotence)
    publish(spark, root, next, schemaActs ++ carried ++ newEntries)
    next
  }

  /** ROLLBACK — republish an older version's exact file sets as the
    * new latest (the Iceberg rollback semantic): METADATA-ONLY — no
    * data is read, copied or rewritten; the new manifest lists the
    * old version's entries verbatim (original `added_in` and stats
    * preserved), so the bad versions after `toVersion` simply stop
    * being latest while staying readable for forensics until
    * [[expire]]d. Because the rollback manifest references the old
    * file sets, a later expire keeps them live — rolling back then
    * expiring the bad era is safe by construction. Note for
    * [[changes]] consumers: a rollback ADDS no rows, so a changes
    * window ending at the rollback version contains only file sets
    * added inside the window (possibly none). Conflict-safe via the
    * version-id rename, like every commit. */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val entries = manifestEntries(spark, root, toVersion)
    require(entries.nonEmpty, s"version $toVersion not published at $root")
    val next = base + 1
    publish(spark, root, next, entries)
    next
  }

  /** Published file-set count of a version — the small-file health
    * metric [[compact]] exists to fix. */
  def numFileSets(spark: SparkSession, root: String, version: Int): Int =
    manifestEntries(spark, root, version).size

  /** COMPACT — rewrite the latest version's file sets into ONE set,
    * published as a new version (history stays readable; reclaim the
    * old sets later with [[expire]]). This is the maintenance answer
    * to append lineages accumulating a file set per commit:
    * a manifest of thousands of sets costs a driver-side read per
    * query and defeats set-level skipping (each tiny set has a wide
    * key range). Stats are recomputed over the rewrite when
    * `statsKey` is given. The base is PINNED ([[merge]]'s rule): a
    * commit racing the compaction surfaces as a conflict, never as
    * lost rows. Like merge it is copy-on-write over the full live
    * data — the 100 TB refinement is compacting only the smallest
    * sets (bin-packing), a manifest split this layout already
    * permits; documented, not needed at the current surface. */
  def compact(spark: SparkSession, root: String,
              statsKey: Option[String] = None): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    commitAs(spark, root, read(spark, root, base), Some(base),
      append = false, statsKey)
  }

  /** A pending schema action for [[alterSchema]]. */
  sealed trait SchemaAction { private[sources] def encoded: String }
  final case class DropColumn(name: String) extends SchemaAction {
    private[sources] def encoded = s"drop:$name"
  }
  final case class RenameColumn(from: String, to: String)
      extends SchemaAction {
    private[sources] def encoded = s"rename:$from:$to"
  }

  /** METADATA-ONLY DROP / RENAME COLUMN — one manifest commit, no
    * data read or rewritten (the Iceberg schema-evolution semantic;
    * [[applySchemaActions]] documents how readers normalize each file
    * set through the pending actions and why application is
    * idempotent and per-set-gated on `addedIn`). Column names are
    * resolved case-insensitively against the CURRENT resolved schema;
    * drop of a missing column, rename of a missing column, or rename
    * onto an existing one all fail loudly here rather than publishing
    * an action that could never bind. REFUSED over live MOR delete
    * vectors: the read path applies vectors after normalization, so
    * every live vector's key must name the post-action schema — run
    * [[materializeDeletes]] first (same fence as clone/COW-merge).
    * Time travel is untouched: older versions' manifests don't carry
    * the action, so they read back under their original schema.
    * Colons are the action encoding's separator and parquet column
    * names cannot contain them in this store's SQL surface; rejected
    * defensively anyway. */
  def alterSchema(spark: SparkSession, root: String,
                  action: SchemaAction): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val entries = manifestEntries(spark, root, base)
    require(!entries.exists(_.kind == "delete"),
      s"cannot alter schema over live merge-on-read deletes at $root; " +
        "run materializeDeletes first")
    val cur = read(spark, root, base).schema.fieldNames
    def exists(c: String) = cur.exists(_.equalsIgnoreCase(c))
    action match {
      case DropColumn(c) =>
        require(!c.contains(":"), s"illegal column name '$c'")
        require(exists(c), s"cannot DROP COLUMN $c: not in schema " +
          cur.mkString("(", ", ", ")"))
        require(cur.length > 1, s"cannot DROP COLUMN $c: last column")
      case RenameColumn(from, to) =>
        require(!from.contains(":") && !to.contains(":"),
          s"illegal column name '$from'/'$to'")
        require(exists(from), s"cannot RENAME COLUMN $from: not in " +
          "schema " + cur.mkString("(", ", ", ")"))
        require(!exists(to),
          s"cannot RENAME COLUMN $from TO $to: $to already exists")
    }
    val next = base + 1
    publish(spark, root, next, entries :+
      Entry(action.encoded, next, 0L, None, None, None, kind = "schema"))
    next
  }

  /** BIN-PACKED COMPACTION — the 100 TB refinement [[compact]]'s doc
    * names (Iceberg's binpack rewrite): rewrite ONLY the file sets at
    * or under `smallRows` rows into one set, carrying every larger
    * set by reference with stats and `added_in` lineage intact — the
    * small-file problem is the tail of tiny append commits,
    * and rewriting a 100 TB table's big healthy sets to fix it is the
    * bug. Fewer than two small sets → nothing to pack, NO new version
    * (returns the current one — a maintenance job that runs on a
    * schedule must be a no-op when there is no work, not a version
    * per invocation). Stats for the packed set are recomputed when
    * `statsKey` is given, so skipping keeps working across
    * compactions. Pinned-base conflict safety as everywhere. */
  def compactSmall(spark: SparkSession, root: String, smallRows: Long,
                   statsKey: Option[String] = None): Int = {
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val entries = manifestEntries(spark, root, base)
    // delete vectors are carried, never packed into a data set
    val (small, big) = entries.partition(e =>
      e.kind == "data" && e.nRows <= smallRows)
    if (small.size < 2) return base
    val next = base + 1
    val dataRel =
      s"data/c$next-${java.util.UUID.randomUUID().toString.take(8)}"
    // pack THROUGH any live MOR vectors: the packed set's fresh
    // added_in puts it AFTER every vector, so rows a vector suppressed
    // would silently resurrect if packed raw; reading the small sets
    // delete-applied keeps content invariant (vectors stay live for
    // the carried big sets, where they still apply)
    val dels = entries.filter(_.kind == "delete")
    applyDeletes(spark, root, dels, small,
      entries.filter(_.kind == "schema")).write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) =
      statsOf(spark, s"$root/$dataRel", statsKey)
    publish(spark, root, next,
      big :+ Entry(dataRel, next, nRows, minK, maxK, bloom))
    next
  }

  /** CLUSTERED REWRITE — the OPTIMIZE/Z-ORDER-style maintenance op
    * (Delta `OPTIMIZE … ZORDER BY`, Iceberg's sort-based rewrite):
    * rewrite the latest version's live rows into `numSets` file sets
    * PARTITIONED BY DISJOINT KEY RANGES, so min/max set-skipping
    * becomes selective again. Append lineages produce sets
    * that each span the whole key range (every commit carries a
    * cross-section of keys), which makes every range query read
    * every set — stats exist but prune nothing. After the rewrite a
    * range predicate intersects ~(span/numSets)⁻¹ of the sets.
    *
    * One data pass: the range bucket is computed in-plan (equal-width
    * over the exact min/max — deterministic arithmetic, no sampled
    * boundaries) and `partitionBy` fans the write out to one subdir
    * per bucket; each subdir then becomes its own manifest entry with
    * fresh tight stats (numSets tiny stats jobs). Published as a new
    * version — history stays readable, pinned-base conflict safety as
    * everywhere. Production refinement at 100 TB: interleave multiple
    * keys' bits (true Z-order — `q_zorder_layout` demonstrates the
    * curve) and rewrite only the worst-clustered sets; the manifest
    * layout already permits both. */
  def rewriteSorted(spark: SparkSession, root: String, statsKey: String,
                    numSets: Int): Int = {
    require(numSets >= 2, s"numSets must be >= 2, got $numSets")
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val df = read(spark, root, base)
    val r = df.agg(min(col(statsKey)).cast("long"),
      max(col(statsKey)).cast("long")).collect()(0)
    require(!r.isNullAt(0), s"$statsKey has no non-null keys to cluster on")
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = math.max(1L, (hi - lo) / numSets + 1)
    val next = base + 1
    val dataRel =
      s"data/r$next-${java.util.UUID.randomUUID().toString.take(8)}"
    // NULL keys (or keys the long cast nulls out) cluster into bucket
    // 0: a null __rb would land in the __HIVE_DEFAULT_PARTITION__
    // subdir, whose name breaks the bucket sort below and whose rows
    // a range reader would silently orphan. min/max/bloom stats
    // ignore nulls, and a SQL range predicate never matches a NULL
    // key, so bucket 0's stats stay tight for the rows that matter.
    df.withColumn("__rb",
        coalesce(
          least(((col(statsKey).cast("long") - lo) / width).cast("long"),
            lit(numSets - 1L)),
          lit(0L)))
      .write.partitionBy("__rb").parquet(s"$root/$dataRel")
    val fs = fsOf(spark, root)
    val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dataRel"))
      .toSeq.map(_.getPath.getName).filter(_.startsWith("__rb="))
      .sortBy(_.stripPrefix("__rb=").toLong)
    val entries = subdirs.map { sub =>
      val (nRows, minK, maxK, bloom) =
        statsOf(spark, s"$root/$dataRel/$sub", Some(statsKey))
      Entry(s"$dataRel/$sub", next, nRows, minK, maxK, bloom)
    }
    publish(spark, root, next, entries)
    next
  }

  /** Z-ORDER REWRITE — the multi-dimensional OPTIMIZE (Delta
    * `OPTIMIZE … ZORDER BY (x, y)`): rewrite the latest version's
    * live rows into `numSets` file sets clustered by the MORTON
    * INTERLEAVE of both keys' quantized bits, and publish each set
    * with min/max stats on BOTH dimensions. A 1-D sort
    * ([[rewriteSorted]]) makes sets tight on one key and useless on
    * every other — each x-stripe spans the full y range, so a y (or
    * box) predicate reads everything the x predicate kept. The
    * Z-curve keeps rows close in BOTH keys inside the same set, so
    * both min/max envelopes stay tight simultaneously and a 2-D box
    * read ([[readPrunedBox]]) prunes to ~the sets whose grid cell the
    * box overlaps — the Delta/Iceberg model exactly: the curve is a
    * WRITE-time layout device, read-time skipping needs only the
    * per-set per-column stats in the manifest.
    *
    * One data pass, like [[rewriteSorted]]: both quantizations and
    * the interleave are in-plan arithmetic over exact min/max (no
    * sampled boundaries), `partitionBy` fans out one subdir per
    * non-empty grid cell, then one tiny stats job per subdir. NULLs
    * in either key quantize to cell 0 (same rationale as
    * [[rewriteSorted]]: range predicates never match NULL, stats
    * ignore them). `numSets` must be a power of 4 (a g×g grid with
    * g = √numSets cells per dimension). */
  def rewriteZorder(spark: SparkSession, root: String, keyX: String,
                    keyY: String, numSets: Int): Int = {
    val bitsPerDim = (math.log(numSets.toDouble) / math.log(4.0)).round.toInt
    require(numSets == (1 << (2 * bitsPerDim)) && bitsPerDim >= 1,
      s"numSets must be a power of 4 >= 4, got $numSets")
    val g = 1 << bitsPerDim
    val base = latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(s"no versions at $root"))
    val df = read(spark, root, base)
    val r = df.agg(min(col(keyX)).cast("long"), max(col(keyX)).cast("long"),
      min(col(keyY)).cast("long"), max(col(keyY)).cast("long")).collect()(0)
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"$keyX/$keyY need non-null keys to cluster on")
    val (loX, hiX, loY, hiY) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    def quant(k: String, lo: Long, hi: Long) = {
      val w = math.max(1L, (hi - lo) / g + 1)
      coalesce(
        least(((col(k).cast("long") - lo) / w).cast("long"), lit(g - 1L)),
        lit(0L))
    }
    val qx = quant(keyX, loX, hiX)
    val qy = quant(keyY, loY, hiY)
    // Morton interleave of the two cell coordinates: x bits at even
    // positions, y at odd — a static unroll over bitsPerDim ≤ 4
    val zCell = (0 until bitsPerDim).map { i =>
      (shiftright(qx, i) % 2) * lit(1L << (2 * i)) +
        (shiftright(qy, i) % 2) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    val next = base + 1
    val dataRel =
      s"data/z$next-${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn("__rb", zCell)
      .write.partitionBy("__rb").parquet(s"$root/$dataRel")
    val fs = fsOf(spark, root)
    val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dataRel"))
      .toSeq.map(_.getPath.getName).filter(_.startsWith("__rb="))
      .sortBy(_.stripPrefix("__rb=").toLong)
    val entries = subdirs.map { sub =>
      val (nRows, minK, maxK, bloom) =
        statsOf(spark, s"$root/$dataRel/$sub", Some(keyX))
      val r2 = spark.read.parquet(s"$root/$dataRel/$sub")
        .agg(min(col(keyY)).cast("long"), max(col(keyY)).cast("long"))
        .collect()(0)
      Entry(s"$dataRel/$sub", next, nRows, minK, maxK, bloom,
        key2 = Some(keyY),
        minKey2 = if (r2.isNullAt(0)) None else Some(r2.getLong(0)),
        maxKey2 = if (r2.isNullAt(1)) None else Some(r2.getLong(1)))
    }
    publish(spark, root, next, entries)
    next
  }

  /** A 2-D box-pruned read: the data frame, sets read/total, and the
    * pre-filter rows the kept sets hold (the IO the prune did NOT
    * save — the honest cost metric, since two layouts can both read
    * "1 set" of very different sizes). */
  final case class PrunedBox(df: DataFrame, dirsRead: Int, dirsTotal: Int,
                             rowsScanned: Long)

  /** 2-D BOX DATA SKIPPING — prune file sets against a rectangle
    * `[xLo,xHi] × [yLo,yHi]` using the per-set min/max of BOTH keys.
    * The x test uses the primary stats key ([[readPruned]]'s rule);
    * the y test uses the SECONDARY stats a [[rewriteZorder]] entry
    * carries, and is CONSERVATIVE in exactly the same way: a set
    * without y stats, or whose y stats were recorded for a different
    * column, cannot be y-pruned and is read — skipping degrades to
    * reading, never to wrong pruning (1-D sorted or pre-stats
    * lineages thus fall back to x-only pruning through this same
    * API). Driver-side manifest walk, no data IO; callers apply the
    * exact box predicate to the returned frame as usual. */
  def readPrunedBox(spark: SparkSession, root: String, version: Int,
                    keyX: String, xLo: Long, xHi: Long,
                    keyY: String, yLo: Long, yHi: Long): PrunedBox = {
    val all = manifestEntries(spark, root, version)
    require(all.nonEmpty, s"version $version not published at $root")
    val (schema, dels, dirs) = partitionKinds(all)
    val hit = dirs.filter { e =>
      val xHit = (e.minKey, e.maxKey) match {
        case (Some(mn), Some(mx)) => mx >= xLo && mn <= xHi
        case _ => true // unknown stats: must read
      }
      val yHit = (e.key2, e.minKey2, e.maxKey2) match {
        // case-insensitive, matching SnapshotFileIndex.prune's
        // convention — a differently-cased caller column must not
        // silently degrade the skip to x-only
        case (Some(k2), Some(mn), Some(mx)) if k2.equalsIgnoreCase(keyY) =>
          mx >= yLo && mn <= yHi
        case _ => true // no stats for THIS y column: must read
      }
      xHit && yHit
    }
    val df = if (hit.isEmpty) unionSets(spark, root, dirs, schema).limit(0)
             else applyDeletes(spark, root, dels, hit, schema)
    PrunedBox(df, hit.size, dirs.size, hit.map(_.nRows).sum)
  }

  /** Vacuum report: data dirs removed (crash/conflict debris) vs
    * kept (referenced by some live manifest). */
  final case class VacuumReport(dirsRemoved: Int, dirsKept: Int)

  /** VACUUM — garbage-collect data file sets NO live manifest
    * references, without expiring any version (the non-destructive
    * complement of [[expire]]: retention deletes history, vacuum only
    * sweeps the debris of crashed or conflict-losing commits, which
    * wrote their attempt-unique data dir but never published). Every
    * dir any published manifest lists survives by construction —
    * but an IN-FLIGHT commit (data dir written, manifest rename not
    * yet landed) is
    * indistinguishable from crash debris, so vacuum with the default
    * `olderThanMs = 0` requires the same ingest fence as
    * [[materializeDeletes]]: no concurrent writers. To schedule
    * vacuum alongside live ingest, pass an `olderThanMs` larger than
    * any plausible write-to-publish window (Iceberg's
    * `older_than` convention) — dirs modified more recently are
    * kept, so an in-flight commit's dir survives to be published.
    * Also sweeps `_tmp_` manifest write-debris (same age gate).
    * O(file sets) namespace ops, no data read. */
  def vacuum(spark: SparkSession, root: String,
             olderThanMs: Long = 0L): VacuumReport = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val liveDirs = versions(spark, root)
      .flatMap(manifestEntries(spark, root, _)).map(_.dir).toSet
    // a clustered rewrite's entries are SUBDIRS (data/rN-x/__rb=k);
    // their parent dir must survive too
    val liveTop = liveDirs.map(_.split("/").take(2).mkString("/"))
    val fs = fsOf(spark, root)
    val mDir = new org.apache.hadoop.fs.Path(s"$root/manifests")
    if (fs.exists(mDir)) fs.listStatus(mDir).toSeq
      .filter(st => st.getPath.getName.startsWith("_tmp_") &&
        st.getModificationTime <= cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val dataDir = new org.apache.hadoop.fs.Path(s"$root/data")
    val all = if (fs.exists(dataDir))
      fs.listStatus(dataDir).toSeq else Seq.empty
    val (kept, removed) = all.partition(st =>
      liveTop.contains(s"data/${st.getPath.getName}") ||
        st.getModificationTime > cutoff)
    removed.foreach(st => fs.delete(st.getPath, true))
    VacuumReport(removed.size, kept.size)
  }

  /** Merge with the base version PINNED — the race-window primitive
    * ([[commitAs]]'s pattern), exposed for the conflict spec.
    *
    * PARTITION-SCOPED COW (the 100 TB refinement SURVEY §2.3 names):
    * only file sets whose stats-key range INTERSECTS the update
    * batch's key envelope are read and rewritten; every other set is
    * carried BY REFERENCE — same dir, same stats, same `added_in`
    * lineage — so a small upsert against a huge table costs work
    * proportional to the touched partitions, not the corpus, and
    * `changes()` windows that predate the merge keep reporting the
    * untouched sets' rows correctly. A set without key stats MIGHT
    * hold matched keys, so it is rewritten conservatively (skipping
    * degrades to reading — the [[readPruned]] rule); the same
    * fallback covers a non-numeric envelope. The rewritten set
    * publishes WITH fresh stats on the merge key, so the next merge
    * can scope against it. */
  private[graft] def mergeAs(spark: SparkSession, root: String,
                             updates: DataFrame, key: String,
                             base: Option[Int]): Int = {
    val baseV = base.getOrElse(
      throw new IllegalStateException(s"no versions at $root"))
    val (entries, touchedDirs, _, entry) =
      mergeWrite(spark, root, updates, key, baseV)
    val next = baseV + 1
    publish(spark, root, next,
      entries.filterNot(e => touchedDirs.contains(e.dir))
        :+ entry.copy(addedIn = next))
    next
  }

  /** The merge's scope-and-rewrite step of the pinned-base
    * [[mergeAs]]: resolve
    * the base manifest, scope to intersecting sets, write the
    * rewritten set ONCE (unique dir), stat it on the merge key.
    * Returns (base entries, touched dirs, update key envelope —
    * None when un-scopable, new entry with a provisional
    * `addedIn`). */
  private[sources] def mergeWrite(spark: SparkSession, root: String,
                         updates: DataFrame, key: String, baseV: Int)
      : (Seq[Entry], Set[String], Option[(Long, Long)], Entry) = {
    val entries = manifestEntries(spark, root, baseV)
    require(entries.nonEmpty, s"version $baseV not published at $root")
    // COW merge reads touched sets RAW — live MOR deletes would let
    // deleted rows resurrect into the rewritten set, and pending
    // schema actions would union old-named raw rows with new-named
    // updates
    require(entries.forall(_.kind == "data"),
      s"cannot COW-merge a table with live merge-on-read deletes at $root; " +
        "run materializeDeletes first (or use upsertMor)")
    // the update batch's key envelope — one tiny agg over the SMALL
    // side (the MERGE shape); null min ⇒ empty batch or un-castable
    // key ⇒ conservative whole-table rewrite (the old behavior)
    val envRow = updates.agg(min(col(key)).cast("long"),
      max(col(key)).cast("long")).collect()(0)
    val env = if (envRow.isNullAt(0)) None
              else Some((envRow.getLong(0), envRow.getLong(1)))
    val (touched, _) = env match {
      case None => (entries, Seq.empty[Entry])
      case Some((uMin, uMax)) =>
        entries.partition(e => (e.minKey, e.maxKey) match {
          case (Some(lo), Some(hi)) => hi >= uMin && lo <= uMax
          case _ => true // unknown stats: might hold a matched key
        })
    }
    val merged =
      if (touched.isEmpty) updates // pure insert: no set can match
      else unionSets(spark, root, touched)
        .join(updates.select(updates(key)).distinct(), Seq(key), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
    val dataRel =
      s"data/m${baseV + 1}-${java.util.UUID.randomUUID().toString.take(8)}"
    merged.write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) =
      statsOf(spark, s"$root/$dataRel", Some(key))
    (entries, touched.map(_.dir).toSet, env,
      Entry(dataRel, baseV + 1, nRows, minK, maxK, bloom))
  }
}
