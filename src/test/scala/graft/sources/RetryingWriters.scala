package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import SnapshotTable._

/** Optimistic-concurrency writers that retry a lost version-id race,
  * used by SnapshotSpec and PropertySpec to race [[SnapshotTable]]'s
  * own writers. Each takes the base version it resolved before the
  * race, so a spec can make it lose deterministically. */
object RetryingWriters {

  /** OPTIMISTIC APPEND WITH BOUNDED RETRY — the Iceberg fast-append
    * model: appends COMMUTE with every concurrent commit, so losing
    * the version-id race never invalidates the work — the data set
    * is written ONCE to its attempt-unique dir, and only the
    * manifest publish retries against the new latest (which now
    * carries the concurrent writer's sets). Two writers appending
    * disjoint batches both succeed, in whichever order the renames
    * land. Exhausting `maxRetries` (a pathologically hot table)
    * surfaces the last conflict. */
  def commitRetryAs(spark: SparkSession, root: String,
                    df: DataFrame, base: Option[Int],
                    statsKey: Option[String],
                    maxRetries: Int): Int = {
    val first = base.getOrElse(0) + 1
    val dataRel =
      s"data/a$first-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.parquet(s"$root/$dataRel")
    val (nRows, minK, maxK, bloom) = statsOf(spark, s"$root/$dataRel", statsKey)
    var cur = base
    var attempt = 0
    while (true) {
      val next = cur.getOrElse(0) + 1
      val carried = cur.toSeq.flatMap(manifestEntries(spark, root, _))
      try {
        publish(spark, root, next,
          carried :+ Entry(dataRel, next, nRows, minK, maxK, bloom))
        return next
      } catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          cur = latestVersion(spark, root) // re-resolve and re-carry
      }
    }
    -1 // unreachable
  }

  /** MERGE WITH CONFLICT VALIDATION — the Iceberg optimistic model
    * for the non-commuting commit: on losing the version-id race the
    * merge does NOT blindly retry (a concurrent writer may have
    * changed rows this merge already rewrote — the lost-update
    * anomaly). Instead it validates against the new latest manifest:
    * (a) every file set this merge read and rewrote must still be
    * referenced — a concurrent compact/overwrite/overlapping-merge
    * that replaced one means the rewrite is stale; and (b) no
    * concurrently-ADDED set's key range may intersect the update
    * envelope — such rows would dodge the replace and duplicate
    * keys. DISJOINT concurrent work (appends or merges over other
    * key ranges) passes validation and the merge republishes against
    * the new latest — its rewrite untouched, written once — so both
    * writers succeed. Failing validation surfaces the conflict for a
    * full re-merge from the new latest. */
  def mergeRetryAs(spark: SparkSession, root: String,
                   updates: DataFrame, key: String,
                   base: Option[Int], maxRetries: Int): Int = {
    val baseV = base.getOrElse(
      throw new IllegalStateException(s"no versions at $root"))
    val (baseEntries, touchedDirs, env, entry) =
      mergeWrite(spark, root, updates, key, baseV)
    var entries = baseEntries
    var cur = baseV
    var attempt = 0
    while (true) {
      val next = cur + 1
      try {
        publish(spark, root, next,
          entries.filterNot(e => touchedDirs.contains(e.dir))
            :+ entry.copy(addedIn = next))
        return next
      } catch {
        case e: IllegalStateException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          val newCur = latestVersion(spark, root).getOrElse(cur)
          val newEntries = manifestEntries(spark, root, newCur)
          val newDirs = newEntries.map(_.dir).toSet
          if (!touchedDirs.subsetOf(newDirs))
            throw new IllegalStateException(
              s"commit conflict: a concurrent writer replaced file sets " +
                s"this merge rewrote at $root; re-merge from the latest " +
                "version and retry")
          val added = newEntries.filterNot(n =>
            entries.exists(_.dir == n.dir))
          // A concurrently-added MOR delete vector ALWAYS conflicts,
          // whatever its key range: the vector's keys can sit inside a
          // TOUCHED set's wider range while being disjoint from the
          // update envelope, and republishing this merge's raw-read
          // rewrite with addedIn=next (newer than the vector) would
          // resurrect the concurrently-deleted rows — the same
          // lost-delete anomaly mergeWrite's live-vector require
          // refuses at base.
          if (added.exists(_.kind == "delete"))
            throw new IllegalStateException(
              s"commit conflict: a concurrent commit added a merge-on-read " +
                s"delete vector at $root; materialize deletes and re-merge " +
                "from the latest version")
          val addedConflicts = env match {
            case None => added.nonEmpty // un-scopable: any add conflicts
            case Some((uMin, uMax)) => added.exists(a =>
              (a.minKey, a.maxKey) match {
                case (Some(lo), Some(hi)) => hi >= uMin && lo <= uMax
                case _ => true // unknown stats: cannot prove disjoint
              })
          }
          if (addedConflicts)
            throw new IllegalStateException(
              s"commit conflict: a concurrent commit added rows inside " +
                s"this merge's key range at $root; re-merge from the " +
                "latest version and retry")
          entries = newEntries
          cur = newCur
      }
    }
    -1 // unreachable
  }
}
