package graft

import graft.sources.{RetryingWriters, SnapshotTable}

/** The Iceberg-lite snapshot store's transactional guarantees —
  * isolation, atomic publish, commit conflicts, time travel — none of
  * which the closed-form oracle can see (it replays the VALUES, not
  * the concurrency posture). */
class SnapshotSpec extends SparkSessionSpec {

  import spark.implicits._

  private def tmpRoot() = java.nio.file.Files
    .createTempDirectory("graft_snap").toString + "/tbl"

  test("commits version linearly; time travel pins every version") {
    val root = tmpRoot()
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val d2 = Seq((3L, "c")).toDF("doc_id", "text")
    assert(SnapshotTable.commit(spark, root, d1) == 1)
    assert(SnapshotTable.commit(spark, root, d2) == 2)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(SnapshotTable.read(spark, root, 1)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(SnapshotTable.read(spark, root, 2)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite commit: v3 references ONLY its own file set, v1/v2
    // stay readable (time travel is never destructive)
    assert(SnapshotTable.commit(spark, root,
      Seq((9L, "z")).toDF("doc_id", "text"), append = false) == 3)
    assert(SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    assert(SnapshotTable.read(spark, root, 1).count() == 2)
    assert(SnapshotTable.readLatest(spark, root).count() == 1)
  }

  test("snapshot isolation: an in-flight reader never sees later commits") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"))
    // reader resolves the manifest NOW — its scan set is fixed
    val pinned = SnapshotTable.read(spark, root, 1)
    SnapshotTable.commit(spark, root,
      Seq((2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root,
      Seq((3L, "c")).toDF("doc_id", "text"))
    assert(pinned.as[(Long, String)].collect().toSet == Set((1L, "a")),
      "later commits leaked into a resolved reader")
    assert(SnapshotTable.readLatest(spark, root).count() == 3)
  }

  test("commit conflict surfaces as a clean retryable error") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"))
    // the real race: writers A and B both resolve latest = v1; B
    // publishes v2 first; A's rename to the same target must fail
    // WITHOUT corrupting published state
    val base = SnapshotTable.latestVersion(spark, root)
    SnapshotTable.commitAs(spark, root,
      Seq((2L, "b")).toDF("doc_id", "text"), base, append = true) // B wins
    val e = intercept[IllegalStateException](
      SnapshotTable.commitAs(spark, root,
        Seq((2L, "x")).toDF("doc_id", "text"), base, append = true))
    assert(e.getMessage.contains("commit conflict"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // B's version is intact, v1 still reads, the loser left no
    // published manifest — a retry from the NEW latest succeeds
    assert(SnapshotTable.read(spark, root, 2)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(SnapshotTable.read(spark, root, 1).count() == 1)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/manifests/_tmp_v2")))
    assert(SnapshotTable.commit(spark, root,
      Seq((3L, "y")).toDF("doc_id", "text")) == 3)
  }

  test("additive schema evolution: per-version schema, null-fill on read") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root,
      Seq((3L, "c", 10L)).toDF("doc_id", "text", "q_len"))
    // v1 keeps its ORIGINAL schema — evolution is not retroactive
    assert(SnapshotTable.read(spark, root, 1).columns.toSeq ==
      Seq("doc_id", "text"))
    // v2 resolves the union schema; the pre-evolution set null-fills
    val v2 = SnapshotTable.read(spark, root, 2)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "q_len"))
    assert(v2.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(10L))))
  }

  test("expire drops old versions and GCs exactly the unreferenced file sets") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root,
      Seq((9L, "z")).toDF("doc_id", "text"), append = false)
    // crashed-commit debris in both namespaces must be swept too
    Seq((99L, "x")).toDF("doc_id", "text").write.parquet(s"$root/data/s99-dead")
    Seq(("data/s99-dead", 99, 1L)).toDF("dir", "added_in", "n_rows")
      .coalesce(1).write.parquet(s"$root/manifests/_tmp_v99")
    val rep = SnapshotTable.expire(spark, root, keepFrom = 3)
    assert(rep == SnapshotTable.ExpireReport(
      versionsExpired = 2, versionsKept = 1, dirsRemoved = 3, dirsKept = 1))
    assert(SnapshotTable.versions(spark, root) == Seq(3))
    // the surviving version still reads — its file set was never a
    // GC candidate
    assert(SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    intercept[Exception](SnapshotTable.read(spark, root, 1).collect())
    // expiring everything is refused — the table must stay readable
    intercept[IllegalArgumentException](
      SnapshotTable.expire(spark, root, keepFrom = 99))
    // append commits resume from the surviving lineage
    assert(SnapshotTable.commit(spark, root,
      Seq((10L, "w")).toDF("doc_id", "text")) == 4)
    assert(SnapshotTable.readLatest(spark, root).count() == 2)
  }

  test("shallow clone: zero-copy, isolated from source commits, appendable") {
    val src = tmpRoot()
    val dst = tmpRoot()
    SnapshotTable.commit(spark, src,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    assert(SnapshotTable.cloneFrom(spark, src, dst) == 1)
    // zero-copy: the clone root holds NO data files of its own
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "clone must not copy data")
    assert(SnapshotTable.readLatest(spark, dst).count() == 2)
    // later SOURCE commits are invisible to the clone
    SnapshotTable.commit(spark, src, Seq((3L, "c")).toDF("doc_id", "text"))
    assert(SnapshotTable.readLatest(spark, dst).count() == 2)
    assert(SnapshotTable.readLatest(spark, src).count() == 3)
    // the clone is independently appendable; the source doesn't see it
    SnapshotTable.commit(spark, dst, Seq((9L, "z")).toDF("doc_id", "text"))
    assert(SnapshotTable.readLatest(spark, dst).count() == 3)
    assert(SnapshotTable.readLatest(spark, src).count() == 3)
    // expire on the CLONE never touches the source's file sets
    SnapshotTable.expire(spark, dst, keepFrom = 2)
    assert(SnapshotTable.readLatest(spark, src).count() == 3)
    assert(SnapshotTable.readLatest(spark, dst).count() == 3,
      "v2's manifest carries the absolute source refs + the local set")
  }

  test("clone lineage reset: multi-commit source never leaks into the " +
       "clone's changes() windows") {
    val src = tmpRoot()
    val dst = tmpRoot()
    // THREE source commits — the clone carries three file sets with
    // distinct source added_in values (1, 2, 3); without the reset
    // those survive into the clone's manifest and changes() windows
    // over the clone misreport carried rows as in-window additions
    // (the r10 regression this test pins)
    SnapshotTable.commit(spark, src, Seq((1L, "a")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, src, Seq((2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, src, Seq((3L, "c")).toDF("doc_id", "text"))
    assert(SnapshotTable.cloneFrom(spark, src, dst) == 1)
    // the clone's v1 reads all carried rows
    assert(SnapshotTable.read(spark, dst, 1)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // post-clone append becomes the clone's v2
    assert(SnapshotTable.commit(spark, dst,
      Seq((9L, "z")).toDF("doc_id", "text")) == 2)
    // changes over (1, 2] reports ONLY the appended rows — a carried
    // set keeping source added_in=2 would leak doc_id=2 here
    assert(SnapshotTable.changes(spark, dst, 1, 2)
      .select("doc_id").as[Long].collect().toSet == Set(9L),
      "carried source sets must not appear as clone-window changes")
    // and the full table still reads carried + appended together
    assert(SnapshotTable.readLatest(spark, dst)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 9L))
  }

  test("changes scan returns exactly the rows added in the window") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root, Seq((3L, "c")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root, Seq((4L, "d")).toDF("doc_id", "text"))
    def ids(from: Int, to: Int) = SnapshotTable.changes(spark, root, from, to)
      .select("doc_id").as[Long].collect().toSet
    assert(ids(1, 3) == Set(3L, 4L), "window (1,3] must skip v1's set")
    assert(ids(2, 3) == Set(4L))
    assert(ids(1, 2) == Set(3L),
      "resolved from v2's manifest — v3's set must not leak")
    intercept[IllegalArgumentException](
      SnapshotTable.changes(spark, root, 3, 3))
  }

  test("min/max skipping prunes file sets; unknown stats always read") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (5L, "b")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      Seq((10L, "c"), (20L, "d")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    // range hits only the second set
    val hi = SnapshotTable.readPruned(spark, root, 2, 8L, 99L)
    assert((hi.dirsRead, hi.dirsTotal) == (1, 2))
    assert(hi.df.select("doc_id").as[Long].collect().toSet == Set(10L, 20L))
    // boundary overlap: [5,10] touches both sets
    val mid = SnapshotTable.readPruned(spark, root, 2, 5L, 10L)
    assert(mid.dirsRead == 2)
    // range missing every set yields an empty frame with the schema
    val none = SnapshotTable.readPruned(spark, root, 2, 50L, 60L)
    assert(none.dirsRead == 0 && none.df.count() == 0)
    assert(none.df.columns.toSeq == Seq("doc_id", "text"))
    // a set committed WITHOUT stats is conservatively always read
    SnapshotTable.commit(spark, root, Seq((100L, "e")).toDF("doc_id", "text"))
    val cons = SnapshotTable.readPruned(spark, root, 3, 8L, 11L)
    assert(cons.dirsRead == 2, "unknown-stats set must be read")
    assert(cons.df.where($"doc_id" >= 8L && $"doc_id" <= 11L)
      .select("doc_id").as[Long].collect().toSet == Set(10L))
  }

  test("bloom point skipping prunes interleaved sets; never a false negative") {
    val root = tmpRoot()
    // interleaved keys: both sets span [1,10] — ranges prune nothing
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (3L, "b"), (9L, "c")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      Seq((2L, "d"), (4L, "e"), (10L, "f")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    // range-only pruning must keep both…
    assert(SnapshotTable.readPruned(spark, root, 2, 3L, 3L).dirsRead == 2)
    // …the bloom cuts the point lookup to the owning set
    val p = SnapshotTable.readPoint(spark, root, 2, 3L)
    assert((p.dirsRead, p.dirsTotal) == (1, 2))
    assert(p.df.where($"doc_id" === 3L).count() == 1)
    // no false negatives: every committed key finds its row
    for (k <- Seq(1L, 2L, 3L, 4L, 9L, 10L))
      assert(SnapshotTable.readPoint(spark, root, 2, k)
        .df.where($"doc_id" === k).count() == 1, s"key $k lost by bloom")
    // a key outside every range prunes to zero sets
    assert(SnapshotTable.readPoint(spark, root, 2, 77L).dirsRead == 0)
    // a statsless set is conservatively read
    SnapshotTable.commit(spark, root, Seq((50L, "g")).toDF("doc_id", "text"))
    val cons = SnapshotTable.readPoint(spark, root, 3, 3L)
    assert(cons.dirsRead == 2, "unknown-stats set must be read")
  }

  test("merge replaces matched keys, inserts new ones, copy-on-write") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"))
    val v = SnapshotTable.merge(spark, root,
      Seq((2L, "B!"), (4L, "d")).toDF("doc_id", "text"), "doc_id")
    assert(v == 2)
    // matched key REPLACED (not duplicated), new key inserted,
    // unmatched rows carried
    assert(SnapshotTable.read(spark, root, 2)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B!"), (3L, "c"), (4L, "d")))
    // copy-on-write: the pre-merge version is untouched
    assert(SnapshotTable.read(spark, root, 1)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("partition-scoped merge: non-intersecting sets keep their " +
       "original paths; only touched ranges rewrite") {
    val root = tmpRoot()
    // three stats-keyed sets with disjoint key ranges
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (5L, "b")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      Seq((10L, "c"), (15L, "d")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      Seq((20L, "e"), (25L, "f")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    def dirsOf(v: Int) = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      spark.read.parquet(s"$root/manifests/v$v")
        .select("dir", "added_in").as[(String, Int)].collect().toSet
    }
    val before = dirsOf(3)
    // update touches ONLY the middle range [10, 15]
    val v = SnapshotTable.merge(spark, root,
      Seq((10L, "C!"), (12L, "new")).toDF("doc_id", "text"), "doc_id")
    assert(v == 4)
    val after = dirsOf(4)
    // sets 1 and 3 carried BY REFERENCE: same dir, same added_in
    val untouched = before.filter(e => e._2 == 1 || e._2 == 3)
    assert(untouched.subsetOf(after),
      s"non-intersecting sets must keep their paths: $before vs $after")
    // the touched set's dir is gone from the manifest, one new set in
    assert(!after.exists(_._2 == 2), "touched set must be rewritten")
    assert(after.count(_._2 == 4) == 1)
    // semantics unchanged: replace matched, insert new, carry rest
    assert(SnapshotTable.read(spark, root, 4)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (5L, "b"), (10L, "C!"), (12L, "new"), (15L, "d"),
        (20L, "e"), (25L, "f")))
    // copy-on-write: the pre-merge version is untouched
    assert(SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (5L, "b"), (10L, "c"), (15L, "d"), (20L, "e"),
        (25L, "f")))
    // changes window over the pre-merge era still reports the carried
    // sets' rows (their lineage survived the merge)
    assert(SnapshotTable.changes(spark, root, 2, 4)
      .select("doc_id").as[Long].collect().toSet ==
      Set(20L, 25L, 10L, 12L, 15L),
      "carried lineage + the merge's own additions")
    // a pure-insert merge outside every range rewrites NOTHING
    val v5 = SnapshotTable.merge(spark, root,
      Seq((100L, "z")).toDF("doc_id", "text"), "doc_id")
    val after5 = dirsOf(5)
    assert(after.subsetOf(after5), "pure insert must carry all sets")
    assert(SnapshotTable.readLatest(spark, root).count() == 8)
  }

  test("merge racing a concurrent commit conflicts instead of losing the update") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"))
    // merge resolves base = v1 … then another writer publishes v2
    val base = SnapshotTable.latestVersion(spark, root)
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("doc_id", "text"))
    // … the stale-based merge must FAIL as a conflict, not overwrite
    // v2 away (the lost-update anomaly)
    val e = intercept[IllegalStateException](
      SnapshotTable.mergeAs(spark, root,
        Seq((1L, "A!")).toDF("doc_id", "text"), "doc_id", base))
    assert(e.getMessage.contains("commit conflict"))
    assert(SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")),
      "concurrent commit's rows were lost")
    // a re-merge from the NEW latest succeeds and keeps both lineages
    assert(SnapshotTable.merge(spark, root,
      Seq((1L, "A!")).toDF("doc_id", "text"), "doc_id") == 3)
    assert(SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet == Set((1L, "A!"), (2L, "b")))
  }

  test("two concurrent appends both succeed: the loser revalidates and " +
       "republishes without rewriting data") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("doc_id", "text"))
    val base = SnapshotTable.latestVersion(spark, root) // both resolve v1
    // writer A publishes v2 while writer B is still working …
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("doc_id", "text"))
    // … B's stale-based retrying append loses the v2 race, re-reads
    // the latest manifest (appends commute) and lands as v3
    val v = RetryingWriters.commitRetryAs(spark, root,
      Seq((3L, "c")).toDF("doc_id", "text"), base, None, maxRetries = 5)
    assert(v == 3)
    assert(SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "both concurrent appends' rows must survive")
  }

  test("disjoint concurrent merge validates and succeeds; overlapping " +
       "concurrent data still conflicts") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (5L, "b")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      Seq((10L, "c"), (15L, "d")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    val base = SnapshotTable.latestVersion(spark, root) // v2
    // concurrent writer appends a DISJOINT key range → v3
    SnapshotTable.commit(spark, root,
      Seq((20L, "e")).toDF("doc_id", "text"), statsKey = Some("doc_id"))
    // stale-based merge over [10, 12]: loses the v3 race, validates
    // (its touched set survives; the concurrent add is outside the
    // envelope) and republishes as v4 — rewrite written once
    val v = RetryingWriters.mergeRetryAs(spark, root,
      Seq((10L, "C!"), (12L, "new")).toDF("doc_id", "text"), "doc_id",
      base, maxRetries = 5)
    assert(v == 4)
    assert(SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (5L, "b"), (10L, "C!"), (12L, "new"), (15L, "d"),
        (20L, "e")),
      "merge and the disjoint concurrent append must both survive")
    // now the OVERLAPPING race: a concurrent commit adds a row INSIDE
    // the merge's envelope — validation must refuse (the new row
    // would dodge the replace and duplicate its key)
    val base2 = SnapshotTable.latestVersion(spark, root) // v4
    SnapshotTable.commit(spark, root,
      Seq((12L, "racer")).toDF("doc_id", "text"), statsKey = Some("doc_id"))
    val e = intercept[IllegalStateException](
      RetryingWriters.mergeRetryAs(spark, root,
        Seq((12L, "mine")).toDF("doc_id", "text"), "doc_id",
        base2, maxRetries = 5))
    assert(e.getMessage.contains("commit conflict"))
    // the documented recovery — a fresh merge from the new latest —
    // replaces BOTH copies of the contested key
    RetryingWriters.mergeRetryAs(spark, root,
      Seq((12L, "mine")).toDF("doc_id", "text"), "doc_id",
      SnapshotTable.latestVersion(spark, root), maxRetries = 5)
    val rows = SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect()
    assert(rows.count(_._1 == 12L) == 1 && rows.contains((12L, "mine")))
  }

  test("merge racing a concurrent MOR delete conflicts — even when the " +
       "deleted key is outside the merge's envelope (lost-delete anomaly)") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1L to 15L).map(k => (k, s"d$k")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    val base = SnapshotTable.latestVersion(spark, root) // v1, all-data
    // concurrent writer MOR-deletes key 1 → v2 adds a delete vector
    assert(SnapshotTable.deleteRows(spark, root,
      Seq(1L).toDF("doc_id"), "doc_id") == 2)
    // stale-based merge over [10, 10]: the update envelope is DISJOINT
    // from the deleted key, but the merge's raw-read rewrite carries
    // key 1 — republishing it with a newer addedIn than the vector
    // would resurrect the deleted row. Validation must refuse.
    val e = intercept[IllegalStateException](
      RetryingWriters.mergeRetryAs(spark, root,
        Seq((10L, "mine")).toDF("doc_id", "text"), "doc_id",
        base, maxRetries = 5))
    assert(e.getMessage.contains("delete vector"))
    // and the deleted row stays deleted
    assert(!SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().map(_._1).contains(1L))
  }

  test("clustered rewrite routes NULL stats keys into bucket 0 instead " +
       "of crashing or orphaning them") {
    val root = tmpRoot()
    val rows = Seq((java.lang.Long.valueOf(1L), "a"),
      (java.lang.Long.valueOf(90L), "b"),
      (null.asInstanceOf[java.lang.Long], "nokey"),
      (java.lang.Long.valueOf(40L), "c"))
    SnapshotTable.commit(spark, root,
      rows.toDF("doc_id", "text"), statsKey = Some("doc_id"))
    val v = SnapshotTable.rewriteSorted(spark, root, "doc_id", 2)
    val out = SnapshotTable.read(spark, root, v)
      .select("text").as[String].collect().toSet
    assert(out == Set("a", "b", "c", "nokey"),
      "the null-key row must survive the rewrite")
  }

  test("vacuum with an age threshold keeps young debris (the in-flight-" +
       "commit window); the default still sweeps it") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"))
    // simulate an in-flight commit: data dir written, manifest rename
    // not yet landed
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$root/data/a9-inflight")
    val rep = SnapshotTable.vacuum(spark, root, olderThanMs = 3600L * 1000)
    assert(rep.dirsRemoved == 0 && rep.dirsKept == 2,
      s"young debris must survive an aged vacuum, got $rep")
    // the ingest-fenced default sweeps it as crash debris
    val rep2 = SnapshotTable.vacuum(spark, root)
    assert(rep2.dirsRemoved == 1 && rep2.dirsKept == 1, s"got $rep2")
    assert(SnapshotTable.readLatest(spark, root).count() == 1)
  }

  test("bin-packed compaction: small sets merge, big sets keep their " +
       "paths, and no-work runs publish nothing") {
    val root = tmpRoot()
    // one big healthy set + three small-file-problem appends
    SnapshotTable.commit(spark, root,
      (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    (0 until 3).foreach { i =>
      SnapshotTable.commit(spark, root,
        Seq((200L + i, s"s$i")).toDF("doc_id", "text"),
        statsKey = Some("doc_id"))
    }
    def manifest(v: Int) = spark.read.parquet(s"$root/manifests/v$v")
      .select("dir", "added_in", "n_rows").as[(String, Int, Long)]
      .collect().toSet
    val before = manifest(4)
    assert(before.size == 4)
    val bigEntry = before.find(_._3 == 100L).get
    val v = SnapshotTable.compactSmall(spark, root, smallRows = 10,
      statsKey = Some("doc_id"))
    assert(v == 5)
    val after = manifest(5)
    // the big set is carried by reference — same dir, same lineage
    assert(after.contains(bigEntry),
      "bin-pack must not rewrite the big healthy set")
    assert(after.size == 2 && after.exists(_._3 == 3L),
      "three small sets must pack into one")
    // rows identical before/after
    assert(SnapshotTable.read(spark, root, 5)
      .as[(Long, String)].collect().toSet ==
      SnapshotTable.read(spark, root, 4)
        .as[(Long, String)].collect().toSet)
    // the packed set carries fresh stats: a point read prunes to it
    val pr = SnapshotTable.readPoint(spark, root, 5, 201L)
    assert(pr.dirsRead == 1, "packed set must keep skipping stats")
    // nothing left to pack → NO new version
    assert(SnapshotTable.compactSmall(spark, root, smallRows = 10) == 5)
    assert(SnapshotTable.versions(spark, root).max == 5)
  }

  test("a crashed commit (tmp manifest, no rename) is invisible") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a")).toDF("doc_id", "text"))
    // simulate the crash window: data files + tmp manifest written,
    // rename never ran
    Seq((99L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$root/data/s99")
    Seq(("data/s99", 99, 1L)).toDF("dir", "added_in", "n_rows")
      .coalesce(1).write.parquet(s"$root/manifests/_tmp_v99")
    assert(SnapshotTable.versions(spark, root) == Seq(1),
      "unpublished debris surfaced as a version")
    assert(SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("graft-snapshot format: public read path, version option, " +
       "latest default, schema evolution null-fill") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root,
      Seq((3L, "c", 7L)).toDF("doc_id", "text", "q_len"))
    val v1 = spark.read.format("graft-snapshot").option("version", 1)
      .load(root)
    assert(v1.columns.toSeq == Seq("doc_id", "text"))
    assert(v1.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // latest by default; v1 rows null-fill the evolved column through
    // Spark's own parquet missing-column path
    val latest = spark.read.format("graft-snapshot").load(root)
    assert(latest.columns.toSeq == Seq("doc_id", "text", "q_len"))
    assert(latest.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(7L))))
  }

  test("graft-snapshot writer: append/overwrite commit versions, " +
       "statsColumn records skipping stats, modes honor existence") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.format("graft-snapshot").option("statsColumn", "doc_id")
      .mode("append").save(root)
    Seq((3L, "c")).toDF("doc_id", "text")
      .write.format("graft-snapshot").option("statsColumn", "doc_id")
      .mode("append").save(root)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(spark.read.format("graft-snapshot").load(root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the writer-recorded stats actually prune
    val pr = SnapshotTable.readPruned(spark, root, 2, 3L, Long.MaxValue)
    assert(pr.dirsRead == 1 && pr.dirsTotal == 2)
    // overwrite → v3 references only its batch; time travel intact
    Seq((9L, "z")).toDF("doc_id", "text")
      .write.format("graft-snapshot").mode("overwrite").save(root)
    assert(spark.read.format("graft-snapshot").load(root).count() == 1)
    assert(spark.read.format("graft-snapshot").option("version", 2)
      .load(root).count() == 3)
    // ErrorIfExists refuses, Ignore no-ops
    intercept[IllegalStateException] {
      Seq((7L, "x")).toDF("doc_id", "text")
        .write.format("graft-snapshot").mode("errorifexists").save(root)
    }
    Seq((7L, "x")).toDF("doc_id", "text")
      .write.format("graft-snapshot").mode("ignore").save(root)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2, 3))
  }

  test("clustered rewrite restores range-skipping selectivity; " +
       "history, rows, and expire survive the subdir layout") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    // three append commits, EACH spanning the whole key range
    // (the append-lineage layout): every set overlaps every range
    (0 until 3).foreach { c =>
      SnapshotTable.commit(spark, root,
        (0L until 300L by 3L).map(k => (k + c, s"d${k + c}"))
          .toDF("doc_id", "text"), statsKey = Some("doc_id"))
    }
    val before = SnapshotTable.readPruned(spark, root, 3, 10L, 30L)
    assert(before.dirsRead == 3 && before.dirsTotal == 3,
      "full-span sets must defeat skipping — the condition the rewrite fixes")
    val allRows = SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect().toSet
    val v4 = SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 4)
    assert(v4 == 4)
    // same rows, tighter layout
    assert(SnapshotTable.read(spark, root, 4)
      .as[(Long, String)].collect().toSet == allRows)
    val after = SnapshotTable.readPruned(spark, root, 4, 10L, 30L)
    assert(after.dirsTotal == 4 && after.dirsRead == 1,
      s"narrow range must now read 1 of 4 sets, read ${after.dirsRead}")
    // the skip returns a superset; the residual predicate finishes
    assert(after.df.where(col("doc_id").between(10L, 30L))
      .as[(Long, String)].collect().toSet ==
      allRows.filter(r => r._1 >= 10L && r._1 <= 30L))
    // time travel below the rewrite is untouched
    assert(SnapshotTable.read(spark, root, 3).count() == allRows.size)
    // expire up to the rewrite: the subdir parent survives, old sets go
    val rep = SnapshotTable.expire(spark, root, keepFrom = 4)
    assert(rep.versionsExpired == 3 && rep.dirsKept == 1)
    assert(SnapshotTable.read(spark, root, 4)
      .as[(Long, String)].collect().toSet == allRows)
  }

  test("z-order rewrite prunes a 2-D box on both keys; 1-D layouts " +
       "degrade to x-only pruning through the same read, never to " +
       "wrong rows") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    // y = bijective scramble of x (gcd(7,300)=1): dense [0,300) on
    // both axes, decorrelated — the layout where a 1-D sort is blind
    (0 until 3).foreach { c =>
      SnapshotTable.commit(spark, root,
        (0L until 300L).filter(_ % 3 == c)
          .map(k => (k, k * 7L % 300L, s"d$k"))
          .toDF("doc_id", "y_key", "text"), statsKey = Some("doc_id"))
    }
    val allRows = SnapshotTable.read(spark, root, 3)
      .as[(Long, Long, String)].collect().toSet
    SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 4)
    val v5 = SnapshotTable.rewriteZorder(spark, root, "doc_id", "y_key",
      numSets = 16)
    assert(v5 == 5)
    // the rewrite is a pure re-layout
    assert(SnapshotTable.read(spark, root, 5)
      .as[(Long, Long, String)].collect().toSet == allRows)
    // box inside x-cell 1 × y-cell 2 (w = 75): round-robin layout
    // reads everything, the x-sort reads one full stripe (75 rows),
    // z-order reads one grid cell — both dims prune
    def box(v: Int) = SnapshotTable.readPrunedBox(spark, root, v,
      "doc_id", 80L, 140L, "y_key", 160L, 220L)
    val pre = box(3)
    assert(pre.dirsRead == 3 && pre.dirsTotal == 3 &&
      pre.rowsScanned == 300L)
    val srt = box(4)
    assert(srt.dirsRead == 1 && srt.dirsTotal == 4 &&
      srt.rowsScanned == 75L,
      s"x-sort must scan exactly the one stripe, got ${srt.rowsScanned}")
    val zo = box(5)
    assert(zo.dirsTotal == 16, s"expected 16 grid cells, ${zo.dirsTotal}")
    assert(zo.dirsRead == 1, s"box inside one cell must read 1 set, " +
      s"read ${zo.dirsRead}")
    assert(zo.rowsScanned < srt.rowsScanned,
      "the z-cell must be strictly smaller than the x-stripe")
    // every layout returns the same exact-box rows after the residual
    val expect = allRows.filter(r =>
      r._1 >= 80L && r._1 <= 140L && r._2 >= 160L && r._2 <= 220L)
    Seq(pre, srt, zo).foreach { p =>
      assert(p.df.where(col("doc_id").between(80L, 140L) &&
          col("y_key").between(160L, 220L))
        .as[(Long, Long, String)].collect().toSet == expect)
    }
    // a box straddling cells is still exactly right (superset + filter)
    val wide = SnapshotTable.readPrunedBox(spark, root, 5,
      "doc_id", 60L, 90L, "y_key", 0L, 299L)
    assert(wide.dirsRead > 1 && wide.dirsRead < 16)
    assert(wide.df.where(col("doc_id").between(60L, 90L))
      .as[(Long, Long, String)].collect().toSet ==
      allRows.filter(r => r._1 >= 60L && r._1 <= 90L))
    // expire through the z layout: the subdir parent survives
    val rep = SnapshotTable.expire(spark, root, keepFrom = 5)
    assert(SnapshotTable.read(spark, root, 5)
      .as[(Long, Long, String)].collect().toSet == allRows)
    assert(rep.versionsExpired == 4)
  }

  test("z-order rewrite routes NULL second keys to cell 0; box reads " +
       "never return them, full reads never lose them") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    val rows = (0L until 100L).map(k => (k, Some(k * 7L % 100L), s"d$k")) ++
      Seq((100L, None, "n0"), (101L, None, "n1"))
    SnapshotTable.commit(spark, root,
      rows.toDF("doc_id", "y_key", "text"), statsKey = Some("doc_id"))
    SnapshotTable.rewriteZorder(spark, root, "doc_id", "y_key", 4)
    val all = SnapshotTable.read(spark, root, 2)
      .as[(Long, Option[Long], String)].collect().toSet
    assert(all == rows.toSet, "null-keyed rows must survive the rewrite")
    // a y-range box can never match NULL y (SQL semantics); the read
    // must not resurrect them via cell-0 stats
    val b = SnapshotTable.readPrunedBox(spark, root, 2,
      "doc_id", 0L, 101L, "y_key", 0L, 99L)
    assert(b.df.where(col("y_key").between(0L, 99L))
      .as[(Long, Option[Long], String)].collect()
      .forall(_._2.nonEmpty))
  }

  test("commitBatch crash windows: a published batchId replays as a " +
       "no-op; an unpublished data dir is rewritten by the replay") {
    val root = tmpRoot()
    def liveIds() = SnapshotTable.readLatest(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(SnapshotTable.commitBatch(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      batchId = 0L).contains(1))
    assert(SnapshotTable.commitBatch(spark, root,
      Seq((3L, "c")).toDF("doc_id", "text"), batchId = 1L).contains(2))
    // at-least-once replay: re-committing a batchId the manifest
    // already references is a detected no-op
    assert(SnapshotTable.commitBatch(spark, root,
      Seq((9L, "x")).toDF("doc_id", "text"), batchId = 1L).isEmpty)
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(liveIds() == Set(1L, 2L, 3L))
    // the other crash window: data dir written, manifest never
    // published — the dir is unreferenced debris and the replay
    // REWRITES it (its content, not the debris, is what commits)
    Seq((98L, "dead")).toDF("doc_id", "text").write.parquet(s"$root/data/b2")
    assert(SnapshotTable.commitBatch(spark, root,
      Seq((4L, "d")).toDF("doc_id", "text"), batchId = 2L).contains(3))
    assert(liveIds() == Set(1L, 2L, 3L, 4L))
  }

  test("time travel by timestamp resolves the latest version at or " +
       "before the instant") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root, Seq((1L, "a")).toDF("doc_id", "text"))
    Thread.sleep(5)
    SnapshotTable.commit(spark, root, Seq((2L, "b")).toDF("doc_id", "text"))
    Thread.sleep(5)
    SnapshotTable.commit(spark, root, Seq((3L, "c")).toDF("doc_id", "text"))
    val ts = (1 to 3).map(v => SnapshotTable.commitTime(spark, root, v).get)
    assert(ts == ts.sorted, "commit times must be non-decreasing")
    assert(SnapshotTable.versionAsOf(spark, root, ts(2)) == 3)
    assert(SnapshotTable.versionAsOf(spark, root, ts(2) - 1) == 2)
    assert(SnapshotTable.versionAsOf(spark, root, ts(0)) == 1)
    assert(SnapshotTable.readAsOf(spark, root, ts(1)).count() == 2)
    // before the first commit: nothing to locate
    intercept[IllegalStateException] {
      SnapshotTable.versionAsOf(spark, root, ts(0) - 1)
    }
  }

  test("merge-on-read: delete is a vector commit (no data rewrite), " +
       "strict ordering lets re-inserts and upserts survive") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (1L to 10L).map(k => (k, s"d$k")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    val dirsBefore = SnapshotTable.read(spark, root, 1).inputFiles.toSet
    // v2: MOR delete of keys 3,4 — no data file is touched
    assert(SnapshotTable.deleteRows(spark, root,
      Seq(3L, 4L).toDF("doc_id"), "doc_id") == 2)
    assert(SnapshotTable.read(spark, root, 2)
      .as[(Long, String)].collect().map(_._1).toSet ==
      ((1L to 10L).toSet -- Set(3L, 4L)))
    // the original data files are untouched and v1 still has all rows
    assert(SnapshotTable.read(spark, root, 1).inputFiles.toSet == dirsBefore)
    assert(SnapshotTable.read(spark, root, 1).count() == 10)
    // v3: re-insert key 3 — a set YOUNGER than the vector survives it
    SnapshotTable.commit(spark, root,
      Seq((3L, "d3v2")).toDF("doc_id", "text"), statsKey = Some("doc_id"))
    val v3 = SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect()
    assert(v3.count(_._1 == 3L) == 1 && v3.exists(_ == (3L, "d3v2")))
    // v4: MOR upsert — matched key replaced (not duplicated), new
    // key inserted, all in ONE commit with zero data rewrite
    assert(SnapshotTable.upsertMor(spark, root,
      Seq((5L, "d5v2"), (11L, "d11")).toDF("doc_id", "text"),
      "doc_id") == 4)
    val v4 = SnapshotTable.read(spark, root, 4)
      .as[(Long, String)].collect()
    assert(v4.count(_._1 == 5L) == 1 && v4.exists(_ == (5L, "d5v2")))
    assert(v4.exists(_ == (11L, "d11")) && !v4.exists(_._1 == 4L))
    // pruned reads apply vectors too — a deleted key can't leak
    // through the skipping path
    val pt = SnapshotTable.readPoint(spark, root, 4, 4L)
    assert(pt.df.where(col("doc_id") === 4L).count() == 0)
  }

  test("materializeDeletes rewrites only intersecting sets; guards " +
       "refuse clone/COW-merge/relation on live vectors") {
    val root = tmpRoot()
    // two key-disjoint sets: [1,10] and [100,110]
    SnapshotTable.commit(spark, root,
      (1L to 10L).map(k => (k, s"a$k")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      (100L to 110L).map(k => (k, s"b$k")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.deleteRows(spark, root,
      Seq(7L, 9L).toDF("doc_id"), "doc_id")
    // live vectors: the three read paths that cannot honor them refuse
    intercept[IllegalArgumentException] {
      SnapshotTable.cloneFrom(spark, root, tmpRoot())
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root,
        Seq((7L, "x")).toDF("doc_id", "text"), "doc_id")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readIndexed(spark, root, 3, Some("doc_id")).count()
    }
    val expect = SnapshotTable.read(spark, root, 3)
      .as[(Long, String)].collect().toSet
    val bFiles = SnapshotTable.read(spark, root, 2).inputFiles
      .filter(_.contains("/data/s2")).toSet
    val v4 = SnapshotTable.materializeDeletes(spark, root, "doc_id")
    assert(v4 == 4)
    val after = SnapshotTable.read(spark, root, 4)
    assert(after.as[(Long, String)].collect().toSet == expect)
    // the [100,110] set's key range intersects no vector → carried by
    // reference, same physical files
    assert(bFiles.subsetOf(after.inputFiles.toSet),
      "non-intersecting set must keep its original files")
    // vectors gone: the relation now plans, and materialize no-ops
    assert(SnapshotTable.readIndexed(spark, root, 4, Some("doc_id"))
      .count() == expect.size)
    assert(SnapshotTable.materializeDeletes(spark, root, "doc_id") == 4)
  }

  test("materializeDeletes never trusts a vector envelope recorded " +
       "for a different column than the table's stats key") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    // data envelope: doc_id in [1,10]; the vector below is keyed on n
    // with envelope [105,105] — numerically disjoint ranges about
    // DIFFERENT columns. A cross-column envelope comparison would
    // carry the set untouched, drop the vector, and resurrect the
    // deleted row; the key2 stamp on the vector makes the check
    // conservative instead.
    SnapshotTable.commit(spark, root,
      (1L to 10L).map(k => (k, k + 100L)).toDF("doc_id", "n"),
      statsKey = Some("doc_id"))
    SnapshotTable.deleteRows(spark, root, Seq(105L).toDF("n"), "n")
    assert(SnapshotTable.readLatest(spark, root)
      .where(col("n") === 105L).count() == 0)
    SnapshotTable.materializeDeletes(spark, root, "doc_id")
    assert(SnapshotTable.readLatest(spark, root)
      .where(col("n") === 105L).count() == 0,
      "deleted row resurrected through a cross-column envelope skip")
    assert(SnapshotTable.readLatest(spark, root).count() == 9)
  }

  test("a tuple-keyed vector deletes exact tuples only and survives " +
       "materialization") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "x"), (1L, "y"), (2L, "x")).toDF("doc_id", "tag"),
      statsKey = Some("doc_id"))
    SnapshotTable.deleteRowsKeyed(spark, root,
      Seq((1L, "x")).toDF("doc_id", "tag"), "doc_id")
    def live() = SnapshotTable.readLatest(spark, root)
      .as[(Long, String)].collect().toSet
    assert(live() == Set((1L, "y"), (2L, "x")),
      "rows sharing one key column with the tuple must survive")
    SnapshotTable.materializeDeletes(spark, root, "doc_id")
    assert(live() == Set((1L, "y"), (2L, "x")))
  }

  test("the Spark relation plans over a clustered-rewrite subdir " +
       "layout and prunes on its per-subdir stats") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (0L until 300L).map(k => (k, s"d$k")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.rewriteSorted(spark, root, "doc_id", numSets = 4)
    val rel = SnapshotTable.readIndexed(spark, root, 2, Some("doc_id"))
    assert(rel.count() == 300)
    val narrow = rel.where(col("doc_id").between(10L, 30L))
    assert(narrow.as[(Long, String)].collect().toSet ==
      (10L to 30L).map(k => (k, s"d$k")).toSet)
    // planning-time skip, witnessed from EXECUTION (inputFiles reports
    // the unpruned listing): the narrow range touches only bucket 0's
    // subdir
    val touched = narrow
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().as[String].collect()
    assert(touched.nonEmpty && touched.forall(_.contains("__rb=0")),
      s"narrow range touched ${touched.mkString(", ")}")
  }

  test("vacuum sweeps unpublished debris, never referenced sets or history") {
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    SnapshotTable.commit(spark, root, Seq((3L, "c")).toDF("doc_id", "text"))
    // simulate a crashed/conflict-losing commit: a data dir written
    // but never published
    Seq((99L, "zz")).toDF("doc_id", "text")
      .write.parquet(s"$root/data/s9-deadbeef")
    val rep = SnapshotTable.vacuum(spark, root)
    assert(rep.dirsRemoved == 1 && rep.dirsKept == 2)
    // both versions still fully readable — vacuum expired nothing
    assert(SnapshotTable.versions(spark, root) == Seq(1, 2))
    assert(SnapshotTable.read(spark, root, 2).count() == 3)
    assert(SnapshotTable.read(spark, root, 1).count() == 2)
    // idempotent when clean
    assert(SnapshotTable.vacuum(spark, root) ==
      SnapshotTable.VacuumReport(0, 2))
  }

  test("snapshot FileIndex prunes file sets from planner data-filters " +
       "(range via min/max, point via bloom), conservatively") {
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapshotFileIndex
    // the planner hands listFiles RESOLVED catalyst predicates — build
    // the same shapes directly (the bridge Column path stays lazy
    // ColumnNodes in 4.x and never reaches the index)
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (0L until 50L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    SnapshotTable.commit(spark, root,
      (100L until 150L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      statsKey = Some("doc_id"))
    val key = AttributeReference("doc_id", LongType)()
    val idx = new SnapshotFileIndex(spark, root, 2, Some("doc_id"))
    val all = idx.listFiles(Nil, Nil).head.files.size
    def filesFor(e: Expression) =
      idx.listFiles(Nil, Seq(e)).head.files.size
    // range hitting only the second commit halves the listing
    val hi = filesFor(GreaterThanOrEqual(key, Literal(100L)))
    assert(hi < all && hi > 0, s"range prune expected: $hi vs $all")
    // reversed operand order means the mirrored bound
    assert(filesFor(GreaterThan(Literal(50L), key)) == all - hi,
      "lit > key must read only the low set")
    // point lookup on a key in neither set: bloom prunes everything
    assert(filesFor(EqualTo(key, Literal(75L))) == 0,
      "bloom must prune a miss")
    // point on a present key keeps its set only
    assert(filesFor(EqualTo(key, Literal(120L))) == hi,
      "point must keep exactly the carrying set")
    // a filter shape the index can't decode skips nothing
    assert(filesFor(EqualTo(Pmod(key, Literal(7L)), Literal(3L))) == all)
    // no statsColumn → never prunes
    val blind = new SnapshotFileIndex(spark, root, 2, None)
    assert(blind.listFiles(Nil,
      Seq(EqualTo(key, Literal(120L)))).head.files.size == all)
    // and the end-to-end query over the pruned plan is still exact
    val out = SnapshotTable.readIndexed(spark, root, 2, Some("doc_id"))
      .where(col("doc_id") >= 100L).agg(
        org.apache.spark.sql.functions.count(col("doc_id")),
        org.apache.spark.sql.functions.sum(col("doc_id")))
      .as[(Long, Long)].head()
    assert(out == ((50L, (100L until 150L).sum)))
  }

  test("snapshot FileIndex prunes a 2-D box on z-ordered entries' " +
       "second-key stats; other columns' bounds never mis-prune") {
    import org.apache.spark.sql.functions.col
    import graft.sources.SnapshotFileIndex
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    val root = tmpRoot()
    SnapshotTable.commit(spark, root,
      (0L until 300L).map(k => (k, k * 7L % 300L, s"d$k"))
        .toDF("doc_id", "y_key", "text"), statsKey = Some("doc_id"))
    SnapshotTable.rewriteZorder(spark, root, "doc_id", "y_key", 16)
    val x = AttributeReference("doc_id", LongType)()
    val y = AttributeReference("y_key", LongType)()
    val idx = new SnapshotFileIndex(spark, root, 2, Some("doc_id"))
    val all = idx.listFiles(Nil, Nil).head.files.size
    def filesFor(es: Expression*) =
      idx.listFiles(Nil, es.toSeq).head.files.size
    // the box inside x-cell 1 × y-cell 2 (w = 75) keeps 1 of 16 cells
    val xband = And(GreaterThanOrEqual(x, Literal(80L)),
      LessThanOrEqual(x, Literal(140L)))
    val yband = And(GreaterThanOrEqual(y, Literal(160L)),
      LessThanOrEqual(y, Literal(220L)))
    val boxFiles = filesFor(And(xband, yband))
    val xFiles = filesFor(xband)
    val yFiles = filesFor(yband)
    assert(xFiles < all && yFiles < all,
      s"each dimension must prune alone: x=$xFiles y=$yFiles all=$all")
    assert(boxFiles < xFiles && boxFiles < yFiles && boxFiles > 0,
      s"the box must out-prune either band: $boxFiles vs $xFiles/$yFiles")
    // bounds on a column with no recorded stats never prune
    val t = AttributeReference("text", LongType)()
    assert(filesFor(GreaterThanOrEqual(t, Literal(999L))) == all)
    // the declarative end-to-end box stays exact through the prune
    val got = SnapshotTable.readIndexed(spark, root, 2, Some("doc_id"))
      .where(col("doc_id").between(80L, 140L) &&
        col("y_key").between(160L, 220L))
      .as[(Long, Long, String)].collect().toSet
    assert(got == (0L until 300L).map(k => (k, k * 7L % 300L, s"d$k"))
      .filter(r => r._1 >= 80 && r._1 <= 140 && r._2 >= 160 && r._2 <= 220)
      .toSet)
  }
}
