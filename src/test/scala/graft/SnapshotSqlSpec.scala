package graft

import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotTable

/** The snapshot store's SQL front door ([[graft.sources.SnapshotCatalog]]
  * + [[graft.sources.ResolveSnapshotSql]]): every lifecycle step a real
  * lakehouse user drives through `spark.sql` TEXT must hit the SAME
  * engine paths the programmatic API runs — catalog resolution, time
  * travel by version and timestamp, MERGE upsert (stats-scoped COW),
  * MERGE delete (MOR delete vectors), and CALL maintenance procedures.
  * Runs on the suite's extensions session ([[SparkSessionSpec.extSpark]]):
  * the resolution rule only exists in sessions built with
  * GraftExtensions. */
class SnapshotSqlSpec extends SparkSessionSpec {

  private lazy val s2: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_sqlwh").toString
    extSpark.conf.set("spark.sql.catalog.lakecat", "graft.sources.SnapshotCatalog")
    extSpark.conf.set("spark.sql.catalog.lakecat.warehouse", wh)
    extSpark
  }
  private def wh = s2.conf.get("spark.sql.catalog.lakecat.warehouse")

  private def seed(name: String): String = {
    import s2.implicits._
    val root = s"$wh/ns/$name"
    SnapshotTable.commit(s2, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    root
  }

  private def rows(sql: String): Set[(Long, String)] =
    s2.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("SELECT resolves latest, VERSION AS OF, and TIMESTAMP AS OF " +
       "through the catalog") {
    val root = seed("tt")
    import s2.implicits._
    Thread.sleep(10) // commit times are ms-resolution; v2 must be later
    SnapshotTable.commit(s2, root, Seq((4L, "d")).toDF("id", "v"),
      append = true)
    assert(rows("SELECT id, v FROM lakecat.ns.tt") ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(rows("SELECT id, v FROM lakecat.ns.tt VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val v1At = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(
        SnapshotTable.commitTime(s2, root, 1).get))
    assert(rows(
      s"SELECT id, v FROM lakecat.ns.tt TIMESTAMP AS OF '$v1At'") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "timestamp travel must resolve the version committed at-or-before")
  }

  test("MERGE INTO upsert lowers onto the stats-scoped COW merge; " +
       "old versions stay readable") {
    val root = seed("up")
    import s2.implicits._
    Seq((2L, "B"), (9L, "i")).toDF("id", "v")
      .createOrReplaceTempView("up_src")
    val v = s2.sql(
      """MERGE INTO lakecat.ns.up t USING up_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .head().getInt(0)
    assert(v == 2, "the command must report the published version")
    assert(rows("SELECT id, v FROM lakecat.ns.up") ==
      Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i")))
    assert(rows("SELECT id, v FROM lakecat.ns.up VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(SnapshotTable.versions(s2, root) == Seq(1, 2))
  }

  test("MERGE INTO ... WHEN MATCHED THEN DELETE lowers onto a MOR " +
       "delete-vector commit, and SQL reads apply it") {
    val root = seed("del")
    import s2.implicits._
    val dataBefore = SnapshotTable.read(s2, root, 1).inputFiles.toSet
    Seq(Tuple1(2L)).toDF("id").createOrReplaceTempView("del_src")
    s2.sql(
      """MERGE INTO lakecat.ns.del t USING del_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin).collect()
    assert(rows("SELECT id, v FROM lakecat.ns.del") ==
      Set((1L, "a"), (3L, "c")))
    // the commit is MOR: a delete vector, never a data rewrite — v1's
    // data files are untouched and still serve the pre-delete rows
    assert(SnapshotTable.read(s2, root, 1).inputFiles.toSet == dataBefore,
      "the SQL delete must commit a delete vector, not rewrite files")
    assert(rows("SELECT id, v FROM lakecat.ns.del VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("CALL procedures run maintenance: rollback, expire_snapshots, " +
       "vacuum report through result rows") {
    seed("mt")
    import s2.implicits._
    Seq((1L, "A")).toDF("id", "v").createOrReplaceTempView("mt_src")
    s2.sql(
      """MERGE INTO lakecat.ns.mt t USING mt_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(rows("SELECT id, v FROM lakecat.ns.mt") contains (1L, "A"))
    val rb = s2.sql("CALL lakecat.system.rollback('ns.mt', 1)").head()
    assert(rb.getInt(0) == 3, "rollback publishes a NEW version")
    assert(rows("SELECT id, v FROM lakecat.ns.mt") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "post-rollback latest must equal v1")
    val ex = s2.sql("CALL lakecat.system.expire_snapshots('ns.mt', 3)")
      .head()
    assert(ex.getAs[Int]("versions_expired") == 2 &&
      ex.getAs[Int]("versions_kept") == 1)
    val vac = s2.sql("CALL lakecat.system.vacuum('ns.mt')").head()
    assert(vac.getAs[Int]("dirs_kept") >= 1)
    assert(rows("SELECT id, v FROM lakecat.ns.mt") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "maintenance must never change the visible table")
  }

  test("CREATE TABLE publishes an empty v1 a first MERGE can land on; " +
       "unsupported shapes raise, wrong versions are missing tables") {
    import s2.implicits._
    s2.sql("CREATE TABLE lakecat.ns.fresh (id BIGINT, v STRING)")
    assert(s2.sql("SELECT * FROM lakecat.ns.fresh").count() == 0)
    Seq((5L, "e")).toDF("id", "v").createOrReplaceTempView("fresh_src")
    s2.sql(
      """MERGE INTO lakecat.ns.fresh t USING fresh_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(rows("SELECT id, v FROM lakecat.ns.fresh") == Set((5L, "e")))
    // non-upsert merge shapes must refuse loudly, not answer wrong
    val e = intercept[Exception](s2.sql(
      """MERGE INTO lakecat.ns.fresh t USING fresh_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'x'""".stripMargin).collect())
    assert(e.getMessage.contains("MERGE INTO"))
    assertThrows[Exception](
      s2.sql("SELECT * FROM lakecat.ns.fresh VERSION AS OF 99").collect())
  }

  test("INSERT INTO appends a version; INSERT OVERWRITE replaces; " +
       "history stays readable") {
    val root = seed("ins")
    s2.sql("INSERT INTO lakecat.ns.ins VALUES (10, 'j'), (11, 'k')")
    assert(rows("SELECT id, v FROM lakecat.ns.ins") ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (10L, "j"), (11L, "k")))
    // the insert is an ordinary append COMMIT: v1 still time-travels
    assert(rows("SELECT id, v FROM lakecat.ns.ins VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    s2.sql("INSERT OVERWRITE lakecat.ns.ins VALUES (99, 'z')")
    assert(rows("SELECT id, v FROM lakecat.ns.ins") == Set((99L, "z")))
    assert(rows("SELECT id, v FROM lakecat.ns.ins VERSION AS OF 2") ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (10L, "j"), (11L, "k")),
      "overwrite must replace the visible table, not the history")
    assert(SnapshotTable.latestVersion(s2, root).contains(3))
  }

  test("ALTER TABLE ADD COLUMN widens additively: old rows null-fill, " +
       "non-additive changes refuse") {
    seed("evo")
    s2.sql("ALTER TABLE lakecat.ns.evo ADD COLUMN score DOUBLE")
    val out = s2.sql("SELECT id, v, score FROM lakecat.ns.evo")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out == Set((1L, "a", None), (2L, "b", None), (3L, "c", None)),
      "pre-evolution rows must null-fill the new column")
    // the widened schema is writable immediately
    s2.sql("INSERT INTO lakecat.ns.evo VALUES (4, 'd', 0.5)")
    assert(s2.sql(
      "SELECT score FROM lakecat.ns.evo WHERE id = 4").head().getDouble(0)
      == 0.5)
    // duplicate adds and type changes refuse loudly
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.evo ADD COLUMN v STRING").collect())
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.evo ALTER COLUMN v TYPE INT").collect())
  }

  test("ALTER TABLE DROP COLUMN is metadata-only: no data rewrite, " +
       "old versions keep the column, compact clears the action") {
    val root = seed("dropc")
    val v1Files = SnapshotTable.read(s2, root, 1).inputFiles.toSet
    s2.sql("ALTER TABLE lakecat.ns.dropc ADD COLUMN score DOUBLE")
    s2.sql("INSERT INTO lakecat.ns.dropc VALUES (4, 'd', 0.5)")
    s2.sql("ALTER TABLE lakecat.ns.dropc DROP COLUMN v")
    assert(s2.sql("SELECT * FROM lakecat.ns.dropc").columns.toSeq ==
      Seq("id", "score"), "resolved schema must lose the column")
    assert(s2.sql("SELECT id FROM lakecat.ns.dropc")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // metadata-only proof: the original data files are still the scan
    assert(v1Files.subsetOf(
      SnapshotTable.readLatest(s2, root).inputFiles.toSet),
      "DROP COLUMN must not rewrite data")
    // time travel reads the pre-drop schema back
    assert(s2.sql("SELECT * FROM lakecat.ns.dropc VERSION AS OF 1")
      .columns.toSeq == Seq("id", "v"))
    assert(rows("SELECT id, v FROM lakecat.ns.dropc VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // writes after the drop carry the narrowed schema
    s2.sql("INSERT INTO lakecat.ns.dropc VALUES (5, 1.5)")
    assert(s2.sql("SELECT score FROM lakecat.ns.dropc WHERE id = 5")
      .head().getDouble(0) == 1.5)
    // dropping a missing column refuses; dropping the last would too
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.dropc DROP COLUMN v").collect())
    // compact rewrites under the resolved schema and clears actions —
    // the read path goes back to the plain stats-pruned file index
    SnapshotTable.compact(s2, root, statsKey = Some("id"))
    assert(SnapshotTable.numFileSets(s2, root,
        SnapshotTable.latestVersion(s2, root).get) == 1,
      "compact must clear schema actions down to one clean data set")
    assert(s2.sql("SELECT id FROM lakecat.ns.dropc")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only; a column re-added " +
       "after a drop is not re-dropped; rename onto existing refuses") {
    val root = seed("renc")
    s2.sql("ALTER TABLE lakecat.ns.renc RENAME COLUMN v TO label")
    assert(s2.sql("SELECT * FROM lakecat.ns.renc").columns.toSeq ==
      Seq("id", "label"))
    assert(s2.sql("SELECT id, label FROM lakecat.ns.renc")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "pre-rename rows must surface under the new name")
    // drop-then-re-add: the re-added column's rows must survive (the
    // per-set addedIn gate — a drop action never applies to sets
    // younger than it)
    s2.sql("ALTER TABLE lakecat.ns.renc DROP COLUMN label")
    s2.sql("ALTER TABLE lakecat.ns.renc ADD COLUMN label STRING")
    s2.sql("INSERT INTO lakecat.ns.renc VALUES (4, 'fresh')")
    val out = s2.sql("SELECT id, label FROM lakecat.ns.renc").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getString(1)))).toSet
    assert(out == Set((1L, None), (2L, None), (3L, None),
      (4L, Some("fresh"))),
      "old rows null-fill the re-added column; the fresh row keeps it")
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.renc RENAME COLUMN label TO id").collect())
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.renc RENAME COLUMN ghost TO g2").collect())
  }

  test("ALTER TABLE DROP/RENAME refuses over live MOR delete vectors") {
    val root = seed("fence")
    s2.sql("DELETE FROM lakecat.ns.fence WHERE id = 2").collect()
    assertThrows[Exception](s2.sql(
      "ALTER TABLE lakecat.ns.fence DROP COLUMN v").collect())
    // materializing the vectors re-opens the gate
    SnapshotTable.materializeDeletes(s2, root, "id")
    s2.sql("ALTER TABLE lakecat.ns.fence DROP COLUMN v")
    assert(s2.sql("SELECT * FROM lakecat.ns.fence").columns.toSeq ==
      Seq("id"))
  }

  test("DELETE FROM with a single-column predicate is MERGE-ON-READ: " +
       "a delete-vector commit, never a data rewrite") {
    val root = seed("dm")
    val v1Files = SnapshotTable.read(s2, root, 1).inputFiles.toSet
    val v = s2.sql("DELETE FROM lakecat.ns.dm WHERE id >= 2")
      .head().getInt(0)
    assert(v == 2, "the command must report the published version")
    assert(rows("SELECT id, v FROM lakecat.ns.dm") == Set((1L, "a")))
    // MOR proof: the latest version still references v1's data files
    // (the vector rides alongside them; COW would reference only a
    // rewritten set)
    assert(v1Files.subsetOf(
      SnapshotTable.read(s2, root, 2).inputFiles.toSet),
      "single-column DELETE must commit a vector, not rewrite data")
    assert(rows("SELECT id, v FROM lakecat.ns.dm VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("DELETE FROM with a multi-column predicate is MERGE-ON-READ: a " +
       "tuple-keyed vector commit, never a rewrite") {
    val root = seed("dc")
    val v1Files = SnapshotTable.read(s2, root, 1).inputFiles.toSet
    s2.sql("DELETE FROM lakecat.ns.dc WHERE id = 2 AND v = 'b'").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.dc") ==
      Set((1L, "a"), (3L, "c")))
    // MOR proof: the tuple functionally determines the verdict, so
    // the conjunction commits a (id, v) vector alongside v1's files
    assert(v1Files.subsetOf(
      SnapshotTable.read(s2, root, 2).inputFiles.toSet),
      "a deterministic multi-column predicate must commit a tuple " +
        "vector, not rewrite data")
    assert(rows("SELECT id, v FROM lakecat.ns.dc VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a row sharing ONE key column with a deleted tuple must survive
    // (the single-column lowering would have wrongly deleted it)
    import s2.implicits._
    val troot = s"$wh/ns/dt"
    SnapshotTable.commit(s2, troot,
      Seq((1L, "x"), (1L, "y"), (2L, "x")).toDF("id", "v"))
    s2.sql("DELETE FROM lakecat.ns.dt WHERE id = 1 AND v = 'x'").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.dt") ==
      Set((1L, "y"), (2L, "x")),
      "only the exact (id, v) tuple may delete")
  }

  test("DELETE FROM falls back to a COW rewrite when MOR would be " +
       "wrong: NULL-matching predicates and subqueries") {
    // NULL-matching predicate: the anti join is null-unsafe, so the
    // run-time probe must route to COW — and the NULL row must delete
    import s2.implicits._
    val nroot = s"$wh/ns/dn"
    SnapshotTable.commit(s2, nroot,
      Seq((1L, Option("a")), (2L, Option.empty[String])).toDF("id", "v"))
    s2.sql("DELETE FROM lakecat.ns.dn WHERE v IS NULL").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.dn") == Set((1L, "a")),
      "the NULL-matching delete must remove the NULL row (COW path)")
    // a NULL in ANY referenced column of a multi-column predicate
    // also probes to COW
    val mroot = s"$wh/ns/dn2"
    SnapshotTable.commit(s2, mroot,
      Seq((1L, Option("a")), (2L, Option.empty[String]),
        (3L, Option("c"))).toDF("id", "v"))
    s2.sql(
      "DELETE FROM lakecat.ns.dn2 WHERE id >= 2 AND v IS NULL").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.dn2") ==
      Set((1L, "a"), (3L, "c")))
  }

  test("UPDATE assignment coercion honors the ANSI store-assignment " +
       "policy: an overflowing value raises instead of silently nulling") {
    import s2.implicits._
    val root = s"$wh/ns/ansi"
    SnapshotTable.commit(s2, root, Seq((1L, 1)).toDF("id", "n"))
    // 3000000000 parses as BIGINT and cannot fit the INT column;
    // Spark's own DML (storeAssignmentPolicy = ANSI, the default)
    // raises at run time — the snapshot lowering must match, not
    // emit a legacy cast that nulls the value
    assertThrows[Exception](s2.sql(
      "UPDATE lakecat.ns.ansi SET n = 3000000000 WHERE id = 1").collect())
    assert(s2.sql("SELECT n FROM lakecat.ns.ansi").head().getInt(0) == 1,
      "the failed statement must not have committed")
  }

  test("UPDATE with a key-preserving single-column predicate is a MOR " +
       "upsert; key-reassigning and WHERE-less forms rewrite") {
    val root = seed("um")
    val v1Files = SnapshotTable.read(s2, root, 1).inputFiles.toSet
    val v = s2.sql(
      "UPDATE lakecat.ns.um SET v = upper(v) WHERE id >= 2")
      .head().getInt(0)
    assert(v == 2)
    assert(rows("SELECT id, v FROM lakecat.ns.um") ==
      Set((1L, "a"), (2L, "B"), (3L, "C")))
    assert(v1Files.subsetOf(
      SnapshotTable.read(s2, root, 2).inputFiles.toSet),
      "key-preserving UPDATE must commit a vector+insert pair, not " +
        "rewrite the table")
    assert(rows("SELECT id, v FROM lakecat.ns.um VERSION AS OF 1") ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // predicate column reassigned → vector keys (old values) and
    // inserted keys (new values) diverge; must take the rewrite
    s2.sql("UPDATE lakecat.ns.um SET id = id + 10 WHERE id = 2").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.um") ==
      Set((1L, "a"), (12L, "B"), (3L, "C")))
    // WHERE-less UPDATE touches every row
    s2.sql("UPDATE lakecat.ns.um SET v = 'x'").collect()
    assert(rows("SELECT id, v FROM lakecat.ns.um") ==
      Set((1L, "x"), (12L, "x"), (3L, "x")))
  }

  test("snapshot relations inside subqueries lower too: IN-subquery " +
       "SELECT and DELETE driven by another snapshot table") {
    seed("sqa")
    import s2.implicits._
    SnapshotTable.commit(s2, s"$wh/ns/sqb",
      Seq(Tuple1(2L), Tuple1(3L)).toDF("id"))
    assert(rows(
      """SELECT id, v FROM lakecat.ns.sqa
        |WHERE id IN (SELECT id FROM lakecat.ns.sqb)""".stripMargin) ==
      Set((2L, "b"), (3L, "c")),
      "a snapshot read inside a subquery must resolve through the rule")
    s2.sql(
      """DELETE FROM lakecat.ns.sqa
        |WHERE id IN (SELECT id FROM lakecat.ns.sqb)""".stripMargin)
      .collect()
    assert(rows("SELECT id, v FROM lakecat.ns.sqa") == Set((1L, "a")))
  }
}
