package graft

import graft.sources.SnapshotTable

/** Routing proofs for [[graft.operators.Pipeline.pipelineSnapshotDmlCycle]]
  * — the oracle pins the VALUES; these pin the MECHANISM the query
  * claims to measure (the ladder family's whole point):
  *  - the single-column DELETE and the tuple-keyed UPDATE must lower
  *    MERGE-ON-READ (v1's data files carried by reference, never
  *    rewritten),
  *  - compact must publish a fresh file set (a real rewrite) that
  *    drops every carried v1 file,
  *  - a repeat run must start from scratch (no build-once gate — the
  *    WRITE path is what the ladder times).
  */
class DmlCycleSpec extends SparkSessionSpec {

  // the cycle issues catalog SQL DML, which resolves through the
  // injected ResolveSnapshotSql rule — needs a GraftExtensions session
  // (the driver's Verify/Bench sessions carry the extension the same way)
  private def root: String = {
    val n = graft.Tables.cachedCount(extSpark, sf0001, "documents")
    val key = sf0001.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${graft.sources.Artifacts.root(extSpark)}/dmlcyc_${key}_n$n/raw/docs"
  }

  test("DML cycle: MOR statements carry v1 files, compact rewrites them") {
    operators.Pipeline.pipelineSnapshotDmlCycle(extSpark, sf0001).collect()
    assert(SnapshotTable.latestVersion(extSpark, root).contains(4),
      "cycle must land exactly 4 versions (commit, delete, update, compact)")
    val v1Files = SnapshotTable.read(extSpark, root, 1).inputFiles.toSet
    // MOR proofs: both DML versions still reference v1's data files
    assert(v1Files.subsetOf(
      SnapshotTable.read(extSpark, root, 2).inputFiles.toSet),
      "single-column DELETE must commit a vector, not rewrite data")
    assert(v1Files.subsetOf(
      SnapshotTable.read(extSpark, root, 3).inputFiles.toSet),
      "tuple-keyed UPDATE must commit a vector + insert image, not " +
        "rewrite data")
    // compact proof: version 4 is a fresh single file set — none of
    // v1's files survive in its read
    val v4Files = SnapshotTable.read(extSpark, root, 4).inputFiles.toSet
    assert(v4Files.nonEmpty && v4Files.intersect(v1Files).isEmpty,
      "compact must publish a rewritten file set")
  }

  test("DML cycle has no build-once gate: a repeat run rebuilds") {
    operators.Pipeline.pipelineSnapshotDmlCycle(extSpark, sf0001).collect()
    val v1FilesA = SnapshotTable.read(extSpark, root, 1).inputFiles.toSet
    operators.Pipeline.pipelineSnapshotDmlCycle(extSpark, sf0001).collect()
    assert(SnapshotTable.latestVersion(extSpark, root).contains(4),
      "repeat run must land the same 4-version history")
    val v1FilesB = SnapshotTable.read(extSpark, root, 1).inputFiles.toSet
    assert(v1FilesA.intersect(v1FilesB).isEmpty,
      "repeat run must write fresh files (attempt-unique sets), not " +
        "reuse the previous table")
  }
}
