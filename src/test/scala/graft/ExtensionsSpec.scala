package graft

/** GraftExtensions must expose the native expressions to pure-SQL users
  * of a session built with `spark.sql.extensions` ([[SparkSessionSpec.extSpark]]:
  * extensions only apply at session build). */
class ExtensionsSpec extends SparkSessionSpec {

  test("graft_dot and nearest_centroid are callable from spark.sql") {
    assert(extSpark.sql("SELECT graft_dot(array(1d,2d,3d), array(4d,5d,6d)) AS d")
      .head().getDouble(0) == 32.0)
    // length mismatch → NULL, matching the built-in composition
    assert(extSpark.sql("SELECT graft_dot(array(1d,2d), array(1d)) AS d")
      .head().isNullAt(0))
    val cluster = extSpark.sql(
      """SELECT nearest_centroid(array(9d, 9d),
        |  array(array(0d, 0d), array(10d, 10d))) AS c""".stripMargin)
      .head().getInt(0)
    assert(cluster == 1)
    // tie → lowest index (the reference's strict-< scan)
    val tie = extSpark.sql(
      """SELECT nearest_centroid(array(5d),
        |  array(array(4d), array(6d))) AS c""".stripMargin)
      .head().getInt(0)
    assert(tie == 0)
  }
}
