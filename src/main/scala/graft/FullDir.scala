package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds a FULL `factor`-times replication of one driver SF dir — all
  * ten tables, not just the documents/embeddings pair the scale ladder
  * perturbs — so the ENTIRE query board can be benched at sf-equivalent
  * scales the driver does not ship (x10 of sf0.1 ≈ sf1).
  *
  * Replication preserves the shapes that make timings meaningful:
  *  - Fact tables key-shift per replica (`key + rep·n`), so join
  *    fan-outs, group counts and key cardinalities scale linearly and
  *    referential integrity holds (each replica joins its own replica
  *    of the parent table — the structure of a genuinely larger run).
  *  - Dimension tables (`region`, `nation`) stay fixed, exactly like
  *    TPC-H across SFs; foreign keys into them are left unshifted, so
  *    per-nation groups grow 10× rather than nation count growing.
  *  - Date/timestamp columns keep the source range (TPC-H semantics:
  *    bigger SF = denser history, not longer), so date-filter
  *    selectivities are preserved.
  *  - `documents`/`embeddings` take the ladder's perturbation
  *    ([[BenchLadder.replicateDocs]]/[[BenchLadder.replicateEmb]]):
  *    replicas are pairwise-dissimilar at every near-dup unit, so
  *    candidate structure scales linearly, not quadratically;
  *    `n_chars` is recomputed over the perturbed text.
  *
  * Usage: `FullDir <factor> [srcDir]` → writes
  * `<artifacts-root>/full_x<factor>/<table>.parquet`, gated by a
  * `_FULL_DONE` marker, and prints the dir path on stdout. */
object FullDir {

  private val Shifted: Map[String, Seq[(String, String)]] = Map(
    // table -> (column, countOf) pairs: column += rep * count(countOf)
    "customer" -> Seq("c_custkey" -> "customer"),
    "supplier" -> Seq("s_suppkey" -> "supplier"),
    "part" -> Seq("p_partkey" -> "part"),
    "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier"),
    "events" -> Seq("event_id" -> "events", "user_id" -> "user_id"))

  def build(spark: SparkSession, src: String, factor: Int): String = {
    val dir = s"${graft.sources.Artifacts.root(spark)}/full_x$factor"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val done = new org.apache.hadoop.fs.Path(s"$dir/_FULL_DONE")
    if (fs.exists(done)) return dir

    def tbl(name: String) = spark.read.parquet(s"$src/$name.parquet")
    val counts: Map[String, Long] =
      (Seq("customer", "supplier", "part", "orders", "events")
        .map(t => t -> tbl(t).count()) :+
        // user ids are a dense small domain, not 1:1 with events rows:
        // shift by the domain size so replica user-graphs stay disjoint
        ("user_id" -> (tbl("events").agg(max(col("user_id")))
          .head().getLong(0) + 1L))).toMap

    def out(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    Seq("region", "nation").foreach(t => out(t, tbl(t)))
    Shifted.foreach { case (name, shifts) =>
      val src0 = tbl(name)
      val reps = spark.range(factor).select(col("id").as("rep"))
      val rep = shifts.foldLeft(src0.crossJoin(reps)) {
        case (df, (c, of)) =>
          df.withColumn(c, col(c) + col("rep") * counts(of))
      }.drop("rep")
      out(name, rep)
    }
    out("documents",
      BenchLadder.replicateDocs(tbl("documents"), factor)
        .withColumn("n_chars", length(col("text"))))
    out("embeddings", BenchLadder.replicateEmb(tbl("embeddings"), factor))
    fs.create(done).close()
    dir
  }

  def main(args: Array[String]): Unit = {
    val factor = args(0).toInt
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.get()
    println(build(spark, src, factor))
    Caches.releaseAll(spark)
    spark.stop()
  }
}
