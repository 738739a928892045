package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot join keys at scale.
  *
  * AQE's skew-join split handles most skew automatically (it splits
  * oversized shuffle partitions), but it cannot help when a SINGLE KEY
  * is hot on the probe side of a shuffled join: all rows for that key
  * still land in one task. Salting fixes that: the skewed (big) side
  * gets a random salt in [0, s), the small side is replicated s times,
  * and the join key becomes (key, salt) — the hot key fans out over s
  * tasks. Cost: s× replication of the small side, so use only when the
  * small side is modest and the skew is real.
  */
object SkewUtils {

  /** Inner equi-join of a skewed `big` side with a `small` side on
    * `key`, salted `salt` ways. Deterministic given `seed`. Result is
    * row-equivalent to `big.join(small, key)`. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salt: Int, seed: Long = 42L): DataFrame = {
    require(salt > 1, "salt must be > 1")
    val salted = big.withColumn("__salt",
      (rand(seed) * salt).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
