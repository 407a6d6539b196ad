package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins (SURVEY §7.5; prompt: "salting for
  * skew"). Spark's AQE skew-join splits oversized shuffle partitions
  * at runtime, which covers most cases; explicit salting remains the
  * tool when one join key is so hot that even a split partition's
  * build side won't fit, or when AQE is unavailable (e.g., inside a
  * cached/checkpointed subtree).
  */
object Skew {

  /** Equi-join `big ⋈ small` on `key`, salted `salt` ways:
    * each big-side row gets a deterministic salt from hashing
    * `distributeBy` (a high-cardinality column — a row id), spreading
    * a hot key over `salt` reduce partitions; the small side is
    * replicated ×salt so every (key, salt) bucket finds its match.
    * Result is row-identical to the plain join. Cost: small side
    * shuffles ×salt — use only for the skewed keys' table, keep salt
    * modest (8–32).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salt: Int, distributeBy: String): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(Hashing.h32(col(distributeBy).cast("string")), lit(salt)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
