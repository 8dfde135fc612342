package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for the 100 TB posture.
  *
  * First line of defense is AQE's skew-join splitting (enabled in the
  * session configs) — it needs no code. Salting is for the case AQE can't
  * fix: a huge fact table whose hot keys all hash to one reducer joining a
  * replicable-but-not-broadcastable dimension. The fact side spreads each
  * key over `buckets` salts (deterministically, from a unique column, so
  * reruns produce identical partitioning); the dimension side is
  * replicated once per salt. Result is row-identical to the plain join.
  */
object SkewOps {

  /** Equi-join `fact ⋈ dim` on `key`, with the fact side salted into
    * `buckets` sub-keys and the dimension replicated per salt.
    * `uniqueCol` is any fact column with high cardinality (row id) —
    * the deterministic salt source. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      uniqueCol: String, buckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(xxhash64(col(uniqueCol)), lit(buckets)).cast("int"))
    val salts = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(salts, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-stage aggregation for skewed keys where the aggregate state is
    * large (collect-style); algebraic aggs (sum/count/min/max) don't need
    * this — Spark's partial aggregation already combines map-side. */
  def saltedCollectSet(df: DataFrame, key: String, valueCol: String,
      uniqueCol: String, buckets: Int): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(col(uniqueCol)), lit(buckets)))
      .groupBy(col(key), col("_salt"))
      .agg(collect_set(col(valueCol)).as("_partial"))
      .groupBy(col(key))
      .agg(array_distinct(flatten(collect_list(col("_partial")))).as(s"${valueCol}_set"))
}
