package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one "fits on the driver" decision.
  *
  * Operators with an exact driver-local kernel and a distributed
  * fallback (Tarjan / union-find / Brandes / BFS kernels, the c3
  * linearization, Cypher path search, the fertility segmentation,
  * ingest's merge and enrich) ask
  * [[take]] whether their input fits a row budget. The probe is a
  * `limit(k + 1)` collect, so the driver holds at most k+1 rows: a miss
  * costs one partial scan, never the whole frame, and the distributed
  * arm carries the work. A budget of 0 (or less) answers "does not fit"
  * without a job; specs use it to force the distributed arm.
  *
  * Operators with a `localThreshold` parameter default it to
  * [[DefaultRows]]; operators without one read [[rows]]. Caps that are
  * not an arm choice (the path-search seed cap, the k-means|| candidate
  * bound) pass their own `k`.
  */
object Bounded {

  /** Default row budget of every driver kernel. */
  val DefaultRows: Int = 200000

  /** The session's row budget: `spark.graft.localThreshold`, else
    * [[DefaultRows]]. */
  def rows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.localThreshold").map(_.toInt)
      .getOrElse(DefaultRows)

  /** `Some(f` over every row`)` when `ds` has at most `k` rows, else
    * `None`. Runs exactly one `ds.limit(k + 1).collect()`; `k <= 0`
    * returns `None` without running a job. */
  def take[A, T: ClassTag](ds: Dataset[A], k: Int)(f: A => T)
      : Option[Array[T]] =
    if (k <= 0) None
    else {
      val probe = ds.limit(k + 1).collect()
      if (probe.length <= k) Some(probe.map(f)) else None
    }
}
