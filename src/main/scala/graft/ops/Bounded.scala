package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one "fits on the driver" decision.
  *
  * Operators with an exact driver-local kernel and a distributed
  * fallback (Tarjan / union-find / Brandes / BFS kernels, the c3
  * linearization, Cypher path search, the fertility segmentation,
  * ingest's merge) ask [[take]] whether their input fits the session's
  * row budget, `spark.graft.localThreshold` ([[rows]]). The probe is a
  * `limit(k + 1)` collect, so the driver holds at most k+1 rows: a miss
  * costs one partial scan, never the whole frame, and the distributed
  * arm carries the work. A budget of 0 (or less) answers "does not fit"
  * without a job, so a session at budget 0 runs every distributed arm.
  *
  * One driver arm takes no probe: [[LocalFold]] evaluates joins, unions
  * and `DISTINCT`s over local relations at optimization time, and reads
  * [[rows]] to abandon a fold whose result, or a join whose key
  * matches, pass the budget (at 0 it folds nothing).
  *
  * Caps that are not an arm choice (the path-search seed cap, the
  * k-means|| candidate bound) pass their own `k`. Five Analytics
  * operators still take a `localThreshold` override for graphbench's
  * analytics suite; it defaults to [[Session]], the session budget.
  */
object Bounded {

  /** Default row budget of every driver kernel. */
  val DefaultRows: Int = 200000

  /** The `k` that stands for the session budget of the probed Dataset:
    * the default of the remaining `localThreshold` overrides. */
  val Session: Int = Int.MinValue

  /** The session's row budget: `spark.graft.localThreshold`, else
    * [[DefaultRows]]. */
  def rows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.localThreshold").map(_.toInt)
      .getOrElse(DefaultRows)

  /** [[take]] against the session budget of `ds`. */
  def take[A, T: ClassTag](ds: Dataset[A])(f: A => T): Option[Array[T]] =
    take(ds, Session)(f)

  /** `Some(f` over every row`)` when `ds` has at most `k` rows (the
    * session budget when `k` is [[Session]]), else `None`. Runs exactly
    * one `ds.limit(k + 1).collect()`; `k <= 0` returns `None` without
    * running a job. */
  def take[A, T: ClassTag](ds: Dataset[A], k: Int)(f: A => T)
      : Option[Array[T]] = {
    val budget = if (k == Session) rows(ds.sparkSession) else k
    if (budget <= 0) None
    else {
      val probe = ds.limit(budget + 1).collect()
      if (probe.length <= budget) Some(probe.map(f)) else None
    }
  }
}
