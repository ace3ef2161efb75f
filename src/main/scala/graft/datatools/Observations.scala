package graft.datatools

import org.apache.spark.sql.Observation

/** Observed metrics that never silently become 0.
  *
  * An `observe` metric rides the job that materializes its frame, but
  * AQE can drop it: once a shuffle stage materializes empty, the
  * empty-relation propagation re-optimizes the final plan without the
  * CollectMetrics node, and the observation resolves with no metrics
  * at all. Only that case is recounted, by the caller's exact query
  * over the same rows; a present metric costs no extra job.
  */
private[graft] object Observations {

  /** The Long metric `name` of `obs` (blocking until the observed job
    * has run), or `recount` when the observation carries no such
    * metric. A null value — a sum over no rows — is 0.
    */
  def observedOrRecount(obs: Observation, name: String)(recount: => Long): Long =
    obs.get.get(name) match {
      case Some(v: java.lang.Number) => v.longValue()
      case Some(null) => 0L
      case _ => recount
    }
}
