package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.slf4j.LoggerFactory

/** In-plan observability for silent degradation modes (r16 ADVICE on
  * the embcos occupancy cap): operators attach a `Dataset.observe`
  * (a `CollectMetrics` node — zero extra jobs, metrics ride the
  * action's own task accumulators) to the frame whose non-emptiness
  * signals the trade, and the session-level [[SignalsListener]] LOGS
  * a warning whenever such a metric fires.
  *
  * Why a log and not only the metric: the cap's recall trade
  * (a true pair in a split cell survives candidate generation with
  * p = 1-(1-1/k)^L) is invisible in results — a production run on a
  * mass-duplicated corpus would silently lose recall. The warning
  * makes activation a fact in the driver log; the observed metric
  * keeps it machine-readable (`qe.observedMetrics`) for harnesses.
  */
object Signals {
  /** Observed-metric name prefix for embcos occupancy-cap activation.
    * The metric row is (capped_cells: long, max_sub_lanes: int). */
  val EmbcosOccCap = "graft_embcos_occ_cap"

  /** Deterministic per-call-site metric name (r17 ADVICE): a global
    * counter suffix would make two constructions of the SAME query
    * carry differently-named CollectMetrics nodes — no longer
    * plan-canonically equal, defeating the CacheManager dedup the
    * `.shared` regime relies on downstream of the observe. Names must
    * still be unique per DISTINCT frame within one plan tree (Spark
    * rejects one name on two non-equal plans), so each attach site
    * passes its stable variant tag ("raw"/"centered"); exact-duplicate
    * subtrees under one name (self-joins of the observed frame) are
    * explicitly allowed by the analyzer. */
  def metricName(prefix: String, variant: String): String =
    s"${prefix}_$variant"
}

/** The warn-on-activation listener for [[Signals]]. [[GraftSession]]
  * installs it once per session through
  * `spark.sql.queryExecutionListeners`, which instantiates it by class
  * name — hence a named class with a no-arg constructor. */
class SignalsListener extends QueryExecutionListener {
  private val log = LoggerFactory.getLogger(classOf[SignalsListener])

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith(Signals.EmbcosOccCap) &&
          !row.isNullAt(0) && row.getLong(0) > 0L)
        log.warn(
          s"embcos occupancy cap ACTIVE: ${row.getLong(0)} " +
            s"(label, table, bucket) cell(s) split over up to " +
            s"${row.get(1)} sub-lanes — candidate recall for pairs " +
            "inside split cells drops to p = 1-(1-1/k)^L per pair; " +
            "a corpus that triggers this at scale should route to " +
            "the IVF path (q_similarity_ivf)")
    }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
