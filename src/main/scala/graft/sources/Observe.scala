package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** Free-ride audit metrics ([[org.apache.spark.sql.Dataset.observe]]):
  * attach named aggregates to a frame that are computed DURING whatever
  * action later drives it — an audit (row count, checksum, null tally)
  * that costs zero extra passes. At 100 TB the alternative is a second
  * full scan per audit; observe rides the pass the job already pays
  * for, the same way the CDC merge observes its op counts on its
  * change-feed write instead of re-scanning.
  *
  * Batch usage: `val t = Observe.tagged(df, "ingest", "rows" -> count(
  * lit(1)), "sum_qty" -> sum($"qty"))`, run any action on a frame built
  * over `t`, then `Observe.metricsOf(t, "ingest")`. The metrics row
  * materializes on the Dataset the action ran on; streaming queries get
  * the same metrics per micro-batch via
  * `StreamingQueryProgress.observedMetrics` (no code change — observe
  * is the one API that spans both).
  *
  * Contract notes: metrics must be aggregates over the tagged frame
  * (analysis error otherwise, never silence), and a frame driven twice
  * reports the LATEST run's values. */
object Observe {

  /** Tag `df` with observed metrics under `name`. Aliases each metric
    * column so [[metricsOf]] can return them by the caller's key. */
  def tagged(df: DataFrame, name: String,
      metrics: (String, Column)*): DataFrame = {
    require(metrics.nonEmpty, "observe needs at least one metric")
    val aliased = metrics.map { case (n, c) => c.as(n) }
    df.observe(name, aliased.head, aliased.tail: _*)
  }

  /** The observed metrics named `name` from `driven`'s LAST completed
    * action, keyed by metric name. `driven` is the frame the action ran
    * on — the tagged frame itself, or ANY frame built over it (the
    * observe node travels inside the plan, so a downstream
    * filter/agg/join execution still materializes the audit). Before
    * any action the values read as the aggregates' zeros (count → 0,
    * sum → null) — treat a zero row count as "not yet run" when that
    * matters. */
  def metricsOf(driven: DataFrame, name: String): Option[Map[String, Any]] =
    driven.queryExecution.observedMetrics.get(name)
      .map(row => row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq))
}
