package graft.server

import org.apache.spark.sql.{DataFrame, Row}

/** Hard cap on rows materialized into one response, on every wire — the
  * coordinator-node analogue of the reference's result limits; an
  * unbounded SELECT would otherwise collect the whole table into the
  * server's heap. */
private[server] object WireRows {
  val Max = 100000

  /** `df`'s rows, or an error ending in `hint` when there are more than
    * [[Max]]. */
  def collect(df: DataFrame,
              hint: String = "; add TOP(n) or a filter"): Array[Row] = {
    val rows = df.limit(Max + 1).collect()
    if (rows.length > Max) sys.error(s"result exceeds $Max rows$hint")
    rows
  }
}
