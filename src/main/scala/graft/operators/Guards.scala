package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared skew guards for candidate-generation operators. */
object Guards {

  /** Keep only rows whose `key` value appears at most `maxBlock` times —
    * the hot-block cap every blocked self-join needs (a degenerate key
    * would otherwise make the join quadratic on one cluster partition).
    *
    * Implemented as map-side-partial `groupBy(key).count` + join back on
    * the key, NOT `count(*) OVER (PARTITION BY key)`: the window would
    * funnel the entire degenerate block through ONE window task (O(hot
    * block) rows on one executor) before dropping it — the guard itself
    * becoming the skew point. The small-keys relation broadcasts under
    * AQE, and the join key equals the downstream self-join key, so no
    * extra big-side shuffle is introduced.
    *
    * The join is NULL-SAFE (`<=>`): null-key rows form a countable group
    * like any other and survive the cap when that group is small — the
    * same semantics as the window formulation this replaced. A plain
    * equi-join would silently drop every null-key row. Current callers
    * (shingle block keys, LSH buckets) never produce null keys, but as a
    * shared utility the guard must not change row visibility. */
  def capHotKeys(df: DataFrame, key: String, maxBlock: Int): DataFrame = {
    val small = df.groupBy(col(key))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBlock)
      .select(col(key).as("__cap_key"))
    df.join(small, col(key) <=> col("__cap_key")).drop("__cap_key")
  }
}
