package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Deterministic presentation ordering for verification outputs.
  *
  * A global ORDER BY plans a range-partitioned sort whose sampling pass
  * RE-EXECUTES the entire query child to estimate bounds — fine when the
  * sorted result is the product (100 TB ETL output), pure tax when the
  * ordering only exists so the oracle can hash-compare rows. Verification
  * outputs are small (aggregates, pair lists, capped scans), so one
  * round-robin shuffle to a single partition + in-partition sort gives
  * the same total order with the query executed exactly once.
  *
  * The single-partition form is applied ONLY when the input is provably
  * presentation-small (metadata probe below, the same leaf rule as
  * Engine.spread); a provably large input keeps the scalable range sort
  * — identical total order, it just parallelizes — so no declared query
  * funnels a cluster-scale result through one task. Every call site uses
  * a TOTAL order (unique tiebreak columns), so either physical form
  * yields the identical row sequence.
  */
object Present {

  /** Above this provable input size (bytes summed over scan leaves,
    * metadata only) the presentation sort stays a range sort. Local
    * testdata is ≤ tens of MB, so the bound never flips a local plan;
    * a 100 TB table flips every scan-shaped pipeline. */
  private[graft] val MaxSmallBytes: Long = 1L << 30

  /** Metadata-only largeness probe over `Engine.leafScale`: leaf bytes
    * sum, saturating (a source that cannot say reports `Long.MaxValue`);
    * a checkpoint is large when it has over 4x the partitions a local
    * one ever gets (≤ `defaultParallelism`): a far wider cluster made
    * it. Shapes with no scan leaf stay "small": every such call site is
    * an aggregate/pair output bounded well below its input. */
  private[graft] def provablyLarge(df: DataFrame, maxSmallBytes: Long): Boolean = {
    val wide = 4L * df.sparkSession.sparkContext.defaultParallelism
    val leaves = df.queryExecution.analyzed.collectLeaves()
      .flatMap(Engine.leafScale)
    val bytes = leaves.flatMap(_.bytes).foldLeft(0L) { (sum, b) =>
      if (b > Long.MaxValue - sum) Long.MaxValue else sum + b
    }
    bytes > maxSmallBytes ||
      leaves.exists(l => l.bytes.isEmpty && l.tasks().exists(_ > wide))
  }

  /** `cols` order for presentation under an explicit size bound. */
  private[graft] def sorted(df: DataFrame, maxSmallBytes: Long,
                            cols: Seq[Column]): DataFrame =
    if (provablyLarge(df, maxSmallBytes)) df.orderBy(cols: _*)
    else df.repartition(1).sortWithinPartitions(cols: _*)

  implicit class PresentOps(private val df: DataFrame) extends AnyVal {
    def presentSorted(cols: Column*): DataFrame = sorted(df, MaxSmallBytes, cols)
    def presentSorted(c: String, cs: String*): DataFrame =
      sorted(df, MaxSmallBytes, (c +: cs).map(col))
  }
}
