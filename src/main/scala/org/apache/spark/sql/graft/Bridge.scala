package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ↔ Expression bridge. Spark 4 scopes these conversions
  * `private[sql]`, so third-party Catalyst expressions expose them via a
  * shim inside the sql package tree — the established pattern for Spark
  * extension libraries.
  */
object Bridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every posted listener event has been delivered, so a
    * listener's counters are complete before they are read. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The same DataFrame minus a trailing GLOBAL Sort, when one is the
    * plan's top node (round-15 optimization; see
    * [[graft.SparkEntry.queries]] for the contract argument). A
    * presentation `orderBy` whose output feeds nothing is a removable
    * exchange — a full range-partition shuffle + sort of the final
    * result. Only the TOP node is matched and only when `global =
    * true`: top-k plans (`orderBy().limit()`) carry a Limit above
    * their Sort and pass through unchanged, as do window orderings,
    * `sortWithinPartitions` (global = false), and every mid-plan sort.
    * Row-set identity of stripped vs unstripped plans is pinned by
    * SortStripSpec.
    */
  def stripTopSort(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, true, child, _) =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          child)
      case _ => df
    }

  /** `localCheckpoint` that does NOT inherit the origin plan's
    * statistics.
    *
    * `Dataset.localCheckpoint` truncates the logical plan to a
    * `LogicalRDD` but carries the ORIGIN plan's `Statistics` into it
    * (`originStats`), and size-only estimation MULTIPLIES child
    * sizeInBytes at every join. In an iterative algorithm that joins
    * the running frame and re-checkpoints each round, the checkpointed
    * sizeInBytes is therefore a product of products: its BigInt
    * bit-length DOUBLES per round. Measured in this repo (Spark
    * 4.1.2, 1000-row frame, one join + one aggregate per round):
    * statsBits 27 → 2.2e8 over 24 rounds, with round 24's PLANNING
    * alone taking 46 s in BigInteger.multiply — and the forced-
    * distributed graph_leiden probe (32 bucket-rounds) ran >10 min at
    * sf0.01 with the driver pinned in ToomCook3 multiplication. A
    * 1000-executor cluster hits the identical wall: this is pure
    * driver-side planning cost, invisible at small round counts and
    * fatal past ~25.
    *
    * Fix: rebuild the `LogicalRDD` with `originStats` = the RDD's
    * MATERIALIZED in-memory size when the block manager reports one
    * (a better estimate than the inherited product, and exactly what
    * joins should see), else no stats (defaultSizeInBytes) — both
    * constant-size per round.
    */
  def localCheckpointFreshStats(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint()
    ckpt.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = l.rdd.context
        val measured = session.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => BigInt(math.max(i.memSize + i.diskSize, 1L)))
          // If the block manager does not report the checkpointed RDD,
          // leaving originStats empty makes the LogicalRDD report
          // defaultSizeInBytes (Long.MaxValue) — a tiny frame then
          // never broadcasts and every downstream join goes sort-merge,
          // a silent per-iteration cliff. Fall back to a conservative
          // row-count × flat-schema-width estimate instead (the RDD is
          // already materialized, so the count is a cheap cached scan).
          .orElse {
            logWarning(s"localCheckpointFreshStats: RDD ${l.rdd.id} not " +
              "in block-manager storage info; estimating size from row count")
            val width = l.output.map(_.dataType.defaultSize).sum + 8L
            // The absence that routed us here often MEANS the blocks
            // were evicted — counting a localCheckpoint'd RDD with
            // missing blocks fails hard (lineage is truncated). A stats
            // miss must degrade to "size unknown" (None → LogicalRDD
            // reports defaultSizeInBytes, conservative no-broadcast),
            // never throw during planning.
            scala.util.Try(l.rdd.count()).toOption
              .map(n => BigInt(math.max(n * width, 1L)))
          }
        val spark = ckpt.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          new LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(spark,
            measured.map(m => Statistics(sizeInBytes = m)), None))
      case _ => ckpt
    }
  }
}
