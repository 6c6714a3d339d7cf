package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AlsScoring

/** Continuous model-quality evaluation: the streaming face of the MSE job
  * (als-ms/MSE.java:26-83 runs it as a batch job against served state; here
  * each rating micro-batch is scored against the CURRENT store snapshot and
  * appends one (batch_id, mse, n) row to the metrics sink).
  *
  * Each missing user or item key falls back to its served MEAN row when
  * that row is present — the per-lookup orElse(MEAN) of MSE.java:129-158. */
object StreamingEvaluator {

  /** Per-batch MSE rows are delivered to `onResult` (batchId, mse, count).
    * Ratings arrive as "user,item,rating" lines; malformed rows are dropped
    * before scoring, so (mse, n) cover the same rows. */
  def mseStream(spark: SparkSession, ratingLines: DataFrame,
                store: ServingStore.FactorStore,
                onResult: (Long, Double, Long) => Unit): StreamingQuery =
    ServingStore.eachBatch(ratingLines, None) { (batch, batchId) =>
      val row = AlsScoring.mse(ServingStore.scoreRatings(batch, store).scored).collect()(0)
      if (!row.isNullAt(0)) onResult(batchId, row.getDouble(0), row.getLong(1))
    }
}
