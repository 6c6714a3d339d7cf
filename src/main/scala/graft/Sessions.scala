package graft

import org.apache.spark.sql.SparkSession

/** The one session the entry-point mains ([[Bench]], [[Verify]],
  * [[PlanDump]]) run in, so correctness dumps and plan evidence come from
  * the session the bench times. */
object Sessions {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition per
    * core, UTC session time and no UI. AQE's coalescing floor is matched to
    * bench scale the same way: the default 1 MB `minPartitionSize` is sized
    * for I/O-bound stages at cluster scale, but at sf0.1 several CPU-dense
    * post-shuffle stages (BM25 weighting, shingle joins) carry 1-4 MB and
    * were coalesced to 1-2 tasks. At 100 TB shuffles dwarf the floor and
    * the knob changes nothing. Results do not depend on partitioning.
    * `extra` confs are applied last. */
  def local(extra: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
