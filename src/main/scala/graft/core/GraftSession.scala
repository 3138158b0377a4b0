package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine — the one place a `SparkSession` is
  * built, so every entry point (Bench, Verify, PlanDump, PlatformE2E,
  * ClusterParity) runs under the same config.
  *
  * Scale posture (SURVEY.md §4): AQE on (runtime coalesce + skew-join
  * handling), dynamic partition overwrite (idempotent per-partition
  * backfill — the reference's `replace=True` semantics,
  * dags/common/s3_utils.py:7-14), UTC session timezone (oracle parity).
  * `shuffle.partitions` defaults to the local core count; on a real
  * cluster this is overridden to ~2-3× total executor cores and AQE
  * coalesces down.
  */
object GraftSession {
  /** Local thread count (and default shuffle partitions) from
    * `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A positive integer, or an error naming the variable: the value lands
    * in `local[...]`, in JSON lines and in artifact file names, so `*` or
    * `0` must not get that far. */
  def parseCpus(raw: Option[String]): Int = raw.fold(32) { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def builder(master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"),
              shufflePartitions: Int = cpus)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // zstd beats snappy ~30% at-rest at comparable scan speed — at
      // 100 TB that is tens of TB of storage and proportional scan IO;
      // decode cost is amortized inside the columnar reader
      .config("spark.sql.parquet.compression.codec", "zstd")
      // selective-join runtime bloom prefilter (the engine-level twin of
      // DedupOps.bloomDeltaNew) — plan-asserted in PlanQualitySpec
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
}
