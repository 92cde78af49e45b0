package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Derive, Stats}
import graft.schema.CensusSchema
import graft.sink.SnapshotSink

/** Streaming pipeline configuration.
  *
  * @param zThreshold     z-score anomaly cut (reference `> 3`, spark_streaming.py:110)
  * @param trigger        micro-batch trigger (reference 10 s, spark_streaming.py:203,209)
  * @param fused          false = two concurrent queries like the reference (T4,
  *                       source read twice); true = one query fanning out all 8
  *                       sink writes from a single cached batch (the scale mode)
  * @param clock          epoch-seconds clock, injectable for deterministic tests
  *                       (reference `time.time()`, spark_streaming.py:90,128)
  * @param maxFilesPerTrigger  file-source read limit per micro-batch —
  *                       lets Trigger.AvailableNow drain a backlog in
  *                       several bounded batches (the throughput-bench
  *                       and backfill shape) instead of one giant one
  */
final case class PipelineConfig(
    zThreshold: Double = 3.0,
    trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
    fused: Boolean = false,
    clock: () => Double = () => System.currentTimeMillis() / 1000.0,
    maxFilesPerTrigger: Option[Int] = None,
)

/** The engine core — the reference's `spark_streaming.py` re-expressed
  * Spark-first (SURVEY §2.8, §3.1).
  *
  * Semantics preserved exactly: all aggregation is per-micro-batch and
  * stateless across batches; each batch appends timestamped snapshot
  * rows to 8 sink tables, and the read side (graft.read.Dashboard)
  * re-aggregates snapshots over time. No watermarks, no event-time
  * windows — adding them would change late-file behavior (T8).
  *
  * Physics improved deliberately (SURVEY §4): the batch is persisted
  * across the ~8 actions instead of rescanned; raw rows and anomalies
  * are written distributed instead of collected row-at-a-time; emptiness
  * gates use `isEmpty` not `count()`.
  */
final class Pipeline(sink: SnapshotSink, config: PipelineConfig = PipelineConfig()) {

  /** The enrichment projection (processed_df, spark_streaming.py:49-69). */
  def processed(input: DataFrame): DataFrame = Derive.enrich(input)

  /** Stats-query batch body (compute_batch_stats, spark_streaming.py:76-120):
    * one-row global stats snapshot + z-score anomaly rows.
    */
  def computeBatchStats(batch: DataFrame, ts: Double): Unit = {
    // A1 — single distributed agg producing the snapshot row directly;
    // the income counts ride along as pivoted conditional sums (P8's
    // dynamic Mongo keys, as a fixed closed-set wide schema).
    val summary = batch.agg(
        avg("age").as("avg_age"),
        stddev("age").as("stddev_age"),
        min("age").as("min_age"),
        max("age").as("max_age"),
        avg("hours_per_week").as("avg_hours"),
        stddev("hours_per_week").as("stddev_hours"),
        avg("capital_income").as("avg_capital_income"),
        stddev("capital_income").as("stddev_capital_income"),
        sum(when(col("income_category") === "High Income (>50K)", 1).otherwise(0))
          .as("count_high_income"),
        sum(when(col("income_category") === "Low Income (<=50K)", 1).otherwise(0))
          .as("count_low_income"))
      .withColumn("timestamp", lit(ts))
    sink.write("summary_statistics", summary)

    // W1/P6/F1-F3 — two-pass z-score outliers; guard handled inside.
    val outliers = Stats.zScoreOutliers(batch, "hours_per_week", config.zThreshold)
    if (!outliers.isEmpty) {
      sink.write("anomalies", outliers
        .withColumnRenamed("hours_per_week_z_score", "hours_z_score")
        .withColumn("anomaly_type", lit("hours_outlier"))
        .withColumn("z_score", col("hours_z_score"))
        .withColumn("detected_at", lit(ts))
        .drop("timestamp")
        .withColumn("timestamp", lit(ts)))
    }
  }

  /** Agg-query batch body (write_aggregations_to_mongo,
    * spark_streaming.py:123-197): 5 grouped-count/agg snapshots + raw rows.
    */
  def writeAggregations(batch: DataFrame, ts: Double): Unit = {
    def stamped(df: DataFrame): DataFrame = df.withColumn("timestamp", lit(ts))

    sink.write("age_group_distribution",
      stamped(batch.groupBy("age_group").agg(count(lit(1)).as("count"))))
    sink.write("education_income",
      stamped(batch.groupBy("education", "income_category").agg(count(lit(1)).as("count"))))
    sink.write("gender_income",
      stamped(batch.groupBy("gender", "income_category").agg(count(lit(1)).as("count"))))
    sink.write("work_hours",
      stamped(batch.groupBy("work_hours_category").agg(count(lit(1)).as("count"))))
    sink.write("occupation_stats",
      stamped(batch.groupBy("occupation").agg(
        avg("age").as("avg_age"),
        avg("hours_per_week").as("avg_hours"),
        count(lit(1)).as("count"))))
    // X3: reference collects the full batch and insert_one's each row
    // (spark_streaming.py:195-197); we append distributed.
    sink.write("raw_data", stamped(batch.drop("timestamp")))
  }

  /** One fused batch: both bodies over a single persisted scan. */
  def runBatch(batch: DataFrame, epochId: Long): Unit =
    cachedBatch(batch) { (cached, ts) =>
      computeBatchStats(cached, ts)
      writeAggregations(cached, ts)
    }

  /** The wrapper every foreachBatch body runs in: persist the batch,
    * skip it if empty, run `body` at one `clock()` reading, unpersist.
    */
  private def cachedBatch(batch: DataFrame)(body: (DataFrame, Double) => Unit): Unit = {
    val cached = batch.persist()
    try { if (!cached.isEmpty) body(cached, config.clock()) }
    finally { cached.unpersist(); () }
  }

  /** Start the pipeline over a file-stream source (S1) — the reference's
    * deployment shape. `fused=false` mirrors T4: two independent queries,
    * each with its own offset log, reading the source twice.
    */
  def start(spark: org.apache.spark.sql.SparkSession, inputDir: String,
      checkpointRoot: String): Seq[StreamingQuery] = {
    val reader = spark.readStream.schema(CensusSchema.schema)
      .option("header", "false")
    config.maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = processed(reader.csv(inputDir))

    if (config.fused) {
      Seq(stream.writeStream
        .outputMode("update")
        .trigger(config.trigger)
        .option("checkpointLocation", s"$checkpointRoot/fused")
        .foreachBatch { (df: DataFrame, epochId: Long) => runBatch(df, epochId) }
        .start())
    } else {
      val statsQuery = stream.writeStream
        .outputMode("update")
        .trigger(config.trigger)
        .option("checkpointLocation", s"$checkpointRoot/stats")
        .foreachBatch { (df: DataFrame, _: Long) => cachedBatch(df)(computeBatchStats) }
        .start()
      val aggQuery = stream.writeStream
        .outputMode("update")
        .trigger(config.trigger)
        .option("checkpointLocation", s"$checkpointRoot/agg")
        .foreachBatch { (df: DataFrame, _: Long) => cachedBatch(df)(writeAggregations) }
        .start()
      Seq(statsQuery, aggQuery)
    }
  }
}
