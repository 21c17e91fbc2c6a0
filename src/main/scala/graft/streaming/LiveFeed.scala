package graft.streaming

import graft.operators.Merge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's live-price loop
  * (`update_live_price.py` — E2 in SURVEY §3): a micro-batch source of
  * trade rows → validity filter → watermark → last-write-wins dedup →
  * `foreachBatch` upsert into the stored daily-bar table.
  *
  * The reference polls REST every 60 s and rewrites one whole Parquet file
  * per trade (`update_live_price.py:118,289-292`); here the trigger models
  * the poll interval and the merge rewrites only the affected partitions in
  * one Catalyst-planned pass. State stays bounded: the per-key "current
  * price" frame (`ulp:69,164`) becomes the watermarked per-batch `max_by`,
  * not an unbounded `mapGroupsWithState` (SURVEY §7.3.5).
  */
object LiveFeed {

  /** Incoming trade shape (`update_live_price.py:153-165`). */
  val tradeSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("ts", TimestampType)))

  /** File-based micro-batch source standing in for the REST poll
    * (`ulp:126-157`); each dropped file is one poll response.
    */
  def readTrades(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(tradeSchema)
      .option("maxFilesPerTrigger", 16)
      .json(dir)

  /** DataSourceV2 micro-batch source for the same poll loop — the
    * in-engine connector ([[graft.sources.BarFeedProvider]] with
    * `feed=trades`): each micro-batch is one sweep over every subscribed
    * symbol, fanned out one input partition per symbol batch
    * (`download_historical_price.py:322-335` batching), with the trigger
    * interval as the poll cadence (`ulp:118`: 60 s).
    */
  def readTradesFeed(
      spark: SparkSession,
      symbols: Seq[String],
      maxPolls: Int = Int.MaxValue,
      batchSize: Int = 10): DataFrame =
    spark.readStream
      .format("graft.sources.BarFeedProvider")
      .option("feed", "trades")
      .option("symbols", symbols.mkString(","))
      .option("batchSize", batchSize)
      .option("maxPolls", maxPolls)
      .load()

  /** Validity predicate (`ulp:160-161`): non-null, non-NaN price and ts. */
  def validTrades(trades: DataFrame): DataFrame =
    trades.filter(
      col("price").isNotNull && !isnan(col("price")) && col("ts").isNotNull)

  /** Start the upsert stream: every micro-batch is reduced last-write-wins
    * per (symbol, day) and merged into the stored bar table at
    * `storedDir` — the batch `Merge.upsertDailyClose` is reused verbatim,
    * so streaming and batch semantics cannot drift apart.
    *
    * PARTITION-INCREMENTAL: `storedDir` must be a `day=`-partitioned
    * Parquet dataset (write the seed with `.partitionBy("day")`). Each
    * micro-batch reads and republishes ONLY the partitions whose days
    * appear in the batch (see [[startUpsertFrom]]). The reference rewrites
    * one whole per-symbol file per trade (`update_live_price.py:289-292`);
    * this is the same replace idea at day-partition granularity.
    */
  def startUpsert(
      spark: SparkSession,
      inputDir: String,
      storedDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startUpsertFrom(spark, readTrades(spark, inputDir), storedDir, checkpointDir, trigger)

  /** Complement of [[validTrades]] — the rows the reference shunts into
    * its invalid-symbol registry (`update_live_price.py:170-179`).
    */
  def invalidTrades(trades: DataFrame): DataFrame =
    trades.filter(
      col("price").isNull || isnan(col("price")) || col("ts").isNull)

  /** Same upsert loop over ANY streaming trade source — used with
    * [[readTradesFeed]] to run the reference's E2 pipeline end-to-end
    * in-engine: DSv2 poll feed → validity → watermark → per-day merge.
    *
    * `storedDir` must exist, with its final schema, when the stream starts:
    * the schema is resolved from it once, and every epoch reads only the
    * `day=<yyyy-MM-dd>` directories its batch touches, by path, against
    * that schema. Listing and footer I/O per epoch are therefore
    * O(touched days), not O(store); a touched day the store lacks reads as
    * empty and is created by the publish. Each micro-batch is persisted
    * for the epoch, so the dead-letter write, the touched-day collect and
    * the merge share one scan of the source.
    *
    * @param deadLetterDir when set, each micro-batch's INVALID rows
    *        (null/NaN price, null ts) are written there as Parquet keyed
    *        by batch_id — the streaming dead-letter analogue of the
    *        reference's invalid-symbol registry growth (`ulp:170-179`):
    *        nothing is silently dropped, and because foreachBatch is
    *        at-least-once, each epoch overwrites ITS OWN batch_id
    *        partition so replays cannot double-count rejects.
    */
  def startUpsertFrom(
      spark: SparkSession,
      trades: DataFrame,
      storedDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetterDir: Option[String] = None): StreamingQuery = {
    // Heal any mid-swap crash from a previous run BEFORE the first batch:
    // an interrupted publish leaves a partition aside-copied and invisible,
    // and merging against the partial store would lose its rows.
    val root = new Path(storedDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicSwap.recover(fs, root)
    // The only whole-store listing and footer read of the stream's life.
    val storedSchema = spark.read.parquet(storedDir).schema
    trades
      .withWatermark("ts", "1 day")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, batchId: Long) =>
        // The dead-letter write, the day collect and the merge all read the
        // batch; persisted, they share one scan of the source.
        raw.persist()
        try {
          deadLetterDir.foreach { d =>
            // Keyed by batch id with dynamic partition overwrite so an
            // at-least-once replay of the epoch REWRITES its own partition
            // instead of appending duplicate reject rows.
            invalidTrades(raw)
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(d)
          }
          val incoming = validTrades(raw)
            .select(col("symbol"), to_date(col("ts")).as("day"), col("price"), col("ts"))
          // The touched-day list is partition METADATA, not data: bounded by
          // the watermark (~2 calendar days per batch), same driver-side
          // footprint dynamic partition overwrite itself needs.
          val days = incoming.select(col("day").cast("string")).distinct().collect()
            .map(_.getString(0))
          if (days.nonEmpty) {
            // Touched days by path, against the schema resolved at start:
            // no epoch lists the store or infers a schema from footers.
            val paths = days.toIndexedSeq.map(d => new Path(root, s"day=$d"))
              .filter(fs.exists).map(_.toString)
            val stored =
              if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), storedSchema)
              else spark.read.schema(storedSchema).option("basePath", storedDir).parquet(paths: _*)
            val merged = Merge
              .upsertDailyClose(stored, incoming, Seq("symbol", "day"), "price", "ts", "adj_close")
            // Crash-safe per-partition publish mirroring the reference's
            // tmp+os.replace (`ulp:289-292`) at day granularity: stage the
            // touched partitions, then aside-swap each one into place
            // (graft.sources.AtomicSwap — every crash window is recoverable
            // by AtomicSwap.recover at restart). Untouched partitions are
            // never read, written, or renamed.
            val tmp = new Path(storedDir + ".tmp")
            merged.write.mode("overwrite").partitionBy("day").parquet(tmp.toString)
            fs.listStatus(tmp)
              .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
              .foreach { part =>
                graft.sources.AtomicSwap.publish(
                  fs, part.getPath, new Path(root, part.getPath.getName))
              }
            fs.delete(tmp, true)
          }
        } finally raw.unpersist()
        ()
      }
      .start()
  }

  /** Watermarked tumbling-window aggregate — the streaming twin of the
    * batch `s1_tumbling_window` query (same expressions under `readStream`).
    */
  def windowedCounts(trades: DataFrame): DataFrame =
    trades
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("symbol"))
      .agg(count(lit(1)).as("n_trades"), max_by(col("price"), col("ts")).as("last_price"))
}
