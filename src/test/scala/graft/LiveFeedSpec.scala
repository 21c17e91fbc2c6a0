package graft

import graft.operators.Merge
import graft.streaming.LiveFeed
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** E2-shaped end-to-end: file-source trade stream → foreachBatch upsert →
  * final stored table equals the batch-merge golden output (SURVEY §5.2).
  * The store is day-partitioned and the upsert must be partition-
  * incremental: micro-batches may only touch the partitions whose days they
  * carry.
  */
class LiveFeedSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)
  private def ts(s: String) = Timestamp.valueOf(s)

  /** (path, size, mtime) of every data file under a partition dir. */
  private def partFiles(dir: String): Seq[(String, Long, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .toSeq.sortBy(_._1)
    }
  }

  private val barCols = Seq("symbol", "day", "open", "high", "low", "adj_close", "volume")

  /** Seed `storedDir` with an AAPL and a MSFT bar on each of the `nDays`
    * days up to 2024-03-31, one file per day.
    */
  private def seedStore(storedDir: String, nDays: Int): DataFrame = {
    val last = java.time.LocalDate.parse("2024-03-31")
    val bars = for (i <- 0 until nDays; s <- Seq("AAPL", "MSFT"))
      yield (s, Date.valueOf(last.minusDays(i)), 1.0 + i, 2.0 + i, 0.5 + i, 1.5 + i, 100L * i)
    val df = bars.toDF(barCols: _*)
    df.repartition(col("day")).write.mode("overwrite").partitionBy("day").parquet(storedDir)
    df
  }

  /** Write one poll file per element, oldest first: the file source takes
    * files in modification-time order, so file i is epoch i.
    */
  private def writePolls(in: String, polls: Seq[Seq[String]]): Unit = {
    Files.createDirectories(Paths.get(in))
    val t0 = System.currentTimeMillis() - polls.size * 1000L
    polls.zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(f"$in/poll-$i%02d.json")
      Files.writeString(f, lines.mkString("", "\n", "\n"))
      f.toFile.setLastModified(t0 + i * 1000L)
    }
  }

  /** Drain `in` one poll file per epoch into `storedDir`, rejects to `dead`. */
  private def drain(in: String, storedDir: String, ckpt: String, dead: String): StreamingQuery = {
    val trades = spark.readStream.schema(LiveFeed.tradeSchema)
      .option("maxFilesPerTrigger", 1).json(in)
    val q = LiveFeed.startUpsertFrom(spark, trades, storedDir, ckpt, deadLetterDir = Some(dead))
    q.awaitTermination(120000)
    q
  }

  private def trade(sym: String, price: String, ts: String) =
    s"""{"symbol":"$sym","price":$price,"ts":"$ts"}"""

  /** Three polls over a store ending 2024-03-31: an update of the last
    * stored day, a new day plus a late correction, then the new day again;
    * each poll has its own size and one reject (NaN price or missing ts).
    */
  private val threePolls = Seq(
    Seq(trade("AAPL", "10.5", "2024-03-31T15:00:00.000Z"),
      trade("MSFT", "20.5", "2024-03-31T15:00:00.000Z"),
      trade("BADP", "NaN", "2024-03-31T15:00:00.000Z")),
    Seq(trade("AAPL", "11.0", "2024-04-01T10:00:00.000Z"),
      trade("MSFT", "21.0", "2024-04-01T10:00:00.000Z"),
      trade("MSFT", "20.75", "2024-03-31T23:00:00.000Z"),
      """{"symbol":"BADT","price":1.0}"""),
    Seq(trade("AAPL", "11.25", "2024-04-01T10:05:00.000Z"),
      trade("MSFT", "21.25", "2024-04-01T10:05:00.000Z"),
      trade("GOOG", "30.0", "2024-04-01T10:05:00.000Z"),
      trade("TSLA", "40.0", "2024-04-01T10:05:00.000Z"),
      trade("BADP", "NaN", "2024-04-01T10:05:00.000Z")))

  /** Block until `seen` holds every job started before this call: a marker
    * job runs after them, and listener events arrive in order.
    */
  private def flushJobs(seen: ConcurrentLinkedQueue[String]): Unit = {
    val marker = s"flush-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobDescription(marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!seen.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(seen.contains(marker), "listener bus did not deliver the marker job")
  }

  test("no whole-store listing per epoch; untouched partitions byte-identical") {
    val root = Files.createTempDirectory("livefeed-list").toString
    val storedDir = s"$root/stored"
    // 40 day partitions: above the 32-directory threshold past which Spark
    // lists a directory's children with a "Listing leaf files" job
    seedStore(storedDir, 40)
    writePolls(s"$root/in", threePolls)
    val untouched = (1 until 40).map { i =>
      val dir = s"$storedDir/day=${java.time.LocalDate.parse("2024-03-31").minusDays(i)}"
      dir -> partFiles(dir)
    }
    assert(untouched.forall(_._2.nonEmpty))

    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    val q =
      try {
        val q = drain(s"$root/in", storedDir, s"$root/ckpt", s"$root/dead")
        flushJobs(descriptions)
        q
      } finally spark.sparkContext.removeSparkListener(listener)

    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    val listings = descriptions.asScala.count(d =>
      d.startsWith("Listing leaf files") && d.contains(storedDir))
    // the one-time schema resolution at start, never one per epoch
    assert(listings <= 1, s"$listings store listings over 3 epochs")
    untouched.foreach { case (dir, files) => assert(partFiles(dir) == files, dir) }
  }

  test("one scan per micro-batch: each epoch's input rows equal its poll file's rows") {
    val root = Files.createTempDirectory("livefeed-scan").toString
    val storedDir = s"$root/stored"; val dead = s"$root/dead"
    seedStore(storedDir, 3)
    writePolls(s"$root/in", threePolls)
    val q = drain(s"$root/in", storedDir, s"$root/ckpt", dead)

    val perEpoch = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      .map(_.numInputRows).toSeq
    assert(perEpoch == threePolls.map(_.size.toLong))
    // conservation: every polled row is either dead-lettered or valid
    val polled = spark.read.schema(LiveFeed.tradeSchema).json(s"$root/in")
    val valid = LiveFeed.validTrades(polled).count()
    val deadRows = spark.read.parquet(dead)
    assert(deadRows.count() + valid == perEpoch.sum)
    assert(deadRows.groupBy("batch_id").count().orderBy("batch_id")
      .select("count").as[Long].collect().toSeq == Seq(1L, 1L, 1L))
  }

  test("touched days absent from the store read as empty; the store schema is stable") {
    val root = Files.createTempDirectory("livefeed-new").toString
    val storedDir = s"$root/stored"
    val stored = seedStore(storedDir, 2) // 2024-03-30 and 2024-03-31
    val schemaOf = () => spark.read.parquet(storedDir).schema.fields
      .map(f => f.name -> f.dataType).toSet
    val before = schemaOf()
    assert(before.contains("day" -> DateType))
    val polls = Seq(
      // every touched day is new
      Seq(trade("AAPL", "50.0", "2024-04-02T10:00:00.000Z"),
        trade("GOOG", "60.0", "2024-04-03T10:00:00.000Z")),
      // an existing day, a day the first epoch created, and a new day
      Seq(trade("MSFT", "70.0", "2024-03-31T15:00:00.000Z"),
        trade("AAPL", "51.0", "2024-04-02T11:00:00.000Z"),
        trade("TSLA", "80.0", "2024-04-04T10:00:00.000Z")))
    writePolls(s"$root/in", polls)
    drain(s"$root/in", storedDir, s"$root/ckpt", s"$root/dead")

    val incoming = LiveFeed.validTrades(
      spark.read.schema(LiveFeed.tradeSchema).json(s"$root/in"))
      .select(col("symbol"), to_date(col("ts")).as("day"), col("price"), col("ts"))
    val golden = Merge
      .upsertDailyClose(stored, incoming, Seq("symbol", "day"), "price", "ts", "adj_close")
      .select(barCols.map(col): _*).orderBy("symbol", "day").collect().toSeq
    val got = spark.read.parquet(storedDir)
      .select(barCols.map(col): _*).orderBy("symbol", "day").collect().toSeq
    assert(got == golden)
    assert(got.size == 4 + 3)
    // Parquet resolves columns by name, so compare names and types
    assert(schemaOf() == before)
  }

  test("streamed upsert equals batch merge golden; untouched partitions untouched") {
    val root = Files.createTempDirectory("livefeed").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))

    val stored = Seq(
      // day 2024-01-01: never referenced by any trade — must not be rewritten
      ("GOOG", d("2024-01-01"), 5.0, 6.0, 4.0, 5.5, 500.0),
      ("AAPL", d("2024-01-02"), 10.0, 12.0, 9.0, 11.0, 1000.0),
      ("MSFT", d("2024-01-02"), 20.0, 22.0, 19.0, 21.0, 2000.0)
    ).toDF("symbol", "day", "open", "high", "low", "adj_close", "volume")
    stored.write.mode("overwrite").partitionBy("day").parquet(storedDir)
    val untouchedBefore = partFiles(s"$storedDir/day=2024-01-01")
    assert(untouchedBefore.nonEmpty)

    // one poll response: an update, a NaN reject, and a new-key insert
    Files.writeString(Paths.get(s"$in/batch0.json"),
      """{"symbol":"AAPL","price":99.5,"ts":"2024-01-02T15:59:00.000Z"}
        |{"symbol":"AAPL","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
        |{"symbol":"TSLA","price":50.0,"ts":"2024-01-03T10:00:00.000Z"}
        |""".stripMargin)

    val q = LiveFeed.startUpsert(spark, in, storedDir, ckpt)
    q.awaitTermination(120000)

    val cols = Seq("symbol", "day", "open", "high", "low", "adj_close", "volume")
    val got = spark.read.parquet(storedDir)
      .select(cols.map(col): _*).orderBy("symbol", "day").collect().toSeq

    val incoming = Seq(
      ("AAPL", d("2024-01-02"), 99.5, ts("2024-01-02 15:59:00")),
      ("TSLA", d("2024-01-03"), 50.0, ts("2024-01-03 10:00:00"))
    ).toDF("symbol", "day", "price", "ts")
    val golden = Merge
      .upsertDailyClose(stored, incoming, Seq("symbol", "day"), "price", "ts", "adj_close")
      .select(cols.map(col): _*).orderBy("symbol", "day").collect().toSeq

    assert(got == golden)
    // the NaN trade must have been rejected, not merged
    val aapl = got.find(_.getString(0) == "AAPL").get
    assert(aapl.getDouble(aapl.fieldIndex("adj_close")) == 99.5)
    // partition-incremental contract: the untouched day's files are the
    // SAME files (path, size, mtime) — not a byte was rewritten
    assert(partFiles(s"$storedDir/day=2024-01-01") == untouchedBefore)
    // touched + new partitions exist
    assert(partFiles(s"$storedDir/day=2024-01-03").nonEmpty)
  }

  test("processing-time trigger merges successive micro-batches (60s poll model)") {
    // Models the reference's 60 s polling loop (`update_live_price.py:118,192`)
    // with a compressed interval: two poll responses arriving in separate
    // trigger firings must both land via the same merge path.
    val root = Files.createTempDirectory("livefeed3").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))

    val stored = Seq(("AAPL", d("2024-01-02"), 10.0, 11.0))
      .toDF("symbol", "day", "open", "adj_close")
    stored.write.mode("overwrite").partitionBy("day").parquet(storedDir)

    Files.writeString(Paths.get(s"$in/poll0.json"),
      """{"symbol":"AAPL","price":42.0,"ts":"2024-01-02T15:00:00.000Z"}""" + "\n")

    val q = LiveFeed.startUpsert(spark, in, storedDir, ckpt,
      trigger = Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      val mid = spark.read.parquet(storedDir).filter($"symbol" === "AAPL")
        .select("adj_close").as[Double].collect().toSeq
      assert(mid == Seq(42.0))

      // second poll: a later trade the next trigger firing must pick up
      Files.writeString(Paths.get(s"$in/poll1.json"),
        """{"symbol":"AAPL","price":43.5,"ts":"2024-01-02T15:01:00.000Z"}""" + "\n")
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()

    val fin = spark.read.parquet(storedDir)
      .select("symbol", "day", "open", "adj_close")
      .orderBy("symbol", "day").as[(String, Date, Double, Double)].collect().toSeq
    assert(fin == Seq(("AAPL", d("2024-01-02"), 10.0, 43.5)))
  }

  test("invalid trades land in the dead-letter side-output, valid ones merge") {
    val root = Files.createTempDirectory("livefeed4").toString
    val in = s"$root/in"; val storedDir = s"$root/stored"
    val ckpt = s"$root/ckpt"; val dead = s"$root/dead"
    Files.createDirectories(Paths.get(in))

    Seq(("AAPL", d("2024-01-02"), 10.0, 11.0))
      .toDF("symbol", "day", "open", "adj_close")
      .write.mode("overwrite").partitionBy("day").parquet(storedDir)

    // one valid update + two rejects (NaN price, missing ts)
    Files.writeString(Paths.get(s"$in/batch0.json"),
      """{"symbol":"AAPL","price":99.5,"ts":"2024-01-02T15:59:00.000Z"}
        |{"symbol":"BADP","price":"NaN","ts":"2024-01-02T16:00:00.000Z"}
        |{"symbol":"BADT","price":1.0}
        |""".stripMargin)

    val q = LiveFeed.startUpsertFrom(
      spark, LiveFeed.readTrades(spark, in), storedDir, ckpt,
      deadLetterDir = Some(dead))
    q.awaitTermination(120000)

    // nothing silently dropped: both invalid rows are in the side-output
    val rejected = spark.read.parquet(dead)
      .select("symbol").as[String].collect().toSeq.sorted
    assert(rejected == Seq("BADP", "BADT"))
    // and neither polluted the store
    val got = spark.read.parquet(storedDir)
      .select("symbol", "adj_close").as[(String, Double)].collect().toSeq
    assert(got == Seq(("AAPL", 99.5)))
  }

  test("windowedCounts compiles against a streaming source") {
    val root = Files.createTempDirectory("livefeed2").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    val agg = LiveFeed.windowedCounts(LiveFeed.readTrades(spark, s"$root/in"))
    assert(agg.isStreaming)
    assert(agg.columns.contains("n_trades") && agg.columns.contains("last_price"))
  }
}
