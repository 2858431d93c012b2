package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.DeterministicGen
import graft.gen.DeterministicGen.TranscriptSpec
import graft.model.Turn
import graft.stream.{DedupState, GuardianStream, IceLite, Windows}
import graft.watermark.Watermarker

/** The stream_backlog input and its closed-loop drain. Everything the
  * engine sees is a directory of parquet files.
  */
object Backlog {

  /** Source files, and files per micro-batch of the measured drains:
    * three epochs of about 100 000 turns at 30 s, the last two steady.
    * Warm-up drains and the ladder take `SmallEpochFiles` per micro-batch.
    */
  val FileCount = 24
  val FilesPerEpoch = 8
  val SmallEpochFiles = 4

  /** Watermark delay of every stream run (the engine default). */
  val Delay = "10 minutes"
  private val DelayMs = 10L * 60 * 1000
  /** How far a planted late row's ts moves back: more than the whole
    * backlog's ts span (the hot conversations run for about 105 days), so
    * every late row that arrives once the engine holds a watermark is
    * dropped, and the late count does not hang on how epochs cut the ts
    * range.
    */
  private val LateShiftSeconds = 180L * 86400

  /** Transcript fixture: 40-turn conversations plus four hot ones of
    * 20 000 turns each, 2% planted PII.
    */
  def spec(turns: Long, seed: Long): TranscriptSpec = {
    val hotTurns = 20000L
    TranscriptSpec(
      nConvs = HotConvs + math.max(1L, (turns - HotConvs * hotTurns) / 40), turnsPerConv = 40,
      hotConvs = HotConvs, hotTurns = hotTurns, piiPermille = 20, seed = seed)
  }
  val HotConvs = 4L

  /** Write `files` ts-ordered source files: transcripts, 5% replayed
    * duplicates and 0.5% late rows. Files are cut by arrival (on-time) ts
    * and get mtimes in name order, so the file source reads them in
    * arrival order. A late row keeps its arrival position and its ts moves
    * back; `latePermille` moves ts before the layout, which would file the
    * row by its moved ts, and it would arrive on time.
    */
  def generate(spark: SparkSession, dir: String, turns: Long, files: Int, seed: Long): Unit = {
    val late = pmod(xxhash64(lit(seed), lit("late"), col("conv_id"), col("turn_idx")), lit(1000L)) < 5 &&
      col("turn_idx") > 0
    DeterministicGen.withDuplicates(DeterministicGen.transcripts(spark, spec(turns, seed)), 50, seed)
      .repartitionByRange(files, col("ts"), col("conv_id"), col("turn_idx"))
      .withColumn("ts", when(late, col("ts") - expr(s"INTERVAL $LateShiftSeconds SECONDS"))
        .otherwise(col("ts")))
      .write.mode("overwrite").option("compression", "snappy").parquet(dir)
    setArrivalOrder(dir)
  }

  /** mtimes in name order, one second apart: the file source's read order. */
  private def setArrivalOrder(dir: String): Unit =
    sourceFiles(dir).zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }

  def sourceFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** Hard-link the first `n` source files into `dir`. */
  def linkPrefix(src: String, dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    sourceFiles(src).take(n).foreach(f => Files.createLink(Paths.get(dir, f.getName), f.toPath))
  }

  /** The guardian query's configuration: the engine defaults (1-hour
    * quality window, row-level dedup), and with `monitors` every other
    * standing monitor the commit path can carry.
    */
  def config(src: String, root: String, filesPerEpoch: Int = FilesPerEpoch,
             monitors: Boolean = false): GuardianStream.StreamConfig =
    GuardianStream.StreamConfig(
      sourceDir = src,
      checkpointDir = Harness.path(root, "ck"),
      sinkDir = Harness.path(root, "sink"),
      watermarkDelay = Delay,
      maxFilesPerTrigger = Some(filesPerEpoch),
      availableNow = true,
      vocabK = if (monitors) Some(64) else None,
      diversityM = if (monitors) Some(4096) else None,
      cmsW = if (monitors) Some(1024) else None,
      sessionGap = if (monitors) Some("30 minutes") else None,
      compactEvery = if (monitors) Some(4) else None)

  def turns(spark: SparkSession, cfg: GuardianStream.StreamConfig): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    spark.readStream.schema(GuardianStream.turnSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger.getOrElse(FilesPerEpoch).toLong)
      .parquet(cfg.sourceDir).withWatermark("ts", cfg.watermarkDelay).as[Turn]
  }

  /** Start the guardian query: the engine's own transforms and
    * `processBatch`, with the benchmark's timer and span around each epoch;
    * `commitMs` collects each epoch's `processBatch` wall time by batch id.
    */
  def start(spark: SparkSession, cfg: GuardianStream.StreamConfig, spans: Harness.Spans,
            commitMs: java.util.Map[Long, Double]): org.apache.spark.sql.streaming.StreamingQuery = {
    GuardianStream.transforms(turns(spark, cfg), cfg).writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        spans("epoch/processBatch") { GuardianStream.processBatch(batch, batchId, cfg) }
        commitMs.put(batchId, (System.nanoTime() - t0) / 1e6)
        ()
      }
      .start()
  }

  final case class Drain(
      wallS: Double, sunk: Long, steadyRows: Long, steadyTriggerMs: Double,
      epochs: Int, commitMs: Seq[Double])

  /** Drain `cfg.sourceDir` to the end with AvailableNow. */
  def drain(spark: SparkSession, cfg: GuardianStream.StreamConfig, spans: Harness.Spans,
            plog: ProgressLog): Drain = {
    val commitMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    plog.clear()
    val t0 = System.nanoTime()
    val q = spans("drain") { val q = start(spark, cfg, spans, commitMs); q.awaitTermination(); q }
    val wall = Harness.seconds(t0)
    val batches = IceLite.committedBatches(cfg.sinkDir)
    val rows = batches.map(b => b -> IceLite.readManifest(cfg.sinkDir, b).rowCount).toMap
    val data = plog.dataEpochs
    val steady = data.drop(1)
    Drain(
      wallS = wall,
      sunk = rows.values.sum,
      steadyRows = steady.map(p => rows.getOrElse(p.batchId, 0L)).sum,
      steadyTriggerMs = steady.map(p => plog.durationMs(p, "triggerExecution")).sum,
      epochs = data.size,
      commitMs = steady.flatMap(p => Option(commitMs.get(p.batchId))))
  }

  /** Order-independent digest of a frame: (rows, Σ xxhash64 over all
    * columns in name order), exact in decimal arithmetic.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  /** The rows a correct drain must sink, computed in batch from the source
    * files and the batch id that read each of them. The engine's late filter
    * in batch b uses the watermark of batch b-1 (Spark's stateful late
    * filter lags one batch, data or not), which is the largest ts read by
    * batches ≤ b-2 minus the delay; a row at or below it is late. The
    * on-time rows, deduplicated and projected by the engine's batch
    * transforms, are what the sink must hold. Returns (rows in, late rows,
    * digest of the expected sink).
    */
  def expected(spark: SparkSession, src: String, batchOf: Map[String, Long],
               cfg: GuardianStream.StreamConfig): (Long, Long, (Long, String)) = {
    import spark.implicits._
    val rows = spark.read.schema(GuardianStream.turnSchema).parquet(src)
      .withColumn("batch",
        element_at(typedLit(batchOf), regexp_extract(input_file_name(), "[^/]+$", 0)))
    val perBatch = rows.groupBy("batch").agg(max(unix_micros(col("ts"))), count(lit(1)))
      .as[(Long, Long, Long)].collect()
    val maxTs = perBatch.map(b => b._1 -> b._2).toMap
    val lateBelow = maxTs.keys.map { b =>
      val seen = maxTs.collect { case (x, m) if x <= b - 2 => m }
      b -> (if (seen.isEmpty) Long.MinValue else (seen.max / 1000 - DelayMs) * 1000)
    }.toMap
    val late = unix_micros(col("ts")) <= element_at(typedLit(lateBelow), col("batch"))
    val kept = org.apache.spark.sql.Observation("on-time")
    val onTime = rows.filter(!late).observe(kept, count(lit(1)).as("n")).drop("batch").as[Turn]
    val want = digest(GuardianStream.transforms(onTime, cfg))
    val rowsIn = perBatch.map(_._3).sum
    (rowsIn, rowsIn - kept.get("n").asInstanceOf[Long], want)
  }

  /** Batch id of each backlog file: every batch takes `FilesPerEpoch`. */
  def batchesOf(src: String): Map[String, Long] =
    sourceFiles(src).zipWithIndex.map { case (f, i) => f.getName -> (i / FilesPerEpoch).toLong }.toMap

  /** Watermark check on a drained sink: the turn-ts payload verifies on a
    * seeded sample of conversations. Only conversations whose first
    * payload-carrying turns all reached the sink can carry it, so sampled
    * conversations that lost one of those turns as late are skipped.
    * Returns (digest of the sink, failures).
    */
  def checkSink(spark: SparkSession, sink: String, seed: Long, payload: String,
                nConvs: Long): ((Long, String), Seq[String]) = {
    val out = IceLite.read(spark, sink)
    val d = digest(out)
    val r = new scala.util.Random(seed)
    val ids = Seq.fill(64)(f"conv-${HotConvs + (r.nextDouble() * (nConvs - HotConvs)).toLong}%06d").distinct
    val need = (payload.length * 8 + 1) / 2
    val prefix = out.filter(col("conv_id").isin(ids: _*) && col("turn_idx") < need)
    val complete = prefix.groupBy("conv_id").agg(countDistinct("turn_idx").as("k"))
      .filter(col("k") === need).select("conv_id")
    val v = Watermarker.verifyTurnTsPerConv(prefix.join(complete, "conv_id"), payload)
      .agg(count(lit(1)), sum(when(col("verified"), 0L).otherwise(1L))).head()
    val (checked, bad) = (v.getLong(0), Option(v.get(1)).map(_.toString.toLong).getOrElse(0L))
    val fails = Seq.newBuilder[String]
    if (checked < ids.size / 2)
      fails += s"only $checked of ${ids.size} sampled conversations have a complete watermark prefix"
    if (bad > 0) fails += s"watermark fails to verify on $bad of $checked sampled conversations"
    (d, fails.result())
  }

  // ---- the prefix ladder (traced backlog run) ----

  /** Cumulative rungs over the same prefix at the same parallelism; each
    * rung's marginal cost is its summed steady trigger time minus the
    * rung below. `full` is `processBatch` as the drains run it;
    * `monitors` adds every other standing monitor.
    */
  val Rungs = Seq("scan", "dedup", "flags", "sink", "full", "monitors")

  final case class Rung(steadyTriggerMs: Double, epochs: Int,
                        writeMs: Double, footerMs: Double, publishMs: Double)

  def rung(spark: SparkSession, name: String, src: String, root: String,
           spans: Harness.Spans, plog: ProgressLog): Rung = {
    val cfg = config(src, root, SmallEpochFiles, monitors = name == "monitors")
    val ts = turns(spark, cfg)
    val frame: DataFrame = name match {
      case "scan" => ts.toDF
      case "dedup" => DedupState.dedupRows(ts.toDF)
      case _ => Windows.withQualityFlags(
        Watermarker.embedTurnTs(DedupState.dedupRows(ts.toDF), cfg.watermarkPayload))
    }
    val timer = Array(0.0, 0.0, 0.0)
    def time[A](i: Int, span: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = spans(span)(f)
      timer(i) += (System.nanoTime() - t0) / 1e6
      r
    }
    plog.clear()
    val q = frame.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        spans(s"epoch/$name") {
          name match {
            case "scan" | "dedup" | "flags" => batch.write.format("noop").mode("overwrite").save()
            case "sink" =>
              val dir = time(0, "IceLite.writeData") {
                IceLite.writeData(batch.withColumn("pid", spark_partition_id()), cfg.sinkDir, batchId)
              }
              val parts = time(1, "IceLite.footerStats") { IceLite.footerStats(dir) }
              time(2, "IceLite.publish") {
                IceLite.publish(cfg.sinkDir, batchId,
                  new graft.lineage.DataLineage(cfg.datasetId, createdAt = 0.0), parts)
              }
            case _ => GuardianStream.processBatch(batch, batchId, cfg)
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
    val steady = plog.dataEpochs.drop(1)
    val n = math.max(1, plog.dataEpochs.size)
    Rung(steady.map(p => plog.durationMs(p, "triggerExecution")).sum, steady.size,
      timer(0) / n, timer(1) / n, timer(2) / n)
  }
}
