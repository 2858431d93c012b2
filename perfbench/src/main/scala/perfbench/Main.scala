package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.stream.IceLite
import Harness.{path, seconds}

/** One JVM of a benchmark run. `perfbench/run.py` starts it as
  * `perfbench.Main <role> key=value ...` and reads the `PERFBENCH-RESULT`
  * line it prints. Roles: `backlog` (stream_backlog), `batch` (batch_ops)
  * and `certify` (records the batch digests from results certified with
  * DuckDB).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = Harness.Opts(args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val out = mutable.LinkedHashMap[String, Any]("failures" -> mutable.ArrayBuffer.empty[String])
    args(0) match {
      case "backlog" => backlog(o, out)
      case "batch" => withSession(o, o.int("cpus"), out)((s, _) => batch(s, o, out))
      case "certify" => withSession(o, o.int("cpus"), out)((s, _) => certify(s, o, out))
    }
    Harness.emit(out)
  }

  private def failures(out: mutable.Map[String, Any]): mutable.ArrayBuffer[String] =
    out("failures").asInstanceOf[mutable.ArrayBuffer[String]]

  /** Run `f` on a fresh `local[cpus]` session with a progress log. The
    * first session of the JVM stamps `ready_ms`, the end of JVM start-up.
    */
  private def withSession[A](o: Harness.Opts, cpus: Int, out: mutable.Map[String, Any])(
      f: (SparkSession, ProgressLog) => A): A = {
    val spark = Harness.session(cpus, path(o("run"), s"session-$cpus"))
    out.getOrElseUpdate("ready_ms", System.currentTimeMillis())
    val plog = new ProgressLog
    spark.streams.addListener(plog)
    try f(spark, plog) finally Harness.stop(spark)
  }

  // ---- stream_backlog ----

  /** Untimed lookups before the measured ones, so the JIT has compiled the
    * read path: without them the first lookups ran half again as long as
    * the last.
    */
  val WarmLookups = 10

  /** Measured drains at 4N; `wall_s` is their median. */
  val HiDrains = 3

  /** stream_backlog: generate a backlog, drain it at 4N (every core in
    * `cpus`) `HiDrains` times, run the audit reads on the last sink, then
    * drain the same backlog once at N (`lo_cores`). Both levels run in
    * this JVM, one after the other; before the N level every thread of
    * the JVM is re-pinned to the N cores, so its task, GC and JIT threads
    * share exactly those. The N level thereby starts with the JIT work of
    * the 4N level done, which a fresh single-core JVM would spend most of
    * a run on.
    */
  def backlog(o: Harness.Opts, out: mutable.Map[String, Any]): Unit = {
    val run = o("run")
    val seed = o.long("seed")
    val turns = o.long("turns")
    val trace = o.flag("trace")
    val src = path(run, "backlog-src")
    val fails = failures(out)
    val off = new Harness.Spans(false, "")
    val nConvs = Backlog.spec(turns, seed).nConvs
    val ids = Audit.lookupIds(seed, nConvs, Backlog.HotConvs)

    var liveMb = 0.0
    def checkpoint(): Unit = {
      liveMb = math.max(liveMb, Harness.liveMb())
      out("live_mb") = liveMb
    }

    /** Warm-up: a drain of the first `warmFiles` files, `SmallEpochFiles`
      * per epoch, to a throwaway sink. Then `drains` measured drains, each
      * into its own sink, and a live-memory checkpoint; the last drain is
      * returned.
      */
    def level(spark: SparkSession, plog: ProgressLog, tag: String, warmFiles: Int,
              drains: Int): Backlog.Drain = {
      val t0 = System.nanoTime()
      val warm = path(run, s"warm-$tag-src")
      Backlog.linkPrefix(src, warm, warmFiles)
      Backlog.drain(spark, Backlog.config(warm, path(run, s"warm-$tag"), Backlog.SmallEpochFiles), off, plog)
      out(s"warm_${tag}_s") = seconds(t0)
      val ds = (1 to drains).map(i =>
        Backlog.drain(spark, Backlog.config(src, path(run, s"drain-$tag-$i")), off, plog))
      checkpoint()
      out(s"wall_${tag}_s") = ds.map(_.wallS)
      out(s"turns_per_s_$tag") = ds.map(d => d.steadyRows / (d.steadyTriggerMs / 1000.0))
      out(s"commit_${tag}_ms") = ds.flatMap(_.commitMs)
      out("epochs") = out.getOrElse("epochs", 0).asInstanceOf[Int] + ds.map(_.epochs).sum
      ds.last
    }

    val hiDigest = withSession(o, o.int("cpus"), out) { (spark, plog) =>
      val t0 = System.nanoTime()
      Backlog.generate(spark, src, turns, Backlog.FileCount, seed)
      out("gen_s") = seconds(t0)
      val hiDrains = if (trace) 1 else HiDrains
      val d = level(spark, plog, "hi", warmFiles = 2 * Backlog.SmallEpochFiles, drains = hiDrains)
      val root = path(run, s"drain-hi-$hiDrains")
      val sink = path(root, "sink")
      val rowsIn = plog.dataEpochs.map(_.numInputRows).sum
      val late = plog.stateSum(_.numRowsDroppedByWatermark)
      // warm the lookup path on other conversations before timing it
      val tw = System.nanoTime()
      Audit.lookupIds(seed + 1, nConvs, Backlog.HotConvs).take(WarmLookups)
        .foreach(Audit.lookup(spark, sink, _, off))
      out("warm_audit_s") = seconds(tw)
      System.gc()
      val a = audit(spark, sink, ids, off)
      checkpoint()
      out ++= a.filter(_._1 != "lookups")
      val sinkBytes = Harness.dirBytes(new java.io.File(sink, "data")) +
        Harness.dirBytes(new java.io.File(sink, "manifests"))
      out("sink_bytes_per_turn") = sinkBytes.toDouble / math.max(1L, d.sunk)
      out("sunk") = d.sunk
      out("rows_in") = rowsIn
      out("dropped_late") = late
      out("dropped_dup") = rowsIn - late - d.sunk

      // untimed output checks
      val tc = System.nanoTime()
      val cfg = Backlog.config(src, root)
      val (digest, sinkFails) = Backlog.checkSink(spark, sink, seed, cfg.watermarkPayload, nConvs)
      fails ++= sinkFails
      val (wantIn, wantLate, want) =
        Backlog.expected(spark, src, Backlog.batchesOf(src), cfg)
      if (wantIn != rowsIn) fails += s"engine read $rowsIn rows, source holds $wantIn"
      if (wantLate != late) fails += s"engine dropped $late rows as late, expected $wantLate"
      if (want != digest)
        fails += s"sink digest ${digest._1}:${digest._2} != batch reference ${want._1}:${want._2}"
      val counts = Audit.convCounts(spark, sink, ids)
      val wrong = a("lookups").asInstanceOf[Seq[(String, Audit.Lookup)]]
        .count { case (id, l) => l.rows != counts.getOrElse(id, 0L) }
      if (wrong > 0) fails += s"$wrong readConv lookups returned the wrong number of rows"
      out("lookups_wrong") = wrong
      (1 until hiDrains).foreach { i =>
        val other = Backlog.digest(IceLite.read(spark, path(run, s"drain-hi-$i", "sink")))
        if (other != digest) fails += s"sink digest of 4N drain $i ${other._1}:${other._2} != " +
          s"of drain $hiDrains ${digest._1}:${digest._2}"
      }
      out("check_s") = seconds(tc)
      if (trace) traceBacklog(spark, plog, src, run, seed, ids, out)
      digest
    }
    if (trace) return

    System.gc()
    // without taskset the N level runs unpinned: local[N] task threads, with
    // GC and JIT free to use the other cores
    out("pinned") = Harness.pin(o("lo_cores"))
    withSession(o, o.int("lo_cpus"), out) { (spark, plog) =>
      // the JIT is warm from the 4N level; one file plans and compiles the
      // query at this level (without a warm-up the N drain ran twice as long)
      level(spark, plog, "lo", warmFiles = 1, drains = 1)
      val digest = Backlog.digest(IceLite.read(spark, path(run, "drain-lo-1", "sink")))
      if (digest != hiDigest)
        fails += s"sink digest at N ${digest._1}:${digest._2} != at 4N ${hiDigest._1}:${hiDigest._2}"
    }
  }

  /** The measured audit reads on a sink: one `readConv` per id, then one
    * pass of the monitor reads. A lookup that throws is counted, not timed.
    */
  private def audit(spark: SparkSession, sink: String, ids: Seq[String],
                    spans: Harness.Spans): Map[String, Any] = {
    val t0 = System.nanoTime()
    val lookups = ids.map { id =>
      try Right(id -> Audit.lookup(spark, sink, id, spans))
      catch { case e: Exception => Left(s"readConv($id) threw ${e.getClass.getSimpleName}") }
    }
    val monitors = Audit.monitorReads(spark, sink, spans, all = false)
    val ok = lookups.collect { case Right(x) => x }
    Map(
      "audit_s" -> seconds(t0),
      "lookups" -> ok,
      "lookup_ms" -> ok.map(_._2.ms),
      "lookups_failed" -> lookups.collect { case Left(e) => e },
      "monitor_ms" -> monitors.toMap)
  }

  /** Per-epoch medians and totals of the engine's own progress report. */
  private def streamLayers(plog: ProgressLog): Map[String, Any] = {
    val data = plog.dataEpochs
    def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double): Double =
      if (data.isEmpty) 0.0 else Harness.median(data.map(f))
    val ops = data.flatMap(_.stateOperators.toSeq)
    Map(
      "dedup.rows_in" -> data.map(_.numInputRows).sum,
      "dedup.dropped_late" -> plog.stateSum(_.numRowsDroppedByWatermark),
      "state.rows_total" -> (if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max),
      "state.memory_bytes" -> (if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).max),
      "state.update_ms" -> med(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "state.commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "stream.planning_ms" -> med(plog.durationMs(_, "queryPlanning")),
      "stream.wal_commit_ms" -> med(plog.durationMs(_, "walCommit")),
      "stream.commit_offsets_ms" -> med(plog.durationMs(_, "commitOffsets")),
      "stream.latest_offset_ms" -> med(plog.durationMs(_, "latestOffset")),
      "stream.add_batch_ms" -> med(plog.durationMs(_, "addBatch")))
  }

  /** Traced stream_backlog: a second 4N drain and audit pass with spans
    * and listeners, a third without them (the overhead's baseline, in the
    * same JIT state), then the prefix ladder.
    */
  private def traceBacklog(spark: SparkSession, plog: ProgressLog, src: String, run: String,
                           seed: Long, ids: Seq[String], out: mutable.Map[String, Any]): Unit = {
    val spans = new Harness.Spans(true, s"stream_backlog-$seed")
    val listeners = new Traced(spark)
    val ts = listeners.tasks
    val cfg = Backlog.config(src, path(run, "traced"))
    val layers = mutable.LinkedHashMap[String, Any]()
    val (td, a) = spans("workload/stream_backlog") {
      val td = Backlog.drain(spark, cfg, spans, plog)
      layers ++= streamLayers(plog)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val e = math.max(1, td.epochs).toDouble
      layers("jobs_per_epoch") = ts.jobs.get / e
      layers("tasks_per_epoch") = ts.tasks.get / e
      layers("shuffle.write_bytes") = ts.shuffleWrite.get
      layers("shuffle.read_bytes") = ts.shuffleRead.get
      layers("task.skew_ratio") = ts.skewRatio
      layers("task.gc_ms") = ts.gcMs.get
      layers("task.cpu_ms") = ts.cpuNs.get / 1e6
      System.gc()
      (td, spans("audit") { audit(spark, cfg.sinkDir, ids, spans) })
    }
    listeners.remove()
    // the untraced drain and audit again, in the JIT state the traced ones had
    val off = new Harness.Spans(false, "")
    val ud = Backlog.drain(spark, Backlog.config(src, path(run, "untraced")),
      off, plog)
    System.gc()
    val ua = audit(spark, path(run, "untraced", "sink"), ids, off)
    def medOf(f: Audit.Lookup => Double): Double =
      Harness.median(a("lookups").asInstanceOf[Seq[(String, Audit.Lookup)]].map(x => f(x._2)))
    layers("dedup.rows_out") = td.sunk
    layers("dedup.dropped_dup") =
      layers("dedup.rows_in").asInstanceOf[Long] - layers("dedup.dropped_late").asInstanceOf[Long] - td.sunk
    layers("commit.process_batch_ms") = Harness.median(td.commitMs)
    layers("sink.bytes") = Harness.dirBytes(new java.io.File(cfg.sinkDir))
    layers("sink.files") = Harness.parquetFiles(new java.io.File(cfg.sinkDir, "data")).size
    layers("audit.read_conv_ms") = medOf(_.ms)
    layers("audit.files_read_per_lookup") = medOf(_.files.toDouble)
    layers("audit.rows_scanned_per_lookup") = medOf(_.scanned.toDouble)
    layers("trace.overhead_frac") =
      (td.wallS + a("audit_s").asInstanceOf[Double]) /
        (ud.wallS + ua("audit_s").asInstanceOf[Double]) - 1.0

    // the ladder: the same prefix through cumulative rungs
    val prefix = path(run, "ladder-src")
    Backlog.linkPrefix(src, prefix, Backlog.FileCount / 2)
    val rungs = Backlog.Rungs.map(r =>
      r -> spans(s"ladder/$r") {
        Backlog.rung(spark, r, prefix, path(run, s"ladder-$r"), spans, plog)
      }).toMap
    def s(r: String) = rungs(r).steadyTriggerMs / 1000.0
    layers("ladder.scan_s") = s("scan")
    layers("ladder.dedup_s") = s("dedup") - s("scan")
    layers("ladder.flags_s") = s("flags") - s("dedup")
    layers("ladder.sink_s") = s("sink") - s("flags")
    layers("ladder.monitor_s") = s("full") - s("sink")
    layers("ladder.full_s") = s("full")
    layers("sink.write_data_ms") = rungs("sink").writeMs
    layers("sink.footer_stats_ms") = rungs("sink").footerMs
    layers("sink.publish_ms") = rungs("sink").publishMs
    layers("ladder.monitors_s") = s("monitors") - s("full")
    layers("monitor.publish_ms") =
      (s("monitors") - s("sink")) * 1000.0 / math.max(1, rungs("monitors").epochs)
    Audit.monitorReads(spark, path(run, "ladder-monitors", "sink"), spans, all = true)
      .foreach { case (k, v) => layers(s"monitor_read.${k}_ms") = v }
    out("layers") = layers
    out("spans") = spans.dump
  }

  // ---- batch_ops ----

  /** batch_ops: every query once, in name order, on the certified
    * fixture. The fixture is fixed, so the seed only names the traced run.
    */
  def batch(spark: SparkSession, o: Harness.Opts, out: mutable.Map[String, Any]): Unit = {
    val dir = o("fixture")
    val seed = o.long("seed")
    val fails = failures(out)
    val expected = Batch.loadExpected(o("expected"))

    var liveMb = 0.0

    /** One pass; a query that throws or misses its digest gets no time.
      * With `checkpoint`, a live-memory checkpoint follows each query,
      * untimed and before its cached frames are cleared, so every query
      * also starts on a collected heap.
      */
    def pass(spans: Harness.Spans, checkpoint: Boolean): Seq[(String, Option[Double], Option[Batch.Digest])] =
      Batch.names.map { name =>
        try {
          val (s, d) = spans(s"query/$name") {
            Batch.runQuery(spark, name, dir,
              () => if (checkpoint) liveMb = math.max(liveMb, Harness.liveMb()))
          }
          val ok = expected.get(name).exists(_.matches(d))
          if (!ok) fails += s"$name: result digest differs from the certified one"
          (name, if (ok) Some(s) else None, Some(d))
        } catch {
          case e: Exception =>
            fails += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
            (name, None, None)
        }
      }

    val t0 = System.nanoTime()
    // session warm-up so the first query is not charged parquet and codegen init
    spark.read.parquet(s"$dir/region.parquet").count()
    spark.range(10).selectExpr("aggregate(sequence(0, 3), 0L, (a, x) -> a + x)").count()
    out("warm_s") = seconds(t0)
    val res = pass(new Harness.Spans(false, ""), checkpoint = !o.flag("trace"))
    out("live_mb") = liveMb
    out("query_s") = res.flatMap { case (n, s, _) => s.map(n -> _) }.toMap
    out("attempted") = res.size
    out("failed") = res.count(_._2.isEmpty)

    if (o.flag("trace")) {
      val spans = new Harness.Spans(true, s"batch_ops-$seed")
      val listeners = new Traced(spark)
      val (ts, pt) = (listeners.tasks, listeners.plans)
      val t = spans("workload/batch_ops") { pass(spans, checkpoint = false) }
      listeners.remove()
      // the untraced pass again, in the JIT state the traced one had
      val again = pass(new Harness.Spans(false, ""), checkpoint = false)
      val layers = mutable.LinkedHashMap[String, Any]()
      t.foreach { case (n, s, _) => layers(s"query.${n}_s") = s.getOrElse(0.0) }
      layers("batch.plan_s") = pt.planMs.get / 1000.0
      layers("batch.jobs") = ts.jobs.get
      layers("batch.stages") = ts.stages.get
      layers("batch.tasks") = ts.tasks.get
      layers("batch.shuffle_bytes") = ts.shuffleWrite.get
      layers("batch.gc_s") = ts.gcMs.get / 1000.0
      layers("task.cpu_ms") = ts.cpuNs.get / 1e6
      layers("task.gc_ms") = ts.gcMs.get
      layers("task.skew_ratio") = ts.skewRatio
      layers("shuffle.write_bytes") = ts.shuffleWrite.get
      layers("shuffle.read_bytes") = ts.shuffleRead.get
      layers("trace.overhead_frac") = t.flatMap(_._2).sum / again.flatMap(_._2).sum - 1.0
      out("layers") = layers
      out("spans") = spans.dump
    }
  }

  /** Record the expected digests from results certified against DuckDB:
    * `results` holds one parquet directory per query, as `graft.Verify`
    * writes them and `tools/compare_oracle.py` checks them. The digests
    * are written to `expected`.
    */
  def certify(spark: SparkSession, o: Harness.Opts, out: mutable.Map[String, Any]): Unit = {
    val digests = Batch.names.map { name =>
      val df = spark.read.parquet(path(o("results"), name))
      val m = Batch.digestMetrics(df)
      val agg = df.agg(m.head, m.tail: _*)
      name -> Batch.digestOf(agg.head().getValuesMap[Any](agg.columns.toSeq)).toMap
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("expected")),
      Harness.json(scala.collection.immutable.ListMap(digests: _*)) + "\n")
    out("certified") = digests.size
  }
}
