package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.stream.{GuardianStream, IceLite}

/** The audit reads an operator runs against a committed sink: point
  * lookups of one conversation and one pass of the monitor reads.
  */
object Audit {

  /** Point lookups per run; 40, so that p75 has ten samples past it. */
  val Lookups = 40

  final case class Lookup(ms: Double, rows: Long, files: Long, scanned: Long)

  /** Leaf file scans of an executed plan, through adaptive stages. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s if s.nodeName.startsWith("Scan") && s.metrics.contains("numFiles") => Seq(s)
    case other => other.children.flatMap(scans)
  }

  /** One `readConv`, collected; files and rows read come from the
    * executed plan's scan metrics.
    */
  def lookup(spark: SparkSession, sink: String, conv: String, spans: Harness.Spans): Lookup = {
    val t0 = System.nanoTime()
    val (df, rows) = spans("IceLite.readConv") {
      val df = IceLite.readConv(spark, sink, conv)
      (df, df.collect().length.toLong)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val ss = scans(df.queryExecution.executedPlan)
    Lookup(ms, rows, ss.map(_.metrics("numFiles").value).sum,
      ss.map(_.metrics("numOutputRows").value).sum)
  }

  /** Conversation ids to look up: a seeded mix, one in five of the hot
    * conversations.
    */
  def lookupIds(seed: Long, nConvs: Long, hot: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until Lookups).map { i =>
      val c = if (i % 5 == 0) r.nextInt(hot.toInt).toLong
              else hot + (r.nextDouble() * (nConvs - hot)).toLong
      f"conv-$c%06d"
    }
  }

  /** Monitor reads, each collected; ms by monitor. The quality read runs
    * on every sink; `all` adds the reads of the standing monitors, which
    * need a sink written with them on.
    */
  def monitorReads(spark: SparkSession, sink: String, spans: Harness.Spans,
                   all: Boolean): Seq[(String, Double)] = {
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      spans(s"monitor_read/$name")(f)
      name -> (System.nanoTime() - t0) / 1e6
    }
    val quality = timed("quality") {
      GuardianStream.readQuality(spark, sink).collect()
      GuardianStream.driftFromQuality(spark, sink).collect(); ()
    }
    if (!all) Seq(quality)
    else Seq(quality,
      timed("vocab") { GuardianStream.readVocabBracket(spark, sink).collect(); () },
      timed("diversity") { GuardianStream.readDiversity(spark, sink).collect(); () },
      timed("sessions") { GuardianStream.readSessionQuality(spark, sink).collect(); () })
  }

  /** Rows per conversation in the whole sink, for checking the lookups. */
  def convCounts(spark: SparkSession, sink: String, ids: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    IceLite.read(spark, sink).filter(col("conv_id").isin(ids.distinct: _*))
      .groupBy("conv_id").count().as[(String, Long)].collect().toMap
  }
}
