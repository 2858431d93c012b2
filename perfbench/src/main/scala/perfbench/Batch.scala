package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The batch operator queries of `graft.SparkEntry`, one pass, one client. */
object Batch {

  /** Queries left out: they write scratch tables under a hard-coded
    * `/dev/shm` path (SparkEntry's e2e fixture, cluster and sink helpers),
    * and the benchmark writes only inside its checkout.
    */
  val OutsideCheckout: Set[String] = Set(
    "audit_conv_trace", "corpus_retain", "dedup_clusters", "provenance_match",
    "quality_sessions", "quality_windows", "stream_cms_e2e", "stream_diversity_e2e",
    "stream_guardian_e2e", "stream_provenance_e2e")

  def names: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filterNot(OutsideCheckout).sorted

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case _ => false
  }

  /** Sum of every floating value inside `c`, as one double. */
  private def floatSum(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => coalesce(c.cast("double"), lit(0.0))
    case s: StructType =>
      s.fields.filter(f => hasFloat(f.dataType))
        .map(f => floatSum(c.getField(f.name), f.dataType)).reduce(_ + _)
    case a: ArrayType =>
      coalesce(aggregate(transform(c, x => floatSum(x, a.elementType)), lit(0.0), _ + _), lit(0.0))
    case m: MapType =>
      floatSum(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", m.keyType), StructField("value", m.valueType)))))
    case _ => lit(0.0)
  }

  /** Values of `c` that compare exactly: everything but floating values,
    * which repeat only to rounding when partial sums meet in another order.
    */
  private def exact(c: Column, t: DataType): Seq[Column] = t match {
    case DoubleType | FloatType => Seq(c.isNull)
    case s: StructType =>
      c.isNull +: s.fields.toSeq.flatMap(f => exact(c.getField(f.name), f.dataType))
    case a: ArrayType if hasFloat(a.elementType) => Seq(size(c))
    case m: MapType => exact(array_sort(map_entries(c)),
      ArrayType(StructType(Seq(StructField("key", m.keyType), StructField("value", m.valueType)))))
    case _ => Seq(c)
  }

  /** Digest aggregates of a result: row count, Σ xxhash64 of the exact
    * parts, and one floating sum per top-level column that holds floats.
    */
  def digestMetrics(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.sortBy(_.name).toSeq
    val ex = fields.flatMap(f => exact(col(s"`${f.name}`"), f.dataType))
    val hash = if (ex.isEmpty) lit(0L) else xxhash64(ex: _*)
    Seq(count(lit(1)).as("rows"), sum(hash.cast("decimal(38,0)")).as("hash")) ++
      fields.filter(f => hasFloat(f.dataType)).map(f =>
        sum(floatSum(col(s"`${f.name}`"), f.dataType)).as(s"f:${f.name}"))
  }

  final case class Digest(rows: Long, hash: String, floats: Map[String, Double]) {
    /** Same rows and exact parts; floating sums equal to 1e-9 relative. */
    def matches(o: Digest): Boolean =
      rows == o.rows && hash == o.hash && floats.keySet == o.floats.keySet &&
        floats.forall { case (k, a) =>
          val b = o.floats(k)
          (a.isNaN && b.isNaN) || a == b ||
            math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
        }
    def toMap: Map[String, Any] = Map("rows" -> rows, "hash" -> hash, "floats" -> floats)
  }

  def digestOf(m: Map[String, Any]): Digest = Digest(
    m("rows").asInstanceOf[Long],
    Option(m("hash")).map(_.toString).getOrElse("0"),
    m.collect { case (k, v) if k.startsWith("f:") =>
      k.stripPrefix("f:") -> Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0) })

  /** Run one query into the noop sink; its digest rides the same job as
    * observed metrics, so checking it costs no second evaluation.
    * `afterTimed` runs once the time is taken, before the query's cached
    * frames are cleared.
    */
  def runQuery(spark: SparkSession, name: String, dir: String,
               afterTimed: () => Unit): (Double, Digest) = {
    val t0 = System.nanoTime()
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val m = digestMetrics(df)
      val obs = Observation(s"digest-$name")
      df.observe(obs, m.head, m.tail: _*).write.format("noop").mode("overwrite").save()
      val s = Harness.seconds(t0)
      afterTimed()
      (s, digestOf(obs.get))
    } finally spark.catalog.clearCache()
  }

  /** Expected digests, recorded from results certified against DuckDB. */
  def loadExpected(path: String): Map[String, Digest] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    root.fieldNames().asScala.map { name =>
      val n = root.get(name)
      val floats = n.get("floats").fieldNames().asScala
        .map(k => k -> n.get("floats").get(k).asDouble()).toMap
      name -> Digest(n.get("rows").asLong(), n.get("hash").asText(), floats)
    }.toMap
  }
}
