package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the benchmark's JVM roles: the Spark session, the
  * per-run scratch directory, JSON output, and the in-memory span log the
  * traced runs write out at the end.
  */
object Harness {

  /** One Spark session at `local[cpus]`. The settings are the ones the
    * streaming engine is deployed with (zstd level 1 sink, the arena state
    * store, no checkpoint checksum twins); every scratch path lives under
    * `runDir`, inside the checkout.
    */
  def session(cpus: Int, runDir: String): SparkSession = {
    val local = Paths.get(runDir, "spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "graft.stream.state.ArenaStateStoreProvider")
      .config("spark.sql.warehouse.dir", Paths.get(runDir, "warehouse").toString)
      .config("spark.local.dir", local.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop state-store maintenance before the session stops, so a
    * maintenance tick cannot log a stack trace over the result line.
    */
  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq
      .sortBy(_.getName).flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty

  /** Memory this JVM's program holds now, in MB: heap in use after a full
    * collection plus the direct and mapped buffers in use. Unlike the
    * resident set it does not depend on how far the collector let the heap
    * grow. Non-heap memory (metaspace, code cache) is left out: it is the
    * JVM's, and grows with JIT compilation as the run goes on.
    */
  def liveMb(): Double = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    System.gc()
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  /** Re-pin every thread of this JVM to `cores` (a taskset list such as
    * "0" or "0,1"); threads started later inherit it. False when taskset
    * is missing or refused.
    */
  def pin(cores: String): Boolean =
    try {
      new ProcessBuilder("taskset", "-a", "-p", "-c", cores, ProcessHandle.current().pid().toString)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor() == 0
    } catch { case _: java.io.IOException => false }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // ---- result line ----

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  /** The role's result: one line, marked so the orchestrator can find it
    * among Spark's own output.
    */
  def emit(result: scala.collection.Map[String, Any]): Unit = {
    println("PERFBENCH-RESULT " + json(result))
    System.out.flush()
  }

  // ---- spans (traced runs only) ----

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  /** In-memory span log. Disabled logs record nothing and cost one branch
    * per call, so the untraced runs measure the same code paths.
    */
  final class Spans(val enabled: Boolean, val runId: String) {
    private val done = new ConcurrentLinkedQueue[Span]()
    private val next = new java.util.concurrent.atomic.AtomicInteger(1)
    private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

    def apply[A](name: String)(f: => A): A =
      if (!enabled) f
      else {
        val id = next.getAndIncrement()
        val parent = current.get()
        current.set(id)
        val t0 = System.nanoTime()
        try f
        finally {
          done.add(Span(id, parent, name, t0, System.nanoTime()))
          current.set(parent)
        }
      }

    /** Spans as JSON-ready maps, start-ordered, times in ms from the first. */
    def dump: Seq[Map[String, Any]] = {
      val all = done.asScala.toSeq.sortBy(_.startNs)
      val origin = all.headOption.map(_.startNs).getOrElse(0L)
      all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> runId,
        "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6))
    }

  }

  /** Parsed `key=value` role arguments. */
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def path(first: String, more: String*): String = Paths.get(first, more: _*).toString
}
