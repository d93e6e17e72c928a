package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. run.py starts it once per run with
  * `key=value` arguments and reads the JSON lines it appends to `out`:
  *
  *  - mode: `batch` (a closed loop over registry members) or `stream`
  *    (an open loop of file releases into two stateful streaming queries);
  *  - input, work: the generated input directory and a scratch directory
  *    for the warehouse, Spark's local dirs and the gate outputs;
  *  - cpus, seed, seconds, trace: see [[setup]] and the loops.
  *
  * Every record carries a `type`; run.py turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val bootS = jvmBootSeconds()
    val mem = new MemWatch()
    mem.start()
    val out = new Out(o("out"))
    try {
      out.emit("type" -> "env", "spark" -> org.apache.spark.SPARK_VERSION,
        "java" -> sys.props("java.version"),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.vm.version")}",
        "cpus" -> o("cpus").toInt, "loadavg_start" -> loadavg())
      val spark = setup(o, out, bootS)
      o("mode") match {
        case "batch" => BatchLoop.run(spark, o, out)
        case "stream" => StreamLoop.run(spark, o, out)
      }
      val (nativeKb, heapKb) = mem.finish()
      out.emit("type" -> "end", "confs" -> mutatedConfs(spark), "vmhwm_kb" -> vmHwmKb(),
        "peak_native_kb" -> nativeKb, "peak_heap_after_gc_kb" -> heapKb,
        "loadavg_end" -> loadavg())
      spark.stop()
    } finally out.close()
  }

  def session(o: Map[String, String]): SparkSession = {
    val cpus = o("cpus")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o("work")}/warehouse")
      .config("spark.local.dir", s"${o("work")}/local")
      .getOrCreate()
  }

  /** Set-up: a SparkSession, the warm-up query, and the members'
    * `Registry.prepares` hooks (model fits and index builds). It runs once:
    * in one JVM only the first set-up is cold (class loading, JIT, Spark's
    * first context), and a repeat would time the warm re-setup instead of
    * what a user pays. `setup_s` is process start to the end of this. */
  private def setup(o: Map[String, String], out: Out, bootS: Double): SparkSession = {
    val members = o.get("members").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val t0 = System.nanoTime()
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.events(spark, o("input")).groupBy("event_type").count().collect()
    members.foreach(m => graft.queries.Registry.prepares.get(m).foreach(_(spark, o("input"))))
    out.emit("type" -> "setup", "boot_s" -> bootS, "setup_s" -> (System.nanoTime() - t0) / 1e9)
    spark
  }

  /** Order-independent digest of a frame's full result: row count and the
    * sums of the low and high 32-bit halves of xxhash64 over every column
    * (two exact sums instead of one that could overflow). */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.toIndexedSeq.map(col): _*)
    val r = named.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Exception class and the first line of its message. */
  def brief(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"

  private def jvmBootSeconds(): Double = {
    val start = ProcessHandle.current().info().startInstant()
    if (start.isPresent)
      java.time.Duration.between(start.get, java.time.Instant.now()).toNanos / 1e9
    else 0.0
  }

  private def procLine(file: String, key: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key)).map(_.drop(key.length).trim)
      finally src.close()
    } catch { case _: java.io.IOException => None }

  def vmHwmKb(): Long =
    procLine("/proc/self/status", "VmHWM:").map(_.stripSuffix("kB").trim.toLong).getOrElse(-1L)

  def loadavg(): Seq[Double] =
    procLine("/proc/loadavg", "").toSeq.flatMap(_.split("\\s+").take(3).map(_.toDouble))

  /** Session confs the engine's members set and never restore. */
  private def mutatedConfs(spark: SparkSession): Map[String, String] =
    Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong")
      .map(k => k -> spark.conf.getOption(k).getOrElse("<unset>")).toMap
}
