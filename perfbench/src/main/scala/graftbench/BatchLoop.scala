package graftbench

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** The closed loop of the batch workloads: one client runs every member of
  * the mix in a seeded order per pass. Pass 0 is the cold pass; warm passes
  * follow until `seconds` have passed, at least `min_warm` of them. An execution is
  * compose (the `Registry.queries(m)(spark, dir)` call) plus action (the
  * full-result [[Main.digest]]). After the timed passes, the members named
  * in `gate` run once more, untimed, and write their output for the oracle
  * gate. */
object BatchLoop {
  /** An execution still running after this long is cancelled and fails. */
  private val TimeoutS = 60L

  def run(spark: SparkSession, o: Map[String, String], out: Out): Unit = {
    val dir = o("input")
    val cpus = o("cpus").toInt
    val members = o("members").split(",").toSeq
    val seed = o("seed").toLong
    val trace = if (o("trace") == "1") Some(new Trace(spark)) else None
    val sc = spark.sparkContext
    val watchdog = Executors.newSingleThreadScheduledExecutor()

    def execute(pass: Int, m: String): Unit = {
      val id = s"p$pass/$m"
      val timedOut = new AtomicBoolean(false)
      sc.setJobGroup(id, id, interruptOnCancel = true)
      val timer = watchdog.schedule((() => {
        timedOut.set(true); sc.cancelJobGroup(id)
      }): Runnable, TimeoutS, TimeUnit.SECONDS)
      var composeS, actionS = 0.0
      try {
        val (df, c) = Trace.timed(trace, s"$id/compose", id)(Registry.queries(m)(spark, dir))
        composeS = c
        val ((n, lo, hi), a) = Trace.timed(trace, s"$id/action", id)(Main.digest(df))
        actionS = a
        timer.cancel(false)
        val run = trace.map(_.sum(_ == s"$id/action").runMs / 1e3)
        trace.foreach(_.record(id, s"p$pass", composeS + actionS))
        out.emit("type" -> "exec", "pass" -> pass, "member" -> m,
          "compose_s" -> composeS, "action_s" -> actionS, "count" -> n,
          "lo" -> lo, "hi" -> hi,
          "core_idle_s" -> run.map(r => cpus * actionS - r))
      } catch {
        case e: Throwable =>
          out.emit("type" -> "exec", "pass" -> pass, "member" -> m,
            "compose_s" -> composeS, "action_s" -> actionS,
            "error" -> (if (timedOut.get) "timeout" else Main.brief(e)))
      } finally {
        timer.cancel(false)
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
    }

    def runPass(pass: Int): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(members)
      val t0 = System.nanoTime()
      order.foreach(m => execute(pass, m))
      val wall = (System.nanoTime() - t0) / 1e9
      trace.foreach(_.record(s"p$pass", "run", wall))
      out.emit("type" -> "pass", "pass" -> pass, "wall_s" -> wall,
        "layers" -> trace.map { t =>
          val p = s"p$pass/"
          t.sum(_.startsWith(p)).toMap ++ Map(
            "compose_jobs" -> t.sum(k => k.startsWith(p) && k.endsWith("/compose")).jobs)
        })
    }

    runPass(0)
    val warm0 = System.nanoTime()
    val minWarm = o("min_warm").toInt
    var pass = 1
    while (pass <= minWarm || (System.nanoTime() - warm0) / 1e9 < o("seconds").toDouble) {
      runPass(pass)
      pass += 1
    }
    watchdog.shutdownNow()
    trace.foreach { t => t.stop(); t.write(o("trace_out")) }

    o("gate").split(",").filter(_.nonEmpty).foreach { m =>
      val path = s"${o("gate_dir")}/$m"
      try {
        Registry.queries(m)(spark, dir).coalesce(1).write.mode("overwrite").parquet(path)
        val (n, lo, hi) = Main.digest(spark.read.parquet(path))
        out.emit("type" -> "gate", "member" -> m, "path" -> path,
          "count" -> n, "lo" -> lo, "hi" -> hi, "oracle" -> Registry.oracles.get(m))
      } catch {
        case e: Throwable =>
          out.emit("type" -> "gate", "member" -> m, "error" -> Main.brief(e))
      } finally spark.catalog.clearCache()
    }
  }
}
