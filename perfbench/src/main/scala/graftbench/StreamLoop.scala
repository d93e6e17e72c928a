package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.KeyedEvent
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The open loop of `events_stream`. Two streaming queries watch one
  * directory: q95's operator (`RunningAgg`) and q97's operator
  * (`StrictSeq(view, click, purchase)`), both through
  * `graft.streaming.StatefulOps.run`, with the default trigger and the
  * RocksDB state store. The harness releases the pre-written event files
  * into the directory by atomic rename:
  *
  *  - cold: file 0 alone, into queries that have not run a batch yet;
  *  - rated: `rated` files, one due every 1/`rate` seconds;
  *  - drain: the remaining files in backlogs of `backlog` files, each
  *    released at once into idle queries.
  *
  * A file's output is complete at the end of the first sink batch whose
  * watermark covers the file's last event time: the operators emit in
  * event-time order once the watermark passes, so no later batch adds a row
  * of that file. The sink (foreachBatch) collects each batch and records
  * its end time; run.py turns due and sink times into latencies, so a late
  * release counts against the latency. After the drain both queries stop,
  * and their collected output is written for the oracle gate. */
object StreamLoop {
  private val Queries = Seq("q95_stream_over_running", "q97_stream_cep_seq")

  def run(spark: SparkSession, o: Map[String, String], out: Out): Unit = {
    import spark.implicits._
    val input = o("input")
    val work = o("work")
    val rated = o("rated").toInt
    val rate = o("rate").toDouble
    val trace = if (o("trace") == "1") Some(new Trace(spark)) else None
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // half the cores' worth of state partitions per query: the two queries'
    // tasks then fill the cores without queueing behind each other
    spark.conf.set("spark.sql.shuffle.partitions", math.max(1, o("cpus").toInt / 2).toString)
    // An idle query lists the directory every pollingDelay. At Spark's 10 ms
    // a listing often fell inside the ~2 ms in which a backlog's renames
    // land, splitting the backlog over two batches (a third micro-batch
    // cycle in that drain). At 100 ms that is rare; a busy query does not
    // wait for it, so the rated phase is unaffected.
    spark.conf.set("spark.sql.streaming.pollingDelay", "100ms")

    val releases = Files.list(Paths.get(input, "releases")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val maxTsMs: Map[String, Long] = scala.io.Source.fromFile(s"$input/release_max_ts_ms.txt")
      .getLines().map(_.split(" ")).map(a => a(0) -> a(1).toLong).toMap
    // release files are copied next to the watched directory first, so a
    // release is a rename within one file system
    val held = Paths.get(work, "held")
    val watch = Paths.get(work, "watch")
    Files.createDirectories(held)
    Files.createDirectories(watch)
    releases.foreach(f => Files.copy(Paths.get(input, "releases", f), held.resolve(f)))
    // file -> (due, done) nanoTime of its release
    val releasedAt = mutable.LinkedHashMap.empty[String, (Long, Long)]
    def release(f: String, due: Long): Unit = {
      Files.move(held.resolve(f), watch.resolve(f), StandardCopyOption.ATOMIC_MOVE)
      releasedAt(f) = (due, System.nanoTime())
    }

    val sinkRows = Queries.map(_ -> mutable.ArrayBuffer.empty[Row]).toMap
    val sinkEnds = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
    def sink(name: String): (DataFrame, Long) => Unit = (batch, id) => {
      val rows = batch.collect()
      val end = System.nanoTime()
      sinkEnds.synchronized {
        sinkRows(name) ++= rows
        sinkEnds += ((name, id, end, rows.length))
      }
    }

    def timed[T](phase: String)(body: => T): (T, Double) =
      Trace.timed(trace, s"stream/$phase", "stream")(body)

    val schema = spark.read.parquet(s"$input/events.parquet").schema
    val (queries, composeS) = timed("compose") {
      val events = spark.readStream.schema(schema).parquet(watch.toString)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").as("key"), col("event_id").as("eventId"),
          unix_micros(col("ts")).as("tsUs"), col("event_type").as("eventType"),
          round(col("value") * 1000).cast("long").as("valueMillis"))
        .as[KeyedEvent]
      val running = StatefulOps.run(events, new StatefulOps.RunningAgg)
        .toDF("key", "event_id", "ts_us", "running_n", "running_sum_millis")
      val seq = StatefulOps.run(events,
          new StatefulOps.StrictSeq(Seq("view", "click", "purchase"), 86400000000L))
        .select(col("key"),
          element_at(col("ids"), 1).as("id_view"),
          element_at(col("ids"), 2).as("id_click"),
          element_at(col("ids"), 3).as("id_purchase"),
          col("startTsUs").as("start_ts_us"), col("endTsUs").as("end_ts_us"))
      // stream threads inherit local properties: start them without the
      // compose span's name, so their jobs go to the phase open later
      spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
      Queries.zip(Seq(running, seq)).map { case (name, df) =>
        df.writeStream.queryName(name).outputMode("append")
          .option("checkpointLocation", s"$work/checkpoints/$name")
          .foreachBatch(sink(name)).start() -> df.schema
      }
    }

    // batch id -> watermark (ms) of every finished batch, per query
    val watermarks = Queries.map(_ -> mutable.Map.empty[Long, Long]).toMap
    def poll(): Unit = Queries.zip(queries).foreach { case (name, (q, _)) =>
      q.recentProgress.foreach { p =>
        val wm = Option(p.eventTime.get("watermark"))
          .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)
        watermarks(name)(p.batchId) = wm
      }
    }
    def failIfDead(): Unit = queries.foreach { case (q, _) =>
      q.exception.foreach(e => throw new IllegalStateException(s"${q.name} failed", e))
    }
    /** Blocks until both queries have output complete through `f`. */
    def awaitComplete(f: String, timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!Queries.forall(q => watermarks(q).values.exists(_ >= maxTsMs(f)))) {
        failIfDead()
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"output of $f incomplete after $timeoutS s")
        Thread.sleep(2)
        poll()
      }
    }

    val backlogs = releases.drop(1 + rated).grouped(o("backlog").toInt).toSeq
    timed("cold") { release(releases.head, System.nanoTime()); awaitComplete(releases.head, 60) }
    val (_, ratedS) = timed("rated") {
      val t0 = System.nanoTime()
      releases.slice(1, 1 + rated).zipWithIndex.foreach { case (f, i) =>
        val due = t0 + ((i + 1) / rate * 1e9).toLong
        while (System.nanoTime() < due) {
          failIfDead()
          poll()
          Thread.sleep(math.max(0L, math.min(5L, (due - System.nanoTime()) / 1000000L)))
        }
        release(f, due)
      }
      awaitComplete(releases(rated), 60)
    }
    val drainS = backlogs.zipWithIndex.map { case (backlog, i) =>
      // each backlog goes into idle queries (their last trigger found no
      // new data), so a drain never starts behind a batch left over from
      // the phase before it
      val idleBy = System.nanoTime() + 30000000000L
      while (queries.exists(_._1.status.isDataAvailable)) {
        failIfDead()
        if (System.nanoTime() > idleBy) throw new IllegalStateException("queries never idle")
        Thread.sleep(2)
      }
      timed(s"drain$i") {
        val due = System.nanoTime()
        backlog.foreach(release(_, due))
        awaitComplete(backlog.last, 60)
      }._2
    }
    queries.foreach(_._1.stop())
    poll()
    trace.foreach(_.stop())

    out.emit("type" -> "stream", "compose_s" -> composeS, "rated_s" -> ratedS,
      "drain_s" -> drainS, "drain_files" -> backlogs.head.size, "rated" -> rated, "rate" -> rate,
      "due_ns" -> releasedAt.map { case (f, (due, _)) => f -> due },
      "released_ns" -> releasedAt.map { case (f, (_, done)) => f -> done },
      "max_ts_ms" -> releases.map(f => f -> maxTsMs(f)).toMap)
    sinkEnds.foreach { case (name, id, end, n) =>
      out.emit("type" -> "sink", "query" -> name, "batch" -> id, "end_ns" -> end,
        "rows" -> n, "watermark_ms" -> watermarks(name).get(id))
    }
    trace.foreach { t =>
      out.emit("type" -> "stream_layers", "layers" -> streamLayers(t))
      t.write(o("trace_out"))
    }

    Queries.zip(queries).foreach { case (name, (_, schema)) =>
      val path = s"${o("gate_dir")}/$name"
      spark.createDataFrame(sinkRows(name).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(path)
      val (n, lo, hi) = Main.digest(spark.read.parquet(path))
      out.emit("type" -> "gate", "member" -> name, "path" -> path,
        "count" -> n, "lo" -> lo, "hi" -> hi,
        "oracle" -> graft.queries.Registry.oracles.get(name))
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer numbers of the rated phase: Spark counters summed over it,
    * micro-batch phases as medians per batch, state sizes at its end. */
  private def streamLayers(t: Trace): Map[String, Any] = {
    val rated = t.progress.collect { case ("stream/rated", p) => p }
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
    val last = rated.groupBy(_.name).values.map(_.last)
    t.sum(_ == "stream/rated").toMap ++ Map(
      "compose_jobs" -> t.sum(_ == "stream/compose").jobs,
      "batches" -> rated.size,
      "batch_s" -> median(rated.map(ms(_, "triggerExecution")).toSeq),
      "add_batch_s" -> median(rated.map(ms(_, "addBatch")).toSeq),
      "batch_plan_s" -> median(rated.map(ms(_, "queryPlanning")).toSeq),
      "batch_log_s" -> median(rated.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).toSeq),
      "state_commit_s" -> median(rated.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3).toSeq),
      "state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum).sum,
      "state_mem_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum,
      "late_rows" -> t.progress.map(_._2.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum)
  }
}
