package perfbench

import graft.Tables
import graft.streaming.{Dashboard, FileBus, MultiSink, Replay, StreamOps, StreamSources}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The reference pipeline over the `events` table in fixed-size drops.
  *
  *  1. publish: the producer body — `Replay.prepare`, then
  *     `FileBus.publishBatches` writes the first `drops` drops to a bus
  *     directory;
  *  2. catch-up: closed loop, an `AvailableNow` drain of that backlog
  *     through `MultiSink.start`, several files per trigger (the cron
  *     shape of the consumer);
  *  3. paced: open loop, a generator thread atomically moves one drop of
  *     a seed-chosen contiguous window into a watched directory every
  *     [[IntervalMs]], while `MultiSink` runs with a 0 s trigger and one
  *     file per trigger, and a poller thread calls
  *     `Dashboard.collectPanels` every [[PollMs]].
  *
  * The paced window is [[LeadDrops]] lead drops plus `seconds` worth of
  * drops (at least eight); `drops` is the window plus ten, so the seed
  * picks one of eleven windows. The lead drops are checked like the others
  * but are not latency samples. The outputs are left in the work directory
  * for `run.py` to check. */
object StreamWorkload {
  val DropRows = 1000L
  /** Paced drops released before the latency samples: the new query's
    * first batches run slower while its code paths warm up. */
  val LeadDrops = 3
  /** One drop every 1.75 s: about 60% of what the consumer can take at
    * one ~1.05 s micro-batch per drop. */
  val IntervalMs = 1750
  /** Drops per trigger in the catch-up drain. */
  val FilesPerTrigger = 10
  /** Warm-up rounds in the set-up: after one round the measured phases
    * still ran JIT-cold and varied more from run to run. */
  val WarmRounds = 2
  /** The reference dashboard's refresh period. */
  val PollMs = 5000
  private val keys = ("user_id", "pickup_location", "event_type",
    "dropoff_location")

  /** Every progress report of every streaming query in the session. */
  final class ProgressLog extends StreamingQueryListener {
    val reports = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      reports.add(Map("query_id" -> p.id.toString, "batch_id" -> p.batchId,
        "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "num_input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def of(q: StreamingQuery): Seq[Map[String, Any]] =
      reports.asScala.toSeq.filter(_("query_id") == q.id.toString)
    def dataBatches(q: StreamingQuery): Int =
      of(q).count(_("num_input_rows").asInstanceOf[Long] > 0)
  }

  /** The consumer's sink (as `ConsumerMain` configures it) with a 0 s
    * trigger: a new micro-batch starts as soon as a drop is there. */
  private def sinkConfig(out: String, once: Boolean) =
    MultiSink.Config(outDir = s"$out/data", checkpointDir = s"$out/checkpoint",
      keyA = keys._1, tagA = keys._2, keyB = keys._3, tagB = keys._4,
      triggerSeconds = 0L, drainOnce = once)

  /** The producer body: the source table in its wire schema, prepared
    * once (ordinal-stamped), then `drops` drops published. */
  private def publish(spark: SparkSession, sf: String, bus: String,
      drops: Int, tracer: Tracer): Unit = {
    val events = Tables(spark, sf, "events")
      .select(StreamSources.eventSchema.fieldNames.toSeq.map(col): _*)
    val prepared = tracer.span("prepare", "producer.prepare", Some(spark)) {
      Replay.prepare(events, Seq(col("ts"), col("event_id")))
    }
    tracer.span("publishBatches", "producer.publish", Some(spark)) {
      new FileBus(bus).publishBatches(prepared, DropRows, drops, 0L)
    }
  }

  /** AvailableNow drain of everything in `bus`. */
  private def drain(spark: SparkSession, bus: String,
      out: String): StreamingQuery = {
    val q = MultiSink.start(
      new FileBus(bus, maxFilesPerTrigger = FilesPerTrigger).subscribe(spark),
      sinkConfig(out, once = true))
    q.awaitTermination()
    q
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def run(conf: Conf, tracer: Tracer,
      listener: Option[EngineListener]): Map[String, Any] = {
    val window = LeadDrops + math.max(8, conf.seconds * 1000 / IntervalMs)
    val drops = window + 10
    val sf = conf.sfDir
    val w = conf.work
    val (spark, setup, env) = Session.setUp(conf, listener) { s =>
      // stage the source and warm every layer on one drop
      Tables(s, sf, "events").count()
      for (i <- 0 until WarmRounds) {
        publish(s, sf, s"$w/warm$i/bus", 1, new Tracer(false))
        drain(s, s"$w/warm$i/bus", s"$w/warm$i/sink")
        Dashboard.collectPanels(s, s"$w/warm$i/sink/data")
        s.catalog.clearCache()
      }
    }
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val failures = ArrayBuffer.empty[Map[String, Any]]
    val rng = new scala.util.Random(conf.seed)

    // (1) publish
    val pubStart = Clock.now()
    tracer.span("publish", "phase", Some(spark)) {
      publish(spark, sf, s"$w/bus", drops, tracer)
    }
    val pubEnd = Clock.now()

    // (2) catch-up
    val catchStart = Clock.now()
    val catchQ = tracer.span("catchup", "phase", Some(spark)) {
      drain(spark, s"$w/bus", s"$w/catchup")
    }
    val catchEnd = Clock.now()

    // (3) paced: stage a seed-chosen window outside the watched directory
    val first = rng.nextInt(drops - window + 1)
    val names = (first until first + window)
      .map(b => StreamOps.formatBatchId(b.toLong))
    names.foreach(n => copyTree(Paths.get(s"$w/bus/$n"), Paths.get(s"$w/staged/$n")))
    Files.createDirectories(Paths.get(s"$w/watched"))
    val pacedQ = MultiSink.start(
      new FileBus(s"$w/watched", maxFilesPerTrigger = 1).subscribe(spark),
      sinkConfig(s"$w/paced", once = false))
    val due = new Array[Long](window)
    val moved = new Array[Long](window)
    val polls = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var polling = true
    def sleepUntil(t: Long): Unit = {
      val d = t - Clock.now()
      if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
    }
    val pacedStart = Clock.now() + 500000000L
    val generator = new Thread(() => {
      for (i <- 0 until window) {
        due(i) = pacedStart + i * IntervalMs * 1000000L
        sleepUntil(due(i))
        Files.move(Paths.get(s"$w/staged/${names(i)}"),
          Paths.get(s"$w/watched/${names(i)}"), StandardCopyOption.ATOMIC_MOVE)
        moved(i) = Clock.now()
      }
    }, "perfbench-generator")
    val poller = new Thread(() => {
      var next = pacedStart + PollMs * 1000000L
      while (polling) {
        if (Clock.now() < next) Thread.sleep(10)
        else {
          val t0 = Clock.now()
          val outcome =
            try {
              tracer.span("poll", "dashboard", Some(spark)) {
                Dashboard.collectPanels(spark, s"$w/paced/data")
              }
              Map("ok" -> true)
            } catch { case e: Exception => Map("ok" -> false) ++ Failure.of(e) }
          polls.add(Map("start_ns" -> t0,
            "end_ns" -> Clock.now()) ++ outcome)
          next += PollMs * 1000000L
        }
      }
    }, "perfbench-dashboard")
    tracer.span("paced", "phase", Some(spark)) {
      generator.start()
      poller.start()
      generator.join()
      val deadline = System.currentTimeMillis() + 30000L
      while (progress.dataBatches(pacedQ) < window &&
          pacedQ.exception.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      polling = false
      poller.join()
    }
    val pacedEnd = Clock.now()
    pacedQ.stop()
    pacedQ.exception.foreach(e => failures += Map("what" -> "paced query") ++ Failure.of(e))
    catchQ.exception.foreach(e => failures += Map("what" -> "catch-up query") ++ Failure.of(e))
    listener.foreach(_.settle())
    val settleDeadline = System.currentTimeMillis() + 5000L
    while (progress.dataBatches(pacedQ) < window &&
        System.currentTimeMillis() < settleDeadline) Thread.sleep(20)

    spark.stop()
    Map("env" -> env, "setup_s" -> setup, "drop_rows" -> DropRows,
      "drops" -> drops, "paced_drops" -> window, "lead_drops" -> LeadDrops,
      "files_per_trigger" -> FilesPerTrigger, "interval_ms" -> IntervalMs,
      "poll_ms" -> PollMs, "window_first" -> first,
      "publish" -> Map("start_ns" -> pubStart, "end_ns" -> pubEnd, "rows" -> drops * DropRows),
      "catchup" -> Map("start_ns" -> catchStart, "end_ns" -> catchEnd,
        "query_id" -> catchQ.id.toString, "progress" -> progress.of(catchQ)),
      "paced" -> Map("start_ns" -> pacedStart, "end_ns" -> pacedEnd,
        "query_id" -> pacedQ.id.toString, "progress" -> progress.of(pacedQ),
        "drops" -> names.indices.map(i => Map("drop" -> (first + i),
          "due_ns" -> due(i), "moved_ns" -> moved(i)))),
      "polls" -> polls.asScala.toSeq, "failures" -> failures.toSeq,
      "dirs" -> Map("bus" -> s"$w/bus", "watched" -> s"$w/watched",
        "catchup" -> s"$w/catchup/data", "paced" -> s"$w/paced/data"))
  }
}
