package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark process entry point. `run.py` builds the classpath and
  * starts this JVM once per run:
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload query_light --seed 1 \
  *   --seconds 14 --trace 0 --sf <sf dir> --work <scratch dir> \
  *   --out <record.json> --cpus 4
  * }}}
  *
  * It writes one raw JSON record (timestamps, spans, jobs, outputs to
  * check); every statistic is computed by `run.py` from that record. */
final case class Conf(workload: String, seed: Long, seconds: Int,
    trace: Boolean, sfDir: String, work: String, out: String, cpus: String)

object Main {
  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --key value pairs: ${args.mkString(" ")}")
    val kv = args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("sf"), kv("work"), kv("out"), kv("cpus"))
    val tracer = new Tracer(conf.trace)
    val listener = if (conf.trace) Some(new EngineListener) else None
    val body = tracer.span(conf.workload, "workload") {
      conf.workload match {
        case "query_light" => QueryWorkload.run(conf, QueryWorkload.light, tracer, listener)
        case "query_heavy" => QueryWorkload.run(conf, QueryWorkload.heavy, tracer, listener)
        case "stream_ingest" => StreamWorkload.run(conf, tracer, listener)
        case other => sys.error(s"unknown workload $other")
      }
    }
    val record = body ++ Map(
      "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace,
      "spans" -> tracer.all,
      "jobs" -> listener.map(_.jobRecords).getOrElse(Nil),
      "sql" -> listener.map(_.sqlRecords).getOrElse(Nil),
      "peak_rss_kb" -> Session.peakRssKb())
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(conf.out), record)
  }
}

object Session {
  /** Build the session, stage the inputs and warm up. The set-up is
    * timed from JVM start, so it includes JVM start-up, class loading and
    * the first session's initialisation. Returns the session, the set-up
    * time in seconds and the run environment. */
  def setUp(conf: Conf, listener: Option[EngineListener])(
      stage: SparkSession => Unit): (SparkSession, Double, Map[String, Any]) = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime * 1000000L
    val spark = GraftSession.build(conf.cpus)
    stage(spark)
    val setup = (Clock.now() - jvmStart) / 1e9
    listener.foreach(spark.sparkContext.addSparkListener)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> conf.cpus,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "sf_dir" -> conf.sfDir)
    (spark, setup, env)
  }

  /** Peak resident set of this process (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
