package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Closed loop, one client: the frozen query list, one query at a time.
  *
  *  1. set-up (see [[Session.setUp]]): session, every
  *     input table read and counted, one warm-up query;
  *  2. check pass: every query once, its result written to parquet for
  *     the oracle compare; this pass is also the per-query warm-up;
  *  3. one untimed warm pass through the `noop` sink: after the check
  *     pass alone the first timed pass still ran 3-20% slower than the
  *     second, by a share that changed from run to run;
  *  4. [[TimedPasses]] timed passes: every query, construction then a
  *     `noop` write, each pass in a fresh seed-shuffled order.
  */
object QueryWorkload {

  /** A fixed count, so that both sides of a comparison do the same work
    * (the JVM keeps warming up from pass to pass). */
  val TimedPasses = 2

  /** Planning, job launch and small shuffles; no heavy kernel. Every
    * fourth query of a 45-query list of the CDC, join, streaming, window
    * and relational (aggregate, union, scalar) families, so that a cold
    * pass and the timed passes fit in one run. */
  val light: Seq[String] = Seq(
    "cdc_change_log", "join_anti_customers", "join_cross",
    "join_range_binned", "stream_ann_probe_flags",
    "stream_window_dup_flags", "win_ranking_suite", "rel_cube",
    "rel_set_all", "rel_filter_project", "rel_sql_q3", "rel_hash_split")

  /** Heavy kernels and iterative jobs: executor CPU, shuffle and
    * construction-time jobs. */
  val heavy: Seq[String] = Seq(
    "graph_triangles", "graph_pagerank", "graph_labelprop",
    "dedup_clusters", "dedup_jaccard_prefix", "dedup_jaccard_top",
    "dedup_lsh_recall", "dedup_semantic", "sim_ann_pq", "sim_ann_ivfpq",
    "sim_ann_recall", "text_bpe_ids", "text_pack_ids", "text_chunk_stream",
    "dedup_curation", "text_curation_dag_nb")

  def family(name: String): String = name.takeWhile(_ != '_')

  def run(conf: Conf, names: Seq[String], tracer: Tracer,
      listener: Option[EngineListener]): Map[String, Any] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val sf = conf.sfDir
    val (spark, setup, env) = Session.setUp(conf, listener) { s =>
      Tables.all.foreach(t => Tables(s, sf, t).count())
      noop(SparkEntry.queries("rel_pricing_summary")(s, sf))
    }
    val rng = new scala.util.Random(conf.seed)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val outDir = s"${conf.work}/out"

    def one(name: String, phase: String, pass: Int)(
        sink: DataFrame => Unit): Unit =
      tracer.span(name, "query", Some(spark),
        Map("family" -> family(name), "pass" -> pass, "phase" -> phase)) {
        val t0 = Clock.now()
        var t1 = t0
        val outcome =
          try {
            val df = tracer.span("construct", "query.construct", Some(spark)) {
              SparkEntry.queries(name)(spark, sf)
            }
            t1 = Clock.now()
            tracer.span("execute", "query.execute", Some(spark))(sink(df))
            Map("ok" -> true)
          } catch {
            case e: Exception => Map("ok" -> false) ++ Failure.of(e)
          }
        ops += Map("name" -> name, "phase" -> phase,
          "pass" -> pass, "start_ns" -> t0, "construct_end_ns" -> t1,
          "end_ns" -> Clock.now()) ++ outcome
      }

    val checkStart = Clock.now()
    tracer.span("check", "phase", Some(spark)) {
      rng.shuffle(names).foreach { name =>
        one(name, "check", 0)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      }
    }
    tracer.span("warm", "phase", Some(spark)) {
      rng.shuffle(names).foreach(one(_, "warm", 0)(noop))
    }
    val timedStart = Clock.now()
    tracer.span("timed", "phase", Some(spark)) {
      (1 to TimedPasses).foreach { pass =>
        rng.shuffle(names).foreach(one(_, "timed", pass)(noop))
      }
    }
    val timedEnd = Clock.now()
    listener.foreach(_.settle())
    spark.stop()
    Map("env" -> env, "setup_s" -> setup, "ops" -> ops.toSeq,
      "queries" -> names, "passes" -> TimedPasses,
      "check_start_ns" -> checkStart, "timed_start_ns" -> timedStart,
      "timed_end_ns" -> timedEnd, "out_dir" -> outDir,
      "oracle_sql" -> {
        val oracle = SparkEntry.oracleSql
        names.map(n => n -> oracle.get(n)).toMap
      })
  }

  /** Materialize every output row without keeping any (a `count()`
    * would let Catalyst prune the projections). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
