"""Turn one raw run record into metrics, and print them.

End-to-end metrics (the same names on every workload, see README.md):
  setup_s, peak_rss_mb, work_s, latency_ms.
Workload metrics carry the names of the design (suite_s, batch latency,
...); per-layer metrics come from spans and Spark jobs of a traced run."""
import os

import metrics as M

UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "work_s": "s", "latency_ms": "ms",
    "suite_s": "s", "query_geomean_s": "s",
    "batch_latency_p50_ms": "ms", "batch_latency_tail_ms": "ms",
    "ingest_rows_per_s": "1/s", "publish_rows_per_s": "1/s",
    "dashboard_refresh_p50_ms": "ms",
}

# (job record field, divisor to the reported unit, metric name)
ENGINE_SUMS = (("tasks", 1, "tasks"), ("stages", 1, "stages"),
               ("run_ns", 1e9, "executor_run_s"), ("cpu_ns", 1e9, "executor_cpu_s"),
               ("gc_ms", 1e3, "gc_s"), ("deser_ms", 1e3, "task_deser_s"),
               ("shuffle_read_bytes", 1, "shuffle_read_bytes"),
               ("shuffle_write_bytes", 1, "shuffle_write_bytes"),
               ("spill_bytes", 1, "spill_bytes"), ("output_bytes", 1, "output_bytes"))


def _failure(what, name, error_class, error):
    return {"what": what, "name": name, "error_class": error_class,
            "error": error}


def engine(jobs, lo, hi, cpus, per=1.0):
    """Engine totals for the jobs started in [lo, hi], divided by `per`
    (passes), plus the wall time in the window no job covered."""
    sel = [j for j in jobs if lo <= j["start_ns"] <= hi]
    out = {"engine.jobs": len(sel) / per}
    for key, scale, name in ENGINE_SUMS:
        out["engine." + name] = sum(j[key] for j in sel) / scale / per
    out["engine.peak_exec_mem_bytes"] = max((j["peak_exec_mem_bytes"] for j in sel), default=0)
    wall = (hi - lo) / 1e9
    covered = M.union_length([(j["start_ns"], j["end_ns"]) for j in sel], lo, hi) / 1e9
    out["engine.driver_gap_s"] = (wall - covered) / per
    out["engine.busy_ratio"] = (sum(j["run_ns"] for j in sel) / 1e9) / (wall * cpus)
    return out


def job_spans(rec, batch_spans):
    """Spark jobs as spans: the parent is the span `batch_spans` gives for
    the job's micro-batch when it belongs to one, else the harness span
    open on the calling thread."""
    out = []
    for j in rec.get("jobs", []):
        parent = j.get("span")
        if j.get("stream_batch") is not None:
            parent = batch_spans.get((j["stream_query"], j["stream_batch"]), parent)
        out.append({"id": f"job{j['job_id']}", "parent": parent,
                    "name": f"job {j['job_id']}", "layer": "spark.job",
                    "start_ns": j["start_ns"], "end_ns": j["end_ns"] or j["start_ns"]})
    return out


def layer_self_times(spans, lo, hi, per=1.0):
    """Self time per layer, in s, for spans that start in [lo, hi]."""
    selfs = M.self_times(spans)
    out = {}
    for s in spans:
        if lo <= s["start_ns"] <= hi:
            out[s["layer"]] = out.get(s["layer"], 0.0) + selfs[s["id"]] / 1e9 / per
    return out


# ----------------------------------------------------------------- queries

def summarize_queries(rec):
    ops = rec["ops"]
    failures = [_failure("query", o["name"], o["error_class"], o["error"])
                for o in ops if not o["ok"]]
    check_ok = {o["name"] for o in ops if o["phase"] == "check" and o["ok"]}
    for name, diff in sorted(rec.get("oracle_checks", {}).items()):
        if diff is not None and name in check_ok:
            failures.append(_failure("oracle", name, "OutputMismatch", diff))
    timed = [o for o in ops if o["phase"] == "timed" and o["ok"]]
    per_query = {}
    for o in timed:
        per_query.setdefault(o["name"], []).append((o["end_ns"] - o["start_ns"]) / 1e9)
    medians = {q: M.median(v) for q, v in per_query.items()}
    complete = len(medians) == len(rec["queries"])
    suite = sum(medians.values()) if complete else None
    geo = M.geomean(list(medians.values())) if complete else None
    e2e = {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec["peak_rss_kb"] / 1024,
        "work_s": suite,
        "latency_ms": geo * 1000 if geo else None,
    }
    detail = {"suite_s": suite, "query_geomean_s": geo,
              "passes": rec["passes"], "queries": len(rec["queries"]),
              "timed_samples": len(timed),
              "per_query_median_s": medians}
    layers, selfs = {}, {}
    if rec["trace"]:
        lo, hi, passes = rec["timed_start_ns"], rec["timed_end_ns"], rec["passes"]
        cpus = int(rec["env"]["default_parallelism"])
        spans = rec["spans"] + job_spans(rec, {})
        layers.update(engine(rec["jobs"], lo, hi, cpus, passes))
        by_id = {s["id"]: s for s in rec["spans"]}
        timed_spans = [s for s in rec["spans"] if lo <= s["start_ns"] <= hi]

        def total(layer):
            return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in timed_spans
                       if s["layer"] == layer) / passes
        construct_ids = {s["id"] for s in timed_spans if s["layer"] == "query.construct"}
        layers["query.construct_s"] = total("query.construct")
        layers["query.execute_s"] = total("query.execute")
        layers["query.construct_jobs"] = sum(
            1 for j in rec["jobs"] if j.get("span") in construct_ids) / passes
        for s in timed_spans:
            if s["layer"] == "query.execute":
                fam = by_id[s["parent"]]["family"]
                key = f"family.{fam}.execute_s"
                layers[key] = layers.get(key, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9 / passes
        selfs = layer_self_times(spans, lo, hi, passes)
        detail["per_layer_basis"] = "one timed pass over the query list"
    return e2e, detail, layers, selfs, failures, len(ops)


# ------------------------------------------------------------------ stream

def output_files(out_dir):
    """Part files and their bytes per dataset/batch directory."""
    stats = {}
    for d, _, files in os.walk(out_dir):
        parts = [f for f in files if f.startswith("part-")]
        if parts:
            batch = os.path.basename(d)
            n, b = stats.get(batch, (0, 0))
            stats[batch] = (n + len(parts),
                            b + sum(os.path.getsize(os.path.join(d, f)) for f in parts))
    return stats


def summarize_stream(rec):
    failures = [_failure(f["what"], f["what"], f["error_class"], f["error"])
                for f in rec["failures"]]
    attempted = rec["drops"] + rec["paced_drops"] + len(rec["polls"])
    expected = {"catchup": rec["drops"], "paced": rec["paced_drops"]}
    for phase in ("catchup", "paced"):
        c = rec["checks"][phase]
        if c["published_rows"] != expected[phase] * rec["drop_rows"]:
            failures.append(_failure(phase, "publish", "PublishedRowsMismatch",
                                     f"{c['published_rows']} rows published, expected "
                                     f"{expected[phase] * rec['drop_rows']}"))
        for d in c["drops"]:
            if d["rows"] != rec["drop_rows"] or d["batches"] != 1:
                failures.append(_failure(phase, f"drop {d['drop']}", "DropNotLanded",
                                         f"{d['rows']} rows in {d['batches']} batches"))
        if c["raw_rows"] != c["published_rows"] or c["raw_distinct_event_ids"] != c["raw_rows"]:
            failures.append(_failure(phase, "raw", "RowCountMismatch",
                                     f"raw {c['raw_rows']} rows ({c['raw_distinct_event_ids']} "
                                     f"distinct) vs {c['published_rows']} published"))
        if c["unpublished_rows"]:
            failures.append(_failure(phase, "raw", "UnpublishedRows",
                                     f"{c['unpublished_rows']} rows not in any published drop"))
        if c["batches_with_count_mismatch"]:
            failures.append(_failure(phase, "aggregates", "CountMismatch",
                                     f"{c['batches_with_count_mismatch']} batches whose "
                                     "trip_count sums differ from raw rows"))
        if c["combined_minus_union_rows"]:
            failures.append(_failure(phase, "combined_agg", "UnionMismatch",
                                     f"{c['combined_minus_union_rows']} rows differ from "
                                     "pickup_agg + dropoff_agg"))
    for p in rec["polls"]:
        if not p["ok"]:
            failures.append(_failure("dashboard", "poll", p["error_class"], p["error"]))

    pub, cu, pc = rec["publish"], rec["catchup"], rec["paced"]
    publish_s = (pub["end_ns"] - pub["start_ns"]) / 1e9
    catch_s = (cu["end_ns"] - cu["start_ns"]) / 1e9
    progress = {p["batch_id"]: p for p in pc["progress"]}
    landed = {d["drop"]: d["batch_id"] for d in rec["checks"]["paced"]["drops"]}
    samples = pc["drops"][rec["lead_drops"]:]
    t = M.paced_timings(samples, progress, landed)
    lat, wait = t["latency_ms"], t["wait_ms"]
    tail_p = M.tail_percentile(len(lat))
    polls_ms = [(p["end_ns"] - p["start_ns"]) / 1e6 for p in rec["polls"] if p["ok"]]
    e2e = {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec["peak_rss_kb"] / 1024,
        "work_s": publish_s + catch_s,
        "latency_ms": M.median(lat),
    }
    detail = {
        "batch_latency_p50_ms": M.median(lat),
        "batch_latency_tail_ms": M.percentile(lat, tail_p) if tail_p else None,
        "batch_latency_tail_percentile": tail_p,
        "batch_latency_samples": len(lat),
        "ingest_rows_per_s": rec["checks"]["catchup"]["raw_rows"] / catch_s,
        "publish_rows_per_s": pub["rows"] / publish_s,
        "dashboard_refresh_p50_ms": M.median(polls_ms),
        "dashboard_polls": len(polls_ms),
        "paced_window_first_drop": rec["window_first"],
    }
    layers, selfs = {}, {}
    if rec["trace"]:
        lo, hi = pub["start_ns"], pc["end_ns"]
        cpus = int(rec["env"]["default_parallelism"])
        layers.update(engine(rec["jobs"], lo, hi, cpus))
        spans = list(rec["spans"])
        batch_spans = {}
        # micro-batch spans from the progress reports, with their
        # durations laid out in execution order as children
        order = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")
        layer_of = {"latestOffset": "source", "getBatch": "source",
                    "walCommit": "checkpoint", "commitOffsets": "checkpoint",
                    "queryPlanning": "stream.planning", "addBatch": "sink"}
        for phase in ("catchup", "paced"):
            q = rec[phase]
            for p in q["progress"]:
                if p["num_input_rows"] <= 0:
                    continue
                sid = f"mb-{phase}-{p['batch_id']}"
                start = p["trigger_start_ms"] * 1000000
                spans.append({"id": sid, "parent": None, "name": f"{phase} batch {p['batch_id']}",
                              "layer": "stream.microbatch", "start_ns": start,
                              "end_ns": M.batch_end_ns(p)})
                # the batch's jobs run inside foreachBatch, i.e. in addBatch
                batch_spans[(q["query_id"], p["batch_id"])] = f"{sid}-addBatch"
                cursor = start
                for k in order:
                    d = p["duration_ms"].get(k, 0) * 1000000
                    spans.append({"id": f"{sid}-{k}", "parent": sid, "name": k,
                                  "layer": layer_of[k], "start_ns": cursor,
                                  "end_ns": cursor + d})
                    cursor += d
        spans += job_spans(rec, batch_spans)
        selfs = layer_self_times(spans, lo, hi)
        by_layer = {}
        for s in rec["spans"]:
            by_layer.setdefault(s["layer"], []).append(s)
        pub_ids = {s["id"] for s in by_layer.get("producer.publish", [])}
        pub_jobs = [j for j in rec["jobs"] if j.get("span") in pub_ids]
        pub_sql = {j["sql_exec"] for j in pub_jobs if j.get("sql_exec") is not None}
        pub_ms = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in rec["sql"]
                  if s["sql_exec"] in pub_sql]
        data_batches = [p for p in pc["progress"] if p["num_input_rows"] > 0]

        def dur(k):
            return [p["duration_ms"].get(k, 0) for p in data_batches]
        sink_jobs = [j for j in rec["jobs"] if j.get("stream_query") == pc["query_id"]
                     and j.get("stream_batch") in {p["batch_id"] for p in data_batches}]
        files = rec.get("output_files", {}).get("paced", {})
        paced_rows = rec["checks"]["paced"]["raw_rows"]
        poll_ids = {s["id"]: s for s in by_layer.get("dashboard", [])}
        poll_gap = []
        for sid, s in poll_ids.items():
            js = [(j["start_ns"], j["end_ns"]) for j in rec["jobs"] if j.get("span") == sid]
            poll_gap.append((s["end_ns"] - s["start_ns"]
                             - M.union_length(js, s["start_ns"], s["end_ns"])) / 1e6)
        late = M.generator_lateness_ms(samples)
        wait_tail = M.tail_percentile(len(wait))
        layers.update({
            "producer.prepare_s": sum((s["end_ns"] - s["start_ns"]) / 1e9
                                      for s in by_layer.get("producer.prepare", [])),
            "producer.publish_batch_ms.p50": M.median(pub_ms),
            "producer.jobs_per_batch": len(pub_jobs) / rec["drops"],
            "source.latest_offset_ms.p50": M.median(dur("latestOffset")),
            "source.get_batch_ms.p50": M.median(dur("getBatch")),
            "sink.add_batch_ms.p50": M.median(dur("addBatch")),
            "sink.add_batch_ms.p90": M.percentile(dur("addBatch"), 90) if data_batches else None,
            "sink.jobs_per_batch": len(sink_jobs) / max(1, len(data_batches)),
            "sink.files_per_batch": sum(n for n, _ in files.values()) / max(1, len(data_batches)),
            "sink.output_bytes_per_row": sum(b for _, b in files.values()) / max(1, paced_rows),
            "checkpoint.wal_commit_ms.p50": M.median(dur("walCommit")),
            "checkpoint.commit_offsets_ms.p50": M.median(dur("commitOffsets")),
            "queue.wait_ms.p50": M.median(wait),
            "queue.wait_ms.tail": M.percentile(wait, wait_tail) if wait_tail else None,
            "queue.wait_tail_percentile": wait_tail,
            "queue.backlog_max": M.max_backlog(t["released_ns"], t["committed_ns"]),
            "generator.late_ms.max": max(late) if late else None,
            "dashboard.jobs_per_poll": sum(
                1 for j in rec["jobs"] if j.get("span") in poll_ids) / max(1, len(poll_ids)),
            "dashboard.driver_gap_ms.p50": M.median(poll_gap),
        })
        detail["per_layer_basis"] = "the whole measured run (publish, catch-up, paced)"
    return e2e, detail, layers, selfs, failures, attempted


def summarize(rec):
    if rec["workload"] == "stream_ingest":
        e2e, detail, layers, selfs, failures, attempted = summarize_stream(rec)
    else:
        e2e, detail, layers, selfs, failures, attempted = summarize_queries(rec)
    return {"workload": rec["workload"], "seed": rec["seed"], "trace": rec["trace"],
            "env": rec["env"], "correct": not failures, "attempted": attempted,
            "failed": len(failures), "failures": failures, "end_to_end": e2e,
            "workload_metrics": detail, "per_layer": layers,
            "self_time_s": selfs}


def overhead(untraced, traced):
    """Relative change of every end-to-end metric from the untraced run to
    the traced run of the same workload and seed."""
    base = untraced["summary"]["end_to_end"]
    out = {}
    for k, v in traced["end_to_end"].items():
        b = base.get(k)
        if b and v is not None:
            out[k] = (v - b) / b
    return out


def _fmt(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def print_summary(res, f):
    p = lambda *a: print(*a, file=f)
    p(f"== {res['workload']}  seed={res['seed']}  trace={int(res['trace'])}  "
      f"correct={res['correct']}  attempted={res['attempted']}  failed={res['failed']}")
    env = res["env"]
    p("   env: " + ", ".join(f"{k}={env[k]}" for k in sorted(env)))
    for x in res["failures"]:
        p(f"   FAILED {x['what']} {x['name']}: {x['error_class']}: {x['error']}")
    p("   end to end:")
    for k, v in res["end_to_end"].items():
        p(f"     {k:<28} {_fmt(v):>14} {UNITS.get(k, '')}")
    p("   workload:")
    for k, v in res["workload_metrics"].items():
        if not isinstance(v, dict):
            p(f"     {k:<28} {_fmt(v):>14} {UNITS.get(k, '')}")
    if res["per_layer"]:
        p(f"   per layer ({res['workload_metrics'].get('per_layer_basis')}):")
        for k in sorted(res["per_layer"]):
            p(f"     {k:<36} {_fmt(res['per_layer'][k]):>14}")
        p("   self time per layer (s):")
        for k, v in sorted(res["self_time_s"].items(), key=lambda kv: -kv[1]):
            p(f"     {k:<36} {_fmt(v):>14}")
    if "overhead" in res:
        p("   tracing overhead (traced vs untraced, same seed):")
        for k, v in res["overhead"].items():
            p(f"     {k:<28} {v:+.1%}")
