"""Statistics of one benchmark run: turns the JVM's raw record (samples,
streaming progress, spans with attributed Spark work) into the
end-to-end and per-layer metrics, plus a detail record that carries the
workload-specific figures under their own names.
"""
import math
import statistics

# A tail metric reports the highest of these percentiles that still has
# at least TAIL_MIN_BEYOND samples above it.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
TAIL_MIN_BEYOND = 10
MB = 1048576.0
# Median time of the JVM's calibration work (Calibration.scala) on the
# reference machine: 4 cores, idle. End-to-end timings are first reduced
# by the CPU time the hypervisor stole while they ran (`unstolen`), then
# scaled by CALIBRATION_REF_S / (this run's calibration time, itself net
# of steal), i.e. reported at the reference machine's speed, so a busier
# or throttled machine moves them less; the raw figures are in the detail
# record.
CALIBRATION_REF_S = 0.5


def nearest_rank(values, p):
    """The nearest-rank p-th percentile of a non-empty sequence."""
    v = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(v)))
    return v[rank - 1]


def tail(values):
    """(percentile, value, samples): the highest percentile in
    TAIL_PERCENTILES with at least TAIL_MIN_BEYOND samples beyond its
    rank; the median when there are too few samples for any."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return p, sorted(values)[rank - 1], n
    return 50, nearest_rank(values, 50), n


def median(values, default=0.0):
    return statistics.median(values) if values else default


def geomean(values, default=0.0):
    """Geometric mean: each value's relative change counts the same, so a
    mix of fast and slow operations moves with all of them."""
    if not values:
        return default
    return math.exp(sum(math.log(x) for x in values) / len(values))


def unstolen(times, steals):
    """Each time less the share of the machine's CPU time the hypervisor
    gave to other guests while it ran: the time on a machine nobody else
    shares, as far as waiting for a CPU goes."""
    if len(steals) != len(times):
        raise ValueError(f"{len(times)} times but {len(steals)} steal shares")
    return [t * (1.0 - s) for t, s in zip(times, steals)]


def self_times(spans):
    """Span id -> self time: the span's duration minus the time its
    direct children cover (overlapping children count once; a child's
    part outside its parent does not count)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def match_lags(chunks, progress):
    """Ingest lag per chunk: from the chunk's scheduled time to the
    progress event of the first micro-batch whose end offset covers the
    chunk's offset. `chunks` rows are (k, scheduled, added, offset, rows);
    progress events carry `t` and `end_offset`. Chunks no batch covers
    get None."""
    events = sorted(progress, key=lambda p: p["t"])
    lags = []
    for _, sched, _, offset, _ in chunks:
        hit = next((p for p in events if p["end_offset"] >= offset and p["t"] >= sched), None)
        lags.append(None if hit is None else hit["t"] - sched)
    return lags


def rows_per_batch(added, progress):
    """(progress event, generator rows) per micro-batch that committed
    any: `added` holds (offset, rows) per addData call, and a batch owns
    the offsets in (previous batch's end offset, its end offset]."""
    out, prev = [], None
    for p in sorted(progress, key=lambda p: p["end_offset"]):
        lo = prev if prev is not None else -math.inf
        rows = sum(r for off, r in added if lo < off <= p["end_offset"])
        if rows:
            out.append((p, rows))
        prev = p["end_offset"]
    return out


def _subtree(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def walk(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from walk(c)
    return walk


def _work(raw, spans_iter):
    cols = raw["work_columns"]
    tot = dict.fromkeys(cols, 0.0)
    for s in spans_iter:
        for c, v in zip(cols, s["work"]):
            tot[c] += v
    return tot


def _sum_work(raw, rows):
    cols = raw["work_columns"]
    tot = dict.fromkeys(cols, 0.0)
    for w in rows:
        for c, v in zip(cols, w):
            tot[c] += v
    return tot


def end_to_end(raw, peak_rss_mb):
    """The end-to-end metrics and the workload's named figures."""
    wl = raw["workload"]
    s = raw["samples"]
    v = raw["values"]
    rec = raw["workload_record"]

    def net(key):
        return unstolen(s.get(key, []), s.get(f"steal.{key}", []))

    setup = median(unstolen(raw["prepare_s"], raw["prepare_steal"])) + \
        unstolen([raw["warm_s"]], [raw["warm_steal"]])[0]
    named = {}
    if wl == "table_mix":
        # p50 is the read path's; the write path moves rows_per_s
        ops = net("read")
        writes = net("write")
        rate = v.get("rows_changed", 0.0) / sum(writes) if writes else 0.0
        added = rec["stream_batches"]
        # the streamed upserts: add -> progress event of the committing batch
        lags = match_lags([(i, t, t, off, r) for i, (off, r, t) in enumerate(added)],
                          raw["progress"])
        named["ingest_lag_p50_s"] = median([x for x in lags if x is not None])
        for kind in ("read", "write"):
            xs = s.get(kind, [])
            if xs:
                p, val, n = tail(xs)
                named[f"{kind}_p50_s"] = median(xs)
                named[f"{kind}_tail_s"] = {"value": val, "percentile": p, "samples": n}
    else:
        ops = net("pass")
        rate = v.get("canon.event_rows", 0) / median(ops) if ops else 0.0
        named["canon_pass_s"] = median(s.get("pass", []))
    p, tval, n = tail(ops) if ops else (50, 0.0, 0)
    named["tail_s"] = {"value": tval, "percentile": p, "samples": n}
    if "table.stored_bytes" in v and v.get("table.live_rows"):
        named["stored_bytes_per_row"] = v["table.stored_bytes"] / v["table.live_rows"]
    named["session_start_s"] = raw["session_start_s"]
    named["prepare_s"] = raw["prepare_s"]
    named["warm_s"] = raw["warm_s"]
    # process CPU seconds (every thread) per rotation or per pass
    unit_cpu = s.get("cpu.rotation") or s.get("cpu.pass") or []
    # CPU time holds no stolen time, so it is only scaled
    raw_times = {"setup_s": setup, "latency_s": geomean(ops), "cpu_s": median(unit_cpu)}
    calibration = median(unstolen(raw["calibration_s"], raw["calibration_steal"]))
    speed = CALIBRATION_REF_S / calibration
    named["unscaled"] = dict(raw_times, rows_per_s=rate)
    named["calibration_s"] = calibration
    named["steal_share_p50"] = median(s.get("steal.pass") or s.get("steal.read") or [])
    metrics = {k: (x * speed, "s") for k, x in raw_times.items()}
    metrics["rows_per_s"] = (rate / speed, "1/s")
    metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
    return metrics, named


LAYER_OF_OP = {"read": "scan", "write": "table_commit", "query": "queries"}


def per_layer(raw):
    """The per-layer metrics of a traced run, and the layer-specific
    timings (named as the layer's own figures) for the detail record."""
    v = raw["values"]
    spans = raw["spans"]
    m0, m1 = raw["measure"]
    wall = max(1e-9, m1 - m0)
    cores = raw["cores"]
    walk = _subtree(spans)
    selfs = self_times(spans)
    progress = [p for p in raw["progress"] if m0 <= p["t"] <= m1 + 1e-6]
    ops = [sp for sp in spans if sp["name"].split(".")[0] in LAYER_OF_OP]
    batch_work = list(raw.get("batch_work", {}).values())
    named = {}

    # per timed op, counting the micro-batches the streamed upserts wait for
    units = max(1, len(ops))
    total = _work(raw, (x for o in ops for x in walk(o)))
    for k, x in _sum_work(raw, batch_work).items():
        total[k] += x
    measured = _sum_work(raw, batch_work)
    for k, x in _work(raw, (x for sp in spans if m0 <= sp["start"] <= m1 for x in [sp])).items():
        measured[k] += x

    def layer_share(layer):
        return sum(selfs[x["id"]] for o in ops if LAYER_OF_OP[o["name"].split(".")[0]] == layer
                   for x in walk(o)) / wall

    # a streamed upsert's span waits for its micro-batch: the batch's
    # trigger time outside `addBatch` (the foreachBatch commit) is streaming
    streaming = sum(p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
                    for p in progress) / 1e3 / wall
    share = {
        "scan": layer_share("scan"),
        "table_commit": max(0.0, layer_share("table_commit") - streaming),
        "queries": layer_share("queries"),
        "streaming": streaming,
    }
    share["unattributed"] = max(0.0, 1.0 - sum(share.values()))

    # plan/exec children of the measured ops only (warm-up and verify
    # open lazy calls too, outside any timed op)
    op_kids = [x for o in ops if m0 <= o["start"] <= m1 for x in walk(o)]
    plan = [x["end"] - x["start"] for x in op_kids if x["name"] == "plan"]
    execs = [x["end"] - x["start"] for x in op_kids if x["name"] == "exec"]
    notes = lambda spans_, key: sum(sp["extra"].get(key, 0.0) for sp in spans_)

    metrics = {
        "spark.jobs_per_op": (total["jobs"] / units, "count"),
        "spark.stages_per_op": (total["stages"] / units, "count"),
        "spark.tasks_per_op": (total["tasks"] / units, "count"),
        "spark.input_mb_per_op": (total["input_bytes"] / MB / units, "MB"),
        "spark.shuffle_write_mb_per_op": (total["shuffle_write_bytes"] / MB / units, "MB"),
        "spark.spill_mb": (measured["spill_bytes"] / MB, "MB"),
        "spark.exec_share": (measured["executor_run_ms"] / 1e3 / (wall * cores), "ratio"),
        "span.plan_s_p50": (median(plan), "s"),
        "span.exec_s_p50": (median(execs), "s"),
        "jvm.gc_s": (v.get("jvm.gc_s", 0.0), "s"),
        "jvm.heap_peak_mb": (v.get("jvm.heap_peak_mb", 0.0), "MB"),
    }
    for k, x in share.items():
        metrics[f"share.{k}"] = (x, "ratio")

    # streaming: the measured micro-batches of the upsert stream
    added = [(off, r) for off, r, _ in raw["workload_record"].get("stream_batches", [])]
    per_batch = rows_per_batch(added, progress)
    gen_rows = sum(r for _, r in per_batch)
    metrics.update({
        "streaming.batches": (len(per_batch), "count"),
        "streaming.rows_per_batch_p50": (median([r for _, r in per_batch]), "count"),
        "streaming.source_reads_per_row": (
            sum(p["input_rows"] for p, _ in per_batch) / gen_rows if gen_rows else 0.0, "ratio"),
    })
    for key, label in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                       ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
                       ("queryPlanning", "query_planning")):
        named[f"streaming.{label}_ms_p50"] = median(
            [p["duration_ms"].get(key, 0) for p, _ in per_batch])

    # table commit path: every timed write (a streamed upsert's span
    # holds its micro-batch's wait; the batch's own jobs are added)
    writes = [o for o in ops if o["name"].startswith("write.")]
    commits = len(writes)
    commit_work = _work(raw, (x for o in writes for x in walk(o)))
    for k, x in _sum_work(raw, batch_work).items():
        commit_work[k] += x
    rows_changed = v.get("rows_changed", 0.0)
    for kind in sorted({o["name"].split(".", 1)[1] for o in writes}):
        named[f"table.commit_s_p50.{kind}"] = median(
            [o["end"] - o["start"] for o in writes if o["name"] == f"write.{kind}"])
    for key in ("validator.rows_added_per_batch", "validator.rows_invalid_per_batch"):
        metrics[key] = (v.get(key, 0.0), "count")

    # table commit path
    c = max(1, commits)
    live = v.get("table.live_rows", 0)
    metrics.update({
        "table.commits": (commits, "count"),
        "table.jobs_per_commit": (commit_work["jobs"] / c, "count"),
        "table.tasks_per_commit": (commit_work["tasks"] / c, "count"),
        "table.input_mb_per_commit": (commit_work["input_bytes"] / MB / c, "MB"),
        "table.bytes_written_per_row_changed": (
            commit_work["output_bytes"] / rows_changed if rows_changed else 0.0, "B"),
        "table.files_live": (v.get("table.files_live", 0), "count"),
        "table.versions": (v.get("table.versions", 0), "count"),
        "table.manifest_kb": (v.get("table.manifest_bytes", 0) / 1024.0, "KB"),
        "table.stored_bytes_per_row": (v.get("table.stored_bytes", 0) / live if live else 0.0, "B"),
    })

    # read path
    reads = [o for o in ops if o["name"].startswith("read.")]
    r = max(1, len(reads))
    read_work = _work(raw, (x for o in reads for x in walk(o)))
    files_read = notes(reads, "files_read")
    returned = notes(reads, "rows_returned")
    metrics.update({
        "scan.reads": (len(reads), "count"),
        "scan.jobs_per_read": (read_work["jobs"] / r, "count"),
        "scan.tasks_per_read": (read_work["tasks"] / r, "count"),
        "scan.files_read_per_read": (files_read / r, "count"),
        "scan.mb_read_per_read": (notes(reads, "bytes_read") / MB / r, "MB"),
        "scan.rows_read_per_row_returned": (
            notes(reads, "rows_read") / returned if returned else 0.0, "ratio"),
    })
    for kind in sorted({o["name"].split(".", 1)[1] for o in reads}):
        named[f"scan.{kind}_p50_s"] = median(
            [o["end"] - o["start"] for o in reads if o["name"] == f"read.{kind}"])
    read_plans = [x["end"] - x["start"] for o in reads for x in walk(o) if x["name"] == "plan"]
    named["scan.plan_s_p50"] = median(read_plans)

    # queries and operators
    queries = [o for o in ops if o["name"].startswith("query.")]
    passes = max(1, len(raw["samples"].get("pass", [])))
    qwork = _work(raw, (x for o in queries for x in walk(o)))
    qwall = sum(o["end"] - o["start"] for o in queries)
    metrics.update({
        "canon.jobs_per_pass": (qwork["jobs"] / passes if queries else 0.0, "count"),
        "canon.stages_per_pass": (qwork["stages"] / passes if queries else 0.0, "count"),
        "canon.exchanges_per_pass": (notes(queries, "exchanges") / passes if queries else 0.0, "count"),
        "canon.shuffle_write_mb_per_pass": (
            qwork["shuffle_write_bytes"] / MB / passes if queries else 0.0, "MB"),
        "canon.input_mb_per_pass": (qwork["input_bytes"] / MB / passes if queries else 0.0, "MB"),
        "canon.spill_mb_per_pass": (qwork["spill_bytes"] / MB / passes if queries else 0.0, "MB"),
        "canon.exec_share": (
            qwork["executor_run_ms"] / 1e3 / (qwall * cores) if qwall else 0.0, "ratio"),
    })
    for q in sorted({o["name"].split(".", 1)[1] for o in queries}):
        named[f"canon.{q}_s"] = median(
            [o["end"] - o["start"] for o in queries if o["name"] == f"query.{q}"])
    # every Dataset action, the program's own included, seen in the window
    acts = [a for a in raw["actions"] if m0 <= a[1] <= m1 + 1.0]
    named["spark.actions_per_op"] = len(acts) / units
    named["spark.action_exchanges_per_op"] = sum(a[3] for a in acts) / units
    named["layer_self_s"] = _layer_self(spans, selfs)
    return metrics, named


def _layer_self(spans, selfs):
    """Self time summed per span name (the first two name parts)."""
    out = {}
    for sp in spans:
        key = ".".join(sp["name"].split(".")[:2])
        out[key] = out.get(key, 0.0) + selfs[sp["id"]]
    return dict(sorted(out.items()))
