"""Metric derivation for the benchmark: turns the harness's raw run record
(timed op log, set-up repetitions, load samples and, in traced runs, spans,
Spark stage/job records and kernel-replay probes) into the reported
end-to-end and per-layer metrics.

The small helpers at the top (percentile, spread, self time, call-site
attribution) are unit-tested in perfbench/tests.
"""
import re
import statistics

# ---------------------------------------------------------------- helpers

HARNESS_FILES = {"PerfBench", "Workloads", "KernelReplay", "Trace"}
_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.[\w$.]+\((\w+)\.scala:\d+\)")
_SHORT = re.compile(r"^(\w+) at (\w+)\.scala:\d+")


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default method); None if empty."""
    v = sorted(values)
    if not v:
        return None
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def tail_supported(n, p):
    """True when at least 10 of n samples lie beyond the p-th percentile."""
    return n * (100 - p) / 100.0 >= 10


def spread(values):
    """Inter-quartile range over the median, as statistics.quantiles gives it."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def self_times(spans):
    """Per-layer self time in seconds: each span's duration minus the union
    of its children's intervals clipped to it. A span's layer is the first
    dot-separated component of its name. Spans are dicts with id, parent,
    name, start and end (milliseconds)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
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
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0.0) + max(0.0, (hi - lo) - covered) / 1e3
    return out


def call_site(stage_name, details, fallback):
    """(action, module) for a Spark stage. The module is the engine file
    named in the stage's call site — the short form ("parquet at
    manifest.scala:315") when it names an engine file, else the first
    engine frame of the long form; a call site inside the harness itself
    falls back to the layer of the harness span that submitted the job."""
    m = _SHORT.match(stage_name or "")
    action = m.group(1) if m else (stage_name or "").split(" ")[0]
    if m and m.group(2) not in HARNESS_FILES and m.group(2)[:1].islower():
        return action, m.group(2)
    for line in (details or "").splitlines():
        f = _FRAME.match(line)
        if f and f.group(1) not in HARNESS_FILES:
            return action, f.group(1)
    return action, fallback


# ---------------------------------------------------------------- records

CODECS = ["plain", "bitpack", "for", "rle", "delta", "dict", "fsst2"]
ENCODE_KINDS = {"encode", "append", "compact"}
READ_KINDS = {"lookup", "range"}


def _timed(rec, kind=None):
    return [o for o in rec.get("ops", [])
            if not o.get("warmup") and not o.get("probe") and not o.get("error") and "s" in o
            and (kind is None or o["kind"] == kind)]


def _s(rec, kind, field="s"):
    return [o[field] for o in _timed(rec, kind)]


def _med(values, default=0.0):
    m = median(values)
    return default if m is None else m


def setup_s(rec):
    """Process CPU seconds of the set-up: JVM and session start, the median
    of the repeated set-up, and the warm-up. CPU rather than wall time, so
    that CPU stolen by co-tenants does not count; the wall times are in the
    run's detail line."""
    return rec["session_cpu_s"] + _med(rec["setup_reps_cpu_s"]) + rec["warmup_cpu_s"]


def headline(rec):
    """The workload's own named metrics (tracing off or on)."""
    wl = rec["workload"]
    out = {}
    att = max(1, rec.get("attempted", 0))
    out["failed_op_share"] = rec.get("failed", 0) / att
    out["unit_s"] = unit_s(rec)
    out["op_ms.p50"] = op_ms_p50(rec)
    if wl == "bulk_roundtrip":
        enc, dec = _timed(rec, "encode"), _timed(rec, "decode")
        toks = enc[-1]["tokens"] if enc else 0
        if enc and dec:
            out["encode_mtok_s"] = toks / _med([o["s"] for o in enc]) / 1e6
            out["decode_mtok_s"] = toks / _med([o["s"] for o in dec]) / 1e6
    elif wl == "serve_mix":
        for kind in ("lookup", "range", "append"):
            ms = [x * 1e3 for x in _s(rec, kind)]
            if ms:
                out[f"{kind}_ms.p50"] = percentile(ms, 50)
                out[f"{kind}_ms.p90"] = percentile(ms, 90)
                out[f"{kind}_ms.n"] = len(ms)
                out[f"{kind}_ms.p90_supported"] = tail_supported(len(ms), 90)
        if _s(rec, "compact"):
            out["compact_s"] = _med(_s(rec, "compact"))
    if query_medians(rec):
        out["query_s.sum"] = sum(query_medians(rec).values())
    return out


def query_medians(rec):
    """Per-query warm medians (the query surface runs as a probe)."""
    per = {}
    for o in rec.get("ops", []):
        if o["kind"] == "query" and not o.get("error") and "s" in o:
            per.setdefault(o["name"], []).append(o["s"])
    return {k: _med(v) for k, v in per.items()}


def unit_s(rec, field="s"):
    """Expected time of one unit of the workload's work, from per-kind
    medians so the number does not depend on how a run's ops happened to
    be drawn: a round trip (bulk_roundtrip), one serve cycle of lookups,
    range reads, appends and its compaction (serve_mix). `field` "s" is
    wall time, "cpu_s" the process's CPU time during the ops."""
    if rec["workload"] == "bulk_roundtrip":
        return _med(_s(rec, "encode", field)) + _med(_s(rec, "decode", field))
    return sum(_med(_s(rec, kind, field)) for kind in rec["sizes"]["cycle"])


def op_ms_p50(rec):
    """Median latency of the workload's op: a round trip for
    bulk_roundtrip, any cycle op for serve_mix."""
    if rec["workload"] == "bulk_roundtrip":
        trips = [e + d for e, d in zip(_s(rec, "encode"), _s(rec, "decode"))]
        return _med(trips) * 1e3
    return _med([o["s"] for o in _timed(rec)]) * 1e3


def stored_bytes_per_raw_byte(rec):
    """All files under the table dir ÷ canonical raw bytes (4·n_tok + 4 per
    row): the last encoded table (bulk_roundtrip), the table after its last
    compaction (serve_mix)."""
    if rec["workload"] == "bulk_roundtrip":
        last = _timed(rec, "encode")[-1]
        return last["stored_bytes"] / last["raw_bytes"]
    return rec["storage"]["stored_bytes"] / rec["storage"]["raw_bytes"]


def end_to_end(rec):
    return {"setup_s": setup_s(rec), "unit_cpu_s": unit_s(rec, "cpu_s"),
            "stored_bytes_per_raw_byte": stored_bytes_per_raw_byte(rec),
            "peak_rss_mb": rec["peak_rss_mb"]}


def load(rec):
    a, b = rec.get("load_measure_start"), rec.get("load_measure_end")
    if not a or not b:
        return {}
    wall = (b["t"] - a["t"]) / 1e3
    la = a["loadavg"].split()
    ticks = [y - x for x, y in zip(a.get("cpu_ticks", []), b.get("cpu_ticks", []))]
    return {"load.cpu_util": (b["cpu_s"] - a["cpu_s"]) / wall if wall > 0 else 0.0,
            "load.loadavg1": float(la[0]) if la else 0.0,
            "load.steal_share": ticks[7] / sum(ticks) if len(ticks) > 7 and sum(ticks) else 0.0,
            "load.cpu_stall_share": ((b["cpu_stall_us"] - a["cpu_stall_us"]) / 1e6 / wall
                                     if a.get("cpu_stall_us") is not None
                                     and b.get("cpu_stall_us") is not None and wall > 0 else 0.0)}


# ---------------------------------------------------------------- traced

def layers(rec):
    """Per-layer metrics of a traced run; 0 where the workload never
    exercises a layer."""
    ops = {o["op"]: o for o in rec.get("ops", [])}
    spans = rec.get("spans", [])
    span_by_id = {s["id"]: s for s in spans}
    jobs = rec.get("jobs", [])
    stages = rec.get("stages", [])
    probes = rec.get("probes", {})
    timed = [o for o in rec.get("ops", []) if not o.get("warmup") and not o.get("error") and "s" in o]
    timed_ids = {o["op"] for o in timed}

    def op_of(span_id):
        s = span_by_id.get(span_id)
        return ops.get(s["op"]) if s else None

    def layer_of(span_id):
        s = span_by_id.get(span_id)
        return s["name"].split(".")[0] if s else "harness"

    # classify stages: (op kind, job class)
    enc = {"map": [], "reduce": [], "lineage": [], "planner": []}
    by_module = {}
    for st in stages:
        action, module = call_site(st["name"], st["details"], layer_of(st["span"]))
        o = op_of(st["span"])
        if not o or o["op"] not in timed_ids:
            continue
        by_module[module] = by_module.get(module, 0.0) + st["task_s"]
        if o["kind"] not in ENCODE_KINDS:
            continue
        if module == "planner":
            enc["planner"].append(st)
        elif action == "collect":
            enc["lineage"].append(st)
        elif st["shuffle_write_bytes"] > 0:
            enc["map"].append(st)
        else:
            enc["reduce"].append(st)

    def jobs_in(kinds):
        out = {}
        for j in jobs:
            o = op_of(j["span"])
            if o and o["op"] in timed_ids and o["kind"] in kinds:
                out.setdefault(o["op"], []).append(j)
        return out

    n_enc = max(1, len([o for o in timed if o["kind"] in ENCODE_KINDS]))
    raw = sum(o.get("raw_bytes", 0) for o in timed if o["kind"] in ENCODE_KINDS)
    raw_ops = {o["op"] for o in timed if o.get("raw_bytes")}
    shuffle = sum(st["shuffle_write_bytes"] for st in enc["map"]
                  if op_of(st["span"])["op"] in raw_ops)
    all_enc = enc["map"] + enc["reduce"]
    skews = [st["max_task_s"] / st["median_task_s"] for st in enc["reduce"] if st["median_task_s"] > 0]
    lineage_jobs = [j for js in jobs_in(ENCODE_KINDS).values() for j in js
                    if any(st["job"] == j["job"] for st in enc["lineage"])]

    m = {}
    m["engine.map_stage_s"] = sum(st["task_s"] for st in enc["map"]) / n_enc
    m["engine.reduce_stage_s"] = sum(st["task_s"] for st in enc["reduce"]) / n_enc
    m["engine.shuffle_bytes_per_raw_byte"] = shuffle / raw if raw else 0.0
    m["engine.shuffle_fetch_wait_s"] = sum(st["fetch_wait_ms"] for st in all_enc) / 1e3 / n_enc
    m["engine.spill_bytes"] = sum(st["spill_bytes"] for st in all_enc) / n_enc
    m["engine.gc_s"] = sum(st["gc_ms"] for st in all_enc) / 1e3 / n_enc
    m["engine.task_skew"] = _med(skews)
    enc_ops = _timed(rec, "encode")
    m["engine.block_encode_s"] = _med([o["block_encode_s"] for o in enc_ops])
    dec_jobs = jobs_in({"decode"})
    m["engine.decode_job_s"] = _med([sum(j["end"] - j["start"] for j in js) / 1e3
                                     for js in dec_jobs.values()])
    m["manifest.lineage_job_s"] = sum(j["end"] - j["start"] for j in lineage_jobs) / 1e3 / n_enc

    app_jobs = jobs_in({"append"})
    n_app = len(_timed(rec, "append"))
    m["streaming.jobs_per_append"] = sum(len(js) for js in app_jobs.values()) / n_app if n_app else 0.0
    m["streaming.append_job_s"] = (sum(j["end"] - j["start"] for js in app_jobs.values() for j in js)
                                   / 1e3 / n_app) if n_app else 0.0
    m["streaming.files_per_append"] = _med([o["files"] for o in _timed(rec, "append") if "files" in o])
    stored = probes.get("streaming.stream_stored_bytes", 0)
    m["streaming.write_amplification"] = probes.get("streaming.bytes_written", 0) / stored if stored else 0.0
    reads = [o for o in timed if o["kind"] in READ_KINDS]
    m["streaming.tail_batches_at_read"] = (sum(o.get("tail_batches", 0) for o in reads) / len(reads)
                                           if reads else 0.0)

    read_jobs = jobs_in(READ_KINDS)
    read_spans = {s["op"]: s for s in spans if s["parent"] == -1 and s["op"] in timed_ids
                  and ops[s["op"]]["kind"] in READ_KINDS}
    lat = [(min(j["start"] for j in js) - read_spans[op]["start"]) for op, js in read_jobs.items()
           if op in read_spans]
    m["reader.driver_ms"] = _med(lat)
    m["reader.job_ms"] = _med([sum(j["end"] - j["start"] for j in js) for js in read_jobs.values()])
    read_stage_bytes = {}
    for st in stages:
        o = op_of(st["span"])
        if o and o["op"] in timed_ids and o["kind"] in READ_KINDS:
            read_stage_bytes[o["op"]] = read_stage_bytes.get(o["op"], 0) + st["input_bytes"]
    m["reader.bytes_read"] = _med(list(read_stage_bytes.values()))
    m["reader.blocks_decoded"] = _med([o["blocks_decoded"] for o in reads if "blocks_decoded" in o])
    ret = sum(o.get("returned_tokens", 0) for o in reads)
    m["reader.decoded_per_returned_tok"] = sum(o.get("block_tokens", 0) for o in reads) / ret if ret else 0.0

    m["planner.plan_s"] = probes.get("planner.plan_s", 0.0)
    m["planner.sample_rows"] = probes.get("planner.sample_rows", 0)
    m["manifest.latest_ms"] = _med(probes.get("manifest.latest_ms", []))
    m["manifest.write_ms"] = _med(probes.get("manifest.write_ms", []))
    m["manifest.snapshot_bytes"] = probes.get("manifest.snapshot_bytes", 0)
    m["manifest.snapshot_files"] = probes.get("manifest.snapshot_files", 0)

    for k in ("analyze.stats_ns_per_tok", "analyze.select_ns_per_block", "analyze.regret_share",
              "codecs.train_s", "codecs.table_reuse_share", "engine.plain_retry_useful_share",
              "engine.zframe.frame_ns_per_byte", "engine.zframe.unframe_ns_per_byte",
              "engine.zframe.gain", "checksum.block_ns_per_tok", "checksum.slice_ns_per_tok",
              "replay.blocks", "replay.encode_coverage", "replay.decode_coverage"):
        m[k] = probes.get(k, 0.0)
    err = probes.get("analyze.est_error", [])
    m["analyze.est_error.p50"] = _med(err)
    m["analyze.est_error.p90"] = percentile(err, 90) or 0.0
    mix = (enc_ops[-1].get("codecs") if enc_ops else None) or rec.get("storage", {}).get("codecs", {})
    for c in CODECS:
        m[f"codecs.{c}.blocks"] = mix.get(c, 0)
        m[f"codecs.{c}.encode_ns_per_tok"] = probes.get(f"codecs.{c}.encode_ns_per_tok", 0.0)
        m[f"codecs.{c}.decode_ns_per_tok"] = probes.get(f"codecs.{c}.decode_ns_per_tok", 0.0)

    # timed ops and probes (whose op ids are not in the op log); set-up and
    # warm-up are left out
    kept = [s for s in spans if s["op"] in timed_ids or s["op"] not in ops]
    kept_ids = {s["id"] for s in kept}
    job_spans = [{"id": f"job{j['job']}", "parent": j["span"], "name": "spark.job",
                  "start": j["start"], "end": j["end"]} for j in jobs if j["span"] in kept_ids]
    selfs = self_times(kept + job_spans)
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    for module in STAGE_MODULES:
        m[f"stage_s.{module}"] = by_module.get(module, 0.0)
    qm = query_medians(rec)
    for q in QUERIES:
        m[f"query.{q}_s"] = qm.get(q, 0.0)
    return m


SELF_LAYERS = ["manifest", "engine", "streaming", "reader", "planner", "query",
               "analyze", "codecs", "checksum", "spark"]
STAGE_MODULES = ["manifest", "streaming", "engine", "reader", "planner", "query"]
QUERIES = [
    "h_hashobject", "b_ascii85", "c_zstd_roundtrip", "id_mint", "id_hashids",
    "s_msgpack_roundtrip", "t_bpe_count", "dd_minhash", "ann_topk", "mm_metadata"]
HEADLINE = ["unit_s", "op_ms.p50", "encode_mtok_s", "decode_mtok_s",
            "lookup_ms.p50", "lookup_ms.p90", "range_ms.p50", "range_ms.p90",
            "append_ms.p50", "append_ms.p90", "compact_s", "query_s.sum", "failed_op_share"]


def per_layer_names():
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = list(HEADLINE)
    names += ["trace.overhead.unit_s", "trace.overhead.unit_cpu_s", "load.cpu_util",
              "load.loadavg1",
              "load.steal_share", "load.cpu_stall_share"]
    names += ["planner.plan_s", "planner.sample_rows",
              "engine.map_stage_s", "engine.reduce_stage_s", "engine.shuffle_bytes_per_raw_byte",
              "engine.shuffle_fetch_wait_s", "engine.spill_bytes", "engine.gc_s", "engine.task_skew",
              "engine.block_encode_s", "engine.plain_retry_useful_share", "engine.decode_job_s",
              "engine.zframe.frame_ns_per_byte", "engine.zframe.unframe_ns_per_byte", "engine.zframe.gain",
              "analyze.stats_ns_per_tok", "analyze.select_ns_per_block",
              "analyze.est_error.p50", "analyze.est_error.p90", "analyze.regret_share"]
    for c in CODECS:
        names += [f"codecs.{c}.blocks", f"codecs.{c}.encode_ns_per_tok", f"codecs.{c}.decode_ns_per_tok"]
    names += ["codecs.train_s", "codecs.table_reuse_share",
              "checksum.block_ns_per_tok", "checksum.slice_ns_per_tok",
              "replay.blocks", "replay.encode_coverage", "replay.decode_coverage",
              "manifest.latest_ms", "manifest.write_ms", "manifest.snapshot_bytes",
              "manifest.snapshot_files", "manifest.lineage_job_s",
              "streaming.jobs_per_append", "streaming.append_job_s", "streaming.files_per_append",
              "streaming.write_amplification", "streaming.tail_batches_at_read",
              "reader.driver_ms", "reader.job_ms", "reader.bytes_read", "reader.blocks_decoded",
              "reader.decoded_per_returned_tok"]
    names += [f"self_s.{layer}" for layer in SELF_LAYERS]
    names += [f"stage_s.{module}" for module in STAGE_MODULES]
    names += [f"query.{q}_s" for q in QUERIES]
    return names
