"""Turns the benchmark JVM's raw samples into named metrics.

Pure functions over the raw JSON the JVM writes; test_metrics.py checks the
percentile rule, the operation accounting and the span self-time arithmetic.
"""
import math
import statistics

# ---- eligibility manifest ----------------------------------------------------

COMPOSITE_MAX_BYTES = 1024


def manifest(raw):
    """Eligible entries ordered by their single-client HTTP time (the pools
    are stratified on it), entries valid as x2/x4 UNION ALL composites, and
    every exclusion with its reason. Defects are exclusions whose entry
    fails over HTTP but passes in-process."""
    used = sorted(raw["used"], key=lambda u: (u["http_ms"], u["name"]))
    return {
        "note": "generated by: python3 perfbench/run.py --manifest",
        "eligible": [{"name": u["name"], "http_ms": round(u["http_ms"], 1), "rows": u["rows"],
                      "sql_bytes": u["sql_bytes"]} for u in used],
        "composite_ok": sorted(u["name"] for u in used
                               if u["sql_bytes"] <= COMPOSITE_MAX_BYTES
                               and all(c["ok"] for c in u["composite"].values())),
        "composite_left_out": sorted(
            [{"name": u["name"], "sql_bytes": u["sql_bytes"],
              "x4_ms": round(u["composite"]["4"]["ms"])} for u in used
             if u["sql_bytes"] > COMPOSITE_MAX_BYTES or not all(c["ok"] for c in u["composite"].values())],
            key=lambda x: x["name"]),
        "excluded": raw["excluded"],
        "defects": raw["defects"],
    }


# ---- statistics --------------------------------------------------------------

TAIL_SAMPLES = 10  # samples that must lie beyond a reported percentile


def percentile(values, q):
    """Nearest-rank q-th percentile of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail(values, q=90):
    """The q-th percentile, or None when fewer than TAIL_SAMPLES samples lie
    beyond it (p90 needs at least 100 samples)."""
    if len(values) * (100 - q) / 100.0 < TAIL_SAMPLES - 1e-9:
        return None
    return percentile(values, q)


def accounting(samples):
    """(attempted, succeeded, failed) over sample rows; attempted always
    equals succeeded + failed."""
    ok = sum(1 for s in samples if s[COL["ok"]])
    return len(samples), ok, len(samples) - ok


# raw sample row: [cls, key, ttfb_ms, latency_ms, status, bytes, rows, ok, error]
COL = {n: i for i, n in enumerate(["cls", "key", "ttfb", "lat", "status", "bytes", "rows", "ok", "err"])}


# ---- spans -------------------------------------------------------------------

def self_times(spans):
    """Self time per span name for one request's spans.

    `spans` are (id, parent, name, start, end); parent -1 means "the
    innermost span that encloses it" (Spark phases and jobs, which the
    benchmark only sees as intervals). A span's self time is its duration
    minus the part of it its children cover; where children overlap, each
    instant goes to the deepest span open at that instant (the latest
    started among equals), so the self times always add up to the root's
    duration."""
    spans = [list(s) for s in spans]
    by_id = {s[0]: s for s in spans}
    for s in spans:
        if s[1] == -1:
            inside = [p for p in spans if p is not s and p[1] != -1 and p[3] <= s[3] and s[4] <= p[4]]
            s[1] = min(inside, key=lambda p: p[4] - p[3])[0] if inside else 0

    def depth(s):
        d = 0
        while s[1] in by_id:
            s = by_id[s[1]]
            d += 1
        return d

    depths = {s[0]: depth(s) for s in spans}
    root = [s for s in spans if depths[s[0]] == 0]
    lo, hi = min(s[3] for s in root), max(s[4] for s in root)
    cuts = sorted({t for s in spans for t in (s[3], s[4]) if lo <= t <= hi})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s[3] <= a and b <= s[4]]
        if open_:
            top = max(open_, key=lambda s: (depths[s[0]], s[3]))
            out[top[2]] = out.get(top[2], 0) + (b - a)
    return out


LAYERS = ["server", "dialect", "engine", "formats", "arrowio", "flight", "ingest", "bench"]


def layer_of(span_name):
    """Layer of a span: its name's prefix, with Spark's phases and jobs in
    the engine layer; the replay root's own gaps count as benchmark glue."""
    head = span_name.split(".")[0]
    return {"replay": "bench", "spark": "engine"}.get(head, head)


# ---- metric assembly ---------------------------------------------------------

def _ms(x):
    return {"value": x, "unit": "ms"}


def summarize(raw):
    """Returns (report lines, result object)."""
    meta = {k: raw.get(k) for k in ["workload", "seed", "seconds", "nproc", "spark_graft_cpus", "clients",
                                     "max_heap_mb", "spark_version", "git_commit"]}
    meta["steal_pct"] = raw.get("steal_pct")
    lines = ["# meta " + " ".join(f"{k}={v}" for k, v in meta.items())]
    warm = raw["warmups"]
    if raw.get("trace"):
        lines_t, metrics, samples = traced(raw)
        lines += lines_t
    else:
        lines_u, metrics, samples = untraced(raw)
        lines += lines_u
    attempted, ok, failed = accounting(samples + warm)
    lines.append(f"ops_attempted {attempted}")
    lines.append(f"ops_failed {failed}")
    errors = {}
    for s in samples + warm:
        if not s[COL["ok"]]:
            k = (s[COL["key"]], s[COL["err"]][:160])
            errors[k] = errors.get(k, 0) + 1
    for (key, err), n in sorted(errors.items(), key=lambda kv: -kv[1]):
        lines.append(f"failed {n}x {key}: {err}")
    for name, m in metrics.items():
        lines.append(f"metric {name} {m['value']} {m['unit']}")
    return lines, {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def setup_seconds(raw):
    """JVM start to Spark session, plus the median of the repeated server
    set-ups (fixtures, server listening, one warm-up pass)."""
    return raw["session_s"] + statistics.median(raw["server_setup_s"])


def untraced(raw):
    samples = raw["samples"]
    w = raw["window_s"]
    timed = [s for s in samples if s[COL["cls"]] != "final"]
    good = [s for s in samples if s[COL["ok"]] and s[COL["cls"]] != "final"]
    lat = [s[COL["lat"]] for s in timed]
    ttfb = [s[COL["ttfb"]] for s in timed]
    inserts = [s for s in samples if s[COL["cls"]] == "insert"]
    ins_lat = [s[COL["lat"]] for s in inserts]
    p90 = tail(lat)
    body = sum(s[COL["bytes"]] for s in samples if s[COL["cls"]] != "final")
    lines = [f"# window_s {w:.3f} samples {len(timed)} inserts {len(inserts)} "
             f"acked_rows {raw.get('acked_rows', 0)}",
             f"# setup session_s {raw['session_s']:.3f} server_setup_s "
             + " ".join(f"{x:.3f}" for x in raw["server_setup_s"]) + f" expect_s {raw['expect_s']:.3f}"]
    attempted, _, failed = accounting([s for s in samples if s[COL["cls"]] != "final"])
    lines.append(f"fail_ratio {failed / attempted if attempted else 0:.6f} ({failed}/{attempted})")
    if ins_lat:
        polls = [s[COL["lat"]] for s in samples if s[COL["cls"]] == "poll"]
        lines.append(f"insert_p50_ms {statistics.median(ins_lat):.3f} insert_p90_ms {tail(ins_lat)} "
                     f"(n={len(ins_lat)}) ingest_rows_per_s {raw.get('acked_rows', 0) / w:.1f}")
        lines.append(f"poll_p50_ms {statistics.median(polls):.3f} poll_p90_ms {tail(polls)} (n={len(polls)})")
    replays = [s for s in samples if s[COL["cls"]] == "replay"]
    if replays:
        hits = sum(1 for s in replays if s[COL["status"]] == 200)
        lines.append(f"cache_hit_ratio {hits / len(replays):.4f} ({hits}/{len(replays)})")
    if p90 is None:
        lines.append(f"latency_p90_ms from {len(lat)} samples, fewer than 10 beyond it")
    lines.append(f"ttfb_p50_ms {statistics.median(ttfb):.3f} response_mb_per_s {body / 1e6 / w:.6f}")
    metrics = {
        "setup_s": {"value": setup_seconds(raw), "unit": "s"},
        "throughput_rps": {"value": len(good) / w, "unit": "req/s"},
        "latency_p50_ms": _ms(statistics.median(lat)),
        "latency_p90_ms": _ms(p90 if p90 is not None else percentile(lat, 90)),
        "heap_retained_mb": {"value": raw["heap_retained_mb"], "unit": "MB"},
    }
    return lines, metrics, samples


def traced(raw):
    """Per-layer numbers from the traced 1-client pass."""
    reqs = {r[0]: r for r in raw["requests"]}
    spans_by = {}
    for s in raw["spans"]:
        spans_by.setdefault(s[0], []).append((s[1], s[2], s[3], s[4], s[5]))
    jobs = raw["jobs"]
    # jobs become spans of the request whose replay interval holds them
    roots = {q: next(s for s in ss if s[2] == "replay") for q, ss in spans_by.items()}
    per_req_jobs = {}
    for j in jobs:
        jid, start, end = j[0], j[1], j[2]
        for q, r in roots.items():
            if r[3] <= start and end <= r[4] + 1_000_000:  # job ends are ms-stamped
                per_req_jobs.setdefault(q, []).append(j)
                spans_by[q].append((10**9 + jid, -1, "spark.job", start, min(end, r[4])))
                break
    layer_tot = {l: 0.0 for l in LAYERS}
    replay_tot = 0.0
    per_name = {}
    overhead, prep_self, sessions = [], [], []
    phase = {p: [] for p in ("parse", "analyze", "optimize", "plan")}
    inclusive, jobs_in = {}, {}
    for q, ss in spans_by.items():
        for sp in ss:  # calls the benchmark made, not the intervals it placed
            if sp[2] != "replay" and not sp[2].startswith(("spark.", "dialect.")):
                inclusive.setdefault(sp[2], []).append((sp[4] - sp[3]) / 1e6)
                jobs_in.setdefault(sp[2], []).append(
                    sum(1 for j in per_req_jobs.get(q, []) if sp[3] <= j[1] and j[2] <= sp[4] + 1_000_000))
        st = self_times(ss)
        root = roots[q]
        replay_ms = (root[4] - root[3]) / 1e6
        replay_tot += replay_ms
        for name, ns in st.items():
            layer_tot[layer_of(name)] += ns / 1e6
            per_name[name] = per_name.get(name, 0.0) + ns / 1e6
        overhead.append(reqs[q][6] - replay_ms)
        if "engine.prepare" in st:
            prep_self.append(st["engine.prepare"] / 1e6)
        for s in ss:
            if s[2] == "server.session":
                sessions.append((s[4] - s[3]) / 1e6)
            if s[2].startswith("spark.") and s[2][6:] in phase:
                phase[s[2][6:]].append((s[4] - s[3]) / 1e6)
    n = max(1, len(spans_by))
    tr = raw["translates"]
    tr_ms = [t[3] for t in tr] or [0.0]
    tr_kb = sum(t[2] for t in tr) / 1024.0
    samples = raw["samples"]
    replays = [s for s in samples if s[COL["cls"]] == "replay"]
    hits = sum(1 for s in replays if s[COL["status"]] == 200)
    rows = sum(r[5] for r in raw["requests"] if r[7])
    body = sum(r[4] for r in raw["requests"] if r[7])
    plain = [s[COL["lat"]] for s in raw["untraced"]]
    with_trace = [s[COL["lat"]] for s in samples]
    k = min(len(plain), len(with_trace))
    m = {
        "server.http_overhead_ms": _ms(statistics.median(overhead) if overhead else 0.0),
        "server.session_ms": _ms(statistics.median(sessions) if sessions else 0.0),
        "server.cache_hit_ratio": {"value": hits / len(replays) if replays else 0.0, "unit": "ratio"},
        "dialect.translate_ms": _ms(statistics.median(tr_ms)),
        "dialect.translate_max_ms": _ms(max(tr_ms)),
        "dialect.translate_us_per_kb": {"value": sum(tr_ms) * 1000 / tr_kb if tr_kb else 0.0, "unit": "us/KB"},
        "engine.prepare_self_ms": _ms(statistics.median(prep_self) if prep_self else 0.0),
    }
    for p, v in phase.items():  # Spark stamps phases in whole ms: report means
        m[f"spark.{p}_ms"] = _ms(statistics.mean(v) if v else 0.0)
    attributed = [j for v in per_req_jobs.values() for j in v]

    def tot(i):
        return sum(j[i] for j in attributed)

    m.update({
        "spark.jobs_per_req": {"value": len(attributed) / n, "unit": "count"},
        "spark.stages_per_req": {"value": tot(3) / n, "unit": "count"},
        "spark.tasks_per_req": {"value": tot(4) / n, "unit": "count"},
        "spark.task_cpu_ratio": {"value": tot(6) / replay_tot if replay_tot else 0.0, "unit": "ratio"},
        "spark.shuffle_read_bytes": {"value": tot(7), "unit": "bytes"},
        "spark.shuffle_write_bytes": {"value": tot(8), "unit": "bytes"},
        "spark.spill_bytes": {"value": tot(9), "unit": "bytes"},
        "spark.prepare_jobs": {"value": sum(jobs_in.get("engine.prepare", [])) / n, "unit": "count"},
        "formats.bytes_per_row": {"value": body / rows if rows else 0.0, "unit": "bytes/row"},
        "spark.persisted_rdds_end": {"value": raw["persisted_rdds_end"], "unit": "count"},
        "trace.replay_ms": _ms(replay_tot / n),
        "trace.overhead_ratio": {"value": (statistics.median(with_trace[:k]) / statistics.median(plain[:k]))
                                 if k else 0.0, "unit": "ratio"},
    })
    for l in LAYERS:
        m[f"layer.{l}.self_share"] = {"value": layer_tot[l] / replay_tot if replay_tot else 0.0, "unit": "ratio"}
    lines = [f"# traced requests {len(spans_by)} of {len(raw['requests'])} sent; untraced pass {len(plain)}; "
             f"ingest table files at end {raw['table_files']}",
             "# layer self time (ms, share of in-process replay time):"]
    for l in sorted(LAYERS, key=lambda l: -layer_tot[l]):
        lines.append(f"layer {l:8s} {layer_tot[l]:12.3f} ms {layer_tot[l] / replay_tot if replay_tot else 0:.4f}")
    lines.append("# span self time by name (ms):")
    for name, v in sorted(per_name.items(), key=lambda kv: -kv[1]):
        lines.append(f"span {name:24s} {v:12.3f}")
    lines.append(f"# check: sum of self times {sum(layer_tot.values()):.3f} ms = replay time {replay_tot:.3f} ms")
    lines.append("# inclusive time per call (ms) and Spark jobs started inside it:")
    for name in sorted(inclusive):
        d, jb = inclusive[name], jobs_in[name]
        lines.append(f"call {name:24s} n={len(d)} p50_ms={statistics.median(d):.3f} "
                     f"mean_ms={statistics.mean(d):.3f} jobs_per_call={sum(jb) / len(jb):.3f}")
    lines.append("# translate cost per SQL size class:")
    for lo, hi in [(0, 256), (256, 1024), (1024, 4096), (4096, 1 << 30)]:
        cls = [t for t in tr if lo <= t[2] < hi]
        if cls:
            kb = sum(t[2] for t in cls) / 1024.0
            lines.append(f"translate {lo}-{hi} B n={len(cls)} us_per_kb={sum(t[3] for t in cls) * 1000 / kb:.1f} "
                         f"max_ms={max(t[3] for t in cls):.3f}")
    by_fmt = {}
    for r in raw["requests"]:
        if r[7] and r[5]:
            b = by_fmt.setdefault(r[3], [0, 0])
            b[0] += r[4]
            b[1] += r[5]
    for f, (b, rws) in sorted(by_fmt.items()):
        lines.append(f"bytes_per_row {f} {b / rws:.2f} ({rws} rows)")
    return lines, m, samples
