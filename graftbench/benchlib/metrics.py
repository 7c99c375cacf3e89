"""Pure arithmetic of the benchmark: the tail rule, span self time, the
failure base, and the metric tables built from one run's raw samples.

Kept free of I/O so that `tests/test_metrics.py` can pin every rule.
"""
import statistics

# percentiles a tail may be reported at, highest first
TAIL_MENU = (99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail_percentile(n, min_above=10):
    """Highest percentile of TAIL_MENU with at least `min_above` of `n`
    samples above it, or None when `n` is too small for any."""
    for p in TAIL_MENU:
        if n * (100.0 - p) >= min_above * 100.0:
            return p
    return None


def failed_frac(attempted, failed):
    """Failed operations over operations attempted; a run that attempted
    nothing has no base and is an error, not a success."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children count once).
    `spans` is a list of dicts with id, parent, start_s and end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(lo, c["start_s"]), min(hi, c["end_s"]))
                     for c in children.get(s["id"], []))
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
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(name):
    """Layer a span belongs to, from its name. A crawl root and a query
    root (named after the query) are the harness's own work between calls."""
    if name == "crawl" or name.startswith("q_"):
        return "bench"
    if name.startswith("queries."):
        return name
    return name.split(".")[0]


SELF_LAYERS = ("bench", "crawl", "state", "check", "queries.build",
               "queries.plan", "queries.exec")

E2E = (
    ("setup_s", "s"), ("cold_s", "s"), ("pass_s", "s"), ("scaling_eff_1to4", "ratio"),
    ("items_per_s", "1/s"), ("peak_exec_mem_mb", "MB"), ("ok_frac", "frac"),
)


def end_to_end(raw):
    """End-to-end metrics of an untraced run."""
    c4 = [p for p in raw["passes"] if p["leg"] == "c4"]
    c1 = [p for p in raw["passes"] if p["leg"] == "c1"]
    pass_s = median(p["s"] for p in c4)
    values = {
        "setup_s": median(raw["setup_s"]),
        "cold_s": raw["cold"]["s"],
        "pass_s": pass_s,
        "scaling_eff_1to4": median(p["s"] for p in c1) / pass_s / 4.0,
        "items_per_s": median(p["items"] / p["s"] for p in c4),
        "peak_exec_mem_mb": max(p["peak_exec_mem"] for p in c4) / 2.0 ** 20,
        "ok_frac": 1.0 - failed_frac(raw["attempted"], raw["failed"]),
    }
    return {k: (values[k], unit) for k, unit in E2E}


CORE = (("core.extract_us_per_page", "us", "extract_us_per_page"),
        ("core.parse_us_per_page", "us", "parse_us_per_page"),
        ("core.canonicalize_ns_per_url", "ns", "canonicalize_ns_per_url"),
        ("core.links_per_page", "count", "links_per_page"),
        ("core.html_bytes_per_page", "bytes", "html_bytes_per_page"))

CRAWL_COUNTS = ("scheduled", "fetched", "failed", "deferred", "new_urls", "content_bytes")


def _sum(spans, key):
    return float(sum(s["counts"][key] for s in spans))


def per_layer(raw, canary_s, queries):
    """Per-layer metrics of a traced run: listener counts and span times
    of the traced 4-core passes (the workload's own, and the probe pass
    of the other workload), the core micro-measurements, self time per
    layer and the tracing overhead."""
    spans = raw["spans"]
    traced = [p for p in raw["passes"] if p["leg"] == "c4" and p["traced"]]
    plain = [p for p in raw["passes"] if p["leg"] == "c4" and not p["traced"]]
    in_c4 = [s for s in spans if s["rid"].split("@")[-1].startswith(("c4", "probe"))]
    n_pass = max(1, len({s["rid"].split("@")[-1] for s in in_c4 if s["name"].startswith("q_")}))
    m = {}

    core = raw["info"].get("core", {})
    for name, unit, key in CORE:
        m[name] = (float(core.get(key, 0.0)), unit)

    # crawl layer
    roots = [s for s in in_c4 if s["name"] == "crawl"]
    waves = [s for s in in_c4 if s["name"] == "crawl.run_wave"]
    inits = [s for s in in_c4 if s["name"] == "crawl.init_seeds"]
    calls = waves + inits
    wall = sum(s["end_s"] - s["start_s"] for s in waves)
    n_waves = max(1, len(waves))
    n_crawls = max(1, len(roots))
    first = roots[0]["attrs"] if roots else {}
    counts = {k: float(first.get(k, 0.0)) for k in CRAWL_COUNTS}
    m["crawl.wave_s"] = (median([s["end_s"] - s["start_s"] for s in waves]) if waves else 0.0, "s")
    m["crawl.init_seeds_s"] = (median([s["end_s"] - s["start_s"] for s in inits]) if inits else 0.0, "s")
    m["crawl.waves"] = (float(first.get("waves", 0.0)), "count")
    for k in CRAWL_COUNTS:
        m["crawl." + k] = (counts[k], "bytes" if k == "content_bytes" else "count")
    m["crawl.fetch_yield"] = (counts["fetched"] / counts["scheduled"] if counts["scheduled"] else 0.0, "frac")
    m["crawl.jobs_per_wave"] = (_sum(waves, "jobs") / n_waves, "count")
    m["crawl.stages_per_wave"] = (_sum(waves, "stages") / n_waves, "count")
    m["crawl.tasks_per_wave"] = (_sum(waves, "tasks") / n_waves, "count")
    m["crawl.exec_busy_frac"] = (_sum(waves, "exec_run_ms") / 1e3 / (wall * 4) if wall else 0.0, "frac")
    m["crawl.exec_cpu_s"] = (_sum(calls, "exec_cpu_ns") / 1e9 / n_crawls, "s")
    m["crawl.gc_s"] = (_sum(calls, "gc_ms") / 1e3 / n_crawls, "s")
    m["crawl.shuffle_write_bytes"] = (_sum(calls, "shuffle_write") / n_crawls, "bytes")
    m["crawl.shuffle_read_bytes"] = (_sum(calls, "shuffle_read") / n_crawls, "bytes")
    m["crawl.spill_bytes"] = (_sum(calls, "spill") / n_crawls, "bytes")
    m["crawl.output_bytes"] = (_sum(calls, "output") / n_crawls, "bytes")

    # state layer
    content = counts["content_bytes"]
    state_bytes = float(first.get("state_bytes", 0.0))
    m["state.bytes_on_disk"] = (state_bytes, "bytes")
    m["state.live_segments"] = (float(first.get("live_segments", 0.0)), "count")
    m["state.bytes_per_content_byte"] = (state_bytes / content if content else 0.0, "ratio")
    m["state.output_bytes_per_content_byte"] = (
        m["crawl.output_bytes"][0] / content if content else 0.0, "ratio")

    # query layer (graft.operators, plans, functions and streaming run under it)
    qroots = [s for s in in_c4 if s["name"].startswith("q_")]
    by = {n: [s for s in in_c4 if s["name"] == "queries." + n] for n in ("build", "plan", "exec")}
    qwall = sum(s["end_s"] - s["start_s"] for s in qroots)
    m["queries.build_s"] = (sum(s["end_s"] - s["start_s"] for s in by["build"]) / n_pass, "s")
    m["queries.plan_s"] = (sum(s["end_s"] - s["start_s"] for s in by["plan"]) / n_pass, "s")
    m["queries.exec_s"] = (sum(s["end_s"] - s["start_s"] for s in by["exec"]) / n_pass, "s")
    m["queries.build_jobs"] = ((_sum(by["build"], "jobs") + _sum(by["plan"], "jobs")) / n_pass, "count")
    qcalls = by["build"] + by["plan"] + by["exec"]
    m["queries.jobs"] = (_sum(qcalls, "jobs") / n_pass, "count")
    m["queries.stages"] = (_sum(qcalls, "stages") / n_pass, "count")
    m["queries.tasks"] = (_sum(qcalls, "tasks") / n_pass, "count")
    # compiled classes are cached per JVM, so compilation shows in the
    # first query pass: the cold pass, or the probe's warm-up
    first_q = next(p for p in [raw["cold"]] + raw["passes"]
                 if p["ops"] and p["ops"][0]["name"].startswith("q_"))
    m["queries.codegen_compile_s"] = (first_q.get("codegen_s", 0.0), "s")
    m["queries.shuffle_bytes"] = (_sum(qcalls, "shuffle_write") / n_pass, "bytes")
    m["queries.spill_bytes"] = (_sum(qcalls, "spill") / n_pass, "bytes")
    m["queries.exec_busy_frac"] = (_sum(qcalls, "exec_run_ms") / 1e3 / (qwall * 4) if qwall else 0.0, "frac")
    m["queries.exchanges"] = (sum(s["attrs"].get("exchanges", 0.0) for s in by["plan"]) / n_pass, "count")
    m["queries.non_codegen_nodes"] = (
        sum(s["attrs"].get("non_codegen_nodes", 0.0) for s in by["plan"]) / n_pass, "count")
    for q in queries:
        ts = [s["end_s"] - s["start_s"] for s in qroots if s["name"] == q]
        m[q + ".s"] = (median(ts) if ts else 0.0, "s")

    # self time per layer, per traced pass that ran the layer
    selfs = self_times(spans)
    totals = dict.fromkeys(SELF_LAYERS, 0.0)
    passes = {layer: set() for layer in SELF_LAYERS}
    for s in in_c4:
        layer = layer_of(s["name"])
        if layer in totals:
            totals[layer] += selfs[s["id"]]
            passes[layer].add(s["rid"].split("@")[-1])
    for layer in SELF_LAYERS:
        m["self." + layer + "_s"] = (totals[layer] / max(1, len(passes[layer])), "s")

    # tracing overhead: traced minus untraced 4-core passes of this run,
    # which run on both sides of the traced ones
    if traced and plain:
        t, u = median(p["s"] for p in traced), median(p["s"] for p in plain)
        m["trace.overhead_s"] = (t - u, "s")
        m["trace.overhead_frac"] = ((t - u) / u, "frac")
    else:
        m["trace.overhead_s"] = (0.0, "s")
        m["trace.overhead_frac"] = (0.0, "frac")
    m["host.canary_s"] = (canary_s, "s")
    return m
