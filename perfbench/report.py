"""Metrics of one run record: the end-to-end metrics, the per-layer
metrics of the traced passes, and the span table."""
from stats import median, p90, self_times, union_length

DATASETS = ["title_basics", "name_basics", "title_akas", "title_crew",
            "title_episode", "title_principals", "title_ratings"]
TABLES = ["title_alias_type", "title_type", "genre", "profession", "name",
          "title", "title_alias", "title_alias_to_title_alias_type",
          "episode", "participation", "character",
          "temp_characters_to_character", "participation_to_character",
          "name_to_known_for_title", "title_to_genre"]
QUERY_KINDS = ["genres", "character", "directed_by", "known_for", "smoke",
               "export"]
LAYERS = ["transfer", "build", "query", "gates.stream", "gates.batch"]
COUNTERS = [("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
            ("task_cpu_s", "s"), ("input_mb", "MB"), ("output_mb", "MB"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"),
            ("busy_ratio", "ratio")]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("retained_heap_mb", "MB")]


def per_layer_names(modules):
    """(name, unit) of every per-layer metric, given the operator
    modules of the frozen gate list."""
    names = [("transfer.%s_s" % d, "s") for d in DATASETS]
    names += [("build.derive_s", "s")]
    names += [("build.%s_s" % t, "s") for t in TABLES]
    names += [("build.validate_s", "s")]
    names += [("query.%s_ms" % k, "ms") for k in QUERY_KINDS]
    names += [("gates.%s_s" % m, "s") for m in modules]
    names += [("%s.%s" % (l, c), u) for l in LAYERS for c, u in COUNTERS]
    names += [("pass.self_s", "s"), ("transfer.self_s", "s"),
              ("build.self_s", "s"), ("trace.overhead_s", "s")]
    return names


def _med(values):
    return median(values) if values else 0.0


def pass_s(p):
    """A pass's summed op latency."""
    return sum(o["ms"] for o in p["ops"]) / 1e3


def op_medians_s(passes):
    """The latency of a typical pass: for each op name, the median of
    its latency over the passes, summed over the names. A slow op in
    one pass and another in the next move no median, where they would
    move every pass's sum."""
    ms = {}
    for p in passes:
        for o in p["ops"]:
            ms.setdefault(o["name"], []).append(o["ms"])
    return sum(median(v) for v in ms.values()) / 1e3


def end_to_end(record, passes):
    return {
        "setup_s": record["setup_s"],
        "pass_s": op_medians_s(passes),
        "retained_heap_mb": median([p["heap_mb"] for p in passes]),
    }


def neighbour_deltas(passes, f):
    """For each traced pass, f of the pass minus the mean f of the
    untraced passes on either side of it."""
    out = []
    for n, p in enumerate(passes):
        side = [f(passes[m]) for m in (n - 1, n + 1)
                if 0 <= m < len(passes) and not passes[m]["traced"]]
        if p["traced"] and side:
            out.append(f(p) - sum(side) / len(side))
    return out


def tracing_overhead(record):
    """Median cost of tracing a pass, per end-to-end metric that a pass
    gives, and for the pass's wall time."""
    passes = record["passes"]
    return {
        "pass_s": _med(neighbour_deltas(passes, pass_s)),
        "retained_heap_mb": _med(neighbour_deltas(
            passes, lambda p: p["heap_mb"])),
        "wall_s": _med(neighbour_deltas(passes, lambda p: p["wall_s"])),
    }


def workload_detail(record, passes, tsv_mb):
    """The workload-specific figures, by the names the README uses."""
    def per_pass(f):
        return median([f(p) for p in passes])
    ops = [o["ms"] for p in passes for o in p["ops"]]
    common = {"ops": len(ops), "op_p50_ms": median(ops),
              "op_p90_ms": p90(ops)}
    if record["workload"] == "etl":
        t = per_pass(lambda p: sum(o["ms"] for o in p["ops"]
                                   if o["name"].startswith("transfer.")) / 1e3)
        b = per_pass(lambda p: sum(o["ms"] for o in p["ops"]
                                   if o["name"] == "build") / 1e3)
        return dict(common, transfer_s=t, build_s=b,
                    etl_mb_per_s=tsv_mb / (t + b))
    queries = [o["ms"] for p in passes for o in p["ops"] if "mix" in o]
    return dict(common, **{
        "query_p50_ms": median(queries), "query_p90_ms": p90(queries),
        "queries_per_s": per_pass(lambda p: sum(
            o["ok"] for o in p["ops"] if "mix" in o) / sum(
            o["ms"] for o in p["ops"] if "mix" in o) * 1e3),
        "gates_stream_s": per_pass(lambda p: sum(
            o["ms"] for o in p["ops"]
            if o.get("family") == "gates.stream") / 1e3),
        "gates_batch_s": per_pass(lambda p: sum(
            o["ms"] for o in p["ops"]
            if o.get("family") == "gates.batch") / 1e3)})


def _layer_counters(spans, jobs, cores, layer):
    """Counters of the top-level spans of `layer` in one pass; a job
    belongs to the span its start falls in."""
    top = [s for s in spans if s["layer"] == layer and
           (s["parent"] < 0 or spans[s["parent"]]["layer"] != layer)]
    wall = sum(s["t1"] - s["t0"] for s in top) / 1e3
    mine, gap = [], 0.0
    for s in top:
        inside = [j for j in jobs if s["t0"] <= j["t0"] <= s["t1"]]
        mine += inside
        # a job with no end event covers the rest of its span
        gap += (s["t1"] - s["t0"]) - union_length(
            [(j["t0"], min(j["t1"] or s["t1"], s["t1"])) for j in inside])
    run_s = sum(j["run_ms"] for j in mine) / 1e3
    return {
        "jobs": len(mine),
        "tasks": sum(j["tasks"] for j in mine),
        "driver_gap_s": gap / 1e3,
        "task_cpu_s": sum(j["cpu_ns"] for j in mine) / 1e9,
        "input_mb": sum(j["in_bytes"] for j in mine) / 1e6,
        "output_mb": sum(j["out_bytes"] for j in mine) / 1e6,
        "shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in mine) / 1e6,
        "spill_mb": sum(j["spill_bytes"] for j in mine) / 1e6,
        "gc_s": sum(j["gc_ms"] for j in mine) / 1e3,
        "busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
    }


def per_layer(record, modules):
    """Per-layer metrics: each the median over the traced passes of the
    per-pass value; a layer the workload does not run reads 0."""
    traced = [n for n, p in enumerate(record["passes"]) if p["traced"]]
    spans = record["spans"]
    selfs = self_times(spans)
    by_pass = {n: [i for i, s in enumerate(spans) if s["pass"] == n]
               for n in traced}

    def span_metric(f):
        return _med([f(by_pass[n]) for n in traced])

    def total(ids, pred, scale):
        return sum(spans[i]["t1"] - spans[i]["t0"] for i in ids
                   if pred(spans[i]["name"])) / scale

    out = {}
    for d in DATASETS:
        out["transfer.%s_s" % d] = span_metric(
            lambda ids: total(ids, lambda n: n == "transfer." + d, 1e3))
    for t in ["derive"] + TABLES + ["validate"]:
        out["build.%s_s" % t] = span_metric(
            lambda ids: total(ids, lambda n: n == "build." + t, 1e3))
    for k in QUERY_KINDS:
        out["query.%s_ms" % k] = _med([
            s["t1"] - s["t0"] for s in spans if s["name"] == "query." + k])
    for m in modules:
        out["gates.%s_s" % m] = span_metric(lambda ids: total(
            ids, lambda n: n.startswith("gates.") and
            n.split(".")[2] == m, 1e3))

    jobs = record["jobs"]
    for layer in LAYERS:
        per_pass = [_layer_counters(spans_of(spans, by_pass[n]), jobs,
                                    record["cpus"], layer)
                    for n in traced]
        for c, _ in COUNTERS:
            out["%s.%s" % (layer, c)] = _med([x[c] for x in per_pass])

    for name in ["pass", "transfer", "build"]:
        out["%s.self_s" % name] = span_metric(lambda ids: sum(
            selfs[i] for i in ids if spans[i]["name"] == name) / 1e3)
    out["trace.overhead_s"] = tracing_overhead(record)["wall_s"]
    return out


def spans_of(spans, ids):
    """The spans `ids` as a list whose `parent` fields index into it."""
    index = {i: k for k, i in enumerate(ids)}
    return [dict(spans[i], parent=index.get(spans[i]["parent"], -1))
            for i in ids]


def span_table(record):
    """(name, calls, median wall ms, median self ms) per span name over
    the traced passes, in first-seen order."""
    spans = record["spans"]
    selfs = self_times(spans)
    rows = {}
    for s, own in zip(spans, selfs):
        r = rows.setdefault(s["name"], ([], []))
        r[0].append(s["t1"] - s["t0"])
        r[1].append(own)
    return [(name, len(w), median(w), median(o))
            for name, (w, o) in rows.items()]
