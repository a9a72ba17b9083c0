"""Metric arithmetic of the benchmark: percentiles, tail sample counts,
self times from cumulative timings, and the per-layer metrics.

The benchmark process reports raw figures (spans, Spark task totals,
streaming progress, store sizes); every per-layer metric name is made
here, from those figures."""
import math
from collections import defaultdict

def percentile(values, q):
    """q-th percentile (0-100) by linear interpolation between order statistics."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def samples_beyond(n, q):
    """How many of n samples lie above the q-th percentile."""
    return n - math.ceil(n * q / 100.0 - 1e-9)


def cumulative_self(cumulative):
    """Self times from cumulative timings of a pipeline's prefixes.

    `cumulative` is [(layer, seconds)] in pipeline order, where each entry
    timed the pipeline up to and including that layer. A layer's self time is
    its cumulative time minus the previous one, floored at zero (timer noise
    can make a cheap layer's difference negative)."""
    out, prev = {}, 0.0
    for layer, cum in cumulative:
        out[layer] = out.get(layer, 0.0) + max(0.0, cum - prev)
        prev = cum
    return out


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


IMPORT_LAYERS = ("chess.PgnSource.parse", "sources.Bcgn.decode", "chess.ChessIngest.replay",
                 "chess.ChessIngest.agg", "chess.store.write", "chess.StreamingImport.merge")


def import_layers(spans, untraced_cycle_ms):
    """Per-cycle self times of the import layers, from the cumulative
    `cum:` spans under each epoch span, plus the remainder of the untraced
    cycle that no layer accounts for."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    cycles = [s for s in spans if s["name"] == "import.cycle"]
    totals = dict.fromkeys(IMPORT_LAYERS, 0.0)
    for s in spans:
        if s["name"] in ("import.create", "import.append"):
            steps = sorted(children[s["id"]], key=lambda c: c["start_us"])
            for layer, sec in cumulative_self(
                    [(c["name"][len("cum:"):], _dur(c)) for c in steps if c["name"].startswith("cum:")]).items():
                totals[layer] += sec
        elif s["name"] == "chess.StreamingImport.merge":
            totals["chess.StreamingImport.merge"] += _dur(s)
    n = max(1, len(cycles))
    out = {f"{k}_s": v / n for k, v in totals.items()}
    out["chess.import.unattributed_s"] = _mean(untraced_cycle_ms) / 1000 - sum(out.values())
    return out


def probe_layers(spans, untraced_ms):
    """Mean per-request layer times of the in-process replay, the transport
    share of the client-observed latency, and the unattributed remainder."""
    per_req = defaultdict(dict)
    client = []
    for s in spans:
        if s["name"] == "client.request":
            client.append(_dur(s) * 1000)
        elif s["req"] >= 1000000 and s["name"] != "probe.request":
            per_req[s["req"]].setdefault(s["name"], []).append(_dur(s) * 1000)
    # a layer timed more than once in one request (the lookup brackets
    # execute) counts at its mean
    reqs = [{k: _mean(v) for k, v in r.items()} for r in per_req.values()
            if "chess.ChessServer.execute" in r]
    if not reqs:
        return {}

    def col(name):
        return [r[name] for r in reqs]

    lookup = col("chess.QueryEngine.lookup")
    nest = [r["chess.ChessServer.execute"] - r["chess.QueryEngine.lookup"] for r in reqs]
    handle = [r["chess.ChessServer.parse"] + r["chess.ChessServer.execute"] for r in reqs]
    out = {
        "chess.ChessServer.parse_ms": _mean(col("chess.ChessServer.parse")),
        "chess.QueryEngine.probekeys_ms": _mean(col("chess.QueryEngine.probekeys")),
        "chess.QueryEngine.lookup_p50_ms": percentile(lookup, 50),
        "chess.QueryEngine.lookup_p95_ms": percentile(lookup, 95),
        "chess.ChessServer.nest_ms": _mean(nest),
        "chess.ChessServer.transport_ms": _mean(client) - _mean(handle),
    }
    attributed = (out["chess.ChessServer.parse_ms"] + _mean(lookup) + out["chess.ChessServer.nest_ms"]
                  + out["chess.ChessServer.transport_ms"])
    out["chess.probe.unattributed_ms"] = _mean(untraced_ms) - attributed
    return out


def store_layers(raw):
    """Size of the compacted store and the corpus counts of a traced import."""
    store, corpus, cycle = raw["store"], raw["corpus"], raw["per_cycle"]
    occ = corpus["occurrences"]
    return {
        "chess.store.files": store["files"],
        "chess.store.bytes": store["bytes"],
        "chess.store.bytes_per_pos": store["bytes"] / occ,
        "chess.entries_per_position": store["entries"] / occ,
        "chess.games_parsed": cycle["games_parsed"],
        "chess.games_skipped": corpus["games"] - cycle["games_parsed"],
        "chess.positions": cycle["positions"],
    }


def probe_counts(raw):
    """Keys, rows and Spark work per request, and the share of scanned store
    rows a lookup returns."""
    d, spark = raw["decomposed"], raw["probe_spark"]
    traced_requests = len(raw["probe_traced_ms"])
    return {
        "chess.QueryEngine.keys_per_request": d["keys"] / d["requests"],
        "chess.QueryEngine.rows_per_request": d["rows"] / d["requests"],
        "chess.lookup.useful_ratio": d["rows"] / (d["store_rows"] * d["scans"]),
        "spark.jobs_per_request": spark["jobs"] / traced_requests,
        "spark.tasks_per_request": spark["tasks"] / traced_requests,
    }


def spark_layers(t):
    """Task totals of a traced window, from the benchmark's SparkListener."""
    return {
        "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
        "spark.executor_run_s": t["run_ms"] / 1e3,
        "spark.executor_cpu_s": t["cpu_ns"] / 1e9,
        "spark.gc_s": t["gc_ms"] / 1e3,
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.input_bytes": t["input_bytes"],
        # executor run time over wall time, out of local[4]'s 4 cores
        "spark.parallelism": t["run_ms"] / 1e3 / t["wall_s"] if t["wall_s"] > 0 else 0.0,
    }


MODULES = ("Relational", "Text", "Vector", "Chess", "Multimodal", "Quality", "DupSpans", "Sketch")
STREAMING = "Streaming"


def operator_layers(spans, traced_ops):
    """Seconds per operator module, and spent building, planning and
    executing the sampled batch queries."""
    out = {f"operators.{m}.total_s": 0.0 for m in MODULES}
    for op in traced_ops:
        if op["module"] != STREAMING:
            out[f"operators.{op['module']}.total_s"] += op["s"]
    for phase in ("build", "plan", "exec"):
        out[f"operators.{phase}_s"] = sum(_dur(s) for s in spans if s["name"] == f"operators.{phase}")
    return out


def streaming_layers(batches, traced_ops):
    """Micro-batch figures from Spark's progress reports. The harness share
    is the pipelines' wall time minus their trigger time: landing drops and
    query start and stop."""
    def mean(key):
        return _mean([b[key] for b in batches])

    triggers = [b["triggerExecution"] for b in batches]
    out = {"streaming.batches": len(batches)}
    for phase in ("getBatch", "queryPlanning", "addBatch", "walCommit"):
        out[f"streaming.{phase}_ms"] = mean(phase)
    out["streaming.trigger_p50_ms"] = median(triggers) if triggers else 0.0
    out["streaming.harness_s"] = (sum(op["s"] for op in traced_ops if op["module"] == STREAMING)
                                  - sum(triggers) / 1000)
    out["streaming.input_rows"] = sum(b["inputRows"] for b in batches)
    out["streaming.state_rows"] = max((b["stateRows"] for b in batches), default=0.0)
    out["streaming.state_bytes"] = max((b["stateBytes"] for b in batches), default=0.0)
    return out


def pass_percentile(names, values, q):
    """The q-th percentile time of one pass over a sample of named
    operations: the sum over the names of each one's q-th percentile. It
    does not depend on how many times each operation ran."""
    by = defaultdict(list)
    for n, v in zip(names, values):
        by[n].append(v)
    return sum(percentile(vs, q) for vs in by.values())


def overhead_pct(untraced_ms, traced_ms):
    if not untraced_ms or not traced_ms:
        return 0.0
    return (_mean(traced_ms) / _mean(untraced_ms) - 1.0) * 100.0
