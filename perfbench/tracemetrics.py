"""Per-layer metrics of a traced run, computed from the harness's records.

`result.json` holds one record per item; `trace.jsonl` holds spans (the
harness's wrappers around the public calls it makes), Spark jobs (with the
first `graft.` frame of their call site), query executions and streaming
batches. Every metric is computed per pass and reported as the median over
the run's passes, so counts repeat exactly when passes do.
"""
import json
import statistics
from collections import defaultdict

MB = 1048576.0

# Source files whose jobs and task time are reported one by one: the ones
# whose eager jobs this benchmark's workloads run (README.md maps each to
# the end-to-end metric it should move). `queries.harness` holds the jobs
# with no graft frame at all: lazy plans run by the harness's own action.
SITES = ["sources.TemplateReader", "operators.TransformEngine",
         "operators.Exporter", "plans.Pipeline", "queries.Q",
         "queries.harness", "functions.Curation", "streaming.EventStream"]
LAYERS = ["queries", "plans", "sources", "operators", "functions", "streaming"]
SELF_LAYERS = ["bench", "model", "plans", "queries", "spark"]

PER_LAYER = (
    ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
     "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
     "spark.shuffle_write_mb", "spark.fetch_wait_s", "spark.spill_mb",
     "spark.input_mb", "spark.output_mb", "spark.utilisation",
     "spark.driver_idle_s", "spark.plan_s",
     "queries.construct_s", "queries.eager_jobs", "queries.plan_s",
     "queries.action_s",
     "plans.pipeline_s", "plans.jobs_per_file", "model.load_s",
     "operators.cached_rdds_left", "operators.cached_mb",
     "streaming.batches", "streaming.empty_batches", "streaming.batch_p50_ms",
     "streaming.plan_ms", "streaming.commit_ms", "streaming.state_rows",
     "streaming.state_mb"]
    + [f"{x}.{m}" for x in LAYERS + SITES for m in ("jobs", "task_s")]
    + [f"self.{x}_s" for x in SELF_LAYERS] + ["trace.wall_s"])


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per layer: each instant goes to the deepest open span(s).

    `spans` are dicts with start, end, depth and layer. Where several
    spans are open at the deepest level (concurrent jobs), the instant is
    split evenly across their distinct layers, so the layer totals add up
    to the covered wall time exactly (no double counting of overlaps).
    """
    points = sorted({p for s in spans for p in (s["start"], s["end"])})
    out = defaultdict(float)
    for a, b in zip(points, points[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if not open_:
            continue
        deepest = max(s["depth"] for s in open_)
        layers = sorted({s["layer"] for s in open_ if s["depth"] == deepest})
        for layer in layers:
            out[layer] += (b - a) / len(layers)
    return dict(out)


def span_layer(name):
    """Layer of a harness span: public calls carry their module's name."""
    head = name.split(".", 1)[0]
    return head if head in ("model", "plans", "queries") else "bench"


def load_trace(path):
    recs = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                recs[r["kind"]].append(r)
    return recs


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(result, recs):
    """The per-layer metric map of one traced run, and per-item costs
    (seconds, Spark jobs, shuffle MB) for compare.py's item ranking."""
    items = result["items"]
    cores = result["cores"]
    by_pass = defaultdict(list)
    for i, it in enumerate(items):
        if it["pass"] >= 0:  # the warm-up pass (-1) is set-up
            by_pass[it["pass"]].append(i)

    spans = recs.get("span", [])
    jobs = recs.get("job", [])
    span_by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in span_by_id:
            s = span_by_id[s["parent"]]
            d += 1
        return d

    def enclosing(t, names):
        """Innermost span named in `names` open at time t."""
        best = None
        for s in spans:
            if s["name"] in names and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    per_item = defaultdict(lambda: defaultdict(float))
    item_jobs = defaultdict(list)
    for j in jobs:
        if 0 <= j["item"] < len(items):
            item_jobs[j["item"]].append(j)
    for i, js in item_jobs.items():
        m = per_item[i]
        for j in js:
            m["spark.jobs"] += 1
            m["spark.stages"] += j["stages"]
            m["spark.tasks"] += j["tasks"]
            m["spark.task_run_s"] += j["task_run_s"]
            m["spark.task_cpu_s"] += j["task_cpu_s"]
            m["spark.gc_s"] += j["gc_s"]
            m["spark.fetch_wait_s"] += j["fetch_wait_s"]
            m["spark.shuffle_read_mb"] += j["shuffle_read_b"] / MB
            m["spark.shuffle_write_mb"] += j["shuffle_write_b"] / MB
            m["spark.spill_mb"] += j["spill_b"] / MB
            m["spark.input_mb"] += j["input_b"] / MB
            m["spark.output_mb"] += j["output_b"] / MB
            site = j["site"]
            if site == "none":
                call = enclosing(j["start"], {"queries.construct", "queries.plan",
                                              "queries.action", "model.load",
                                              "plans.runPipeline"})
                site = call["name"].split(".")[0] + ".harness" if call else "none"
            layer = site.split(".")[0]
            m[f"{layer}.jobs"] += 1
            m[f"{layer}.task_s"] += j["task_run_s"]
            if site in SITES:
                m[f"{site}.jobs"] += 1
                m[f"{site}.task_s"] += j["task_run_s"]
            if enclosing(j["start"], {"queries.construct"}):
                m["queries.eager_jobs"] += 1
            if enclosing(j["start"], {"plans.runPipeline"}):
                m["plans.pipeline_jobs"] += 1
        it = items[i]
        m["spark.driver_idle_s"] = it["seconds"] - union_length(
            [(max(j["start"], it["start"]), min(j["end"], it["end"])) for j in js])
    for i, it in enumerate(items):
        m = per_item[i]
        if i not in item_jobs:
            m["spark.driver_idle_s"] = it["seconds"]
        m["operators.cached_rdds_left"] = it["cached_rdds_left"]
        m["operators.cached_mb"] = it["cached_mb"]
        for k in ("construct_s", "plan_s", "action_s"):
            if k in it:
                m[f"queries.{k}"] = it[k]
        if "load_s" in it:
            m["model.load_s"] = it["load_s"]
            m["plans.pipeline_s"] = it["pipeline_s"]
            m["plans.files"] = 1
    for q in recs.get("qe", []):
        if 0 <= q["item"] < len(items):
            per_item[q["item"]]["spark.plan_s"] += q["plan_ms"] / 1e3
    batches = defaultdict(list)
    for b in recs.get("batch", []):
        if 0 <= b["item"] < len(items):
            batches[items[b["item"]]["pass"]].append(b)

    # self time: harness spans plus the jobs, nested under the innermost
    # span open when each job started
    self_by_pass = defaultdict(lambda: defaultdict(float))
    for p, idx in by_pass.items():
        idx_set = set(idx)
        nodes = [{"start": s["start"], "end": s["end"], "depth": depth(s),
                  "layer": span_layer(s["name"])}
                 for s in spans if s["item"] in idx_set and s["name"] != "pass"
                 and s["name"] != "workload"]
        for j in jobs:
            if j["item"] in idx_set:
                parent = enclosing(j["start"], {s["name"] for s in spans})
                d = depth(parent) + 1 if parent else 0
                nodes.append({"start": j["start"], "end": j["end"],
                              "depth": d, "layer": "spark"})
        for layer, v in self_times(nodes).items():
            self_by_pass[p][layer] += v

    out = defaultdict(list)
    keys = {k for m in per_item.values() for k in m}
    for p, idx in sorted(by_pass.items()):
        tot = defaultdict(float)
        for i in idx:
            for k, v in per_item[i].items():
                tot[k] += v
        wall = sum(items[i]["seconds"] for i in idx)
        for k in keys:
            out[k].append(tot.get(k, 0.0))
        out["spark.utilisation"].append(
            tot["spark.task_run_s"] / (wall * cores) if wall > 0 else 0.0)
        if tot.get("plans.files"):
            out["plans.jobs_per_file"].append(
                tot["plans.pipeline_jobs"] / tot["plans.files"])
        bs = batches.get(p, [])
        out["streaming.batches"].append(len(bs))
        out["streaming.empty_batches"].append(sum(1 for b in bs if b["rows"] == 0))
        out["streaming.batch_p50_ms"].append(_median([b["trigger_ms"] for b in bs]))
        out["streaming.plan_ms"].append(sum(b["plan_ms"] for b in bs))
        out["streaming.commit_ms"].append(sum(b["commit_ms"] for b in bs))
        out["streaming.state_rows"].append(max([b["state_rows"] for b in bs], default=0))
        out["streaming.state_mb"].append(max([b["state_b"] for b in bs], default=0) / MB)
        for layer in SELF_LAYERS:
            out[f"self.{layer}_s"].append(self_by_pass[p].get(layer, 0.0))
    costs = [{"pass": it["pass"], "item": it["item"], "seconds": it["seconds"],
              "jobs": per_item[i].get("spark.jobs", 0.0),
              "shuffle_mb": per_item[i].get("spark.shuffle_read_mb", 0.0)
              + per_item[i].get("spark.shuffle_write_mb", 0.0)}
             for i, it in enumerate(items) if it["pass"] >= 0]
    metrics = {k: _median(v) for k, v in out.items()}
    # traced wall_s, built as run.py builds the untraced one
    item_s = defaultdict(list)
    for it in items:
        if it["pass"] >= 0:
            item_s[it["item"]].append(it["seconds"])
    metrics["trace.wall_s"] = sum(_median(v) for v in item_s.values())
    return metrics, costs


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("utilisation"):
        return "share"
    return "count"
