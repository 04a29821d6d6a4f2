#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (sbt, in perfbench/); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM on local[<cores>], sets up, measures whole passes for --seconds, checks
every output, prints one line per metric and, as its last line, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
span file stays in .bench_build/perfbench/<workload>/trace.jsonl.

Exit codes: 0 when every output is correct, 1 when one is wrong, 2 when the
benchmark cannot run (no engine sources, build or JVM failure).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_sheets  # noqa: E402
import tracemetrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
WORKLOADS = ["template_batch", "curation_batch"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("rows_per_s", "rows/s"),
              ("file_p50_s", "s"), ("file_tail_s", "s"),
              ("query_geomean_s", "s"), ("peak_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classes dir."""
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"no engine sources under {os.path.relpath(ENGINE, ROOT)}; "
             "run from the root of a graft checkout")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # dependencies come from the local cache only; a build never fetches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=840).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(home, "jars", "*")


# ------------------------------------------------------------------ run

def run_jvm(classes, args, work):
    # -XX:-UsePerfData: the JVM writes no hsperfdata file outside the run.
    # The heap is fixed: G1 would shrink a growable one after the forced GCs
    # between items, which made item times and the post-GC heap wander.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}{os.pathsep}{spark_jars()}", "perfbench.Harness"]
           + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log}")
        finally:  # never leave the JVM behind (timeout, SIGTERM, Ctrl-C)
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-2000:]
        fail(f"harness failed (exit {rc}):\n{tail}")


def tail_stat(xs):
    """Per-item tail: the sample with k = min(10, n // 4) samples above it."""
    s = sorted(xs)
    k = min(10, len(s) // 4)
    return s[len(s) - 1 - k], k


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# ------------------------------------------------------------ output checks

def check_template(items, truth):
    """Per-file check against the generator's truth, never the program's."""
    import pyarrow.parquet as pq
    bad = []
    for it in items:
        t = truth[it["item"]]
        pdir = it["dir"]
        why = None
        if "error" in it:
            why = it["error"]
        elif it["success"] == t["quarantined"]:
            why = f"success={it['success']} but quarantined={t['quarantined']}"
        elif t["quarantined"]:
            if not os.path.exists(os.path.join(pdir, "quarantine", it["item"])):
                why = "not in quarantine"
        else:
            if not os.path.exists(os.path.join(pdir, "archive", it["item"])):
                why = "not archived"
            else:
                tab = pq.read_table(it["output"])
                amount = sum(x for x in tab.column("sales_amount").to_pylist()
                             if x is not None)
                want = t["amount_cents"] / 100.0
                if tab.num_rows != t["rows"] or it["rows"] != t["rows"]:
                    why = f"rows {tab.num_rows} != {t['rows']}"
                elif abs(amount - want) > 1e-6 * max(1.0, abs(want)):
                    why = f"amount {amount:.2f} != {want:.2f}"
        if why:
            bad.append((it, why))
    return bad


def check_registry(items, expected):
    bad = []
    for it in items:
        if "error" in it:
            bad.append((it, it["error"]))
        elif it["fp"] != expected.get(it["item"]):
            bad.append((it, f"fingerprint {it['fp']} != {expected.get(it['item'])}"))
    return bad


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", metavar="FILE",
                    help="append this run's metrics and items to FILE "
                         "(input of compare.py)")
    ap.add_argument("--dump", metavar="DIR",
                    help="registry workloads: instead of measuring, write each "
                         "item's result, oracle SQL and fingerprint into DIR "
                         "for `tools/check.py perfbench/data DIR`")
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))

    classes = build()
    work = os.path.join(ROOT, ".bench_build", "perfbench", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(HERE, "data")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(len(os.sched_getaffinity(0))),
            "--data", data, "--work", work]

    gen_s = 0.0
    truth = None
    if a.workload == "template_batch":
        # input generation is set-up; it is repeated and the median kept
        times = []
        for r in range(3):
            t0 = time.perf_counter()
            truth = gen_sheets.generate(os.path.join(work, f"sheets{r}"), a.seed)
            times.append(time.perf_counter() - t0)
        gen_s = statistics.median(times)
        args += ["--sheets", os.path.join(work, "sheets0")]

    if a.dump:
        if a.workload == "template_batch":
            fail("--dump is for the registry workloads")
        run_jvm(classes, args + ["--dump", os.path.abspath(a.dump)], work)
        print(f"wrote {a.dump}")
        return 0
    run_jvm(classes, args, work)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    items = result["items"]

    if truth is not None:
        bad = check_template(items, truth)
    else:
        with open(os.path.join(HERE, "expected.json")) as f:
            bad = check_registry(items, json.load(f))
    for it, why in bad:
        print(f"WRONG pass {it['pass']} {it['item']}: {why}")

    # metrics come from the measured passes; the warm-up pass (-1) is set-up.
    # A pass is summed from each item's median over the passes, so a stall
    # of the machine spoils one sample of one item, not a whole pass.
    measured = [it for it in items if it["pass"] >= 0]
    passes = sorted({it["pass"] for it in measured})
    secs, rows = defaultdict(list), defaultdict(list)
    for it in measured:
        secs[it["item"]].append(it["seconds"])
        rows[it["item"]].append(truth[it["item"]]["cells"] if truth
                                else it.get("rows", 0))
    item_s = {k: statistics.median(v) for k, v in secs.items()}
    wall = sum(item_s.values())
    pass_rows = sum(statistics.median(v) for v in rows.values())
    heaps = [max(it["heap_mb"] for it in measured if it["pass"] == p)
             for p in passes]
    lat = [it["seconds"] for it in measured]
    tail, tail_k = tail_stat(lat)
    st = result["setup"]
    e2e = {
        "setup_s": gen_s + st["jvm_s"] + st["session_s"] + st["warm_pass_s"],
        "wall_s": wall,
        "rows_per_s": pass_rows / wall,
        "file_p50_s": statistics.median(lat),
        "file_tail_s": tail,
        "query_geomean_s": geomean(item_s.values()),
        "peak_heap_mb": statistics.median(heaps),
    }
    attempted, failed = len(items), len(bad)
    print(f"workload {a.workload} seed {a.seed}: {len(passes)} passes, "
          f"{attempted} items, {len(os.sched_getaffinity(0))} cores"
          + (f", input generation {gen_s:.3f} s" if truth else ""))
    for name, unit in END_TO_END:
        note = f"  ({tail_k} samples above it)" if name == "file_tail_s" else ""
        print(f"  {name:16s} {e2e[name]:12.4f} {unit}{note}")
    print(f"  {'failed_frac':16s} {failed / attempted:12.4f} share")

    costs = [{"pass": it["pass"], "item": it["item"], "seconds": it["seconds"]}
             for it in measured]
    if a.trace:
        recs = tracemetrics.load_trace(os.path.join(work, "trace.jsonl"))
        layer, costs = tracemetrics.per_layer(result, recs)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": tracemetrics.unit(k)}
                   for k in tracemetrics.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if a.save:
        with open(a.save, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "trace": a.trace, "correct": failed == 0,
                                "metrics": metrics, "items": costs}) + "\n")
    for d in os.listdir(work):  # keep only the run's records and log
        if d not in ("result.json", "trace.jsonl", "jvm.log"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
