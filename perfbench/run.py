"""Benchmark of the graft engine: one streaming ingest-and-serve workload and
two batch workloads, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # every workload, tiny, both modes

Builds the engine from source (build.py), generates the inputs from the
seed (gen.py), runs one JVM with the workload (src/*.scala), checks the
outputs, and prints one line per metric followed by a JSON object as the
last line of stdout. With --trace 0 the metrics are the end-to-end metrics
of BENCHMARK.json; with --trace 1 they are its per-layer metrics, and the
spans of the run are written to .bench_build/traces/. See README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD

ITERATIVE = ["q_pagerank", "q_kcore", "q_bpe_pairs", "q_quality_classifier"]

# sf sizes the generated tables like the testdata's scale factor
WORKLOADS = {
    "stream_serve": dict(sf=0.01, rate=1000, keys=10000,
                         warmup=10, chunk=2500, chunks=10, readers=2),
    "batch_iterative": dict(sf=0.01, queries=ITERATIVE, warm_rounds=2),
}
SMOKE = dict(sf=0.001, rate=200, keys=2000, warmup=1, chunk=500, chunks=2, warm_rounds=0)

CORES = 4
SETUP_REPS = 3
# batch_iterative times a fixed number of rounds over its queries, one per
# ROUND_S of --seconds (a warm round takes 4-5 s on a 4-core Xeon VM), so
# every run does the same work
ROUND_S = 6.0
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def dataset(seed, spec):
    """Generated tables for (seed, scale), cached under .bench_build/data."""
    d = BUILD / "data" / f"sf{spec['sf']}-seed{seed}"
    if not d.is_dir():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(str(tmp), seed, spec["sf"])
        tmp.rename(d)
        # keep the cache small: the few most recent datasets
        old = sorted((p for p in d.parent.iterdir() if p.is_dir() and ".tmp" not in p.name),
                     key=lambda p: p.stat().st_mtime)[:-6]
        for p in old:
            shutil.rmtree(p, ignore_errors=True)
    return d


def oracle_check(data_dir, out_dir):
    """Compares each query's check-pass output with the DuckDB oracle using
    the repository's tools/compare.py; returns (checked, failures)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import compare
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare.main(str(data_dir), str(out_dir))
    lines = buf.getvalue().splitlines()
    fails = [ln for ln in lines if ln.startswith("FAIL")]
    return sum(ln.startswith(("PASS", "FAIL")) for ln in lines), fails


def run_jvm(cp, workload, spec, seed, seconds, trace, data_dir, work):
    args = dict(workload=workload, seed=seed, seconds=seconds, trace=trace,
                cores=CORES, shuffle=CORES, setup_reps=SETUP_REPS, data=data_dir,
                work=work, out=work / "result.json", spans=work / "spans.jsonl",
                rounds=max(1, round(seconds / ROUND_S)))
    for k, v in spec.items():
        if k != "sf":
            args[k] = ",".join(v) if isinstance(v, list) else v
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-XX:ErrorFile={BUILD / 'logs' / 'hs_err_%p.log'}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    res = work / "result.json"
    if p.returncode != 0 or not res.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        shutil.copy(log, BUILD / "logs" / f"{workload}-failed-{p.pid}.log")
        raise SystemExit(f"{workload}: JVM exited with {p.returncode} and no result")
    return json.loads(res.read_text())


def cpu_times():
    """(busy, steal) jiffies of all CPUs from /proc/stat, or None."""
    try:
        f = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(f[:3]) + sum(f[5:7]), f[7]


def run(workload, seed, seconds, trace, smoke=False):
    t_start = time.time()
    spec = dict(WORKLOADS[workload])
    if smoke:
        spec.update({k: v for k, v in SMOKE.items() if k in spec})
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp, stamp = build.build()
    data_dir = dataset(seed, spec)
    cpu0 = cpu_times()
    work = BUILD / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = run_jvm(cp, workload, spec, seed, seconds, trace, data_dir, work)
        attempted, failed = r["attempted"], r["failed"]
        notes = dict(r["notes"])
        t_jvm = time.time()
        if "queries" in spec:
            checked, fails = oracle_check(data_dir, work / "out")
            failed += len(fails) + (len(spec["queries"]) - checked)
            notes["oracle"] = f"{checked - len(fails)}/{len(spec['queries'])} match"
            for f in fails:
                notes[f"oracle_{f.split()[1].rstrip(':')}"] = f
        notes["run_s"] = f"total={time.time() - t_start:.1f} after_jvm={time.time() - t_jvm:.1f}"
        cpu1 = cpu_times()
        if cpu0 and cpu1:
            # time the hypervisor gave this VM's CPUs to others, against the
            # time they ran: the share of a slow spell that is not ours
            busy, steal = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
            r["controls"]["cpu_steal_pct"] = f"{100 * steal / max(1, busy + steal):.1f}"
        if trace:
            traces = BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{workload}-seed{seed}.jsonl")
    finally:
        (BUILD / "logs").mkdir(parents=True, exist_ok=True)
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", BUILD / "logs" / f"{workload}.log")
        shutil.rmtree(work, ignore_errors=True)

    # traced end-to-end numbers minus untraced ones = tracing overhead; only
    # runs of the same build, seed and length pair up, and smoke runs never
    hist = BUILD / "results"
    same = hashlib.sha256((stamp + json.dumps(spec, sort_keys=True)).encode()).hexdigest()
    key = f"{workload}-seed{seed}-s{seconds:g}-{same[:16]}"
    other = hist / f"{key}-trace{1 - trace}.json"
    overhead = {}
    if not smoke:
        hist.mkdir(parents=True, exist_ok=True)
        (hist / f"{key}-trace{trace}.json").write_text(json.dumps(r["e2e"]))
    if not smoke and other.exists():
        base, traced = (json.loads(other.read_text()), r["e2e"]) if trace else (r["e2e"], json.loads(other.read_text()))
        overhead = {k: traced[k] - base[k] for k in base if k in traced}

    group = bench["per_layer"] if trace else bench["end_to_end"]
    source = r["layers"] if trace else r["e2e"]
    metrics = {}
    for m in group:
        if not trace and m["name"] not in source:
            raise SystemExit(f"{workload}: end-to-end metric {m['name']} missing")
        metrics[m["name"]] = {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
    for k, v in sorted(r["controls"].items()):
        print(f"control {k}: {v}")
    for k, v in sorted(notes.items()):
        print(f"note {k}: {v}")
    for k, v in sorted(overhead.items()):
        print(f"trace_overhead {k}: {v:+.4f}")
    for k, v in metrics.items():
        print(f"{k}: {v['value']:.6g} {v['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def smoke():
    """Every workload at a tiny scale, untraced then traced."""
    ok = True
    for w in WORKLOADS:
        for t in (0, 1):
            t0 = time.time()
            res = run(w, seed=1, seconds=3, trace=t, smoke=True)
            ok &= res["correct"]
            print(f"smoke {w} trace={t}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} ({time.time() - t0:.0f} s)")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(0 if smoke() else 1)
    if a.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
