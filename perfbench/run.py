#!/usr/bin/env python3
"""The repository benchmark: the docker log-driver path through the plugin
socket (driver_bulk, driver_live); traced driver_bulk runs also time a
fixed slice of the analytics suite. See perfbench/README.md.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). A human-readable report and the run's artifact go to stderr and
to .bench_build/perfbench/out/.
"""
import argparse
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time
import contextlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("driver_bulk", "driver_live")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def oracle_checker():
    """Reuse tools/check_oracle.py's comparator: it prints one verdict line
    per dumped query result."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def check(fixture_dir, dump_dir):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            mod.main(fixture_dir, dump_dir)
        verdicts = {}
        for line in buf.getvalue().splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0].startswith(("PASS", "FAIL")):
                name = parts[1].rstrip(":")
                verdicts[name] = "PASS" if parts[0].startswith("PASS") else line.strip()
        return verdicts
    return check


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The benchmark builds the engine from the checkout's own sources.
    for need in ("BENCHMARK.json", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"[perfbench] {need} not found under {ROOT}: not a checkout of the engine",
                  file=sys.stderr)
            return 2

    import jvm
    import workloads as W

    spec = load_spec()
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out_dir = os.path.join(base, "out")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(base, "harness.log")
    settings = jvm.host_settings()
    cp, jvm_flags = jvm.build(os.path.join(base, "build.log"))
    jvm.warm_page_cache(cp)

    tracer = W.Tracer(bool(args.trace))
    res = W.Result()
    steal0 = jvm.steal_jiffies()

    h = None
    try:
        sp = tracer.start("setup")
        h = jvm.Harness(cp, jvm_flags, work, settings, log)
        tracer.end(sp)
        sock = h.ready["socket"]
        if args.workload == "driver_bulk":
            extra = W.driver_bulk(h, sock, work, args.seed, args.seconds, tracer, res,
                                  oracle_checker())
        else:
            extra = W.driver_live(h, sock, work, args.seed, args.seconds, tracer, res)
        setup_s = h.ready_s + extra
        res.metrics["setup_s"] = (setup_s, "s")
        res.layers["jvm.rss_peak_mb"] = (h.rss_peak_mb(), "MB")
        W.gauges(h, res)
        steal1 = jvm.steal_jiffies()
        res.layers["host.steal_frac"] = ((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), "ratio")
        res.info.update({"jvm_ready_s": h.ready_s, "session_ms": h.ready["session_ms"],
                         "server_ms": h.ready["server_ms"]})
        spark_conf = h.ready["spark_conf"]
    finally:
        t_close = time.perf_counter()
        if h is not None:
            h.close()
        res.info["close_s"] = time.perf_counter() - t_close
        if sys.exc_info()[0] is not None:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": float(res.layers.get(n, (0.0,))[0]), "unit": units[n]}
                   for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": float(res.metrics[n][0]), "unit": units[n]} for n in names}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commit": git_commit(), "host": settings, "jvm_flags": jvm_flags,
        "spark_conf": spark_conf,
        "host.spin_s": res.info.get("host.spin_s"),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
        "report": {k: {"value": v, "unit": u} for k, (v, u) in res.report.items()},
        "failed_frac": res.failed / max(1, res.attempted),
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in res.layers.items()},
        "attempted": res.attempted, "failed": res.failed, "failures": res.failures,
        "info": res.info,
    }
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_e2e = json.load(f)["end_to_end"]
            artifact["tracing_overhead"] = {
                k: {"traced": v["value"], "untraced": base_e2e[k]["value"],
                    "delta": v["value"] - base_e2e[k]["value"]}
                for k, v in artifact["end_to_end"].items() if k in base_e2e}
        write_trace(os.path.join(out_dir, f"trace-{stem}.json"), tracer.spans)
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    report(artifact)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def write_trace(path, spans):
    """Chrome trace-event JSON (open in Perfetto or chrome://tracing):
    generator spans on pid 1, harness/Spark spans on pid 2; each event's
    args carry its span id, parent id and request id."""
    events = []
    for s in spans:
        if s.get("end_us") is None:
            continue
        events.append({"name": s["name"], "ph": "X", "ts": s["start_us"],
                       "dur": max(0, s["end_us"] - s["start_us"]),
                       "pid": 2 if s.get("pid") == "jvm" else 1, "tid": 1,
                       "args": {k: s.get(k) for k in ("id", "parent", "rid", "frames") if s.get(k) is not None}})
    with open(path, "w") as f:
        json.dump({"traceEvents": events, "displayTimeUnit": "ms"}, f)


def report(a):
    err = sys.stderr
    print(f"[perfbench] {a['workload']} seed={a['seed']} trace={a['trace']} "
          f"nproc={a['host']['nproc']} heap={a['host']['heap']} spin={a['host.spin_s']}", file=err)
    for section in ("end_to_end", "report", "per_layer"):
        for k, v in sorted(a[section].items()):
            print(f"  {section:10s} {k:40s} {v['value']:>14.4f} {v['unit']}", file=err)
    print(f"  failed_frac {a['failed_frac']:.4f} ({a['failed']}/{a['attempted']})", file=err)
    for f in a["failures"][:10]:
        print(f"  FAILED: {f}", file=err)
    for k, v in (a.get("tracing_overhead") or {}).items():
        print(f"  tracing overhead {k}: {v['delta']:+.4f}", file=err)


if __name__ == "__main__":
    sys.exit(main())
