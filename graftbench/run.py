#!/usr/bin/env python3
"""graft benchmark: one workload per call, driven from outside through the
program's public entry points (see graftbench/README.md).

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --smoke          # every workload once, tiny sizes

Run it from the root of the repository. It builds the program and the
harness (graftbench/build.py), runs one JVM, checks the outputs and prints
every metric with its unit; the last line of stdout is the JSON result. The
exit code is 0 only when every correctness check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ["train_batch", "train_stream", "serve_spoke", "curate_mix"]
# Scale factor of the curate_mix tables (sf0.001: 6k lineitem rows).
CURATE_SF = "0.001"
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SHM = Path("/dev/shm")


def fail(msg, code=2):
    sys.stderr.write(f"graftbench: {msg}\n")
    sys.exit(code)


def shm_entries():
    """Streaming scratch the program creates under /dev/shm (graft_*)."""
    try:
        return {p.name for p in SHM.iterdir() if p.name.startswith("graft_")}
    except OSError:
        return set()


def curate_data(out, sf):
    """Generate the curate_mix tables once per scale and generator version."""
    import hashlib
    tag = hashlib.sha256((HERE / "gen_tables.py").read_bytes()).hexdigest()[:12]
    d = out / "data" / f"curate-sf{sf}-{tag}"
    if not (d / "lineitem.parquet").is_file():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        subprocess.check_call([sys.executable, str(HERE / "gen_tables.py"), str(tmp), sf])
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def run_jvm(root, out, classes, jars, workload, seed, seconds, trace, smoke, limit_s):
    """One JVM run; returns the parsed result object."""
    work = out / "runs" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--out", str(work / "result.json"),
            "--smoke", "1" if smoke else "0"]
    if workload == "curate_mix":
        args += ["--data", str(curate_data(out, CURATE_SF))]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "graftbench.Main"] + args)
    shm_before = shm_entries()
    t_start = time.time()
    log_path = work / "jvm.log"
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                rc = None
        logs = out / "logs"
        logs.mkdir(exist_ok=True)
        shutil.copy(log_path, logs / f"{workload}-trace{trace}.log")
        if rc is None:
            fail(f"{workload} did not finish within {limit_s} s (log {logs})", 1)
        res_path = work / "result.json"
        if not res_path.is_file():
            sys.stderr.write(log_path.read_text()[-4000:])
            fail(f"{workload} wrote no result (exit {rc}, log {logs})", 1)
        res = json.loads(res_path.read_text())
        if (work / "spans.jsonl").is_file():
            (out / "traces").mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", out / "traces" / f"{workload}-seed{seed}.jsonl")
        res["exit"] = rc
        res["info"]["jvm_wall_s"] = f"{time.time() - t_start:.2f}"
        return res
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for name in shm_entries() - shm_before:
            shutil.rmtree(SHM / name, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


def fingerprint_checks(res, sf, record):
    """curate_mix: every query's fingerprint equals the pinned one."""
    path = HERE / "fingerprints.json"
    pinned = json.loads(path.read_text()) if path.is_file() else {}
    got = {k[3:]: v for k, v in res["info"].items() if k.startswith("fp.")}
    if record:
        pinned[sf] = dict(sorted(got.items()))
        path.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    want = pinned.get(sf, {})
    for q, v in sorted(got.items()):
        res["checks"].append({"name": f"curate_mix: {q} fingerprint",
                              "ok": v != "failed" and want.get(q) == v,
                              "detail": f"got {v}, pinned {want.get(q)}"})


def spec_metrics(root, key):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[key]]


def report(res, root, trace):
    """Print the human-readable lines; return the final JSON object."""
    ok = all(c["ok"] for c in res["checks"]) and res["exit"] == 0
    print(f"machine {json.dumps(res['machine'], sort_keys=True)}")
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}"
              + ("" if c["ok"] else f" ({c['detail']})"))
    for k, v in sorted(res["info"].items()):
        if not k.startswith("fp."):
            print(f"info {k} {v}")
    att, failed = res["attempted"], res["failed"]
    print(f"metric fail_ratio {failed / max(att, 1):.6f} failed/attempted")
    for group in ("named", "e2e") if not trace else ("layers",):
        for name, m in res[group].items():
            print(f"{'layer' if trace else 'metric'} {name} {m['value']} {m['unit']}")
    key = "per_layer" if trace else "end_to_end"
    metrics = {}
    for name, unit in spec_metrics(root, key):
        m = res["layers" if trace else "e2e"].get(name)
        if m is None or m["unit"] != unit or m["value"] is None:
            ok = False
            print(f"check FAIL metric {name} [{unit}] missing or without a value")
            continue
        metrics[name] = {"value": m["value"], "unit": unit}
    return {"correct": ok, "attempted": max(att, 1), "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once at tiny sizes, both modes")
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="pin curate_mix fingerprints from this tree")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd()
    if not (root / "BENCHMARK.json").is_file():
        fail("run from the repository root (BENCHMARK.json not found)")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    out = build.build_dir(root)
    try:
        classes, jars = build.build(root, out)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    t0 = time.time()  # a run that builds first may take longer than one that does not
    if a.smoke:
        return smoke(root, out, classes, jars)
    if not a.workload:
        fail("--workload is required")
    res = run_jvm(root, out, classes, jars, a.workload, a.seed, a.seconds, a.trace, False,
                  max(30, RUN_LIMIT_S - (time.time() - t0)))
    if a.workload == "curate_mix":
        fingerprint_checks(res, CURATE_SF, a.record_fingerprints)
    final = report(res, root, a.trace == 1)
    print(json.dumps(final))
    sys.exit(0 if final["correct"] else 1)


def smoke(root, out, classes, jars):
    """Every workload once at tiny sizes, untraced and traced; asserts every
    BENCHMARK.json metric is printed with its unit."""
    bad = []
    for w in WORKLOADS:
        for trace in (0, 1):
            res = run_jvm(root, out, classes, jars, w, 1, 2, trace, True, 300)
            if w == "curate_mix":
                fingerprint_checks(res, CURATE_SF, False)
            final = report(res, root, trace == 1)
            want = spec_metrics(root, "per_layer" if trace else "end_to_end")
            got = {k: v["unit"] for k, v in final["metrics"].items()}
            missing = [n for n, u in want if got.get(n) != u]
            print(f"smoke {w} trace={trace} correct={final['correct']} missing={missing}")
            if missing or not final["correct"]:
                bad.append(f"{w}/trace{trace}")
    print(json.dumps({"smoke_ok": not bad, "failed": bad}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
