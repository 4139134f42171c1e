"""One benchmark run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine if its sources changed
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in a fresh JVM at local[nproc]
(perfbench/src), checks its outputs, writes an artifact under
`.bench_build/artifacts/` and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# Input sizes; see perfbench/README.md for how they were chosen.
SIZES = {
    "weather_backfill": dict(payloads=40000, cities=500),
    "corpus_prep": dict(docs=1500, stream_docs=600, stream_files=6),
}
# What a run prints, whether or not BENCHMARK.json names it.
REPORTED = ["gen_s", "setup_s", "cold_s", "wall_s", "rows_per_s", "cpu_s", "peak_heap_mb",
            "write_amp", "error_rate"]
UNITS = {"gen_s": "s", "setup_s": "s", "cold_s": "s", "wall_s": "s", "rows_per_s": "1/s",
         "cpu_s": "s", "peak_heap_mb": "MB", "write_amp": "ratio", "error_rate": "ratio"}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
DEADLINE_S = 170


def loadavg():
    """1, 5 and 15 minute load averages: a loaded host shows on its face."""
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return "unknown"


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs, in s
    since boot (the 8th field of /proc/stat's `cpu` line), or None."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def generate(workload, seed, out, trace):
    make = {"weather_backfill": gen.weather, "corpus_prep": gen.corpus}[workload]
    return make(out, random.Random(seed), trace=bool(trace), **SIZES[workload])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    repo = os.getcwd()
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bdir = os.path.join(repo, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    classes = build.ensure(repo, bdir)

    t_start = time.monotonic()
    load_before, steal_before = loadavg(), steal_s()
    run = os.path.join(bdir, "run")
    shutil.rmtree(run, ignore_errors=True)
    inp, work, tmp = (os.path.join(run, d) for d in ("in", "work", "tmp"))
    for d in (inp, work, tmp):
        os.makedirs(d)
    t0 = time.perf_counter()
    meta = generate(a.workload, a.seed, inp, a.trace)
    gen_s = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    out = os.path.join(run, "result.json")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--input", inp,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--out", out, "--spawn-ms", str(int(time.time() * 1000))]
    log = os.path.join(run, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - t_start)
    # local mode needs no host name lookup
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    load_after, steal_after = loadavg(), steal_s()
    stolen = round(steal_after - steal_before, 2) if steal_before is not None else None
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        raise SystemExit(f"workload JVM failed ({rc}); log in {log}")
    with open(out) as fh:
        res = json.load(fh)

    checks = list(res["checks"])
    query_rows = os.path.join(work, "query_rows.json")
    extra = (gen.catalog_checks(os.path.join(inp, "catalog", "tables"), query_rows)
             if os.path.exists(query_rows) else [])
    checks += extra
    failed = res["failed"] + sum(not c["ok"] for c in extra)
    attempted = res["attempted"] + len(extra)
    values = {
        "gen_s": gen_s, "setup_s": res["setup_s"], "cold_s": res["cold_s"],
        "wall_s": res["wall_s"], "cpu_s": res["cpu_s"], "peak_heap_mb": res["peak_heap_mb"],
        "rows_per_s": res["records"] / res["wall_s"] if res["wall_s"] else None,
        "write_amp": res["write_amp"], "error_rate": failed / max(1, attempted),
    }

    if a.trace:
        layer = res["per_layer"]
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise SystemExit(f"no value for {missing}: not enough iterations in {a.seconds} s")

    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "input": meta, "nproc": cores, "max_heap_mb": res["max_heap_mb"],
                "load_before": load_before, "load_after": load_after, "steal_s": stolen,
                "records": res["records"], "input_bytes": res["input_bytes"],
                "values": values, "setup_samples_s": res["setup_samples_s"],
                "cold_s": res["cold_s"], "warm_s": res["warm_s"], "traced_s": res["traced_s"],
                "checks": checks, "per_layer": res["per_layer"]}
    adir = os.path.join(bdir, "artifacts")
    os.makedirs(adir, exist_ok=True)
    apath = os.path.join(adir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(apath, "w") as fh:
        json.dump(artifact, fh, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copyfile(os.path.join(work, "spans.json"),
                        os.path.join(adir, f"{a.workload}-seed{a.seed}-spans.json"))

    print(f"workload {a.workload} seed {a.seed}: {res['records']} records, "
          f"{res['input_bytes']} input bytes, nproc {cores}, max heap {res['max_heap_mb']:.0f} MB, "
          f"loadavg {load_before} -> {load_after}, CPU stolen by the hypervisor {stolen} s")
    for k in REPORTED:
        if values[k] is not None:
            print(f"  {k} = {values[k]:.6g} {UNITS[k]}")
    if a.trace:
        print(f"  trace.overhead_s = {res['per_layer'].get('trace.overhead_s', 0.0):.6g} s")
    for c in checks:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['name']}: {c['detail']}")
    print(f"  artifact {os.path.relpath(apath, repo)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
