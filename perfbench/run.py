"""graft benchmark: one command, three seeded closed-loop workloads.

    python3 perfbench/run.py --workload ffiec_ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the program and
the benchmark driver into .bench_build/ (perfbench/build.py). Each run
generates its inputs from --seed under .bench_work/, starts one Spark
driver process on local[nproc], measures rounds of the workload's fixed
work for --seconds, checks the outputs against the generator's truth
outside the timed region, and prints one JSON result as its last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from stats import median  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ffiec_ingest", "gate_mix")
INPUTS = {"ffiec_ingest": ("ffiec", "ffiec_warm"), "gate_mix": ("tables",)}
# The store churn (MinHash + IVF stores) is timed in gate_mix's traced run
# only: as a third workload its runs did not fit the run-time budget.
TRACED_INPUTS = {"gate_mix": ("corpus",)}
E2E = ("setup_s", "wall_s", "read_p50_s")
GEN_REPEATS = 3
DEADLINE_S = 170
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def generate(workload, seed, inputs, traced):
    """Generate the workload's inputs GEN_REPEATS times; every repeat must
    be byte-identical. Returns (median seconds, truth, identical)."""
    times, digests, truth = [], [], {}
    names = INPUTS[workload] + (TRACED_INPUTS.get(workload, ()) if traced else ())
    for _ in range(GEN_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.perf_counter()
        for name in names:
            truth[name] = gen.GENERATORS[name](seed, os.path.join(inputs, name))
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(inputs))
    for name, t in truth.items():
        with open(os.path.join(inputs, f"{name}_truth.json"), "w") as fh:
            json.dump(t, fh)
    if workload == "gate_mix":
        with open(os.path.join(inputs, "gates.txt"), "w") as fh:
            fh.write("\n".join(gate_order(seed)) + "\n")
    return median(times), truth, len(set(digests)) == 1


def gate_order(seed):
    """The gates of perfbench/gates.tsv in a seeded order."""
    with open(os.path.join(HERE, "gates.tsv")) as fh:
        gates = [line.split()[0] for line in fh if line.strip() and not line.startswith("#")]
    random.Random(seed).shuffle(gates)
    return gates


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                            start_new_session=True)
    try:
        proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"driver process exceeded {budget_s:.0f}s")
    path = os.path.join(work, "jvm_result.json")
    if not os.path.exists(path):
        raise SystemExit(f"driver process exited {proc.returncode} without a result")
    with open(path) as fh:
        return json.load(fh)


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, source_digest = build.build()
    # one run at a time: whatever an earlier, interrupted run left goes
    shutil.rmtree(os.path.join(ROOT, ".bench_work"), ignore_errors=True)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}")
    inputs = os.path.join(work, "inputs")
    t0 = time.monotonic()
    gen_s, truth, identical = generate(a.workload, a.seed, inputs, bool(a.trace))
    log(f"generate {gen_s:.2f}s median of {GEN_REPEATS}, {time.monotonic() - t0:.2f}s in all")
    t0 = time.monotonic()
    budget = DEADLINE_S - (time.monotonic() - start)
    # the spans of a traced run outlive the work directory
    spans = os.path.join(build.OUT, "spans", f"{a.workload}-{a.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    r = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--inputs", inputs, "--work", work, "--spans", spans], work, budget)
    if r.get("error"):
        raise SystemExit(f"driver failed: {r['error']}")
    log(f"driver process {time.monotonic() - t0:.2f}s")
    t0 = time.monotonic()
    results = checks.run(a.workload, r, truth, work, traced=bool(a.trace),
                         gates=gate_order(a.seed))
    log(f"checks {time.monotonic() - t0:.2f}s")
    results.append(("inputs byte-identical across repeats", identical, ""))
    failed_checks = [c for c in results if not c[1]]
    for name, ok, detail in results:
        log(f"check {'ok  ' if ok else 'FAIL'} {name} {detail}")
    s = r["samples"]
    for k, v in s.items():
        each = " [" + " ".join(f"{x:.3f}" for x in v) + "]" if len(v) <= 12 else ""
        log(f"timing {k}: n={len(v)} median={median(v):.4f}s total={sum(v):.4f}s{each}")
    # query_s: one post-ingest read set (ffiec_ingest) or one gate execution
    e2e = {
        "setup_s": (gen_s + r["setup_session_s"] + r["setup_warm_s"], "s"),
        "wall_s": (median(s["round_s"]), "s"),
        "read_p50_s": (median(s["query_s"]), "s"),
    }
    assert tuple(e2e) == E2E
    derived = checks.derived(a.workload, r, truth, bool(a.trace))
    prov = dict(r["provenance"], seed=a.seed, git_commit=git_commit(),
                source_digest=source_digest, workload=a.workload, trace=a.trace,
                rounds=r["rounds"], read_samples=len(s["query_s"]))
    if a.trace:
        prov["spans_file"] = os.path.relpath(spans, ROOT)
    attempted = r["attempted"] + len(results)
    failed = len(failed_checks)
    derived["failed_ops_ratio"] = (failed / attempted, "ratio")
    print("provenance " + json.dumps(prov, sort_keys=True))
    for name, (value, unit) in list(e2e.items()) + list(derived.items()):
        print(f"{a.workload} {name} = {value:.6g} {unit}")
    if a.trace:
        metrics = checks.layer_metrics(a.workload, r, derived, truth)
        diff, resolved = checks.trace_overhead(s["round_s"], r["untraced_round_s"])
        print(f"{a.workload} trace overhead = {diff:.6g} s over "
              f"{len(r['untraced_round_s'])} untraced and {len(s['round_s'])} traced rounds, "
              + ("resolved" if resolved else "unresolved")
              + " (resolved means beyond the range of two or more untraced rounds)")
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed_checks, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    if failed_checks:
        sys.exit(1)


if __name__ == "__main__":
    main()
