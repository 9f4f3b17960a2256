#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from source,
generates a workload's inputs from a seed, runs the workload, checks
every output and prints the metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
of BENCHMARK.json, each as {"value", "unit"}. Progress, the generation
record, failures and flagged host-noise passes go to standard error;
the raw records of the last run stay in perfbench/work/. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, "work")
BUILD_STAMP = os.path.join(HERE, "target", "bench-classpath.json")
DEADLINE_S = 170
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sources_digest():
    """Digest of everything the build compiles, so a stale build is never
    reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)
                      if f.endswith((".scala", ".java", ".sbt",
                                     ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt once per source
    digest; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from a checkout of "
                         "the repository")
    digest = sources_digest()
    try:
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest:
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def prepare_data(workload, seed):
    """Generate (or reuse) this seed's tables; drop other seeds' data."""
    root = os.path.join(WORK, "data")
    name = f"{workload}-{seed}"
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d != name:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    out = os.path.join(root, name)
    return out, gen.ensure(out, seed, workload)


def run_jvm(cp, workload, data, seconds, trace, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "tables"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={run_dir}"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", workload, data, run_dir,
            str(seconds), "1" if trace else "0", out])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("benchmark process timed out")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark process failed ({p.returncode})")
    with open(out) as f:
        return json.load(f)


def check(rec, data, meta):
    """Wrong-result executions: fingerprints that differ from the
    written result's (the last set-up pass), and every execution of a
    query whose written result differs from its oracle. Returns
    (failed, messages)."""
    failed, msgs = 0, []
    con = oracle.connect(data, gen.TABLES)
    fps = rec["fingerprints"]
    for q in rec["queries"]:
        got = fps.get(q, {})
        res = rec["results"][q]
        ref = got.get(res["pass"])
        if ref is None:
            continue  # the failure itself is already recorded
        bad = sum(1 for fp in got.values() if fp != ref)
        if bad:
            failed += bad
            msgs.append(f"{q}: {bad} fingerprint(s) differ from {ref}")
        if res["oracle"] is None:
            msgs.append(f"{q}: no oracle")
            continue
        t0 = time.monotonic()
        why = oracle.compare(con, q, res["oracle"], res["path"], meta)
        log(f"oracle {q}: {'ok' if why is None else why} "
            f"({time.monotonic() - t0:.1f}s)")
        if why is not None:
            failed += len(got)
            msgs.append(f"{q}: oracle mismatch: {why}")
    return failed, msgs


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    bench = spec()
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")

    cp = build()
    deadline = max(deadline, time.monotonic() + DEADLINE_S)
    data, meta = prepare_data(a.workload, a.seed)
    log(f"inputs {a.workload} seed {a.seed}: {meta['bytes'] / 1e6:.1f} MB, "
        f"{sum(meta['rows'].values())} rows, generated in "
        f"{meta['gen_s']:.2f}s (reused={meta['reused']})")
    rec = run_jvm(cp, a.workload, data, a.seconds, a.trace, deadline)
    log(f"workload ran: set-up {rec['setup_s']:.1f}s, warm-up passes "
        f"{[round(s, 1) for s in rec['warmup_s']]}s, {len(rec['passes'])} "
        f"timed passes in {rec['measured_s']:.1f}s")
    for f in rec["failures"]:
        log(f"FAILED {f['query']} in {f['pass']}: {f['message']}")
    wrong, msgs = check(rec, data, meta)
    for m in msgs:
        log(m)
    failed = len(rec["failures"]) + wrong
    attempted = rec["attempted"]

    if a.trace:
        values, units = metrics.per_layer(rec), bench["per_layer"]
    else:
        values, extra = metrics.end_to_end(rec)
        units = bench["end_to_end"]
        log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted}); "
            f"query_slowdown_p90 over {extra['slowdown_samples']} executions "
            f"in {extra['passes']} passes")
    noisy = metrics.drifting_passes(rec["passes"])
    if noisy:
        log(f"canary drifted >{metrics.DRIFT_FLAG:.0%} in passes {noisy}")
    with open(os.path.join(WORK, "run", "metrics.json"), "w") as f:
        json.dump({"metrics": values, "generation": meta,
                   "failed": failed, "attempted": attempted}, f, indent=1)
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
           for m in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main(sys.argv[1:])
