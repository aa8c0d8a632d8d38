#!/usr/bin/env python3
"""Benchmark of the warehouse's load, read and index-lifecycle paths.

Usage (from the repository root):

    python3 perfbench/run.py --workload vault_incremental --seed 1 --seconds 12 --trace 0

Builds the warehouse and the benchmark harness from source (cached by a
hash of the sources), generates the workload's inputs from the seed, runs
the harness in one JVM, checks every operation's output, prints each
metric with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Any operation that throws or returns a wrong result is named on stderr and
the command exits non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

# Input sizes per workload: the vault loads at a TPC-H scale factor (see
# gen.py), the catalog's vectors at the row count of the sf0.01 testdata.
WORKLOADS = {
    "vault_initial": {"sf": 0.01, "loads": 1},
    "vault_incremental": {"sf": 0.01, "loads": 2},
    "catalog_index": {"vectors": 500},
}
# The operation each workload times.
UNIT_OP = {"vault_initial": "load", "vault_incremental": "load",
           "catalog_index": "gate_pass"}

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "storage_bytes_per_raw_byte": "ratio",
}

SPECS = ["genre_hub", "employee_hub", "movie_hub", "movie_info_sat",
         "movie_genre_link", "movie_emp_link", "emp_movie_l_sat",
         "employee_data", "movie_data", "movie_employee_link",
         "genre_metrics", "rating_slide"]
GATES = ["q_ann_index_delete"]


def _layer_units():
    u = {"engine.landing.wall_s": "s", "engine.landing.jobs": "count",
         "engine.landing.bytes_written": "bytes"}
    for layer in ("hubs", "scd2", "marts"):
        for k, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                        ("cpu_s", "s"), ("shuffle_bytes", "bytes"), ("driver_s", "s")):
            u[f"engine.{layer}.{k}"] = unit
    u.update({"engine.scd2.bytes_written": "bytes", "engine.scd2.files_written": "count",
              "engine.scd2.partitions_rewritten": "count",
              "engine.scd2.rows_changed": "count", "engine.scd2.rows_written": "count",
              "engine.scd2.rows_written_per_changed": "ratio",
              "engine.load.self_s": "s"})
    for t in SPECS:
        u[f"engine.spec.{t}.wall_s"] = "s"
        u[f"engine.spec.{t}.jobs"] = "count"
    for c in ("pit", "history", "mart", "mart_asof"):
        u.update({f"read.{c}.p50_ms": "ms", f"read.{c}.jobs": "count",
                  f"read.{c}.files_read": "count", f"read.{c}.bytes_read": "bytes"})
    u.update({"operators.index.jobs_per_gate": "count",
              "operators.index.tasks_per_gate": "count",
              "operators.index.driver_s": "s", "operators.index.shuffle_bytes": "bytes"})
    for g in GATES:
        u[f"queries.gate.{g}.wall_s"] = "s"
        u[f"queries.gate.{g}.jobs"] = "count"
    u.update({"jvm.gc_s": "s", "jvm.steal_ticks": "count", "jvm.peak_rss_mb": "MiB",
              "trace.op_s": "s", "trace.overhead_s": "s"})
    return u


PER_LAYER = _layer_units()
HARD_LIMIT_S = 170.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def _walk(d):
    for base, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            yield os.path.join(base, f)


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(d):
            paths += sorted(os.path.join(d, f) for f in os.listdir(d))
    paths += list(_walk(os.path.join(ROOT, "src", "main")))
    paths += list(_walk(os.path.join(HARNESS, "src")))
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the warehouse and the harness; return (classpath, jvm opts)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no warehouse sources: {need} is missing under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the warehouse")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp = source_stamp()
    fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        with open(os.path.join(WORK, "build.log"), "w") as out:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                               cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0 or not os.path.exists(launch):
            with open(os.path.join(WORK, "build.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


# ---- inputs --------------------------------------------------------------

def make_inputs(workload, seed, run_dir):
    import gen
    inputs = os.path.join(run_dir, "inputs")
    spec = WORKLOADS[workload]
    if workload == "catalog_index":
        gen.write_embeddings(os.path.join(inputs, "sf"), seed, spec["vectors"])
    else:
        gen.write_loads(inputs, seed, spec["sf"], spec["loads"])
    return inputs


# ---- harness -------------------------------------------------------------

def run_harness(workload, seed, seconds, trace, inject, started):
    cp, jvm_opts = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    inputs = make_inputs(workload, seed, run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + jvm_opts +
           ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "perfbench.Harness", workload, inputs, run_dir,
            str(seconds), "1" if trace else "0", out, str(seed), ",".join(inject)])
    left = HARD_LIMIT_S - (time.time() - started)
    with open(os.path.join(run_dir, "harness.log"), "w") as lg:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lg, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(10.0, left))
        except subprocess.TimeoutExpired:
            fail("harness did not finish in time")
        finally:
            # never leave the JVM behind, whatever ends the wait
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "harness.log")) as f:
            tail = [ln for ln in f.read().splitlines() if "perfbench" in ln or "Exception" in ln]
        sys.stderr.write("\n".join(tail[-40:]) + "\n")
        fail(f"harness exited with {code}")
    with open(out) as f:
        return json.load(f), run_dir


# ---- checks and metrics --------------------------------------------------

def check(result, run_dir):
    """Mark every op ok or failed; return the names of failed ops."""
    import oracle
    ops = result["ops"]
    failures = []

    def bad(op, why):
        op["ok"] = False
        failures.append(f"op {op['id']} {op['kind']} {op['class']} {op['params']}: {why}")

    for op in ops:
        op["ok"] = op["error"] is None
        if not op["ok"]:
            failures.append(f"op {op['id']} {op['kind']} {op['class']} {op['params']}: "
                            f"threw {op['error']}")
    live = [op for op in ops if op["ok"]]
    wl = result["workload"]
    loads = [op for op in live if op["kind"] == "load"]
    if loads:
        ref = result["extra"]["reference"]
        for op in loads:
            reasons = oracle.check_load(op, ref)
            if reasons:
                bad(op, "; ".join(reasons[:4]))
    reads = [op for op in live if op["kind"] == "probe"]
    if reads:
        wh = oracle.WarehouseOracle(result["extra"]["warehouse_dir"])
        for op in reads:
            why = wh.check(op)
            if why:
                bad(op, why)
    gates = [op for op in live if op["kind"] == "gate"]
    if gates:
        oracles = oracle.GateOracle(os.path.join(run_dir, "inputs", "sf"),
                                    result["extra"]["oracle_sql"])
        for op in gates:
            why = (oracles.check(op["class"], op["output_dir"]) if op["output_dir"]
                   else "no output written")
            if why:
                bad(op, why)
        # a pass with a failed gate is not a timed success
        failed_passes = {op["params"]["pass"] for op in ops
                         if op["kind"] == "gate" and not op["ok"]}
        for op in ops:
            if op["kind"] == "gate_pass" and op["params"]["pass"] in failed_passes:
                op["ok"] = False
    return failures


def end_to_end(result):
    """The end-to-end metrics and the run's other readings, from the
    untraced operations that passed their checks."""
    wl = result["workload"]
    kind = UNIT_OP[wl]
    ok = [op for op in result["ops"] if op["kind"] == kind and op["ok"]]
    plain = [op["ms"] / 1000.0 for op in ok if not op["traced"]]
    traced = [op["ms"] / 1000.0 for op in ok if op["traced"]]
    if not plain and not traced:
        return None, {}
    if "storage" in result["extra"]:
        storage = result["extra"]["storage"]
        ratio = storage["bytes"] / storage["raw_bytes"]
    else:
        ratio = statistics.median(op["digests"]["_storage"]["bytes"]
                                  / op["digests"]["_storage"]["raw_bytes"] for op in ok)
    lat = plain or traced
    m = {
        "setup_s": result["setup_s"],
        "op_s": statistics.median(lat),
        "storage_bytes_per_raw_byte": ratio,
    }
    info = {"samples": len(lat), "ops_per_s": len(lat) / result["measure_s"],
            "jvm.gc_s": result["gc_s"], "jvm.steal_ticks": result["steal_ticks"],
            "jvm.peak_rss_mb": result["peak_rss_mb"]}
    if traced:
        info["trace.op_s"] = statistics.median(traced)
        if plain:
            info["trace.overhead_s"] = info["trace.op_s"] - statistics.median(plain)
    return m, info


def per_layer(result, info):
    """Every declared per-layer metric. A layer the workload does not reach
    reads 0: no jobs ran and no time was spent there."""
    got = dict(result["layers"])
    got["jvm.gc_s"] = result["gc_s"]
    got["jvm.steal_ticks"] = result["steal_ticks"]
    got["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    for k in ("trace.op_s", "trace.overhead_s"):
        if k in info:
            got[k] = info[k]
    return {k: float(got.get(k, 0.0)) for k in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="comma list of throw:<class> / digest:<class> (self-test)")
    a = ap.parse_args(argv)
    started = time.time()
    result, run_dir = run_harness(a.workload, a.seed, a.seconds, a.trace == 1,
                                  [x for x in a.inject.split(",") if x], started)
    failures = check(result, run_dir)
    for f in failures:
        log(f"FAILED {f}")
    m, info = end_to_end(result)
    # a pass over the gates is the timed unit of catalog_index, but its
    # gates are what is attempted and checked
    counted = [op for op in result["ops"] if op["kind"] != "gate_pass"]
    attempted = len(counted)
    failed = len([op for op in counted if not op["ok"]])
    correct = not failures and m is not None and attempted > 0
    if m is None:
        log("no operation completed")
        m, info = {}, {}
    if a.trace:
        out = {k: (v, PER_LAYER[k]) for k, v in per_layer(result, info).items()}
    else:
        out = {k: (m[k], END_TO_END[k]) for k in END_TO_END if k in m}
    for k, (v, unit) in out.items():
        print(f"{k:48s} {v:18.4f} {unit}")
    for k, v in info.items():
        if k not in out:
            print(f"{k:48s} {v:18.4f}  (info)")
    print(f"{'failed_frac':48s} {failed / max(1, attempted):18.4f} ratio  (info)")
    print(f"checks: {'PASS' if correct else 'FAIL'} ({attempted} attempted, {failed} failed)")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in out.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
