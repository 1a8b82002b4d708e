#!/usr/bin/env python3
"""The graft benchmark: one workload per run, its end-to-end metrics (or,
with --trace 1, its per-layer metrics) as the last line of stdout.

    python3 perfbench/run.py --workload render_mix --seed 7 --seconds 15 --trace 0

Run from the root of a checkout. Everything it builds, generates or writes
lives under `.bench_build/` (or `$CARGO_TARGET_DIR`, relative to the root):
the compiled classes, the fixtures with their manifests, the cached oracle
answers, each run's work directory and logs. The first run in a checkout
compiles graft and the harness, generates the fixtures and computes the
oracle answers; later runs reuse them after checking the fixture row counts
and file hashes.

Workloads (see README.md for what each one stresses):
  render_mix   dashboard reads: fetchSeries renders + declared panel queries
  ingest_live  line-protocol ingest with routed reads beside it

`--seconds` sizes the measured work (whole render_mix rounds, ingest
batches), which takes about that long on 4 vCPUs; the work never depends on
how fast the host is.

Exit status is 0 only when a result line was printed; a build, fixture or
harness failure exits 2 without one.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True  # nothing but .bench_build is written
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("render_mix", "ingest_live")
# cold set-ups per run, each in its own JVM (the measured run's is one)
SETUPS = 3
RUN_TIMEOUT_S = 120
JVM_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_p75_ms": "ms",
             "throughput_per_s": "1/s", "live_heap_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Fail(Exception):
    pass


# ---- fixtures -------------------------------------------------------------

def manifest_ok(d):
    """Row counts (parquet footers) and sha256 of every table match MANIFEST."""
    mf = os.path.join(d, "MANIFEST.json")
    if not os.path.exists(mf):
        return False
    import pyarrow.parquet as pq
    for name, m in json.load(open(mf)).items():
        p = os.path.join(d, f"{name}.parquet")
        if not os.path.isfile(p) or pq.ParquetFile(p).metadata.num_rows != m["rows"] \
                or gen.sha256(p) != m["sha256"]:
            log(f"fixture {d}: {name} does not match its manifest")
            return False
    return True


def ensure_base(bb, scale, name):
    d = os.path.join(bb, "data", name)
    if not manifest_ok(d):
        shutil.rmtree(d, ignore_errors=True)
        t = time.time()
        gen.write(d, scale)
        log(f"generated fixture {name} in {time.time() - t:.1f} s")
    return d


def jvm(cp, args, logfile, timeout=600):
    os.makedirs(os.path.dirname(logfile), exist_ok=True)
    tmp = os.path.join(os.path.dirname(logfile), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                 "graftbench.Main"] + args
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise Fail(f"harness timed out: {' '.join(args[:2])}")
    if rc != 0:
        raise Fail(f"harness exited {rc}: {' '.join(args[:2])}; see {logfile}")


# ---- expected answers -----------------------------------------------------

def ensure_expected(bb, cp, fixture):
    """Oracle answers for render_mix's panels on `fixture`, computed once
    per fixture manifest and compiled sources, and cached."""
    # keyed by the fixture and by the compiled sources, which carry the
    # declared query lists and their oracle texts
    h = gen.hashlib.sha256()
    for f in (os.path.join(fixture, "MANIFEST.json"),
              os.path.join(bb, "classes", "graft", ".sha256"),
              os.path.join(bb, "classes", "harness", ".sha256")):
        h.update(open(f, "rb").read())
    fx = h.hexdigest()[:16]
    d = os.path.join(bb, "expected", fx)
    done = os.path.join(d, "DONE")
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    sqlf = os.path.join(d, "oracle_sql.json")
    jvm(cp, ["oracles", sqlf], os.path.join(bb, "logs", "oracles.log"))
    con = check.connect(fixture)
    t = time.time()
    for q, sql in json.load(open(sqlf)).items():
        with open(os.path.join(d, f"{q}.json"), "w") as f:
            json.dump(check.query(con, sql), f)
    open(done, "w").close()
    log(f"oracle answers computed in {time.time() - t:.1f} s")
    return d


# ---- metrics --------------------------------------------------------------

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def checks(workload, doc, fixture, expected):
    """Marks every op ok or failed; returns the set of failed op ids."""
    failed = {o["id"] for o in doc["ops"] if not o["ok"]}
    hashes = {o["key"]: o["hash"] for o in doc["ops"] if o["hash"]}
    bad_keys = {}
    con = check.connect()
    for key, got in doc["results"].items():
        if key not in hashes:
            continue  # a warm-up request
        kind, _, rest = key.partition("|")
        want, tol = None, 0.0
        if kind == "q":
            ora = os.path.join(expected, f"{rest}.json")
            if os.path.exists(ora):
                want = json.load(open(ora))
        elif kind == "render":
            g, f, u = rest.split("|")
            want = check.query(con, check.render_sql(
                os.path.join(fixture, "events.parquet"), g, int(f), int(u)))
        elif kind == "read":
            spec = next(s for s in doc["ingest"]["read_specs"] if s["key"] == key)
            want = check.query(con, check.live_read_sql(
                doc["ingest"]["raw"], spec["glob"], spec["lo"], spec["hi"]))
            tol = 1e-9
        if want is None:
            bad_keys[key] = "no expected answer"
            continue
        d = check.diff(got, want, tol)
        if d:
            bad_keys[key] = d
    for o in doc["ops"]:
        if o["key"] in bad_keys:
            failed.add(o["id"])
    if workload == "ingest_live":
        ing = doc["ingest"]
        n = con.sql(f"SELECT count(*) FROM read_parquet('{ing['raw']}/*.parquet')").fetchone()[0]
        if n != ing["accepted_total"]:
            bad_keys["accepted"] = f"raw holds {n} points, generator accepted {ing['accepted_total']}"
            failed.update(o["id"] for o in doc["ops"] if o["kind"] == "commit")
    for k, v in sorted(bad_keys.items())[:10]:
        log(f"WRONG {k}: {v}")
    return failed


def primary_ops(workload, ops):
    kinds = ("render", "panel") if workload == "render_mix" else ("read",)
    return [o for o in ops if o["kind"] in kinds]


def end_to_end(workload, doc, setups):
    lat = [o["lat_ms"] for o in primary_ops(workload, doc["ops"])]
    # throughput is work per busy second of the closed-loop client:
    # requests, or accepted points per second of commit time
    if workload == "ingest_live":
        busy = sum(o["lat_ms"] for o in doc["ops"] if o["kind"] == "commit")
        thr = doc["ingest"]["accepted"] / (busy / 1000.0)
    else:
        thr = len(lat) / (sum(lat) / 1000.0)
    vals = {"setup_s": float(np.median(setups)),
            "op_p50_ms": pct(lat, 50), "op_p75_ms": pct(lat, 75),
            "throughput_per_s": thr, "live_heap_mb": max(doc["heap_live_mb"])}
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(workload, doc, spec):
    layers = dict(doc["layers"])
    ops = primary_ops(workload, doc["ops"])
    # per request repeated in the (first) pass: its repeats' median latency
    # over its first touch's; the metric is the median over those requests
    by_shape = {}
    for o in ops:
        if o["pass"] == 0:
            by_shape.setdefault(o["shape"], []).append(o["lat_ms"])
    ratios = [np.median(v[1:]) / v[0] for v in by_shape.values() if len(v) > 1]
    layers["warm.repeat_over_first"] = float(np.median(ratios)) if ratios else 0.0
    # render_mix: the same requests traced and untraced; ingest_live: the
    # ops of the traced and the untraced quarters
    t = [o["lat_ms"] for o in ops if o["traced"]]
    u = [o["lat_ms"] for o in ops if not o["traced"]]
    if workload == "render_mix":
        layers["trace.overhead_pct"] = (sum(t) / sum(u) - 1) * 100 if t and u else 0.0
    else:
        layers["trace.overhead_pct"] = \
            (np.median(t) / np.median(u) - 1) * 100 if t and u else 0.0
    live = doc.get("ingest") or doc.get("probe")
    commits = [o["lat_ms"] for o in doc["ops"] if o["kind"] in ("commit", "probe")]
    layers["ingest.commit_p50_ms"] = pct(commits, 50)
    layers["ingest.commit_p90_ms"] = pct(commits, 90)
    layers["ingest.accept_ratio"] = live["accepted"] / max(live["sent"], 1)
    layers["route.hit_ratio"] = live.get("routed", 0) / max(live.get("reads", 0), 1)
    con = check.connect()
    rollup = glob.glob(os.path.join(live["rollup"], "*.parquet"))
    layers["rollup.files_end"] = float(len(rollup))
    layers["raw.files_end"] = float(len(glob.glob(os.path.join(live["raw"], "*.parquet"))))
    layers["rollup.rows_per_bucket_end"] = float(con.sql(
        f"SELECT count(*) / count(DISTINCT (metric, bucket)) "
        f"FROM read_parquet('{live['rollup']}/*.parquet')").fetchone()[0]) if rollup else 0.0
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    missing = set(units) - set(layers)
    if missing:
        raise Fail(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": float(layers[k]), "unit": units[k]} for k in units}


def cold_setup(cp, workload, seed, fixture, work, i):
    """One cold set-up in a JVM of its own; its seconds from JVM start."""
    d = os.path.join(work, f"setup{i}")
    os.makedirs(d)
    out = os.path.join(d, "setup_s")
    jvm(cp, ["setup", workload, "--seed", str(seed), "--data", fixture, "--work", d,
             "--out", out], os.path.join(d, "harness.log"), timeout=RUN_TIMEOUT_S)
    return float(open(out).read())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bb = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        t = time.time()
        cp = build.build(ROOT, os.path.join(bb, "classes"))
        log(f"build ready in {time.time() - t:.1f} s")
        # ingest_live generates its own input; render_mix reads a fixture
        fixture = expected = ""
        if a.workload == "render_mix":
            fixture = ensure_base(bb, 1.0, "base")
            expected = ensure_expected(bb, cp, fixture)
        work = os.path.join(bb, "work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "result.json")
        t = time.time()
        setups = [cold_setup(cp, a.workload, a.seed, fixture, work, i)
                  for i in range(SETUPS - 1)]
        log(f"{SETUPS - 1} cold set-ups took {time.time() - t:.1f} s")
        t = time.time()
        jvm(cp, ["run", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", fixture, "--work", work, "--out", out],
            os.path.join(work, "harness.log"), timeout=RUN_TIMEOUT_S)
        log(f"harness run took {time.time() - t:.1f} s")
        doc = json.load(open(out))
        failed = checks(a.workload, doc, fixture, expected)
        metrics = per_layer(a.workload, doc, spec) if a.trace else \
            end_to_end(a.workload, doc, setups + [doc["setup_s"]])
    except Exception as e:  # build, fixture or harness failure: no result line
        log(f"FAILED: {type(e).__name__}: {e}")
        sys.exit(2)
    ops = primary_ops(a.workload, doc["ops"]) + \
        [o for o in doc["ops"] if o["kind"] == "commit"]
    n_failed = len({o["id"] for o in ops} & failed)
    log(f"checked and summarized in {time.time() - t:.1f} s after the harness started")
    print(json.dumps({"correct": n_failed == 0, "attempted": len(ops),
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
