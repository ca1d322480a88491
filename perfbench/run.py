#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

One run builds the program from source if needed (sbt, into
perfbench/target), generates the workload's input for the seed
(perfbench/gen.py), launches the benchmark JVM directly on the compiled
classpath, checks every timed pass's outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
See perfbench/README.md for the definitions.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Each workload runs its legs back to back in every pass. The legs are the
# four pipelines of the benchmark; three share one workload because each
# run pays a fresh JVM whose first pass costs 2-3x a warm one, and four
# such runs per seed do not fit the benchmark's time budget (README.md).
WORKLOADS = {
    "transit_refresh": ["transit_refresh"],
    "stream_curate_index": ["transit_stream", "corpus_curate", "index_maintain"],
}

# Driver heap of the benchmark JVM (overrides the root build's -Xmx).
HEAP = "-Xmx4g"
# A run must end within 180 s. The JVM starts no optional pass that would
# end later than RUN_BUDGET_S after the run began, less the time the
# checks after it need.
RUN_BUDGET_S = 170
CHECK_RESERVE_S = 15
BUILD_TIMEOUT_S = 880

# Per-layer spans reported by the traced run, per leg.
SPANS = {
    "transit_refresh": ["jobs", "streaming", "ingest", "mockflow", "ml",
                        "views", "suggest", "export"],
    "transit_stream": ["streaming.produce", "sources.consume", "views.stream",
                       "suggest.stream", "export.stream"],
    "corpus_curate": ["dedup.curate", "dedup.clusters", "dedup.minhash_pairs",
                      "dedup.ngram_jaccard"],
    "index_maintain": ["sim.knn_graph", "sim.ivf_maintenance", "text.web_graph"],
}
COUNTERS = ["self_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_mb"]
END_TO_END = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
              "result_lag_s": "s"}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the benchmark unless the sources are
    unchanged since the last build; return the JVM options + classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources next to perfbench/ (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.stamp")
    if os.path.isfile(launch) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(launch) as lf:
                    return [l for l in lf.read().splitlines() if l]
    log("building (sbt launchSpec)")
    # resolve offline, as the repository's own test invocation does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    try:
        code = _wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"], cwd=HERE, env=env,
            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True),
            time.time() + BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    if code != 0 or not os.path.isfile(launch):
        die(f"build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(launch) as lf:
        return [l for l in lf.read().splitlines() if l]


# ------------------------------------------------------------------ JVM

def _wait(p, deadline):
    """Exit code of `p`, started in its own session. Past the deadline, or
    when interrupted, kill its whole process group and wait for it."""
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        try:
            os.killpg(p.pid, 9)
        except ProcessLookupError:
            pass
        p.wait()
        raise

def run_jvm(launch, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # launch.txt ends with "-cp <classpath>"; the heap override must come
    # after the root build's -Xmx
    cmd = (["java"] + launch[:-2]
           + [HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + launch[-2:] + ["graft.perfbench.Main", "--work", work]
           + [str(a) for a in args])
    env = dict(os.environ)
    # spark.local.dir must win, so that scratch stays inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    launch_ms = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd + ["--launch-ms", f"{launch_ms:.3f}"], stdout=logf,
                             stderr=logf, env=env, cwd=work, start_new_session=True)
        try:
            code = _wait(p, deadline)
        except subprocess.TimeoutExpired:
            die("benchmark JVM ran out of time")
    if code != 0 or not os.path.isfile(result):
        with open(os.path.join(work, "jvm.log"), "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        die(f"benchmark JVM failed (exit {code}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


# --------------------------------------------------------------- checks

def _read_output(path):
    """A Spark parquet output dir as one frame, part files in part order."""
    import pandas as pd
    import pyarrow.parquet as pq
    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    if not parts:
        raise ValueError(f"no parquet parts in {path}")
    return pd.concat([pq.read_table(p).to_pandas() for p in parts], ignore_index=True)


def oracle_frames(oracle_sql, in_dir):
    """Evaluate each oracle SQL once over the generated input (DuckDB).
    Keys are `<leg>/<output>`; each leg's SQL sees that leg's tables."""
    import duckdb
    frames = {}
    for leg in sorted({k.split("/")[0] for k in oracle_sql}):
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for f in sorted(glob.glob(os.path.join(in_dir, leg, "*.parquet"))):
            t = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        for key, sql in oracle_sql.items():
            if key.startswith(leg + "/"):
                frames[key] = con.execute(sql).fetchdf()
        con.close()
    return frames


def compare(sdf, ddf):
    """None when the Spark output equals the oracle frame exactly (column
    order aside, dtypes may differ), else a reason."""
    import pandas.testing as pdt
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns {sorted(sdf.columns)} != oracle {sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"{len(sdf)} rows != oracle {len(ddf)}"
    cols = sorted(sdf.columns)
    try:
        pdt.assert_frame_equal(sdf[cols].reset_index(drop=True),
                               ddf[cols].reset_index(drop=True),
                               check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "values differ: " + " ".join(str(e).split())[:200]
    return None


def artifact_digest(out):
    """Order-free content digest of every JobRunner artifact of one pass:
    parquet tables by row hashes, CSV and JSON files by their bytes."""
    import pandas as pd
    import pyarrow.dataset as ds
    digest = {}
    for d, subdirs, files in os.walk(os.path.join(out, "tables")):
        if "_SUCCESS" not in files:
            continue
        subdirs[:] = []
        rel = os.path.relpath(d, out)
        csvs = sorted(glob.glob(os.path.join(d, "*.csv")))
        if csvs:
            lines = sorted(l for f in csvs for l in open(f, "rb").read().splitlines())
            digest[rel] = hashlib.sha256(b"\n".join(lines)).hexdigest()
            continue
        table = ds.dataset(d, format="parquet", partitioning="hive").to_table()
        df = table.to_pandas()
        for c in df.columns:
            if df[c].dtype == object or str(df[c].dtype) == "category":
                df[c] = df[c].astype(str)
        h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
        digest[rel] = f"{len(df)}:{int(h.to_numpy().sum(dtype='uint64'))}"
    for f in sorted(glob.glob(os.path.join(out, "exports", "*.json"))):
        with open(f, "rb") as fh:
            digest[os.path.relpath(f, out)] = hashlib.sha256(fh.read()).hexdigest()
    return json.dumps(digest, sort_keys=True)


def check_passes(legs, res, in_dir):
    """Reason each pass failed, or None; outside every timed interval.

    The JVM has already run each leg's own check (`error`). Here: outputs
    with an oracle must equal it, and the refresh artifacts must be
    byte-stable across passes (the most common digest is the reference).
    """
    passes = res["passes"]
    reasons = [p.get("error") for p in passes]
    if "transit_refresh" in legs:
        digests = [artifact_digest(os.path.join(p["out"], "transit_refresh"))
                   if r is None else None for p, r in zip(passes, reasons)]
        common = collections.Counter(d for d in digests if d).most_common()
        ref = common[0][0] if common and (len(common) == 1 or common[0][1] > common[1][1]) else None
        for i, d in enumerate(digests):
            if reasons[i] is None and d != ref:
                reasons[i] = "transit_refresh: artifacts are not byte-stable across passes"
    if res.get("oracle_sql"):
        want = oracle_frames(res["oracle_sql"], in_dir)
        for i, p in enumerate(passes):
            if reasons[i] is not None:
                continue
            for name, ddf in want.items():
                try:
                    why = compare(_read_output(os.path.join(p["out"], name)), ddf)
                except Exception as e:  # unreadable output is a failed pass
                    why = f"unreadable: {e}"
                if why:
                    reasons[i] = f"{name}: {why}"
                    break
    return reasons


# --------------------------------------------------------------- result

def end_to_end(setup_s, rows, passes):
    """The first pass of the fresh JVM; later passes are only checked."""
    first = passes[0]
    return {
        "setup_s": setup_s,
        "pass_s": first["pass_s"],
        "rows_per_s": rows / first["pass_s"],
        "cpu_s": first["cpu_s"],
        "result_lag_s": first["result_lag_s"],
    }


def per_layer(legs, passes, stream_events):
    """The traced pass 0; spans of legs not in the workload are 0."""
    p = passes[0]
    layers = {**p.get("layers", {}), **p.get("extra_layers", {})}
    m = {}
    for leg, names in SPANS.items():
        for n in names:
            for c in COUNTERS:
                m[f"{n}.{c}"] = layers.get(n, {}).get(c, 0.0) if leg in legs else 0.0
    m["dedup.pair_yield"] = p.get("pair_yield", 0.0)
    m["sources.bytes_per_event"] = (
        p.get("queue_bytes", 0.0) / stream_events if stream_events else 0.0)
    m["trace.pass_s"] = p["pass_s"]
    m["trace.unattributed_s"] = p.get("unattributed_s", 0.0)
    m["trace.overhead_s"] = p["trace_s"]
    m["trace.jobs"] = p["jobs"]
    m["trace.tasks"] = p["tasks"]
    m["cache_left_mb"] = p["cache_left_mb"]
    return m


def units():
    u = {f"{n}.{c}": ("s" if c.endswith("_s") else "MB" if c == "shuffle_mb" else "count")
         for ns in SPANS.values() for n in ns for c in COUNTERS}
    u.update({"dedup.pair_yield": "ratio", "sources.bytes_per_event": "B/event",
              "trace.pass_s": "s", "trace.unattributed_s": "s", "trace.overhead_s": "s",
              "trace.jobs": "count", "trace.tasks": "count", "cache_left_mb": "MB"})
    u.update(END_TO_END)
    return u


# ----------------------------------------------------------------- main

def run(workload, seed, seconds, trace, alter_pass=None, budget=RUN_BUDGET_S):
    t_begin = time.time()
    deadline = t_begin + budget
    launch = build()
    deadline = max(deadline, time.time() + 120)  # a first build gets its own budget
    import gen
    legs = WORKLOADS[workload]
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "input")
    try:
        rows = {leg: gen.generate(leg, seed, os.path.join(in_dir, leg)) for leg in legs}
        t_gen = time.time()
        base = ["--workload", workload, "--legs", ",".join(legs), "--input", in_dir]
        args = base + ["--seconds", seconds, "--trace", 1 if trace else 0,
                       "--deadline-ms", int((deadline - CHECK_RESERVE_S) * 1000)]
        if alter_pass is not None:
            args += ["--alter-pass", alter_pass]
        t_jvm = time.time()
        res = run_jvm(launch, work, args, deadline)
        t_jvm = time.time() - t_jvm
        passes = res["passes"]
        t_checks = time.time()
        reasons = check_passes(legs, res, in_dir)
        for p, r in zip(passes, reasons):
            if r:
                log(f"pass {p['pass']} failed: {r}")
        n_rows = sum(n for counts in rows.values() for n in counts.values())
        if trace:
            metrics = per_layer(legs, passes, rows.get("transit_stream", {}).get("events", 0))
        else:
            metrics = end_to_end(res["setup_s"], n_rows, passes)
        u = units()
        failed = sum(1 for r in reasons if r)
        out = {"correct": failed == 0, "attempted": len(passes), "failed": failed,
               "metrics": {k: {"value": v, "unit": u[k]} for k, v in metrics.items()}}
        log(f"{workload} seed={seed}: {len(passes)} passes, "
            f"pass_s={[round(p['pass_s'], 3) for p in passes]}, "
            f"legs_s={[[round(p[l + '_s'], 2) for l in legs] for p in passes]}, "
            f"check_s={[round(p['check_s'], 2) for p in passes]}, "
            f"setup_s={res['setup_s']:.2f}, "
            f"gen {t_gen - t_begin:.1f} s, jvm {t_jvm:.1f} s, "
            f"checked in {time.time() - t_checks:.1f} s, {time.time() - t_begin:.1f} s total")
    except BaseException:
        log(f"work dir kept for inspection: {work}")
        raise
    shutil.rmtree(work, ignore_errors=True)
    return out, reasons


def selftest():
    """Per workload, alter one output of leg k in pass 1 + k: exactly those
    passes must count as failed, the first and the last must pass."""
    ok = True
    for w, legs in WORKLOADS.items():
        out, reasons = run(w, 7, 0, False, alter_pass=1, budget=900)
        want = list(range(1, 1 + len(legs)))
        bad = [i for i, r in enumerate(reasons) if r]
        good = bad == want and out["failed"] == len(legs) and not out["correct"]
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {w}: failed passes {bad}, expected {want}")
        for i in bad:
            print(f"       pass {i}: {reasons[i]}")
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        die("--workload is required")
    out, _ = run(a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
