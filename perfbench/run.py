#!/usr/bin/env python3
"""One benchmark run of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark program from source (once per checkout),
makes the workload's inputs from the seed, runs the workload in one JVM
with Spark on local[nproc], checks every output against DuckDB or
against properties the method must have, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the run also writes its trace to .bench_build/trace-<workload>.json
and prints its overhead against earlier untraced runs.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import oracle  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("backlog_replay", "live_tail", "analytics_mix")

# input sizes
BACKLOG_EVENTS = 10_000   # ten batches of the default 1,000
PREFILL_EVENTS = 10_000
MIX_SCALE = 0.2          # 12k lineitem rows, 2k events, 100 documents, 100 embeddings
DOCS_SEED = 20240101     # documents and their clones do not depend on --seed
CLONES = 40

# analytics_mix: the five memo holders; q_sketch_quantiles, whose
# .count() time hides its output work; mm_mime_sniff for multimodal.
# Every query module is covered, and a cold pass plus two warm passes fit
# in one run.
MIX_KEYS = [
    "q_sketch_quantiles",                                # analytics
    "ev_rfm_segments",                                   # events.EventOps
    "pipeline_doremi_mix",                               # text
    "dd_minhash_planted", "dd_winnow_pairs",             # dedup
    "dd_semantic",                                       # ann
    "mm_mime_sniff",                                     # multimodal
]
# memo holders that read documents: re-run after every append
RESTALE_KEYS = ["dd_minhash_planted", "dd_winnow_pairs", "pipeline_doremi_mix", "dd_semantic"]

E2E = ["setup_s", "peak_rss_mb", "primary_per_cpu_s", "secondary_per_cpu_s"]
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "primary_per_cpu_s": "1/s",
             "secondary_per_cpu_s": "1/s"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def make_inputs(workload, seed, work):
    inp = work / "input"
    inp.mkdir(parents=True)
    if workload == "backlog_replay":
        import pyarrow.parquet as pq
        pq.write_table(gen.events_table(seed, BACKLOG_EVENTS), inp / "events.parquet")
    elif workload == "live_tail":
        import pyarrow.parquet as pq
        pq.write_table(gen.events_table(seed, PREFILL_EVENTS), inp / "events.parquet")
    else:
        gen.write_all(inp, seed, MIX_SCALE, docs_seed=DOCS_SEED)
        gen.write_clones(inp / "documents.parquet", work / "clones.parquet", DOCS_SEED, CLONES)
        (work / "keys.txt").write_text("\n".join(MIX_KEYS) + "\n")
        (work / "restale.txt").write_text("\n".join(RESTALE_KEYS) + "\n")


def archive(workload):
    """The workload's class-data-sharing archive for the current build."""
    return BUILD / f"cds-{workload}-{build.stamp()[:16]}.jsa"


def ensure_archives(cp):
    """After a build, one untimed run of each workload (seed 0, one
    second) dumps the classes it loaded into its archive; every later
    run maps them instead of loading and verifying several thousand
    classes from jars. Archives of earlier builds are removed."""
    for old in BUILD.glob("cds-*"):
        if build.stamp()[:16] not in old.name:
            old.unlink()
    for w in WORKLOADS:
        if archive(w).exists():
            continue
        work = BUILD / "work" / f"cds-{w}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        make_inputs(w, 0, work)
        log(f"dumping the class archive of {w}")
        run_jvm(cp, w, work, 1, 0, 0, work / "result.json", dump=True)
        if not archive(w).exists():
            raise SystemExit(f"perfbench: the JVM dumped no class archive for {w}")
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(cp, workload, work, seconds, trace, seed, out, dump=False):
    # PERFBENCH_CPUS=1 gives the single-threaded baseline (local[1])
    cpus = int(os.environ.get("PERFBENCH_CPUS", os.cpu_count() or 1))
    # A fixed heap and young generation: the resident-set high-water mark
    # then follows what the program retains, not the collector's resizing.
    # C1 only: a JVM that lives under a minute otherwise spends a large,
    # varying share of its four cores compiling with C2 while it is timed.
    # C1 only also shrinks the default code cache to 48 MB, which Spark's
    # generated code fills: the JIT then stops and adapters fail, so the
    # cache gets the tiered default back.
    cds = archive(workload)
    cds_flags = ([f"-XX:ArchiveClassesAtExit={cds}"] if dump
                 else [f"-XX:SharedArchiveFile={cds}"] if cds.exists() else [])
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", *cds_flags,
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, str(work), str(seconds),
              str(trace), str(seed), str(out), str(cpus)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    (work / "tmp").mkdir(exist_ok=True)
    with open(work / "jvm.log", "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        log(f"JVM exit {rc}:\n" + "\n".join(tail))
        raise SystemExit(1)
    return json.loads(pathlib.Path(out).read_text())


def check_events(res, work, errors):
    want = oracle.event_types(work / "input" / "events.parquet")
    got = res["checks"].get("types") or res["checks"].get("catchup_types") or {}
    if isinstance(next(iter(got.values()), None), int):  # catch-up: counts only
        want = {t: v[0] for t, v in want.items()}
    if got != want:
        errors.append(f"per-type sums differ from DuckDB: {got} vs {want}")
    if res["checks"].get("events") != sum((v[0] if isinstance(v, list) else v) for v in want.values()):
        errors.append("event count differs from DuckDB")


def check_mix(res, work):
    """Compares every result the JVM wrote with DuckDB. Returns the keys
    whose cold result or any warm result is missing or mismatches, and
    the count of failed operations the JVM did not already count: each
    result that was written but mismatches fails the run that wrote it."""
    ch = res["checks"]
    sql, written = ch["oracle"], set(ch["written"])
    out = work / "out"
    passes = range(1, res["values"]["passes"])
    failed = 0

    def check(con, phases, keys):
        """The keys with a missing or mismatching result in any phase."""
        nonlocal failed
        bad = set()
        for k in keys:
            want = None
            for phase in phases:
                if f"{phase}/{k}" not in written:  # the run threw; counted by the JVM
                    log(f"failed: {k} {phase}: the run failed")
                    bad.add(k)
                    continue
                want = want or oracle.expected(con, sql[k])
                try:
                    why = oracle.compare(want, out / phase / k)
                except Exception as e:  # an unreadable result is a mismatch
                    why = f"unreadable result: {e}"
                if why:
                    log(f"failed: {k} {phase}: {why}")
                    bad.add(k)
                    failed += 1
        return bad

    bad_keys = check(oracle.connect(work / "input"), ["cold"] + [f"warm/{p}" for p in passes], ch["keys"])
    check(oracle.connect(work / "input", [work / "clones.parquet"]), ["stale"], ch["restale"])
    return bad_keys, failed


def mix_metrics(res, bad_keys):
    ch = res["checks"]
    ok = [k for k in ch["keys"] if k not in bad_keys and ch["warm_s"][k]]
    v = res["values"]
    v["mix_cold_s"] = sum(ch["cold_s"][k] for k in ok)
    v["mix_warm_s"] = sum(statistics.median(ch["warm_s"][k]) for k in ok)
    warm_cpu = [statistics.median(ch["warm_cpu_s"][k]) for k in ok]
    cold_cpu = sum(ch["cold_cpu_s"][k] for k in ok)
    v["primary_per_cpu_s"] = len(ok) / sum(warm_cpu) if ok else 0.0
    v["secondary_per_cpu_s"] = len(ok) / cold_cpu if ok else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    ensure_archives(cp)
    work = BUILD / "work" / a.workload
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    make_inputs(a.workload, a.seed, work)
    t0 = time.time()
    res = run_jvm(cp, a.workload, work, a.seconds, a.trace, a.seed, work / "result.json")
    log(f"{a.workload}: JVM {time.time() - t0:.1f} s")

    errors = list(res["errors"])
    attempted, failed = res["attempted"], res["failed"]
    for f in res["failures"]:
        log("failed:", f)
    if a.workload == "analytics_mix":
        bad_keys, more_failed = check_mix(res, work)
        failed += more_failed
        mix_metrics(res, bad_keys)
        ch = res["checks"]
        for k, t in ch["warm_s"].items():
            log(f"{k}: wall / CPU s: cold {ch['cold_s'].get(k, float('nan')):.2f} / "
                f"{ch['cold_cpu_s'].get(k, float('nan')):.2f}, warm "
                + " ".join(f"{x:.2f} / {c:.2f}" for x, c in zip(t, ch["warm_cpu_s"][k])))
    else:
        check_events(res, work, errors)
    for e in errors:
        log("check:", e)
    log(f"{a.workload}: checks done {time.time() - t0:.1f} s after JVM start")

    v = res["values"]
    if a.trace:
        keys = MIX_KEYS
        m = layers.per_layer(res["trace"], v, keys if a.workload == "analytics_mix" else [])
        names = layers.metric_names(keys)
        metrics = {n: {"value": m.get(n, 0.0), "unit": u} for n, u, _ in names}
        trace_file = BUILD / f"trace-{a.workload}.json"
        trace_file.write_text(json.dumps(res["trace"]))
        report_overhead(a.workload, v)
    else:
        metrics = {n: {"value": v[n], "unit": E2E_UNITS[n]} for n in E2E}
        hist = history_file(a.workload)
        hist.parent.mkdir(parents=True, exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps({n: v[n] for n in E2E}) + "\n")
    extra = {k: v[k] for k in ("rounds", "passes", "replay_rates", "parallel_rates", "replay_cpu_rates", "parallel_cpu_rates",
                                 "batch_gap_ms", "catchup_cpu_rates", "mix_cold_s", "mix_warm_s", "insert_per_s", "delivery_ms",
                                 "tail_cycles", "generator_late_ms") if k in v}
    log(f"{a.workload}: {extra}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def history_file(workload):
    """Untraced results of this build, for the traced run's overhead."""
    return BUILD / "history" / f"{workload}-{build.stamp()[:16]}.jsonl"


def report_overhead(workload, traced):
    hist = history_file(workload)
    if not hist.exists():
        print(f"tracing overhead: no untraced runs of {workload} in this checkout yet")
        return
    runs = [json.loads(x) for x in hist.read_text().splitlines() if x.strip()]
    for n in E2E[2:]:
        base = statistics.median(r[n] for r in runs)
        if base:
            print(f"tracing overhead {n}: traced {traced[n]:.4g} vs untraced median "
                  f"{base:.4g} ({(traced[n] / base - 1) * 100:+.1f}%, {len(runs)} runs)")


if __name__ == "__main__":
    main()
