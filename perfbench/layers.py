"""Per-layer metrics of a traced run, computed from its trace file: the
benchmark's own spans around each call into graft, plus the job and
query records of the SparkListener and QueryExecutionListener it
registered. A layer a workload does not exercise reads 0."""
import statistics

MIX_KEY_METRICS = ("cold_s", "warm_s", "build_ms", "plan_ms", "jobs", "shuffle_bytes", "scans")

LAYER_METRICS = [
    ("runner.batches", "count", "higher"),
    ("runner.first_batch_ms", "ms", "lower"),
    ("runner.batch_ms_p50", "ms", "lower"),
    ("runner.overhead_ms_p50", "ms", "lower"),
    ("runner.jobs_per_batch", "count", "lower"),
    ("parallel.batches", "count", "lower"),
    ("parallel.batch_ms_p50", "ms", "lower"),
    ("consumer.fn_ms_p50", "ms", "lower"),
    ("cursor.sets", "count", "lower"),
    ("cursor.set_ms_p50", "ms", "lower"),
    ("insert.calls", "count", "higher"),
    ("insert.events_per_call", "count", "lower"),
    ("insert.ms_p50", "ms", "lower"),
    ("insert.ms_p90", "ms", "lower"),
    ("insert.jobs_per_call", "count", "lower"),
    ("queue.wait_ms_p50", "ms", "lower"),
    ("delivery.ms_p50", "ms", "lower"),
    ("delivery.ms_p90", "ms", "lower"),
    ("log_build_s", "s", "lower"),
    ("setup.first_s", "s", "lower"),
    ("serve.catchup_jobs", "count", "lower"),
    ("serve.catchup_in_jobs_s", "s", "lower"),
    ("serve.bytes_per_event", "bytes", "lower"),
    ("serve.wake_to_receipt_ms_p50", "ms", "lower"),
    ("serve.jobs_per_delivery", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.outside_jobs_s", "s", "lower"),
]
MIX_UNITS = {"cold_s": "s", "warm_s": "s", "build_ms": "ms", "plan_ms": "ms",
             "jobs": "count", "shuffle_bytes": "bytes", "scans": "count"}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def quant(xs, q):
    """Linear-interpolated quantile (the same rule as the JVM side)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def within(t, span):
    return span["start"] <= t <= span["end"]


def covered_ms(jobs, start, end):
    """Milliseconds of [start, end] during which at least one job ran."""
    iv = sorted((max(j["start"], start), min(j["end"] or end, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_layer(trace, values, keys):
    spans = trace.get("spans", [])
    jobs = trace.get("jobs", [])
    queries = trace.get("queries", [])
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def jobs_in(span):
        return [j for j in jobs if within(j["start"], span)]

    m = {name: 0.0 for name, _, _ in LAYER_METRICS}
    fns = by.get("consumer.fn", [])
    sets = by.get("cursor.set", [])

    # events.Runner and CursorStore, over each runToHead call
    firsts, gaps, overheads, fn_ms, set_ms, n_batches, n_jobs, n_sets = [], [], [], [], [], 0, 0, 0
    replays = by.get("runToHead", [])
    for r in replays:
        calls = sorted((f for f in fns if not f["attrs"].get("shards") and within(f["start"], r)),
                       key=lambda f: f["start"])
        rsets = [s for s in sets if s["attrs"].get("consumer") == "replay" and within(s["start"], r)]
        n_batches += len(calls)
        n_jobs += len([j for j in jobs_in(r) if j.get("layer") != "consumer"])
        n_sets += len(rsets)
        fn_ms += [f["end"] - f["start"] for f in calls]
        set_ms += [s["end"] - s["start"] for s in rsets]
        if calls:
            firsts.append(calls[0]["start"] - r["start"])
        for a, b in zip(calls, calls[1:]):
            gap = b["start"] - a["start"]
            spent = (a["end"] - a["start"]) + sum(
                s["end"] - s["start"] for s in rsets if a["start"] <= s["start"] < b["start"])
            gaps.append(gap)
            overheads.append(gap - spent)
    if replays:
        m["runner.batches"] = n_batches / len(replays)
        m["runner.first_batch_ms"] = med(firsts)
        m["runner.batch_ms_p50"] = med(gaps)
        m["runner.overhead_ms_p50"] = med(overheads)
        m["runner.jobs_per_batch"] = n_jobs / max(n_batches, 1)
        m["consumer.fn_ms_p50"] = med(fn_ms)
        m["cursor.sets"] = n_sets / len(replays)
        m["cursor.set_ms_p50"] = med(set_ms)
    pars = by.get("runParallel", [])
    if pars:
        pgaps, pn = [], 0
        for p in pars:
            calls = [f for f in fns if f["attrs"].get("shards") and within(f["start"], p)]
            pn += len(calls)
            for shard in {f["attrs"]["consumer"] for f in calls}:
                cs = sorted(f["start"] for f in calls if f["attrs"]["consumer"] == shard)
                pgaps += [b - a for a, b in zip(cs, cs[1:])]
        m["parallel.batches"] = pn / len(pars)
        m["parallel.batch_ms_p50"] = med(pgaps)

    # sources.EventsTable: the tail's inserts
    ins = [s for s in by.get("insert", []) if s["attrs"].get("phase") == "tail"]
    if ins:
        durs = [s["end"] - s["start"] for s in ins]
        m["insert.calls"] = len(ins)
        m["insert.events_per_call"] = sum(s["attrs"]["events"] for s in ins) / len(ins)
        m["insert.ms_p50"] = quant(durs, 0.5)
        m["insert.ms_p90"] = quant(durs, 0.9)
        m["insert.jobs_per_call"] = sum(1 for j in jobs if j.get("layer") == "insert") / len(ins)
    dels = by.get("delivery", [])
    if dels:
        m["queue.wait_ms_p50"] = med([d["attrs"]["queue_wait_ms"] for d in dels])
        m["delivery.ms_p50"] = quant([d["end"] - d["start"] for d in dels], 0.5)
        m["delivery.ms_p90"] = quant([d["end"] - d["start"] for d in dels], 0.9)
        m["serve.wake_to_receipt_ms_p50"] = med([d["attrs"]["wake_to_receipt_ms"] for d in dels])
    m["setup.first_s"] = values.get("setup_first_s", 0.0)
    builds = by.get("log_build", [])
    if builds:
        m["log_build_s"] = med([(b["end"] - b["start"]) / 1000.0 for b in builds])

    # sources.GrpcEventServer
    catchups = by.get("catchup", [])
    if catchups:
        m["serve.catchup_jobs"] = med([len(jobs_in(c)) for c in catchups])
        m["serve.catchup_in_jobs_s"] = med([covered_ms(jobs_in(c), c["start"], c["end"]) / 1000.0
                                            for c in catchups])
    if values.get("bytes_per_event"):
        m["serve.bytes_per_event"] = values["bytes_per_event"]
    tails = by.get("tail", [])
    if tails and ins:
        t = tails[0]
        serve_jobs = [j for j in jobs_in(t) if j.get("layer") != "insert"]
        m["serve.jobs_per_delivery"] = len(serve_jobs) / len(ins)

    # query modules, per key: cold run, then medians over warm passes
    qspans = by.get("query", [])
    bspans = by.get("build", [])
    for k in keys:
        runs = sorted((s for s in qspans if s["attrs"]["key"] == k), key=lambda s: s["attrs"]["pass"])
        cold = [s for s in runs if s["attrs"]["pass"] == 0]
        warm = [s for s in runs if s["attrs"]["pass"] > 0]
        pre = f"q.{k}."
        for x in MIX_KEY_METRICS:
            m[pre + x] = 0.0
        if cold:
            m[pre + "cold_s"] = (cold[0]["end"] - cold[0]["start"]) / 1000.0
        if warm:
            m[pre + "warm_s"] = med([(s["end"] - s["start"]) / 1000.0 for s in warm])
            m[pre + "build_ms"] = med([b["end"] - b["start"] for b in bspans
                                       if b["attrs"]["key"] == k and any(within(b["start"], s) for s in warm)])
            m[pre + "plan_ms"] = med([sum(q["plan_ms"] for q in queries if within(q["start"], s)) for s in warm])
            m[pre + "jobs"] = med([len(jobs_in(s)) for s in warm])
            m[pre + "shuffle_bytes"] = med([sum(j["shuffle_bytes"] for j in jobs_in(s)) for s in warm])
            m[pre + "scans"] = med([sum(q["scans"] for q in queries if within(q["start"], s)) for s in warm])

    # Spark, over the timed phases
    timed = replays + pars + by.get("catchup", []) + tails + qspans + by.get("stale.rerun", [])
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(j["tasks"] for j in jobs)
    m["spark.outside_jobs_s"] = sum((s["end"] - s["start"]) - covered_ms(jobs_in(s) or [], s["start"], s["end"])
                                    for s in timed) / 1000.0
    return m


def metric_names(keys):
    names = [(n, u, b) for n, u, b in LAYER_METRICS]
    for k in keys:
        for x in MIX_KEY_METRICS:
            names.append((f"q.{k}.{x}", MIX_UNITS[x], "lower"))
    return names
