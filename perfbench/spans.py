"""Spans and per-layer metrics of a traced run.

The harness records, in memory and written out after the timed region:
statement intervals (span id = the statement's sequence number, carried to
Spark as a local property), Spark jobs tagged with that id, their stages
with task aggregates, and one record per QueryExecution with its Catalyst
phase times. Here they become spans

    stmt -> build (the ClickHouseSql.sql call or SparkEntry query function)
         -> catalyst phase (parsing / analysis / optimization / planning)
    stmt -> job -> stage

and per-layer metrics. A span's self time is its duration minus the part
of it that its children cover.
"""
PHASES = ["parsing", "analysis", "optimization", "planning"]
PHASE_METRIC = {"parsing": "catalyst.parse_ms", "analysis": "catalyst.analysis_ms",
                "optimization": "catalyst.optimization_ms",
                "planning": "catalyst.planning_ms"}


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    xs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            xs.append((a, b))
    xs.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def build_spans(recs):
    """Return (spans, per-statement layer figures keyed by span id)."""
    stmts = {r["span"]: r for r in recs if r["type"] == "stmt_span"}
    order = sorted(stmts.values(), key=lambda r: r["start"])
    jobs = {}
    for r in recs:
        if r["type"] == "job_start":
            jobs[r["job"]] = {"span": r["span"], "start": r["t"], "end": r["t"],
                              "stages": []}
    for r in recs:
        if r["type"] == "job_end" and r["job"] in jobs:
            jobs[r["job"]]["end"] = r["t"]
    for r in recs:
        if r["type"] == "stage" and r["job"] in jobs:
            jobs[r["job"]]["stages"].append(r)

    def owner(t):
        for s in order:
            if s["start"] <= t <= s["end"]:
                return s["span"]
        return None

    qes = {}
    for r in recs:
        if r["type"] != "qe":
            continue
        starts = [r[p + "_start"] for p in PHASES if p + "_start" in r]
        sid = owner(min(starts)) if starts else None
        if sid is not None:
            qes.setdefault(sid, []).append(r)

    spans, per = [], {}
    for sid, s in stmts.items():
        sjobs = [j for j in jobs.values() if j["span"] == sid]
        job_iv = [(j["start"], j["end"]) for j in sjobs]
        phase_iv = {p: [] for p in PHASES}
        for q in qes.get(sid, []):
            for p in PHASES:
                if p + "_start" in q:
                    phase_iv[p].append((q[p + "_start"], q[p + "_end"]))
        all_phase = [iv for p in PHASES for iv in phase_iv[p]]
        build = (s["start"], s["build_end"])
        stages = [st for j in sjobs for st in j["stages"]]
        f = {
            "ms": s["end"] - s["start"],
            "build_self_ms": (build[1] - build[0]) -
            union_ms(all_phase + job_iv, *build),
            "job_ms": union_ms(job_iv, s["start"], s["end"]),
            "jobs": len(sjobs),
            "stages": len(stages),
            "persisted_bytes": s["persisted_bytes"],
        }
        f["driver_gap_ms"] = f["ms"] - f["job_ms"]
        for p in PHASES:
            f[PHASE_METRIC[p]] = union_ms(phase_iv[p])
        for k in ["tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                  "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
                  "task_wait_ms"]:
            f[k] = sum(st[k] for st in stages)
        for k in ["scan_files", "scan_files_total", "scan_rows", "scan_bytes",
                  "exchanges", "broadcasts"]:
            f[k] = sum(q.get(k, 0) for q in qes.get(sid, []))
        per[sid] = f

        spans.append({"id": sid, "parent": None, "name": "stmt",
                      "start": s["start"], "end": s["end"],
                      "self_ms": f["ms"] - union_ms([build] + job_iv, s["start"], s["end"])})
        spans.append({"id": sid + ".build", "parent": sid, "name": "build",
                      "start": build[0], "end": build[1], "self_ms": f["build_self_ms"]})
        for i, q in enumerate(qes.get(sid, [])):
            for p in PHASES:
                if p + "_start" in q:
                    a, b = q[p + "_start"], q[p + "_end"]
                    parent = sid + ".build" if a < build[1] else sid
                    spans.append({"id": f"{sid}.qe{i}.{p}", "parent": parent,
                                  "name": "catalyst." + p, "start": a, "end": b,
                                  "self_ms": b - a})
        for jid, j in jobs.items():
            if j["span"] != sid:
                continue
            st_iv = [(st["start"], st["end"]) for st in j["stages"]]
            spans.append({"id": f"{sid}.job{jid}", "parent": sid, "name": "job",
                          "start": j["start"], "end": j["end"],
                          "self_ms": (j["end"] - j["start"]) - union_ms(st_iv, j["start"], j["end"])})
            for st in j["stages"]:
                spans.append({"id": f"{sid}.job{jid}.stage{st['stage']}.{st['attempt']}",
                              "parent": f"{sid}.job{jid}", "name": "stage",
                              "start": st["start"], "end": st["end"],
                              "self_ms": st["end"] - st["start"], "tasks": st["tasks"]})
    return spans, per
