#!/usr/bin/env python3
"""Repository benchmark: end-to-end and per-layer metrics of the engine.

One run (what BENCHMARK.json's command runs):

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 10 --trace 0

builds the engine from source if needed (`build.py`), generates the seeded
corpus (`gen.py`), runs the workload in a fresh JVM with one closed-loop
client (`harness/`), checks every result against DuckDB (`oracle.py`) and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(`spans.py`) and writes the run's spans to the output directory.

All workloads for one seed, untraced and traced, with the tracing overhead:

    python3 perfbench/run.py --workload all --seed 1 --save out/a

Compare two sets of saved runs metric by metric:

    python3 perfbench/run.py compare out/a out/b
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
CPUS = os.cpu_count() or 4
SETUPS = 3           # set-ups per run; setup_s is their median
# A fixed heap: with -Xms = -Xmx the collector does not resize the heap
# from run to run, so peak RSS measures the program and not heap sizing.
HEAP = "2g"
RUN_LIMIT_S = 170    # the whole run, build excluded, must end before this
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- one run ---------------------------------------------------------------

def _esc(s):
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def _write_plan(path, conf, stmts):
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")
        for s in stmts:
            check = "1" if s.kind in ("read", "probe") else "0"
            f.write(f"stmt\t{s.pass_no}\t{s.kind}\t{check}\t{s.name}\t{_esc(s.text)}\n")


def _fixture_key(path):
    """The engine keys its /tmp/graft_<tag>_<key> fixtures by corpus path."""
    return "".join(c if c.isalnum() else "_" for c in path)


def _remove_fixtures(aliases):
    keys = [_fixture_key(a) for a in aliases]
    for p in glob.glob("/tmp/graft_*") + glob.glob("/tmp/graft_fixtures/*"):
        if any(p.endswith(k) for k in keys):
            shutil.rmtree(p, ignore_errors=True)


def _run_jvm(classpath, plan_path, log_path, deadline):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.dirname(plan_path)}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness", plan_path])
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("the harness JVM overran the run's time limit")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness JVM failed (exit {rc}):\n{tail}")


def tail_value(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With ten or fewer samples, the max."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def run_once(workload, seed, seconds, traced, save_dir=None):
    """Run one workload once; return the result dict (last stdout line)."""
    t_start = time.time()
    classpath = build.build()
    deadline = time.time() + RUN_LIMIT_S
    mode, stmts = workloads.plan(workload, seconds, seed)
    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{workload}-s{seed}-t{int(traced)}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    corpus = os.path.join(run_dir, "corpus")
    aliases = [os.path.join(run_dir, f"corpus_{k}") for k in range(SETUPS)]
    try:
        for d in ["corpus", "warehouse", "local", "tmp", "dumps"]:
            os.makedirs(os.path.join(run_dir, d))
        t_gen = time.time()
        gen.write(corpus, seed, workloads.SF)
        t_gen = time.time() - t_gen
        for a in aliases:
            os.symlink(corpus, a)
        out_path = os.path.join(run_dir, "records.jsonl")
        conf = {
            "workload": workload, "mode": mode, "trace": int(traced), "cpus": CPUS, "corpora": ",".join(aliases),
            "run_dir": run_dir, "warehouse": os.path.join(run_dir, "warehouse"),
            "local_dir": os.path.join(run_dir, "local"),
            "dump_dir": os.path.join(run_dir, "dumps"), "out": out_path,
            "final_tables": workloads.TABLE if mode == "dialect" else "",
            "launch_ms": int(time.time() * 1000),
        }
        plan_path = os.path.join(run_dir, "plan.txt")
        _write_plan(plan_path, conf, stmts)
        t_jvm = time.time()
        _run_jvm(classpath, plan_path, os.path.join(run_dir, "jvm.log"), deadline)
        t_jvm = time.time() - t_jvm
        with open(out_path) as f:
            recs = [json.loads(line) for line in f]
        t_check = time.time()
        result = _evaluate(workload, mode, stmts, recs, corpus, traced)
        result["details"]["wall_s"] = time.time() - t_start
        result["details"]["phase_s"] = {"generate": t_gen, "jvm": t_jvm,
                                        "check": time.time() - t_check}
        if traced:
            out_dir = save_dir or os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            sp = os.path.join(out_dir, f"{workload}-s{seed}.spans.jsonl")
            with open(sp, "w") as f:
                for s in spans.build_spans(recs)[0]:
                    f.write(json.dumps(s) + "\n")
            result["details"]["spans_file"] = sp
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        _remove_fixtures(aliases)


def _evaluate(workload, mode, plan_stmts, recs, corpus, traced):
    by = {}
    for r in recs:
        by.setdefault(r["type"], []).append(r)
    if "fatal" in by:
        raise SystemExit("harness failed: " + by["fatal"][0]["err"])
    stmts = [s for s in by.get("stmt", []) if s["pass"] >= 0]
    if mode == "entry":
        oracles = {r["name"]: r["sql"] for r in by.get("oracle", []) if r["sql"]}
        bad = oracle.check_entry(corpus, stmts, oracles,
                                 os.path.join(build.build_dir(), "oracle_cache"))
        written, probes = {}, {}
    else:
        bad, written, probes = oracle.check_dialect(
            corpus, plan_stmts, by.get("stmt", []), by.get("final", []))
    warm = [s for s in stmts if s["pass"] >= 1]
    n_warm_pass = len({s["pass"] for s in warm}) or 1
    reads = [s["ms"] for s in warm if s["kind"] == "read"]
    writes = [s["ms"] for s in warm if s["kind"] == "write"]
    r_tail, r_pct, r_n = tail_value(reads)
    w_tail, w_pct, w_n = tail_value(writes)
    setup = [r["secs"] for r in by["setup"]]
    e2e = {
        "setup_s": statistics.median(setup),
        "cold_s": sum(s["ms"] for s in stmts if s["pass"] == 0) / 1e3,
        "throughput_qps": statistics.median(
            sum(1 for s in warm if s["pass"] == p) /
            (sum(s["ms"] for s in warm if s["pass"] == p) / 1e3)
            for p in {s["pass"] for s in warm}),
        "read_p50_ms": statistics.median(reads),
        "read_tail_ms": r_tail,
        "peak_rss_mb": by["rss"][0]["peak_rss_kb"] / 1024.0,
    }
    calib = {r["when"]: r["secs"] for r in by.get("calibration", [])}
    details = {
        "workload": workload, "passes": 1 + len({s["pass"] for s in warm}),
        "warm_statements": len(warm), "setup_samples_s": setup,
        "read_tail_percentile": r_pct, "read_samples": r_n,
        "write_p50_ms": statistics.median(writes) if writes else None,
        "write_tail_ms": w_tail if writes else None,
        "write_tail_percentile": w_pct, "write_samples": w_n,
        "repeat_share": _repeat_share(plan_stmts, stmts),
        "calibration_probe_s": calib,
        "failures": {str(k): v for k, v in list(bad.items())[:20]},
        "known_defect_probes": probes,
        "statements": [[s["pass"], s["name"], round(s["ms"], 1)] for s in stmts],
    }
    metrics = {m["name"]: e2e[m["name"]] for m in SPEC["end_to_end"]}
    if traced:
        metrics = _per_layer(mode, by, recs, stmts, warm, n_warm_pass, e2e,
                             details, written, calib)
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    return {
        "correct": not bad,
        "attempted": len(stmts) + len(by.get("final", [])),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "details": details,
    }


def _repeat_share(plan_stmts, stmts):
    reads = [s for s in stmts if s["kind"] == "read"]
    if not reads:
        return 0.0
    return sum(1 for s in reads if plan_stmts[s["seq"]].repeat) / len(reads)


def _per_layer(mode, by, recs, stmts, warm, n_pass, e2e, details, written, calib):
    _, per = spans.build_spans(recs)
    warm_ids = {f"s{s['seq']}" for s in warm}
    cold_ids = {f"s{s['seq']}" for s in stmts if s["pass"] == 0}

    def per_pass(key):
        return sum(per[i][key] for i in warm_ids if i in per) / n_pass

    floors = by["floors"][0]
    jvm = by["jvm"][0]
    writes = {r["seq"]: r for r in by.get("write", [])}
    warm_seqs = {s["seq"] for s in warm}
    w_bytes = sum(writes[q]["bytes"] for q in writes if q in warm_seqs)
    w_files = sum(writes[q]["files"] for q in writes if q in warm_seqs)
    u_rows = sum(written[q][0] for q in written if q in warm_seqs)
    u_bytes = sum(written[q][1] for q in written if q in warm_seqs)
    hits = sum(s["cache_hits"] for s in warm)
    misses = sum(s["cache_misses"] for s in warm)
    scan_rows = per_pass("scan_rows")
    result_rows = sum(max(0, s["rows"]) for s in warm) / n_pass
    files_total = per_pass("scan_files_total")
    stmt_ms = sum(s["ms"] for s in warm)
    jobs = sum(per[f"s{s['seq']}"]["jobs"] for s in warm if f"s{s['seq']}" in per)
    space = by.get("space", [])
    m = {
        "tables.register_ms": by["setup"][0]["register_ms"],
        "sql.calls": (len(warm) if mode == "dialect" else 0) / n_pass,
        "sql.self_ms": per_pass("build_self_ms"),
        "catalyst.parse_ms": per_pass("catalyst.parse_ms"),
        "catalyst.analysis_ms": per_pass("catalyst.analysis_ms"),
        "catalyst.optimization_ms": per_pass("catalyst.optimization_ms"),
        "catalyst.planning_ms": per_pass("catalyst.planning_ms"),
        "catalyst.cold_ms": sum(per[i][spans.PHASE_METRIC[p]] for i in cold_ids
                                if i in per for p in spans.PHASES),
        "jvm.jit_ms": jvm["jit_ms"],
        "jvm.classes_loaded": jvm["classes_loaded"],
        "codegen.compile_ms": jvm["codegen_compile_ms"],
        "exec.jobs": per_pass("jobs"),
        "exec.stages": per_pass("stages"),
        "exec.tasks": per_pass("tasks"),
        "exec.job_ms": per_pass("job_ms"),
        "exec.driver_gap_ms": per_pass("driver_gap_ms"),
        "exec.task_wait_ms": per_pass("task_wait_ms"),
        "exec.floor_empty_job_ms": floors["empty_job_ms"],
        "exec.floor_shuffle_job_ms": floors["shuffle_job_ms"],
        "exec.floor_broadcast_ms": floors["broadcast_ms"],
        "exec.fixed_cost_share": jobs * floors["empty_job_ms"] / stmt_ms if stmt_ms else 0.0,
        "exec.task_run_ms": per_pass("run_ms"),
        "exec.task_cpu_ms": per_pass("cpu_ms"),
        "exec.gc_ms": per_pass("gc_ms"),
        "exec.shuffle_write_bytes": per_pass("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": per_pass("shuffle_read_bytes"),
        "exec.shuffle_fetch_wait_ms": per_pass("fetch_wait_ms"),
        "exec.spill_bytes": per_pass("spill_bytes"),
        "exec.exchanges": per_pass("exchanges"),
        "exec.broadcasts": per_pass("broadcasts"),
        "scan.files": per_pass("scan_files"),
        "scan.rows": scan_rows,
        "scan.bytes": per_pass("scan_bytes"),
        "scan.rows_per_result_row": scan_rows / result_rows if result_rows else 0.0,
        "plans.files_read_ratio": per_pass("scan_files") / files_total if files_total else 0.0,
        "operators.persisted_bytes": per_pass("persisted_bytes"),
        "write.rows": u_rows / n_pass,
        "write.bytes": w_bytes / n_pass,
        "write.files": w_files / n_pass,
        "write_p50_ms": details["write_p50_ms"] or 0.0,
        "write_tail_ms": details["write_tail_ms"] or 0.0,
        "write_amp": w_bytes / u_bytes if u_bytes else 0.0,
        "space_amp": (sum(s["disk_bytes"] for s in space) /
                      sum(s["compact_bytes"] for s in space)) if space else 0.0,
        "cache.hits": hits / n_pass,
        "cache.misses": misses / n_pass,
        "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "cache.repeat_share": details["repeat_share"],
        "result.rows": result_rows,
        "trace.read_p50_ms": e2e["read_p50_ms"],
        "trace.throughput_qps": e2e["throughput_qps"],
        "calib.probe_s": statistics.median(calib.values()) if calib else 0.0,
    }
    return {k["name"]: m[k["name"]] for k in SPEC["per_layer"]}


# ---- suite and compare modes -------------------------------------------------

def _save(save_dir, workload, seed, traced, result):
    if save_dir:
        os.makedirs(save_dir, exist_ok=True)
        with open(os.path.join(save_dir, f"{workload}-s{seed}-t{int(traced)}.json"), "w") as f:
            json.dump(result, f, indent=1)


def run_all(seed, seconds, save_dir):
    """Every workload, untraced then traced; print metrics and overhead."""
    ok = True
    for w in workloads.WORKLOADS:
        plain = run_once(w, seed, seconds, False)
        _save(save_dir, w, seed, False, plain)
        traced = run_once(w, seed, seconds, True, save_dir)
        _save(save_dir, w, seed, True, traced)
        ok &= plain["correct"] and traced["correct"]
        print(f"== {w} (seed {seed}): correct={plain['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']} "
              f"failed_ratio={plain['failed'] / plain['attempted']:.4f}")
        for k, v in plain["metrics"].items():
            print(f"   {k:<16} {v['value']:>12.4f} {v['unit']}")
        d = plain["details"]
        print(f"   read tail = p{d['read_tail_percentile']:.0f} of {d['read_samples']} samples")
        if d["write_p50_ms"] is not None:
            print(f"   write_p50_ms     {d['write_p50_ms']:>12.4f} ms")
            print(f"   write_tail_ms    {d['write_tail_ms']:>12.4f} ms "
                  f"(p{d['write_tail_percentile']:.0f} of {d['write_samples']})")
        tm = traced["metrics"]
        for k in ["write_amp", "space_amp"]:
            if tm[k]["value"]:
                print(f"   {k:<16} {tm[k]['value']:>12.4f} {tm[k]['unit']}")
        for k in ["read_p50_ms", "throughput_qps"]:
            t, u = tm["trace." + k]["value"], plain["metrics"][k]["value"]
            print(f"   tracing overhead on {k}: {t - u:+.4f} ({(t - u) / u:+.1%})")
        print(f"   calibration probe s: {d['calibration_probe_s']}")
        for k, v in d["failures"].items():
            print(f"   FAILED {k}: {v[:200]}")
        for k, v in d["known_defect_probes"].items():
            print(f"   probe {k}: {v[:200]}")
    return ok


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def compare(dir_a, dir_b):
    """Per workload x end-to-end metric: median, quartiles and run count of
    each set, and whether set B's median stays within the metric's bound
    of set A's (in the metric's worse direction)."""
    def load(d):
        runs = {}
        for p in glob.glob(os.path.join(d, "*.json")):
            with open(p) as f:
                r = json.load(f)
            w = r.get("details", {}).get("workload")
            if w and any(m["name"] in r["metrics"] for m in SPEC["end_to_end"]):
                runs.setdefault(w, []).append(r)
        return runs
    a, b = load(dir_a), load(dir_b)
    all_ok = True
    for w in sorted(set(a) | set(b)):
        for m in SPEC["end_to_end"]:
            xa = [r["metrics"][m["name"]]["value"] for r in a.get(w, []) if m["name"] in r["metrics"]]
            xb = [r["metrics"][m["name"]]["value"] for r in b.get(w, []) if m["name"] in r["metrics"]]
            if not xa or not xb:
                print(f"{w:<11} {m['name']:<15} missing runs (A {len(xa)}, B {len(xb)})")
                all_ok = False
                continue
            qa, qb = _quartiles(xa), _quartiles(xb)
            worse = (qb[1] - qa[1]) / qa[1]
            if m["better"] == "higher":
                worse = -worse
            ok = worse <= m["bound"]
            all_ok &= ok
            print(f"{w:<11} {m['name']:<15} A {qa[1]:>10.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(xa)}  "
                  f"B {qb[1]:>10.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(xb)}  "
                  f"worse {worse:+.1%} bound {m['bound']:.0%} {'ok' if ok else 'OUT'}")
    return all_ok


def _terminate(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    # a stop request unwinds through run_once, which kills the JVM's process
    # group and removes the run directory
    signal.signal(signal.SIGTERM, _terminate)
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        sys.exit(0 if compare(sys.argv[2], sys.argv[3]) else 1)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=workloads.WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="directory to keep each run's full result in")
    a = ap.parse_args()
    if a.workload == "all":
        sys.exit(0 if run_all(a.seed, a.seconds, a.save) else 1)
    result = run_once(a.workload, a.seed, a.seconds, bool(a.trace), a.save)
    _save(a.save, a.workload, a.seed, bool(a.trace), result)
    log(json.dumps(result["details"]))
    print(json.dumps({k: result[k] for k in ["correct", "attempted", "failed", "metrics"]}))


if __name__ == "__main__":
    main()
