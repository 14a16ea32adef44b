#!/usr/bin/env python3
"""Benchmark of datatest_spark, run on every change.

Run from the root of a checkout:

    python3 perfbench/run.py --workload audio_suite --seed 1 \
        --seconds 12 --trace 0

``--trace 0`` times passes with tracing off and prints every end-to-end
metric.  ``--trace 1`` is the separate traced run: it prints every
per-layer metric (of both workloads, whichever one is named) and writes
the spans and stage counters to ``.perfbench/traces/``.  The last line of
standard output is the result object; the exit code is non-zero when an
output check failed.  ``perfbench/README.md`` says what each workload and
metric is for.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import inputs  # noqa: E402
import sparkstats  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Sized for a 4-vCPU host: each task slot pairs with a Python worker, so
# 2 slots already keep 4 cores busy; 4 slots measure oversubscription.
SLOTS = 2
MiB = 1024.0 ** 2
# per-layer metrics that traced_run fills in itself, outside _layer_metrics
TRACED_EXTRA = ("suite.pass_s_1slot", "suite.pass_s_2slot",
                "suite.scaling_eff", "trace.overhead_s")


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for rel in ("datatest_spark/__init__.py", "oracles.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"{rel} not found under {ROOT}: run from the root of a "
                f"checkout of the repository")


class Runner:
    """Counts attempted and failed passes of one workload and times each
    pass from outside."""

    def __init__(self, wl, work: str):
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def one(self, spark, tr, trace_id: str, require=None):
        """Run and check one pass: ``(wall seconds, (span, outputs))``, or
        ``(None, None)`` when it raised or failed a check."""
        self.attempted += 1
        self.last_cpu_s = None
        c0 = sparkstats.cpu_seconds()
        t0 = time.time()
        try:
            with tr.span("pass", trace_id=trace_id) as sp:
                out = self.wl.run_pass(spark, tr, self.work)
            wall = time.time() - t0
            self.last_cpu_s = sparkstats.cpu_seconds() - c0
            problems = self.wl.check(spark, out)
            if require is not None and not problems:
                problems = require(tr, tr.close(sp))
        except Exception as e:  # a failing pass is counted, not fatal
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            self.failed += 1
            self.problems.append({"pass": trace_id, "problems": problems})
            print(f"perfbench: {trace_id} failed: {problems[0]}",
                  file=sys.stderr)
            return None, None
        return wall, (sp, out)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def timed_run(args, wl, work, ctx):
    """Set-up (session, input check, warm-up passes starting with the
    cold one), then passes until ``--seconds`` have elapsed, tracing off.

    Throughput is per CPU-second of the processes the run started: on a
    host whose hypervisor steals cycles in phases, wall-clock throughput
    halved in some runs, and stolen time is never charged as CPU time.
    The walls go to the run context."""
    run = Runner(wl, work)
    sparkstats.launch_jvm(SLOTS)
    spark = sparkstats.build_session(SLOTS)
    tr = sparkstats.Tracer(spark, enabled=False)
    walls = []
    try:
        t_session = time.time()
        wl.check_inputs(spark, work)
        t_check = time.time()
        for k in range(wl.warmup_passes):
            run.one(spark, tr, f"{wl.name}-warmup-{k}")
        setup = time.time() - T_START - ctx["gen_s"] - ctx["canary_s"]
        ctx["setup_parts_s"] = {
            "session": t_session - T_START - ctx["gen_s"] - ctx["canary_s"],
            "input_check": t_check - t_session,
            "warmup_passes": time.time() - t_check}
        w0 = time.time()
        cpus = []
        while time.time() - w0 < args.seconds or not walls:
            walls.append(run.one(spark, tr, f"{wl.name}-{len(walls)}")[0])
            cpus.append(run.last_cpu_s if walls[-1] else None)
    finally:
        sparkstats.stop_session(spark)
    ctx["pass_s"] = walls
    ctx["pass_cpu_s"] = cpus
    wall, cpu = median(walls), median(cpus)
    ctx["items_per_s"] = wl.items / wall if wall else None
    return run, {"setup_s": setup,
                 "items_per_cpu_s": wl.items / cpu if cpu else None}


def traced_run(args, wls, work, ctx):
    """Every layer of both workloads in one traced session: a traced
    pass of each, plus its probes.  The named workload first gets its
    warm-up passes and after the traced pass an untraced one; the traced
    minus the untraced wall is the tracing overhead (one pair: the later
    pass is the warmer one, so it does not flatter the tracer).  The
    suite always gets the untraced pass, as the two-slot half of its
    scaling pair.
    The other workload's traced pass is its first, so its layer numbers
    include cold costs: compare traced runs of the same named workload."""
    sparkstats.launch_jvm(SLOTS)
    spark = sparkstats.build_session(SLOTS)
    tr = sparkstats.Tracer(spark, enabled=True)
    off = sparkstats.Tracer(spark, enabled=False)
    lm, runs, walls = dict.fromkeys(TRACED_EXTRA), [], {}
    try:
        for name, wl in wls.items():
            run = Runner(wl, work)
            runs.append(run)
            wl.check_inputs(spark, work)
            if name == args.workload:
                for k in range(wl.warmup_passes):
                    run.one(spark, off, f"{name}-warmup-{k}")
            traced, res = run.one(spark, tr, f"{name}-traced",
                                  require=_requirement(wl))
            untraced = None
            if name == args.workload or name == "audio_suite":
                untraced = run.one(spark, off, f"{name}-untraced")[0]
            if name == args.workload:
                lm["trace.overhead_s"] = (traced - untraced
                                          if traced and untraced else None)
            if name == "audio_suite":
                # the scaling pair: same session, plan and JIT state,
                # one of the two slots held by a sleeping task
                with sparkstats.one_slot(spark):
                    one = run.one(spark, off, "audio_suite-1slot")[0]
                lm["suite.pass_s_1slot"] = one
                lm["suite.pass_s_2slot"] = untraced
                lm["suite.scaling_eff"] = (one / (2.0 * untraced)
                                           if one and untraced else None)
            walls[name] = {"untraced": untraced, "traced": traced}
            probes = wl.probes(spark, tr)
            for sp in probes.values():
                tr.close(sp)
            if res is not None:
                lm.update(_layer_metrics(wl, tr, res, probes))
            if name == "audio_suite":
                cur = workloads.AudioCurate(args.seed)
                cur.generate()
                crun = Runner(cur, work)
                runs.append(crun)
                _, res = crun.one(spark, tr, "audio_curate-traced")
                if res is not None:
                    lm.update(_layer_metrics(cur, tr, res, {}))
    finally:
        sparkstats.stop_session(spark)
    ctx["pass_s"] = walls
    return runs, lm, tr.spans


def _requirement(wl):
    """Pass isolation, asserted on every traced pass: the suite read its
    payload and the resume scanned lineitem, instead of a cache."""
    def check(tr, sp):
        if wl.name == "audio_suite":
            ratio = sp["jvm_read_bytes"] / wl.payload_disk
            if ratio < 1:
                return [f"payload read ratio {ratio:.3f} < 1: the pass "
                        f"was served from a cache"]
        if wl.name == "table_append":
            resume = _children(tr, sp)["checkpoint.resume"]
            if _input_scans(resume, wl.items) < 1:
                return ["the resume did not scan lineitem"]
        return []
    return check


def _input_scans(sp, n_rows: int) -> int:
    """Scans of an ``n_rows`` table, from per-stage input records (a
    stage that unions two scans of it reads its rows twice)."""
    return sum(s["input_records"] // n_rows
               for s in sp["spark"]["stage_records"])


def _children(tr, parent) -> dict:
    return {s["name"]: tr.close(s) for s in tr.spans
            if s["parent"] == parent["id"]}


def _dur(sp) -> float:
    return sp["end"] - sp["start"]


def _layer_metrics(wl, tr, traced, probes) -> dict:
    sp, out = traced
    whole = tr.close(sp)["spark"]
    kids = _children(tr, sp)
    idle = 1.0 - whole["run_s"] / (_dur(sp) * SLOTS)
    if wl.name == "audio_suite":
        frag = {f"{k}_s": _dur(v) for k, v in probes.items()
                if k.startswith("engine.")}
        scan = _dur(probes["sources.scan"])
        dec = _dur(probes["audio.decode_info"])
        emit = _dur(kids["suite.emit"])
        return dict(frag, **{
            "sources.scan_s": scan,
            "audio.decode_info_s": dec,
            "audio.decode_self_s": dec - scan,
            "suite.compile_s": _dur(kids["suite.compile"]),
            "suite.emit_s": emit,
            "engine.union_s": emit - sum(frag.values()),
            "suite.jobs": whole["jobs"],
            "suite.tasks": whole["tasks"],
            "suite.executor_cpu_s": whole["cpu_s"],
            "suite.gc_s": whole["gc_s"],
            "suite.shuffle_mb": whole["shuffle_write"] / MiB,
            "suite.idle_share": idle,
            "suite.cache_mb": out["cache_bytes"] / MiB,
            "suite.payload_read_ratio": sp["jvm_read_bytes"]
            / wl.payload_disk,
        })
    if wl.name == "audio_curate":
        prep = kids["audio.prepare"]
        return {
            "audio.prepare_s": _dur(prep),
            "audio.prepare_chunks": out["chunks"],
            "audio.prepare_write_amp": prep["spark"]["output_bytes"]
            / wl.payload_disk,
            "audio.card_s": _dur(kids["audio.card"]),
            "curate.executor_cpu_s": whole["cpu_s"],
            "curate.gc_s": whole["gc_s"],
            "curate.idle_share": idle,
        }
    ck = [kids[k] for k in ("checkpoint.first", "checkpoint.resume",
                            "checkpoint.noop_resume")]
    return {
        "checkpoint.first_s": _dur(ck[0]),
        "checkpoint.resume_s": _dur(ck[1]),
        "checkpoint.noop_resume_s": _dur(ck[2]),
        "checkpoint.input_scans": _input_scans(ck[1], wl.items),
        "checkpoint.jobs": sum(s["spark"]["jobs"] for s in ck),
        "checkpoint.write_mb": sum(s["spark"]["output_bytes"]
                                   for s in ck) / MiB,
        "engine.compile_s": _dur(probes["engine.compile"]),
        "stats.profile_s": _dur(kids["stats.profile"]),
        "stats.merge_s": _dur(kids["stats.merge"]),
        "table.executor_cpu_s": whole["cpu_s"],
        "table.shuffle_mb": whole["shuffle_write"] / MiB,
    }


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True,
                    choices=["audio_suite", "table_append"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    check_checkout()
    try:
        import duckdb  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        die(f"missing dependency: {e}")
    sys.path.insert(1, ROOT)
    sparkstats.prepare_env()
    work = os.path.join(inputs.WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "slots": SLOTS, "heap": sparkstats.HEAP}
    names = list(workloads.WORKLOADS) if args.trace else [args.workload]
    wls = {k: workloads.WORKLOADS[k](args.seed) for k in names}

    g0 = time.time()
    for wl in wls.values():
        wl.generate()
    sparkstats.stop_resource_tracker()
    ctx["gen_s"] = time.time() - g0
    c0 = time.time()
    ctx["cpu_canary_s"] = sparkstats.cpu_canary()
    ctx["canary_s"] = time.time() - c0

    steal0 = sparkstats.read_steal()
    rss = sparkstats.RssSampler()
    rss.start()
    try:
        if args.trace:
            runs, values, spans = traced_run(args, wls, work, ctx)
        else:
            run, values = timed_run(args, wls[args.workload], work, ctx)
            runs, spans = [run], []
    finally:
        sparkstats.shutdown_jvm()
        peak = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    steal1 = sparkstats.read_steal()
    ctx["steal_share"] = (steal1[0] - steal0[0]) / max(
        steal1[1] - steal0[1], 1)
    ctx["peak_rss_mb_by_command"] = {k: v / 1024.0 for k, v in
                                     rss.peak_by_comm.items()}
    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    if not args.trace:
        values["peak_rss_mb"] = peak
        values["success_ratio"] = (attempted - failed) / max(attempted, 1)
    units = _declared("per_layer" if args.trace else "end_to_end")
    undeclared = sorted(set(values) - set(units))
    if undeclared:
        ctx["undeclared_metrics"] = undeclared
    metrics = {k: {"value": values.get(k), "unit": u}
               for k, u in units.items()}
    ctx["problems"] = [p for r in runs for p in r.problems]
    ctx["wall_s"] = time.time() - T_START
    if args.trace:
        tdir = os.path.join(inputs.WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"context": ctx, "metrics": metrics, "spans": spans},
                      fh, indent=1, default=str)
        ctx["trace_file"] = os.path.relpath(path, ROOT)
    missing = sorted(k for k, v in metrics.items() if v["value"] is None)
    if missing:
        ctx["missing_metrics"] = missing
    correct = (failed == 0 and attempted > 0 and not missing
               and not undeclared)
    print(json.dumps({"context": ctx}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
