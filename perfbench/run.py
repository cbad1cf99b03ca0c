"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout: the engine is imported from
``./stellar_ingest`` and nowhere else, and every file the run writes
stays under ``./.bench_work`` (removed at exit) and ``./.bench_out``
(spans and per-layer metrics of traced runs).  Spark runs in this
process at ``local[<cpus>]``; one client drives it in a closed loop.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` traces every other
iteration of the timed loop and reports the per-layer metrics.
A readable summary goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

#: no new iteration starts after this many seconds of the run, so that it
#: ends inside the 180 s a run may take
WALL_LIMIT_S = 130.0


class Ctx:
    def __init__(self, spark, work: str, seed: int, tracer, iterations: int):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        #: timed loop iterations this run makes, traced ones included
        self.iterations = iterations
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile that still has at
    least ten samples beyond it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    idx = n - 11
    return 100.0 * (idx + 1) / n, s[idx]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: time the hypervisor gave to
    other guests while this one had work."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def start_spark(work: str, cores: int, trace: bool):
    from stellar_ingest.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM it launched and every
    process the JVM started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)


def host_control(root: str, cores: int) -> float:
    """Wall of the engine-free pure-CPU job from bench/cpu_control.py,
    run in this session at the same parallelism (host drift reading)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "cpu_control", os.path.join(root, "bench", "cpu_control.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        exec(mod._CHILD.format(repo=root, cores=cores, rows=10_000_000), {})
    line = [ln for ln in buf.getvalue().splitlines() if ln.startswith("RESULT")][-1]
    return float(json.loads(line[len("RESULT"):])["wall_sec"])


def measure(ctx, wl, trace: bool, t_start: float) -> dict[bool, list[dict]]:
    """Closed loop of ``ctx.iterations`` timed iterations; checks run
    between iterations, outside the timed region.  With ``trace``, every
    other iteration is traced, so both halves see the same warm-up;
    returns the step results keyed by whether they were traced."""
    tracer = ctx.tracer
    steps: dict[bool, list[dict]] = {False: [], True: []}
    least = 2 if trace else 1
    # the harness's own objects (the reference state above all) move out
    # of the collector's reach, so its collections do not land in timings
    gc.collect()
    gc.freeze()
    try:
        for k in range(ctx.iterations):
            if k >= least and time.monotonic() - t_start > WALL_LIMIT_S:
                break
            traced = trace and k % 2 == 1
            try:
                if traced:
                    tracer.enabled = True
                    sid = tracer.begin("bench.loop")
                    try:
                        r = wl.step(k)
                    finally:
                        tracer.end(sid)
                        tracer.enabled = False
                else:
                    r = wl.step(k)
            except Exception as e:  # an engine failure ends the loop and fails the run
                traceback.print_exc()
                ctx.check(False, f"step {k}: {type(e).__name__}: {e}")
                break
            steps[traced].append(r)
            wl.check(k)
    finally:
        gc.unfreeze()
    if not steps[False] or (trace and not steps[True]):
        raise RuntimeError("the timed loop completed too few iterations")
    return steps


def summarize(wl, steps: list[dict]) -> dict:
    ops = [t for r in steps for t in r["op"]]
    loops = [r["loop"] for r in steps]
    return {
        "ops": ops,
        "op": wl.op_value(steps) if hasattr(wl, "op_value") else statistics.median(ops),
        "loops": loops,
        "loop": wl.loop_value(steps) if hasattr(wl, "loop_value") else statistics.median(loops),
        "events": sum(r["events"] for r in steps),
        "timed": sum(loops),
    }


def run(args, root: str, work: str, t_start: float) -> dict:
    import spans as tr
    import workloads

    cores = len(os.sched_getaffinity(0))
    kind = workloads.WORKLOADS[args.workload]
    t0 = time.monotonic()
    spark = start_spark(work, cores, bool(args.trace))
    spark_start = time.monotonic() - t0
    tracer = None
    try:
        if args.trace:
            tracer = tr.Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install()
        iterations = kind.steps(args.seconds) * (2 if args.trace else 1)
        ctx = Ctx(spark, work, args.seed, tracer, iterations)
        wl = kind(ctx)
        setup_s = wl.setup()
        marks = {"setup": time.monotonic() - t_start}
        wl.prepare()
        wl.warmup()
        marks["warmup"] = time.monotonic() - t_start
        steal0 = _steal()
        steps = measure(ctx, wl, bool(args.trace), t_start)
        steal1 = _steal()
        results = [summarize(wl, steps[False]), summarize(wl, steps[True]) if args.trace else None]
        marks["measure"] = time.monotonic() - t_start
        if hasattr(wl, "finish"):
            wl.finish()
        control = host_control(root, cores)
        py_rss = _rss_kb(os.getpid())
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_rss = _rss_kb(jvm.pid) if jvm is not None else 0
        notes = wl.notes()
        marks["end"] = time.monotonic() - t_start
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    return {
        "ctx": ctx,
        "setup_s": setup_s,
        "setup_times": wl.setup_times,
        "spark_start": spark_start,
        "results": results,
        "control": control,
        "rss_mb": (py_rss + jvm_rss) / 1024.0,
        "notes": notes,
        "tracer": tracer,
        "cores": cores,
        "marks": marks,
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }


def report(args, out: dict, root: str, work: str) -> dict:
    import spans as tr

    main = out["results"][0]
    ops, loops = main["ops"], main["loops"]
    lines = [
        f"workload={args.workload} seed={args.seed} local[{out['cores']}] "
        f"spark_start={out['spark_start']:.2f}s setup_s={out['setup_s']:.2f} "
        f"steps={[round(t, 2) for t in out['setup_times']]}",
        "elapsed at " + " ".join(f"{k}={v:.1f}s" for k, v in out["marks"].items()),
        f"op: n={len(ops)} value={main['op'] * 1e3:.1f}ms p50={statistics.median(ops) * 1e3:.1f}ms"
        + (f" p{tail(ops)[0]:.0f}={tail(ops)[1] * 1e3:.1f}ms" if tail(ops) else ""),
        f"loop: n={len(loops)} value={main['loop']:.3f}s each={[round(t, 2) for t in loops]} "
        f"timed={main['timed']:.2f}s"
        + (f" events/s={main['events'] / main['timed']:.0f}" if main["events"] else ""),
        f"peak_rss={out['rss_mb']:.0f}MB host_control={out['control']:.3f}s "
        f"steal={out['steal_pct']:.1f}% "
        f"checks={out['ctx'].attempted} failed={len(out['ctx'].failures)}",
    ]
    lines += [f"FAILED: {f}" for f in out["ctx"].failures[:20]]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if not args.trace:
        vals = {
            "op_ms": main["op"] * 1e3,
            "loop_s": main["loop"],
            "setup_s": out["setup_s"],
        }
        metrics = {m["name"]: (vals[m["name"]], m["unit"]) for m in declared}
    else:
        traced = out["results"][1]
        tracer = out["tracer"]
        n = len(traced["loops"])
        vals = tr.span_metrics(tracer.spans, n)
        vals.update(tr.spark_metrics(os.path.join(work, "events"), tracer.spans, n))
        vals.update(out["notes"])
        vals["trace.overhead_pct"] = 100.0 * (traced["loop"] / main["loop"] - 1.0)
        vals["host.cpu_control_s"] = out["control"]
        vals["host.peak_rss_mb"] = out["rss_mb"]
        vals["host.steal_pct"] = out["steal_pct"]
        # a layer that did no work on this workload reads 0
        metrics = {m["name"]: (float(vals.get(m["name"], 0.0)), m["unit"]) for m in declared}
        lines.append(
            f"trace: untraced loop p50={main['loop']:.3f}s traced={traced['loop']:.3f}s "
            f"overhead={vals['trace.overhead_pct']:.1f}% "
            f"blocking self={vals['trace.blocking_self_s']:.3f}s of wall={vals['trace.wall_s']:.3f}s"
        )
        dest = os.path.join(root, ".bench_out")
        os.makedirs(dest, exist_ok=True)
        stem = os.path.join(dest, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, f, indent=1)
    print("\n".join(lines), file=sys.stderr)
    failed = len(out["ctx"].failures)
    return {
        "correct": failed == 0,
        "attempted": max(1, out["ctx"].attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=("serve", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    for need in ("stellar_ingest/__init__.py", "bench.py", "bench/cpu_control.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from a source checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [root, here]
    import stellar_ingest

    if not os.path.abspath(stellar_ingest.__file__).startswith(root + os.sep):
        print(f"perfbench: stellar_ingest imported from {stellar_ingest.__file__}, not {root}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        out = run(args, root, work, t_start)
        result = report(args, out, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
