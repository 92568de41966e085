#!/usr/bin/env python3
"""Closed-loop benchmark of the spatial-join + tiling engine.

    python3 perfbench/run.py --workload corpus_pip_tile --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

One driver process runs one workload on ``local[N]`` (N = min(4, usable
CPUs)), one pass at a time. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics, read from the Spark event log of a
separate traced pass. Every scratch file lives under ``.perfbench_work/``
in the checkout and is removed on exit; oracle results of the fixed
fixtures are kept in ``.perfbench_cache/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEM = "2g"
FIXPOINT_LAYERS = ("focal", "costdistance", "cluster", "viewshed")
TIME_LIMIT_S = 160


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- processes ------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and of every
    process under it: the driver JVM and its Python workers."""
    kb = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_all() -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext
    procs = _descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 5
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procs:
        while _alive(p):
            time.sleep(0.05)


# --- sessions ---------------------------------------------------------------------

def start_session(work: str, cores: int, event_dir: str | None = None):
    from geotrellis_contrib_spark.session import get_session
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": DRIVER_MEM,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_session(app_name="perfbench", cores=cores, extra_conf=conf)


# --- per-layer metrics ------------------------------------------------------------

def layer_metrics(log, tr, extra: dict, setup: dict, untraced_wall: float) -> dict:
    """Per-layer metrics of a traced pass. A layer the workload does not
    call reads 0."""
    wl = tr.workload
    m = {"session.start_s": setup["start_s"],
         "session.cold_start_s": setup["cold_start_s"],
         "derive.register_s": setup["register_s"]}

    def span_s(layer, call):
        return sum(b - a for lay, c, a, b in tr.spans
                   if lay == layer and c == call) / 1000.0

    def driver_only(spans) -> float:
        tot = 0.0
        for layer, call, a, b in spans:
            busy = log.group(f"{wl}:{layer}:{call}").busy_s(a, b)
            tot += (b - a) / 1000.0 - busy
        return tot

    for key in ("corpus.anchor_rows", "spatial_join.candidate_rows",
                "spatial_join.hit_rows", "spatial_join.hit_ratio",
                "tiling.tile_rows", "skew.hot_cells", "checkpoint.batch_s",
                "checkpoint.resume_s", "checkpoint.watermark_rows",
                "spark.scaling_eff"):
        m[key] = extra.get(key, 0)
    m["corpus.extract_s"] = tr.layer_s("corpus")
    m["spatial_join.pip_s"] = tr.layer_s("spatial_join")
    m["tiling.assign_s"] = tr.layer_s("tiling")

    m["skew.plan_s"] = span_s("skew", "plan_salts")
    m["skew.join_s"] = span_s("skew", "salted_join")
    g = log.group(f"{wl}:skew:salted_join")
    m["skew.task_skew"] = g.stage_task_skew()
    m["skew.shuffle_mb"] = g.total("shuffle_write_b") / 1e6

    g = log.group(f"{wl}:knn:")
    m["knn.exact_s"] = tr.layer_s("knn")
    m["knn.jobs"] = g.jobs
    m["knn.candidate_rows"] = g.join_rows()
    m["knn.useful_ratio"] = (extra["knn.output_rows"] / m["knn.candidate_rows"]
                             if m["knn.candidate_rows"] else 0)

    g = log.group(f"{wl}:checkpoint:")
    m["checkpoint.jobs"] = g.jobs
    m["checkpoint.write_mb"] = g.total("output_b") / 1e6
    m["checkpoint.write_amp"] = (g.total("output_b") / extra["final_bytes"]
                                 if extra.get("final_bytes") else 0)

    for layer in FIXPOINT_LAYERS:
        g = log.group(f"{wl}:{layer}:")
        m[f"{layer}.wall_s"] = tr.layer_s(layer)
        m[f"{layer}.jobs"] = g.jobs
        m[f"{layer}.driver_only_s"] = driver_only(
            [s for s in tr.spans if s[0] == layer])
        m[f"{layer}.exec_cpu_s"] = g.total("cpu_ns") / 1e9

    g = log.group(f"{wl}:")
    m["spark.jobs"] = g.jobs
    m["spark.tasks"] = g.n_tasks
    m["spark.tasks_failed"] = g.tasks_failed
    m["spark.driver_only_s"] = driver_only(tr.spans)
    m["spark.exec_run_s"] = g.total("run_ms") / 1000.0
    m["spark.exec_cpu_s"] = g.total("cpu_ns") / 1e9
    m["spark.gc_s"] = g.total("gc_ms") / 1000.0
    m["spark.shuffle_write_mb"] = g.total("shuffle_write_b") / 1e6
    m["spark.spill_mb"] = g.total("spill_b") / 1e6
    m["spark.python_run_s"] = g.python_ms / 1000.0
    m["trace.overhead_s"] = extra["pass_s"] - untraced_wall
    return m


# --- one run ----------------------------------------------------------------------

T0 = time.perf_counter()


def phase(what: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f} s {what}", file=sys.stderr)


def traced_metrics(wl, ctx, cores: int, setup: dict) -> dict:
    """Per-layer metrics: an untraced reference pass, the local[1] leg of
    the scaling ratio when the workload has one, then the traced pass in a
    session that writes the event log."""
    from eventlog import EventLog
    from geotrellis_contrib_spark import derive
    import workloads as W

    # the reference pass runs in the same JVM right before the traced
    # pass, so both see the same warm JIT and caches
    ref = wl.measure(ctx, 0)
    wl.check(ctx, ref)
    phase("reference pass")
    extra = {}
    if hasattr(wl, "scaling_pass"):
        t_n = [wl.scaling_pass(ctx.spark, ctx.inp.doc_off) for _ in range(3)]
        ctx.spark.stop()
        ctx.spark = start_session(ctx.work, 1)
        derive.register_views(ctx.spark, ctx.sf_dir)
        t_1 = [wl.scaling_pass(ctx.spark, ctx.inp.doc_off) for _ in range(2)]
        extra["spark.scaling_eff"] = \
            statistics.median(t_1) / (cores * statistics.median(t_n))
        phase("scaling leg")
    ctx.spark.stop()
    event_dir = os.path.join(ctx.work, "events")
    ctx.spark = start_session(ctx.work, cores, event_dir)
    derive.register_views(ctx.spark, ctx.sf_dir)
    tr = W.Tracer(ctx.spark, wl.name, True)
    extra.update(wl.traced(ctx, tr))
    tr.log()
    phase("traced pass")
    ctx.spark.stop()        # closes the event log
    (log_file,) = os.listdir(event_dir)
    return layer_metrics(EventLog(os.path.join(event_dir, log_file)), tr, extra,
                         setup, statistics.median(ref["times"]))


def run(args, spec: dict) -> tuple[dict, dict]:
    from checks import Oracle
    from geotrellis_contrib_spark import derive
    import workloads as W

    wl = W.WORKLOADS[args.workload]
    inp = W.Inputs.from_seed(args.seed)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    for d in ("tmp", "local", "events", "duckdb"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    cores = min(4, len(os.sched_getaffinity(0)))
    sf_dir = os.path.join(work, "sf")
    W.write_base_tables(sf_dir, inp)
    phase("inputs written")
    try:
        # set-up: session start and view registration SETUP_REPS times (the
        # first start also launches the JVM), then the workload's warm-up
        spark, starts, regs = None, [], []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            t1 = time.perf_counter()
            derive.register_views(spark, sf_dir)
            starts.append(t1 - t0)
            regs.append(time.perf_counter() - t1)
        ctx = W.Ctx(spark, sf_dir, work, inp, W.Tally())
        phase("sessions started")
        t0 = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        phase("warmed up")

        measured = wl.measure(ctx, args.seconds)
        phase(f"measured {len(measured['times'])} passes")
        rss = peak_rss_mb()
        ctx.oracle = Oracle(sf_dir, os.path.join(ROOT, ".perfbench_cache"),
                            os.path.join(work, "duckdb"))
        wl.check(ctx, measured)
        phase("checked")
        wall = statistics.median(measured["times"])
        samples = {"setup_s": SETUP_REPS, "wall_s": len(measured["times"]),
                   "docs_per_s": len(measured["times"]), "peak_rss_mb": 1}
        metrics = {
            "setup_s": statistics.median(s + r for s, r in zip(starts, regs)) + warm_s,
            "wall_s": wall,
            "docs_per_s": measured["docs"] / wall,
            "peak_rss_mb": rss,
        }
        if args.trace:
            metrics = traced_metrics(wl, ctx, cores, {
                "start_s": statistics.median(starts), "cold_start_s": starts[0],
                "register_s": statistics.median(regs)})
            samples = {k: 1 for k in metrics}
        ctx.oracle.close()
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run's scratch directory is still there
        phase("stopped")

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if sorted(metrics) != sorted(m["name"] for m in wanted):
        raise RuntimeError(f"metric names {sorted(metrics)} do not match BENCHMARK.json")
    for note in ctx.tally.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    result = {"correct": ctx.tally.failed == 0, "attempted": ctx.tally.attempted,
              "failed": ctx.tally.failed,
              "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                          for m in wanted}}
    return result, samples


def run_all(args, spec: dict) -> int:
    """Every workload in its own process; one line per end-to-end metric."""
    rc = 0
    for w in spec["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{w['name']}: failed (exit {out.returncode})\n{out.stderr[-2000:]}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        samples = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                        if ln.startswith("perfbench-samples ")), {})
        print(f"{w['name']}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate="
              f"{res['failed'] / max(res['attempted'], 1):.4f}")
        for name, m in res["metrics"].items():
            print(f"  {name:28s} {m['value']:>16.6g} {m['unit']:8s} "
                  f"n={samples.get(name, '?')}")
    return rc


def main(argv=None) -> int:
    args = _args(argv)
    spec = _spec()
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import workloads  # noqa: F401 - fails when the engine is absent
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    result, samples = run(args, spec)
    signal.alarm(0)
    print("perfbench-samples " + json.dumps(samples))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
