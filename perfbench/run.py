#!/usr/bin/env python3
"""gdx-spark benchmark runner.

    python3 perfbench/run.py --workload gdx_io --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # every workload, tiny inputs, both modes

Run from the repository root. One run is a closed loop: one client in
this process, one `get_spark()` session at local[<cpus>], one operation
at a time. The engine receives only inputs generated from `--seed`,
through its public surface (registered queries, GdxEngine,
connected_components).

A run: set-up (JVM launch, session start, warm-up, input generation),
one timed pass of the workload's fixed operation sequence, then output
checks outside the timed region. `--seconds` is accepted and ignored: a
pass is the unit of measurement, and every run measures exactly one.
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. A detail record
(per-operation times, box load, sample counts) goes to stderr.

Every run works in its own scratch directory under the checkout
(TMPDIR, SPARK_LOCAL_DIRS and java.io.tmpdir point there), removed at
exit, so content-addressed caches the engine keeps in the temp dir never
survive into the next run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def isolate(run_dir: str, event_log: str | None) -> None:
    """Point every temp and Spark local dir of this process and the
    processes it starts at `run_dir`; with `event_log`, the JVM writes an
    uncompressed Spark event log there."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    if event_log:
        os.makedirs(event_log)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata file in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        + (f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_log} "
           "--conf spark.eventLog.compress=false " if event_log else "")
        + "pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def warm(spark) -> None:
    """Session-global warm-up, as bench.py does: a codegen aggregate, a
    broadcast join and a pandas UDF (Python worker start)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    r = spark.range(10_000)
    r.groupBy((F.col("id") % 7).alias("g")).agg(F.sum("id")).write.format("noop").mode(
        "overwrite").save()
    r.join(F.broadcast(spark.range(100)), "id").write.format("noop").mode("overwrite").save()

    @pandas_udf("double")
    def one(s):
        return s * 1.0

    r.select(one(F.col("id").cast("double"))).write.format("noop").mode("overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl, args, run_dir: str):
        self.wl = wl
        self.args = args
        self.run_dir = run_dir
        self.spark = None
        self.records: list[dict] = []  # one per timed operation
        self.results: list[tuple[str, object]] = []  # (op, result) to check
        self.errors: list[str] = []
        self.pass_s = 0.0
        self.counter = None
        self.attempted = 0
        self.raised = 0
        self.memo: dict = {}
        self.unattributed = 0
        self.box: dict = {}
        self.overhead = 0.0

    # -- session ------------------------------------------------------------
    def start_session(self):
        from gdxpy_spark.session import get_spark

        from perfbench.trace import JobCounter

        self.spark = get_spark(app=f"perfbench_{self.wl.name}", cpus=cpus())
        self.counter = JobCounter(self.spark.sparkContext)

    def tracing_overhead(self, jobs: int = 15) -> float:
        """Median wall of a fixed small job in this (traced) session over
        the same in a new session of the same JVM with the event log off
        (SparkConf reads `spark.*` JVM system properties when built)."""
        def median_job_s():
            self.group("harness", "overhead", "probe", -1)
            walls = []
            for _ in range(jobs):
                t0 = time.perf_counter()
                self.spark.range(1000).selectExpr("sum(id)").collect()
                walls.append(time.perf_counter() - t0)
            return statistics.median(walls)

        traced = median_job_s()
        self.spark.sparkContext._jvm.java.lang.System.setProperty(
            "spark.eventLog.enabled", "false")
        self.spark.stop()
        self.start_session()
        return traced / median_job_s()

    def group(self, layer: str, op: str, phase: str, pass_no: int) -> str:
        from perfbench.trace import group_id

        gid = group_id(self.wl.name, layer, op, phase, pass_no)
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def setup(self) -> dict:
        """Session start (which launches the JVM), warm-up and input
        generation, timed once. There is no priming pass: like a modeler's
        script or a batch dedup job, every run pays its plans'
        first-execution costs."""
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        self.group("harness", "warm", "setup", -1)
        warm(self.spark)
        t2 = time.perf_counter()
        self.wl.generate(os.path.join(self.run_dir, "inputs"), self.args.seed, self.args.smoke)
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "start_s": t1 - t0, "warm_s": t2 - t1, "generate_s": t3 - t2}

    # -- timed passes ---------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool = False) -> float:
        ops = self.wl.ops(self.spark, pass_no)
        recs = []
        t_pass = time.perf_counter()
        for op in ops:
            self.attempted += 1
            rec = {"op": op.name, "layer": op.layer, "pass": pass_no}
            gb = self.group(op.layer, op.name, "build", pass_no)
            t0 = time.perf_counter()
            try:
                obj = op.build()
                t1 = time.perf_counter()
                ge = self.group(op.layer, op.name, "execute", pass_no)
                res = op.execute(obj)
                t2 = time.perf_counter()
                rec.update(build_s=t1 - t0, execute_s=t2 - t1, groups=(gb, ge))
                self.results.append((op.name, res))
            except Exception:  # an operation that raises counts as failed
                rec.update(error=traceback.format_exc(limit=3), groups=(gb,))
                self.raised += 1
                print(rec["error"], file=sys.stderr)
            recs.append(rec)
        wall = time.perf_counter() - t_pass
        # job accounting after the pass, so it stays out of the pass wall
        for rec in recs:
            rec["build_jobs"] = len(self.counter.jobs(rec["groups"][0]))
            if traced:
                for phase, gid in zip(("build", "execute"), rec["groups"]):
                    rec[phase] = self.counter.detail(gid)
            del rec["groups"]
        self.records.extend(recs)
        return wall

    def memo_check(self) -> dict:
        """The pass runs each memo-served query cold (fresh inputs) and
        then warm (the same inputs again): the cold run must launch more
        build jobs than the warm one, or the memo policy broke — a cold
        run served from a stale memo, or a warm one refitting."""
        from perfbench.workloads import WARM_QUERIES, warm_name

        jobs = {r["op"]: r["build_jobs"] for r in self.records if "error" not in r}
        out = {}
        for name in WARM_QUERIES:
            if name not in jobs or warm_name(name) not in jobs:
                continue
            cold, warm_jobs = jobs[name], jobs[warm_name(name)]
            out[name] = {"cold_build_jobs": cold, "warm_build_jobs": warm_jobs}
            if cold <= warm_jobs:
                self.errors.append(f"memo policy: {name} cold run at or below the warm job count")
        return out

    # -- checks -------------------------------------------------------------
    def check_outputs(self) -> int:
        expected = self.wl.expected()
        failed = 0
        for name, res in self.results:
            try:
                ok = self.wl.check(name, res, expected)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                failed += 1
                self.errors.append(f"{name}: output check failed")
        return failed


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples (never beyond
    the largest)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def total(records: list[dict], field: str, pred=lambda r: True) -> float:
    """Sum of `field` over the operations that did not raise; a dotted
    field `phase.key` reads the traced job counts of one phase."""
    phase, _, key = field.rpartition(".")
    return sum((r.get(phase, {}) if phase else r).get(key, 0)
               for r in records if "error" not in r and pred(r))


def both_phases(records: list[dict], key: str, pred=lambda r: True) -> float:
    return total(records, f"build.{key}", pred) + total(records, f"execute.{key}", pred)


MODULES = ("operators.llm", "operators.graphs", "operators.tpch_shapes", "api",
           "sources.gdx_datasource", "sources.gdx_gams")
EVENT_LOG_KEYS = ("task_run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")
UNITS = {"build_s": "s", "execute_s": "s", "task_run_ms": "ms", "gc_ms": "ms",
         "shuffle_write_bytes": "B", "spill_bytes": "B"}  # the rest are counts


def layer_metrics(runner: Runner, ev: dict, setup: dict, codec: dict) -> tuple[dict, dict]:
    """Per-layer metrics (all BENCHMARK.json per_layer names) and the
    per-module split, times included, for the detail record."""
    from perfbench.trace import parse_group

    recs = runner.records
    # event-log task metrics per layer over the traced pass
    ev_layer: dict[str, dict] = {}
    for gid, m in ev.items():
        g = parse_group(gid)
        if g is None or g[3] not in ("build", "execute") or g[4] < 0:
            continue
        acc = ev_layer.setdefault(g[1], {})
        for k, v in m.items():
            acc[k] = acc.get(k, 0) + v

    def summary(layer: str | None) -> dict:
        def on(r):
            return layer is None or r["layer"] == layer
        return {
            "build_s": total(recs, "build_s", on),
            "execute_s": total(recs, "execute_s", on),
            "build_jobs": total(recs, "build.jobs", on),
            "execute_jobs": total(recs, "execute.jobs", on),
            "stages": both_phases(recs, "stages", on),
            "tasks": both_phases(recs, "tasks", on),
            "failed_tasks": both_phases(recs, "failed_tasks", on),
            **{k: sum(m.get(k, 0) for lay, m in ev_layer.items()
                      if layer is None or lay == layer) for k in EVENT_LOG_KEYS},
        }

    M = {"session.start_s": (setup["start_s"], "s"), "session.warm_s": (setup["warm_s"], "s")}
    M.update({f"ops.{k}": (v, UNITS.get(k, "count")) for k, v in summary(None).items()})
    for mod in MODULES:
        sm = summary(mod)
        for k in ("build_jobs", "execute_jobs", "tasks", "shuffle_write_bytes"):
            M[f"{mod}.{k}"] = (sm[k], UNITS.get(k, "count"))

    scan_tasks = total(recs, "execute.tasks", lambda r: r["op"] == "full_read")
    filt_tasks = total(recs, "execute.tasks", lambda r: r["op"] == "filtered_read")
    M.update({
        "operators.llm.connected_components_jobs": (
            total(recs, "build.jobs", lambda r: r["op"] == "connected_components"), "count"),
        "operators.llm.warm_build_jobs": (
            sum(v["warm_build_jobs"] for v in runner.memo.values()), "count"),
        "sources.gdx_datasource.scan_tasks": (scan_tasks, "count"),
        "sources.gdx_datasource.chunk_prune_ratio": (
            filt_tasks / scan_tasks if scan_tasks else 0.0, "ratio"),
        "sources.gdx_codec.encode_records_per_s": (codec["encode_records_per_s"], "1/s"),
        "sources.gdx_codec.decode_records_per_s": (codec["decode_records_per_s"], "1/s"),
        "sources.gdx_codec.open_s": (codec["open_s"], "s"),
        "sources.gdx_codec.bytes_per_record": (codec["bytes_per_record"], "B"),
        "sources.gdx_gams.decode_records_per_s": (codec["gams_decode_records_per_s"], "1/s"),
        "harness.unattributed_jobs": (runner.unattributed, "count"),
        "harness.tracing_overhead_ratio": (runner.overhead, "ratio"),
        "harness.traced_pass_s": (runner.pass_s, "s"),
        "harness.cpu_probe_s": (runner.box["cpu_probe_s"], "s"),
        "harness.loadavg_1m": (runner.box["loadavg_1m_end"], "load"),
    })
    return M, {mod: summary(mod) for mod in sorted({r["layer"] for r in recs})}


def codec_microbench(run_dir: str, seed: int, model=None) -> dict:
    """Spark-free calls into the codec layers: stream-encode the model's
    3-dim parameter, open the file, decode it chunk by chunk, and decode
    the V7-layout file's parameter."""
    from gdxpy_spark.sources.gdx_codec import GdxFile, GdxWriter
    from gdxpy_spark.sources.gdx_gams import GamsGdxFile

    from perfbench import gen
    from perfbench.workloads import GdxIo

    if model is None:
        model = gen.write_gdx_model(os.path.join(run_dir, "codec"), seed, GdxIo.N_P, GdxIo.CHUNK)
    sym = model.symbols["p"]
    path = os.path.join(run_dir, "codec_p.gdx")
    data = gen.symbol_data(sym)
    t0 = time.perf_counter()
    w = GdxWriter(path, chunk_records=GdxIo.CHUNK)
    w.add_symbol_streaming(data.meta, zip(data.keys, data.values, data.eps_mask, data.text))
    w.close()
    t1 = time.perf_counter()
    f = GdxFile(path)
    t2 = time.perf_counter()
    idx = f.find("p")
    n = sum(len(f.read_records(idx, c).keys) for c in range(f.n_chunks(idx)))
    t3 = time.perf_counter()
    g = GamsGdxFile(model.v7)
    t4 = time.perf_counter()
    n7 = len(g.read_records(g.find("p5")).keys)
    t5 = time.perf_counter()
    return {
        "encode_records_per_s": len(sym.keys) / (t1 - t0),
        "open_s": t2 - t1,
        "decode_records_per_s": n / (t3 - t2),
        "gams_decode_records_per_s": n7 / (t5 - t4),
        "bytes_per_record": os.path.getsize(path) / len(sym.keys),
    }


def run(wl, args, run_dir: str, event_log: str | None) -> dict:
    from perfbench import trace

    runner = Runner(wl, args, run_dir)
    ev, codec = {}, None
    # the sampler thread takes the GIL from the driver, so untraced runs,
    # which report no memory, go without it
    rss = trace.RssSampler() if args.trace else contextlib.nullcontext()
    with rss:
        try:
            t0 = time.perf_counter()
            setup = runner.setup()
            t1 = time.perf_counter()
            runner.pass_s = runner.run_pass(0, traced=bool(args.trace))
            t2 = time.perf_counter()
            runner.unattributed = runner.counter.unattributed_jobs()
            if args.trace:
                runner.overhead = runner.tracing_overhead()
            runner.memo = runner.memo_check()
            runner.group("harness", "cpu_probe", "probe", -1)
            runner.box = {"cpu_probe_s": trace.cpu_probe_s(runner.spark),
                          "loadavg_1m_end": trace.load_avg(), "loadavg_1m_start": args.load0}
            t3 = time.perf_counter()
        finally:
            if runner.spark is not None:
                stop_spark(runner.spark)
        t4 = time.perf_counter()
        if args.trace:
            ev = trace.event_log_metrics(event_log)
            codec = codec_microbench(run_dir, args.seed, getattr(wl, "model", None))
        failed_checks = runner.check_outputs()
        t5 = time.perf_counter()
    phases = {"setup": t1 - t0, "passes": t2 - t1, "memo_probe": t3 - t2, "stop": t4 - t3,
              "checks": t5 - t4}

    recs = runner.records
    attempted = runner.attempted
    failed = failed_checks + runner.raised
    lat = [r["build_s"] + r["execute_s"] for r in recs if "error" not in r]
    detail = {
        "workload": wl.name, "seed": args.seed, "cpus": cpus(), "setup": setup,
        "pass_s": runner.pass_s, "phases_s": phases, "box": runner.box,
        # per-operation latency: with about ten operations a run, no
        # percentile has ten samples beyond it, so these stay out of the
        # end-to-end metrics
        "op_p50_s": statistics.median(lat) if lat else None,
        "op_p90_s": quantile(lat, 90) if lat else None, "op_samples": len(lat),
        "memo": runner.memo, "errors": runner.errors,
        "ops": _op_summary(recs),
    }
    if args.trace:
        metrics, detail["modules"] = layer_metrics(runner, ev, setup, codec)
        # a layer metric, not an end-to-end one: under the engine's default
        # heap (half of host RAM) the JVM grows to a size that depends on
        # collector timing, so the peak spreads too wide to carry a bound
        metrics["harness.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    else:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (runner.pass_s, "s"),
        }
    print("perfbench-detail " + json.dumps(detail, default=str), file=sys.stderr)
    return {
        "correct": failed == 0 and not runner.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _op_summary(recs: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for r in recs:
        if "error" in r:
            continue
        o = out.setdefault(r["op"], {"layer": r["layer"], "build_s": [], "execute_s": [],
                                     "build_jobs": []})
        o["build_s"].append(round(r["build_s"], 4))
        o["execute_s"].append(round(r["execute_s"], 4))
        o["build_jobs"].append(r["build_jobs"])
    return out


def smoke() -> int:
    """Every workload end to end on tiny inputs with one pass, in both
    trace modes; each must print every BENCHMARK.json metric of its mode
    with its unit and pass its output checks."""
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bad = []
    for name in WORKLOADS:
        for tr, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(tr), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                out = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                bad.append(f"{name} trace={tr}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in out["metrics"].items()}
            if got != want:
                bad.append(f"{name} trace={tr}: metrics differ: "
                           f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                           f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not out["correct"] or out["failed"]:
                bad.append(f"{name} trace={tr}: correct={out['correct']} failed={out['failed']}")
            print(f"smoke {name} trace={tr}: done", file=sys.stderr)
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the benchmark contract; every run measures one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass; without --workload: run every workload")
    args = ap.parse_args()

    if os.environ.get("GDXPS_IVF_TARGET_CELL"):
        fail("GDXPS_IVF_TARGET_CELL is set (scale-probe regime knob); unset it: "
             "the oracles replay the default IVF quantizer")
    if not os.path.isfile(os.path.join(ROOT, "gdxpy_spark", "registry.py")):
        fail(f"no gdxpy_spark engine under {ROOT}")
    sys.path.insert(0, ROOT)
    if args.smoke and not args.workload:
        return smoke()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"--workload must be one of {sorted(WORKLOADS)}")
    from perfbench.trace import load_avg

    args.load0 = load_avg()
    scratch = os.path.join(ROOT, ".perfbench_scratch")
    run_dir = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        event_log = os.path.join(run_dir, "eventlog") if args.trace else None
        isolate(run_dir, event_log)
        result = run(WORKLOADS[args.workload](), args, run_dir, event_log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
