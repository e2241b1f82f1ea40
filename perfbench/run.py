"""Benchmark command.

    python3 perfbench/run.py --workload site_assign --seed 1 --seconds 16 --trace 0

Runs one workload in this process against the package in the current
directory, on Spark local[nproc/2], one client in a closed loop:

1. set-up: start the session, write the seeded inputs, run every op once
   cold (all of it counts toward ``setup_s``);
2. warm rounds until ``--seconds`` have passed (at least MIN_ROUNDS), the op
   order rotating each round; each op reports the lower quartile of its
   warm samples;
3. with ``--trace 1``, one more round with the span recorder, the UDF
   profiler and Spark's instrumentation read after every op, between two
   untraced rounds that give the tracing overhead;
4. output checks: digests repeat across rounds, and each op matches its
   reference.

The last stdout line is the JSON result; a run record (conf, versions,
witnesses, every attempt, spans) goes to ``.perfbench/records/``.
``--workload all`` runs each workload in its own process and prints them
together.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

WORKLOAD_NAMES = ("site_assign", "curate")
# BENCHMARK.json declares one list of end-to-end names for every workload,
# so each op metric is a slot shared by one op of each workload, named after
# both (site_assign op first).
SLOTS = (
    "pip_join-pq_topk_s",
    "nearest_grid-minhash_lsh_s",
    "zonal_stats-image_decode_s",
)
# Timed rounds per run, at least: enough samples for a lower quartile.
MIN_ROUNDS = 4
DRIVER_HEAP = "4g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def task_threads(nproc: int) -> int:
    """Spark task threads: half the cores.  With every core busy, CPU
    stolen by the host's neighbours lands on a stage's critical path: in an
    interleaved run on a 4-core host at 5-8% steal, local[4] op times rose
    36-100% and local[2] 10-33%.  The free cores also carry the JVM's GC
    and JIT threads, the Python driver and the Arrow workers."""
    return max(1, nproc // 2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (the tests use a tiny scale)")
    return p.parse_args(argv)


def fast_quartile(samples: list[float]) -> float:
    """The reported value of a run's warm samples: their lower quartile.
    CPU steal from the host's other tenants and a JIT still compiling only
    ever slow a sample down, so the fast end of the samples moves least
    from run to run (the README gives the spreads against the median)."""
    return statistics.quantiles(samples, n=4)[0]


def returned_rows(digest) -> int:
    """Row count of a digest: (rows, checksum), or one tuple per window."""
    if digest and isinstance(digest[0], (list, tuple)):
        return sum(d[0] for d in digest)
    return digest[0] if digest else 0


class Runner:
    """One workload run: owns the session, the attempts and the record."""

    def __init__(self, args, root: str):
        from perfbench import fixtures, instrument, workloads

        self.fx, self.ins, self.wl = fixtures, instrument, workloads
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench", "work",
                                 f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.ops = workloads.WORKLOADS[args.workload]
        self.spans = instrument.Spans(enabled=bool(args.trace))
        self.attempts: list[dict] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace, "scale": args.scale}

    # ----------------------------------------------------------- session
    def start_session(self):
        from geo_epic_spark.session import DEFAULT_CONF, get_spark

        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        # Python workers inherit these: they import the package from the
        # checkout and keep temp files inside it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["TMPDIR"] = tmp
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        java_opts = DEFAULT_CONF["spark.driver.extraJavaOptions"] + f" -Djava.io.tmpdir={tmp}"
        conf = {
            # the package default heap (48g) exceeds a 15 GB host's memory; a
            # fixed heap keeps runs comparable and the machine safe
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        events = os.path.join(self.work, "events")
        if self.args.trace:
            # the traced round reads raw SQL metric values from the event log
            os.makedirs(events, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.nproc = os.cpu_count() or 1
        self.spark = get_spark(task_threads(self.nproc), f"perfbench-{self.args.workload}", conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = self.ins.SparkProbe(self.spark, events)

    def stop_session(self):
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; wait so no process outlives the run
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ---------------------------------------------------------- attempts
    def attempt(self, op, phase: str, rnd: int) -> dict:
        a = {"op": op.name, "phase": phase, "round": rnd, "ok": True, "error": None,
             "digest": None, "seconds": 0.0}
        with self.ctx.spans.span("op", op=op.name, phase=phase):
            try:
                if op.prepare:
                    op.prepare(self.ctx)
                t0 = time.perf_counter()
                try:
                    out = op.run(self.ctx)
                finally:
                    a["seconds"] = time.perf_counter() - t0
                a["digest"] = op.result(self.ctx, out) if op.result else out
            except Exception as e:  # a failing op must not stop the run
                first_line = (str(e).strip().splitlines() or [""])[0]
                a["ok"] = False
                a["error"] = f"{type(e).__name__}: {first_line[:500]}"
                a["traceback"] = traceback.format_exc(limit=8)
        self.attempts.append(a)
        return a

    def warm(self, t_end_s: float):
        """Timed rounds until ``t_end_s`` have passed (at least MIN_ROUNDS).
        Returns each round's op time."""
        n = len(self.ops)
        rounds = []
        t0 = time.perf_counter()
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() - t0 < t_end_s:
            order = self.ops[r % n:] + self.ops[:r % n]
            rounds.append(sum(self.attempt(op, "warm", r)["seconds"] for op in order))
            self.witness_load.append(os.getloadavg()[0])
            r += 1
        return rounds

    def traced_round(self) -> tuple[dict, float, float]:
        """The workload's ops once more, traced: their own span recorder,
        the UDF profiler on, and Spark's instrumentation read after every
        op.  An untraced round runs right before and right after, so the
        overhead compares neighbouring rounds (their mean cancels a steady
        drift such as JIT warm-up), not a round against the warm median.
        Then the workload's extras run, traced.  Returns the per-op layer
        numbers, the traced round's op time and its neighbours' mean."""
        ins = self.ins
        self.traced_spans = ins.Spans()
        prof_dir = os.path.join(self.work, "profile")
        per_op: dict[str, dict] = {}

        def untraced_round() -> float:
            total = 0.0
            for op in self.ops:
                # the traced round's reads let each op start on a drained
                # listener bus; give its neighbours the same pause
                self.probe.settle()
                total += self.attempt(op, "untraced", 0)["seconds"]
            return total

        def traced(op) -> float:
            self.spark.profile.clear(type="perf")
            self.probe.mark()
            a = self.attempt(op, "traced", 0)
            self.probe.settle()
            m = ins.layer_metrics(self.probe.plan_nodes(), self.probe.stages(), self.probe)
            m["udf_self_s"] = ins.udf_self_seconds(self.spark, prof_dir)
            m["rows_returned"] = float(returned_rows(a["digest"])) if a["ok"] else 0.0
            m["seconds"] = a["seconds"]
            per_op[op.name] = m
            return a["seconds"]

        def tracing(ops) -> float:
            self.ctx.spans = self.traced_spans
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            try:
                return sum(traced(op) for op in ops)
            finally:
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                self.ctx.spans = self.spans

        before = untraced_round()
        traced_s = tracing(self.ops)
        after = untraced_round()
        tracing(self.wl.TRACE_EXTRAS[self.args.workload])
        if self.args.workload == "site_assign":
            per_op["pip_join"]["bbox_candidates"] = float(self.wl.bbox_candidates(self.ctx))
        self.record["traced_ops"] = per_op
        return per_op, traced_s, (before + after) / 2

    # -------------------------------------------------------------- checks
    def check(self):
        """Digest repeatability across rounds, then the reference checks;
        a failed check marks every attempt of that op failed."""
        errors: dict[str, str] = {}
        for op in self.ops:
            digs = [a["digest"] for a in self.attempts if a["op"] == op.name and a["ok"]]
            digs = [json.dumps(d, sort_keys=True) for d in digs]
            if len(set(digs)) > 1:
                errors[op.name] = f"digest differs across rounds: {sorted(set(digs))[:3]}"
        for a in self.attempts:
            if a["ok"]:
                self.ctx.notes["digests"].setdefault(a["op"], a["digest"])
        self.ctx.spans = self.ins.Spans(enabled=False)
        self.record["checks"] = {}
        for name, fn in self.wl.CHECKS[self.args.workload].items():
            if name not in self.ctx.notes["digests"]:
                continue  # every attempt already failed
            try:
                self.record["checks"][name] = fn(self.ctx)
            except Exception as e:
                errors[name] = f"{type(e).__name__}: {e}"[:500]
        for a in self.attempts:
            if a["op"] in errors and a["ok"]:
                a["ok"] = False
                a["error"] = "check: " + errors[a["op"]]
        self.record["check_errors"] = errors

    # ----------------------------------------------------------------- run
    def run(self) -> dict:
        args = self.args
        with self.spans.span("run"):
            with self.spans.span("setup"):
                with self.spans.span("session"):
                    self.start_session()
                with self.spans.span("fixture"):
                    inputs = self.fx.MAKERS[args.workload](
                        args.seed, args.scale, os.path.join(self.work, "in"))
                self.ctx = self.wl.Ctx(self.spark, args.workload, args.seed, args.scale,
                                       inputs, self.work, self.spans)
                for op in self.ops:
                    self.attempt(op, "cold", 0)
            setup_s = process_age_s()
            self.witness_load: list[float] = []
            cpu0 = self.ins.cpu_times()
            rounds = self.warm(args.seconds)
            self.record["host"] = {
                "steal_frac": self.ins.steal_frac(cpu0, self.ins.cpu_times()),
                "load_1m": statistics.fmean(self.witness_load),
                "load_samples": self.witness_load,
            }
            traced = self.traced_round() if args.trace else None
            with self.spans.span("check"):
                self.check()
        return self.results(setup_s, rounds, traced, inputs)

    def results(self, setup_s, rounds, traced, inputs) -> dict:
        warm = {}
        for op in self.ops:
            tries = [a for a in self.attempts if a["op"] == op.name and a["phase"] == "warm"]
            # a failed op still reports a time (the run reads incorrect anyway)
            warm[op.name] = [a["seconds"] for a in tries if a["ok"]] or [a["seconds"] for a in tries]
        named = {"setup_s": (setup_s, "s", 1),
                 "rows_per_s": (inputs.rows / fast_quartile(rounds), "rows/s", len(rounds))}
        for op in self.ops:
            named[op.metric] = (fast_quartile(warm[op.name]), "s", len(warm[op.name]))
        counted = self.attempts
        failed = sum(not a["ok"] for a in counted)
        self.record.update(
            named_metrics={k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in named.items()},
            rounds_s=rounds, attempted=len(counted), failed=failed,
            failed_by_op={name: sum(not a["ok"] for a in counted if a["op"] == name)
                          for name in {a["op"] for a in counted}},
            input_rows=inputs.rows, input_bytes=inputs.bytes,
        )
        if traced is None:
            metrics = {"setup_s": named["setup_s"], "rows_per_s": named["rows_per_s"]}
            for slot, op in zip(SLOTS, self.ops):
                metrics[slot] = named[op.metric]
        else:
            metrics = {k: (v, u, 1) for k, (v, u) in self.layers(*traced, inputs).items()}
        return {
            "correct": failed == 0,
            "attempted": len(counted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }, named

    def layers(self, per_op: dict, traced_s: float, untraced_s: float, inputs) -> dict:
        """The per-layer metrics of the traced round, every name on every
        workload (0 where a workload does not use the layer)."""
        main = [op.name for op in self.ops]

        def tot(key, ops=main):
            return sum(per_op[name].get(key, 0.0) for name in ops if name in per_op)

        selfs = self.spans.self_times()
        traced_selfs = self.traced_spans.self_times()
        pip_ops = ("pip_join", "zonal_stats")
        polys = inputs.meta.get("polys", 0)
        pip = per_op.get("pip_join", {})
        layout = per_op.get("write_zorder_layout", {})
        scan = per_op.get("bbox_scan", {})
        resume = self.ctx.notes.get("resume", {})
        layout_in = self.fx.dir_bytes(inputs.paths["points"]) if layout else 0
        skew = max((per_op[n]["task.skew_max_ms"] / per_op[n]["task.skew_median_ms"]
                    for n in main if "task.skew_max_ms" in per_op.get(n, {})), default=0.0)
        jvm_pid = self.probe.jvm_pid()
        out = {
            "session.start_s": (selfs.get("session", 0.0), "s"),
            "fixture.write_s": (selfs.get("fixture", 0.0), "s"),
            "fixture.bytes": (float(inputs.bytes), "bytes"),
            "plan.build_s": (self.traced_spans.total("plan"), "s"),
            "plan.codegen_stages": (tot("plan.codegen_stages"), "count"),
            "cells.cover_rows_per_poly": (tot("bcast.rows", pip_ops) / (2 * polys) if polys else 0.0,
                                          "rows"),
            "spatial.bcast_build_ms": (tot("spatial.bcast_build_ms"), "ms"),
            "spatial.bcast_bytes": (tot("spatial.bcast_bytes"), "bytes"),
            "spatial.probe_ms": (tot("spatial.probe_ms"), "ms"),
            "spatial.refine_accept_ratio": (
                pip.get("rows_returned", 0.0) / pip["bbox_candidates"]
                if pip.get("bbox_candidates") else 0.0, "ratio"),
            "agg.peak_mem_mb": (tot("agg.peak_mem_bytes") / 2**20, "MiB"),
            "agg.spill_bytes": (tot("agg.spill_bytes"), "bytes"),
            "window.rows_in": (tot("window.rows_in"), "rows"),
            "shuffle.write_bytes": (tot("shuffle.write_bytes"), "bytes"),
            "shuffle.write_ms": (tot("shuffle.write_ms"), "ms"),
            "shuffle.fetch_wait_ms": (tot("shuffle.fetch_wait_ms"), "ms"),
            "arrow.python_boot_ms": (tot("arrow.python_boot_ms"), "ms"),
            "arrow.python_init_ms": (tot("arrow.python_init_ms"), "ms"),
            "arrow.python_total_ms": (tot("arrow.python_total_ms"), "ms"),
            "arrow.bytes_sent": (tot("arrow.bytes_sent"), "bytes"),
            "arrow.bytes_received": (tot("arrow.bytes_received"), "bytes"),
            "arrow.rows": (tot("arrow.rows"), "rows"),
            "kernel.udf_self_s.pq_topk": (per_op.get("pq_topk", {}).get("udf_self_s", 0.0), "s"),
            "kernel.udf_self_s.minhash_lsh_pairs": (
                per_op.get("minhash_lsh_pairs", {}).get("udf_self_s", 0.0), "s"),
            "kernel.udf_self_s.decode_stats": (
                per_op.get("decode_stats", {}).get("udf_self_s", 0.0), "s"),
            "layout.files_written": (layout.get("write.files", 0.0), "count"),
            "layout.write_s": (layout.get("seconds", 0.0), "s"),
            "layout.write_amp": (layout.get("write.bytes", 0.0) / layout_in if layout_in else 0.0,
                                 "ratio"),
            "layout.shuffle_write_bytes": (layout.get("shuffle.write_bytes", 0.0), "bytes"),
            "layout.scan_s": (scan.get("seconds", 0.0), "s"),
            "layout.files_read": (scan.get("scan.files_read", 0.0), "count"),
            "layout.rows_read_per_row_returned": (
                scan.get("scan.rows_read", 0.0) / max(scan.get("rows_returned", 0.0), 1.0)
                if scan else 0.0, "ratio"),
            "resume.partitions_invalidated": (float(resume.get("invalidated", 0)), "count"),
            "resume.partitions_run": (float(resume.get("partitions_run", 0)), "count"),
            "resume.rows_written": (float(resume.get("rows_written", 0)), "rows"),
            "resume.run_s": (per_op.get("run_with_resume", {}).get("seconds", 0.0), "s"),
            "resume.bcast_build_ms": (
                per_op.get("run_with_resume", {}).get("spatial.bcast_build_ms", 0.0), "ms"),
            "task.run_s": (tot("task.run_s"), "s"),
            "task.cpu_s": (tot("task.cpu_s"), "s"),
            "task.gc_s": (tot("task.gc_s"), "s"),
            "task.skew": (skew, "ratio"),
            "task.failed": (tot("task.failed"), "count"),
            "host.steal_frac": (self.record["host"]["steal_frac"], "ratio"),
            "host.load_1m": (self.record["host"]["load_1m"], "load"),
            "proc.peak_rss_mb": (self.ins.peak_rss_mb([os.getpid(), jvm_pid]), "MiB"),
            "span.plan_self_s": (traced_selfs.get("plan", 0.0), "s"),
            "span.action_self_s": (traced_selfs.get("action", 0.0), "s"),
            "span.harness_self_s": (selfs.get("run", 0.0), "s"),
            "trace.overhead_s": (traced_s - untraced_s, "s"),
            "trace.round_s": (traced_s, "s"),
        }
        return out

    def conf_record(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        jvm = self.spark.sparkContext._jvm
        keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
        return {
            "nproc": self.nproc,
            "conf": {k: conf.get(k, None) for k in keys},
            "spark_version": self.spark.version,
            "java_version": jvm.java.lang.System.getProperty("java.version"),
            "python_version": sys.version.split()[0],
        }

    def write_record(self, result: dict) -> str:
        self.record.update(self.conf_record())
        self.record["peak_rss_mb"] = self.ins.peak_rss_mb([os.getpid(), self.probe.jvm_pid()])
        self.record["attempts"] = self.attempts
        self.record["result"] = result
        self.record["spans"] = self.spans.records()
        if hasattr(self, "traced_spans"):
            self.record["traced_spans"] = self.traced_spans.records()
        out_dir = os.path.join(self.root, ".perfbench", "records")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}"
                                     f"-trace{self.args.trace}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump(self.record, f, indent=1, default=str)
        return path


def report(workload: str, named: dict, result: dict, record: dict) -> None:
    """Human-readable lines before the JSON line."""
    for name, (value, unit, n) in named.items():
        print(f"{workload} {name} = {value:.6g} {unit} (n={n})")
    att, fail = result["attempted"], result["failed"]
    print(f"{workload} failed/attempted = {fail}/{att} ({fail / att:.1%})")
    for a in record.get("attempts", []):
        if not a["ok"]:
            print(f"{workload} FAILED {a['op']} ({a['phase']} round {a['round']}): {a['error']}")


def run_one(args, root: str) -> int:
    runner = Runner(args, root)
    try:
        result, named = runner.run()
        record_path = runner.write_record(result)
    finally:
        runner.stop_session()
        shutil.rmtree(runner.work, ignore_errors=True)
    report(args.workload, named, result, runner.record)
    print(f"{args.workload} record: {os.path.relpath(record_path, root)}")
    print(json.dumps(result))
    return 0


def run_all(args, root: str) -> int:
    """Each workload as a fresh process, then every metric together."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "geo_epic_spark")):
        print("perfbench: run from the repository root (no geo_epic_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload == "all":
        return run_all(args, root)
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
