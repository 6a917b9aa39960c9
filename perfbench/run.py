#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_corpus --seed 42 --seconds 10 --trace 0

Run from the repository root. One Spark session on ``local[<cores>]``
generates the workload's inputs from ``--seed`` (three times: the set-up
time), then runs operations one at a time for ``--seconds`` (at least
one) and checks every output. Prints one line describing the host and the run,
with ``--trace 1`` one line of per-stage detail, and last the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones of the first operation, traced (a later untraced and traced pair
gives the tracing overhead). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

import stats
from tracing import (GAP, OpTrace, ProgressListener, StatusStore, finish_exec,
                     group_metrics, job_busy_s, stage_store_spans)
from workloads import WORKLOADS, StreamKg, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 42
SETUP_REPS = 3
DRIVER_HEAP = "2g"
# the run must end within 180 s even if Spark hangs
DEADLINE_S = 170
STAGES = ("ingest", "grams", "fuzzy_scores", "candidates", "entity_map", "triples_raw")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "triggerExecution")
EXEC_KEYS = ("spark_jobs", "spark_tasks", "exec_run_s", "exec_cpu_s", "gc_s",
             "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes", "task_skew")


class Deadline(BaseException):
    """Raised by SIGALRM/SIGTERM; not an ``Exception``, so a per-operation
    error handler cannot swallow it."""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def code_revision() -> dict:
    """Git revision when the tree is a checkout, plus a hash of the code
    the benchmark runs (valid in an exported tree too)."""
    h = hashlib.sha256()
    for d in ("prom_spark", "perfbench"):
        for root, dirs, names in sorted(os.walk(os.path.join(ROOT, d))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(root, n), "rb") as f:
                        h.update(n.encode() + f.read())
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            rev = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
    return {"git": rev, "code_sha256": h.hexdigest()[:16]}


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Session:
    """One Spark session with every file it writes under ``scratch``."""

    def __init__(self, scratch: str, cores: int):
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(scratch, sub), exist_ok=True)
        tmp = os.path.join(scratch, "tmp")
        # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        os.environ["TMPDIR"] = tmp
        from prom_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=4 * cores,
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.local.dir": os.path.join(scratch, "local"),
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            # the gateway JVM exits when its stdin closes; shutting the py4j
            # gateway down first can block on the callback server's sockets
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Bench:
    def __init__(self, args, wl, spark, scratch: str, cores: int):
        self.args, self.wl, self.spark = args, wl, spark
        self.scratch, self.cores = scratch, cores
        self.is_stream = isinstance(wl, StreamKg)
        self.listener = None
        self.first_digests = None
        self.pinned = None
        if args.seed == DEFAULT_SEED:
            with open(os.path.join(HERE, "expected.json")) as f:
                self.pinned = json.load(f).get(wl.name)

    def setup(self) -> list[float]:
        if self.is_stream and self.args.trace:
            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)
        times, self.inputs = [], None
        for _ in range(SETUP_REPS):
            if self.inputs is not None:
                self.wl.release(self.inputs)
            t0 = time.perf_counter()
            self.inputs = self.wl.setup(self.spark, self.args.seed, self.scratch)
            times.append(time.perf_counter() - t0)
        self.input_info = self.wl.prepare_checks(self.spark, self.inputs)
        return times

    def op(self, idx: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        out_dir = os.path.join(self.scratch, f"op-{idx}")
        rec: dict = {"traced": traced, "errors": []}
        if self.listener is not None:
            self.listener.clear()
        trace = status = None
        spans = contextlib.nullcontext()
        if traced:
            status = StatusStore(self.spark)
            first_job = status.max_job_id()
            trace = OpTrace(sc, f"op{idx}")
            trace.group(GAP)
            if not self.is_stream:
                spans = stage_store_spans(trace)
        t0_ms, t0 = time.time() * 1e3, time.perf_counter()
        try:
            with spans, (trace.span("op") if traced else contextlib.nullcontext()):
                result = self.wl.run(self.spark, self.inputs, out_dir)
            rec["wall_s"] = time.perf_counter() - t0
            t1_ms = time.time() * 1e3
            if self.listener is not None:
                StatusStore(self.spark).drain()
                rec["batch_s"] = [p.durationMs["triggerExecution"] / 1e3
                                  for p in self.listener.progress]
            if traced:
                rec["trace"] = self.collect_trace(
                    trace, status, first_job, rec["wall_s"], t0_ms, t1_ms,
                    result, out_dir)
            out = self.wl.check(self.spark, self.inputs, result, out_dir)
        except Exception:  # one failed operation is counted, the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["errors"].append(traceback.format_exc(limit=3).strip().splitlines()[-1])
            return rec
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            shutil.rmtree(out_dir, ignore_errors=True)
        rec.update(triples=out.triples, stored_bytes=out.stored_bytes,
                   digests=out.digests)
        rec["errors"] += out.errors
        if self.first_digests is None:
            self.first_digests = out.digests
        elif out.digests != self.first_digests:
            rec["errors"].append(f"digest {out.digests} != first op {self.first_digests}")
        if self.pinned is not None:
            want = {k: tuple(v) for k, v in self.pinned.items()}
            if out.digests != want:
                rec["errors"].append(f"digest {out.digests} != pinned {want}")
        return rec

    def collect_trace(self, trace, status, first_job, wall, t0_ms, t1_ms,
                      result, out_dir) -> dict:
        tag = trace.tag + ":"
        jobs = status.jobs_after(first_job)
        stages = status.stage_metrics({s for j in jobs for s in j["stages"]})

        def layer(j):
            g = j["group"] or ""
            return g[len(tag):] if g.startswith(tag) else "stream"

        per = {k: finish_exec(v) for k, v in group_metrics(jobs, stages, layer).items()}
        total = finish_exec(group_metrics(jobs, stages, lambda j: "op")["op"])
        spans = trace.by_name()
        detail: dict = {"spans": {k: {m: round(v, 4) for m, v in d.items()}
                                  for k, d in spans.items()}}
        if self.is_stream:
            progress = self.listener.progress
            steps = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
            n_stream_jobs = per.get("stream", {}).get("spark_jobs", 0)
            detail["stream"] = {
                "batches": len(progress),
                "spark_jobs_per_batch": n_stream_jobs / max(1, len(progress)),
                **{f"{ph}_s": sum(p.durationMs.get(ph, 0) for p in progress) / 1e3
                   for ph in STREAM_PHASES},
                "input_read_amplification": stats.rows_per_input_row(
                    sum(p.numInputRows for p in progress),
                    self.wl.convs * self.wl.turns_per_conv),
            }
        else:
            steps = [spans[st]["wall_s"] for st in (*STAGES, "triples") if st in spans]
            store = result.store
            stage_detail = {}
            for st in (*STAGES, "triples"):
                d = {"wall_s": spans.get(st, {}).get("wall_s", 0.0),
                     "self_s": spans.get(st, {}).get("self_s", 0.0),
                     "plan_s": spans.get(f"{st}.plan", {}).get("wall_s", 0.0),
                     "write_s": spans.get(f"{st}.write", {}).get("wall_s", 0.0),
                     "rows": store.metrics(st)["rows"],
                     "bytes": dir_bytes(os.path.join(out_dir, st), ".parquet")}
                d.update(per.get(st, {}))
                stage_detail[st] = d
            gap = {"wall_s": spans["op"]["self_s"], **per.get(GAP, {})}
            stage_detail[GAP] = gap
            reads = sum(per.get(st, {}).get("input_bytes", 0) for st in ("grams", "candidates"))
            detail["stages"] = stage_detail
            detail["ingest.read_amplification"] = stats.read_amplification(
                reads, stage_detail["ingest"]["bytes"])
            detail["attribution_gap_s"] = wall - sum(steps) - gap["wall_s"]
        detail["layers"] = {
            "traced_kg_s": wall,
            "driver_only_s": wall - job_busy_s(jobs, t0_ms, t1_ms),
            "between_steps_s": wall - sum(steps),
            "step_max_s": max(steps),
            **{k: total[k] for k in EXEC_KEYS},
            "executor.busy_frac": total["exec_run_s"] / (wall * self.cores),
        }
        return detail


def run(args, scratch: str) -> tuple[dict, dict | None, dict]:
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    session = Session(scratch, cores)
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(args, wl, session.spark, scratch, cores)
        setup_times = bench.setup()
        ops = []
        steal0 = cpu_steal_s()
        loop_t0 = time.perf_counter()
        while True:
            # traced runs go traced, untraced, traced: the first (timed)
            # op gives the layers, the later pair the tracing overhead
            traced = bool(args.trace) and len(ops) % 2 == 0
            ops.append(bench.op(len(ops), traced))
            if (time.perf_counter() - loop_t0 >= args.seconds
                    and (not args.trace or len(ops) >= 3)):
                break
        steal_s = cpu_steal_s() - steal0
        peak_rss = vm_hwm_mb(session.jvm_pid)
        spark = session.spark
        versions = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        session.stop()

    failed = sum(1 for o in ops if o["errors"])
    ok = [o for o in ops if not o["errors"]]
    in_bytes = bench.input_info["input_bytes"]
    batch_s = [b for o in ops for b in o.get("batch_s", [])]
    describe = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "host": {
            "nproc": cores, "ram_mb": mem_total_mb(), **versions,
            "driver_heap": DRIVER_HEAP, "master": f"local[{cores}]",
            "shuffle_partitions": 4 * cores},
        "code": code_revision(),
        "input": {**wl.describe(), **bench.input_info},
        "reps": {"setup": SETUP_REPS, "ops": len(ops),
                 "traced": sum(o["traced"] for o in ops)},
        "session_start_s": round(session_s, 3),
        "setup_s": [round(x, 3) for x in setup_times],
        "op_s": [round(o["wall_s"], 3) for o in ops],
        "cpu_steal_s_during_ops": round(steal_s, 2),
        "triples": [o.get("triples") for o in ops],
        "digests": ok[0]["digests"] if ok else None,
        "errors": [e for o in ops for e in o["errors"]],
    }
    if batch_s:
        p = stats.tail_percentile(len(batch_s))
        describe["micro_batch"] = {
            "samples": len(batch_s), "p50_s": round(stats.median(batch_s), 4),
            **({f"p{p:g}_s": round(stats.percentile(batch_s, p), 4)} if p and p > 50 else {}),
        }
    detail = None
    if args.trace:
        first = ops[0]
        metrics = dict(first["trace"]["layers"]) if not first["errors"] else {}
        later_traced = [o["wall_s"] for o in ok[1:] if o["traced"]]
        untraced = [o["wall_s"] for o in ok if not o["traced"]]
        if later_traced and untraced:
            metrics["tracing_overhead_s"] = (
                stats.median(later_traced) - stats.median(untraced))
        detail = {"ops": [o["trace"] for o in ok if o["traced"]]}
    elif ok:
        kg_s = stats.median(o["wall_s"] for o in ok)
        metrics = {
            "kg_s": kg_s,
            "triples_per_s": ok[0]["triples"] / kg_s,
            "setup_s": stats.median(setup_times),
            "stored_bytes_per_input_byte":
                stats.median(o["stored_bytes"] / in_bytes for o in ok),
            "peak_rss_mb": peak_rss,
        }
    else:
        metrics = {}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return describe, detail, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "prom_spark")):
        print(f"perfbench: no prom_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(scratch)
    real_stderr = os.dup(2)
    log_path = os.path.join(scratch, "stderr.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)  # Python and the JVM it launches log here
    os.close(log_fd)

    def on_signal(signum, frame):
        raise Deadline(f"stopped by {signal.Signals(signum).name}")

    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    signal.alarm(DEADLINE_S)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        describe, detail, result = run(args, scratch)
        wanted = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if set(result["metrics"]) != wanted:
            raise RuntimeError(f"metrics {sorted(result['metrics'])} != {sorted(wanted)}")
    except BaseException:
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        os.dup2(real_stderr, 2)
        sys.stderr.write("".join(tail))
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        os.dup2(real_stderr, 2)
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(scratch))
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    print(json.dumps({"perfbench": describe}))
    if detail is not None:
        print(json.dumps({"trace": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
