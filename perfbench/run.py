"""Benchmark for spark_auto_schema: closed-loop workloads, one client in one
driver process, with end-to-end metrics from an untraced window and
per-layer metrics from a traced window.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload schema_lifecycle --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Above it a table prints every metric with its unit.  The full record of the
run - every op, and in a traced run every span with its self time - is
written to ``.perfbench/results/``.  See ``perfbench/README.md`` for what each
workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SF = 0.01  # star-schema scale factor of every workload's inputs
DRIVER_MEMORY = "1g"
TAIL_BEYOND = 10  # op_tail_s: highest percentile with >= 10 samples beyond
WARMUP_BUDGET_S = 30.0  # no warm-up pass starts that would end past this
WARMUP_CONVERGED = 0.92  # a pass no faster than this share of the last one

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------------ /proc
def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: a
    diagnostic for runs slowed by co-tenants."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _hwm_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


# --------------------------------------------------------------- helpers
def _release_all() -> None:
    """Call every package module's public release function
    (``release_caches`` / ``release_sinks``)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("spark_auto_schema"):
            continue
        for fn in ("release_caches", "release_sinks"):
            f = getattr(mod, fn, None)
            if callable(f) and getattr(f, "__module__", name) == name:
                f()


def _tail(lat: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, samples beyond) at the highest percentile that
    has at least ``TAIL_BEYOND`` samples beyond it (nearest rank)."""
    s = sorted(lat)
    rank = max(1, len(s) - TAIL_BEYOND)
    return s[rank - 1], 100.0 * rank / len(s), len(s) - rank


def _dataframes(res) -> list:
    from pyspark.sql import DataFrame

    if isinstance(res, DataFrame):
        return [res]
    if isinstance(res, (tuple, list)):
        return [d for r in res for d in _dataframes(r)]
    return []


class Runner:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.jvm = None
        self.tracer = None
        # the benchmark's own work (input generation, oracle comparison)
        # runs here, outside pids(), so it is in no measured CPU or memory.
        # A plain child process: a multiprocessing pool would also start
        # multiprocessing's resource tracker, which outlives the run.
        self.helper = subprocess.Popen(
            [sys.executable, str(HERE / "helper.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
        }

    # ---------------------------------------------------------- set-up
    def start_session(self, cores: int) -> float:
        from spark_auto_schema import session

        t0 = time.perf_counter()
        self.spark = session.build_session(
            "local",
            app_name="perfbench",
            master=f"local[{cores}]",
            overrides={
                "spark.sql.shuffle.partitions": str(cores),
                "spark.default.parallelism": str(cores),
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.local.dir": str(self.work / "local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
                "spark.sql.streaming.checkpointLocation": str(self.work / "checkpoints"),
            },
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        return dt

    def offload(self, fn, *args):
        """``fn(*args)`` in the helper process."""
        pickle.dump((fn, args), self.helper.stdin)
        self.helper.stdin.flush()
        ok, value = pickle.load(self.helper.stdout)
        if not ok:
            raise RuntimeError(f"helper process failed:\n{value}")
        return value

    def stop(self) -> None:
        try:
            self.helper.stdin.close()  # the helper exits when its stdin closes
        except OSError:
            pass
        try:
            self.helper.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.helper.kill()
            self.helper.wait()
        if self.spark is None:
            return
        procs = _proc_tree(self.jvm.pid) if self.jvm else []
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - already down
                pass
            if self.jvm is not None:
                try:
                    self.jvm.stdin.close()  # the JVM exits when its stdin closes
                except OSError:
                    pass
                try:
                    self.jvm.wait(timeout=30)
                except Exception:  # noqa: BLE001 - TimeoutExpired
                    self.jvm.kill()
                    self.jvm.wait()
            deadline = time.time() + 15
            for p in procs:  # python workers the JVM started
                while os.path.exists(f"/proc/{p}") and time.time() < deadline:
                    if _is_zombie_or_gone(p):
                        break
                    time.sleep(0.05)
                if not _is_zombie_or_gone(p):
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
            self.spark = None

    def pids(self) -> list[int]:
        """The measured processes: this driver, the JVM and its Python
        workers; not the helper process."""
        return [os.getpid()] + (_proc_tree(self.jvm.pid) if self.jvm else [])

    # ------------------------------------------------------------ ops
    def cycles(self, wl, seed_tag: int):
        """The op sequence: the workload's cycle, shuffled per cycle by the
        seed, repeated.  Yields one cycle (a list of op factories) at a time."""
        import numpy as np

        rng = np.random.default_rng([self.args.seed, seed_tag])
        cyc = [factory for _shape, factory in wl.cycle()]
        while True:
            yield [cyc[int(i)] for i in rng.permutation(len(cyc))]

    def run_op(self, op, op_id: int, traced: bool) -> dict:
        tr = self.tracer if traced else None
        rec = {"op": op_id, "kind": op.kind, "name": op.name, "family": op.family}
        if tr is not None:
            tr.op = op_id
            span0 = len(tr.spans)
            j0 = jc = tr.next_job()
        reason = res = None
        t0 = tc = time.perf_counter()
        try:
            if tr is not None:
                with tr.span("op.construct", "op"):
                    h = op.construct()
                jc, tc = tr.next_job(), time.perf_counter()
                with tr.span("op.action", "op"):
                    res = op.action(h)
            else:
                h = op.construct()
                tc = time.perf_counter()
                res = op.action(h)
            t1 = time.perf_counter()
            reason = op.check(res)
        except Exception as ex:  # noqa: BLE001 - an op error is a failed op
            t1 = time.perf_counter()
            msg = str(ex).strip().splitlines()
            reason = f"raised {type(ex).__name__}: {msg[0][:200] if msg else ''}"
        rec["latency_s"] = t1 - t0
        rec["construct_s"] = tc - t0
        rec["action_s"] = t1 - tc
        rec.update(op.meta)
        rec["ok"] = reason is None
        if reason:
            rec["reason"] = reason
        # leak accounting around the package's own release calls
        jsc = self.spark.sparkContext._jsc
        if tr is not None:
            rec["persisted"], rec["cache_mem_mb"] = tr.cache_state()
        else:
            rec["persisted"] = int(jsc.getPersistentRDDs().size())
        _release_all()
        rec["leaked"] = int(jsc.getPersistentRDDs().size())
        rec["streams_active"] = len(self.spark.streams.active)
        if tr is not None:
            tr.drain_listener_bus()
            j1 = tr.next_job()
            rec["jobs"] = j1 - j0
            rec["construct_jobs"] = jc - j0
            rec.update(tr.job_stats(j0, j1))
            rec["io_writes"], rec["io_write_mb"] = tr.write_mb(span0)
            for df in _dataframes(res):
                try:
                    for k, v in tr.plan_stats(df).items():
                        rec[k] = rec.get(k, 0.0) + v
                except Exception:  # noqa: BLE001 - plan not inspectable
                    pass
        return rec

    def window(self, wl, seconds: float, traced: bool, seed_tag: int) -> dict:
        """Run whole cycles of ops until ``seconds`` have passed; a window
        therefore always holds the same mix of op kinds."""
        wl.start_window()
        ops: list[dict] = []
        pids = self.pids()
        cpu0, steal0 = _cpu_s(pids), _steal_s()
        t0 = time.perf_counter()
        for cyc in self.cycles(wl, seed_tag):
            for factory in cyc:
                ops.append(self.run_op(factory(len(ops)), len(ops), traced))
            if time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        cpu = _cpu_s(list(dict.fromkeys(pids + self.pids()))) - cpu0
        steal = _steal_s() - steal0
        for idx, reason in wl.end_window():
            ops[idx]["ok"] = False
            ops[idx]["reason"] = reason
        return {"ops": ops, "wall_s": wall, "cpu_s": cpu, "steal_s": steal, "cycle_len": len(cyc)}

    def warmup(self, wl) -> dict:
        """Untimed passes over one op of every shape in the cycle (ops of
        one shape share their query plans), repeated until a pass is no
        longer clearly faster than the one before or the next pass would
        overrun the warm-up budget."""
        passes: list[float] = []
        t_start = time.perf_counter()
        while True:
            wl.start_window()
            shapes: dict[str, object] = {}
            for shape, factory in wl.cycle():
                shapes.setdefault(shape, factory)
            t0 = time.perf_counter()
            for k, factory in enumerate(shapes.values()):
                rec = self.run_op(factory(k), k, traced=False)
                if not rec["ok"]:
                    print(f"warm-up op {rec['name']}: {rec.get('reason')}", file=sys.stderr)
            wl.end_window()
            passes.append(time.perf_counter() - t0)
            converged = len(passes) > 1 and passes[-1] > WARMUP_CONVERGED * passes[-2]
            spent = time.perf_counter() - t_start
            if converged or spent + passes[-1] > WARMUP_BUDGET_S:
                return {"passes_s": passes, "converged": converged}

    # ------------------------------------------------------------ main
    def run(self) -> dict:
        import workloads

        wl_cls = {c.name: c for c in (workloads.SchemaLifecycle, workloads.OperatorMix)}
        if self.args.workload not in wl_cls:
            raise SystemExit(f"unknown workload {self.args.workload!r}; one of {sorted(wl_cls)}")
        cls = wl_cls[self.args.workload]
        cores = max(1, min(cls.CORES, os.cpu_count() or 1))  # local[N], N <= nproc
        t_setup = time.perf_counter()
        session_s = self.start_session(cores)
        wl = cls(self.spark, self.args.seed, SF, str(self.work), self.offload)
        t = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t
        self.tracer = None
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            wl.span = self.tracer.span
        else:
            wl.span = lambda name, layer: contextlib.nullcontext()
        t = time.perf_counter()
        warm = self.warmup(wl)
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        rec = self.record
        rec.update(
            {
                "cores": cores,
                "sf": SF,
                "spark": self.spark.version,
                "jdk": self.spark.sparkContext._jvm.System.getProperty("java.version"),
                "inputs": wl.input_desc(),
                "setup": {"session_s": session_s, "inputs_s": inputs_s, "warmup_s": warm_s, **warm},
                "setup_s": setup_s,
            }
        )
        if not self.args.trace:
            rec["untraced"] = self.window(wl, self.args.seconds, False, 7)
        else:
            # an untraced window, then a traced one over the same seeded op
            # sequence; the difference is the tracing overhead
            rec["untraced"] = self.window(wl, self.args.seconds, False, 7)
            self.tracer.install()
            try:
                t0 = time.perf_counter()
                rec["traced"] = self.window(wl, self.args.seconds, True, 7)
            finally:
                self.tracer.uninstall()
            tr = self.tracer
            rec["spans"] = [
                {
                    "name": s.name, "layer": s.layer, "op": s.op, "parent": s.parent,
                    "start_s": s.start - t0, "dur_s": s.dur, "jobs": s.job1 - s.job0,
                    "self_s": self_s, "self_jobs": self_j,
                }
                for s, self_s, self_j in tr.self_times()
            ]
            rec["stream_batches"] = [d for ts, d in tr.stream_batches if ts >= t0]
        rec["peak_rss_mb"] = _hwm_mb(self.pids())
        return rec


def _is_zombie_or_gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


# ---------------------------------------------------------------- metrics
def end_to_end(rec: dict) -> dict[str, float]:
    w = rec["untraced"]
    lat = [o["latency_s"] for o in w["ops"]]
    tail, pct, beyond = _tail(lat)
    rec["op_tail"] = {"percentile": pct, "samples_beyond": beyond, "samples": len(lat)}
    return {
        "setup_s": rec["setup_s"],
        "ops_per_s": len(lat) / w["wall_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "cpu_s_per_op": w["cpu_s"] / len(lat),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import pyspark  # noqa: F401
        import spark_auto_schema  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the package to measure is not importable: {ex}", file=sys.stderr)
        return 2
    out_dir = ROOT / ".perfbench"
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=_mkdir(out_dir)))
    for sub in ("tmp", "local", "checkpoints"):
        (work / sub).mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = str(work / "tmp")
    # on SIGTERM, unwind through the finally below so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runner = Runner(args, work)
    try:
        rec = runner.run()
    finally:
        try:
            runner.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    import report

    windows = [rec["untraced"]] + ([rec["traced"]] if args.trace else [])
    failed_ops = [o for w in windows for o in w["ops"] if not o["ok"]]
    attempted = sum(len(w["ops"]) for w in windows)
    rec["failed_frac"] = len(failed_ops) / attempted
    e2e = end_to_end(rec)
    layers = report.per_layer(rec) if args.trace else {}
    rec["end_to_end"] = e2e
    rec["per_layer"] = layers
    res_dir = _mkdir(out_dir / "results")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (res_dir / f"{name}.json").write_text(json.dumps(rec, indent=1, default=str) + "\n")
    report.print_table(rec, e2e, layers, failed_ops, attempted)
    metrics = layers if args.trace else e2e
    units = report.LAYER_UNITS if args.trace else END_TO_END
    print(
        json.dumps(
            {
                "correct": not failed_ops,
                "attempted": attempted,
                "failed": len(failed_ops),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _mkdir(p: Path) -> Path:
    p.mkdir(parents=True, exist_ok=True)
    return p


if __name__ == "__main__":
    sys.exit(main())
