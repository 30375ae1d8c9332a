"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object {correct, attempted, failed, metrics}; the lines before it are
a readable report. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (and writes spans to
``.perfbench/trace-<workload>-<seed>.json``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench"
SETUP_REPS = 3
REF_REPS = 2  # reference queries before each op
BENCHMARK_JSON = ROOT / "BENCHMARK.json"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(cache: Path) -> dict[str, str]:
    """Everything the benchmark sets on top of get_spark's defaults."""
    retain = "100000"  # above the jobs/stages/executions of any run
    heap = "1g"
    return {
        # the generated tables are small; a 1g heap holds them with room,
        # and being filled it keeps the JVM's share of peak_rss_mb from
        # varying with when the collector grows a larger heap
        "spark.driver.memory": heap,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": retain,
        "spark.ui.retainedStages": retain,
        "spark.sql.ui.retainedExecutions": retain,
        # C1 only and the serial collector: a run is a minute long, and with
        # C2 and G1 the JVM keeps compiling and collecting on spare cores
        # for its first minutes, so each cycle ran faster than the last
        # (cycle CPU time fell by half over nine cycles) and where in that
        # curve the measured cycle fell set its time. With these, the
        # first cycle after the warm-up already runs at the later pace.
        # The heap starts at its full size and class metadata may grow to
        # 256 MB before it triggers a collection: grown from the default
        # 243 MB, the heap took full collections of ~0.27 s at random
        # points of the measured cycle, and 83 pauses in a run (21 so).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={cache / 'tmp'} -XX:-UsePerfData"
            f" -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{heap} -XX:MetaspaceSize=256m"
        ),
        "spark.sql.warehouse.dir": str(cache / "warehouse"),
    }


class RssSampler(threading.Thread):
    """Peak of (driver JVM + its Python worker processes) resident set,
    sampled from /proc every 0.2 s."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid, self.peak, self._stop_ev = jvm_pid, 0, threading.Event()

    @staticmethod
    def _tree(root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            return 0

    def sample(self) -> None:
        self.peak = max(self.peak, sum(self._rss(p) for p in self._tree(self.jvm_pid)))

    def run(self) -> None:
        while not self._stop_ev.wait(0.2):
            self.sample()

    def stop(self) -> None:
        if self._stop_ev.is_set():
            return
        self._stop_ev.set()
        self.join()
        self.sample()


def _stop(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then end the gateway JVM and wait until it and its
    Python worker processes have exited."""
    gateway = spark.sparkContext._gateway
    procs = RssSampler._tree(spark.sparkContext._jvm.ProcessHandle.current().pid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    gateway.proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def reference_query(spark) -> float:
    """Time of a fixed Spark query that runs no engine code: planning,
    code generation, and two stages over 8 partitions with a shuffle.
    The speed reference of the ref_* rates (see metrics.py)."""
    t0 = time.perf_counter()
    (spark.range(0, 400_000, numPartitions=8)
     .selectExpr("id % 101 AS k", "id * 3 AS v").groupBy("k").sum("v").collect())
    return time.perf_counter() - t0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke check)")
    args = ap.parse_args()

    if not (ROOT / "geomesa_sql_spark" / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        _fail(f"no geomesa_sql_spark package and bench.py under {ROOT}")
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.chdir(ROOT)
    for d in ("tmp", "spark-local"):
        (CACHE / d).mkdir(parents=True, exist_ok=True)
    # everything Spark and its Python workers spill stays in the checkout
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))

    import gen
    import metrics as M
    from workloads import WORKLOADS, make

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r} (one of {', '.join(WORKLOADS)})")

    data = gen.prepare(str(CACHE / "data"), args.seed, args.scale)
    with open(os.path.join(data, "meta.json")) as f:
        meta = json.load(f)

    from bench import host_calibration  # diagnostic only: never a gate, never waits

    nproc = _nproc()
    phases: dict[str, float] = {}
    calib = {"before": host_calibration(nproc)}

    t0 = time.perf_counter()
    from geomesa_sql_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=session_conf(CACHE))
    spark.range(1).collect()
    session_start = phases["session"] = time.perf_counter() - t0
    rss = RssSampler(spark.sparkContext._jvm.ProcessHandle.current().pid())
    rss.start()
    try:
        from spans import Tracer

        tr = Tracer(spark, enabled=False)
        s0 = time.perf_counter()
        wl = make(args.workload, spark, data, meta, tr, str(CACHE / "work"))
        phases["init"] = time.perf_counter() - s0
        # loading + registering is repeated and its median taken (the
        # repeats after the warm-up also restore the pristine tables);
        # the warm-up itself happens once per session
        setup_times = [_timed(wl.setup)]
        phases["warm"] = _timed(wl.warm)
        setup_times += [_timed(wl.setup) for _ in range(SETUP_REPS - 1)]
        phases["setup_reps"] = sum(setup_times)
        setup_s = session_start + phases["init"] + statistics.median(setup_times) + phases["warm"]

        # closed loop, one client: whole cycles of the workload's op kinds
        # until --seconds have passed. A traced run traces every other op
        # of a cycle and the other ops of the next one, and runs an even
        # number of cycles: every kind runs as often traced as untraced,
        # at positions that balance (the first cycle after the warm-up
        # runs slower than later ones). The untraced ops give its
        # end-to-end figures and the base of trace.overhead_ratio.
        records: list[dict] = []
        n = len(wl.cycle)
        period = 2 * n if args.trace else n
        t_start = time.perf_counter()
        i = 0
        while i % period or i < period or time.perf_counter() - t_start < args.seconds:
            if i == n:  # peak memory covers set-up, warm-up and one cycle
                rss.stop()
            tr.enabled = bool(args.trace) and (i // n + i % n) % 2 == 1
            rec = {"i": i, "kind": wl.cycle[i % n], "traced": tr.enabled,
                   "ref_s": [reference_query(spark) for _ in range(REF_REPS)]}
            with tr.span("op", op=i):
                o0 = time.perf_counter()
                try:
                    rec.update(wl.op(i))
                except Exception:  # noqa: BLE001 — a failed op is recorded, never retried
                    rec["error"] = traceback.format_exc(limit=3)
                rec["dur_s"] = time.perf_counter() - o0
            records.append(rec)
            i += 1
        tr.enabled = False
        phases["ops"] = time.perf_counter() - t_start

        # ---- outside the timed region
        rss.stop()
        s0 = time.perf_counter()
        for r, ok in zip(records, wl.check(records)):
            r["correct"] = bool(ok) and "error" not in r
        phases["check"] = time.perf_counter() - s0
        s0 = time.perf_counter()
        tr.resolve()
        extra = wl.extra(records)
        if args.trace and hasattr(wl, "layer_probes"):
            extra.update(wl.layer_probes())
        phases["resolve"] = time.perf_counter() - s0
        calib["after"] = host_calibration(nproc)

        result = M.compute(
            records, extra, tr,
            setup_s=setup_s, session_start=session_start, setup_times=setup_times,
            peak_rss=rss.peak, nproc=nproc,
        )
    finally:
        rss.stop()
        s0 = time.perf_counter()
        _stop(spark)
        phases["stop"] = time.perf_counter() - s0

    M.report(args, result, records, calib, phases)
    if args.trace:
        out = CACHE / f"trace-{args.workload}-{args.seed}.json"
        with open(out, "w") as f:
            json.dump({"spans": tr.rows(), "layers": result["layers_all"], "host": calib}, f)
        print(f"# spans written to {out.relative_to(ROOT)}")
    spec = json.loads(BENCHMARK_JSON.read_text())
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    source = result["layers_all"] if args.trace else result["e2e_all"]
    failed = result["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {n: {"value": source[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
