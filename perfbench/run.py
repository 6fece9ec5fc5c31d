"""flox_spark benchmark: one workload per invocation, a closed loop with
one client.

    python3 perfbench/run.py --workload flox_small --seed 1 --seconds 15 --trace 0

A single driver thread builds each query of the workload and executes it
to a ``noop`` sink, one after another, on ``local[<cores>]``.  A run:

1. sets up ``SETUP_REPS`` times.  A set-up generates the workload's
   inputs from ``--seed`` and writes them as parquet under
   ``perfbench/_work/`` (untracked), starts a SparkSession through
   ``flox_spark.session.get_spark`` and registers the inputs.  The
   session stops between set-ups; the JVM stays up, so only the first
   set-up launches it;
2. runs one check pass, which collects every query's output and
   compares it with DuckDB SQL over the same parquet, then noop
   warm-up passes until pass walls stop falling;
3. times whole passes until ``--seconds`` have passed and
   ``TIMED_PASSES`` of them lost at most ``STEAL_MAX_FRAC`` of the CPU
   to the hypervisor, running at most ``MAX_EXTRA_PASSES`` passes
   beyond ``TIMED_PASSES``.  The end-to-end metrics come from the
   ``TIMED_PASSES`` passes with the least steal.

Every pass's wall is printed, warm-up included.  The last line of
standard output is the JSON result: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ledger (``ledger.py``) from
traced passes that alternate with untraced ones.  A record of the run
goes to ``perfbench/_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

import check  # noqa: E402  (the benchmark's own modules; none imports the program)
import layers  # noqa: E402
import ledger  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUP_REPS = 3
# noop warm-up passes after the check pass: at least MIN_WARMUP_PASSES,
# then more until a pass is no more than WARMUP_TOL faster than the one
# before it (a fresh JVM runs its first passes up to 2x slower while the
# JIT compiles), at most MAX_WARMUP_PASSES
MIN_WARMUP_PASSES = 2
MAX_WARMUP_PASSES = 4
WARMUP_TOL = 0.04
# the end-to-end metrics come from exactly this many timed passes
TIMED_PASSES = 7
# a timed pass during which the hypervisor took more than this share of
# the VM's CPU time (/proc/stat "steal") measured the host as much as
# the program; up to MAX_EXTRA_PASSES more passes are run to replace
# such passes
STEAL_MAX_FRAC = 0.02
MAX_EXTRA_PASSES = 2
# the end-to-end metrics of an untraced run, with their units
END_TO_END = {
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "ok_frac": "fraction",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"
# a run still warming up or measuring this long after it started
# finishes the pass it is in and stops; a quiet run ends in 45-75 s
DEADLINE_S = 110.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_spark(run_dir: str, event_dir: str | None) -> None:
    """Keep every file Spark and Python write inside the run directory;
    the traced run adds an uncompressed event log."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no JVM keeps its hsperfdata file under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 2 GB driver heap instead of get_spark's 8 GB default: the
    # inputs are small and the box is shared
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    # the heap starts at its cap, so the driver's peak RSS does not
    # depend on when G1 chose to grow the heap
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
    args = ["--driver-java-options", java_opts]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def host_steal_s() -> float | None:
    """CPU time the hypervisor has taken from this machine since boot,
    summed over its CPUs; None where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes over one workload and keeps the counts and samples."""

    def __init__(self, spark, wl, data_dir, tables, con):
        self.spark, self.wl, self.data_dir, self.tables, self.con = spark, wl, data_dir, tables, con
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def _build(self, name):
        return self.wl.queries[name](self.spark, self.data_dir, self.tables)

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _check(self, name, df) -> None:
        """Collect ``df`` and compare it with the query's oracle; raises
        on a mismatch."""
        result = df.toArrow()
        sql = self.wl.oracles[name]
        if self.wl.check == "registry":
            bad = check.registry_mismatch(df, result, self.con, sql)
        else:
            bad = check.numeric_mismatch(result, self.con, sql)
        if bad:
            raise AssertionError(f"output check failed: {bad}")

    def run_pass(self, kind: str, ledger=None) -> dict:
        """One pass over every query in order.  ``kind`` is ``check``
        (collect and compare, untimed), ``warmup``, ``timed`` or
        ``traced``."""
        walls: dict[str, float] = {}
        ledgered: dict[str, dict] = {}
        steal0 = host_steal_s()
        t_pass = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                if kind == "check":
                    self._check(name, self._build(name))
                elif kind == "traced":
                    sample = f"p{len(self.passes)}:{name}"
                    ledgered[name] = ledger.run(sample, lambda: self._build(name), self.noop)
                    ledgered[name]["sample"] = sample
                else:
                    self.noop(self._build(name))
            except Exception:  # one failing query must not lose the run
                self.failed += 1
                print(f"query {name} failed in a {kind} pass:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            walls[name] = time.perf_counter() - t0
        rec = {"kind": kind, "wall_s": time.perf_counter() - t_pass, "queries": walls}
        steal1 = host_steal_s()
        if steal0 is not None and steal1 is not None:
            rec["steal_frac"] = (steal1 - steal0) / (rec["wall_s"] * len(os.sched_getaffinity(0)))
        if ledgered:
            rec["ledger"] = ledgered
        self.passes.append(rec)
        steal = f"  host steal {rec['steal_frac']:.1%}" if "steal_frac" in rec else ""
        print(f"pass {len(self.passes) - 1:2d} {kind:7s} {rec['wall_s']:8.3f} s{steal}", flush=True)
        return rec

    def warm_up(self) -> None:
        """Noop passes until pass walls stop falling (see WARMUP_TOL)."""
        walls: list[float] = []
        while len(walls) < MAX_WARMUP_PASSES and not past_deadline():
            walls.append(self.run_pass("warmup")["wall_s"])
            if len(walls) >= MIN_WARMUP_PASSES and walls[-1] >= walls[-2] * (1 - WARMUP_TOL):
                return

    def measure(self, seconds: float, kinds: list[str], ledger=None) -> list[dict]:
        """Passes cycling through ``kinds`` until ``seconds`` have passed
        and enough have run: ``TIMED_PASSES`` with little host steal
        (or ``MAX_EXTRA_PASSES`` more in all) in an untraced run, two of
        each kind in a traced one."""
        out: list[dict] = []
        min_passes = TIMED_PASSES if len(kinds) == 1 else 2 * len(kinds)
        t0 = time.perf_counter()
        while True:
            out.append(self.run_pass(kinds[len(out) % len(kinds)], ledger))
            clean = sum(p.get("steal_frac", 0.0) <= STEAL_MAX_FRAC for p in out)
            enough = len(out) >= min_passes and (
                len(kinds) > 1 or clean >= min_passes or len(out) >= min_passes + MAX_EXTRA_PASSES
            )
            if (time.perf_counter() - t0 >= seconds and enough) or past_deadline():
                return out


def past_deadline() -> bool:
    return time.perf_counter() - T_START >= DEADLINE_S


def least_stolen(timed: list[dict]) -> list[dict]:
    """The ``TIMED_PASSES`` timed passes that lost the least CPU to
    host steal, in run order."""
    keep = sorted(range(len(timed)), key=lambda i: timed[i].get("steal_frac", 0.0))
    return [timed[i] for i in sorted(keep[:TIMED_PASSES])]


def end_to_end(runner: Runner, timed: list[dict], setups: list[dict], rss_mb: float, workload: str):
    used = least_stolen(timed)
    if len(used) < len(timed):
        print(f"{len(used)} of {len(timed)} timed passes used: those with the least host steal")
    timed = used
    samples = [w for p in timed for w in p["queries"].values()]
    if not samples:
        raise RuntimeError("no query completed in the timed passes")
    q, tail_v, beyond = stats.tail(samples)
    pass_walls = [p["wall_s"] for p in timed]
    ok = runner.attempted - runner.failed
    values = {
        "pass_s": (statistics.median(pass_walls), f"median of {len(pass_walls)} timed passes"),
        "query_p50_s": (stats.p50(samples), f"n={len(samples)} samples"),
        "query_tail_s": (tail_v, f"p{q}, {beyond} samples beyond, n={len(samples)}"),
        "ok_frac": (ok / runner.attempted, f"{ok}/{runner.attempted} queries ok"),
        "setup_s": (
            statistics.median([s["setup_s"] for s in setups]),
            f"median of {len(setups)} set-ups; the first, which launched the JVM, "
            f"took {setups[0]['setup_s']:.3f} s",
        ),
        "driver_peak_rss_mb": (rss_mb, "driver JVM VmHWM at end of run"),
    }
    for name, (value, note) in values.items():
        print(f"{workload}/{name} = {value:.6g} {END_TO_END[name]}  ({note})")
    return {name: {"value": v, "unit": END_TO_END[name]} for name, (v, _) in values.items()}


def set_up(wl, seed: int, data_dir: str):
    """``SETUP_REPS`` set-ups, each an input generation and write, a
    session start and the input registration; the last session stays
    up.  Returns ``(spark, tables, input_rows, setups)``."""
    from flox_spark.session import get_spark

    spark, setups = None, []
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        rows = wl.generate(seed, data_dir)
        t1 = time.perf_counter()
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        tables = wl.register(spark, data_dir)
        t3 = time.perf_counter()
        setups.append({
            "write_s": t1 - t0, "session_s": t2 - t1, "register_s": t3 - t2,
            "load_s": (t1 - t0) + (t3 - t2), "setup_s": t3 - t0,
        })
        print(f"set-up {len(setups)}: inputs {rows} written {t1 - t0:.3f} s, "
              f"session {t2 - t1:.3f} s, registered {t3 - t2:.3f} s")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, tables, rows, setups


def run(args, run_dir: str) -> tuple[dict, dict]:
    """One benchmark run; returns ``(result, record)``."""
    from flox_spark import set_options

    wl = workloads.get(args.workload)
    data_dir = os.path.join(run_dir, "data")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    configure_spark(run_dir, event_dir)
    record: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    spark, tables, record["input_rows"], setups = set_up(wl, args.seed, data_dir)
    try:
        runner = Runner(spark, wl, data_dir, tables, check.duck(data_dir, wl.tables))
        led = ledger.Ledger(spark) if args.trace else None
        with set_options(**wl.options):
            runner.run_pass("check")
            runner.warm_up()
            print(f"warm-up done {time.perf_counter() - T_START:.3f} s after start")
            if led is None:
                timed = runner.measure(args.seconds, ["timed"])
            else:
                led.install()
                try:
                    timed = runner.measure(args.seconds, ["timed", "traced"], led)
                finally:
                    led.uninstall()
        rss_mb = jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)

    record.update(setups=setups, passes=runner.passes)
    if led is None:
        metrics = end_to_end(runner, timed, setups, rss_mb, wl.name)
    else:
        events = ledger.parse_event_log(ledger.event_log_files(event_dir, app_id))
        metrics, record["per_query"] = layers.per_layer(
            timed, led, events, setups, int(os.environ["SPARK_GRAFT_CPUS"])
        )
        layers.print_table(wl.name, record["per_query"])
    record.update(metrics=metrics, attempted=runner.attempted, failed=runner.failed)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, record


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import flox_spark  # noqa: F401  (the program under test)
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{record['workload']}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
