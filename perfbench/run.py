"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate_parquet --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Scratch space inside the checkout; removed when the run ends.
SCRATCH = os.path.join(ROOT, ".perfbench_tmp")
#: Fixed core count, so the shape of the run does not follow the machine.
NPROC = min(4, len(os.sched_getaffinity(0)))
#: An op still running this long after the run started is cancelled (its
#: job tag only) and failed, so the run ends within 180 s.
RUN_DEADLINE_S = 160.0
WORKLOAD_NAMES = ("migrate_parquet", "curate")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class PssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers), sampled from /proc.  Each process counts its
    proportional set size, so pages the forked Python workers share with
    their daemon count once."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree_kb() -> int:
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self.peak_kb = max(self.peak_kb, self._tree_kb())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


class Context:
    """What the workloads share: the session, the seed, scratch space, and
    the op currently running (its Spark job tag and, when tracing, its span)."""

    def __init__(self, spark, seed: int, tmp: str, deadline: float):
        self.spark = spark
        self.deadline = deadline
        self.sc = spark.sparkContext
        self.seed = seed
        self.tmp = tmp
        self.nproc = NPROC
        self.tracer = None
        self.op_tag = None
        self.ops_run = self.rounds_run = 0

    def span(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name):
            return fn()

    def tag_table_workers(self) -> None:
        """Give ``convert_all``'s table-worker threads the current op's job
        tag (tags are thread-local), so a timeout cancels their jobs too."""
        from spanner_jdbc_converter_spark import converter

        convert_table = converter.convert_table

        def tagged(*args, **kwargs):
            tag = self.op_tag
            self.sc.addJobTag(tag)
            try:
                return convert_table(*args, **kwargs)
            finally:
                self.sc.removeJobTag(tag)

        converter.convert_table = tagged

    def run_op(self, name: str, fn) -> tuple[float, bool]:
        """Run one op on its own thread under a fresh job tag; on timeout
        cancel only that tag's jobs.  Returns (seconds, ok)."""
        self.ops_run += 1
        tag = self.op_tag = f"perfbench-op-{self.ops_run}"
        box: dict = {}

        def work():
            self.sc.addJobTag(tag)
            try:
                if self.tracer is None:
                    fn()
                else:
                    with self.tracer.op_span(f"op.{name}"):
                        fn()
            except Exception:
                box["error"] = traceback.format_exc()
            finally:
                self.sc.removeJobTag(tag)

        t0 = time.perf_counter()
        worker = threading.Thread(target=work, name=f"op-{name}", daemon=True)
        worker.start()
        worker.join(max(self.deadline - t0, 0.0))
        if worker.is_alive():
            self.sc.cancelJobsWithTag(tag)
            worker.join(10)
            box["error"] = f"still running at the run deadline; jobs tagged {tag} cancelled"
        seconds = time.perf_counter() - t0
        if "error" in box:
            print(f"perfbench: op {name} failed: {box['error']}", file=sys.stderr)
        return seconds, "error" not in box


class Rounds:
    """Timed rounds: per round {op: seconds} and the ops' job tags."""

    def __init__(self):
        self.times: list[dict[str, float]] = []
        self.tags: list[list[str]] = []
        self.attempted = self.failed = 0

    def round_s(self) -> list[float]:
        return [sum(t.values()) for t in self.times]


def check_op(ctx: Context, workload, name: str) -> bool:
    """Verify the outputs of the op just run, untimed and untraced (its
    Spark jobs carry no op tag and no span).  A mismatch fails the op."""
    t0 = time.perf_counter()
    if ctx.tracer is not None:
        ctx.tracer.paused = True
    try:
        bad = workload.check(name)
    except Exception:
        bad = [traceback.format_exc()]
    finally:
        if ctx.tracer is not None:
            ctx.tracer.paused = False
    print(f"perfbench: checked {name} in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    for msg in bad:
        print(f"perfbench: op {name} failed verification: {msg}", file=sys.stderr)
    return not bad


def run_rounds(ctx: Context, workload, seconds: float = 0.0) -> Rounds:
    """Closed loop: rounds back to back until ``seconds`` have passed (at
    least one round).  Each op is verified after it; a failed op ends the
    loop."""
    out = Rounds()
    start = time.perf_counter()
    while not out.times or time.perf_counter() - start < seconds:
        ctx.rounds_run += 1
        times, tags = {}, []
        out.times.append(times)
        out.tags.append(tags)
        for name, fn in workload.round(ctx.rounds_run):
            times[name], ok = ctx.run_op(name, fn)
            tags.append(ctx.op_tag)
            ok = ok and check_op(ctx, workload, name)
            out.attempted += 1
            if not ok:
                out.failed += 1
                return out
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(rounds: Rounds, setup_s: float) -> dict:
    """The user-visible metrics."""
    return {
        "setup_s": (setup_s, "s"),
        "round_s": (median(rounds.round_s()), "s"),
    }


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={tmp} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            # Spark 4.1 compresses event logs with zstd by default, and
            # this Python has no zstd module.
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_jvm() -> None:
    """End the JVM (and with it the Python workers) and wait for it, so the
    run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("pyspark") is None or not os.path.isdir(
        os.path.join(ROOT, "spanner_jdbc_converter_spark")
    ):
        print("perfbench: run from a checkout holding spanner_jdbc_converter_spark/", file=sys.stderr)
        return 2

    os.makedirs(SCRATCH, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=SCRATCH)
    # Python workers import the package from the checkout whatever their
    # cwd; every stray file (derby.log, spark-warehouse, temp files) lands
    # in the run's scratch directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    os.chdir(tmp)
    # Peak memory is a traced-run metric; untraced runs do not scan /proc.
    sampler = PssSampler() if args.trace else None
    if sampler is not None:
        sampler.start()
    spark_holder: list = []
    try:
        return _run(args, tmp, sampler, spark_holder)
    finally:
        for s in spark_holder:
            s.stop()
        if "pyspark" in sys.modules:
            stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        if sampler is not None:
            sampler.stop()
        try:
            os.rmdir(SCRATCH)
        except OSError:
            pass


def _run(args, tmp: str, sampler: PssSampler | None, spark_holder: list) -> int:
    from perfbench.workloads import WORKLOADS
    from spanner_jdbc_converter_spark.session import get_spark

    t0 = time.perf_counter()
    deadline = t0 + RUN_DEADLINE_S
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{NPROC}]",
        extra_conf=session_conf(tmp, bool(args.trace)),
    )
    spark_holder.append(spark)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0

    ctx = Context(spark, args.seed, tmp, deadline)
    workload = WORKLOADS[args.workload](ctx)
    ctx.tag_table_workers()
    workload.setup()
    setup_s = time.perf_counter() - t0
    print(
        f"perfbench: session {session_start_s:.2f} s, inputs {setup_s - session_start_s:.2f} s",
        file=sys.stderr,
    )

    # No warm-up: the first timed round pays class loading, codegen, JIT and
    # the Python workers' start, as a one-shot job does.
    if args.trace:
        from perfbench import trace

        ctx.tracer = trace.Tracer(ctx.sc)
        trace.install_layer_spans(ctx.tracer)
    rounds = run_rounds(ctx, workload, args.seconds)
    print(f"perfbench: rounds {rounds.times}", file=sys.stderr)
    tracer, ctx.tracer = ctx.tracer, None
    if tracer is not None:
        tracer.uninstall()

    failed = rounds.failed
    if tracer is not None:
        # The same ops once more, untraced: tracing must not change the
        # jobs a round launches.  This reference round is the session's
        # second, so it runs warm; a job count that differs between a cold
        # and a warm round fails the traced run too.
        reference = run_rounds(ctx, workload)
        if reference.failed:
            print("perfbench: untraced reference round failed", file=sys.stderr)
            return 1
    spark_holder.pop().stop()
    if tracer is not None:
        log = trace.read_event_log(os.path.join(tmp, "eventlog"))

        def round_jobs(r: Rounds) -> float:
            return median([sum(trace.jobs_with_tag(log, t) for t in tags) for tags in r.tags])

        extra_jobs = round_jobs(rounds) - round_jobs(reference)
        if extra_jobs:
            print(f"perfbench: the traced round launched {extra_jobs:+g} jobs "
                  "against the untraced one", file=sys.stderr)
            failed = min(rounds.attempted, failed + 1)
        extra = {
            "session_start_s": session_start_s,
            "peak_pss_mb": sampler.stop(),
            "round_s": median(rounds.round_s()),
        }
        metrics = trace.layer_metrics(tracer.spans, log, len(rounds.times), workload, extra)
    else:
        metrics = end_to_end(rounds, setup_s)
    for gap in workload.gaps:
        print(f"perfbench: known gap: {gap}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": rounds.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
