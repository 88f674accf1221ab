"""Closed-loop harness shared by every workload.

One client: a job is submitted only after the previous one completed.
The run is

1. set-up (``setup_s``): Spark session start and seeded input generation
   with the expected outputs;
2. the timed loop (``timed_loop``): jobs run back to back until
   ``--seconds`` have passed, at least one; each job's output is checked
   after its latency is taken, and a job that raised or failed its check
   counts as failed. There is no warm-up: the first job is the first of
   a fresh JVM, as in a batch run of the pipeline;
3. with ``--trace 1``, the per-layer numbers from the tracer and from the
   Spark event log, each divided by the number of timed jobs.

The result line carries the metric names and units of ``BENCHMARK.json``.

A workload is a class with ``name`` and the methods
``setup()``, ``install_trace()``, ``run_job(i)``, ``check(i, out)`` (a list
of errors), ``digest(out)``, ``input_digest()``, ``input_rows(i)``,
``sizes()`` and ``layer_metrics(n_jobs)``.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import eventlog
from perfbench.trace import KIND_PROP, Tracer, is_timed


@dataclass
class Context:
    """What a workload gets from the harness."""

    spark: object
    work: str
    seed: int
    cores: int
    tracer: Tracer


def sha(chunks) -> str:
    """Order-sensitive digest of an iterable of strings or bytes."""
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else str(c).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def sorted_file_lines(paths) -> list[str]:
    """Every line of the given files, sorted: row order inside a sink file
    is not part of its contract."""
    lines = []
    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            lines += [f"{os.path.basename(path)}:{line}" for line in fh]
    return sorted(lines)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), read from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_mb(p) for p in _descendants(me))
            self.peak_mb = max(self.peak_mb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: str, n_cores: int, trace: bool):
    """The engine's own session factory, sized to the machine's cores,
    with every scratch path inside the checkout."""
    from hiv_data_integration_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.local.dir": local,
        # a fixed, pre-touched heap (-Xms = spark.driver.memory) keeps peak
        # RSS from depending on how much of the heap GC happened to touch
        # in one job; -XX:-UsePerfData keeps hsperfdata files out of /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms4g -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.default.parallelism": str(n_cores),
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logs,
                # Spark 4 defaults to zstd, whose Python module is absent
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=n_cores,
        extra_conf=conf,
    )


@dataclass
class Loop:
    latencies: list[float] = field(default_factory=list)
    failed: int = 0
    rows: int = 0
    digests: list[str] = field(default_factory=list)


def timed_loop(wl, tracer: Tracer, seconds: float) -> Loop:
    """Closed loop, one client: run jobs back to back until ``seconds``
    have passed (at least one job). A job that raises or fails its output
    check counts as failed; the check runs outside the job's latency."""
    loop = Loop()
    t_start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_start < seconds:
        out, ok = None, True
        with tracer.job(str(i)):
            t0 = time.perf_counter()
            try:
                out = wl.run_job(i)
            except Exception:  # a failed job is counted, not fatal
                traceback.print_exc()
                ok = False
            loop.latencies.append(time.perf_counter() - t0)
        if ok:
            errors = wl.check(i, out)
            if errors:
                print(f"job {i} check failed: {errors}", file=sys.stderr)
                ok = False
            loop.digests.append(wl.digest(out))
        loop.failed += not ok
        loop.rows += wl.input_rows(i)
        i += 1
    return loop


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (the
    gateway JVM exits when its stdin closes; its Python workers go with
    the stopped context)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(workload_cls, root: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """Run one workload; returns ``(result_line, run_stamp)``."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]

    n_cores = cores()
    work = os.path.join(root, ".perfbench_work", workload_cls.name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = _loadavg()

    with RssSampler() as rss:
        t_setup = time.perf_counter()
        spark = start_spark(work, n_cores, trace)
        session_start_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext, trace)
        ctx = Context(spark=spark, work=work, seed=seed, cores=n_cores, tracer=tracer)
        wl = workload_cls(ctx)
        wl.setup()
        wl.install_trace()
        setup_s = time.perf_counter() - t_setup

        loop = timed_loop(wl, tracer, seconds)
        i, latencies = len(loop.latencies), loop.latencies
        layer = wl.layer_metrics(i) if trace else {}
        stop_spark(spark)
    load_after = _loadavg()

    if trace:
        # layers a workload does not exercise read 0
        metrics = {name: 0.0 for name in wanted}
        metrics.update({k + "_s": v / i for k, v in tracer.seconds.items()})
        metrics.update(layer)
        metrics.update(_exec_metrics(work, i))
        metrics["session.start_s"] = session_start_s
        metrics["trace.job_s.p50"] = _median(latencies)
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s.p50": _median(latencies),
            "rows_per_s": loop.rows / sum(latencies),
            "peak_rss_mb": rss.peak_mb,
        }

    import pyspark

    stamp = {
        "workload": workload_cls.name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "nproc": n_cores,
        "mem_total_mb": round(_mem_total_mb()),
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "input_sizes": wl.sizes(),
        "jobs": i,
        "failed_ratio": loop.failed / i,
        "job_latencies_s": latencies,
        "input_digest": wl.input_digest(),
        "output_digests": loop.digests,
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "note": "readings belong to the host stamped here; not comparable with BASELINE.md",
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": i,
        "failed": loop.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": units[name]} for name in wanted
        },
    }
    with open(os.path.join(work, "run.json"), "w") as fh:
        json.dump({"stamp": stamp, "all_metrics": metrics}, fh, indent=1)
    return result, stamp


def _exec_metrics(work: str, n_jobs: int) -> dict[str, float]:
    """``spark.exec.*`` per timed job from the event log, plus the
    per-group breakdown written beside the run stamp."""
    logs = os.path.join(work, "eventlog")
    (name,) = os.listdir(logs)
    with open(os.path.join(logs, name)) as fh:
        parsed = eventlog.parse_event_log(fh, keep=is_timed)
    tot = eventlog.totals(parsed)
    build_jobs = sum(
        1 for j in parsed["jobs"].values() if j["props"].get(KIND_PROP) == "build"
    )
    with open(os.path.join(work, "groups.json"), "w") as fh:
        json.dump(parsed["groups"], fh, indent=1, sort_keys=True)
    out = {
        f"spark.exec.{k}": v / n_jobs
        for k, v in tot.items()
        if k not in ("parallelism", "exec_wall_s")
    }
    out["spark.exec.build_jobs"] = build_jobs / n_jobs
    out["spark.exec.parallelism"] = tot["parallelism"]
    kmeans = parsed["groups"].get("operators.similarity.kmeans")
    if kmeans:
        out["operators.similarity.kmeans_jobs"] = kmeans["jobs"] / n_jobs
    return out
