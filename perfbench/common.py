"""Shared plumbing for the benchmark: work directories inside the
checkout, the Spark session, host evidence from ``/proc``, percentile
helpers, and the in-memory tracer.

Everything the benchmark writes lands under the checkout it runs from
(``.bench_cache/`` for generated inputs, ``.bench_work/`` for one
run's scratch, ``.bench_out/`` for run records and traces); all three
are git-ignored.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".bench_cache")
WORK_DIR = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")

#: local[N] with N = the CPUs this process may run on
NPROC = len(os.sched_getaffinity(0))

#: JVM heap (-Xms and -Xmx)
HEAP = "2g"


def make_run_dir(name: str) -> str:
    path = os.path.join(WORK_DIR, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def start_spark(run_dir: str):
    """``get_spark`` on local[nproc] with every temp and scratch path
    pointed inside ``run_dir``. Returns (spark, session_start_seconds)."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from quanta_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cores=NPROC,
        shuffle_partitions=NPROC,
        extra_conf={
            # a fixed heap, touched at start: the JVM's RSS then does
            # not depend on when G1 chose to grow the heap, so peak
            # RSS moves with off-heap and Python-worker memory
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a wedged JVM must still go
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# host evidence
# ---------------------------------------------------------------------------


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), idle, steal


def cores_between(a: tuple[int, int, int], b: tuple[int, int, int]) -> tuple[float, float]:
    """(busy_cores, steal_cores) averaged over the interval a -> b."""
    total = max(b[0] - a[0], 1)
    ncpu = os.cpu_count() or 1
    steal = (b[2] - a[2]) / total * ncpu
    busy = (total - (b[1] - a[1]) - (b[2] - a[2])) / total * ncpu
    return busy, steal


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def python_worker_pids(jvm: int) -> list[int]:
    """The Python worker daemon the JVM started and every process below
    it. Other children of the JVM are short-lived shell commands (the
    local file system runs some), which report the JVM's whole RSS
    while they fork and are left out."""
    kids = _children()
    out, todo = [], [k for k in kids.get(jvm, []) if _comm(k).startswith("python")]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Samples, on a thread, the JVM's RSS plus the proportional set
    size of the Python workers (forked workers share pages with the
    daemon, so their RSS would count those pages once per worker);
    ``peak_mb`` is the largest sum seen. Summing per-process high-water
    marks would overstate a peak the processes never reached together."""

    def __init__(self, interval_s: float = 0.2, rescan_every: int = 10) -> None:
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.peak_kb = 0
        self.jvm_peak_kb = 0  # diagnostics: the JVM alone, and the
        self.max_procs = 0  # most live Python workers
        self._jvm = jvm_pid()
        self._workers: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self, rescan: bool = True) -> None:
        if self._jvm is None:
            return
        # walking /proc for the tree costs far more than reading a few
        # status files, so the tree is rescanned only every few samples
        if rescan:
            self._workers = python_worker_pids(self._jvm)
        jvm = _kb(f"/proc/{self._jvm}/status", "VmRSS:")
        workers = [_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in self._workers]
        self.peak_kb = max(self.peak_kb, jvm + sum(workers))
        self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)
        self.max_procs = max(self.max_procs, sum(1 for k in workers if k))

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            self._sample(rescan=n % self.rescan_every == 0)

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linearly interpolated percentile (q in 0..100) of a non-empty
    sequence (numpy's default method)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sequence")
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent span id
    and the run id they all share. ``span`` is a context manager;
    ``add`` records a span whose times were measured elsewhere (the
    per-batch phases rebuilt from query progress). A disabled tracer
    records nothing and costs one attribute check per call."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def new_id(self) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
        return sid

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: int | None = None,
        sid: int | None = None,
        **attrs,
    ) -> int | None:
        if not self.enabled:
            return None
        if sid is None:
            sid = self.new_id()
        with self._lock:
            self.spans.append(
                {
                    "run": self.run_id,
                    "id": sid,
                    "parent": parent,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )
        return sid

    def span(self, name: str, parent: int | None = None, **attrs) -> "_Span":
        return _Span(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of each span's duration minus the part
        of it its children cover (children are merged before
        subtracting, so overlapping children are not counted twice)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                cs, ce = max(c["start"], s["start"]), min(c["end"], s["end"])
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            own = max(0.0, (s["end"] - s["start"]) - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)
            f.write("\n")


class _Span:
    """Allocates its id on entry, so spans opened inside can name it as
    their parent; records itself on exit."""

    def __init__(self, tracer: Tracer, name: str, parent: int | None, attrs: dict) -> None:
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Span":
        if self.tracer.enabled:
            self.id = self.tracer.new_id()
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.add(self.name, self.start, time.time(), self.parent, sid=self.id, **self.attrs)
