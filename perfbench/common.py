"""Benchmark-process plumbing: the child process, its RSS, and statistics.

The program under test runs in ONE child process (``perfbench/child.py``)
that owns the SparkSession.  The benchmark talks to it over two pipes:
JSON commands on the child's stdin, JSON replies on the child's stdout.
Everything the child's JVM or Spark prints goes to ``child.log`` in the
run's work directory.

The child is started in a session of its own, so the JVM and the Python
workers it forks can be measured (peak RSS summed over its tree) and
stopped together: every process of that session, and no other.
"""

from __future__ import annotations

import json
import os
import select
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_engineering_financial_analysis_spark"

#: Driver heap for the child JVM: far below host RAM.  The backfill's EMA
#: fold builds a history array per row (~36 MB per symbol); with a 1 GB
#: heap its run times spread by a third between runs, with 2 GB by a
#: tenth.
DRIVER_MEM = "2g"
PAGE = os.sysconf("SC_PAGE_SIZE")

def nproc() -> int:
    return len(os.sched_getaffinity(0))


class ChildError(RuntimeError):
    pass


def _procs() -> dict[int, tuple]:
    """pid -> (ppid, session, comm) of every live (non-zombie) process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; fields after it are fixed
        comm = stat[stat.index("(") + 1: stat.rfind(")")]
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), int(fields[3]), comm)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _own_memory(root: int) -> list[int]:
    """``root`` and its live descendants whose memory is their own.

    A process the JVM is spawning shares the JVM's address space until it
    execs (``posix_spawn`` is a vfork) and would count the whole heap a
    second time: such a child has its parent's executable but its
    spawning thread's name, and is left out.  Forked Python workers keep
    their parent's name and are counted.
    """
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    own, todo = [], [root] if root in procs else []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        ppid, _, comm = procs[pid]
        if pid == root or procs[ppid][2] == comm or _exe(pid) != _exe(ppid):
            own.append(pid)
    return own


def _rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` summed, in MB.  Read from ``statm``,
    which costs microseconds: ``smaps`` would walk the JVM's page tables
    under its memory-map lock on every sample."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 2**20


class Child:
    """The program under test, driven through its stdin/stdout.

    ``peak_rss_mb`` is the highest resident memory summed over the
    child's process tree (JVM and Python workers), sampled every
    ``SAMPLE_S`` while the benchmark waits on it and whenever
    :meth:`sample` is called.
    """

    SAMPLE_S = 0.1

    def __init__(self, workload: str, workdir: str, config: dict) -> None:
        self.workdir = workdir
        cfg_path = os.path.join(workdir, "child_config.json")
        with open(cfg_path, "w") as f:
            json.dump(config, f)
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        # Spark's Python workers import the package by name: the checkout
        # root must be on their path, whatever the caller's working dir.
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["PYSPARK_PYTHON"] = sys.executable
        env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        env["SPARK_GRAFT_CPUS"] = str(nproc())
        env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
        env["TMPDIR"] = tmp
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.peak_rss_mb = 0.0
        self._log = open(os.path.join(workdir, "child.log"), "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), workload, cfg_path],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            cwd=workdir,
            env=env,
            start_new_session=True,
        )
        self._buf = b""

    def sample(self) -> None:
        rss = _rss_mb(_own_memory(self.proc.pid))
        if rss > self.peak_rss_mb:
            self.peak_rss_mb = rss

    def send(self, cmd: str, **kw) -> None:
        self.proc.stdin.write((json.dumps({"cmd": cmd, **kw}) + "\n").encode())
        self.proc.stdin.flush()

    def recv(self, timeout: float = 120.0) -> dict:
        """Next reply; samples RSS while waiting.  A reply carrying
        ``error`` (the child's traceback) raises :class:`ChildError`."""
        deadline = time.monotonic() + timeout
        fd = self.proc.stdout.fileno()
        while b"\n" not in self._buf:
            left = deadline - time.monotonic()
            if left <= 0:
                raise ChildError(f"child reply timed out after {timeout:.0f}s")
            ready, _, _ = select.select([fd], [], [], min(self.SAMPLE_S, left))
            if ready:
                chunk = os.read(fd, 1 << 16)
                if not chunk:
                    raise ChildError(
                        f"child exited (code {self.proc.wait()}); see {self._log.name}"
                    )
                self._buf += chunk
            self.sample()
        line, self._buf = self._buf.split(b"\n", 1)
        msg = json.loads(line)
        if "error" in msg:
            raise ChildError(msg["error"])
        return msg

    def call(self, cmd: str, timeout: float = 120.0, **kw) -> dict:
        self.send(cmd, **kw)
        return self.recv(timeout)

    def close(self) -> None:
        """Ask the child to stop Spark and exit; then make sure every
        process of its session has ended (Spark's Python daemon moves
        to a process group of its own, but stays in the session)."""
        self.sample()
        try:
            if self.proc.poll() is None:
                self.send("exit")
                self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            pass
        left = self._leftovers()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
            while left and time.monotonic() < deadline:
                time.sleep(0.05)
                left = self._leftovers()
        self.proc.wait(timeout=10)
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._log.close()
        if left:
            raise ChildError(f"processes {sorted(left)} did not stop")

    def _leftovers(self) -> list[int]:
        """Live processes of the child's session.  Their session id is
        the child's pid, which the kernel does not hand out again while
        the session has a member."""
        return [pid for pid, (_, sid, _) in _procs().items() if sid == self.proc.pid]


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def sleep_until(t: float, child: Child | None = None) -> None:
    """Sleep until ``perf_counter() >= t``, sampling the child's RSS."""
    while True:
        left = t - time.perf_counter()
        if left <= 0:
            return
        if child is not None and left > 0.02:
            child.sample()
        time.sleep(min(left, Child.SAMPLE_S))
