"""The closed-loop run: set-up, one pass, checks, report.

One driver process, one operation at a time. A run is:

1. ``prepare``: each part of the workload writes its seeded inputs (not
   timed);
2. set-up: a fresh JVM's session start plus a first trivial job
   (``setup_s``), what every batch job pays before its first stage;
3. the pass: each part in turn, timed op by op (``pass_s``). The pass is
   cold, as the paper's batch job is. The peak RSS is read when it ends;
4. the checks of every part's outputs, outside the timed region.

With ``--trace 1`` the pass is traced: spans, job groups and Spark's event
log give the per-layer metrics, and ``trace.pass_s`` is the traced pass
time. Tracing overhead is ``trace.pass_s`` minus ``pass_s`` of the untraced
run with the same seed.
"""

from __future__ import annotations

import json
import os
import time

from spans import Tracer, median, read_event_log, sum_jobs, totals_by_name


class Op:
    """One timed operation of a pass."""

    __slots__ = ("name", "seconds", "ok", "error")

    def __init__(self, name: str, seconds: float, ok: bool = True, error: str | None = None):
        self.name, self.seconds, self.ok, self.error = name, seconds, ok, error


class Pass:
    """Timed operations of one pass plus whatever the checks need. In a
    ``chained`` pass each op feeds the next, so a failed op fails the rest."""

    def __init__(self, chained: bool = True):
        self.ops: list[Op] = []
        self.outputs: dict = {}
        self.chained = chained
        self.failed_from: str | None = None
        self.cpu_s = 0.0
        self.window_ms = (0.0, 0.0)  # wall-clock start and end, epoch ms

    def op(self, name: str, fn, *args, **kw):
        """Time ``fn``; an exception fails this op (and, chained, every later one)."""
        if self.chained and self.failed_from is not None:
            self.ops.append(Op(name, 0.0, False, f"skipped after {self.failed_from}"))
            return None
        t = time.perf_counter()
        try:
            out = fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - reported as a failed op
            self.ops.append(Op(name, time.perf_counter() - t, False, f"{type(e).__name__}: {e}"[:500]))
            self.failed_from = name
            return None
        self.ops.append(Op(name, time.perf_counter() - t))
        return out

    @property
    def seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    def fail(self, op_name: str, why: str) -> None:
        for o in self.ops:
            if o.name == op_name and o.ok:
                o.ok, o.error = False, why


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including the
    children each has reaped (so finished Python workers still count)."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / _TICK
    total, todo = 0.0, [root]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(kids.get(pid, []))
    return total


def steal_s() -> float:
    """Steal time of all CPUs since boot, in seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid: int | str) -> None:
    """Restart the process's peak RSS (VmHWM) from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def start_session(extra_conf: dict):
    from bioeco_portal_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(parts: list, seed: int, trace: bool, tmp: str) -> dict:
    """Run the workload modules ``parts`` in order as one pass."""
    states = [wl.prepare(os.path.join(tmp, f"in{i}"), seed) for i, wl in enumerate(parts)]

    # the JVM's temp files stay in the run's temp dir. C1 only: with C2 a
    # cold pass spends ~50 CPU-s compiling in the background, keeps the 4
    # vCPUs busy and slowed by 27-74% when two CPU hogs shared them; with C1
    # the pass takes 75-90 CPU-s instead of 120-150 and the same hogs
    # slowed it by 5%. Serial GC sizes the heap from the data live after
    # each collection, not from GC-time goals as G1 does, so the peak RSS
    # follows what the program holds rather than when collections ran
    conf = {"spark.driver.extraJavaOptions":
            "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    log_dir = os.path.join(tmp, "eventlog")
    if trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })

    spark, start_s, job_s = start_session(conf)
    tr = Tracer(spark, enabled=trace)
    passes: list[Pass] = []
    # the peak RSS is the pass's: input generation ran before it and the
    # checks (DuckDB oracles in this process) run after it is read
    reset_hwm("self")
    steal0 = steal_s()
    for i, (wl, state) in enumerate(zip(parts, states)):
        cpu0, t0 = tree_cpu_s(os.getpid()), time.time()
        p = wl.run_pass(spark, state, os.path.join(tmp, f"out{i}"), tr)
        p.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        p.window_ms = (t0 * 1000, time.time() * 1000)
        passes.append(p)
    steal = steal_s() - steal0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0

    for wl, state, p in zip(parts, states, passes):
        try:
            wl.check(spark, state, p)
        except Exception as e:  # noqa: BLE001 - output that cannot be checked is wrong
            for o in p.ops:
                p.fail(o.name, f"check raised {type(e).__name__}: {e}"[:500])
    stop_jvm(spark)

    ops = [o for p in passes for o in p.ops]
    failed = [o for o in ops if not o.ok]
    layers: dict = {}
    for wl, state, p in zip(parts, states, passes):
        layers.update(wl.layer_metrics(state, p))
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "e2e": {
            "setup_s": start_s + job_s,
            "pass_s": sum(p.seconds for p in passes),
            "pass_cpu_s": sum(p.cpu_s for p in passes),
            "peak_rss_mb": rss_mb,
        },
        "errors": sorted({f"{o.name}: {o.error}" for o in failed})[:20],
    }
    detail = {
        "samples": {"setup_s": 1, "pass_s": 1},
        "session.start_s": start_s,
        "session.first_job_s": job_s,
        # vCPU time the hypervisor gave to other guests during the pass: a
        # diagnostic for a slow run, not a metric
        "host.steal_s": steal,
        "parts": {wl.__name__: {"pass_s": p.seconds, "cpu_s": p.cpu_s}
                  for wl, p in zip(parts, passes)},
        "ops": {o.name: {"s": o.seconds, "ok": o.ok} for o in ops},
        "layers": layers,
    }
    if trace:
        detail.update(_trace_metrics(passes, tr, log_dir))
    result["detail"] = detail
    return result


def per_layer_values(detail: dict) -> dict:
    """The flat per-layer metrics of a traced run."""
    out = {
        "session.start_s": detail["session.start_s"],
        "session.first_job_s": detail["session.first_job_s"],
        "trace.pass_s": detail["trace.pass_s"],
        "trace.spans": detail["trace.spans"],
    }
    out.update({f"spark.{k}": v for k, v in detail["spark"].items()})
    return out


def _trace_metrics(passes: list[Pass], tr: Tracer, log_dir: str) -> dict:
    """Per-layer numbers of the traced pass. Engine totals count every job
    submitted while it ran (streaming micro-batches run under their query's
    own job group); per-span totals count the jobs in the span's group."""
    jobs = read_event_log(log_dir)
    incl = totals_by_name(tr.spans)
    own = totals_by_name(tr.spans, self_time=True)
    per_span: dict[str, dict] = {}
    for s in tr.spans:
        acc = sum_jobs(jobs, lambda j, g=s["group"]: j["group"] == g)
        if acc["jobs"]:
            slot = per_span.setdefault(s["name"], dict.fromkeys(acc, 0))
            for k, v in acc.items():
                slot[k] += v
    return {
        "trace.pass_s": sum(p.seconds for p in passes),
        "trace.spans": len(tr.spans),
        "spans": {
            k: {"median_s": median(v), "self_median_s": median(own[k]), "n": len(v)}
            for k, v in incl.items()
        },
        "spark": sum_jobs(jobs, lambda j: any(
            p.window_ms[0] <= j["submitted"] <= p.window_ms[1] for p in passes)),
        "spark_by_span": per_span,
        "span_records": tr.spans,
    }


def dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)
