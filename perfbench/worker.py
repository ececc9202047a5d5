"""One benchmark process: set-up, cold pass, warm passes, output checks.

Started by ``run.py`` as a fresh interpreter with the repository root on
``PYTHONPATH``, a private ``TMPDIR``/``SPARK_LOCAL_DIRS`` and a scratch
working directory. Usage: ``python3 worker.py SPEC.json``; the result is
written to the spec's ``out`` path as JSON.

All timing wraps calls into the engine's public functions:
``session.get_spark``, ``sources.tables.load_table``,
``REGISTRY[name].fn`` (plan build, including any eager work the plan
does) and the ``noop`` sink (execution). An untraced run uses plain
timers. A traced run keeps every timing as a span (name, start, end,
parent, trace id) in memory, tags each query's jobs with a job group and
counts them through ``SparkContext.statusTracker()``; its warm passes
alternate traced and untraced, so the two medians give the tracing
overhead. An untimed warm-up pass sits between the cold pass and the
warm passes.

Outputs are checked outside the timed regions: on the cold pass every
query's rows against the DuckDB oracle's answer, and on every warm pass
each query without an oracle against its cold-pass answer.
"""

from __future__ import annotations

import json
import os
import random
import resource
import sys
import time
import traceback

from oracle import answer


def session_cpu_s() -> float:
    """CPU seconds (user and system, with those of reaped children) of
    the live processes in this process's session: this driver, its JVM,
    the Python worker daemon and its workers. Time the host steals from
    the VM is not in it, unlike in wall time."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Clock:
    """Plain timers: ``start`` returns a start time, ``end`` the seconds since."""

    def start(self, name: str, parent, trace_id: str, t0: float | None = None) -> float:
        return time.monotonic() if t0 is None else t0

    def end(self, t0: float) -> float:
        return time.monotonic() - t0


class Tracer:
    """In-memory spans: ``start`` opens one and returns its id, ``end`` closes it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None, trace_id: str, t0: float | None = None) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "trace_id": trace_id, "start": time.monotonic() if t0 is None else t0,
            "end": None,
        })
        return len(self.spans) - 1

    def end(self, sid: int) -> float:
        s = self.spans[sid]
        s["end"] = time.monotonic()
        return s["end"] - s["start"]

    def finish(self) -> list[dict]:
        """The spans, each with its self time: its duration minus the
        part its direct children cover (children of one parent run one
        after another, never overlap)."""
        for s in self.spans:
            s["self"] = s["end"] - s["start"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self"] -= s["end"] - s["start"]
        return self.spans


class Run:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.clock = Clock()
        self.tracer = Tracer() if spec["trace"] else None
        self.seen: dict = {}  # first answer of each query without an oracle
        self.failures: list[dict] = []
        self.attempted = 0
        self.jvm_dead = False

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        spec = self.spec
        tr = self.tracer or self.clock
        t0 = spec["t_spawn"]
        self.run_span = tr.start("run", None, "run", t0)
        setup = tr.start("setup", self.run_span, "setup", t0)
        s = tr.start("session.start", setup, "setup", t0)
        from pydra_map_reduce_spark.plans import REGISTRY
        from pydra_map_reduce_spark.session import get_spark
        from pydra_map_reduce_spark.sources.tables import load_table

        self.registry = REGISTRY
        self.spark = get_spark(app_name="perfbench")
        self.sc = self.spark.sparkContext
        parts = {"session.start": tr.end(s)}
        self.setup_parts = parts
        if spec["setup_only"]:
            return
        s = tr.start("sources.load", setup, "setup")
        frames = [load_table(self.spark, spec["tier"], t) for t in spec["tables"]]
        parts["sources.load"] = tr.end(s)
        s = tr.start("sources.scan", setup, "setup")
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        parts["sources.scan"] = tr.end(s)
        tr.end(setup)

    # -- query execution ------------------------------------------------
    def _alive(self) -> bool:
        try:
            return not self.sc._jsc.sc().isStopped()
        except Exception:
            return False

    def _fail(self, name: str, phase: str, err: str) -> None:
        self.failures.append({"query": name, "phase": phase, "error": err[-2000:]})
        if not self.jvm_dead and not self._alive():
            self.jvm_dead = True

    def _check(self, name: str, label: str, df) -> None:
        """Compare the rows with the oracle's answer or, for a query
        without an oracle, with its first answer in this process."""
        try:
            got = answer(df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            self._fail(name, f"{label} check", traceback.format_exc())
            return
        want = self.spec["answers"][name] or self.seen.setdefault(name, got)
        if got != want:
            self._fail(name, f"{label} check", f"got {got}, want {want}")

    def run_pass(self, label: str, names: list[str], traced: bool) -> dict:
        """Time every query once (plan build, then noop-sink execution)
        and check the outputs due on this pass. The pass time leaves the
        checks out."""
        tr = self.tracer if traced else self.clock
        p = tr.start("pass", self.run_span, label)
        cpu0 = session_cpu_s()
        check_s = check_cpu = 0.0
        per_query = []
        for name in names:
            if self.jvm_dead:
                break
            self.attempted += 1
            tid = f"{label}:{name}"
            q = tr.start("query", p, tid)
            if traced:
                self.sc.setJobGroup(tid, name)
            rec = {"query": name, "build": None, "exec": None}
            df = None
            try:
                b = tr.start("plans.build", q, tid)
                df = self.registry[name].fn(self.spark, self.spec["tier"])
                rec["build"] = tr.end(b)
                e = tr.start("exec.run", q, tid)
                df.write.format("noop").mode("overwrite").save()
                rec["exec"] = tr.end(e)
            except Exception:
                self._fail(name, label, traceback.format_exc())
            if traced and not self.jvm_dead:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._job_counts(tid))
            tr.end(q)
            if rec["exec"] is not None and (label == "cold" or self.spec["answers"][name] is None):
                c = tr.start("check", p, tid)
                c_cpu = session_cpu_s()
                self._check(name, label, df)
                check_cpu += session_cpu_s() - c_cpu
                check_s += tr.end(c)
            per_query.append(rec)
        return {
            "label": label, "wall": tr.end(p) - check_s,
            "cpu": session_cpu_s() - cpu0 - check_cpu, "traced": traced, "queries": per_query,
        }

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:  # skipped stages are never submitted
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- resources ------------------------------------------------------
    def peak_rss_parts_mb(self) -> dict:
        """JVM VmHWM and this driver process's ru_maxrss."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        hwm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        return {"jvm": hwm_kb / 1024.0, "driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}


def _bytes_under(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    run = Run(spec)
    run.setup()
    out: dict = {"setup_parts": run.setup_parts}
    if spec["setup_only"]:
        _finish(spec, out)

    names = list(spec["queries"])
    traced = spec["trace"]
    passes = [run.run_pass("cold", names, traced)]
    rng = random.Random(spec["seed"])
    # One warm-up pass, checked but not counted: after the cold pass the
    # JVM is still compiling hot code, and the first warm pass costs
    # about a third more CPU than the ones after it.
    passes.append(run.run_pass("warmup", rng.sample(names, len(names)), False))
    # Warm passes for the run's seconds, the order shuffled per pass
    # from the workload seed; a traced run alternates traced and
    # untraced passes.
    min_passes = 4 if traced else 3
    t_end = time.monotonic() + spec["seconds"]
    i = 0
    while not run.jvm_dead and (i < min_passes or time.monotonic() < t_end):
        passes.append(run.run_pass(f"warm{i}", rng.sample(names, len(names)), traced and i % 2 == 0))
        i += 1
    out.update({
        "passes": passes,
        "peak_rss_parts_mb": run.peak_rss_parts_mb() if not run.jvm_dead else None,
        "io_bytes": _bytes_under(os.environ["TMPDIR"]),
        "modules": {n: run.registry[n].fn.__module__.rsplit(".", 1)[-1] for n in names},
        "attempted": run.attempted,
        "failures": run.failures,
        "jvm_dead": run.jvm_dead,
    })
    if traced:
        run.tracer.end(run.run_span)
        out["spans"] = run.tracer.finish()
    _finish(spec, out)


def _finish(spec: dict, out: dict) -> None:
    """Write the result and exit at once; ``run.py`` then kills this
    process's session (the JVM and its Python workers) and waits for it."""
    with open(spec["out"], "w") as f:
        json.dump(out, f)
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
