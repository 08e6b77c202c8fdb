"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in this process on
``local[N]``, N being the CPUs this process may use. Set-up (session start,
input staging, the warm-up and check pass) is timed as
``setup_s``; then whole rounds of the workload's operations repeat until
``--seconds`` have passed. With ``--trace 0`` the last stdout line carries
the end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a traced run, and the spans go to ``perfbench/traces/``.

Everything the run writes (Spark local dirs, warehouse, temp files, the
staged tables and the load output) lives under ``perfbench/.run/`` in the
checkout and is deleted when the run ends.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _proc_table() -> dict[int, tuple[int, int, tuple[str, int]]]:
    """pid -> (parent pid, resident bytes, (command name, virtual size))
    for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
        except (OSError, ValueError):
            continue
        fields = rest.split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * page, (comm, int(fields[20])))
    return out


def descendants(pid: int) -> dict[int, int]:
    """pid -> resident bytes for ``pid`` and every process below it.

    A child with its parent's command name and virtual size has not yet
    exec'd: it shares the parent's pages, and counts 0. The JVM starts its
    helper processes with vfork, whose child reports the whole JVM as its
    own resident set until it execs; counted, one such child caught by the
    sampler added 3.7 GB to a round's peak."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for p, (pp, _, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, stack = {}, [pid]
    while stack:
        p = stack.pop()
        if p in table:
            pp, rss, image = table[p]
            shared = p != pid and pp in table and table[pp][2] == image
            out[p] = 0 if shared else rss
            stack.extend(children.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree (the driver JVM and the
    Python workers included), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, sum(descendants(os.getpid()).values()))
            self._stop_event.wait(0.2)

    def take_peak(self) -> int:
        """The peak since the last call."""
        peak, self.peak = self.peak, 0
        return peak

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _prepare_env(work: str, cpus: int) -> None:
    """Session settings for a steady, self-contained run. Must run before
    the JVM starts: Spark reads them at launch."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = f"{max(1, min(4, int(mem_gb // 4)))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the package from the checkout, whatever the
    # working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory,
    # neither from spark-submit's launcher JVM nor from the driver.
    # -Xms at the heap limit with -XX:+AlwaysPreTouch: the driver heap is
    # resident from the start, so peak_rss_mb is the fixed heap plus what
    # lives outside it (Python workers, Arrow and direct buffers, metaspace).
    # A heap grown on demand made it read the collector's sizing choices
    # instead: 1.5 or 2.3 GB on the same query_suite run.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            f"--conf spark.local.dir={work}/local",
            f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{heap} -XX:+AlwaysPreTouch'",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every process this run
    started to end. ``spark`` is None when the run ended while the session
    was starting: the JVM may be up without a gateway to stop it, so what
    is left is killed at once."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as e:  # e.g. a gateway cut mid-call by SIGTERM: end the JVM below
        print(f"perfbench: stopping Spark: {type(e).__name__}: {e}", file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + (30 if spark is not None else 0)
    while True:
        rest = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in rest:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in rest:
        try:
            os.waitpid(p, 0)  # reaps the children; the rest go to init
        except ChildProcessError:
            pass


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _sentinel_s(spark) -> float:
    """A fixed trivial job; its time varies only with the host's health."""
    t0 = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def _timed_rounds(wl, ctx, seconds: float, traced: bool, spark, sampler):
    """Whole rounds until ``seconds`` have passed and at least the
    workload's ``min_rounds`` ran. At the run length in BENCHMARK.json the
    round minimum is what binds, so every run times the same rounds at the
    same distance from the warm-up, however fast the host is that day: the
    rounds still speed up for minutes after it (the JIT, Spark's code
    caches), and a run that fitted one round more would read faster for
    that alone. A traced run traces rounds in the order untraced, traced,
    traced, untraced (four at least), so that a trend across rounds biases
    neither side of the tracing-overhead comparison. Returns per-round
    walls, per-op walls, the failed op count, whether each round was
    traced, per-round peak memory and host sentinel readings."""
    rounds, op_walls, failed, traced_rounds, sentinels, peaks = [], [], 0, [], [], []
    ops = wl.ops()
    t_begin = time.monotonic()
    min_rounds = max(4, wl.min_rounds) if traced else wl.min_rounds
    while len(rounds) < min_rounds or time.monotonic() - t_begin < seconds:
        trace_this = traced and len(rounds) % 4 in (1, 2)
        ctx.tr.enabled = trace_this
        if trace_this:
            ctx.counters.delta()
            ctx.streams.take(0)
            ctx.catalyst.take()
        sampler.take_peak()
        r0 = time.perf_counter()
        with ctx.tr.span("round"):
            for op in ops:
                with ctx.tr.span("op", op=op.name, module=op.module) as rec:
                    t0 = time.perf_counter()
                    try:
                        op.fn()
                    except Exception as e:  # counted as failed; the round goes on
                        failed += 1
                        print(f"perfbench: {op.name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    dt = time.perf_counter() - t0
                    op_walls.append((op.name, dt))
                    if trace_this:
                        rec["spark"] = ctx.counters.delta()
                        rec["stream"] = ctx.streams.take()
                        rec["wall"] = dt
        rounds.append(time.perf_counter() - r0)
        peaks.append(sampler.take_peak())
        traced_rounds.append(trace_this)
        ctx.tr.enabled = False
        sentinels.append(_sentinel_s(spark))
    return rounds, op_walls, failed, traced_rounds, peaks, sentinels


def _per_layer(wl, tracer, rounds, traced_rounds) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, per traced round."""
    from workloads import BulkLoad, layer_modules

    n = sum(traced_rounds)
    selft = tracer.self_times()
    spans = tracer.spans
    m: dict[str, tuple[float, str]] = {}

    def per_round(total: float) -> float:
        return total / n

    spark_tot: dict[str, float] = {}
    stream_tot: dict[str, float] = {}
    cat_tot = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    mod = {}
    jobs = {"operators.build": 0.0, "operators.exec": 0.0}
    parent = {s["id"]: s for s in spans}
    idle = 0.0
    for s in spans:
        for k, v in s.get("spark", {}).items():
            spark_tot[k] = spark_tot.get(k, 0.0) + v
        if s["name"] in jobs:
            jobs[s["name"]] += s["spark"].get("jobs", 0)
            key = (parent[s["parent"]]["module"], s["name"].split(".")[1])
            mod[key] = mod.get(key, 0.0) + s["end"] - s["start"]
        for k, v in s.get("catalyst", {}).items():
            cat_tot[k] += v
        st = s.get("stream")
        if st:
            for k, v in st.items():
                stream_tot[k] = stream_tot.get(k, 0.0) + v
            if st.get("batches"):
                idle += s["wall"] - st["batch_s"]

    m["plans.parse_s"] = (per_round(selft.get("plans.parse_spec", 0.0)), "s")
    m["sources.build_s"] = (per_round(selft.get("sources.generate_table", 0.0)), "s")
    is_load = isinstance(wl, BulkLoad)
    m["sources.draw_s"] = (wl.draw_s_per_mrow() if is_load else 0.0, "s/Mrow")
    m["sources.noop_s"] = (wl.noop_s() if is_load else 0.0, "s")
    files, size = wl.sink_files() if is_load else (0, 0)
    m["sinks.write_s"] = (per_round(selft.get("sinks.write_partitioned_parquet", 0.0)), "s")
    m["sinks.files"] = (float(files), "count")
    m["sinks.bytes"] = (float(size), "B")
    m["sinks.bytes_per_row"] = (size / wl.rows_per_round if is_load else 0.0, "B/row")
    m["operators.build_s"] = (per_round(selft.get("operators.build", 0.0)), "s")
    m["operators.build_jobs"] = (per_round(jobs["operators.build"]), "count")
    m["operators.exec_s"] = (per_round(selft.get("operators.exec", 0.0)), "s")
    m["operators.exec_jobs"] = (per_round(jobs["operators.exec"]), "count")
    for module in layer_modules():
        for phase in ("build", "exec"):
            m[f"operators.{module}.{phase}_s"] = (per_round(mod.get((module, phase), 0.0)), "s")
    for phase, v in cat_tot.items():
        m[f"catalyst.{phase}_ms"] = (per_round(v), "ms")
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("task_offcpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
        ("input_bytes", "B"), ("output_bytes", "B"),
    ):
        m[f"spark.{key}"] = (per_round(spark_tot.get(key, 0.0)), unit)
    for key, unit in (
        ("batches", "count"), ("input_rows", "count"), ("rows_dropped_by_watermark", "count"),
        ("state_rows", "count"), ("batch_s", "s"), ("add_batch_s", "s"),
        ("query_planning_s", "s"), ("wal_commit_s", "s"),
    ):
        m[f"streaming.{key}"] = (per_round(stream_tot.get(key, 0.0)), unit)
    m["streaming.idle_s"] = (per_round(idle), "s")
    walls_t = [w for w, t in zip(rounds, traced_rounds) if t]
    walls_u = [w for w, t in zip(rounds, traced_rounds) if not t]
    overhead = 100.0 * (statistics.median(walls_t) / statistics.median(walls_u) - 1.0)
    m["trace.overhead_pct"] = (overhead, "%")
    m["trace.spans"] = (per_round(float(len(spans))), "count")
    m["trace.bench_self_s"] = (per_round(selft.get("op", 0.0) + selft.get("round", 0.0)), "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bulk_load", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and deletes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "sqload_spark", "__init__.py")):
        print(f"perfbench: no sqload_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    _prepare_env(work, cpus)

    from sqload_spark.session import get_spark
    from tracing import CatalystCounters, SparkCounters, StreamCounters, Tracer
    import workloads

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        spark = get_spark(f"perfbench_{args.workload}")
        traced = bool(args.trace)
        tracer = Tracer(False)
        counters = SparkCounters(spark) if traced else None
        streams = StreamCounters() if traced else None
        catalyst = CatalystCounters(spark) if traced else None
        if traced:
            spark.streams.addListener(streams)
        ctx = workloads.Context(spark, args.seed, cpus, work, tracer, counters, streams, catalyst)
        wl = workloads.make(args.workload, ctx)
        t_setup = time.monotonic()
        checks = wl.setup()
        setup_s = time.monotonic() - T_START
        print(
            f"perfbench setup: session {t_setup - T_START:.3f} s, "
            f"warm-up and checks {setup_s - (t_setup - T_START):.3f} s",
            file=sys.stderr,
        )
        steal0, total0 = _cpu_ticks()
        rounds, op_walls, failed, traced_rounds, peaks, sentinels = _timed_rounds(
            wl, ctx, args.seconds, traced, spark, sampler
        )
        steal1, total1 = _cpu_ticks()
        checks += wl.final_checks()
        for name, err in checks:
            if err is not None:
                print(f"perfbench: check {name} failed: {err}", file=sys.stderr)
        failed += sum(err is not None for _, err in checks)
        attempted = len(op_walls) + len(checks)
        by_op: dict[str, list[float]] = {}
        for name, dt in op_walls:
            by_op.setdefault(name, []).append(dt)
        print(f"perfbench rounds: {[round(r, 3) for r in rounds]}", file=sys.stderr)
        print(f"perfbench peaks_mb: {[round(p / 2**20) for p in peaks]}", file=sys.stderr)
        print(
            f"perfbench ops: {json.dumps({k: [round(x, 3) for x in v] for k, v in by_op.items()})}",
            file=sys.stderr,
        )
        if traced:
            metrics = _per_layer(wl, tracer, rounds, traced_rounds)
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            tracer.write(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            # Each operation's fastest run, and their sum as the round's
            # wall time: time the host takes away (CPU steal, other tenants)
            # only ever adds, and it comes in bursts shorter than a round.
            best = [min(v) for v in by_op.values()]
            wall = sum(best)
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall, "s"),
                "query_p50_s": (statistics.median(best), "s"),
                "rows_per_s": (wl.rows_per_round / wall, "rows/s"),
                "peak_rss_mb": (statistics.median(peaks) / 2**20, "MB"),
            }
        wl.close()
        print(
            f"perfbench host: rounds={len(rounds)} sentinel_s={[round(s, 3) for s in sentinels]} "
            f"cpu_steal_pct={100 * (steal1 - steal0) / max(1, total1 - total0):.1f} "
            f"loadavg={open('/proc/loadavg').read().split()[:3]}",
            file=sys.stderr,
        )
    finally:
        try:
            _stop_spark(spark)
        finally:
            sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
