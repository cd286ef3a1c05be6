"""One benchmark run of one workload, in its own process.

Started by ``run.py`` with the run's scratch directory as working
directory and ``TMPDIR`` / ``SPARK_LOCAL_DIRS`` pointing into it.  Starts
a Spark session at ``local[<cores>]``, runs two warm-up passes, then a
closed loop (one client thread) of whole passes over the workload's
request list until ``--seconds`` have passed, checks the outputs of the
last pass against DuckDB, and prints a JSON report as its last line.

With ``--trace 1`` the loop runs at least four passes and traces every
other request of each target (pattern U T T U / T U U T over passes, so
a warming trend favours neither side); the untraced requests of the
same run give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import sys
import time
from math import nan

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from interlinked_spark import catalog  # noqa: E402
from interlinked_spark.session import get_spark, ship_package  # noqa: E402
from interlinked_spark.sources.writers import write_table  # noqa: E402

import spans as spans_mod  # noqa: E402
from workloads import WORKLOADS, Workload, check_dataframe, check_written  # noqa: E402
from workloads import duck_connection, routed_oracle, routed_workflow  # noqa: E402


class Client:
    """Issues requests of one workload; keeps the last output per target."""

    def __init__(self, spark: SparkSession, wl: Workload, data_dir: str, out_dir: str):
        self.spark, self.wl, self.data_dir, self.out_dir = spark, wl, data_dir, out_dir
        self.wkf = routed_workflow() if wl.fanout else catalog.WKF
        self.last: dict[str, object] = {}
        self.tracer: spans_mod.Tracer | None = None

    def passes(self, rng: random.Random):
        """Request lists of successive passes, each in seeded order."""
        while True:
            order = list(self.wl.targets)
            rng.shuffle(order)
            yield [order] if self.wl.fanout else [[t] for t in order]

    def request(self, targets: list[str], traced: bool = False) -> None:
        tr = self.tracer
        if not traced:
            self._request(targets)
            return
        tr.begin()
        try:
            with tr.span("request", "bench"):
                self._request(targets)
        finally:
            tr.active = False
        tr.finish(self._written() if self.wl.fanout else None)

    def _request(self, targets: list[str]) -> None:
        if self.wl.fanout:
            outs = self.wkf.run(*targets, spark=self.spark, base_dir=self.data_dir)
            for name, df in zip(targets, outs):
                self._compile(df)
                self._traced_call("write", lambda: write_table(df, os.path.join(self.out_dir, name)))
                self.last[name] = df
        else:
            (name,) = targets
            df = catalog.run_query(name, self.spark, self.data_dir)
            self._compile(df)
            self._traced_call("action", lambda: df.write.format("noop").mode("overwrite").save())
            self.last[name] = df

    def _tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def _compile(self, df) -> None:
        if self._tracing():
            with self.tracer.span("compile", "compile"):
                df._jdf.queryExecution().executedPlan()

    def _traced_call(self, layer: str, fn) -> None:
        if self._tracing():
            with self.tracer.span(layer, layer):
                fn()
        else:
            fn()

    def _written(self) -> dict:
        files = size = 0
        for dirpath, _dirs, names in os.walk(self.out_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return {"sources.files_written": files, "sources.mb_written": size / 1e6}

    def verify(self) -> list[str]:
        """Mismatches between the last pass's outputs and DuckDB."""
        con = duck_connection(self.data_dir)
        problems = []
        for name in self.wl.targets:
            try:
                if self.wl.fanout:
                    nation = name.split(".", 1)[1]
                    why = check_written(os.path.join(self.out_dir, name), con, routed_oracle(nation))
                elif name not in self.last:
                    why = "no output"
                else:
                    why = check_dataframe(self.last[name], con, catalog.ORACLES[name])
            except Exception as exc:  # noqa: BLE001 - a failed check is a mismatch
                why = f"{type(exc).__name__}: {exc}"
            if why:
                problems.append(f"{name}: {why}")
        con.close()
        return problems


def closed_loop(client: Client, rng: random.Random, seconds: float, min_passes: int = 1,
                interleave_trace: bool = False) -> dict:
    """Whole passes until ``seconds`` have elapsed and ``min_passes`` are
    done; the pass running at the deadline completes."""
    res = {"latencies": [], "traced": [], "pass_times": [], "errors": [], "by_target": {}}
    start = time.perf_counter()
    for k, batch in enumerate(client.passes(rng)):
        p0 = time.perf_counter()
        for targets in batch:
            idx = 0 if client.wl.fanout else client.wl.targets.index(targets[0])
            traced = interleave_trace and (idx + k + k // 2) % 2 == 1
            r0 = time.perf_counter()
            try:
                client.request(targets, traced)
                took = time.perf_counter() - r0
                res["traced" if traced else "latencies"].append(took)
                if not traced:
                    res["by_target"].setdefault(targets[0] if len(targets) == 1 else "run", []).append(took)
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, the loop goes on
                res["errors"].append(f"{targets[0]}: {type(exc).__name__}: {str(exc)[:300]}")
            # Drop what the request pinned, so no pass reuses another's
            # cached blocks (the engine never unpersists on its own).
            client.spark.catalog.clearCache()
        res["pass_times"].append(time.perf_counter() - p0)
        if time.perf_counter() - start >= seconds and k + 1 >= min_passes:
            break
    res["wall"] = time.perf_counter() - start
    return res


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM child (VmHWM)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] != me:
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def per_layer(tracer: spans_mod.Tracer, loop: dict, run_wide: dict, cores: int) -> dict:
    """Per-request means over the traced requests, plus the ``run_wide``
    figures and the tracing overhead."""
    reqs = tracer.requests
    mean = {k: sum(r.get(k, 0.0) for r in reqs) / len(reqs) for k in {k for r in reqs for k in r}}
    exec_s = mean.get("spark.exec_s", 0.0)
    mean.update(run_wide)
    mean.update({
        "spark.core_util": mean.get("spark.task_busy_s", 0.0) / (cores * exec_s) if exec_s else 0.0,
        "trace.requests": float(len(reqs)),
        "trace.overhead": statistics.median(loop["traced"] or [nan]) / statistics.median(loop["latencies"] or [nan]),
    })
    return {name: (mean.get(name, 0.0), unit) for name, unit in spans_mod.PER_LAYER_UNITS.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the run started")
    ap.add_argument("--spans-out", help="write the traced spans here as JSON lines")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    rng = random.Random(args.seed)

    cores = len(os.sched_getaffinity(0))
    s0 = time.time()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    session_start_s = time.time() - s0

    client = Client(spark, wl, args.data, os.path.abspath("out"))
    w0 = time.time()
    warm = closed_loop(client, rng, 0, min_passes=2)
    warm_s = time.time() - w0
    setup_s = time.time() - args.t0

    if args.trace:
        tracer = spans_mod.Tracer(spark)
        tracer.instrument(client.wkf)
        client.tracer = tracer
        loop = closed_loop(client, rng, args.seconds, min_passes=4, interleave_trace=True)
    else:
        loop = closed_loop(client, rng, args.seconds)
    rss = peak_rss_mb()
    v0 = time.time()
    problems = client.verify()
    v1 = time.time()
    spark.stop()
    print(f"# pass times: {[round(x, 2) for x in loop['pass_times']]}")
    print(f"# phases: start={s0 - args.t0:.2f}s session={session_start_s:.2f}s warmup={warm_s:.2f}s "
          f"loop={loop['wall']:.2f}s verify={v1 - v0:.2f}s stop={time.time() - v1:.2f}s")

    errors = warm["errors"] + loop["errors"]
    attempted = sum(len(lp["latencies"]) + len(lp["traced"]) + len(lp["errors"]) for lp in (warm, loop))
    attempted += len(wl.targets)  # one output check per target
    failed = len(errors) + len(problems)
    for line in errors + problems:
        print(f"# error: {line}", file=sys.stderr)
    for name, xs in loop["by_target"].items():
        print(f"# target {name:<28} p50={statistics.median(xs):.3f}s n={len(xs)} "
              f"cold={warm['by_target'].get(name, [nan])[0]:.3f}s")

    lat = loop["latencies"] or [nan]
    end_to_end = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(loop["pass_times"]), "s", len(loop["pass_times"])),
        "request_p50_s": (statistics.median(lat), "s", len(lat)),
        "request_p90_s": (percentile(lat, 90), "s", len(lat)),
        "requests_per_s": ((len(loop["latencies"]) + len(loop["traced"])) / loop["wall"], "1/s", len(lat)),
    }
    print(f"# workload={wl.name} seed={args.seed} cores={cores} trace={args.trace} "
          f"passes={len(loop['pass_times'])} requests={len(lat)} traced={len(loop['traced'])}")
    print(f"# {'error_rate':<16} {failed / attempted:>12.4f} {'ratio':<6} n={attempted}")
    for name, (value, unit, n) in end_to_end.items():
        print(f"# {name:<16} {value:>12.4f} {unit:<6} n={n}")
    print(f"# {'peak_rss_mb':<16} {rss:>12.4f} {'MB':<6} n=1")
    beyond = sum(1 for x in lat if x > end_to_end["request_p90_s"][0])
    if beyond < 10:
        print(f"# request_p90_s has {beyond} samples beyond it; " + (
            f"highest percentile with ten beyond: p{100 * (1 - 10 / len(lat)):.0f}"
            if len(lat) > 10 else "no percentile has ten beyond it"))

    if args.trace:
        metrics = per_layer(tracer, loop, {"session.start_s": session_start_s, "peak_rss_mb": rss}, cores)
        for name, (value, unit) in metrics.items():
            print(f"# {name:<26} {value:>12.4f} {unit}")
        layers = sum(metrics[m][0] for m in set(spans_mod.SELF_METRIC.values()))
        print(f"# layer self times sum to {layers:.4f} s per traced request; "
              f"traced request wall {metrics['trace.request_s'][0]:.4f} s")
        if args.spans_out:
            tracer.write(args.spans_out)
    else:
        metrics = {k: (v, unit) for k, (v, unit, _n) in end_to_end.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
