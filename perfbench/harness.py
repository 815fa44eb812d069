"""Run one workload in this process and print its result as the last line.

Started by ``perfbench/run.py``, which sizes the Spark session through
the environment before this process (and its JVM) starts:

    python3 perfbench/harness.py --workload NAME --seed N --seconds S \
        --trace 0|1 --workdir DIR

With ``--trace 0`` the timed loop runs with no wrappers installed and the
result carries the end-to-end metrics.  With ``--trace 1`` every op of the
timed loop runs under the span wrappers; the result carries the per-layer
metrics, the full layer report is printed on the line before it, and the
report with every span is written to ``.perfbench/<workload>-layers.json``
in the checkout.  Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_PROC = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
REPORT_DIR = os.path.join(ROOT, ".perfbench")


def declared_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def sample_queries() -> list[str]:
    from bench import SAMPLE_QUERIES

    return list(SAMPLE_QUERIES)


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Run:
    """One workload's ops, their outcomes and the checks' failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failures: list[str] = []

    def execute(self, fn):
        """One op; an exception counts as a failed op and ends the loop."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # noqa: BLE001 — the run reports, not crashes
            self.failures.append(f"op raised {type(e).__name__}: {str(e)[:300]}")
            return None
        return time.perf_counter() - t, res

    def loop(self, fn, seconds: float, min_ops: int = 1) -> list:
        """Closed loop: the next op starts when the previous one ends."""
        done = []
        t0 = time.perf_counter()
        while len(done) < min_ops or time.perf_counter() - t0 < seconds:
            r = self.execute(fn)
            if r is None:
                break
            done.append(r)
        return done

    def check(self, done: list) -> None:
        for _wall, res in done:
            bad = self.wl.check(res)
            if bad:
                self.failures.append("; ".join(bad))


def e2e_metrics(setup_s: float, done: list) -> dict:
    from perfbench.trace import median

    wall = sum(w for w, _ in done)
    return {
        "setup_s": setup_s,
        "throughput_per_s": sum(r.items for _, r in done) / wall,
        "op_p50_s": median([u for _, r in done for u in r.units]),
    }


def overhead_shares(done: list, op_spans: list, own: list[float]) -> list[float]:
    """Per traced op: the time tracing added over the time the op would
    have taken untraced.  Tracing adds the wrappers' own time inside the
    op span (``own``) and everything outside it (installing and removing
    the wrappers, the op span's own counter reads), which is the op's
    wall time minus the op span's duration."""
    return [(o + wall - sp.dur) / (sp.dur - o)
            for (wall, _res), sp, o in zip(done, op_spans, own)]


def common_probes(spark, seed: int, workdir: str) -> tuple[dict, list[str]]:
    """Layer probes every traced run takes, whatever its workload: the
    Bloom kernels, the worker's per-page steps, the probe's Arrow
    boundary and the query pack.  Returns (metrics, failures)."""
    from crawlspark import synthetic
    from perfbench import probes

    spec = synthetic.WebSpec(scale=2.0, epoch=seed % 8)
    urls = [synthetic.article_url(h, a) for h in sorted(spec.hosts)
            for a in range(spec.hosts[h]["n_articles"])][:: 6]
    out = probes.bloom_kernels(seed)
    out.update(probes.worker_steps(spec, urls))
    out.update(probes.urlseen_boundary(spark, seed))
    qp, bad = probes.query_pack(spark, os.path.join(workdir, "tables"), seed, sample_queries())
    out.update(qp)
    return out, bad


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    a = ap.parse_args(argv)

    from pyspark import SparkContext

    from crawlspark.session import get_spark
    from perfbench.trace import JobCounter, Tracer, median
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    units = declared_units("per_layer" if a.trace else "end_to_end")
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        start_s = time.perf_counter() - T_PROC
        wl = WORKLOADS[a.workload](spark, a.seed, a.workdir)
        run = Run(wl)
        wl.prepare()
        prepare_s = time.perf_counter() - T_PROC - start_s
        warm = run.loop(wl.op, 0, wl.warm_ops)
        setup_s = time.perf_counter() - T_PROC
        if a.trace:
            tracer = Tracer(JobCounter(spark))
            own = []  # wrapper time inside each op

            def traced():
                wl.trace(tracer)
                own0 = tracer.own_s
                try:
                    with tracer.span("op"):
                        return wl.op()
                finally:
                    tracer.uninstall()
                    own.append(tracer.own_s - own0)

            op = traced
        else:
            op = wl.op
        done = run.loop(op, a.seconds)
        t_check = time.perf_counter()
        run.check(warm + done)
        print(f"phases start={start_s:.2f} prepare={prepare_s:.2f} "
              f"warm={setup_s - start_s - prepare_s:.2f} "
              f"timed={t_check - T_PROC - setup_s:.2f} "
              f"check={time.perf_counter() - t_check:.2f} "
              f"ops={[round(w, 2) for w, _ in warm + done]}", file=sys.stderr)
        if not done:
            metrics = {}
        elif not a.trace:
            metrics = e2e_metrics(setup_s, done)
        else:
            ops = tracer.named("op")[:len(done)]
            layers = {
                "session.start_s": start_s,
                "session.warmup_s": setup_s - start_s,
                "spark.jobs_per_op": sum(s.attrs["jobs"] for s in ops) / len(ops),
                "spark.stages_per_op": sum(s.attrs["stages"] for s in ops) / len(ops),
                "spark.tasks_per_op": sum(s.attrs["tasks"] for s in ops) / len(ops),
                "trace.spans_per_op": len(tracer.spans) / len(ops),
                "trace.overhead_share": median(overhead_shares(done, ops, own)),
                # the same figure as op_p50_s, traced: its difference from
                # an untraced run of the same seed is the overhead plus noise
                "trace.op_p50_s": median([u for _, r in done for u in r.units]),
            }
            layers.update(wl.layers(tracer))
            probed, bad = common_probes(spark, a.seed, a.workdir)
            layers.update(probed)
            run.attempted += 1
            if bad:
                run.failures.append("query pack: " + "; ".join(bad))
            layers["session.peak_rss_mb"] = (
                _vm_hwm_kb("self") + _vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024
            os.makedirs(REPORT_DIR, exist_ok=True)
            with open(os.path.join(REPORT_DIR, f"{a.workload}-layers.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                           "spans": tracer.dump()}, f)
            print("layers " + json.dumps({k: layers[k] for k in sorted(layers)}))
            metrics = {k: layers[k] for k in units}
    finally:
        stop_session(spark)
    for msg in run.failures:
        print(f"FAILED {a.workload}: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
