"""sparketl benchmark: one closed-loop client, one process, ``local[nproc]``.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Phases, in order: generate the seed's inputs (not timed), start the
session, then run every op twice, ``nproc`` at a time, so codegen, JIT and
the Python workers warm (all of this is ``setup_s``); then run whole passes,
the op order permuted per pass by the seed, until ``--seconds`` have
elapsed and at least ``stats.min_passes`` are done.
After each timed op DuckDB runs the same work, so ``oracle_ratio`` compares
the two engines over the same stretch of host time; once the timed phase
is over every op's result is checked against DuckDB's, and a failed or
wrong op counts in ``failed``.

With ``--trace 1`` timed passes alternate untraced / traced, starting and
ending untraced.  Traced passes tag each op's jobs with ``setJobGroup`` and
the per-layer numbers come from the Spark UI REST API, a
``StreamingQueryListener`` and ``/proc``; the span tree (op -> plan_build /
execute / collect -> job -> stage) is written to
``.bench_run/<workload>-<seed>-trace.json``.  The untraced passes on either
side of each traced one give the tracing overhead.

The report goes to stdout; the last line is the JSON result.  The result
line carries ``setup_s`` and ``oracle_ratio_gm`` (the geometric mean over
the op list of an op's median time in the timed passes over DuckDB's
median time on the same op, each taken right after it); ``op_p50_s``, ``op_p90_s`` (given only with at least 10 samples
beyond it), ``pass_s``, ``peak_rss_mib``, ``oracle_ratio`` (pass time over
DuckDB pass time), ``fail_frac`` and ``elt_rows_per_s`` are printed in the
report only: on a shared host raw seconds and RSS move with the
neighbours' load between runs, while the same-window ratio does not.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import layers  # noqa: E402
from layers import descendants  # noqa: E402
from stats import (  # noqa: E402
    OpLog, geomean, median, min_passes, more_passes, percentile, result_line, supported,
    tail, trace_overhead, traced_pass,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "gcp_cloudsql_to_bigquery_spark"
REQUIRED = (PACKAGE, "bench.py", os.path.join("scripts", "selfcheck.py"))
MIB = 2**20
# right after Spark, DuckDB runs the op until it has taken ORACLE_MIN_S or
# run ORACLE_MAX_REPEAT times; its median counts.  A millisecond query is
# repeated (one run is mostly scheduling jitter), a one-second load is not
ORACLE_MIN_S = 0.25
ORACLE_MAX_REPEAT = 5
# set-up runs every op this many times before the timed passes: after one
# run the next is still far slower than the steady state
WARM_ROUNDS = 2

# the per-layer numbers the traced result line carries, with their units:
# those BENCHMARK.json lists, which both workloads measure
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}
# units of the layer numbers the report prints but the result line leaves
# out: those only one workload measures, times that read 0 on every run of
# one workload, and the trace's own figures
REPORT_UNITS = {
    "python.run_s": "s", "python.start_s": "s", "shuffle.fetch_wait_s": "s",
    "collect.rows": "count", "collect.s": "s",
    "ingest.export_s": "s", "ingest.load_s": "s", "ingest.write_s": "s",
    "ingest.check_s": "s", "ingest.rows": "count", "ingest.null_cells": "count",
    "ingest.bytes_written": "B", "ingest.write_amp": "ratio",
    "dedup.candidates": "count", "dedup.dup_pairs": "count", "dedup.precision": "ratio",
    "trace.overhead_frac": "ratio", "trace.span_cover_min": "ratio",
    "trace.span_cover_med": "ratio",
}


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kib = int(fh.readline().split()[1])
    return {
        "cores": os.cpu_count(),
        "ram_gib": round(mem_kib / 2**20, 2),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }


def spark_conf(run_dir: str, host: dict) -> dict[str, str]:
    """Session sized from this host: task threads = cores, shuffle width =
    cores, driver heap = 40% of RAM (never above the engine's 16g); every
    path the session writes lives under ``run_dir``."""
    heap_gib = max(1, min(16, int(host["ram_gib"] * 0.4)))
    tmp = os.path.join(run_dir, "tmp")
    # a fixed young generation (1/8 of the heap): G1's adaptive young sizing
    # follows GC pause timings, so peak RSS would follow host noise
    young_mib = heap_gib * 1024 // 8
    return {
        "spark.driver.memory": f"{heap_gib}g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xmn{young_mib}m -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def prepare_env(run_dir: str) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Python workers import the engine's kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (which takes its Python
    workers with it), and wait until every child process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Runner:
    """One benchmark run: set-up, warm-up, timed passes, oracle, checks."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.host = host_info()
        self.layers: dict[str, float] = {}
        self.spans: list[dict] = []
        self.op_records: list[dict] = []
        self.results: list[tuple[dict, object]] = []
        self.expected: dict[str, object] = {}
        self.oracle_s: dict[int, list[float]] = {}

    def order(self, ops: list[str], pass_no: int) -> list[str]:
        out = list(ops)
        random.Random(self.args.seed * 100_003 + pass_no).shuffle(out)
        return out

    def run_pass(self, wl, log, pass_no: int, traced: bool, con=None) -> None:
        """One pass over the op list.  With a DuckDB connection, each op is
        followed (outside its timing) by the same work on DuckDB, so the two
        engines are timed in the same stretch of host time."""
        sc = self.spark.sparkContext
        for name in self.order(wl.ops, pass_no):
            self.spark.catalog.clearCache()
            op_id = f"p{pass_no}:{name}"
            if traced:
                sc.setJobGroup(op_id, op_id)
            marks: dict[str, float] = {}
            error, result = None, None
            t0 = time.perf_counter()
            w0 = time.time()
            try:
                result = wl.run_op(name, marks)
            except Exception:
                error = traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            w1 = time.time()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            op = log.add(name, pass_no, t1 - t0, error)
            if result is not None:
                wl.after_op(result)
                self.results.append((op, result))
            if con is not None:
                times = []
                try:
                    while sum(times) < ORACLE_MIN_S and len(times) < ORACLE_MAX_REPEAT:
                        t = time.perf_counter()
                        self.expected[name] = wl.oracle_op(con, name)
                        times.append(time.perf_counter() - t)
                except Exception:
                    log.mark_wrong(op, "DuckDB failed: " + traceback.format_exc(limit=2))
                    continue
                op["oracle_s"] = median(times)
                self.oracle_s.setdefault(pass_no, []).append(op["oracle_s"])
            if traced and result is not None:
                self.op_records.append({
                    "id": op_id, "name": name, "pass": pass_no,
                    "t0": t0, "t1": t1, "w0": w0, "w1": w1, "marks": marks,
                    "extra": wl.layer_extra(name, result, marks, t0),
                })

    def main(self) -> dict:
        from workloads import WORKLOADS

        args = self.args
        t = time.perf_counter()
        from gcp_cloudsql_to_bigquery_spark import workload as registry_mod

        n_queries = len(registry_mod.queries())
        self.layers["workload.import_s"] = time.perf_counter() - t
        self.layers["workload.queries"] = float(n_queries)

        wl = WORKLOADS[args.workload](self.run_dir, args.seed, self.host["cores"])
        t = time.perf_counter()
        wl.generate()
        datagen_s = time.perf_counter() - t

        from gcp_cloudsql_to_bigquery_spark.session import get_spark

        t = time.perf_counter()
        cores = self.host["cores"]
        self.spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=spark_conf(self.run_dir, self.host),
        )
        self.layers["session.start_s"] = time.perf_counter() - t
        import pyspark
        import duckdb

        self.host["spark"] = pyspark.__version__
        self.host["duckdb"] = duckdb.__version__
        wl.bind(self.spark)
        progress: list[dict] = []
        if args.trace:
            layers.stream_listener(self.spark, progress)

        log = OpLog()
        for round_no in range(-WARM_ROUNDS + 1, 1):
            self.warm_up(wl, log, round_no)
        setup_s = time.perf_counter() - T_PROCESS - datagen_s

        # timed passes are numbered from 1; warm-up rounds up to 0
        measured, traced_passes = [], []
        con = wl.open_oracle()
        least = min_passes(len(wl.ops), args.trace)
        t_start = time.perf_counter()
        with layers.RssSampler() as rss:
            done = 0
            while more_passes(done, time.perf_counter() - t_start, args.seconds, least,
                              args.trace):
                traced = traced_pass(done, args.trace)
                self.run_pass(wl, log, done + 1, traced, con)
                (traced_passes if traced else measured).append(done + 1)
                done += 1
        timed_s = time.perf_counter() - t_start
        con.close()

        for op, result in self.results:
            if op["name"] not in self.expected:
                log.mark_wrong(op, "no DuckDB result to check against")
            elif why := wl.check(op["name"], result, self.expected):
                log.mark_wrong(op, why)

        lat = log.latencies(set(measured))
        passes = log.pass_times(set(measured))
        pass_s = median(passes)
        oracle_passes = [sum(self.oracle_s[p]) for p in measured]
        # the gated metrics: set-up time, and Spark's per-op time over
        # DuckDB's on the same op in the same stretch of host time (raw
        # seconds drift with the host's load, the ratio does not)
        e2e = {
            "setup_s": (setup_s, "s"),
            "oracle_ratio_gm": (geomean(log.oracle_ratios(set(measured))), "ratio"),
        }
        shown = {
            **e2e,
            "op_p50_s": (median(lat), "s"),
            "pass_s": (pass_s, "s"),
            "peak_rss_mib": (rss.peak_total / MIB, "MiB"),
            "oracle_ratio": (median([s / o for s, o in zip(passes, oracle_passes)]), "ratio"),
            "fail_frac": (log.fail_frac, "ratio"),
        }
        if supported(lat, 0.9):
            shown["op_p90_s"] = (percentile(lat, 0.9), "s")
        if tail(lat):
            pct, value = tail(lat)
            shown[f"op_p{pct}_s"] = (value, "s")
        if wl.source_rows():
            shown["elt_rows_per_s"] = (wl.source_rows() / pass_s, "1/s")
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": self.host, "sf": wl.SF, "datagen_s": datagen_s, "timed_s": timed_s,
            "passes": len(passes), "traced_passes": len(traced_passes), "op_samples": len(lat),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            "oracle.pass_s": median(oracle_passes),
            "failures": [
                {"op": o["name"], "pass": o["pass"], "error": o["error"], "wrong": o["wrong"]}
                for o in log.ops if o["error"] or o["wrong"]
            ],
        }
        metrics = e2e
        if args.trace:
            self.layers["oracle.pass_s"] = report["oracle.pass_s"]
            self.layers["mem.python_rss_peak_mib"] = rss.peak_python / MIB
            self.trace_layers(wl, log, measured + traced_passes, progress)
            report["layers"] = self.layers
            metrics = {k: (self.layers[k], u) for k, u in PER_LAYER.items()}
            self.write_trace(report)
        self.print_report(report)
        return result_line(log.failed == 0, log, metrics)

    def warm_up(self, wl, log, round_no: int) -> None:
        """Run every op once, ``cores`` at a time: codegen, JIT, the Python
        worker pool and the stream machinery all warm while the first-use
        compile work overlaps.  Results are checked like any other op's."""
        from concurrent.futures import ThreadPoolExecutor

        def one(name: str):
            t0 = time.perf_counter()
            try:
                result, error = wl.run_op(name, {}), None
            except Exception:
                result, error = None, traceback.format_exc(limit=3)
            return name, time.perf_counter() - t0, result, error

        with ThreadPoolExecutor(max_workers=self.host["cores"]) as pool:
            futures = [pool.submit(one, n) for n in self.order(wl.ops, round_no)]
            for fut in futures:
                name, seconds, result, error = fut.result()
                op = log.add(name, round_no, seconds, error)
                if result is not None:
                    wl.after_op(result)
                    self.results.append((op, result))
        self.spark.catalog.clearCache()

    def trace_layers(self, wl, log, timed, progress) -> None:
        """Per-layer numbers of the traced passes (per pass, then the median
        over passes), the span tree, and the tracing overhead."""
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        snap = layers.Rest(self.spark).snapshot()
        per_pass: dict[int, dict[str, float]] = {}
        cover = []
        for rec in self.op_records:
            jobs = layers.op_jobs(snap["jobs"], rec["id"], rec["w0"], rec["w1"])
            c = layers.layer_counts(snap, jobs)
            c.update(layers.stream_counts(progress, rec["w0"], rec["w1"]))
            c.update(rec["extra"])
            share, collect_s = self.op_spans(rec, jobs, snap)
            cover.append(share)
            if collect_s is not None:
                c["collect.s"] = collect_s
            acc = per_pass.setdefault(rec["pass"], {})
            for k, v in c.items():
                acc[k] = acc.get(k, 0.0) + v
        for k in {k for acc in per_pass.values() for k in acc}:
            self.layers[k] = median([acc[k] for acc in per_pass.values()])
        if "ingest.source_bytes" in self.layers:
            src = self.layers.pop("ingest.source_bytes")
            self.layers["ingest.write_amp"] = self.layers["ingest.bytes_written"] / src
        self.layers["mem.jvm_heap_peak_mib"] = layers.jvm_heap_peak_bytes(snap) / MIB
        if wl.name == "analytics_mix":
            self.layers.update(self.dedup_counts(wl))
        self.layers["trace.overhead_frac"] = trace_overhead(log.pass_times(set(timed)))
        self.layers["trace.span_cover_min"] = min(cover)
        self.layers["trace.span_cover_med"] = median(cover)

    def op_spans(self, rec: dict, jobs: list[dict], snap: dict) -> tuple[float, float | None]:
        """Add the op's span tree (op -> phases -> jobs -> stages).  Return
        the share of the op's wall time that its plan_build span, its jobs
        and its collect span cover, and the collect seconds (None for an op
        that does not collect).  A query op's phases are plan_build (the
        query function call), execute (up to the end of its last job) and
        collect (from there until ``toPandas`` returns); an ELT op's are its
        export / load / write / check calls, and its load call builds the
        plan.  Driver time between those spans and the jobs (physical
        planning, job submission, commits) is covered by none of them."""
        w0, w1 = rec["w0"], rec["w1"]
        marks = {k: w0 + (t - rec["t0"]) for k, t in rec["marks"].items()}
        jobs_iv = layers.job_intervals(jobs)
        if "collect" in marks:
            built, done = marks["plan_build"], marks["collect"]
            jobs_end = max([min(b, done) for _, b in jobs_iv if b > built] + [built])
            phases = {"plan_build": (w0, built), "execute": (built, jobs_end),
                      "collect": (jobs_end, done)}
            client = [phases["plan_build"], phases["collect"]]
        else:
            phases, prev = {}, w0
            for mark, t in sorted(marks.items(), key=lambda kv: kv[1]):
                phases[mark], prev = (prev, t), t
            client = [phases["load"]] if "load" in phases else []
        self.spans.append({"id": rec["id"], "parent": None, "name": rec["name"],
                           "start": w0, "end": w1})
        self.spans.extend(
            {"id": f"{rec['id']}/{name}", "parent": rec["id"], "name": name,
             "start": a, "end": b}
            for name, (a, b) in phases.items()
        )

        def parent_of(t: float) -> str:
            return next((f"{rec['id']}/{n}" for n, (a, b) in phases.items() if a <= t <= b),
                        rec["id"])

        self.spans.extend(layers.job_spans(jobs, snap, parent_of))
        collect_s = phases["collect"][1] - phases["collect"][0] if "collect" in phases else None
        return layers.span_cover(client + jobs_iv, w0, w1), collect_s

    def dedup_counts(self, wl) -> dict[str, float]:
        """LSH candidate and verified-pair counts over the run's corpus."""
        from gcp_cloudsql_to_bigquery_spark.operators import dedup

        self.spark.catalog.clearCache()
        docs = self.spark.read.parquet(os.path.join(wl.data, "documents.parquet"))
        cands = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(dedup.with_shingles(docs))
        ).count()
        dups = wl.queries["dedup_minhash_lsh"](self.spark, wl.data).count()
        self.spark.catalog.clearCache()
        return {
            "dedup.candidates": float(cands),
            "dedup.dup_pairs": float(dups),
            "dedup.precision": dups / cands if cands else 0.0,
        }

    def write_trace(self, report: dict) -> None:
        path = os.path.join(
            os.path.dirname(self.run_dir), f"{self.args.workload}-{self.args.seed}-trace.json"
        )
        with open(path, "w") as fh:
            json.dump({"report": report, "spans": self.spans}, fh, indent=1, default=str)
        report["trace_file"] = os.path.relpath(path, os.getcwd())

    @staticmethod
    def print_report(report: dict) -> None:
        h = report["host"]
        print(f"# {report['workload']} seed={report['seed']} trace={report['trace']} "
              f"sf={report['sf']} host: {h['cores']} cores, {h['ram_gib']} GiB, "
              f"load {h['loadavg_start']}, spark {h.get('spark')}, duckdb {h.get('duckdb')}")
        print(f"#   {report['passes']} timed passes (and {report['traced_passes']} traced), "
              f"{report['op_samples']} op samples, "
              f"{report['timed_s']:.2f} s timed, inputs generated in {report['datagen_s']:.2f} s")
        for k, m in report["metrics"].items():
            print(f"#   {k} = {m['value']:.6g} {m['unit']}")
        if "op_p90_s" not in report["metrics"]:
            print(f"#   op_p90_s = n/a ({report['op_samples']} samples; "
                  "it needs 10 beyond the cut)")
        print(f"#   oracle.pass_s = {report['oracle.pass_s']:.6g} s")
        for f in report["failures"]:
            print(f"#   FAILED {f['op']} (pass {f['pass']}): {f['error'] or f['wrong']}")
        for k, v in sorted(report.get("layers", {}).items()):
            unit = PER_LAYER.get(k) or REPORT_UNITS[k]
            print(f"#   layer {k} = {v:.6g} {unit}")
        if "trace_file" in report:
            print(f"#   spans written to {report['trace_file']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in this tree (missing {missing})", file=sys.stderr)
        return 2
    runs = os.path.join(os.getcwd(), ".bench_run")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    runner = Runner(args, run_dir)
    try:
        line = runner.main()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if getattr(runner, "spark", None) is not None:
            stop_spark(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
