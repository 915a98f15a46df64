"""Transcript-validation benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload nightly_bucketed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One Python process drives a local[4]
SparkSession (never more threads than CPUs) through one pass at a time:
set up SETUP_REPS times (session start, fixture register, plan compile,
untimed warm-up pass), then run passes until --seconds have elapsed,
checking every pass's output against an independent DuckDB expectation.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same setup,
alternates untraced and traced passes, and prints the per-layer metrics
read from spans around each layer call and from Spark's status stores.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Details (samples, environment, spans) go to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "turns_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; filled from the traced passes and probes
PER_LAYER = {
    "compiler.compile_s": "s",
    "plans.validation.row_checks_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.cpu_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.gc_s": "s",
    "pipeline.exchanges": "count",
    "pipeline.sorts": "count",
    "operators.stats.column_stats_s": "s",
    "operators.drift.partition_digests_s": "s",
    "sources.tables.write_output_s": "s",
    "sources.tables.bytes_written": "bytes",
    "checkpoint.run_s": "s",
    "checkpoint.run_incremental_s": "s",
    "checkpoint.bucket_fingerprints_s": "s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.manifest_files": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.buckets_validated_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks_failed": "count",
    "failed_frac": "ratio",
    "setup.jvm_launch_s": "s",
    "fixtures.materialise_s": "s",
    "trace.overhead_s": "s",
    "trace.pass_self_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="override the workload's input size (smoke tests)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import typical_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import {e.name}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    bench = Bench(args, WORKLOADS[args.workload])
    try:
        result = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    for line in bench.report_lines(result):
        print(line)
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args, workload_cls):
        from perfbench import harness
        from perfbench.expect import Expectation
        from perfbench.trace import NullTracer, Tracer

        self.args = args
        self.h = harness
        self.run_dir = os.path.join(
            harness.WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}"
        )
        harness.prepare_env(self.run_dir)
        self.wl = workload_cls(
            args.seed, os.path.join(harness.WORK, "data"), self.run_dir, args.turns
        )
        self.ex = Expectation(self.run_dir)
        self.null = NullTracer()
        self.tracer = Tracer(None) if args.trace else self.null
        self.spark = None
        self.details: dict = {"workload": args.workload, "seed": args.seed}

    # -- phases ------------------------------------------------------------

    def _setup_rep(self, rep: int) -> float:
        """One setup: session start, fixture register, plan compile and an
        untimed warm-up pass. The first one launches the JVM and
        materialises the fixture when an earlier run has not left it on
        disk (cached by (turns, seed)), so it is the slowest; later ones
        restart the session in the running JVM. The expectations are
        computed during the first one and excluded from its time."""
        from perfbench.trace import StatusStore
        from typical_spark import compile_table_spec
        from typical_spark.specs import transcript_spec

        tr = self.tracer
        if rep:
            self.spark.stop()
            tr.rebind(None)
        with tr.span("setup", rep=rep):
            t0 = time.perf_counter()
            with tr.span("session.start"):
                self.spark = self.h.start_session(self.run_dir)
            t1 = time.perf_counter()
            if self.args.trace:
                tr.rebind(StatusStore(self.spark))
            with tr.span("sources.register"):
                self.wl.register(self.spark)
            t2 = time.perf_counter()
            if rep == 0:
                self.details.update(jvm_launch_s=t1 - t0, fixtures_s=t2 - t1)
                self.wl.expect(self.ex)
            t3 = time.perf_counter()
            with tr.span("compiler.compile_table_spec"):
                self.plan = compile_table_spec(transcript_spec())
            with tr.span("warmup"):
                out = self.wl.run_pass(self.spark, self.plan, self.null)
            elapsed = (t2 - t0) + (time.perf_counter() - t3)
        errs = self.wl.check(out, self.ex)
        if errs:
            raise RuntimeError(f"warm-up pass output is wrong: {errs}")
        return elapsed

    def _pass(self, traced: bool) -> tuple[float | None, dict]:
        """One pass; returns (seconds or None if it failed, output)."""
        tr = self.tracer if traced else self.null
        out: dict = {}
        rec: dict = {}
        try:
            t0 = time.perf_counter()
            with tr.span("pass") if traced else contextlib.nullcontext() as rec:
                out = self.wl.run_pass(self.spark, self.plan, tr)
            dt = time.perf_counter() - t0
            errs = self.wl.check(out, self.ex)
        except Exception as e:  # a failed pass counts toward failed_frac
            traceback.print_exc()
            dt, errs = None, [repr(e)]
        if errs:
            print(f"perfbench: pass failed: {errs}", file=sys.stderr)
            dt = None
        if rec is not None:
            rec["ok"] = not errs
        out["traced"] = traced
        return dt, out

    # -- run ---------------------------------------------------------------

    def run(self) -> dict:
        # the traced run reports no setup_s, so it sets up once
        setups = [self._setup_rep(rep) for rep in range(1 if self.args.trace else SETUP_REPS)]
        self.details["setup_samples_s"] = setups
        self.details["environment"] = self._environment()
        passes: list[tuple[float | None, dict]] = []
        with self.h.RssSampler([os.getpid(), self.h.jvm_pid()]) as rss:
            t0 = time.perf_counter()
            while True:
                traced = bool(self.args.trace) and len(passes) % 2 == 1
                passes.append(self._pass(traced))
                done = time.perf_counter() - t0 >= self.args.seconds
                if done and (not self.args.trace or len(passes) >= 2):
                    break
        attempted = len(passes)
        failed = sum(dt is None for dt, _ in passes)
        probe = {}
        if self.args.trace:
            try:
                probe = self.wl.probe(self.spark, self.plan, self.tracer, self.ex)
            except Exception as e:  # counts as one failed operation
                traceback.print_exc()
                probe = {"errors": [repr(e)]}
            attempted += 1
            if probe["errors"]:
                print(f"perfbench: probe failed: {probe['errors']}", file=sys.stderr)
                failed += 1
        ok = [(dt, out) for dt, out in passes if dt is not None]
        untraced = [dt for dt, out in ok if not out["traced"]]
        pass_s = self.h.median(untraced)
        self.details.update(
            pass_samples_s=untraced,
            traced_pass_samples_s=[dt for dt, out in ok if out["traced"]],
            n_turns=self.wl.n_turns,
            failed_frac=failed / attempted,
            peak_rss_mb=rss.peak_mb,
        )
        if self.args.trace:
            metrics = self._per_layer(probe, failed / attempted)
        else:
            metrics = {
                "setup_s": self.h.median(setups),
                "pass_s": pass_s,
                "turns_per_s": self.wl.n_turns / pass_s if pass_s else 0.0,
                "peak_rss_mb": rss.peak_mb,
            }
        units = PER_LAYER if self.args.trace else END_TO_END
        self._write_details()
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    # -- per-layer metrics from the trace -------------------------------------

    def _per_layer(self, probe: dict, failed_frac: float) -> dict:
        med = self.h.median
        spans = self.tracer.spans
        self_t = self.tracer.self_times()
        pass_ids = [s["id"] for s in spans if s["name"] == "pass" and s["ok"]]

        def per_pass(name, field=None):
            """Median over traced passes of a child span's duration or
            Spark counter (0 when the workload never calls that layer)."""
            vals = []
            for pid in pass_ids:
                kids = [s for s in spans if s["parent"] == pid and s["name"] == name]
                if kids:
                    vals.append(sum(
                        (s["end"] - s["start"]) if field is None else s["spark"][field]
                        for s in kids
                    ))
            return med(vals)

        def once(name, field=None):
            """A span outside the passes (setup or probe); 0 if absent."""
            vals = [(s["end"] - s["start"]) if field is None else s["spark"][field]
                    for s in spans if s["name"] == name]
            return med(vals)

        traced = [s for s in spans if s["id"] in pass_ids]
        walls = probe.get("bucket_wall_s", [])
        ckpt = ("checkpoint.run", "checkpoint.run_incremental")
        rerun = probe.get("rerun")
        m = {
            "compiler.compile_s": once("compiler.compile_table_spec"),
            "plans.validation.row_checks_s": once("plans.validation.row_checks"),
            "pipeline.validate_s": per_pass("pipeline.validation_summary"),
            "operators.stats.column_stats_s": per_pass("operators.stats.column_stats"),
            "operators.drift.partition_digests_s": per_pass("operators.drift.partition_digests"),
            "sources.tables.write_output_s": per_pass("sources.tables.write_output"),
            "sources.tables.bytes_written": per_pass("sources.tables.write_output", "output_bytes"),
            "checkpoint.run_s": once("checkpoint.run"),
            "checkpoint.run_incremental_s": once("checkpoint.run_incremental"),
            "checkpoint.bucket_fingerprints_s": once("checkpoint.bucket_fingerprints"),
            "checkpoint.bucket_s_p50": med(walls),
            "checkpoint.bucket_s_max": max(walls, default=0.0),
            "checkpoint.spark_jobs": sum(once(n, "jobs") for n in ckpt),
            "checkpoint.bytes_written": sum(once(n, "output_bytes") for n in ckpt),
            "checkpoint.manifest_files": probe.get("manifest_files", 0),
            "checkpoint.buckets_validated_ratio": (
                rerun["buckets_validated"] / rerun["buckets_total"] if rerun else 0.0
            ),
            "spark.jobs": med([s["spark"]["jobs"] for s in traced]),
            "spark.tasks_failed": sum(s["spark"]["tasks_failed"] for s in traced),
            "failed_frac": failed_frac,
            "setup.jvm_launch_s": self.details["jvm_launch_s"],
            "fixtures.materialise_s": self.details["fixtures_s"],
            "trace.overhead_s": med(self.details["traced_pass_samples_s"])
            - med(self.details["pass_samples_s"]),
            "trace.pass_self_s": med([self_t[i] for i in pass_ids]),
        }
        for field, name in (
            ("cpu_s", "pipeline.cpu_s"), ("shuffle_write_bytes", "pipeline.shuffle_write_bytes"),
            ("spill_bytes", "pipeline.spill_bytes"), ("stages", "pipeline.stages"),
            ("tasks", "pipeline.tasks"), ("gc_s", "pipeline.gc_s"),
            ("exchanges", "pipeline.exchanges"), ("sorts", "pipeline.sorts"),
        ):
            m[name] = per_pass("pipeline.validation_summary", field)
        self.details["self_time_s"] = {
            name: med([self_t[s["id"]] for s in spans if s["name"] == name])
            for name in sorted({s["name"] for s in spans})
        }
        return m

    # -- output ------------------------------------------------------------

    def _environment(self) -> dict:
        import pyspark

        keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.driver.memory",
                "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "spark.sql.execution.arrow.maxRecordsPerBatch")
        conf = dict(self.spark.sparkContext.getConf().getAll())
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": self.spark.version,
            "pyspark_version": pyspark.__version__,
            "python": platform.python_version(),
            "session_conf": {k: conf.get(k, self.spark.conf.get(k, None)) for k in keys},
            "input_turns": self.wl.n_turns,
            "buckets": self.wl.buckets,
        }

    def _write_details(self) -> None:
        out_dir = os.path.join(self.h.WORK, "results")
        os.makedirs(out_dir, exist_ok=True)
        a = self.args
        base = os.path.join(out_dir, f"{a.workload}-s{a.seed}-trace{a.trace}-{os.getpid()}")
        with open(base + ".json", "w") as fh:
            json.dump(self.details, fh, indent=1, default=str)
        if a.trace:
            with open(base + ".spans.json", "w") as fh:
                json.dump(self.tracer.spans, fh, default=str)

    def report_lines(self, result: dict) -> list[str]:
        d = self.details
        env = d["environment"]
        lines = [
            f"# {self.wl.name}: {self.wl.why}",
            f"# env: nproc={env['nproc']} spark={env['spark_version']} "
            f"python={env['python']} conf={json.dumps(env['session_conf'])}",
            f"# {env['input_turns']} input turns, seed {self.args.seed}; "
            f"{result['attempted']} passes attempted, {result['failed']} failed "
            f"(failed_frac={d['failed_frac']:.4f})",
        ]
        counts = {"setup_s": len(d["setup_samples_s"]), "pass_s": len(d["pass_samples_s"]),
                  "turns_per_s": len(d["pass_samples_s"])}
        for name, m in result["metrics"].items():
            n = f"  (median of {counts[name]})" if name in counts else ""
            lines.append(f"{name:40s} {m['value']:>16.6g} {m['unit']}{n}")
        return lines

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.h.shutdown_jvm()
        self.ex.close()
        # pass outputs stay on disk until here: deleting files between
        # passes made pass times depend on when the filesystem got round
        # to the deletions
        shutil.rmtree(self.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
