"""One benchmark client process: a closed loop over one workload.

Started by `run.py` in a fresh working directory (its cwd), with the
engine package on PYTHONPATH. The client

1. sets up: starts the engine's SparkSession on `local[<nproc>]` and
   writes its seeded inputs, and reports the time from its own launch;
2. runs a cold pass (the first pass in the fresh session);
3. runs whole steady passes until `--seconds` have passed, one operation
   at a time, each checked outside its timed region;
4. with `--trace 1`, alternates untraced and traced steady passes, wraps
   the engine's layer entry points (`spans.py`), runs each traced
   operation under its own Spark job group with the event log on, and
   reports per-layer metrics and the tracing overhead;
5. writes its result as JSON to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

import check
import datagen
import spans

# The analyst's SQL path: relational, window, rollup, percentile,
# JSON, skew-salted, bucketed-join and streaming-window entries. No
# lakehouse table and no Python UDF, so it is the no-change control for
# both. q2_min_cost_supplier is left out: its DuckDB oracle rounds an
# inexact double differently from Spark on about one seed in seven.
ANALYTICS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "q6_revenue_change",
    "q21_waiting_suppliers", "broadcast_dim_join", "window_topk_per_group", "window_running_sum",
    "rollup_agg", "distinct_counts", "percentile_stats", "json_extract", "skew_salted_groupby",
    "bucketed_colocated_join", "tumbling_daily_counts", "session_window_activity", "streaming_dedup_events",
)
# LLM-data operators over `documents` and `embeddings`: pandas-UDF
# workers (minhash signatures, LSH hyperplane buckets), iterative dedup
# jobs, exact and approximate vector top-k and the heaviest driver-side
# plan build (training_data_pipeline). A subset of the registry's LLM
# entries, sized so that a run with its cold pass fits the run budget on
# a busy host. simhash_pairs is left out: on about one generated corpus
# in twenty its recall falls below the floor its oracle asserts.
LLM_CORPUS = ("minhash_lsh_pairs", "ann_lsh_topk", "cosine_topk_bruteforce", "training_data_pipeline")
WORKLOADS = ("analytics", "llm_corpus", "lakehouse_rw")

# Input sizes: the fixture sf0.01 row counts (lineitem 60k, 500 documents,
# 500 embeddings); --small shrinks them.
RELATIONAL_SCALE = {False: 1.0, True: 0.1}
CORPUS_ROWS = {False: 500, True: 200}
# Traced runs alternate traced and untraced steady passes, traced first:
# what warm-up is left after the cold pass then counts as tracing overhead.
TRACE_PATTERN = (True, False)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-quantile, q in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Client:
    def __init__(self, args):
        self.args = args
        self.work = os.getcwd()
        self.tracer = spans.Tracer()
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.seq = 0
        self.pass_idx = 0
        self.spark = None
        self.corrupt = args.corrupt
        self._oracle: dict | None = None

    # -- setup -----------------------------------------------------------------
    def setup(self) -> float:
        args = self.args
        t_session = time.perf_counter()
        from local_datalakehouse_phase2_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            # the heap starts at its maximum (SPARK_GRAFT_DRIVER_MEM, set by run.py): a heap
            # that grows decides how far by GC timing, and the JVM's resident size follows
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                                             f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{args.nproc}]", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t_session
        self.inputs = os.path.join(self.work, "inputs")
        if args.workload == "lakehouse_rw":
            import lake

            self.lake = lake.LakeWorkload(self.spark, self.tracer, self.work, args.seed, args.small)
        elif args.workload == "analytics":
            datagen.write_tables(self.inputs, datagen.relational_tables(args.seed, RELATIONAL_SCALE[args.small]))
        else:
            rows = CORPUS_ROWS[args.small]
            datagen.write_tables(self.inputs, datagen.corpus_tables(args.seed, rows, rows))
        return time.time() - args.t0

    # -- one operation ------------------------------------------------------------
    def op(self, name: str, kind: str, fn, check_fn):
        """Run one timed operation, then check its output outside the timed
        region. Exceptions and wrong results count as failures."""
        self.seq += 1
        op_id = f"{self.args.workload}.{name}.{self.seq}"
        traced = self.tracer.enabled
        if traced:
            self.spark.sparkContext.setJobGroup(op_id, name)
        span = self.tracer.begin_op(op_id)
        t0 = time.perf_counter()
        out, err = None, None
        try:
            out = fn()
        except Exception as e:  # an engine error is a failed operation, never retried
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        dt = time.perf_counter() - t0
        self.tracer.end_op(span)
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if err is None:
            try:
                err = check_fn(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        self.records.append({"pass": self.pass_idx, "op": name, "kind": kind, "s": dt, "ok": err is None, "id": op_id})
        if err is not None:
            self.failures.append(f"{op_id}: {err}")
            print(f"FAILED {op_id}: {err}", file=sys.stderr, flush=True)
        return out

    # -- registry workloads ----------------------------------------------------
    def registry_pass(self, names: tuple[str, ...]) -> None:
        from local_datalakehouse_phase2_spark.registry import all_specs

        specs = all_specs()
        order = list(names)
        random.Random(f"{self.args.seed}/{self.pass_idx}").shuffle(order)
        for name in order:
            spec = specs[name]
            marks: dict[str, float] = {}

            def run(spec=spec, marks=marks):
                with self.tracer.span("operators", spec.name):
                    df = spec.fn(self.spark, self.inputs)
                marks["build_end"] = time.time()
                with self.tracer.span("spark", "action"):
                    return df.toPandas()

            rec_index = len(self.records)
            self.op(name, "query", run, lambda got, name=name: check.compare(got, self.expected(name)))
            self.records[rec_index]["build_end"] = marks.get("build_end")

    def expected(self, name: str):
        """The entry's DuckDB oracle result on this run's inputs, computed once."""
        if self._oracle is None:
            import duckdb

            from local_datalakehouse_phase2_spark.sources.loaders import TABLES

            self._oracle, self._con = {}, duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.inputs, f"{t}.parquet")
                if os.path.exists(path):
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        if name not in self._oracle:
            from local_datalakehouse_phase2_spark.registry import all_specs

            self._oracle[name] = self._con.execute(all_specs()[name].oracle).df()
        frame = self._oracle[name]
        if self.corrupt:
            # self-test hook: the first expected result loses its last row
            self.corrupt = False
            return frame.iloc[:-1]
        return frame

    def lake_pass(self) -> dict:
        import shutil

        pass_dir = os.path.join(self.work, f"pass{self.pass_idx}")
        try:
            return self.lake.run_pass(self, pass_dir)
        finally:
            shutil.rmtree(pass_dir, ignore_errors=True)

    def one_pass(self) -> dict:
        """One pass of the workload; returns the lakehouse pass's byte ratios."""
        if self.args.workload == "analytics":
            self.registry_pass(ANALYTICS)
        elif self.args.workload == "llm_corpus":
            self.registry_pass(LLM_CORPUS)
        else:
            return self.lake_pass()
        return {}

    # -- the run ------------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        setup_s = self.setup()
        if args.trace:
            self.tracer.install()
        clock = {"setup": time.time()}
        self.one_pass()
        clock["cold_pass"] = time.time()
        passes = []  # (pass index, traced, lakehouse byte ratios)
        t_steady = time.perf_counter()
        while True:
            self.pass_idx += 1
            block = self.pass_idx % len(TRACE_PATTERN)
            self.tracer.enabled = bool(args.trace) and TRACE_PATTERN[block - 1]
            passes.append((self.pass_idx, self.tracer.enabled, self.one_pass()))
            done = time.perf_counter() - t_steady >= args.seconds
            if done and (not args.trace or block == 0):
                break
        self.tracer.enabled = False
        clock["steady_passes"] = time.time()
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(self.spark._jvm.java.lang.ProcessHandle.current().pid())) / 1024.0

        result = {
            "workload": args.workload,
            "attempted": len(self.records),
            "failed": len(self.failures),
            "failures": self.failures[:20],
            "metrics": {},
            "detail": {},
        }
        m = result["metrics"]
        untraced = [p for p in passes if not p[1]]
        m["setup_s"] = setup_s
        m["cold_pass_s"] = sum(r["s"] for r in self.records if r["pass"] == 0)
        m.update(self.steady_metrics({p[0] for p in untraced}))
        m["peak_rss_mb"] = rss_mb
        if args.workload == "lakehouse_rw":
            for key in ("write_amp", "space_amp"):
                m[key] = statistics.median(p[2][key] for p in untraced)
        result["detail"]["cold_ops_s"] = {r["op"]: r["s"] for r in self.records if r["pass"] == 0}
        result["detail"]["steady_passes"] = len(untraced)
        result["detail"]["steady_samples"] = sum(1 for r in self.records if r["pass"] in {p[0] for p in untraced})
        if args.trace:
            traced = [p for p in passes if p[1]]
            tm = self.steady_metrics({p[0] for p in traced})
            m["trace.overhead_ratio"] = m["ops_per_s"] / tm["ops_per_s"]
            layers, result["per_op"], detail = self.layer_metrics({p[0] for p in traced}, len(traced))
            m.update(layers)
            result["detail"].update(detail)
        self.spark.stop()
        clock["spark_stop"] = time.time()
        result["detail"]["phase_wall_s"] = {k: t - prev for (k, t), prev in zip(clock.items(), [args.t0, *clock.values()])}
        if args.trace:
            self.add_event_log_counters(result, {p[0] for p in passes if p[1]}, len([p for p in passes if p[1]]))
            os.makedirs(args.spans_dir, exist_ok=True)
            self.tracer.dump(os.path.join(args.spans_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            with open(os.path.join(args.spans_dir, f"ops-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(result.pop("per_op"), f)
        return result

    def steady_metrics(self, pass_ids: set[int]) -> dict:
        """Throughput and latency over the given passes. Time is the sum of
        the operations' own timed regions: the client's checks between
        operations are not the engine's time. A latency quantile is taken
        per pass, over that pass's operations, and the median over the
        passes is reported, so that one pass slowed by the host does not
        move it. Failed operations count with the time they took; `failed`
        reports them."""
        recs = [r for r in self.records if r["pass"] in pass_ids]
        by_pass = [[r["s"] for r in recs if r["pass"] == p] for p in sorted(pass_ids)]
        out = {
            "ops_per_s": len(recs) / sum(r["s"] for r in recs),
            "latency_p50_s": statistics.median(percentile(lat, 0.5) for lat in by_pass),
            "latency_p90_s": statistics.median(percentile(lat, 0.9) for lat in by_pass),
        }
        if self.args.workload == "lakehouse_rw":
            n = len(pass_ids)
            out["commit_small_p50_s"] = statistics.median(r["s"] for r in recs if r["kind"] == "micro")
            out["write_s"] = sum(r["s"] for r in recs if r["kind"] in ("write", "micro")) / n
            out["read_s"] = sum(r["s"] for r in recs if r["kind"] == "read") / n
        return out

    # -- per-layer metrics (traced passes) ------------------------------------------------
    def layer_metrics(self, pass_ids: set[int], n_passes: int) -> tuple[dict, dict, dict]:
        """Per-layer self times and counts, summed over the traced passes'
        operations and divided by the number of traced passes; the spans
        reduced per operation; and every layer's self time (the `op`
        layer is the benchmark's own time inside an operation) and the
        fs calls per method."""
        per_op = self.tracer.per_op()
        traced_ids = {r["id"] for r in self.records if r["pass"] in pass_ids}
        tot: dict[str, float] = {}

        def add(key, v):
            tot[key] = tot.get(key, 0.0) + v

        for op_id in traced_ids:
            rec = per_op.get(op_id, {"layers": {}, "methods": {}})
            lay, meth = rec["layers"], rec["methods"]
            for layer, agg in lay.items():
                add(f"{layer}.self_s", agg["self_s"])
                add(f"{layer}.py4j", agg["py4j"])
            for method, agg in meth.items():
                if method.startswith("fs."):
                    add(f"fs_calls.{method[3:]}", agg["calls"])
            get = lambda k, f="self_s": meth.get(k, {}).get(f, 0)  # noqa: E731
            add("table.write_s", get("table.append") + get("table.merge") + get("table.delete_where"))
            add("table.read_plan_s", get("table.read"))
            add("log.append_s", get("log.append"))
            add("log.state_at_s", get("log.state_at"))
            add("log.entries_read", get("log.read_entry", "calls"))
            add("log.checkpoints_written", get("log.write_checkpoint", "calls"))
            add("log.commit_conflicts", get("fs.create_exclusive_guarded", "conflicts"))
            add("fs.calls", lay.get("fs", {}).get("calls", 0))
            add("fs.log_files_read", get("fs.read_text", "log_files_read"))
            add("fs.create_exclusive_s", get("fs.create_exclusive") + get("fs.create_exclusive_guarded"))
            add("fs.bytes_written", sum(v.get("bytes_written", 0) for k, v in meth.items() if k.startswith("fs."))
                + get("log.append", "data_bytes"))
            add("pruning.files_kept", get("pruning.prune_files", "files_kept"))
            add("pruning.files_seen", get("pruning.prune_files", "files_seen"))
            add("maintenance.rewrite_s", get("maintenance.rewrite_data_files"))
            add("maintenance.expire_s", get("maintenance.expire_snapshots"))
        n = max(1, n_passes)
        layers = {
            "session.start_s": self.session_start_s,
            "operators.build_s": tot.get("operators.self_s", 0.0) / n,
            "operators.build_py4j_calls": tot.get("operators.py4j", 0.0) / n,
            "spark.action_s": tot.get("spark.self_s", 0.0) / n,
            "spark.py4j_calls": tot.get("spark.py4j", 0.0) / n,
            "table.write_s": tot.get("table.write_s", 0.0) / n,
            "table.read_plan_s": tot.get("table.read_plan_s", 0.0) / n,
            "log.append_s": tot.get("log.append_s", 0.0) / n,
            "log.entries_read": tot.get("log.entries_read", 0.0) / n,
            "log.state_at_s": tot.get("log.state_at_s", 0.0) / n,
            "log.checkpoints_written": tot.get("log.checkpoints_written", 0.0) / n,
            "log.commit_conflicts": tot.get("log.commit_conflicts", 0.0) / n,
            "fs.calls": tot.get("fs.calls", 0.0) / n,
            "fs.s": tot.get("fs.self_s", 0.0) / n,
            "fs.log_files_read": tot.get("fs.log_files_read", 0.0) / n,
            "fs.create_exclusive_s": tot.get("fs.create_exclusive_s", 0.0) / n,
            "fs.bytes_written": tot.get("fs.bytes_written", 0.0) / n,
            "fastwrite.s": tot.get("fastwrite.self_s", 0.0) / n,
            "pruning.files_kept_ratio": (tot["pruning.files_kept"] / tot["pruning.files_seen"]) if tot.get("pruning.files_seen") else 0.0,
            "maintenance.rewrite_s": tot.get("maintenance.rewrite_s", 0.0) / n,
            "maintenance.expire_s": tot.get("maintenance.expire_s", 0.0) / n,
        }
        detail = {
            "layer_self_s": {k[: -len(".self_s")]: v / n for k, v in tot.items() if k.endswith(".self_s")},
            "fs_calls_by_method": {k[len("fs_calls."):]: v / n for k, v in tot.items() if k.startswith("fs_calls.")},
        }
        return layers, per_op, detail

    def add_event_log_counters(self, result: dict, pass_ids: set[int], n_passes: int) -> None:
        """Spark job/stage/task and Python-UDF counters of the traced
        operations, from the event log; build jobs are those submitted
        before the operation's plan build returned."""
        groups = spans.event_log_counters(os.path.join(self.work, "eventlog"))
        recs = [r for r in self.records if r["pass"] in pass_ids]
        n = max(1, n_passes)
        keys = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
                "spark.input_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
                "udf.rows_to_python", "udf.bytes_to_python", "udf.bytes_from_python")
        tot = dict.fromkeys(keys, 0.0)
        build_jobs = 0
        micro = micro_no_job = 0
        for r in recs:
            g = groups.get(r["id"], {})
            for k in keys:
                tot[k] += g.get(k, 0.0)
            if r.get("build_end") is not None:
                build_jobs += sum(1 for t in g.get("job_times", []) if t <= r["build_end"])
            if r["kind"] == "micro":
                micro += 1
                micro_no_job += g.get("spark.jobs", 0) == 0
            per_op = result["per_op"].setdefault(r["id"], {})
            per_op["spark"] = {k: v for k, v in g.items() if k != "job_times"}
        m = result["metrics"]
        for k in keys:
            m[k] = tot[k] / n
        m["operators.build_jobs"] = build_jobs / n
        m["fastwrite.hit_ratio"] = micro_no_job / micro if micro else 0.0
        scanned = [r for r in recs if "scan_files" in r]
        m["table.scan_files"] = sum(r["scan_files"] for r in scanned) / n
        m["table.delete_files_applied"] = sum(r["delete_files"] for r in scanned) / n
        maint = [r for r in recs if "bytes_rewritten" in r]
        m["maintenance.bytes_rewritten"] = sum(r["bytes_rewritten"] for r in maint) / n
        m["maintenance.files_removed"] = sum(r["files_removed"] for r in maint) / n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="launch time, seconds since the epoch")
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-dir", default=".")
    ap.add_argument("--small", action="store_true", help="shrunken inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one expected result, for the self-test")
    args = ap.parse_args(argv)
    client = Client(args)
    try:
        result = client.run()
    except Exception:
        traceback.print_exc()
        return 1
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
