#!/usr/bin/env python3
"""Benchmark of the KG system: load, merge, query and compact an index.

    python3 kgbench/run.py --workload query|ingest --seed 1 --seconds 2 --trace 0

One run is one fresh process with one client. It loads an index from
seeded inputs, merges new batches into it, serves single patterns,
conjunctive queries and a batched querylog from it, compacts it, and
checks every answer against independent pandas computations. The last
stdout line is the JSON result; with --trace 1 it carries the per-layer
metrics instead of the end-to-end ones. See kgbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import indexes  # noqa: E402
import measure  # noqa: E402
import tracing  # noqa: E402
import workload  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Fixed on every commit so runs stay comparable.
SHUFFLE_PARTITIONS = 4
READS_AFTER_COMPACT = 8  # traced run only

E2E_UNITS = {
    "setup_s": "s",
    "build_triples_per_s": "triples/s",
    "index_bytes_per_triple": "B/triple",
    "query_p50_ms": "ms",
    "sparql_p50_ms": "ms",
    "querylog_patterns_per_s": "patterns/s",
    "merge_s": "s",
    "compact_s": "s",
}
LAYER_GROUPS = ["pipeline", "checkpoint", "extract", "link", "canonicalize", "encode",
                "permutations", "delta", "router", "querylog", "sparql", "bgp"]


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of host RAM, capped at 4 GiB: the machine is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the work dir, and
    give the program its code defaults (no AQE/cores/memory overrides)."""
    for var in ("SPARK_GRAFT_AQE", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM would otherwise write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def stop_spark(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit: the
    JVM leaves when its stdin closes, which otherwise happens only when
    this process exits."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM summed over this process, the driver JVM and the JVM's
    descendants (the python daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = {os.getpid()}, [jvm_pid]
    while todo:
        pid = todo.pop()
        if pid not in pids:
            pids.add(pid)
            todo.extend(children.get(pid, []))
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kb / 1024.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the single-pattern query loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="base input size: transcript turns (ingest) or triples (query); "
                         "default: the benchmark's size, tests pass less")
    return ap.parse_args(argv)


class Run:
    """One benchmark run: session, inputs, timed phases, checks."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.log = measure.OpLog()
        self.tracer = None
        self.values: dict[str, float] = {}  # end-to-end metrics
        self.layer: dict[str, float] = {}  # per-layer metrics (traced run)
        self.router_plans: list[tuple[float, float, object, int]] = []
        self.sparql_parts: list[tuple[float, float, float]] = []
        self.timed_wall_s = 0.0
        self.spans: dict[str, list] = {}  # timed step -> its spans (traced run)

    # ------------------------------------------------------------ set-up
    def start_session(self):
        from rdf_indexes_spark.session import get_spark

        # no hsperfdata file: the JVM would write it to /tmp
        java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        extra = {"spark.driver.extraJavaOptions": java_opts}
        if self.trace:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        self.cores = host_cores()
        t0 = time.monotonic()
        self.spark = get_spark(
            cores=self.cores, shuffle_partitions=SHUFFLE_PARTITIONS,
            app_name="kgbench", driver_memory=driver_memory(), extra_conf=extra,
        )
        self.session_s = time.monotonic() - t0
        if self.trace:
            self.tracer = tracing.Tracer(self.run_id, self.spark)
        t0 = time.monotonic()
        (self.spark.range(0, 100_000, numPartitions=self.cores)
         .selectExpr("id % 1000 AS k").groupBy("k").count().collect())
        self.warmup_s = time.monotonic() - t0

    def span(self, name: str, layer: str):
        from contextlib import nullcontext

        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def patch_layers(self):
        """Wrap the program's entry points at the names its modules call."""
        import rdf_indexes_spark.checkpoint as checkpoint
        import rdf_indexes_spark.delta as delta
        import rdf_indexes_spark.operators.encode as enc
        import rdf_indexes_spark.operators.permutations as perm
        import rdf_indexes_spark.pipeline as pipeline
        import rdf_indexes_spark.plans.bgp as bgp
        import rdf_indexes_spark.plans.querylog as querylog
        import rdf_indexes_spark.plans.router as router
        import rdf_indexes_spark.plans.sparql as sparql

        t = self.tracer
        for mod in (pipeline, delta):
            t.wrap(mod, "extract_mentions", "extract")
            t.wrap(mod, "candidate_edges", "link")
            for name in ("connected_components", "canonical_map", "canonicalize_mentions"):
                t.wrap(mod, name, "canonicalize")
        t.wrap(enc, "build_vocabs_fused", "encode")
        t.wrap(enc, "encode_mentions", "encode")
        t.wrap(perm, "dedup_triples", "permutations")
        t.wrap(perm, "write_permutations_unified", "permutations", materialize_result=False)
        t.wrap(perm, "compute_stats", "permutations")
        t.wrap(checkpoint.StageStore, "run", "checkpoint", materialize_result=False)
        # select() only builds a lazy plan: these spans are plan construction
        for mod in (router, bgp, sparql, querylog):
            t.wrap(mod, "select", "router", materialize_result=False)

    def step(self, phase: str, fn, layer: str, check):
        """One timed index step; its check (Spark jobs included) runs right
        after it, outside the timing."""
        def run():
            with self.span(phase, layer) as sp:
                out = fn()
            self.spans.setdefault(phase, []).append(sp)
            return out

        op = self.log.run(phase, phase, run)
        bad = check(op.result) if op.error is None else [op.error]
        op.ok = not bad
        if bad:
            op.error = "; ".join(bad)
        return op

    # ------------------------------------------------------------ reads
    def pattern_op(self, phase: str, tables, pat, triples):
        """One single-pattern operation: membership through is_member,
        every other class as a count over the routed scan."""
        from rdf_indexes_spark.plans import router

        def run():
            with self.span(f"router {pat.kind}", "router"):
                if pat.kind == "S P O":
                    return router.is_member(tables, pat.s, pat.p, pat.o)
                t0 = time.perf_counter()
                agg = router.select(tables, s=pat.s, p=pat.p, o=pat.o).groupBy().count()
                if self.trace:
                    agg._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                n = agg.collect()[0][0]
                if self.trace:
                    self.router_plans.append((t1 - t0, time.perf_counter() - t1, agg, n))
                return n

        def check(r):
            n = workload.expected_count(triples, pat)
            return r == (n > 0) if pat.kind == "S P O" else r == n

        return self.log.run(phase, pat.kind, run, check)

    def query_phase(self, tables, triples, rng):
        n_min = workload.OPS[self.args.workload]["query"]
        pats = workload.patterns(triples, list(workload.PATTERN_KINDS), 4 * n_min, rng)
        t0 = time.monotonic()
        i = 0
        while i < n_min or time.monotonic() - t0 < self.args.seconds:
            self.pattern_op("query", tables, pats[i % len(pats)], triples)
            i += 1

    def conjunctive_phase(self, tables, spark_vocabs, triples, vocabs):
        from rdf_indexes_spark.plans import bgp, sparql

        n_ops = workload.OPS[self.args.workload]["sparql"]
        for op in workload.conjunctive_ops(triples, vocabs)[:n_ops]:
            def run(op=op):
                if op.kind == "bgp":
                    with self.span("bgp.bgp_join", "bgp"):
                        n = bgp.bgp_join(tables, op.query).count()
                    self.layer["bgp.rows_out"] = n
                    return n
                with self.span("sparql.run_sparql", "sparql"):
                    t0 = time.perf_counter()
                    q = sparql.parse_sparql(op.query)
                    t1 = time.perf_counter()
                    agg = sparql.run_sparql(q, tables, spark_vocabs).groupBy().count()
                    if self.trace:
                        agg._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    n = agg.collect()[0][0]
                    self.sparql_parts.append((t1 - t0, t2 - t1, time.perf_counter() - t2))
                    return n

            self.log.run("sparql", op.label, run, lambda r, e=op.expected: r == e)

    def querylog_phase(self, tables, triples, rng):
        from rdf_indexes_spark.plans import querylog

        calls, per_call = workload.OPS[self.args.workload]["querylog"]
        rates, plan, exe = [], [], []
        for _ in range(calls):
            pats = workload.patterns(triples, workload.QUERYLOG_KINDS, per_call, rng,
                                     with_misses=False)
            qpats = [querylog.Pattern(p.s, p.p, p.o) for p in pats]

            def run(qpats=qpats):
                with self.span("querylog.run_querylog_batched", "querylog"):
                    t0 = time.perf_counter()
                    out = querylog.run_querylog_batched(tables, qpats)
                    t1 = time.perf_counter()
                    n = out.count()
                    plan.append(t1 - t0)
                    exe.append(time.perf_counter() - t1)
                    return n

            def check(r, pats=pats):
                return r == sum(workload.expected_count(triples, p) for p in pats)

            op = self.log.run("querylog", "batched", run, check)
            rates.append(per_call / op.seconds)
        self.values["querylog_patterns_per_s"] = measure.percentile(rates, 50)
        self.layer["querylog.plan_build_s"] = measure.percentile(plan, 50) if plan else 0.0
        self.layer["querylog.exec_s"] = measure.percentile(exe, 50) if exe else 0.0

    # ------------------------------------------------------------ driver
    def execute(self) -> dict:
        import numpy as np

        args = self.args
        # inputs first: their generation is kept out of set-up time
        t0 = time.monotonic()
        size = args.size or workload.DEFAULT_SIZE[args.workload]
        inputs = workload.ensure_inputs(os.path.join(WORK, "cache"), args.workload, size, args.seed)
        gen_s = time.monotonic() - t0
        self.start_session()
        idx = indexes.INDEXES[args.workload](
            self.spark, os.path.join(self.run_dir, "index"), inputs, f"{args.workload}-{args.seed}")
        rng = np.random.default_rng(args.seed)
        if self.trace:
            t0 = time.monotonic()
            self.layer["source.rows"] = idx.base.count()
            self.layer["source.scan_s"] = time.monotonic() - t0
            self.patch_layers()
        self.values["setup_s"] = time.monotonic() - T_PROCESS - gen_s
        timed = 0.0

        t0 = time.monotonic()
        load = self.step("load", idx.load, idx.LAYERS["load"], lambda r: [])
        timed += time.monotonic() - t0
        idx.prepare_checks()
        if load.error is None:
            bad = idx.check_load(load.result)
            load.ok, load.error = not bad, "; ".join(bad) or None
        n = idx.num_triples(load.result) if load.result else 0
        nbytes, nfiles = indexes.parquet_bytes_and_files(idx.perms_dir)
        self.values["build_triples_per_s"] = n / load.seconds
        self.values["index_bytes_per_triple"] = nbytes / max(1, n)
        self.layer["permutations.bytes_written"] = nbytes
        self.layer["permutations.files_written"] = nfiles
        self.layer["checkpoint.stage_write_s"] = idx.stage_write_s() if load.result else 0.0

        t0 = time.monotonic()
        merges = [self.step("merge", lambda k=k: idx.merge(k), idx.LAYERS["merge"],
                            lambda r, k=k: idx.check_merge(r, k)) for k in range(idx.batches)]
        timed += time.monotonic() - t0
        self.values["merge_s"] = measure.percentile([op.seconds for op in merges], 50)
        self.layer["delta.perm_files"] = indexes.parquet_bytes_and_files(idx.perms_dir)[1]

        triples, vocabs = idx.collect()
        tables, spark_vocabs = idx.tables(), idx.vocabs()
        t0 = time.monotonic()
        self.query_phase(tables, triples, rng)
        self.conjunctive_phase(tables, spark_vocabs, triples, vocabs)
        self.querylog_phase(tables, triples, rng)
        timed += time.monotonic() - t0

        t0 = time.monotonic()
        compact = self.step("compact", idx.compact, idx.LAYERS["compact"],
                            lambda r: idx.check_compact(r, len(triples)))
        timed += time.monotonic() - t0
        self.values["compact_s"] = compact.seconds
        if self.trace:
            tables = idx.tables()
            for pat in workload.patterns(triples, workload.POINT_KINDS, READS_AFTER_COMPACT, rng):
                self.pattern_op("read_after_compact", tables, pat, triples)

        self.log.verify()
        self.peak_rss_mb = tree_peak_rss_mb(int(self.spark._jvm.ProcessHandle.current().pid()))
        self.layer["session.peak_rss_mb"] = self.peak_rss_mb
        self.timed_wall_s = timed
        if self.trace:
            self.tracer.unpatch()
            self.per_layer(idx)
            stop_spark(self.spark)
            self.engine_counters()
            self.tracer.write(os.path.join(self.run_dir, "spans.jsonl"))
        else:
            self.end_to_end()
            stop_spark(self.spark)
        return self.result()

    # ------------------------------------------------------------ metrics
    def end_to_end(self):
        q = self.log.seconds("query")
        self.values["query_p50_ms"] = 1000 * measure.percentile(q, 50)
        self.values["sparql_p50_ms"] = 1000 * measure.percentile(self.log.seconds("sparql"), 50)

    def per_layer(self, idx):
        spans = self.tracer.spans
        by_id = {s.id: s for s in spans}
        own = tracing.self_seconds(spans)

        def under(s, root) -> bool:
            while s.parent is not None:
                if s.parent == root.id:
                    return True
                s = by_id[s.parent]
            return False

        def busy(root, pred) -> float:
            if root is None:
                return 0.0
            return sum(own[s.id] for s in spans if under(s, root) and pred(s))

        def rows(root, pred) -> float:
            found = [s.rows for s in spans if root and under(s, root) and pred(s) and s.rows]
            return float(found[0]) if found else 0.0

        b, merges = self.spans["load"][0], self.spans["merge"]
        L = self.layer
        L["session.start_s"] = self.session_s
        L["session.warmup_s"] = self.warmup_s
        L["extract.busy_s"] = busy(b, lambda s: s.layer == "extract")
        mentions = rows(b, lambda s: s.layer == "extract")
        L["extract.mentions_per_s"] = mentions / L["extract.busy_s"] if L["extract.busy_s"] else 0.0
        L["link.busy_s"] = busy(b, lambda s: s.layer == "link")
        L["link.edges"] = rows(b, lambda s: s.layer == "link")
        L["canonicalize.busy_s"] = busy(b, lambda s: s.layer == "canonicalize")
        # canonical_map rows name their component in the canonical column
        L["canonicalize.components"] = 0.0
        cmap = os.path.join(idx.workdir, "canonical_map")
        if os.path.isdir(cmap):
            L["canonicalize.components"] = float(
                self.spark.read.parquet(cmap).select("canonical").distinct().count())
        L["encode.vocab_busy_s"] = busy(b, lambda s: s.name.endswith("build_vocabs_fused"))
        L["encode.encode_busy_s"] = busy(b, lambda s: s.name.endswith("encode_mentions"))
        L["encode.vocab_terms"] = rows(b, lambda s: s.name.endswith("build_vocabs_fused"))
        L["permutations.dedup_busy_s"] = busy(b, lambda s: s.name.endswith("dedup_triples"))
        L["permutations.write_busy_s"] = busy(
            b, lambda s: s.name.endswith(("write_permutations_unified", "compute_stats")))
        children = [(s.start, s.end) for s in spans if s.parent == b.id]
        L["load.span_coverage"] = tracing.union_seconds(children, b.start, b.end) / b.seconds
        L["load.driver_s"] = own[b.id]
        L["delta.merge_busy_s"] = sum(own[m.id] for m in merges)
        L["delta.stats_refresh_s"] = sum(
            busy(m, lambda s: s.name.endswith("compute_stats")) for m in merges)
        L["delta.append_write_s"] = sum(
            busy(m, lambda s: s.name.endswith("write_permutations_unified")) for m in merges)
        L["router.read_after_compact_p50_ms"] = 1000 * measure.percentile(
            self.log.seconds("read_after_compact"), 50)
        plans = self.router_plans
        scans = [tracing.scan_metrics(p[2]) for p in plans]
        L["router.plan_ms"] = 1000 * measure.percentile([p[0] for p in plans], 50)
        L["router.exec_ms"] = 1000 * measure.percentile([p[1] for p in plans], 50)
        L["router.files_read"] = sum(s["files"] for s in scans) / len(scans)
        L["router.rows_scanned_per_row_returned"] = (
            sum(s["rows"] for s in scans) / max(1, sum(p[3] for p in plans)))
        L["sparql.parse_ms"] = 1000 * measure.percentile([p[0] for p in self.sparql_parts], 50)
        L["sparql.plan_ms"] = 1000 * measure.percentile([p[1] for p in self.sparql_parts], 50)
        L["sparql.exec_ms"] = 1000 * measure.percentile([p[2] for p in self.sparql_parts], 50)
        L.setdefault("bgp.rows_out", 0.0)  # "ingest" runs no bgp_join
        L["trace.timed_wall_s"] = self.timed_wall_s
        self.self_times, self.incl_times = self.tracer.layer_seconds()

    def engine_counters(self):
        """Per-layer Spark counters from the event log (read after stop)."""
        red = tracing.reduce_event_log(tracing.read_event_log(self.event_dir))
        b = self.spans["load"][0]
        jobs = [(j["start"], j["end"]) for j in red["jobs"]
                if j["start"] >= b.start and j["end"] <= b.end]
        self.layer["load.jobs"] = len(jobs)
        self.layer["load.driver_idle_s"] = b.seconds - tracing.union_seconds(jobs, b.start, b.end)
        for g in LAYER_GROUPS:
            acc = red["groups"].get(g, {})
            wall = self.incl_times.get(g, 0.0)
            task_s = acc.get("task_s", 0.0)
            self.layer[f"spark.{g}.task_s"] = task_s
            self.layer[f"spark.{g}.gc_s"] = acc.get("gc_s", 0.0)
            self.layer[f"spark.{g}.shuffle_write_bytes"] = acc.get("shuffle_write_bytes", 0.0)
            self.layer[f"spark.{g}.spill_bytes"] = acc.get("spill_bytes", 0.0)
            busy = task_s / (wall * self.cores) if wall else 0.0
            self.layer[f"spark.{g}.slot_utilization"] = busy

    def result(self) -> dict:
        if self.trace:
            metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                       for k, v in sorted(self.layer.items())}
        else:
            metrics = {k: {"value": float(self.values[k]), "unit": u} for k, u in E2E_UNITS.items()}
        return {
            "correct": self.log.failed == 0,
            "attempted": self.log.attempted,
            "failed": self.log.failed,
            "metrics": metrics,
        }


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("utilization", "coverage", "per_row_returned")):
        return "ratio"
    return "count"


def summary(run: Run, res: dict) -> None:
    """Human-readable lines before the JSON result: sample counts, failures
    and (traced) each layer's self time."""
    log = run.log
    counts = {ph: len(log.seconds(ph)) for ph in
              ("load", "merge", "query", "sparql", "querylog", "compact", "read_after_compact")}
    print(f"# run {run.run_id}: timed phases {run.timed_wall_s:.2f}s, samples {counts}, "
          f"peak RSS {run.peak_rss_mb:.0f} MB")
    for op in log.failures():
        why = op.error or "wrong result"
        print(f"# FAILED {op.phase} {op.label}: {why} -> {op.result!r}"[:300])
    if run.trace:
        print("# layer self time (s), every traced span of the run:")
        for layer, s in sorted(run.self_times.items(), key=lambda kv: -kv[1]):
            print(f"#   {layer:14s} {s:8.3f}")
    for k, v in res["metrics"].items():
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in workload.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {workload.WORKLOADS}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import rdf_indexes_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    run = Run(args)
    shutil.rmtree(run.run_dir, ignore_errors=True)
    prepare_env(run.run_dir)
    try:
        res = run.execute()
    finally:
        shutil.rmtree(os.path.join(run.run_dir, "index"), ignore_errors=True)
        shutil.rmtree(os.path.join(run.run_dir, "spark-local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run.run_dir, "tmp"), ignore_errors=True)
    summary(run, res)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run.run_id + ".json"), "w") as f:
        json.dump(res, f)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
