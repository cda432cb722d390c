"""The repository benchmark: one workload per fresh process.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for sizes and the layer map):

* ``ingest`` -- two kinds of unit, each on a fresh warehouse: ``bulk`` is a
  first load of a customers Parquet file, then a same-size re-delivery
  merged into it, each through ``PipelineRunner.run``; ``drop`` drains two
  directories of small CSV / gzip CSV / JSON / Parquet / Excel files with
  ``Processor.process_files_in_parallel`` (2 worker threads, an archive
  directory, one file per expected taxonomy error).
* ``curation_ops`` -- each of five suite queries over generated tables is a
  unit, timed from the query-building call through a noop sink.

The run generates its inputs from ``--seed``, sets up a Spark session and
warms it up (ingest runs each unit once on small inputs; curation collects
every query's result for the oracle check), then runs units in a fixed
rotation until ``--seconds`` have passed and each kind has run once,
checking every ingest unit's outputs against the generator's manifest.
Each unit's wall time and the CPU time of the whole process tree are
recorded. The last line of stdout is the result JSON; the line before it
holds workload-specific detail, wall times included. ``--trace 1`` installs
the per-layer wrappers (perfbench/tracing.py) and reports per-layer metrics
instead of the end-to-end ones. The exit code is 0 only when every output
was correct.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
from gen import CURATION_QUERIES  # noqa: E402

WORKLOADS = ("ingest", "curation_ops")
HEAP = "2g"
WORKERS = 2  # process_files_in_parallel's own default on a 4-core machine
WARM_SCALE = 0.05  # ingest warm-up input size factor
# the curation tables stand in for the suite's fixed seed-42 test data, so
# --seed does not change them (ingest inputs do follow --seed)
CURATION_SEED = 42
SETTLE_LIMIT_S = 3.0  # longest wait for the process tree to go idle after a unit
CPUS = 2  # Spark task threads (local[2]): leaves cores for the driver, GC and JIT
JVM_THREADS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "rows_per_cpu_s": "rows/cpu_s",
              "peak_rss_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="etl_file_loader_spark benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the self-tests use a tiny scale)")
    return p.parse_args(argv)


def prepare_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    ``work``; give the workers the package on their path."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    # a heap that starts at its full size keeps peak RSS from depending on
    # when the JVM happened to grow it; heap pressure shows in spark.jvm_gc_s.
    # GC and JIT threads are capped so that the JVM's threads do not outnumber
    # the cores left over by the task threads.
    confs = ["--driver-java-options",
             f"-Xms{mem} {JVM_THREADS} -Djava.io.tmpdir={work / 'tmp'}"]
    confs += ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:  # the drop-directory phase alone submits hundreds of jobs per pass
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            confs += ["--conf", f"{k}=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(confs + ["pyspark-shell"])


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of this process plus its JVM, in MB."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def stored_bytes(path: Path) -> int:
    """Bytes on disk under ``path``, each inode once (versions hard-link)."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and its Python workers), the children they reaped included."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        # after "pid (comm)": state ppid ... utime stime cutime cstime at 11..14
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def settle(limit_s: float = SETTLE_LIMIT_S, step_s: float = 0.25) -> float:
    """Wait until the process tree is nearly idle (under a quarter of one
    core over ``step_s``), so that JIT compilation and clean-up queued by
    one unit are charged to it, not to the next. Returns the seconds
    waited."""
    t0 = time.perf_counter()
    last = tree_cpu_s()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(step_s)
        now = tree_cpu_s()
        if now - last < step_s / 4:
            break
        last = now
    return time.perf_counter() - t0


def host_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings of ``cpu_ticks``: a sign of a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


@dataclass
class Outcome:
    """One timed unit of a workload (an ingest phase or one query) and how
    many of its outputs were wrong."""

    kind: str
    wall_s: float
    cpu_s: float
    op_s: list[float]
    rows: int
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

# unit of the ingest loop -> the generator phases (input directories) it loads
INGEST_UNITS = {"bulk": ("bulk",), "drop": ("first", "again")}


def ingest_unit(spark, kind: str, inputs: Path, manifest: dict, dest: Path) -> tuple[Outcome, dict]:
    """One unit on a fresh warehouse: ``bulk`` runs the customers first load
    and its re-delivery through ``PipelineRunner.run``; ``drop`` drains the
    drop directories with ``process_files_in_parallel`` (2 workers)."""
    from etl_file_loader_spark.exceptions import FileError
    from etl_file_loader_spark.plans.pipeline import PipelineRunner, Processor, RunResult
    from etl_file_loader_spark.plans.warehouse import Warehouse

    import sources

    @dataclass
    class TimedProcessor(Processor):
        times: dict = field(default_factory=dict)

        def process_file(self, path, log_id=None):
            t0 = time.perf_counter()
            result = super().process_file(path, log_id)
            self.times[result.filename] = time.perf_counter() - t0
            return result

    results: dict[tuple[str, str], tuple[float, RunResult]] = {}
    c0, t_unit = tree_cpu_s(), time.perf_counter()
    wh = Warehouse(spark, str(dest / kind))
    if kind == "bulk":
        cfg = sources.customers("customers-bulk-*.parquet")
        for f in (m for m in manifest["files"] if m["phase"] == "bulk"):
            t0 = time.perf_counter()
            try:
                r = PipelineRunner(spark, wh, cfg, str(inputs / "bulk" / f["file"])).run()
            except FileError as e:
                r = RunResult(False, f["file"], type(e).__name__, str(e))
            results[("bulk", f["file"])] = (time.perf_counter() - t0, r)
    else:
        registry = sources.drop_registry()
        for phase in INGEST_UNITS["drop"]:
            proc = TimedProcessor(spark, wh, registry, archive_dir=str(dest / "archive"))
            proc.process_files_in_parallel(str(inputs / phase), max_workers=WORKERS)
            for r in proc.results:
                results[(phase, r.filename)] = (proc.times[r.filename], r)
    wall_s = time.perf_counter() - t_unit
    settle()  # the unit's CPU includes the background work it left running
    out = Outcome(kind=kind, wall_s=wall_s, cpu_s=tree_cpu_s() - c0, op_s=[t for t, _ in results.values()],
                  rows=manifest[kind]["input_rows"],
                  detail={"op_s": {k: t for k, (t, _) in results.items()}})
    return out, {"results": results, "wh": wh}


def check_ingest(out: Outcome, state: dict, manifest: dict, dest: Path, corrupt: bool = False) -> None:
    """Compare each file's outcome and each table of one unit with the
    manifest (``corrupt`` falsifies every expected digest, to show the check
    fails)."""
    import sources

    phases = INGEST_UNITS[out.kind]
    results, wh = state["results"], state["wh"]
    for f in (f for f in manifest["files"] if f["phase"] in phases):
        out.attempted += 1
        got = results.get((f["phase"], f["file"]))
        if got is None:
            out.failures.append(f"{f['phase']}/{f['file']}: no result")
            continue
        r = got[1]
        want = (f["error_type"] is None, f["error_type"], f["inserts"], f["updates"], f["unchanged"])
        c = r.counts
        have = (r.success, r.error_type, *((c.inserts, c.updates, c.unchanged) if c else (0, 0, 0)))
        if want != have:
            out.failures.append(f"{f['phase']}/{f['file']}: expected {want}, got {have}")

    configs = {"customers": sources.customers(), "transactions": sources.transactions(),
               "products": sources.products(), "ledger_entries": sources.ledger_entries()}
    exp = manifest[out.kind]
    checks = {}
    for table, t in exp["tables"].items():
        rows, digest = sources.table_digest(wh.read_table(table), configs[table])
        checks[f"{out.kind}.{table}"] = ((t["rows"], int(t["digest"]) + corrupt), (rows, digest))
    dlq = wh.read_table("file_load_dlq").groupBy("source_filename").count().collect()
    dlq_by_file = {row[0]: row[1] for row in dlq}
    want_dlq: dict[str, int] = {}
    for f in manifest["files"]:
        if f["phase"] in phases and f["dlq_rows"]:
            want_dlq[f["file"]] = want_dlq.get(f["file"], 0) + f["dlq_rows"]
    checks[f"{out.kind}.dlq_rows_by_file"] = (want_dlq, dlq_by_file)
    checks[f"{out.kind}.log_rows"] = (exp["log_rows"], wh.read_table("file_load_log").count())
    for name, (want, have) in checks.items():
        out.attempted += 1
        if want != have:
            out.failures.append(f"{name}: expected {want}, got {have}")
    out.detail["stored_bytes"] = stored_bytes(dest / out.kind)


def ingest_detail(outs: list[Outcome], manifest: dict) -> dict:
    bulk = [o for o in outs if o.kind == "bulk"]
    drop = [o for o in outs if o.kind == "drop"]
    per_file = [t for o in drop for t in o.op_s]
    loads = {k: [o.detail["op_s"][("bulk", f)] for o in bulk]
             for k, f in (("first_load_s", "customers-bulk-0001.parquet"),
                          ("merge_load_s", "customers-bulk-0002.parquet"))}
    stored = (median([o.detail["stored_bytes"] for o in bulk])
              + median([o.detail["stored_bytes"] for o in drop]))
    inputs = manifest["bulk"]["input_bytes"] + manifest["drop"]["input_bytes"]
    n_drop = manifest["drop"]["files"]
    return {
        "first_load_s": median(loads["first_load_s"]),
        "merge_load_s": median(loads["merge_load_s"]),
        "bulk_s": median([o.wall_s for o in bulk]),
        "drop_s": median([o.wall_s for o in drop]),
        "bulk_cpu_s": median([o.cpu_s for o in bulk]),
        "drop_cpu_s": median([o.cpu_s for o in drop]),
        "file_cpu_s": median([o.cpu_s for o in drop]) / n_drop,
        "file_s_p50": median(per_file),
        "file_s_p90": quantile(per_file, 0.9),
        "file_samples": len(per_file),
        "files_per_s": n_drop / median([o.wall_s for o in drop]),
        "check_s": median([o.detail["check_s"] for o in outs]),
        "stored_bytes_per_input_byte": stored / inputs,
        "bulk_rows": manifest["bulk"]["input_rows"],
        "drop_files": n_drop,
        "drop_rows": manifest["drop"]["input_rows"],
    }


# ---------------------------------------------------------------------------
# curation_ops
# ---------------------------------------------------------------------------


def curation_query(spark, q: str, tables: Path, info: dict, tracer=None) -> Outcome:
    """One query timed like bench.run_one: the clock starts before the
    query-building call and stops after a noop write of every column."""
    from etl_file_loader_spark import suite
    from etl_file_loader_spark.operators.cache import release_operator_caches

    out = Outcome(kind=q, wall_s=0.0, cpu_s=0.0, op_s=[],
                  rows=info["tables"][CURATION_QUERIES[q]]["rows"], attempted=1)
    c0, t0 = tree_cpu_s(), time.perf_counter()
    span = tracer.open(f"suite.{q}") if tracer else None
    try:
        suite.QUERIES[q](spark, str(tables)).write.format("noop").mode("overwrite").save()
    except Exception as e:  # a failing query is a failed operation, not a crash
        out.failures.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
    finally:
        if span is not None:
            tracer.close(span)
    out.wall_s = time.perf_counter() - t0
    out.op_s.append(out.wall_s)
    release_operator_caches()
    gc.collect()
    settle()  # the query's CPU includes the background work it left running
    out.cpu_s = tree_cpu_s() - c0
    return out


def _norm(v) -> str:
    from pyspark.sql import Row

    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return f"{float(v):.12g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, Row)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive digest) with columns taken by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return len(rows), hashlib.md5("\n".join(lines).encode()).hexdigest()


def collect_curation(spark, tables: Path) -> dict:
    """Every query's result, collected: the correctness check's Spark side,
    and the warm-up of the measured plans (same queries and inputs)."""
    from etl_file_loader_spark import suite
    from etl_file_loader_spark.operators.cache import release_operator_caches

    collected = {}
    for q in CURATION_QUERIES:
        try:
            df = suite.QUERIES[q](spark, str(tables))
            collected[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # reported by the comparison, not a crash
            collected[q] = f"{type(e).__name__}: {str(e)[:200]}"
        release_operator_caches()
    return collected


def check_curation(tables: Path, collected: dict, out: Outcome, corrupt: bool = False) -> None:
    """Each query's row count and value digest against its DuckDB oracle
    (``corrupt`` falsifies every expected digest, to show the check fails)."""
    import duckdb

    from etl_file_loader_spark import suite

    con = duckdb.connect()
    try:
        for path in sorted(tables.glob("*.parquet")):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        for q, got in collected.items():
            out.attempted += 1
            if isinstance(got, str):
                out.failures.append(f"{q}: {got}")
                continue
            res = con.execute(suite.ORACLES[q])
            cols = [d[0] for d in res.description]
            want = (sorted(cols), *result_digest(cols, res.fetchall()))
            if corrupt:
                want = (*want[:2], want[2][::-1])
            have = (sorted(got[0]), *result_digest(*got))
            if want != have:
                out.failures.append(f"{q}: oracle {want[1:]}, spark {have[1:]}")
    finally:
        con.close()


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def run(args, work: Path, corrupt: bool = False) -> tuple[dict, dict]:
    """Generate, set up, measure, check. Returns (result JSON, detail)."""
    trace = bool(args.trace)
    ingest = args.workload == "ingest"
    prepare_env(work, trace)
    os.chdir(work)  # anything Spark drops in its working directory stays here
    inputs, warm_inputs = work / "inputs", work / "warm-inputs"
    t0 = time.perf_counter()
    if ingest:
        manifest = gen.generate_ingest(args.seed, str(inputs), args.scale)
        warm_manifest = gen.generate_ingest(args.seed, str(warm_inputs), WARM_SCALE * args.scale)
    else:
        manifest = gen.generate_curation(CURATION_SEED, str(inputs), args.scale)
    gen_s = time.perf_counter() - t0
    kinds = list(INGEST_UNITS) if ingest else list(CURATION_QUERIES)

    from etl_file_loader_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    checks = Outcome(kind="run", wall_s=0.0, cpu_s=0.0, op_s=[], rows=0)  # run-level checks
    try:
        # warm-up, untimed: ingest runs every unit once on small inputs;
        # curation collects every query's result for the check
        if ingest:
            for kind in kinds:
                ingest_unit(spark, kind, warm_inputs, warm_manifest, work / "warm")
            shutil.rmtree(work / "warm", ignore_errors=True)
        else:
            collected = collect_curation(spark, inputs)
        settle()  # compilation queued by the warm-up belongs to set-up
        setup_s = time.perf_counter() - t_setup
        if not ingest:
            check_curation(inputs, collected, checks, corrupt)

        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
            gc0 = tracer.gc_seconds()
        # units in a fixed rotation until --seconds have passed and every
        # kind has run at least once; a unit is never cut short
        outs: list[Outcome] = []
        steal0, t_measure = cpu_ticks(), time.perf_counter()
        while len(outs) < len(kinds) or time.perf_counter() - t_measure < args.seconds:
            kind = kinds[len(outs) % len(kinds)]
            if ingest:
                dest = work / f"unit{len(outs)}"
                out, state = ingest_unit(spark, kind, inputs, manifest, dest)
                t_check = time.perf_counter()
                check_ingest(out, state, manifest, dest, corrupt)
                out.detail["check_s"] = time.perf_counter() - t_check
                shutil.rmtree(dest, ignore_errors=True)
            else:
                out = curation_query(spark, kind, inputs, manifest, tracer)
            outs.append(out)
        measure_s = time.perf_counter() - t_measure
        steal = host_steal_share(steal0, cpu_ticks())
        by_kind = {k: [o for o in outs if o.kind == k] for k in kinds}
        pass_s = sum(median([o.wall_s for o in by_kind[k]]) for k in kinds)
        if tracer is not None:
            tracer.uninstall()
            passes = len(outs) / len(kinds)
            metrics_raw = tracer.layer_metrics(passes, [pass_s], tracer.gc_seconds() - gc0)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            tracer.dump(str(out_dir / f"trace-{args.workload}-seed{args.seed}.json"))
        rss = peak_rss_mb(gateway.proc.pid)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    failures = [f for o in [checks, *outs] for f in o.failures]
    attempted = sum(o.attempted for o in [checks, *outs])
    ops = [t for o in outs for t in o.op_s]
    pass_cpu_s = sum(median([o.cpu_s for o in by_kind[k]]) for k in kinds)
    if ingest:  # the paper's metric: rows of the bulk unit
        rows = manifest["bulk"]["input_rows"]
        row_s = median([o.wall_s for o in by_kind["bulk"]])
        row_cpu_s = median([o.cpu_s for o in by_kind["bulk"]])
    else:
        rows = sum(by_kind[k][0].rows for k in kinds)
        row_s, row_cpu_s = pass_s, pass_cpu_s
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": pass_cpu_s,
        "rows_per_cpu_s": rows / row_cpu_s,
        "peak_rss_mb": rss,
    }
    wall = {"pass_s": pass_s, "op_s_p50": median(ops), "rows_per_s": rows / row_s}
    if trace:
        from tracing import metric_units

        units = metric_units()
        metrics = {k: {"value": metrics_raw[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if ingest:
        detail = ingest_detail(outs, manifest)
    else:
        detail = {"suite_s": pass_s, "input_seed": CURATION_SEED,
                  "input_rows_per_pass": sum(by_kind[k][0].rows for k in kinds),
                  **{q: median([o.wall_s for o in by_kind[q]]) for q in kinds}}
    detail.update({
        "workload": args.workload, "seed": args.seed, "units": len(outs),
        "op_samples": len(ops), "generate_s": gen_s, "session_s": session_s,
        "measure_s": measure_s, "host_steal_share": steal,
        "failed_share": len(failures) / max(1, attempted),
        "failures": failures[:20], **wall, **e2e})
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    return result, detail


def main(argv=None, corrupt: bool = False) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "etl_file_loader_spark" / "__init__.py").is_file():
        print("perfbench: the etl_file_loader_spark package is missing from this checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result, detail = run(args, work, corrupt)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
