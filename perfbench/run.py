"""Benchmark entry point.

    python3 perfbench/run.py --workload scanlog_nightly --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached per seed, with DuckDB's expected outputs, under ``.perfbench_work``),
then one client runs one batch at a time on ``local[nproc]`` for
``--seconds``. Each batch's output is checked against the expected output
after its clock stops. The last line of stdout is one JSON object:

- ``setup_s`` is one set-up per run: the JVM launch, ``get_spark`` and one
  untimed warm-up batch. Set-up is not repeated within a run because a
  second set-up costs a whole warm batch (15-20 s on ``corpus_prepare``),
  which the benchmark's run budget cannot carry; ``setup_s`` has the
  widest bound instead.

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json, tracing off.
- ``--trace 1``: the per-layer metrics. Untraced and traced batches
  alternate; spans are recorded around each call into a layer and Spark's
  status API (UI on in this mode only) attributes executor time, shuffle
  and spill to them. The full trace is written to
  ``.perfbench_work/traces/`` when the run ends.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from pathlib import Path
from urllib.parse import urlparse

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

# importing the workloads imports the program: fails fast without it
import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, Materialiser, count_files, output_bytes  # noqa: E402

from aggregator_spark.session import get_spark  # noqa: E402

# timed batches per run, however short --seconds is. The first batch after
# the warm-up still runs while the JIT compiles (10-30% slower than the next
# one); with two, the median halves its weight and that of a batch hit by a
# burst of CPU steal. A third batch steadied neither workload further (the
# spread left is between runs, not batches) and does not fit the time
# allowed for all of the benchmark's runs.
MIN_BATCHES = 2
MIN_TRACED = 1
# The driver heap is fixed at its maximum and touched at start-up, so the
# JVM's resident size does not depend on how far G1 has grown the heap by
# the time a run ends (without this it grew from 825 to 1127 MB over five
# scanlog_nightly batches); peak_rss_mb then moves with off-heap and
# Python-worker memory
DRIVER_MEMORY = "1g"

# every span the traced batches can record, in composition order
SPAN_NAMES = (
    "sources.datapackage.read_datapackage_resource",
    "sources.logentry.read_logentry_csv",
    "operators.aggregate.aggregate_counts",
    "operators.amplify.amplified_counts",
    "sources.csv_sink.write_single_csv",
    "plans.stage2.run_stage2",
    "operators.calendar.derive_dim_date",
    "operators.cube.rollup_cube",
    "operators.repair.repair_dim_country",
    "operators.repair.repair_dim_asn",
    "plans.stage2.publish_parquet",
    "sources.minhash_index.cached_minhash_buckets",
    "llm_queries.corpus_keep_flags",
    "operators.dedup.minhash_dedup_keep",
    "operators.dedup.dedup_span_rewrite",
    "operators.corpus.pack_sequences",
)
RATIO_NAMES = (
    "sources.logentry.parse_ok_ratio",
    "operators.aggregate.distinct_ratio",
    "operators.amplify.match_ratio",
    "operators.dedup.minhash_dedup_keep.keep_ratio",
    "plans.stage2.publish_parquet.files",
)
_UNITS = {"s": "s", "self_s": "s", "busy_s": "s", "shuffle_write_mb": "MB",
          "spill_mb": "MB", "failed_tasks": "count", "rows_out": "rows"}

END_TO_END_UNITS = {
    "setup_s": "s", "batch_s": "s", "rows_per_s": "rows/s",
    "published_files": "count", "published_mb": "MB", "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{c}": _UNITS[c] for s in SPAN_NAMES for c in spans.SPAN_COUNTERS}
    units.update({r: ("count" if r.endswith(".files") else "ratio") for r in RATIO_NAMES})
    units.update({"session.get_spark.s": "s", "batch.s": "s", "batch.self_s": "s",
                  "tracing_overhead_s": "s"})
    return units


# --- inputs ------------------------------------------------------------------

def _code_stamp() -> str:
    """Changes whenever the generator or the oracle does, so a cached input
    or expected output is never served to other code."""
    h = hashlib.md5()
    for mod in (gen, oracle):
        h.update(Path(mod.__file__).read_bytes())
    return h.hexdigest()[:8]


def ensure_inputs(workload: str, seed: int) -> tuple[Path, Path, dict]:
    """Generated inputs and DuckDB's expected outputs for (workload, seed),
    built on first use and cached."""
    stamp = _code_stamp()
    in_dir = WORK / "inputs" / stamp / workload / str(seed)
    exp_dir = WORK / "expected" / stamp / workload / str(seed)
    if not (in_dir / "inputs.json").exists():
        tmp = in_dir.with_name(f"{seed}.tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, str(tmp), seed)
        shutil.rmtree(in_dir, ignore_errors=True)
        os.rename(tmp, in_dir)
    if not (exp_dir / "done").exists():
        shutil.rmtree(exp_dir, ignore_errors=True)
        oracle.build_expected(workload, str(in_dir), str(exp_dir))
        (exp_dir / "done").touch()
    with open(in_dir / "inputs.json") as f:
        return in_dir, exp_dir, json.load(f)


# --- spark -------------------------------------------------------------------

def start_spark(trace: bool):
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Dderby.system.home={WORK / 'derby'} "
                                          f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def completed_stages(spark, since: float) -> list[spans.Stage]:
    """Stages completed after ``since``, from the status REST API."""
    sc = spark.sparkContext
    deadline = time.time() + 5
    while sc.statusTracker().getActiveStageIds() and time.time() < deadline:
        time.sleep(0.02)
    time.sleep(0.2)  # let the status listener record the last completions
    port = urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        data = json.load(r)
    out = []
    for st in data:
        if "completionTime" not in st:
            continue
        done = _epoch(st["completionTime"])
        if done >= since:
            out.append(spans.Stage(done, st["executorRunTime"] / 1000.0,
                                   st["shuffleWriteBytes"], st["diskBytesSpilled"],
                                   st["numFailedTasks"]))
    return out


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    return children


def descendants() -> list[int]:
    children, out = _children(), []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """VmHWM of the driver JVM plus that of the largest Python worker,
    among this process's descendants."""
    jvm = worker = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        hwm = int(status.get("VmHWM", "0 kB").split()[0]) / 1024
        name = status.get("Name", "").strip()
        if name == "java":
            jvm = max(jvm, hwm)
        elif name.startswith("python"):
            worker = max(worker, hwm)
    return jvm + worker


def shutdown(spark) -> None:
    """Stop the session, end the JVM it runs in and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.time() + 60
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


# --- batches -----------------------------------------------------------------

class Runner:
    def __init__(self, workload, in_dir: Path, exp_dir: Path):
        self.w = workload
        self.in_dir = str(in_dir)
        self.exp_dir = str(exp_dir)
        self.out_root = WORK / "out" / workload.name
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n = 0
        self.attempted = 0
        self.failed = 0
        self.files: list[int] = []
        self.mb: list[float] = []

    def _fresh_out(self) -> str:
        self.n += 1
        out = self.out_root / f"batch-{self.n}"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        self.w.prepare(self.in_dir)
        return str(out)

    def _finish(self, out: str, ok: bool, record: bool) -> None:
        """Check and record a recorded batch's output (clock stopped), then
        delete it. Warm-up batches are not recorded."""
        if ok and record:
            problems = oracle.check(self.w.name, self.exp_dir, out)
            for p in problems:
                print(f"[{self.w.name}] batch {self.n}: {p}", file=sys.stderr)
            ok = not problems
        if record:
            self.attempted += 1
            self.failed += not ok
            self.files.append(count_files(out))
            self.mb.append(output_bytes(out) / 1e6)
        shutil.rmtree(out, ignore_errors=True)

    def untraced(self, spark, record: bool = True) -> float:
        out = self._fresh_out()
        t0 = time.perf_counter()
        try:
            self.w.batch(spark, self.in_dir, out)
            ok = True
        except Exception as e:  # a failed batch is counted, the run goes on
            print(f"[{self.w.name}] batch {self.n} raised: {e!r}", file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        self._finish(out, ok, record)
        return wall

    def traced(self, spark) -> dict:
        out = self._fresh_out()
        tr = spans.Tracer()
        mat = Materialiser()
        t0 = time.time()
        try:
            ratios = self.w.traced_batch(spark, self.in_dir, out, tr, mat)
            ok = True
        except Exception as e:  # a failed batch is counted, the run goes on
            print(f"[{self.w.name}] traced batch {self.n} raised: {e!r}", file=sys.stderr)
            ratios, ok = {}, False
        finally:
            mat.release()
        stages = completed_stages(spark, t0)
        self._finish(out, ok, True)
        return {"spans": tr.spans, "stages": stages, "ratios": ratios,
                "summary": spans.summarize(tr.spans, stages)}


def setup(runner: Runner, trace: bool):
    """Start the session (and the JVM under it) and run one untimed warm-up
    batch. Returns the session, the set-up time and the get_spark time."""
    spark, get_spark_s = start_spark(trace)
    warm_up_s = runner.untraced(spark, record=False)
    return spark, get_spark_s + warm_up_s, get_spark_s


def run_timed(runner: Runner, spark, seconds: float, rows: int, setup_s: float) -> dict:
    walls = []
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_BATCHES or time.perf_counter() < deadline:
        walls.append(runner.untraced(spark))
    batch_s = statistics.median(walls)
    print(f"[{runner.w.name}] setup_s={setup_s} batch_s={walls}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "batch_s": batch_s,
        "rows_per_s": rows / batch_s,
        "published_files": statistics.median(runner.files),
        "published_mb": statistics.median(runner.mb),
        "peak_rss_mb": peak_rss_mb(),
        "ok_ratio": 1 - runner.failed / runner.attempted,
    }


def run_traced(runner: Runner, spark, seconds: float, get_spark_s: float,
               trace_path: Path) -> dict:
    walls, batches = [], []
    deadline = time.perf_counter() + seconds
    while len(batches) < MIN_TRACED or time.perf_counter() < deadline:
        walls.append(runner.untraced(spark))
        batches.append(runner.traced(spark))
    trace_path.parent.mkdir(parents=True, exist_ok=True)
    spans.write_json(str(trace_path), batches)

    def med(f) -> float:
        return statistics.median(f(b) for b in batches)

    metrics = {}
    for name in SPAN_NAMES:
        for c in spans.SPAN_COUNTERS:
            metrics[f"{name}.{c}"] = med(lambda b: b["summary"].get(name, {}).get(c, 0.0))
    for r in RATIO_NAMES:
        metrics[r] = med(lambda b: b["ratios"].get(r, 0.0))
    metrics["session.get_spark.s"] = get_spark_s
    metrics["batch.s"] = med(lambda b: b["summary"].get("batch", {}).get("s", 0.0))
    metrics["batch.self_s"] = med(lambda b: b["summary"].get("batch", {}).get("self_s", 0.0))
    metrics["tracing_overhead_s"] = metrics["batch.s"] - statistics.median(walls)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for d in ("tmp", "spark-local", "cache"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM (the launcher too) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["AGGREGATOR_SPARK_CACHE_DIR"] = str(WORK / "cache")
    os.chdir(WORK)  # metastore and other cwd-relative files stay in here

    t0 = time.perf_counter()
    in_dir, exp_dir, info = ensure_inputs(args.workload, args.seed)
    t_inputs = time.perf_counter() - t0
    runner = Runner(WORKLOADS[args.workload], in_dir, exp_dir)
    spark, setup_s, get_spark_s = setup(runner, bool(args.trace))
    try:
        if args.trace:
            trace_path = WORK / "traces" / f"{args.workload}-{args.seed}.json"
            metrics = run_traced(runner, spark, args.seconds, get_spark_s, trace_path)
            units = per_layer_units()
        else:
            metrics = run_timed(runner, spark, args.seconds, info["rows"], setup_s)
            units = END_TO_END_UNITS
    finally:
        shutdown(spark)
    print(f"[{args.workload}] inputs {t_inputs:.1f} s, whole run "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
