"""Benchmark of the shipped KG job and the CDC fold.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg_job_narrow --seed 1 --seconds 45 --trace 0

Workloads (closed loop, one client; inputs generated from ``--seed`` by
``inputs.py``):

- ``kg_job_narrow``: ``jobs/run_pipeline.main`` over 6,000 turns with a
  planted vocabulary of 25 entities.  The per-turn layers (assemble,
  chunk, extract, parse, claims) do their work; the graph layers pay
  their fixed per-stage floor.
- ``cdc_churn``: ``streaming.retract_stream.run_kg_cdc`` with
  ``claims=True``: three insert micro-batches of 1,800 turns, then one
  delete micro-batch that retracts 10% of the conversations.

One operation is one call of the workload's entry point on a fresh
output directory.  The first always runs; another follows while one as
long as the last still fits in ``--seconds`` of operation time.  The
end-to-end metrics describe the first operation, which runs in a fresh
JVM as a ``spark-submit`` of the job would; later operations are warm
and appear only in the evidence line.  Every operation's output is
checked, untimed.  Spark runs on ``MAX_CORES`` local cores: more made
the wall time no shorter here, only noisier.

End-to-end metrics (``--trace 0``):

- ``setup_s``: median of three set-ups, each a Spark session start
  (the first one launches the JVM, the others restart the context in
  it), the input generation and the input write;
- ``job_s``: wall time of the first entry-point call;
- ``turns_per_s``: turns over ``job_s`` for the job; inserted turns over
  the insert drain's wall time for the CDC workload;
- ``peak_rss_mb``: peak resident memory of the driver JVM and its Python
  workers while the operations run.

The insert and delete fold medians, the CDC turn rate, the failed-op
ratio, warm-job times and the host evidence (load average before and
after, ``nproc``, RAM, cold or warm) are printed on the line before the
result.  ``--trace 1`` runs the same operations with spans around each
layer (``tracing.py``) and reports the per-layer metrics instead; the
difference between its ``trace.job_s`` and an untraced ``job_s`` is the
tracing overhead.  Spans are written to ``.perfbench_runs/``.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
RUNS = ROOT / ".perfbench_runs"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "turns_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SETUP_REPS = 3
MAX_CORES = 2
TURNS = 12
VOCAB = 25
JOB_CHUNK = (1200, 100)  # the job's default chunk size and overlap, in tokens
CDC_CHUNK = (128, 16)  # run_kg_cdc's default
WORKLOADS = {
    "kg_job_narrow": {"convs": 500},
    "cdc_churn": {"insert_batches": 3, "batch_convs": 150, "delete_share": 0.10},
}


class Host:
    """Cores, RAM and the driver heap sized to them."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            self.ram_mb = int(f.readline().split()[1]) // 1024
        self.cores = min(MAX_CORES, self.nproc)
        # the package default (24g) exceeds small hosts' RAM and got the
        # JVM OOM-killed.  A sixteenth of RAM, within [512m, 1g], holds the
        # data; a heap the workload fills keeps the peak RSS from depending
        # on when G1 chooses to grow it
        self.driver_mb = min(1024, max(512, self.ram_mb // 16))


def configure(host: Host, work: Path) -> None:
    """Environment the package reads at import and the JVM inherits at
    launch: must run before pyspark or the package is imported."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host.driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # the Python workers import the package for the pandas UDFs
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]


def start_session(host: Host, work: Path):
    from knowledge_graph_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{host.cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class PeakRss(threading.Thread):
    """Samples the resident memory of a JVM and its Python descendants.

    Other children of the JVM are short-lived helpers (Hadoop runs shell
    commands without its native library); sampled just after their fork
    they would report the JVM's own pages a second time."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20

    def sample(self) -> float:
        """Resident MB summed over the JVM and its Python descendants."""
        stats = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue  # the process exited between listing and reading
            if int(entry) == self.root_pid or head.split("(", 1)[1].startswith("python"):
                # stat fields 3 onwards: [1] is the ppid, [21] the rss in pages
                stats[int(entry)] = tail.split()
        tree, grown = {self.root_pid}, True
        while grown:
            grown = False
            for pid, fields in stats.items():
                if pid not in tree and int(fields[1]) in tree:
                    tree.add(pid)
                    grown = True
        return sum(int(stats[pid][21]) for pid in tree & stats.keys()) * self._page_mb

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_mb = max(self.peak_mb, self.sample())
            self._done.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak resident MB."""
        self._done.set()
        self.join(timeout=10)
        return max(self.peak_mb, self.sample())


# ---------------------------------------------------------------------------
# workloads: each has a set-up (inputs) and an operation (entry-point call)
# ---------------------------------------------------------------------------


class JobWorkload:
    def __init__(self, work: Path, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.convs = max(2, int(WORKLOADS["kg_job_narrow"]["convs"] * scale))
        self.input_dir = work / "input"
        self.data = None
        self.folds: dict[str, list[float]] = {"insert": [], "delete": []}
        self.marks: dict = {}

    def make_inputs(self) -> None:
        import inputs

        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.data = inputs.generate(self.seed, self.convs, TURNS, VOCAB)
        inputs.write(self.data, str(self.input_dir))

    @property
    def turns(self) -> int:
        return len(self.data)

    def operate(self, spark, op: int, tracer) -> dict:
        import run_pipeline

        out = self.work / f"kg_out_{op}"
        argv = [
            "--input", str(self.input_dir),
            "--output", str(out),
            "--chunk-size", str(JOB_CHUNK[0]),
            "--chunk-overlap", str(JOB_CHUNK[1]),
            "--tokenizer", "ws",
            # above the vocabulary: one community level, so the graph
            # layers pay their per-stage floor and no hierarchy recursion
            "--max-cluster-size", str(VOCAB + 5),
        ]
        t0 = time.perf_counter()
        if tracer is None:
            run_pipeline.main(argv)
        else:
            with tracer.span("job:run_pipeline", None):
                run_pipeline.main(argv)
        wall = time.perf_counter() - t0
        return {"wall": wall, "turns_per_s": self.turns / wall, "out": out}

    def check(self, result: dict) -> list[str]:
        import checks

        return checks.check_job(str(result["out"]), self.data, *JOB_CHUNK)


class CdcWorkload:
    def __init__(self, work: Path, seed: int, scale: float):
        spec = WORKLOADS["cdc_churn"]
        self.work = work
        self.seed = seed
        self.batches = spec["insert_batches"]
        self.batch_convs = max(2, int(spec["batch_convs"] * scale))
        self.delete_share = spec["delete_share"]
        self.insert_dir = work / "cdc_inserts"
        self.delete_dir = work / "cdc_deletes"
        self.data = None
        self.deleted: set[str] = set()
        self.folds: dict[str, list[float]] = {"insert": [], "delete": []}
        self.marks: dict = {}

    def make_inputs(self) -> None:
        import inputs
        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.rmtree(self.insert_dir, ignore_errors=True)
        shutil.rmtree(self.delete_dir, ignore_errors=True)
        self.data = inputs.Transcripts()
        for b in range(self.batches):
            batch = inputs.generate(
                self.seed, self.batch_convs, TURNS, VOCAB, conv_offset=b * self.batch_convs
            )
            inputs.write(batch, str(self.insert_dir), name=f"part-{b:05d}")
            self.data.extend(batch)
        conv_ids = self.data.conv_ids()
        doomed = random.Random(self.seed).sample(
            conv_ids, max(1, int(len(conv_ids) * self.delete_share))
        )
        self.deleted = set(doomed)
        self.delete_dir.mkdir(parents=True)
        pq.write_table(
            pa.table({"conv_id": pa.array(doomed, pa.string())}),
            str(self.delete_dir / "part-00000.parquet"),
        )

    @property
    def turns(self) -> int:
        return len(self.data)

    def operate(self, spark, op: int, tracer) -> dict:
        from knowledge_graph_spark.io import TableIO
        from knowledge_graph_spark.pipeline import PipelineConfig
        from knowledge_graph_spark.streaming import retract_stream

        io = TableIO(spark, base=str(self.work / f"cdc_wh_{op}"))
        folds_before = {k: len(v) for k, v in self.folds.items()}
        t0 = time.perf_counter()

        def call():
            retract_stream.run_kg_cdc(
                spark,
                str(self.insert_dir),
                str(self.delete_dir),
                io,
                str(self.work / f"cdc_ckpt_{op}"),
                cfg=PipelineConfig(
                    chunk_size=CDC_CHUNK[0], chunk_overlap=CDC_CHUNK[1], tokenizer="ws"
                ),
                claims=True,
                # one insert file per fold; the delete stream takes all its
                # files in one fold
                max_files_per_trigger=1,
            )

        if tracer is None:
            call()
        else:
            with tracer.span("cdc:run_kg_cdc", None):
                call()
        wall = time.perf_counter() - t0
        drain = self.marks["insert_drain_end"] - t0
        new = {k: v[folds_before[k] :] for k, v in self.folds.items()}
        return {
            "wall": wall,
            "turns_per_s": self.turns / drain,
            "io": io,
            "folds": new,
        }

    def check(self, result: dict) -> list[str]:
        import checks

        problems = []
        for kind, want in (("insert", self.batches), ("delete", 1)):
            if len(result["folds"][kind]) != want:
                problems.append(f"{len(result['folds'][kind])} {kind} folds, expected {want}")
        retained = self.data.without(self.deleted)
        return problems + checks.check_cdc(result["io"], retained, *CDC_CHUNK)


WORKLOAD_TYPES = {"kg_job_narrow": JobWorkload, "cdc_churn": CdcWorkload}


def set_up(host: Host, workload) -> tuple:
    """SETUP_REPS set-ups; returns the last one's session and each one's
    (start, end).  The first launches the JVM; the others stop the
    session and start a new one in the same JVM."""
    spark, spans = None, []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(host, workload.work)
        workload.make_inputs()
        spans.append((t0, time.perf_counter()))
    return spark, spans


def measure(args, host: Host, work: Path) -> dict:
    import tracing

    workload = WORKLOAD_TYPES[args.workload](work, args.seed, args.scale)
    spark, setup_spans = set_up(host, workload)
    setup_times = [t1 - t0 for t0, t1 in setup_spans]
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark)
        for rep, (t0, t1) in enumerate(setup_spans):
            tracer.record(f"setup:{rep}", "session", t0, t1)
    patches = tracing.install(tracer, workload.folds, workload.marks)

    ops, problems, failed, attempted = [], [], 0, 0
    first_spans = None
    load_before = os.getloadavg()
    jiffies_before = cpu_jiffies()
    sampler = PeakRss(jvm_pid())
    sampler.start()
    try:
        # whole operations only: another runs while one as long as the last
        # still fits in the window
        while not ops or sum(o["wall"] for o in ops) + ops[-1]["wall"] <= args.seconds:
            op = len(ops)
            try:
                result = workload.operate(spark, op, tracer)
            except Exception:  # the benchmark reports a failed op and stops
                traceback.print_exc()
                failed += 1
                attempted += 1
                break
            ops.append(result)
            if tracer is not None and first_spans is None:
                first_spans = list(tracer.spans)
            attempted += 1 + sum(len(v) for v in result.get("folds", {}).values())
            t0 = time.perf_counter()
            try:
                found = workload.check(result)
            except Exception as e:  # an unreadable output table is a wrong output
                found = [f"check raised {e!r}"]
            result["check_s"] = time.perf_counter() - t0
            if found:
                failed += 1
                problems += [f"op {op}: {p}" for p in found]
    finally:
        peak_rss = sampler.stop()
        load_after = os.getloadavg()
        jiffies_after = cpu_jiffies()
        tracing.uninstall(patches)
        stop_session(spark)

    # with no successful operation the result says so; its figures are 0
    first = ops[0] if ops else {"wall": 0.0, "turns_per_s": 0.0}
    # the workload's own end-to-end figures, printed by name and unit; the
    # result line carries only the metrics every workload shares
    extras = {"ops_failed_ratio": (failed / max(1, attempted), "ratio")}
    if "folds" in first:
        extras.update(
            {
                "insert_fold_s": (statistics.median(first["folds"]["insert"]), "s"),
                "delete_fold_s": (statistics.median(first["folds"]["delete"]), "s"),
                "cdc_turns_per_s": (first["turns_per_s"], "1/s"),
            }
        )
    evidence = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        # CPU time the hypervisor gave to other guests while the ops ran
        "cpu_steal_share": round(
            (jiffies_after[0] - jiffies_before[0])
            / max(1, jiffies_after[1] - jiffies_before[1]),
            4,
        ),
        "nproc": host.nproc,
        "ram_mb": host.ram_mb,
        "spark_cores": host.cores,
        "driver_mem_mb": host.driver_mb,
        "turns": workload.turns,
        "ops": [
            {
                "job_s": round(o["wall"], 4),
                "check_s": round(o["check_s"], 4),
                "cold": i == 0,
            }
            for i, o in enumerate(ops)
        ],
        "setup_s_reps": [round(x, 4) for x in setup_times],
        **{name: value for name, (value, _) in extras.items()},
        "problems": problems[:20],
    }
    if "folds" in first:
        evidence["folds_s"] = {k: [round(x, 4) for x in v] for k, v in first["folds"].items()}
    if args.trace:
        folds = first.get("folds", workload.folds)
        metrics = tracing.layer_metrics(first_spans or tracer.spans, folds)
        units = {
            f"{layer}.{key}": unit
            for layer in tracing.LAYERS
            for key, unit in tracing.LAYER_UNITS.items()
        }
        units.update(tracing.EXTRA_UNITS)
        RUNS.mkdir(exist_ok=True)
        with open(RUNS / f"{args.workload}-seed{args.seed}-spans.jsonl", "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
    else:
        metrics = {
            "setup_s": statistics.median(setup_times),
            "job_s": first["wall"],
            "turns_per_s": first["turns_per_s"],
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    return {
        "extras": extras,
        "evidence": evidence,
        "correct": bool(ops) and failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TYPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test)")
    args = p.parse_args(argv)

    missing = [
        path for path in ("knowledge_graph_spark/__init__.py", "jobs/run_pipeline.py")
        if not (ROOT / path).is_file()
    ]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    host = Host()
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure(host, work)
    try:
        result = measure(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for name, (value, unit) in result.pop("extras").items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"evidence": result.pop("evidence")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
