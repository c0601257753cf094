"""The repo benchmark: one closed-loop client runs one job at a time
against ``teleharvest_spark.cli.run`` / ``teleharvest_spark.pipeline.
prep_corpus`` on a Spark session sized to this machine.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 1 --trace 0

Run from the repository root. Human-readable lines go to stderr; the
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402

WORK_DIRNAME = ".perfbench"

# Input sizes. Spark's fixed per-job cost dominates at these sizes on
# a 4-core box; they are chosen so that every run (JVM start, set-up,
# a few timed jobs, the oracle) ends well inside a minute.
SIZES = {
    "validate_full": {"rows": 24_000, "files": 8},
    "resume_delta": {"rows": 12_000, "files": 8, "new_frac": 0.064},
    "prep_corpus": {"docs": 300, "files": 4},
}

CACHED_SEEDS = 4
TRACED_WARM_UPS = 2

E2E_UNITS = {
    "setup_s": "s",
    "job_s_p50": "s",
    "rows_per_s": "rows/s",
    "job_cpu_s_p50": "s",
    "peak_rss_mb": "MiB",
    "out_bytes_per_in_byte": "ratio",
}


def size_session(root: str, work: str) -> dict:
    """Environment the program's session factory and its Python workers
    read; set before the JVM starts (it inherits this environment)."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gib = max(1, min(2, int(ram_gib // 4)))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher included: temporary files
        # in the work directory and no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    return {**settings, "master": f"local[{cpus}]", "ram_gib": round(ram_gib, 1),
            "extra_conf": session_conf(work)}


def session_conf(work: str) -> dict:
    """Session settings the benchmark adds through ``get_spark(extra_conf)``.

    The initial heap is the maximum heap: left to grow, the JVM's heap
    high-water mark (and so its RSS) wanders by ~20 % from run to run
    with the collector's resizing decisions, which would drown any
    change a program makes to its own memory use."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's .crc/_SUCCESS skipped."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def log(*parts) -> None:
    print("#", *parts, file=sys.stderr, flush=True)


# -- workloads -----------------------------------------------------------


class Workload:
    """set-up once, then ``prepare`` (untimed) → ``job`` (timed) →
    ``check`` (untimed) per job."""

    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name]
        self.data = os.path.join(
            work, "data", f"{self.name}-{seed}-"
            + "-".join(f"{k}{v}" for k, v in sorted(self.size.items()))
        )
        self.runs = os.path.join(work, "runs", str(os.getpid()))

    def generate(self) -> None:
        """Write the inputs for this seed unless they are cached. The
        cache keeps the newest few seeds of each workload."""
        if os.path.isfile(os.path.join(self.data, "_DONE")):
            return
        shutil.rmtree(self.data, ignore_errors=True)
        parent = os.path.dirname(self.data)
        if os.path.isdir(parent):
            mine = sorted(
                (os.path.join(parent, d) for d in os.listdir(parent)
                 if d.startswith(self.name + "-")),
                key=os.path.getmtime,
            )
            for old in mine[:-(CACHED_SEEDS - 1)]:
                shutil.rmtree(old, ignore_errors=True)
        self._generate()
        open(os.path.join(self.data, "_DONE"), "w").close()

    def out_dirs(self, i: int) -> list[str]:
        return [os.path.join(self.runs, f"job{i}")]

    def warm_up(self, spark) -> None:
        """Untimed jobs, checked like timed ones, before a traced run's
        jobs: job times still fall from one job to the next after the
        first, which would bias the traced-vs-untraced comparison."""
        for i in range(TRACED_WARM_UPS):
            self.prepare(f"warmup{i}")
            errors, _ = self.check(self.job(spark, f"warmup{i}"), f"warmup{i}")
            if errors:
                raise RuntimeError(f"warm-up job failed the oracle: {errors}")


class ValidateFull(Workload):
    name = "validate_full"

    def _generate(self) -> None:
        gen.write_validate_input(self.seed, self.size["rows"], self.data, self.size["files"])

    def expect(self, suite) -> None:
        self.suite = suite
        self.expected = oracle.expected_violations(self.data, suite.min_n_tok, suite.max_n_tok)
        self.in_bytes = dir_bytes_files(self.data)[0]

    def setup(self, spark, traced: bool = False) -> None:
        """No warm-up: the timed job is the first validation in a fresh
        process, as a spark-submit run meets it. The traced run warms up
        first so its traced and untraced jobs compare like with like."""
        oracle.check_cascade_order(self.suite)
        if traced:
            self.warm_up(spark)

    def prepare(self, i) -> None:
        shutil.rmtree(self.out_dirs(i)[0], ignore_errors=True)

    def job(self, spark, i) -> dict:
        from teleharvest_spark import cli

        return cli.run(spark, self.data, self.out_dirs(i)[0], self.suite, f"r{i}")

    def check(self, report, i) -> tuple[list[str], dict]:
        errors = oracle.check_validate(report, self.out_dirs(i)[0], f"r{i}", self.expected)
        obs = oracle.observed_violations(os.path.join(self.out_dirs(i)[0], "violations"))
        return errors, {"dup_keys": obs["dup_keys"]}

    def rows(self, report) -> int:
        return report.get("validated_rows", 0)


class ResumeDelta(Workload):
    name = "resume_delta"

    def _generate(self) -> None:
        gen.write_resume_input(
            self.seed, self.size["rows"], self.size["new_frac"], self.data, self.size["files"]
        )

    def out_dirs(self, i):
        return [os.path.join(self.runs, "job"), os.path.join(self.runs, "job_certified")]

    def expect(self, suite) -> None:
        self.suite = suite
        self.base = os.path.join(self.data, "base")
        self.delta = os.path.join(self.data, "delta")
        self.expected = oracle.expected_violations(
            os.path.join(self.delta, "new-000.parquet"), suite.min_n_tok,
            suite.max_n_tok, stored_path=self.base,
        )
        self.in_bytes = dir_bytes_files(self.delta)[0]

    def setup(self, spark, traced: bool = False) -> None:
        """Warehouse seeding: validate the base table with the resume
        bookkeeping on, then snapshot the warehouse for every job."""
        from teleharvest_spark import cli

        oracle.check_cascade_order(self.suite)
        self.snap = [os.path.join(self.runs, "snap"), os.path.join(self.runs, "snap_certified")]
        for d in self.snap:
            shutil.rmtree(d, ignore_errors=True)
        report = cli.run(
            spark, self.base, self.snap[0], self.suite, "base", key_index=True,
            corpus_states=True, emit_valid=self.snap[1],
        )
        if report.get("skipped") or report.get("validated_rows") != self.size["rows"]:
            raise RuntimeError(f"warehouse seeding failed: {report}")
        if traced:
            self.warm_up(spark)

    def prepare(self, i) -> None:
        for snap, d in zip(self.snap, self.out_dirs(i)):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(snap, d)

    def job(self, spark, i) -> dict:
        from teleharvest_spark import cli

        out, cert = self.out_dirs(i)
        return cli.run(
            spark, self.delta, out, self.suite, f"d{i}", resume=True,
            key_index=True, corpus_states=True, emit_valid=cert,
        )

    def check(self, report, i):
        errors = oracle.check_resume(
            report, self.out_dirs(i)[0], f"d{i}", self.expected, gen.NEW_SOURCE
        )
        obs = oracle.observed_violations(
            os.path.join(self.out_dirs(i)[0], "violations"), source=gen.NEW_SOURCE
        )
        return errors, {"dup_keys": obs["dup_keys"]}

    def rows(self, report) -> int:
        return report.get("validated_rows", 0)


class PrepCorpus(Workload):
    name = "prep_corpus"

    def _generate(self) -> None:
        gen.write_documents(self.seed, self.size["docs"], self.data, self.size["files"])

    def expect(self, suite) -> None:
        self.in_bytes = dir_bytes_files(self.data)[0]
        # the first checked job of a seed records its output digest;
        # every later job of that seed, in any run, must reproduce it
        self.digest_path = os.path.join(self.data, "_output_digest")

    def setup(self, spark, traced: bool = False) -> None:
        """No warm-up, as for validate_full: a corpus build is a batch
        step run in a fresh process."""
        if traced:
            self.warm_up(spark)

    def prepare(self, i) -> None:
        shutil.rmtree(self.out_dirs(i)[0], ignore_errors=True)

    def job(self, spark, i) -> dict:
        from teleharvest_spark import pipeline

        return pipeline.prep_corpus(spark, self.data, self.out_dirs(i)[0], f"p{i}")

    def check(self, report, i):
        errors, facts = oracle.check_prep(self.size["docs"], self.out_dirs(i)[0])
        if any(st.get("skipped") for st in report["stages"].values()):
            errors.append("a stage reported skipped on a fresh output directory")
        if not os.path.isfile(self.digest_path):
            with open(self.digest_path, "w", encoding="utf-8") as f:
                f.write(facts["digest"])
        with open(self.digest_path, encoding="utf-8") as f:
            if f.read() != facts["digest"]:
                errors.append("output digest differs from the first job of this seed")
        facts["clustered_nodes"] = report["stages"].get("dedup", {}).get("clustered_nodes", 0)
        return errors, facts

    def rows(self, report) -> int:
        return self.size["docs"]


WORKLOADS = {w.name: w for w in (ValidateFull, ResumeDelta, PrepCorpus)}


# -- the run ---------------------------------------------------------------


def run_job(wl, spark, i, sampler, root_pid, around=contextlib.nullcontext) -> dict:
    """One timed job: wall, CPU of the process tree, output bytes, and
    the oracle's verdict (a raise, a skip or a mismatch is a failure).
    ``around(i)`` wraps exactly the timed call."""
    wl.prepare(i)
    before = [dir_bytes_files(d) for d in wl.out_dirs(i)]
    sampler.arm()
    cpu0 = procstat.tree_cpu_seconds(root_pid)
    epoch0 = time.time()
    t0 = time.perf_counter()
    report, error = None, None
    try:
        with around(i):
            report = wl.job(spark, i)
    except Exception as e:  # a failing job is counted, not fatal
        error = f"{type(e).__name__}: {e}"
    t1 = time.perf_counter()
    epoch1 = time.time()
    cpu1 = procstat.tree_cpu_seconds(root_pid)
    sampler.disarm()
    rec = {"i": i, "wall": t1 - t0, "cpu": cpu1 - cpu0, "epoch": (epoch0, epoch1),
           "report": report, "errors": [error] if error else [], "facts": {}}
    if report is not None:
        try:
            rec["errors"], rec["facts"] = wl.check(report, i)
        except Exception as e:
            rec["errors"] = [f"oracle: {type(e).__name__}: {e}"]
    after = [dir_bytes_files(d) for d in wl.out_dirs(i)]
    rec["out_bytes"] = sum(a[0] - b[0] for a, b in zip(after, before))
    rec["files"] = sum(a[1] - b[1] for a, b in zip(after, before))
    rec["rows"] = wl.rows(report) if report else 0
    return rec


def summarize(recs: list[dict], setup_s: float, peak: int, in_bytes: int) -> dict:
    walls = [r["wall"] for r in recs]
    values = {
        "setup_s": setup_s,
        "job_s_p50": statistics.median(walls),
        "rows_per_s": sum(r["rows"] for r in recs) / sum(walls),
        "job_cpu_s_p50": statistics.median(r["cpu"] for r in recs),
        "peak_rss_mb": peak / 2**20,
        "out_bytes_per_in_byte": statistics.median(r["out_bytes"] for r in recs) / in_bytes,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "teleharvest_spark", "cli.py")):
        print(f"error: run from the repository root (no teleharvest_spark/ in {root})",
              file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIRNAME)
    settings = size_session(root, work)
    sys.path.insert(0, root)

    from teleharvest_spark.config import CheckSuite

    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.generate()
    wl.expect(CheckSuite())
    gen_s = time.perf_counter() - t
    shutil.rmtree(wl.runs, ignore_errors=True)
    log("settings", json.dumps(settings))

    if args.trace:
        import tracerun

        return tracerun.main(args, wl, work, gen_s)

    from teleharvest_spark import session

    spark = session.get_spark(app_name=f"perfbench-{wl.name}", extra_conf=session_conf(work))
    sampler = procstat.PeakRss(os.getpid())
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        recs = []
        t_measure = time.perf_counter()
        i = 0
        while not recs or time.perf_counter() - t_measure < args.seconds:
            recs.append(run_job(wl, spark, i, sampler, os.getpid()))
            i += 1
    finally:
        sampler.close()
        stop_spark(spark)
        shutil.rmtree(wl.runs, ignore_errors=True)

    failed = sum(1 for r in recs if r["errors"])
    for r in recs:
        log(f"job {r['i']}: {r['wall']:.3f} s, cpu {r['cpu']:.2f} s, rows {r['rows']}, "
            f"out {r['out_bytes']} B", "OK" if not r["errors"] else f"FAILED {r['errors']}")
    metrics = summarize(recs, setup_s, sampler.peak, wl.in_bytes)
    log(f"generation + oracle expectations {gen_s:.2f} s (outside setup_s); jobs timed: {len(recs)}; "
        f"error_rate {failed / len(recs):.3f} ({failed}/{len(recs)})")
    for k, v in metrics.items():
        log(f"{wl.name} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
