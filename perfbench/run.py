"""The repository benchmark: seeded, closed-loop profiling and dedup jobs.

Run from the repository root:

    python3 perfbench/run.py --workload profile_store --seed 1 --seconds 8 --trace 0

Workloads: ``profile_store`` and ``dedup_corpus`` (see ``workloads.py``
and ``README.md``). One Spark driver process submits the
jobs one after another on ``local[nproc]``. The steps of a run:

1. generate the inputs for ``--seed`` in a child process (cached per seed
   under ``.perfbench/inputs``; generation time is reported, not timed);
2. set up the session several times — ``get_spark`` plus the workload's
   first job on a tiny slice. The first set-up launches the JVM and is
   reported apart; ``setup_s`` is the median of the others, which
   re-create the session in the same JVM;
3. compute the reference answers with plain Spark / pure Python;
4. run one warm-up job, then jobs back to back for ``--seconds`` (at
   least two), checking every job's outputs;
5. print the metrics: end-to-end ones with ``--trace 0``; with
   ``--trace 1`` each round runs the job untraced, the job traced and
   the isolated layer probes, and the per-layer metrics are printed
   (spans are written to ``.perfbench/traces/``).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 when any
output check failed and 2 when the program cannot run at all.

The legacy ``bench.py`` / ``bench_full.json`` query sweep is not this
benchmark.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5  # the first launches the JVM; setup_s is the median of the other four
MIN_JOBS = 2
KEEP_SEEDS = 4
DEADLINE_S = 160.0


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ensure_inputs(work: str, seed: int) -> tuple[str, dict, bool]:
    """Inputs for ``seed``, generated by ``gen.py`` in a child process
    unless already cached. Keeps the ``KEEP_SEEDS`` newest seeds."""
    base = os.path.join(work, "inputs")
    d = os.path.join(base, f"seed-{seed}")
    manifest = os.path.join(d, "manifest.json")
    cached = os.path.exists(manifest)
    if not cached:
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed), "--out", tmp],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    os.utime(d)
    seeds = sorted(
        (e for e in os.scandir(base) if e.name.startswith("seed-") and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(e.path, ignore_errors=True)
    with open(manifest) as f:
        return d, json.load(f), cached


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it: it exits when its stdin
    closes."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.close()
    except (Py4JError, OSError):
        pass  # the JVM is going away either way
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, root: str, work: str, run_dir: str, inputs: str, manifest: dict):
        from whylogs_java_spark import get_spark

        import workloads

        self.a = args
        self.cores = nproc()
        self.get_spark = get_spark
        self.w = workloads.WORKLOADS[args.workload](inputs, manifest, run_dir)
        self.work = work
        self.run_dir = run_dir
        self.conf = {
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.enabled": "true" if args.trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": root,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.t_start = time.perf_counter()

    def setup(self) -> list[tuple[float, float]]:
        out = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.get_spark(
                "perfbench", master=f"local[{self.cores}]", extra_conf=self.conf
            )
            t1 = time.perf_counter()
            self.w.tiny_job(self.spark)
            out.append((t1 - t0, time.perf_counter() - t1))
        return out

    def run_job(self, tr, exp: dict, reads: int = 1):
        """One checked job; returns its result, or None when it failed."""
        self.attempted += 1
        out = self.w.out(self.attempted % 2)
        try:
            res = self.w.job(self.spark, tr, out, reads)
            bad = self.w.check(self.spark, res, exp)
        except Exception as e:  # noqa: BLE001 - a failing job is counted, not fatal
            traceback.print_exc()
            res, bad = None, [f"job raised {type(e).__name__}: {e}"]
        if bad:
            self.failures.append(f"job {self.attempted}: " + "; ".join(bad[:5]))
            print(f"CHECK FAILED job {self.attempted}: {bad[:5]}", file=sys.stderr, flush=True)
            return None, out
        return res, out

    def keep_going(self, t0: float, done: int, min_done: int) -> bool:
        """At least one round always runs, so a slow program is measured."""
        if done and time.perf_counter() - self.t_start > DEADLINE_S:
            return False
        return done < min_done or time.perf_counter() - t0 < self.a.seconds

    def end_to_end(self, exp: dict) -> dict:
        from spans import NullTracer, jvm_allocated_mb

        null = NullTracer()
        self.run_job(null, exp)  # warm-up: checked, not timed
        gc = self.spark.sparkContext._jvm.java.lang.System.gc
        results, alloc = [], []
        t0 = time.perf_counter()
        while self.keep_going(t0, self.attempted - 1, MIN_JOBS):
            # every job starts from a collected heap, so it does not pay
            # for the garbage of the job before it
            gc()
            a0 = jvm_allocated_mb(self.spark)
            res, _ = self.run_job(null, exp, self.w.reads)
            alloc.append(jvm_allocated_mb(self.spark) - a0)
            if res is not None:
                results.append(res)
        log("job write_s: " + " ".join(f"{r.write_s:.3f}" for r in results))
        log("job read_s:  " + " ".join(f"{s:.3f}" for r in results for s in r.read_s))
        log("job JVM alloc MB: " + " ".join(f"{m:.1f}" for m in alloc))
        return {
            "rows_per_s": median([self.w.rows / r.write_s for r in results]),
            "merge_s_p50": median([s for r in results for s in r.read_s]),
            "output_bytes": median([r.output_bytes for r in results]),
            "recall": median([r.recall for r in results]),
            "jvm_alloc_mb": median(alloc),
            "jobs": len(results),
        }

    def traced(self, exp: dict, names: list[str]) -> dict:
        from spans import NullTracer, Tracer

        tr = Tracer(self.spark, "", self.cores)
        null = NullTracer()
        self.run_job(null, exp)  # warm-up: checked, not timed
        rates = {"traced": [], "untraced": []}
        rounds: list[str] = []
        t0 = time.perf_counter()
        i = 0
        while self.keep_going(t0, i, 1):
            for mode in (("untraced", "traced") if i % 2 == 0 else ("traced", "untraced")):
                tr.run_id = f"seed{self.a.seed}-round{i}-{mode}"
                res, out = self.run_job(tr if mode == "traced" else null, exp)
                if res is not None:
                    rates[mode].append(self.w.rows / res.write_s)
                if mode == "traced" and res is not None:
                    tr.run_id = f"seed{self.a.seed}-round{i}-probe"
                    self.w.probe(self.spark, tr, out)
                    rounds.append(f"seed{self.a.seed}-round{i}-")
            i += 1
        tr.write(os.path.join(self.work, "traces", f"{self.a.workload}-seed{self.a.seed}.json"))
        self.print_self_times(tr)
        return self.layer_metrics(tr, rounds, rates, names)

    @staticmethod
    def print_self_times(tr) -> None:
        tot: dict[str, list[float]] = {}
        for s, self_s in tr.self_times():
            t = tot.setdefault(s.name, [0.0, 0.0, 0])
            t[0] += s.end - s.start
            t[1] += self_s
            t[2] += 1
        log(f"{'span':44s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}")
        for name, (total, self_s, n) in sorted(tot.items(), key=lambda kv: -kv[1][1]):
            log(f"{name:44s} {n:5d} {total:9.3f} {self_s:9.3f}")

    def layer_metrics(self, tr, rounds: list[str], rates: dict, names: list[str]) -> dict:
        m = dict.fromkeys(names, 0.0)
        per_round: dict[str, list[float]] = {}
        for prefix in rounds:
            sums: dict[str, float] = {}
            for s in tr.spans:
                if not s.run_id.startswith(prefix) or s.name == "plans.build":
                    continue
                vals = {"s": s.end - s.start, **{k: v for k, v in s.attrs.items() if k != "busy_share"}}
                for k, v in vals.items():
                    key = f"{s.name}.{k}"
                    sums[key] = sums.get(key, 0.0) + v
            # busy share of the span name's summed time, not a sum of shares
            for key in [k for k in sums if k.endswith(".exec_s")]:
                base = key[: -len(".exec_s")]
                wall = sums.get(f"{base}.s", 0.0)
                sums[f"{base}.busy_share"] = sums[key] / (wall * self.cores) if wall else 0.0
            for k, v in sums.items():
                per_round.setdefault(k, []).append(v)
        for k, vs in per_round.items():
            if k in m:
                m[k] = median(vs)
        builds = [s.end - s.start for s in tr.spans if s.name == "plans.build"]
        m["plans.build_s"] = median(builds)
        for k, vs in tr.counts.items():
            if k in m:
                m[k] = median(vs)
        m["trace.rows_per_s"] = median(rates["traced"])
        m["trace.untraced_rows_per_s"] = median(rates["untraced"])
        if rates["traced"]:
            m["trace.overhead_ratio"] = median(rates["untraced"]) / median(rates["traced"])
        return m


def run(args, root: str, work: str, run_dir: str, inputs: str, manifest: dict, bench: dict) -> dict:
    from spans import peak_rss_mb

    r = Runner(args, root, work, run_dir, inputs, manifest)
    try:
        setups = r.setup()
        cold, warm = setups[0], setups[1:]
        setup_s = median([a + b for a, b in warm])
        log(f"setup samples: {[round(a + b, 3) for a, b in setups]} (first launches the JVM)")
        exp = r.w.expected(r.spark)
        log("reference answers computed")
        if args.trace:
            names = [m["name"] for m in bench["per_layer"]]
            metrics = r.traced(exp, names)
            metrics["session.get_spark_s"] = median([a for a, _ in warm])
            metrics["session.first_job_s"] = median([b for _, b in warm])
            metrics["session.cold_setup_s"] = sum(cold)
            metrics["memory.peak_rss_mb"] = peak_rss_mb(r.spark)
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            e2e = r.end_to_end(exp)
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": e2e["rows_per_s"],
                "merge_s_p50": e2e["merge_s_p50"],
                "output_bytes": e2e["output_bytes"],
                "jvm_alloc_mb": e2e["jvm_alloc_mb"],
                "ok_ratio": 1.0 - len(r.failures) / r.attempted,
                "recall": e2e["recall"],
            }
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
            log(f"timed jobs: {e2e['jobs']} (after 1 warm-up job), attempted {r.attempted}")
            log(f"peak RSS (VmHWM) of driver + JVM: {peak_rss_mb(r.spark):.1f} MB")
            log(f"failed_ratio: {len(r.failures) / r.attempted:.4f}")
            if args.workload == "dedup_corpus":
                log(f"dedup_recall: {e2e['recall']:.4f}")
    finally:
        if r.spark is not None:
            r.spark.stop()
        stop_jvm()
        log("session and JVM stopped")
    for name, v in metrics.items():
        log(f"{name:44s} {v:16.6g} {units.get(name, '')}")
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items() if k in units},
        "failures": r.failures,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("whylogs_java_spark") is None:
        print("perfbench: package whylogs_java_spark not found under the working directory",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench")
    inputs, manifest, cached = ensure_inputs(work, a.seed)
    log(f"inputs: seed={a.seed} content_sha256={manifest['content_sha256']} "
        f"gen_s={manifest['gen_s']:.3f}{' (cached)' if cached else ''} shapes={manifest['shapes']}")

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # Spark's log goes to a file; the console keeps the report
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    log_path = os.path.join(work, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    saved_err = os.dup(2)
    with open(log_path, "wb") as lf:
        os.dup2(lf.fileno(), 2)
    try:
        result = run(a, root, work, run_dir, inputs, manifest, bench)
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in result.pop("failures"):
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
