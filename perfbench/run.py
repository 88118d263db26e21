"""Seeded end-to-end benchmark of valar_spark, with a traced mode.

    python3 perfbench/run.py --workload transcripts_validate --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One run generates (or reuses) the
workload's inputs for the seed, then sets up once: from process start until
a Spark session is up through the library's ``get_spark``, the inputs are
opened and one warm-up pass is done. It then measures the passes that fit
in ``--seconds`` (at least one) and checks every pass's outputs, the warm-up
included, outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` splits the
measuring time in three restarted sessions: untraced, traced (Spark's event
log on, the span id as job description) and untraced again, and prints the
per-layer metrics of the traced passes: span times, layer counters,
event-log task metrics folded per layer, and the tracing overhead against
the untraced passes around them.

The last stdout line is the result object; the line before it is the run
record (host, config, inputs, checks, spans summary). Both are also written
under ``.perfbench/out/`` in the checkout, with the spans of the run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETTLE_S = 2.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _tree_sha256(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "valar_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


class Session:
    """One Spark session at a time, through the library's ``get_spark``."""

    def __init__(self, master: str):
        self.master = master
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from valar_spark.session import get_spark

        extra = None
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
        self.spark = get_spark(master=self.master, extra_conf=extra)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM gateway, and wait for the JVM."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (AttributeError, OSError):
            pass
        return 0.0


def cache_held(spark) -> tuple[int, int]:
    """(bytes, rdds) of persisted blocks the context still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (sum(int(i.memSize()) + int(i.diskSize()) for i in infos), len(infos))


def clear_cache(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def worker_import_root(spark, nproc: int) -> list[str]:
    """Directories Python workers import ``valar_spark`` from."""

    def where(_rows):
        import valar_spark

        yield os.path.dirname(os.path.dirname(os.path.abspath(valar_spark.__file__)))

    return sorted(set(spark.sparkContext.parallelize(range(nproc), nproc)
                      .mapPartitions(where).collect()))


def probe() -> float | None:
    """``bench.py``'s fixed single-thread probe, when the checkout has it."""
    try:
        from bench import throttle_probe
    except ImportError:
        return None
    throttle_probe()
    return round(throttle_probe(), 4)


def run_pass(wl, spark, tracer, pass_id: str, outputs: list, errors: list):
    tracer.pass_id = pass_id
    try:
        with tracer.span("pass", "pass") as sp:
            out = wl.run_pass(spark, wl.inputs, tracer)
    except Exception:  # a failing layer call is a measured failure, not a crash
        errors.append((pass_id, traceback.format_exc()))
        return None
    outputs.append((pass_id, out))
    return sp["end"] - sp["start"]


def setup(sess, wl, tracer, t0: float, outputs, errors) -> dict:
    """Session up, inputs opened, one warm-up pass; timed from ``t0``."""
    spark = sess.start()
    t_up = time.perf_counter()
    wl.inputs = wl.open(spark)
    run_pass(wl, spark, tracer, "warmup", outputs, errors)
    t_end = time.perf_counter()
    clear_cache(spark)
    return {"setup_s": t_end - t0, "start_s": t_up - t0, "warmup_s": t_end - t_up}


def restart(sess, wl, event_log_dir: str | None = None):
    sess.stop()
    spark = sess.start(event_log_dir)
    wl.inputs = wl.open(spark)
    return spark


def settle(spark) -> None:
    """Collect garbage on both sides and let the JVM's background compiler
    threads drain before measuring, so the passes do not share the cores
    with the warm-up's leftovers."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(SETTLE_S)


def measure(wl, spark, tracer, seconds: float, tag: str, outputs, errors,
            counters: list, cache: list) -> list[float]:
    """The passes that fit in ``seconds`` (at least one); after each, the
    layer counters and the cache still held are recorded and the cache
    is cleared, so no pass reuses another's persisted blocks."""
    times: list[float] = []
    settle(spark)
    t0 = time.perf_counter()
    while True:
        dt = run_pass(wl, spark, tracer, f"{tag}{len(times)}", outputs, errors)
        if dt is None:
            break
        times.append(dt)
        counters.append(wl.counters(outputs[-1][1]))
        cache.append(cache_held(spark))
        clear_cache(spark)
        if time.perf_counter() - t0 + _median(times) > seconds:
            break
    return times


def _layer_metrics(traced, setup_rec, counters, cache, peak_rss, pass_s,
                   traced_times) -> dict:

    def med(name):
        return _median([s["end"] - s["start"] for s in traced if s["name"] == name])

    def cmed(key):
        return float(_median([c[key] for c in counters if key in c]))

    return {
        "session.start_s": (setup_rec.get("start_s", 0.0), "s"),
        "session.warmup_s": (setup_rec.get("warmup_s", 0.0), "s"),
        "session.jvm_peak_rss_mb": (peak_rss, "MB"),
        "validate.row_rules_s": (med("validate.row_rules"), "s"),
        "validate.verdicts_s": (med("validate.verdicts"), "s"),
        "validate.violation_rows": (cmed("validate.violation_rows"), "count"),
        "dataset_rules.integrity_s": (med("dataset_rules.integrity"), "s"),
        "dataset_rules.referential_s": (med("dataset_rules.referential"), "s"),
        "dataset_rules.profile_s": (med("dataset_rules.profile"), "s"),
        "drift.psi_ks_s": (med("drift.psi_ks"), "s"),
        "runner.full_s": (med("runner.full"), "s"),
        "runner.fingerprints_s": (med("runner.fingerprints"), "s"),
        "runner.buckets_changed": (cmed("runner.buckets_changed"), "count"),
        "runner.bytes_written": (cmed("runner.bytes_written"), "bytes"),
        "runner.files_written": (cmed("runner.files_written"), "count"),
        "textops.shingle_sets_s": (med("textops.shingle_sets"), "s"),
        "textops.candidates_s": (med("textops.candidates"), "s"),
        "textops.verify_s": (med("textops.verify"), "s"),
        "textops.simhash_s": (med("textops.simhash"), "s"),
        "textops.candidate_pairs": (cmed("textops.candidate_pairs"), "count"),
        "textops.verified_pairs": (cmed("textops.verified_pairs"), "count"),
        "textops.candidate_yield": (cmed("textops.candidate_yield"), "ratio"),
        "ann.embedding_pairs_s": (med("ann.embedding_pairs"), "s"),
        "cache.bytes_held": (float(_median([c[0] for c in cache])), "bytes"),
        "cache.rdds_held": (float(_median([c[1] for c in cache])), "count"),
        "trace.overhead_frac": (
            _median(traced_times) / pass_s - 1 if pass_s and traced_times else 0.0, "ratio"),
    }


def _stage_metrics(elog: str, traced_spans: list, n_passes: int, record: dict) -> dict:
    """Event-log task metrics per layer, per traced pass."""
    from spans import STAGE_LAYERS, STAGE_METRICS, fold_event_log, read_event_log, self_times

    logs = sorted(os.listdir(elog))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {elog}, found {logs}")
    events = read_event_log(os.path.join(elog, logs[0]))
    stage = fold_event_log(events, traced_spans)
    n = max(n_passes, 1)
    out = {}
    for layer in STAGE_LAYERS:
        for m, v in stage[layer].items():
            out[f"{layer}.{m}"] = (v if m in ("peak_mem_bytes", "max_task_s") else v / n,
                                   STAGE_METRICS[m])
    layer_of = {s["id"]: s["layer"] for s in traced_spans}
    self_by_layer: dict[str, float] = {}
    for sid, v in self_times(traced_spans).items():
        self_by_layer[layer_of[sid]] = self_by_layer.get(layer_of[sid], 0.0) + v / n
    pass_mean = sum(s["end"] - s["start"] for s in traced_spans if s["layer"] == "pass") / n
    record["spans"] = {
        "events": len(events),
        "unattributed_stage_metrics": stage["other"],
        "self_s_per_pass_by_layer": self_by_layer,
        "self_s_sum_per_pass": sum(self_by_layer.values()),
        "pass_s_mean": pass_mean,
    }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "valar_spark", "__init__.py")):
        print(f"perfbench: no valar_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    for d in ("cache", "out", "tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers must import the library from this tree, and every
    # temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]))

    wl = WORKLOADS[args.workload]()
    tag = f"{wl.name}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(work, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wl.work_root = run_dir

    t_probe = time.perf_counter()
    probe_before = probe()
    probe_s = time.perf_counter() - t_probe
    t_gen = time.perf_counter()
    meta = wl.prepare(os.path.join(work, "cache"), args.seed)
    gen_s = time.perf_counter() - t_gen

    import numpy
    import pyspark

    nproc = _nproc()
    sess = Session(f"local[{nproc}]")
    tracer = Tracer()
    outputs, errors, counters, cache, checks = [], [], [], [], []
    times, traced_times = [], []
    record, layer_metrics, conf, setup_rec = {}, {}, {}, {}
    first_traced, last_traced, peak_rss = 0, 0, 0.0
    ref: list = []

    def check_pending() -> None:
        """Check the passes not yet checked, outside every timed region and
        while their session still runs (their outputs may be lazy frames)."""
        if not ref:
            ref.append(wl.reference(sess.spark))
        done = {c[0].split(":")[0] for c in checks}
        for pass_id, out in outputs:
            if pass_id in done:
                continue
            try:
                results = wl.check(out, ref[0], meta["planted"])
            except Exception:  # a check that cannot run is a failed check
                results = [("check", False, traceback.format_exc())]
            checks.extend((f"{pass_id}:{call}", ok, detail) for call, ok, detail in results)
            wl.cleanup(out)

    try:
        # set-up runs from process start; the probe and input generation
        # are not set-up work
        setup_rec = setup(sess, wl, tracer, T_PROCESS + probe_s + gen_s, outputs, errors)
        spark = sess.spark
        conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        local_root = os.path.dirname(os.path.dirname(os.path.abspath(
            sys.modules["valar_spark"].__file__)))
        roots = worker_import_root(spark, nproc)
        checks.append(("run:worker_imports", roots == [local_root],
                       f"workers import valar_spark from {roots}, this process from {local_root}"))
        if args.trace:
            # the traced pass sits between two untraced ones, each the first
            # pass of a restarted session, so the JVM's warming over the run
            # cancels out of the tracing overhead
            third = args.seconds / 3
            check_pending()
            times = measure(wl, restart(sess, wl), tracer, third, "pass",
                            outputs, errors, counters, cache)
            check_pending()
            elog = os.path.join(run_dir, "eventlog")
            spark = restart(sess, wl, event_log_dir=elog)
            tracer.sc, tracer.job_descriptions = spark.sparkContext, True
            first_traced = len(tracer.spans)
            traced_times = measure(wl, spark, tracer, third, "traced",
                                   outputs, errors, counters, cache)
            tracer.job_descriptions = False
            last_traced = len(tracer.spans)
            check_pending()
            times += measure(wl, restart(sess, wl), tracer, third, "after",
                             outputs, errors, counters, cache)
        else:
            times = measure(wl, spark, tracer, args.seconds, "pass",
                            outputs, errors, counters, cache)
        peak_rss = sess.jvm_peak_rss_mb()
        check_pending()
        sess.stop()  # flushes the event log
        if args.trace:
            layer_metrics = _stage_metrics(elog, tracer.spans[first_traced:last_traced],
                                           len(traced_times), record)
    finally:
        sess.shutdown()
    probe_after = probe()

    # ---- failures: layer calls that raised or failed a check ------------
    calls = [s for s in tracer.spans if s["layer"] != "pass"]
    attempted = len(calls) + sum(1 for c in checks if c[0].startswith("run:"))
    failed = {f"{s['pass']}:{s['name']}" for s in calls if s.get("raised")}
    failed.update(name for name, ok, _d in checks if not ok)
    correct = not failed and not errors and bool(times)

    pass_s = _median(times)
    record.update({
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {"nproc": nproc, "machine": platform.machine(),
                 "python": platform.python_version(), "spark": pyspark.__version__,
                 "numpy": numpy.__version__, "commit": _commit(ROOT),
                 "valar_spark_sha256": _tree_sha256(ROOT)},
        "input": meta, "input_generation_s": gen_s, "spark_conf": conf,
        "probe_s": {"before": probe_before, "after": probe_after},
        "setup": setup_rec, "pass_s": times, "traced_pass_s": traced_times,
        "failed_frac": len(failed) / attempted if attempted else 1.0,
        "checks": {"total": len(checks), "failed": [c for c in checks if not c[1]][:20]},
        "errors": [tb for _p, tb in errors][:3],
    })
    if args.trace:
        metrics = _layer_metrics(tracer.spans[first_traced:last_traced], setup_rec,
                                 counters, cache, peak_rss, pass_s, traced_times)
        metrics.update(layer_metrics)
    else:
        metrics = {
            "setup_s": (setup_rec.get("setup_s", 0.0), "s"),
            "rows_per_s": (wl.rows / pass_s if pass_s else 0.0, "rows/s"),
        }
    result = {"correct": correct, "attempted": attempted, "failed": len(failed),
              "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(work, "out", f"{tag}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1, default=str)
    tracer.dump(os.path.join(work, "out", f"{tag}.spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
