"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py           # everything (starts Spark, ~3 min)
    python3 perfbench/selftest.py --quick   # parser and generators only

Run from the root of a checkout. The parser test folds a small recorded
event log (``fixtures/eventlog.jsonl``: the StageSubmitted and TaskEnd events
of a local[2] session that ran one aggregation under a ``validate`` span and
one pandas UDF under a ``textops`` span, with ``fixtures/spans.json``). The
workload tests run one tiny pass of each workload with its checks, and then
the same checks against a deliberately wrong expectation, which must be
reported as a failure.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
from spans import Tracer, fold_event_log, read_event_log, self_times  # noqa: E402


def test_self_times():
    spans = [
        {"id": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "b", "parent": "a", "start": 1.0, "end": 4.0},
        {"id": "c", "parent": "a", "start": 3.0, "end": 6.0},   # overlaps b
        {"id": "d", "parent": "c", "start": 3.5, "end": 4.5},
    ]
    st = self_times(spans)
    assert st == {"a": 5.0, "b": 3.0, "c": 2.0, "d": 1.0}, st
    assert abs(sum(st.values()) - 11.0) < 1e-9  # b and c overlap by 1 s


def test_fold_event_log():
    events = read_event_log(os.path.join(HERE, "fixtures", "eventlog.jsonl"))
    with open(os.path.join(HERE, "fixtures", "spans.json")) as f:
        spans = json.load(f)
    out = fold_event_log(events, spans)
    v, t = out["validate"], out["textops"]
    assert abs(v["run_s"] - 1.4) < 1e-9 and abs(t["run_s"] - 5.821) < 1e-9, (v, t)
    assert v["shuffle_bytes"] == 604 and t["shuffle_bytes"] == 236, (v, t)
    assert v["peak_mem_bytes"] == 67370992 and abs(v["max_task_s"] - 0.973) < 1e-9, v
    assert v["python_bytes"] == 0 and t["python_bytes"] == 32832, (v, t)
    assert abs(v["gc_s"] - 0.142) < 1e-9 and 0 < t["cpu_s"] < t["run_s"], (v, t)
    for layer in ("dataset_rules", "drift", "runner", "ann", "other"):
        assert not any(out[layer].values()), (layer, out[layer])
    # a stage whose description names no span is counted as "other"
    moved = fold_event_log(events, [s for s in spans if s["layer"] != "textops"])
    assert moved["other"]["python_bytes"] == 32832 and not any(moved["textops"].values())


def test_generators_deterministic():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        m1 = gen.transcripts(a, 5, 4_000)
        m2 = gen.transcripts(b, 5, 4_000)
        m3 = gen.transcripts(a, 6, 4_000)
        assert m1 == m2 and m1["sha256"] != m3["sha256"], (m1, m3)
        assert gen.transcripts(a, 5, 4_000) == m1   # cached
        d1, d2 = gen.documents(a, 5, 1_000), gen.documents(b, 5, 1_000)
        assert d1 == d2 and d1["planted"]["copies"] > 0, d1


def _tiny_run(spark, wl, cache_dir, work_dir):
    """One pass of ``wl`` with its checks, which must all pass."""
    wl.work_root = work_dir
    meta = wl.prepare(cache_dir, 3)
    wl.inputs = wl.open(spark)
    tr = Tracer(spark.sparkContext, job_descriptions=True)
    tr.pass_id = "p0"
    with tr.span("pass", "pass"):
        out = wl.run_pass(spark, wl.inputs, tr)
    ref = wl.reference(spark)
    res = wl.check(out, ref, meta["planted"])
    bad = [r for r in res if not r[1]]
    assert res and not bad, (wl.name, bad)
    return out, ref, meta


def test_workloads_tiny():
    from valar_spark.session import get_spark
    from workloads import DocsDedup, Transcripts

    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.path.join(ROOT, ".perfbench"))
    spark = get_spark(master="local[2]")
    try:
        wl = Transcripts(6_000)
        out, ref, meta = _tiny_run(spark, wl, tmp, tmp)
        wrong = copy.deepcopy(meta["planted"])
        wrong["dup_keys"] += 1
        failed = {r[0] for r in wl.check(out, ref, wrong) if not r[1]}
        assert failed == {"dataset_rules.integrity"}, failed
        wrong = copy.deepcopy(meta["planted"])
        wrong["bad_role"] += 1
        failed = {r[0] for r in wl.check(out, ref, wrong) if not r[1]}
        assert failed == {"validate.row_rules", "runner.full"}, failed

        wl = DocsDedup(1_500)
        out, ref, meta = _tiny_run(spark, wl, tmp, tmp)
        wrong = dict(ref, pairs=ref["pairs"] + [((0, 1), 1.0)])
        failed = {r[0] for r in wl.check(out, wrong, meta["planted"]) if not r[1]}
        assert failed == {"textops.verify", "ann.embedding_pairs"}, failed
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    quick = "--quick" in sys.argv[1:]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tests = [test_self_times, test_fold_event_log, test_generators_deterministic]
    if not quick:
        tests.append(test_workloads_tiny)
    failed = 0
    for t in tests:
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as e:  # report every test, then fail the run
            failed += 1
            print(f"FAIL {t.__name__}: {e!r}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
