import json
import os

from perfbench import ratings_gen, workloads
from perfbench.spans import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _expected():
    return ratings_gen.generate(4)[1]


def _report(pairs, rmse):
    body = [f"{u}\t{p}\t4.9\t\t5.0\tOK" for u, p in sorted(pairs)]
    return "\n".join(["User\tProduct\tPredicted\tActual\tError?", *body, f"RMSE = {'NaN' if rmse != rmse else round(rmse * 100) / 100}"])


def test_correct_report_passes():
    exp = _expected()
    assert workloads.check_report(0.37, _report(exp.scored_pairs, 0.37), exp) == []


def test_wrong_reports_are_flagged():
    exp = _expected()
    pairs = sorted(exp.scored_pairs)
    assert workloads.check_report(0.61, _report(pairs, 0.61), exp)  # RMSE contract
    assert workloads.check_report(float("nan"), _report(pairs, 0.2), exp)
    assert workloads.check_report(0.37, _report(pairs[1:], 0.37), exp)  # a scored pair lost
    assert workloads.check_report(0.37, _report(pairs + [(999, 999)], 0.37), exp)  # a cold pair scored
    assert workloads.check_report(0.37, _report(pairs, 0.41), exp)  # trailer disagrees
    assert workloads.check_report(float("nan"), _report([], float("nan")), exp)  # nothing scored
    assert workloads.check_report(0.37, _report(pairs, 0.37).replace("\t", " ", 1), exp)  # garbled row


def test_failed_operations_are_counted():
    exp = _expected()
    cf = workloads.CfPipeline(None, None, "/nonexistent", 4)
    cf.expected = exp
    assert cf.verify((0.37, _report(exp.scored_pairs, 0.37))) == (1, [])
    n, problems = cf.verify((0.37, _report(sorted(exp.scored_pairs)[1:], 0.37)))
    assert (n, len(problems)) == (1, 1)
    assert cf.verify(RuntimeError("executor lost"))[1][0].startswith("pipeline: RuntimeError")

    reg = workloads.Registry(None, None, "/nonexistent", 4)
    reg.rows = {"a": 10, "b": 3, "c": 5}
    n, problems = reg.verify({"a": 10, "b": 4, "c": ValueError("boom")})
    assert n == 3 and len(problems) == 2


def test_layers_attribute_jobs_to_spans():
    from perfbench.eventlog import GroupStats

    spans = [Span("pass", 1, 0.0, 4.0), Span("q.x.builder", 1, 0.0, 1.0), Span("q.x.action", 1, 1.0, 3.5)]
    groups = {
        "q.x.builder#1": GroupStats(jobs=2, stage_ids={0, 1}, task_run_s=1.0),
        "q.x.action#1": GroupStats(jobs=1, stage_ids={2, 3, 4}, task_run_s=3.0, shuffle_write_bytes=2 * workloads.MB),
        "q.x.builder#0": GroupStats(jobs=9),  # an untraced pass: ignored
    }
    lay = workloads._Layers(spans, groups, [1])
    out = lay.workload(pass_s=4.0, cores=2)
    assert out["plans.queries.builder_s"] == 1.0 and out["plans.queries.builder_jobs"] == 2
    assert out["action_s"] == 2.5 and out["jobs"] == 3 and out["stages"] == 5
    assert out["shuffle_write_mb"] == 2.0 and out["slot_util"] == 0.5


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    assert {m["name"] for m in spec["end_to_end"]} == {"pass_s", "cpu_s", "setup_s"}
