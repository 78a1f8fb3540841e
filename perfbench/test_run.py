"""Checks of the benchmark harness itself; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import types

import compare
import gen
import layers
import run


class _Writer:
    def __init__(self, calls):
        self.calls = calls

    def format(self, name):
        self.calls.append(("format", name))
        return self

    def mode(self, name):
        self.calls.append(("mode", name))
        return self

    def save(self, *args):
        self.calls.append(("save", args))


class _Frame:
    def __init__(self):
        self.calls = []

    @property
    def write(self):
        return _Writer(self.calls)

    def count(self):
        raise AssertionError("count() lets Catalyst prune; the timed action must not use it")


class _Engine:
    def __init__(self, frame):
        self.frame = frame
        self.released = 0

    def build(self, op):
        return self.frame

    materialise = staticmethod(run.Engine.materialise)

    def release(self):
        self.released += 1


def test_timed_action_is_the_noop_sink():
    frame = _Frame()
    rec = run.run_op(_Engine(frame), "q_any")
    assert frame.calls == [("format", "noop"), ("mode", "overwrite"), ("save", ())]
    assert rec["op"] == "q_any" and rec["s"] >= rec["build_s"] >= 0


def test_pipeline_job_stats_need_no_action():
    run.Engine.materialise({"input_docs": 1})  # a dict has no .write: must not raise


def test_parse_sql_metric():
    assert layers.parse_sql_metric("1.7 s") == 1.7
    assert layers.parse_sql_metric("304 ms") == 0.304
    assert layers.parse_sql_metric("43.9 KiB") == 43.9 * 1024
    assert layers.parse_sql_metric("total (min, med, max)\n10 ms (1 ms, 2 ms, 3 ms)") == 0.01
    assert layers.parse_sql_metric("1,024 B") == 1024
    assert layers.parse_sql_metric("") == 0.0


class _Tracer(layers.Tracer):
    """A build job whose stage carries most of the executor time, then a
    one-stage action job; no Spark behind it."""

    RUN_S = {0: 40.0, 1: 2.0}

    def __init__(self, t_build):
        self.last_task_ms = 0
        self.jobs = [
            {"id": 0, "submitted": t_build - 9.0, "completed": t_build - 0.1,
             "stages": [0], "failed_tasks": 0},
            {"id": 1, "submitted": t_build + 0.1, "completed": t_build + 1.0,
             "stages": [1], "failed_tasks": 0},
        ]

    def _new_jobs(self):
        return self.jobs

    def _stage_metrics(self, stage_ids):
        acc = {k: 0.0 for k in layers.SPARK_STAGE_FIELDS}
        acc.update({"spark.stages": len(stage_ids), "spark.tasks": 0, "spark.spill_bytes": 0})
        acc["spark.executor_run_s"] = sum(self.RUN_S[s] for s in stage_ids)
        return acc

    def _python_metrics(self):
        return {}

    def _task_ms(self):
        return 0


def test_slot_util_counts_only_the_actions_executor_time():
    t0, t_build, t_end = 100.0, 110.0, 111.0
    op_layers, jobs = _Tracer(t_build).collect(t0, t_build, t_end)
    assert [j["phase"] for j in jobs] == ["build", "exec"]
    assert op_layers["spark.executor_run_s"] == 42.0
    assert op_layers["spark.exec_run_s"] == 2.0
    cores = 4
    engine = types.SimpleNamespace(
        spark=types.SimpleNamespace(sparkContext=types.SimpleNamespace(defaultParallelism=cores)),
        first_session_s=1.0, first_registry_s=1.0,
    )
    passes = [{"s": t_end - t0, "ops": [{"op": "q_any", "s": t_end - t0, "layers": op_layers}]}]
    util = run.layer_metrics(passes, engine, untraced_s=t_end - t0)["spark.slot_util"]
    assert 0 < util <= 1
    assert util == 2.0 / (op_layers["spark.exec_s"] * cores)


def test_generated_tables_are_deterministic_and_match_fixture_columns():
    from spark_ml_pipelines_example_spark.sources.schemas import TABLE_SCHEMAS

    a, b = gen.tables(0.001, 42), gen.tables(0.001, 42)
    assert set(a) == set(TABLE_SCHEMAS)
    for name, table in a.items():
        assert table.equals(b[name]), name
        assert table.column_names == TABLE_SCHEMAS[name].names, name


def test_expected_stats_cover_every_op_without_oracle():
    declared = {op for ops in run.WORKLOADS.values() for op in ops if not op.startswith("q_")}
    assert declared <= set(run.EXPECTED)


def test_compare_refuses_mixed_core_counts(tmp_path):
    for i, cores in enumerate((4, 32)):
        detail = {
            "workload": "olap",
            "conditions": {"before": {"nproc": cores}},
            "result": {"metrics": {"pass_s": {"value": 1.0 + i, "unit": "s"}}},
        }
        (tmp_path / f"{i}.json").write_text(json.dumps(detail))
    assert compare.main([str(tmp_path / "0.json"), "--", str(tmp_path / "1.json")]) == 1
    assert compare.main([str(tmp_path / "0.json"), "--", str(tmp_path / "0.json")]) == 0
