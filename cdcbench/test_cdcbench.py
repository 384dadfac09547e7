"""The benchmark's own tests.  Run from the repository root:

    python -m pytest cdcbench/test_cdcbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gate  # noqa: E402
import inputs  # noqa: E402

TINY = {
    "bulk_cow": dict(n_convs=24, turns=8, epoch_events=600, active=None),
    "serve_mor": dict(n_convs=24, turns=8, epoch_events=300, active=6),
}


def test_seed_changes_inputs_and_same_seed_repeats():
    a = inputs.Stream(1, **TINY["bulk_cow"])
    b = inputs.Stream(1, **TINY["bulk_cow"])
    c = inputs.Stream(2, **TINY["bulk_cow"])
    for k in range(3):
        ea, eb, ec = a.epoch(k), b.epoch(k), c.epoch(k)
        assert inputs.to_arrow(ea).equals(inputs.to_arrow(eb))
        assert not inputs.to_arrow(ea).equals(inputs.to_arrow(ec))
    assert inputs.to_arrow(a.bootstrap()).equals(inputs.to_arrow(b.bootstrap()))


def test_epochs_have_unique_lsns_and_redeliveries():
    s = inputs.Stream(3, **TINY["bulk_cow"])
    e0, e1 = s.epoch(0), s.epoch(1)
    assert e0.lsn.min() > s.bootstrap().lsn.max()
    assert e1.lsn.min() > e0.lsn.max()
    # redelivered events repeat (key, lsn, payload) exactly
    assert len(np.unique(e0.lsn)) < len(e0)


def _state(seed=5):
    s = inputs.Stream(seed, **TINY["bulk_cow"])
    ev = inputs.Events.concat([s.bootstrap(), s.epoch(0), s.epoch(1)])
    return gate.expected_state(ev), ev


def test_oracle_applies_deletes_and_last_writer():
    want, ev = _state()
    key = ev.conv.astype(np.int64) * (1 << 20) + ev.turn
    for i in np.flatnonzero(ev.op == 2)[:20]:
        later = (key == key[i]) & (ev.lsn > ev.lsn[i])
        present = (
            (want["conv_id"] == f"conv_{ev.conv[i]:06d}")
            & (want["turn_idx"] == ev.turn[i])
        ).any()
        assert present == bool(later.any() and ev.op[later][np.argmax(ev.lsn[later])] != 2)


def test_gate_rejects_a_corrupted_expected_state():
    want, _ = _state()
    got = want.copy()
    assert gate.diff(got, want, "same") is None
    bad = want.copy()
    bad.loc[bad.index[3], "text"] = "corrupted"
    assert "differs" in gate.diff(got, bad, "text")
    assert "rows" in gate.diff(got, want.drop(want.index[7]), "missing row")
    dup = pd.concat([got, got.iloc[[0]]])
    assert "duplicate" in gate.diff(dup, want, "duplicate")
    late = want.copy()
    late.loc[late.index[5], "ts"] += pd.Timedelta(microseconds=1)
    assert "differs" in gate.diff(got, late, "ts")


# -- tests with a Spark session ------------------------------------------------
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from dataingestion_spark.session import build_session

    s = build_session(
        app_name="cdcbench-test",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.session.timeZone": "UTC",
        },
    )
    yield s
    s.stop()


def test_staged_debezium_decodes_to_the_generated_events(spark, tmp_path):
    import workloads
    from dataingestion_spark.sources.cdc_formats import parse_cdc

    ev = inputs.Stream(7, **TINY["bulk_cow"]).epoch(0)
    path = str(tmp_path / "e.parquet")
    inputs.write_debezium(ev, path)
    got = parse_cdc(
        spark.read.parquet(path), "debezium",
        payload_fields=workloads.PAYLOAD_FIELDS, key_fields=workloads.KEY_FIELDS,
    ).toPandas()
    want = inputs.to_arrow(ev).to_pandas()
    cols = ["op", "conv_id", "turn_idx", "role", "text", "tool", "lsn"]
    g = got[cols].sort_values(["lsn", "op"]).reset_index(drop=True)
    w = want[cols].sort_values(["lsn", "op"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)
    # a delete's only row image is "before", so its payload (ts too) is null
    live_g = got[got["op"] != "DELETE"].sort_values("lsn")
    live_w = want[want["op"] != "DELETE"].sort_values("lsn")
    assert list(live_g["ts"].astype("datetime64[us]")) == list(
        live_w["ts"].dt.tz_localize(None).astype("datetime64[us]")
    )


def _counts(spark, name, work):
    import workloads

    run = workloads.Run(spark, name, 11, 0, 1, str(work), sizes=TINY[name])
    run.tracer.install()
    try:
        res = workloads.WORKLOADS[name](run, epochs=4)
    finally:
        run.tracer.uninstall()
    assert res["errors"] == []
    merges = [
        s for s in run.tracer.spans
        if s["name"] == "merge"
        and run.tracer.spans[s["parent"]]["name"] in ("epoch", "trigger")
    ]
    keys = ("jobs", "stages", "tasks", "shuffle_write_bytes", "output_bytes")
    return {
        "merges": [tuple(s[k] for k in keys) for s in merges],
        "plans": res["plans"],
        "layout": [(c["files_added"], c["buckets_touched"]) for c in run.counts],
        "reads": [
            (s["name"], s["jobs"]) for s in run.tracer.spans if s["name"].startswith("q.")
        ],
    }


@pytest.mark.parametrize("name", ["bulk_cow", "serve_mor"])
def test_counts_repeat_exactly_for_one_seed(spark, tmp_path, name):
    a = _counts(spark, name, tmp_path / "a")
    b = _counts(spark, name, tmp_path / "b")
    # a traced run traces half of its timed epochs
    assert len(a["merges"]) == 2 and len(a["plans"]) == 4
    assert a == b, json.dumps({"a": a, "b": b})


def test_benchmark_json_names_every_metric_the_runs_print():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == workloads.PER_LAYER
    assert all(
        m["unit"] == workloads.per_layer_unit(m["name"]) for m in spec["per_layer"]
    )
