"""Self-test of the layer ledger: a known delay injected into one layer
must show up in that layer's self time only.

  python3 -m pytest perfbench/tests -q

Runs a small seeded input through `ledger.replay_job` at local[2] three
times in one session: as is, with an eager sleep around
`write_checkpoint`, and with a per-batch sleep appended to the
`parse_transcripts` prefix.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import ledger, metrics  # noqa: E402
from perfbench.run import tail  # noqa: E402

DELAY_S = 3.0
TURNS = 6_000
BATCH_TS = "2024-03-01 00:00:00"


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()
    for name, (_unit, _better, targets) in metrics.PER_LAYER.items():
        for e2e, workload in targets:
            assert e2e in metrics.END_TO_END, name
            assert workload in metrics.WORKLOADS or workload == "*", name


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 41)]  # 40 samples: p75 has 10 beyond it
    assert tail(xs) == (30.0, 75.0, 40)


@pytest.fixture(scope="module")
def spark_and_input(tmp_path_factory):
    from perfbench import inputs

    base = tmp_path_factory.mktemp("ledger")
    inp = inputs.Input(str(base / "input"))
    inp.start()
    pdf = inputs._table(TURNS, 7)
    inputs._write_split(pdf, inp.transcripts, 4, "part")
    import pyarrow.parquet as pq

    pq.write_table(inputs._meta(pdf["conv_id"].unique(), 7), inp.meta)
    # one shuffle partition per core: a per-partition sleep adds its
    # length once to the stage's wall time
    os.environ["SPARK_GRAFT_SHUFFLE"] = "2"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    spark = ledger.session("local[2]", str(base / "eventlog"))
    yield spark, inp, base
    spark.stop()


def _self_times(spark, inp, out_dir, calls):
    spans = ledger.Spans(spark)
    res = ledger.replay_job(spark, spans, inp.transcripts, inp.meta, out_dir, BATCH_TS, calls=calls)
    assert res["rows"] == TURNS
    return ledger.self_times(spans)


def _sleeping_parse(parse):
    def sleep_per_batch(batches):
        for b in batches:
            time.sleep(DELAY_S)
            yield b

    def delayed(df, *args, **kwargs):
        out = parse(df, *args, **kwargs)
        return out.mapInArrow(sleep_per_batch, out.schema)

    return delayed


def _sleeping_call(fn):
    def delayed(*args, **kwargs):
        time.sleep(DELAY_S)
        return fn(*args, **kwargs)

    return delayed


def _assert_only_grows(base, injected, layer):
    growth = {k: injected[k] - base[k] for k in base}
    print(f"{layer} +{DELAY_S} s:", {k: round(v, 2) for k, v in growth.items()})
    assert 0.75 * DELAY_S <= growth[layer] <= 1.75 * DELAY_S, growth
    others = {k: v for k, v in growth.items() if k != layer and abs(v) > 0.4 * DELAY_S}
    assert not others, growth


def test_sleep_injection_lands_in_one_layer(spark_and_input):
    spark, inp, base = spark_and_input
    calls = ledger.default_calls()
    # the first replay compiles and warms the session; time the second
    _self_times(spark, inp, str(base / "warm"), calls)
    plain = _self_times(spark, inp, str(base / "plain"), calls)

    eager = dict(calls, write_checkpoint=_sleeping_call(calls["write_checkpoint"]))
    _assert_only_grows(plain, _self_times(spark, inp, str(base / "eager"), eager),
                       "operators.checkpoint.write")

    lazy = dict(calls, parse_transcripts=_sleeping_parse(calls["parse_transcripts"]))
    _assert_only_grows(plain, _self_times(spark, inp, str(base / "lazy"), lazy),
                       "plans.pipeline.parse")
