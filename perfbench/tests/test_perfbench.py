"""The benchmark's own tests: seeded inputs repeat, the expected-churn
calculator and the output checks are right, and metric names are
well formed. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import re
from pathlib import Path

import checks
import datagen
import metrics
from run import Context
from tracing import Tracer

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(directory) -> dict:
    return {f: hashlib.sha256(Path(directory, f).read_bytes()).hexdigest()
            for f in sorted(os.listdir(directory))}


def test_same_seed_same_dumps(tmp_path):
    runs = []
    for k in range(2):
        s = datagen.DumpStream(str(tmp_path / f"d{k}"), seed=11, auctions=50,
                               realms_per_region=1)
        for c in range(3):
            s.cycle(c)
        runs.append(_digest(tmp_path / f"d{k}"))
    assert runs[0] == runs[1] and len(runs[0]) == 6
    other = datagen.DumpStream(str(tmp_path / "o"), seed=12, auctions=50,
                               realms_per_region=1)
    other.cycle(0)
    assert _digest(tmp_path / "o") != {k: v for k, v in runs[0].items() if k.startswith("c000")}


def test_same_seed_same_tables(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "b"), 5, 0.001)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_same_seed_same_schedule():
    sizes = datagen.TableSizes.at(0.01)
    a = datagen.serve_schedule(3, 5.0, 20, sizes)
    b = datagen.serve_schedule(3, 5.0, 20, sizes)
    assert a == b and len(a) == 100
    assert a != datagen.serve_schedule(4, 5.0, 20, sizes)
    assert {r.subject for r in a} <= set(metrics.SUBJECTS)


def test_carry_over_share(tmp_path):
    s = datagen.DumpStream(str(tmp_path), seed=1, auctions=200, realms_per_region=1)
    first, second = s.cycle(0), s.cycle(1)
    for a, b in zip(first, second):
        assert len(a.aucs & b.aucs) == 150 and len(b.aucs) == 200


def test_expected_churn_hand_made():
    snaps = [
        ("us", "r1", "2024-03-01 08:00:00", {3, 4, 5}),
        ("us", "r1", "2024-03-01 00:00:00", {1, 2, 3}),
        ("us", "r1", "2024-03-01 16:00:00", {4, 5, 6, 7}),
        ("eu", "r2", "2024-03-01 00:00:00", {1}),
    ]
    assert checks.expected_churn(snaps) == {
        ("us", "r1", "2024-03-01 08:00:00"): (2, 2, 1),
        ("us", "r1", "2024-03-01 16:00:00"): (2, 1, 2),
    }


def _ctx(tmp_path):
    return Context("serve", 1, 1.0, Tracer(False), tmp_path, 1)


def test_wrong_reply_counts_as_failed(tmp_path):
    import workloads

    data = str(tmp_path / "data")
    sizes = datagen.write_tables(data, 2, 0.001)
    reqs = [datagen.Request(0.0, "realm_status", ("ASIA",)),
            datagen.Request(0.1, "price_list", ((1, 2, 3, 4),)),
            datagen.Request(0.2, "owners_query", ("1",))]
    twin = checks.ServeTwin(data)
    good = [twin.expected(r.subject, r.params) for r in reqs[:2]] + [[]]
    twin.close()
    assert good[0] and good[1]
    ctx = _ctx(tmp_path)
    workloads.check_replies(ctx, data, reqs, [(rows, None) for rows in good])
    assert (ctx.attempted, ctx.failed) == (3, 0)

    bad = [list(rows) for rows in good]
    row = list(bad[1][0])
    row[1] += 0.01  # one wrong min price
    bad[1][0] = tuple(row)
    ctx = _ctx(tmp_path)
    workloads.check_replies(ctx, data, reqs, [(bad[0][:-1], None), (bad[1], None),
                                              (None, "boom")])
    assert (ctx.attempted, ctx.failed) == (3, 3)
    assert sizes.part > 0


def test_wrong_ingest_row_counts_as_failed(tmp_path):
    s = datagen.DumpStream(str(tmp_path), seed=4, auctions=30, realms_per_region=1)
    dumps = s.cycle(0) + s.cycle(1)
    keys = [(d.region, d.realm, d.dump_ts) for d in dumps]
    churn = {k: v for k, v in checks.expected_churn(
        (d.region, d.realm, d.dump_ts, d.aucs) for d in dumps).items()}
    rows = sum(len(d.aucs) for d in dumps)
    gold = sum(len(d.priced_items) for d in dumps)
    assert checks.ingest_failures(dumps, rows, keys, churn, gold, gold) == []
    assert checks.ingest_failures(dumps, rows + 1, keys, churn, gold, gold)
    assert checks.ingest_failures(dumps, rows, keys + keys[:1], churn, gold, gold)
    k = next(iter(churn))
    wrong = {**churn, k: (churn[k][0] + 1, *churn[k][1:])}
    assert checks.ingest_failures(dumps, rows, keys, wrong, gold, gold)
    assert checks.ingest_failures(dumps, rows, keys, churn, gold + 1, gold)


def test_rows_match_tolerates_engine_rounding_only():
    a = [(1, 0.1 + 0.2, "x"), (2, 1.0, "y")]
    assert checks.rows_match(a, [(2, 1.0, "y"), (1, 0.3, "x")])
    assert not checks.rows_match(a, [(2, 1.0, "y"), (1, 0.31, "x")])
    assert not checks.rows_match(a, a[:1])


def test_metric_names_and_benchmark_json():
    names = [m.name for m in metrics.END_TO_END + metrics.PER_LAYER]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert len(metrics.PER_LAYER) <= 128
    assert all(m.moves for m in metrics.PER_LAYER)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == \
        [(m.name, m.unit, m.better) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [(m.name, m.unit, m.better) for m in metrics.PER_LAYER]
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)


def test_table_sizes(tmp_path):
    import pyarrow.parquet as pq

    n = datagen.write_tables(str(tmp_path), 1, 0.001)
    assert pq.read_metadata(tmp_path / "part.parquet").num_rows == n.part
    assert pq.read_metadata(tmp_path / "events.parquet").num_rows == n.events


def test_memory_is_sampled_only_inside_the_window():
    import time

    from tracing import TreeRss

    with TreeRss(interval=0.05) as idle:
        time.sleep(0.2)
    assert (idle.median_mb, idle.peak_mb) == (0.0, 0.0)
    with TreeRss(interval=0.05) as rss:
        with rss.window():
            time.sleep(0.2)
        time.sleep(0.1)
    assert 0.0 < rss.median_mb <= rss.peak_mb
