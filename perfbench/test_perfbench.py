"""Tests for the benchmark's own code: generator, oracle, tracer and
the result contract. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import glob
import hashlib
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import feed as feedgen  # noqa: E402
import oracle  # noqa: E402
import run as runner  # noqa: E402
import tables as tablegen  # noqa: E402
from tracer import Tracer  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for p in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, out: str) -> dict[str, str]:
    f = feedgen.generate(seed, 3, 200)
    feedgen.write_csv(f, os.path.join(out, "csv"))
    tablegen.write_tables(seed, os.path.join(out, "tables"))
    for rank in range(len(f.files)):
        feedgen.write_capture(f, rank, os.path.join(out, "capture"))
    return _tree_digest(out)


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    # every file differs but the two fixed lookup tables
    assert {k for k in a if a[k] == c[k]} == {"tables/region.parquet", "tables/nation.parquet"}


def test_fixture_proportions(tmp_path):
    f = feedgen.generate(3, 10, 1000)
    paths = feedgen.write_csv(f, str(tmp_path))
    assert all(" " in os.path.basename(p) for p in paths[:-1])
    assert os.path.basename(paths[-1]) == "MOCK_DATA.csv"
    rows = []
    for p in paths:
        with open(p, "rb") as fh:
            raw = fh.read()
        assert raw.startswith(b"\xef\xbb\xbf")
        file_rows = list(csv.DictReader(io.StringIO(raw.decode("utf-8-sig"), newline="")))
        assert [r["id"] for r in file_rows] == [str(i) for i in range(1, 1001)]
        assert sorted(int(r["sale_customer_id"]) for r in file_rows) == list(range(1, 1001))
        rows += file_rows
    assert len({r["store_name"] for r in rows}) == 383
    assert len({r["supplier_name"] for r in rows}) == 383
    dates = {r["sale_date"] for r in rows}
    assert len(dates) == 364 and all(d.endswith("/2021") for d in dates)
    share = lambda pred: sum(map(pred, rows)) / len(rows)  # noqa: E731
    assert 0.63 < share(lambda r: "\n" in r["product_description"]) < 0.73
    assert 0.45 < share(lambda r: r["customer_postal_code"] == "") < 0.55
    assert 0.45 < share(lambda r: r["seller_postal_code"] == "") < 0.55
    assert 0.80 < share(lambda r: r["store_state"] == "") < 0.88


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from bigdataflink_spark import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_agrees_with_build_star(spark, tmp_path):
    from bigdataflink_spark.plans.star import build_star, persist_star
    from bigdataflink_spark.sources.csv_sales import read_sales_csv

    f = feedgen.generate(11, 3, 60)
    paths = feedgen.write_csv(f, str(tmp_path / "csv"))
    wh = str(tmp_path / "wh")
    persist_star(build_star(read_sales_csv(spark, str(tmp_path / "csv" / "MOCK_DATA*.csv"))), wh)
    got = oracle.check(paths, "csv", wh)
    assert got["failed"] == 0, got
    assert got["tables"]["fact_sales"]["rows"] == 60

    # the oracle is not vacuous: another feed's winners do not match
    other = feedgen.generate(12, 3, 60)
    other_paths = feedgen.write_csv(other, str(tmp_path / "other"))
    assert oracle.check(other_paths, "csv", wh)["failed"] > 0


def test_oracle_agrees_on_capture_offsets(spark, tmp_path):
    from bigdataflink_spark.plans.star import build_star, persist_star
    from bigdataflink_spark.sources import kafkadump
    from bigdataflink_spark.sources.kafka import project_kafka_records
    from bigdataflink_spark.streaming.pipeline import parse_sales_records

    f = feedgen.generate(13, 3, 40)
    cap = str(tmp_path / "cap")
    landed = [feedgen.write_capture(f, r, cap) for r in range(3)]
    kafkadump.register(spark)
    records, _ = parse_sales_records(
        project_kafka_records(spark.read.format("kafkadump").load(cap)))
    wh = str(tmp_path / "wh")
    persist_star(build_star(records), wh)
    assert oracle.check(landed, "capture", wh)["failed"] == 0


def test_query_oracle_agrees_with_suite(spark, tmp_path):
    from bigdataflink_spark.plans.oracles import ORACLES
    from bigdataflink_spark.plans.queries import QUERIES

    import workloads

    names = ["q02_revenue_by_region", "q14_lww_dedup", "q38_asof_join"]
    assert set(names) <= set(workloads.SUITE)
    data, other = str(tmp_path / "a"), str(tmp_path / "b")
    tablegen.write_tables(21, data)
    tablegen.write_tables(22, other)
    results = {}
    for q in names:
        df = QUERIES[q](spark, data)
        results[q] = (df.columns, df.count())
    got = oracle.check_queries(results, {q: ORACLES[q] for q in names}, data)
    assert got["failed"] == 0 and got["attempted"] == 3, got
    assert all(v["rows"] > 0 for v in got["queries"].values())
    # the check is not vacuous: another seed's tables give other counts
    assert oracle.check_queries(results, {q: ORACLES[q] for q in names}, other)["failed"] > 0


def test_suite_reads_the_tables_it_declares(tmp_path):
    import workloads

    rows = tablegen.write_tables(5, str(tmp_path))
    assert {t for tabs in workloads.SUITE.values() for t in tabs} <= set(rows)
    assert rows["customer"] == 150 and rows["orders"] == 1500 and rows["events"] == 1000


def test_tracer_rebinding_restores_originals(spark, tmp_path):
    from bigdataflink_spark.plans import star
    from bigdataflink_spark.sources import csv_sales, producer
    from bigdataflink_spark.streaming import merge, pipeline

    targets = [(pipeline, "upsert_star_batch"), (pipeline, "finalize_star"),
               (merge, "merge_lww_bucketed"), (producer, "produce_jsonl"),
               (csv_sales, "read_sales_csv"), (star, "build_star"), (star, "persist_star")]
    before = {(m.__name__, a): getattr(m, a) for m, a in targets}
    with Tracer(spark, "test") as tr:
        for m, a in targets:
            tr.rebind(m, a, f"{m.__name__}.{a}")
        assert all(getattr(m, a) is not before[(m.__name__, a)] for m, a in targets)
        f = feedgen.generate(1, 2, 20)
        feedgen.write_csv(f, str(tmp_path / "csv"))
        with tr.span("outer"):
            tables = star.build_star(csv_sales.read_sales_csv(spark, str(tmp_path / "csv" / "*.csv")))
            star.persist_star(tables, str(tmp_path / "wh"))
    assert all(getattr(m, a) is before[(m.__name__, a)] for m, a in targets)
    outer = next(s for s in tr.spans if s.name == "outer")
    kids = {s.name for s in tr.children(outer)}
    assert kids == {f"{star.__name__}.build_star", f"{csv_sales.__name__}.read_sales_csv",
                    f"{star.__name__}.persist_star"}
    persist = next(s for s in tr.spans if s.name.endswith("persist_star"))
    assert persist.jobs >= 7 and outer.jobs >= persist.jobs
    assert 0 <= tr.self_time(outer) <= outer.dur


def test_tracer_counts_state_writes(spark, tmp_path):
    state = str(tmp_path / "state")
    with Tracer(spark, "test") as tr:
        with tr.span("write", state_dir=state):
            spark.range(100).write.parquet(os.path.join(state, "t"))
    sp = tr.spans[0]
    assert sp.files_written >= 1 and sp.bytes_written > 0 and sp.jobs >= 1


def test_benchmark_json_contract():
    spec = runner.load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    import workloads

    assert set(workloads.WORKLOADS) == {w["name"] for w in spec["workloads"]}
    layer_names = {m["name"] for m in spec["per_layer"]}
    assert {f"query.{q}_s" for q in workloads.SUITE} <= layer_names


def test_result_line_has_every_metric():
    spec = runner.load_spec()
    record = {"failed": 0, "attempted": 3,
              "end_to_end": {m["name"]: 1.5 for m in spec["end_to_end"]},
              "per_layer": {"calib_s": 0.5}}
    line = runner.result_line(record, spec, 0)
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    layers = runner.result_line(record, spec, 1)["metrics"]
    assert list(layers) == [m["name"] for m in spec["per_layer"]]
    assert layers["calib_s"]["value"] == 0.5
    del record["end_to_end"]["setup_s"]
    with pytest.raises(KeyError):
        runner.result_line(record, spec, 0)
