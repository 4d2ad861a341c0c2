"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import json
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    gen.generate(workload, str(tmp_path / "a"), 7)
    gen.generate(workload, str(tmp_path / "b"), 7)
    gen.generate(workload, str(tmp_path / "c"), 8)
    a, b, c = (_tree_bytes(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    data = [k for k in a if k != "inputs.json"]
    assert any(a[k] != c[k] for k in data)


def test_self_time_subtracts_children_once():
    t = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    tr = spans.Tracer(clock=lambda: next(t))
    with tr.span("batch"):  # 0 .. 10
        with tr.span("a"):  # 1 .. 3
            pass
        with tr.span("b"):  # 4 .. 6
            pass
    assert spans.self_times(tr.spans) == [6.0, 2.0, 2.0]
    assert [sp.parent for sp in tr.spans] == [None, 0, 0]


def test_self_time_of_nested_spans_sums_to_root_wall():
    t = iter([0.0, 1.0, 2.0, 5.0, 6.0, 7.0, 7.0, 7.0, 8.0, 9.5])
    tr = spans.Tracer(clock=lambda: next(t))
    with tr.span("batch"):  # 0 .. 9.5
        with tr.span("stage2"):  # 1 .. 7
            with tr.span("cube"):  # 2 .. 5
                pass
            with tr.span("cube"):  # 6 .. 7, closes together with stage2
                pass
        with tr.span("publish"):  # 7 .. 8
            pass
    selfs = spans.self_times(tr.spans)
    assert selfs == pytest.approx([2.5, 2.0, 3.0, 1.0, 1.0])
    assert sum(selfs) == pytest.approx(9.5)
    summary = spans.summarize(tr.spans, [])
    assert summary["cube"]["s"] == pytest.approx(4.0)
    assert summary["stage2"]["self_s"] == pytest.approx(2.0)


def test_covered_merges_overlaps_and_clips():
    assert spans.covered((0, 10), [(1, 3), (2, 5), (8, 12), (-3, -1)]) == pytest.approx(6.0)
    assert spans.covered((0, 10), []) == 0.0


def test_stages_are_attributed_by_completion_time():
    t = iter([0.0, 1.0, 2.0, 4.0])
    tr = spans.Tracer(clock=lambda: next(t))
    with tr.span("batch"):
        with tr.span("a"):
            pass
    stages = [spans.Stage(1.5, 2.0, 3_000_000, 1_000_000, 1),
              spans.Stage(3.0, 0.5, 0, 0, 0),
              spans.Stage(9.0, 7.0, 0, 0, 0)]
    summary = spans.summarize(tr.spans, stages)
    assert summary["a"]["busy_s"] == 2.0
    assert summary["a"]["shuffle_write_mb"] == 3.0
    assert summary["a"]["spill_mb"] == 1.0
    assert summary["a"]["failed_tasks"] == 1
    assert summary["batch"]["busy_s"] == 2.5


def test_metric_names_and_units_match_the_benchmark_file():
    import run

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.per_layer_units()
    names = [w["name"] for w in bench["workloads"]] + list(e2e) + list(layer)
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


# --- output checks ----------------------------------------------------------

@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """Inputs and expected outputs of every workload, for seed 3."""
    root = tmp_path_factory.mktemp("bench")
    out = {}
    for w in gen.GENERATORS:
        in_dir, exp_dir = root / w / "in", root / w / "exp"
        gen.generate(w, str(in_dir), 3)
        oracle.build_expected(w, str(in_dir), str(exp_dir))
        out[w] = (in_dir, exp_dir)
    return out


def _publish_expected_star(exp_dir: Path, star: Path) -> None:
    """A star directory laid out as ``publish_parquet`` writes it, holding
    exactly the expected tables."""
    import duckdb

    con = duckdb.connect()
    for name in oracle._star_sqls():
        src = f"read_parquet('{exp_dir}/{name}.parquet')"
        (star / name).mkdir(parents=True)
        if name == "fact_count":
            con.execute(f"COPY (SELECT * FROM {src}) TO '{star / name}' "
                        "(FORMAT parquet, PARTITION_BY (date))")
        else:
            con.execute(f"COPY (SELECT * FROM {src}) TO '{star / name}/part-0.parquet' "
                        "(FORMAT parquet)")
    con.close()


def test_star_check_accepts_expected_and_flags_a_corrupted_cube(built, tmp_path):
    _, exp_dir = built["star_rebuild"]
    star = tmp_path / "out" / "star"
    _publish_expected_star(exp_dir, star)
    assert oracle.check("star_rebuild", str(exp_dir), str(tmp_path / "out")) == []

    import duckdb

    cube = star / "agg_risk_country_month" / "part-0.parquet"
    con = duckdb.connect()
    con.execute(f"COPY (SELECT date, risk, country, count + (row_number() OVER () = 1)::BIGINT "
                f"AS count, count_amplified FROM '{cube}') TO '{tmp_path / 'c.parquet'}' "
                "(FORMAT parquet)")
    con.close()
    shutil.move(tmp_path / "c.parquet", cube)
    problems = oracle.check("star_rebuild", str(exp_dir), str(tmp_path / "out"))
    assert problems and "agg_risk_country_month" in problems[0]


def test_count_csv_check_flags_a_changed_value(built, tmp_path):
    _, exp_dir = built["scanlog_nightly"]
    out = tmp_path / "out"
    _publish_expected_star(exp_dir, out / "star")
    rows = json.loads((exp_dir / "count.json").read_text())
    assert len(rows) > 1, "the threshold leaves too few fact rows"

    def write(rs):
        with open(out / "count.csv", "w", newline="") as f:
            csv.writer(f).writerows(
                ["" if v is None else v for v in r] for r in rs)

    write(rows)
    assert oracle.check("scanlog_nightly", str(exp_dir), str(out)) == []
    changed = [list(r) for r in rows]
    changed[-1][4] += 1
    write(changed)
    assert oracle.check("scanlog_nightly", str(exp_dir), str(out))
    write(rows[::-1])  # same rows, wrong order
    assert oracle.check("scanlog_nightly", str(exp_dir), str(out))


def test_corpus_check_flags_a_dropped_row(built, tmp_path):
    import duckdb

    _, exp_dir = built["corpus_prepare"]
    packed = tmp_path / "out" / "packed"
    packed.mkdir(parents=True)
    shutil.copy(exp_dir / "packed.parquet", packed / "part-0.parquet")
    assert oracle.check("corpus_prepare", str(exp_dir), str(tmp_path / "out")) == []
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM '{exp_dir}/packed.parquet' LIMIT (SELECT count(*) - 1 "
                f"FROM '{exp_dir}/packed.parquet')) TO '{packed}/part-0.parquet' (FORMAT parquet)")
    con.close()
    assert oracle.check("corpus_prepare", str(exp_dir), str(tmp_path / "out"))
    os.remove(packed / "part-0.parquet")
    assert oracle.check("corpus_prepare", str(exp_dir), str(tmp_path / "out"))
