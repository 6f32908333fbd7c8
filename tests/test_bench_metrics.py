"""The bench plan-cost collector is the cross-round regression signal —
its parsing must be right or a plan regression hides behind a zero."""

from bench import _exec_marker, _plan_cost
from perfbench.statusstore import parse_metric


def test_parse_metric_bytes_formats():
    # the SQL-UI total-with-breakdown form: total on the last line
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n921.0 B (230.0 B, 230.0 B, 231.0 B (stage 0.0: task 0))"
    ) == 921
    assert parse_metric("1.5 KiB") == 1536
    assert parse_metric("2.0 MiB (…)") == 2 * 1024 * 1024
    assert parse_metric("3.25 GiB") == int(3.25 * (1 << 30))
    assert parse_metric("0.0 B") == 0
    assert parse_metric("garbage") == 0


def test_plan_cost_counts_exchanges_and_bytes(spark):
    marker = _exec_marker(spark)
    df = spark.range(0, 200_000).selectExpr("id % 13 AS k").groupBy("k").count()
    df.write.format("noop").mode("overwrite").save()
    cost = _plan_cost(spark, marker)
    assert cost["exchanges"] >= 1
    assert cost["shuffle_bytes"] > 0
    # a pure projection adds nothing
    marker = _exec_marker(spark)
    spark.range(1000).selectExpr("id * 2 AS y").write.format("noop").mode(
        "overwrite"
    ).save()
    cost = _plan_cost(spark, marker)
    assert cost == {"shuffle_bytes": 0, "exchanges": 0, "broadcasts": 0}


def test_plan_cost_counts_broadcasts_as_ints(spark):
    from pyspark.sql import functions as F

    marker = _exec_marker(spark)
    big = spark.range(0, 50_000).selectExpr("id % 97 AS k", "id")
    small = spark.range(0, 97).selectExpr("id AS k", "id * 3 AS v")
    big.join(F.broadcast(small), "k").write.format("noop").mode(
        "overwrite"
    ).save()
    cost = _plan_cost(spark, marker)
    assert cost["broadcasts"] == 1
    # the bench JSON contract: every plan_cost value is an int
    assert all(type(v) is int for v in cost.values()), cost


def test_diff_plan_cost_flags_growth_and_respects_allow():
    from bench import diff_plan_cost

    prev = {
        "q1": {"shuffle_bytes": 10 << 20, "exchanges": 2, "broadcasts": 1},
        "q2": {"shuffle_bytes": 100, "exchanges": 0, "broadcasts": 0},
        "q3": {"shuffle_bytes": 50 << 20, "exchanges": 4, "broadcasts": 2},
    }
    cur = {
        # exchange count grew — hard flag even with fewer bytes
        "q1": {"shuffle_bytes": 1 << 20, "exchanges": 3, "broadcasts": 1},
        # sub-MiB byte jitter is ignored
        "q2": {"shuffle_bytes": 500_000, "exchanges": 0, "broadcasts": 0},
        # bytes beyond x1.25 slack — flagged
        "q3": {"shuffle_bytes": 80 << 20, "exchanges": 4, "broadcasts": 2},
        # new query: no baseline, never flagged
        "q4": {"shuffle_bytes": 1 << 30, "exchanges": 9, "broadcasts": 9},
    }
    got = diff_plan_cost(prev, cur, allow={})
    assert {(r["query"], r["metric"]) for r in got} == {
        ("q1", "exchanges"), ("q3", "shuffle_bytes"),
    }
    # declared-intentional changes are skipped (with a reason on file)
    got = diff_plan_cost(prev, cur, allow={"q1": "salting added"})
    assert {(r["query"], r["metric"]) for r in got} == {("q3", "shuffle_bytes")}
    assert diff_plan_cost(prev, prev, allow={}) == []


def test_latest_bench_json_picks_highest_round(tmp_path):
    import json as J

    from bench import latest_bench_json

    for n, v in ((1, 10), (3, 30), (2, 20)):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text(J.dumps({"value": v}))
    path, data = latest_bench_json(str(tmp_path))
    assert path.endswith("BENCH_r03.json") and data["value"] == 30
    assert latest_bench_json(str(tmp_path / "empty")) is None


def test_round_note_headlines_match_committed_artifacts():
    """BENCH/BASELINE.md round notes must quote the artifact of record:
    a single 'NNNk extracted-turns/sec' claim in a '## Round-N notes'
    section must round-trip to BENCH_r0N.json's value (±1k rounding); a
    range claim 'AAA-BBBk' must bracket it.  (Round 3 quoted a
    different same-build invocation than the committed artifact — this
    pins the two together from now on.)"""
    import json as J
    import os
    import re

    from latex_ocr_spark.paths import REPO_ROOT as repo

    with open(os.path.join(repo, "BENCH", "BASELINE.md")) as f:
        md = f.read()
    sections = re.split(r"^## ", md, flags=re.M)
    checked = 0
    for sec in sections:
        m = re.match(r"Round-(\d+) notes", sec)
        if not m:
            continue
        rnd = int(m.group(1))
        art = os.path.join(repo, f"BENCH_r{rnd:02d}.json")
        if not os.path.exists(art):
            continue
        with open(art) as f:
            data = J.load(f)
        parsed = data.get("parsed", data)
        if not isinstance(parsed, dict):
            # head-truncated driver artifact (round 5: the report line
            # outgrew the ~2 KB tail window, so "parsed" is null) —
            # recover the headline from the captured tail if the
            # "value" field survived truncation, else this round's
            # notes cannot be pinned to its artifact: skip it
            vm = re.search(r'"value":\s*([\d.]+)', data.get("tail", ""))
            if vm is None:
                continue
            parsed = {"value": float(vm.group(1))}
        value_k = parsed["value"] / 1000.0
        for lo, hi in re.findall(r"(\d+)-(\d+)k\s+extracted-turns/sec", sec):
            assert int(lo) <= value_k <= int(hi), (rnd, lo, hi, value_k)
            checked += 1
        for claim in re.findall(r"(?<![\d-])(\d+)k\s+extracted-turns/sec", sec):
            assert abs(int(claim) - value_k) <= 1, (rnd, claim, value_k)
            checked += 1
    assert checked >= 2  # r2 range + r3 headline at minimum


def test_compact_headline_fits_driver_tail_window():
    """bench.py's final stdout line must stay inside the driver's ~2 KB
    tail-capture window or the round's headline is lost (round 5's
    failure mode: the full report joined the line and truncated the
    head, leaving BENCH_r05.json with parsed:null).  The compact
    headline must (a) carry the contract fields, (b) serialize under
    the budget even with pathological regression lists — dropping
    detail, never the value."""
    import json as J

    from bench import _HEADLINE_BYTE_BUDGET, compact_headline

    full = {
        "metric": "extracted-turns/sec", "value": 340377.7,
        "unit": "turns/sec",
        "queries": {f"query_name_{i}": 1.234 for i in range(20)},
        "sf": "0.1", "n_turns": 710910, "cpus": 32, "total_sec": 37.0,
        "plan_cost": {f"query_name_{i}": {"shuffle_bytes": 1 << 30,
                                          "exchanges": 9, "broadcasts": 9}
                      for i in range(20)},
        "plan_regressions": [],
        "cross_sf": {"factor": 10, "factors": [10, 100],
                     "regressions": []},
    }
    out = compact_headline(full, "BENCH/report_r06.json")
    line = J.dumps(out)
    assert len(line) <= _HEADLINE_BYTE_BUDGET, len(line)
    assert out["value"] == 340377.7 and out["sf"] == "0.1"
    assert "plan_cost" not in out  # the field that sank round 5
    assert out["cross_sf_factors"] == [10, 100]

    # pathological: 100 regressions — detail degrades to counts, the
    # headline value survives, the budget holds
    full["plan_regressions"] = [
        {"query": f"query_name_{i}", "metric": "shuffle_bytes",
         "prev": 1, "cur": 2 << 30} for i in range(100)
    ]
    out = compact_headline(full, "BENCH/report_r06.json")
    line = J.dumps(out)
    assert len(line) <= _HEADLINE_BYTE_BUDGET, len(line)
    assert out["value"] == 340377.7
    assert out.get("plan_regressions_n") == 100


def test_plan_cost_baseline_walks_past_unparseable_round(tmp_path):
    """The cross-round plan-regression gate must survive a round whose
    committed artifact is head-truncated (parsed:null): the baseline
    walks back to the most recent round with per-query plan costs,
    preferring the full report file over the driver artifact."""
    import json as J

    from bench import current_round, plan_cost_baseline

    cost4 = {"q1": {"shuffle_bytes": 100, "exchanges": 1, "broadcasts": 0}}
    (tmp_path / "BENCH_r04.json").write_text(
        J.dumps({"parsed": {"plan_cost": cost4, "sf": "0.1"}})
    )
    (tmp_path / "BENCH_r05.json").write_text(
        J.dumps({"parsed": None, "tail": "…truncated…"})
    )
    assert current_round(str(tmp_path)) == 6
    label, base = plan_cost_baseline(str(tmp_path))
    assert label == "BENCH_r04.json"
    assert base["plan_cost"] == cost4 and base["sf"] == "0.1"

    # a committed full report outranks the driver artifact of its round
    cost5 = {"q1": {"shuffle_bytes": 120, "exchanges": 1, "broadcasts": 0}}
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "report_r05.json").write_text(
        J.dumps({"plan_cost": cost5, "sf": "0.1"})
    )
    label, base = plan_cost_baseline(str(tmp_path))
    assert label == "report_r05.json" and base["plan_cost"] == cost5

    assert plan_cost_baseline(str(tmp_path / "empty")) is None
