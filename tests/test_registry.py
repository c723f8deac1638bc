"""Registry consistency: the driver-facing surfaces (bench suites, the
rotation window, oracle coverage) must stay closed over the query
registry — a rename or deletion breaks the driver's bench/correctness
run, not just a local import."""

from __future__ import annotations


def test_bench_suites_reference_registered_queries():
    import bench
    from mandodb_spark.workloads import QUERIES

    missing = [n for n in bench.HEADLINE + bench.EXTENDED if n not in QUERIES]
    assert missing == []
    assert len(set(bench.HEADLINE) & set(bench.EXTENDED)) == 0


def test_bench_tail_line_carries_every_suite_within_2000_chars():
    """The driver keeps only the last ~2000 chars of the bench's stdout:
    the compact last line must hold every suite's timing for the full
    query list — at 12.34 s a query, above any sf0.1 reading — and parse
    back to the same name-keyed maps."""
    import bench
    from mandodb_spark.workloads import extra_parity

    suites = {"queries": bench.HEADLINE, "extended_queries": bench.EXTENDED,
              "extra_queries": list(extra_parity.QUERIES)}
    payload = {key: {n: 12.3456 for n in names} for key, names in suites.items()}
    payload.update(metric="headline_suite_seconds", unit="sec", sf=0.1, cpus=4,
                   extended_suite_seconds=1234.567, extra_suite_seconds=1234.567,
                   ingest_points_per_sec=1234567, storage_bytes_per_point=0.569,
                   calibration_canary_seconds=0.123, value=1234.567)
    line = bench.tail_line(payload)
    assert len(line) + 1 <= 2000
    back = bench.expand_tail(line)
    for key, names in suites.items():
        assert back[key] == {n: 12.35 for n in names}
    assert back["value"] == 1234.567 and back["cpus"] == 4


def test_rotation_priority_is_valid_and_window_sized():
    from mandodb_spark import workloads

    assert set(workloads._PRIORITY) <= set(workloads.QUERIES)
    assert len(workloads._PRIORITY) == len(set(workloads._PRIORITY))
    # the driver verifies the first 50 registry entries; the declared
    # window must fill it (rotation policy, VERDICT r4 item #3)
    assert len(workloads._PRIORITY) >= 50


def test_entry_contract_queries_and_oracles_align():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    # every query currently declares an oracle (bounds-style where the
    # raw value is engine-specific); loosen deliberately if a genuinely
    # non-SQL-expressible op lands
    assert sorted(set(q) - set(o)) == []
