"""Replicates the driver's correctness gate: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` in DuckDB (parquet views pre-registered), then
compare row count, column names, and order-insensitive values — at sf0.001 in
CI for speed (the driver uses sf0.01)."""

from __future__ import annotations

import math
import os
from collections import Counter
from datetime import datetime
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entrymod
from checkatron_spark.sources.tables import TABLES

REQUIRES_TESTDATA = True  # auto-skip without driver fixtures (conftest)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck_views():
    con = duckdb.connect(":memory:")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, Decimal):
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    return v


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "_row_status" in df.columns


@pytest.mark.parametrize("name", sorted(entrymod.full_queries().keys()))
def test_query_matches_oracle(spark, duck_views, name):
    q = entrymod.full_queries()[name]
    spark_df = q(spark, SF_DIR)
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        assert spark_df.count() >= 0  # rows-only check (driver's weak mode)
        return
    cur = duck_views.execute(oracle)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_df.columns) == sorted(duck_cols), (
        f"{name}: columns differ spark={sorted(spark_df.columns)} "
        f"duck={sorted(duck_cols)}"
    )
    # driver compares values with columns sorted by name
    order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_idx = {c: i for i, c in enumerate(spark_df.columns)}
    s_order = [s_idx[duck_cols[i]] for i in order]

    s_rows = Counter(
        tuple(_canon(r[i]) for i in s_order) for r in spark_df.collect()
    )
    d_rows = Counter(
        tuple(_canon(r[i]) for i in order) for r in duck_rows
    )
    assert sum(s_rows.values()) == sum(d_rows.values()), (
        f"{name}: row count spark={sum(s_rows.values())} duck={sum(d_rows.values())}"
    )
    diff_s = s_rows - d_rows
    diff_d = d_rows - s_rows
    assert not diff_s and not diff_d, (
        f"{name}: value mismatch\n spark-only={list(diff_s.items())[:5]}\n"
        f" duck-only={list(diff_d.items())[:5]}"
    )


def test_check_window_rotation():
    # the driver grades the first 50 queries() entries; the ordering must
    # front _CHECK_FIRST, then anything without a green CORRECTNESS row on
    # disk, and demote ever-green names to the back so the window rotates
    # across rounds without manual reordering
    names = list(entrymod.queries().keys())
    front = [n for n in entrymod._CHECK_FIRST if n in set(names)]
    assert names[: len(front)] == front
    green = entrymod._greens_on_disk()
    demoted = [n for n in names[len(front):] if n in green]
    tail = names[len(names) - len(demoted):]
    assert tail == demoted, "green queries must sit contiguously at the back"
    assert len(names) == len(set(names))
    # within the green tail the only ordering key is proof age:
    # oldest green first, name tiebreak (a query whose declared result
    # changed is fronted through _CHECK_FIRST instead)
    keys = [(entrymod._round_no(green[n]), n) for n in demoted]
    assert keys == sorted(keys), (
        "green tail must be ordered oldest driver proof first"
    )
    # within the never-green segment, newly declared queries
    # (_CHECK_LAST) must come after the older backlog
    nevers = [n for n in names[len(front):] if n not in green]
    last_flags = [n in set(entrymod._CHECK_LAST) for n in nevers]
    assert last_flags == sorted(last_flags), (
        "new-this-round queries must not displace the older backlog"
    )


def test_rotation_simulation_bounds_grade_age():
    """Simulate the grader on _window_order itself at three contract sizes
    (80, the current 221, 300): each round it grades the first 50 names,
    which turns them green at that round. _CHECK_FIRST takes its slots
    every round, a third of the synthetic queries start never-green and
    the rest start with staggered old greens. After a warm-up, no query
    may wait more than ceil(N / (50 - len(_CHECK_FIRST))) + 1 rounds
    between two grades."""
    import math

    window = 50
    front = list(entrymod._CHECK_FIRST)
    for N in (80, 221, 300):
        bound = math.ceil(N / (window - len(front))) + 1
        full = dict.fromkeys(front + [f"q{i:03d}" for i in range(N)])
        green = {
            f"q{i:03d}": f"CORRECTNESS_r{i % 3 + 1}.json"
            for i in range(N) if i % 3
        }
        last_graded = {n: 0 for n in full}
        for n, f in green.items():
            last_graded[n] = entrymod._round_no(f)
        for rnd in range(4, 4 + 4 * bound):
            order = entrymod._window_order(full, green)
            assert sorted(order) == sorted(full)
            for n in order[:window]:
                green[n] = f"CORRECTNESS_r{rnd}.json"
                last_graded[n] = rnd
            worst = max(rnd - r for r in last_graded.values())
            if rnd >= 4 + bound:
                assert worst <= bound, (N, rnd, worst, bound)


def test_queries_is_the_whole_contract_without_git(monkeypatch):
    """queries() is every declared query, in an order that depends only on
    the CORRECTNESS_r*.json files: it starts no subprocess and parses no
    source, so its result is identical with both made impossible."""
    import ast
    import subprocess

    names = list(entrymod.queries())

    def _boom(*a, **k):
        raise OSError("queries() must not start a process or parse source")

    with monkeypatch.context() as m:
        m.setattr(subprocess, "run", _boom)
        m.setattr(subprocess, "Popen", _boom)
        m.setattr(ast, "parse", _boom)
        again = [list(entrymod.queries()) for _ in range(2)]
    assert again == [names, names]
    assert len(names) == len(set(names))
    assert set(names) == set(entrymod.full_queries())


def test_every_query_has_an_oracle():
    # the driver records a weaker rows-only check for oracle-less queries;
    # this repo's bar is 100% oracle coverage — a new query without a
    # matching oracle_sql() entry (or an orphaned oracle) fails here
    qs = set(entrymod.full_queries())
    osql = set(entrymod.oracle_sql())
    assert qs - osql == set(), f"queries without oracle: {sorted(qs - osql)}"
    assert osql - qs == set(), f"orphan oracles: {sorted(osql - qs)}"


def test_no_risky_oracle_output_types(duck_views):
    # The driver hashes values at the Arrow level, so a DuckDB output column
    # typed HUGEINT/UHUGEINT/DECIMAL can NEVER bit-match the Spark side's
    # BIGINT/DOUBLE — the classic trap is a bare SUM(BIGINT) (-> HUGEINT),
    # especially inside one branch of a UNION ALL where DuckDB widens the
    # union column to the supremum over ALL branches (the round-4
    # curation_funnel bug). Static scan: con.sql() is lazy, so this types
    # every oracle without executing anything. No Spark needed.
    risky = {}
    for name, sql in sorted(entrymod.oracle_sql().items()):
        rel = duck_views.sql(sql)
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t).startswith(("HUGEINT", "UHUGEINT", "DECIMAL"))
        ]
        if bad:
            risky[name] = bad
    assert risky == {}, (
        "oracle output columns with no bit-identical Spark counterpart "
        f"(cast them to BIGINT/DOUBLE in the SQL): {risky}"
    )


def test_greens_on_disk_numeric_round_sort(monkeypatch, tmp_path):
    """Round files must sort NUMERICALLY on the r(\\d+) suffix:
    lexicographic glob order puts CORRECTNESS_r100.json before r11/r9, so
    the 'latest green' winner (and with it the window order) would
    silently be an old round once rounds reach three digits."""
    import json

    def row(hash_match):
        return {"q": {"rows_match": True, "schema_match": True,
                      "hash_match": hash_match, "err": None}}

    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps(row(True)))
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps(row(True)))
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps(row(True)))
    monkeypatch.setattr(entrymod, "__file__", str(tmp_path / "e.py"))
    assert entrymod._greens_on_disk() == {"q": "CORRECTNESS_r100.json"}

    # a red in the true latest round must override an older green, not be
    # masked by it sorting last lexicographically
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps(row(False)))
    assert entrymod._greens_on_disk() == {}


def test_sweep_tolerances_are_declared_and_banded_not_blanket():
    """Round 13 (VERDICT r12 #7, superseding the r10 --allow design): the
    approximate-regime bands are DECLARED in the contract
    (__spark_entry__.tolerances()) — every entry must name its group keys
    and per-column bands, each tolerated query must be a declared query
    with an oracle, and the sweep script must carry no --allow flag at
    all. The band check itself must FAIL on out-of-band estimates and on
    drift in any non-sketch column (banded, never blanket)."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "selfcheck_t", repo / "tools" / "selfcheck.py"
    )
    sc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sc)

    # the allow escape hatch is gone for good (the flag, not the word —
    # the script's comment may still explain its retirement)
    sweep = (repo / "tools" / "sweep_sf01.sh").read_text()
    assert '--allow "' not in sweep and "--allow $" not in sweep
    assert not hasattr(sc, "_ALLOW_AUDITS")

    tol = entrymod.tolerances()
    assert tol, "tolerances() is empty — the HLL pair lost its contract"
    full = entrymod.full_queries()
    oracles = entrymod.oracle_sql()
    for name, spec_ in tol.items():
        assert name in full and name in oracles, (
            f"tolerance for {name} which is not a declared+oracled query"
        )
        assert spec_["keys"] and spec_["bands"], (
            f"tolerance for {name} must name group keys and column bands"
        )
        assert all(
            0 < b < 0.10 for b in spec_["bands"].values()
        ), f"{name}: a band >= 10% is not a sketch tolerance, it's a bug"

    audit = sc._banded_audit(["g"], {"est": 0.05})
    cols = ["g", "est", "n"]
    # in-band estimate, exact non-sketch column -> ALLOW
    ok, msg = audit(cols, [("a", 102.0, 7)], cols, [("a", 100, 7)])
    assert ok and "within" in msg
    # out-of-band estimate -> FAIL
    ok, msg = audit(cols, [("a", 110.0, 7)], cols, [("a", 100, 7)])
    assert not ok and "outside" in msg
    # sketch in band but a NON-sketch column drifted -> FAIL
    ok, msg = audit(cols, [("a", 100.0, 8)], cols, [("a", 100, 7)])
    assert not ok and "non-sketch" in msg
    # group present on one side only -> FAIL
    ok, msg = audit(cols, [("b", 100.0, 7)], cols, [("a", 100, 7)])
    assert not ok


def test_sweep_merge_reassembles_sharded_output():
    """Round 11 (VERDICT r10 #7): the sharded sweep must merge back to
    the byte-deterministic single-report format — records regrouped
    (multi-line FAIL details stay attached), sorted by query name,
    per-shard summaries SUMMED into one line, and a crashed worker
    (missing summary) must invalidate the merge rather than read as a
    short-but-green sweep."""
    import importlib.util
    from pathlib import Path

    import pytest

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "sweep_merge_t", repo / "tools" / "sweep_merge.py"
    )
    sm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sm)

    shard0 = (
        "OK    zeta_query: 10 rows [1.0s]\n"
        "FAIL  alpha_query: value mismatch at sorted row 3:\n"
        "      spark: (1,)\n"
        "      duck : (2,)\n"
        "\n1/2 passed\n"
        "failing: alpha_query\n"
    )
    shard1 = (
        "ALLOW beta_query: checked: estimates within 0.5% of exact\n"
        "rows  gamma_query: 5 rows (no oracle) [0.2s]\n"
        "\n2/2 passed\n"
    )
    records, passed, total, failing = sm.merge([shard0, shard1])
    assert [name for name, _ in records] == [
        "alpha_query", "beta_query", "gamma_query", "zeta_query"
    ]
    # the FAIL record kept its detail lines attached
    fail_rec = dict(records)["alpha_query"]
    assert "duck : (2,)" in fail_rec
    assert (passed, total, failing) == (3, 4, ["alpha_query"])
    # shard order must not matter (byte determinism)
    assert sm.merge([shard1, shard0])[0] == records
    # a crashed worker (no summary line) invalidates the merge
    with pytest.raises(SystemExit, match="no 'X/Y passed'"):
        sm.merge(["OK    q: 1 rows [0.1s]\n"])
    # review r11: INTERIOR blank lines in a FAIL diagnostic (Spark
    # exception text contains them) are preserved; only the trailing
    # pre-summary blank is stripped
    shard = (
        "FAIL  q: spark error: AnalysisException\n"
        "line one of plan\n"
        "\n"
        "line after blank STILL BELONGS\n"
        "\n1/1 passed\n"
    )
    recs, _, _, _ = sm.merge([shard])
    assert "STILL BELONGS" in recs[0][1]
    assert not recs[0][1].endswith("\n")
    # the shard slices are disjoint and complete over any name list
    names = sorted(f"q{i}" for i in range(17))
    n = 3
    slices = [
        [q for i, q in enumerate(names) if i % n == k] for k in range(n)
    ]
    flat = sorted(q for s in slices for q in s)
    assert flat == names
    assert all(
        not (set(a) & set(b))
        for i, a in enumerate(slices) for b in slices[i + 1:]
    )


def test_sweep_merge_property_shard_invariance():
    """Property: for any record multiset and any partition of it into
    shards, merge() returns the same sorted records and summed counts —
    the guarantee that lets the sharded sweep claim byte-determinism."""
    import importlib.util
    import random
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "sweep_merge_p", repo / "tools" / "sweep_merge.py"
    )
    sm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sm)

    rng = random.Random(1107)
    for trial in range(30):
        n = rng.randint(1, 24)
        recs = []
        for i in range(n):
            name = f"q{rng.randint(0, 999):03d}_{i}"
            if rng.random() < 0.25:
                recs.append((name, False,
                             f"FAIL  {name}: boom\n  detail {i}\n\n  more"))
            else:
                recs.append((name, True, f"OK    {name}: {i} rows [0.1s]"))
        k = rng.randint(1, 4)
        shards = [[] for _ in range(k)]
        for r in recs:
            shards[rng.randrange(k)].append(r)
        texts = []
        for srecs in shards:
            ok = sum(1 for _, good, _ in srecs if good)
            body = "\n".join(t for _, _, t in srecs)
            fails = [nm for nm, good, _ in srecs if not good]
            tail = f"\n\n{ok}/{len(srecs)} passed\n"
            if fails:
                tail += "failing: " + ", ".join(fails) + "\n"
            texts.append(body + tail)
        merged, passed, total, failing = sm.merge(texts)
        assert [nm for nm, _ in merged] == sorted(r[0] for r in recs)
        assert total == n and passed == sum(1 for _, g, _ in recs if g)
        assert failing == sorted(nm for nm, g, _ in recs if not g)
        # interior FAIL detail lines survive (blank line inside record)
        for nm, good, _ in recs:
            if not good:
                assert "  more" in dict(merged)[nm]
        # shard order must not matter
        assert sm.merge(list(reversed(texts)))[0] == merged


def test_latest_sweep_covers_current_contract():
    """VERDICT r6 item 6: the sf0.1 full-contract sweep is the honesty
    gate over the driver's 50-query window, and it must stay mechanical —
    the NEWEST SWEEP_r*_sf01.txt in the repo must exist and report a pass
    count equal to the CURRENT declared-query count. Adding a query
    without re-running the sweep turns this red until the sweep is
    re-run, which is the point."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry

    repo = Path(__file__).resolve().parent.parent
    sweeps = sorted(
        repo.glob("SWEEP_r*_sf01.txt"),
        key=lambda p: int(re.search(r"SWEEP_r(\d+)_sf01", p.name).group(1)),
    )
    assert sweeps, "no SWEEP_r<N>_sf01.txt committed — run tools/sweep_sf01.sh"
    latest = sweeps[-1]
    m = re.search(r"(\d+)/(\d+) passed", latest.read_text())
    assert m, f"{latest.name} has no 'N/N passed' summary line"
    passed, total = int(m.group(1)), int(m.group(2))
    declared = len(entry.full_queries())
    assert passed == total == declared, (
        f"{latest.name} reports {passed}/{total} but the contract now "
        f"declares {declared} queries — re-run: "
        f"sh tools/sweep_sf01.sh | tee SWEEP_r<N>_sf01.txt"
    )


def test_latest_sf1_probe_is_scale_clean():
    """Round 9 (VERDICT r8 #7): the 10x-scale probe is the scale-honesty
    gate and it must be mechanical, not hand-annotated — the NEWEST
    SWEEP_r*_sf1.json must exist, cover every query in the probe battery,
    and contain no row that is both over its growth bound and not
    allow-listed (the allow-list lives in tools/sweep_sf1_probe.py with
    the growth-law reason). Extending a battery without re-running the
    probe turns this red until it is re-run, which is the point."""
    import importlib.util
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    probes = sorted(
        repo.glob("SWEEP_r*_sf1.json"),
        key=lambda p: int(re.search(r"SWEEP_r(\d+)_sf1", p.name).group(1)),
    )
    assert probes, (
        "no SWEEP_r<N>_sf1.json committed — run the three "
        "tools/sweep_sf1_probe.py batches with --json (see its docstring)"
    )
    latest = probes[-1]
    records = {}
    for line in latest.read_text().splitlines():
        if line.strip():
            rec = json.loads(line)
            records[rec["query"]] = rec  # last write per query wins

    spec = importlib.util.spec_from_file_location(
        "sweep_sf1_probe", repo / "tools" / "sweep_sf1_probe.py"
    )
    probe_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe_mod)
    battery = set(probe_mod.PROBE) | set(probe_mod.PROBE2) | set(
        probe_mod.PROBE_DOCS
    )
    missing = battery - set(records)
    assert not missing, (
        f"{latest.name} misses battery queries {sorted(missing)} — re-run "
        "the probe batches"
    )
    bad = {
        n: r
        for n, r in records.items()
        if not r["ok"] and not r["allowed"]
    }
    assert not bad, (
        "non-allow-listed SUPER-LINEAR probe rows: "
        + ", ".join(
            f"{n} (t-ratio {r['t_ratio']}x vs bound {r['bound']}x)"
            for n, r in sorted(bad.items())
        )
    )


def test_probe_classify_is_self_explaining():
    """Round 11 (VERDICT r10 #5): the probe's raw-OR-adjusted pass rule is
    self-explaining — ok_via names the carrying criterion, and a raw-pass
    row with a sub-ADJ_FLOOR small side nulls the (noise) adjusted ratio
    instead of printing an over-bound number inside a green row."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "sweep_sf1_probe_c", repo / "tools" / "sweep_sf1_probe.py"
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    assert probe.ADJ_FLOOR == 0.5
    # the r10 dedup_exact shape: raw 6.15 passes, adj 17.22 over bound 12,
    # t_small 0.33 < floor -> ok via raw, adj reported null
    ok, via, adj = probe.classify(6.15, 17.22, 12.0, 0.33)
    assert (ok, via, adj) == (True, "raw", None)
    # adj is the carrying criterion -> it must be reported even sub-floor
    ok, via, adj = probe.classify(20.0, 4.0, 12.0, 0.4)
    assert (ok, via, adj) == (True, "adj", 4.0)
    # above the floor both numbers print
    ok, via, adj = probe.classify(6.0, 17.0, 12.0, 2.0)
    assert (ok, via, adj) == (True, "raw", 17.0)
    # genuine super-linear: not ok, no carrying criterion
    ok, via, adj = probe.classify(20.0, 18.0, 12.0, 2.0)
    assert (ok, via, adj) == (False, None, 18.0)


def test_bench_and_probe_batteries_reference_declared_queries():
    """bench.py filters HEADLINE through the registry (`n in qs`) and the
    probe indexes it directly — a renamed/retired query would silently
    drop a bench row (or crash the probe mid-battery). Pin every battery
    name to the declared contract."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    full = set(entrymod._queries_unordered())

    def _load(path, name):
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    bench = _load(repo / "bench.py", "bench_mod")
    missing = [n for n in bench.HEADLINE if n not in full]
    assert not missing, f"bench HEADLINE names not in contract: {missing}"

    probe = _load(repo / "tools" / "sweep_sf1_probe.py", "sweep_sf1_probe_t")
    for battery in (probe.PROBE, probe.PROBE2, probe.PROBE_DOCS):
        missing = [n for n in battery if n not in full]
        assert not missing, f"probe battery names not in contract: {missing}"
    # ALLOW entries must reference battery queries, not ghosts
    batt = set(probe.PROBE) | set(probe.PROBE2) | set(probe.PROBE_DOCS)
    ghosts = [n for n in probe.ALLOW if n not in batt]
    assert not ghosts, f"ALLOW entries outside the batteries: {ghosts}"
