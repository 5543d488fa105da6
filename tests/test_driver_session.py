"""Driver-harness parity: the package must work — and hash-match its
oracles — on a SparkSession it did NOT build.

Round 1 shipped a bug class where everything passed under
``get_spark()`` but died under the driver's own bare session
(nano-timestamp reads); round 2's residue was the same class
(``unix_millis`` on the TIMESTAMP_NTZ the driver's scan produced).
This test makes that class structurally unshippable: a SUBPROCESS
builds a minimal session — fresh JVM, none of our configs, and a
deliberately non-UTC timezone — and runs every previously-fragile
query end-to-end against its DuckDB oracle.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: queries with timestamp/array surfaces — the ones a session-dependent
#: regression would hit first — plus the flagship smoke
PROBE_QUERIES = [
    "flagship",
    "range_join",
    "join_asof",
    "events_window",
    "events_sessionize",
    "skew_safe_collect",
    "filter_predicate",
    # streaming entries run a full Structured Streaming job (source →
    # watermark/state → memory sink) — the watermark NTZ rejection was
    # a bare-session-only failure mode, so they belong in this probe
    "events_window_stream",
    "dedup_exact_stream",
    # round-4 window rotation: these enter the driver's checked window
    # having never faced its bare session; all carry timestamp or
    # session_window surfaces — the exact session-dependent risk class
    "join_asof_fwd",
    "events_window_sliding",
    "events_session_window",
    "kmv_ndistinct",
    # round-4 additions with timestamp surfaces
    "events_funnel",
    "tpch_q5_like",
]

_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# bare driver-style session: no package configs, non-UTC timezone
spark = (
    SparkSession.builder.master("local[4]")
    .appName("driver-parity-probe")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "America/New_York")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry_mod
from simple_rust_query_engine_spark.testing import compare, duckdb_conn

qs = entry_mod.queries()
oracles = entry_mod.oracle_sql()
con = duckdb_conn({sf_dir!r})
out = {{}}
for name in {names!r}:
    try:
        problems = compare(qs[name](spark, {sf_dir!r}), con, oracles[name])
        out[name] = problems
    except Exception as exc:
        out[name] = ["EXCEPTION: %s: %s" % (type(exc).__name__, exc)]
print("RESULT::" + json.dumps(out))
"""


def test_bare_session_oracle_parity():
    script = _SCRIPT.format(repo=REPO, sf_dir=SF_DIR, names=PROBE_QUERIES)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("RESULT::")]
    assert marker, f"probe produced no result\nstdout: {proc.stdout[-2000:]}\nstderr: {proc.stderr[-2000:]}"
    results = json.loads(marker[0][len("RESULT::"):])
    bad = {k: v for k, v in results.items() if v}
    assert not bad, f"bare-session mismatches: {bad}"


def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_bench_plausibility_gate():
    # r13: the per-query plausibility gate flags headline steady
    # readings > PLAUSIBLE_MAX x their checked-in gates-green
    # reference (a contention wave the canary probes missed), ignores
    # queries without a reference (adding queries can never break it),
    # and reports not-applicable when sf/cpus differ from the ref.
    # sf and cpus are passed explicitly, so both paths run on any host.
    m = _load_bench()
    ref = json.load(
        open(os.path.join(REPO, "docs", "BENCH_STEADY_REF.json"))
    )
    base = ref["steady"]["tpch_q1"]
    sf, cpus = str(ref["sf"]), int(ref["cpus"])

    out, ok = m._steady_outliers({"tpch_q1": base * 1.5}, sf, cpus)
    assert ok is True and out == {}
    out, ok = m._steady_outliers(
        {"tpch_q1": base * 5.0, "join_asof": ref["steady"]["join_asof"]},
        sf,
        cpus,
    )
    assert ok is False and list(out) == ["tpch_q1"]
    out, ok = m._steady_outliers({"query_without_ref": 99.0}, sf, cpus)
    assert ok is True and out == {}

    # a run at another sf or core count: gate reports N/A
    for other_sf, other_cpus in (("0.01", cpus), (sf, cpus + 1)):
        out, ok = m._steady_outliers(
            {"tpch_q1": base * 5.0}, other_sf, other_cpus
        )
        assert ok is None and out == {}


def test_bench_value_is_sum_of_queries(spark, tmp_path, capsys):
    # ``value``/``steady_total`` are the sums of the per-query dicts
    # printed next to them; the scaling rows are reported under
    # ``scaling_queries``, never folded into ``queries``.  A tiny query
    # set at the test sf; the host probes and the fresh-process
    # adopted column are stubbed, and BENCH_LOCAL.json goes to tmp.
    m = _load_bench()
    m.SF_DIR = SF_DIR
    m.BENCH_QUERIES = ["distinct", "agg_global"]
    m.EXTRA_QUERIES = ["topk", "limit_skip"]
    m.SCALING_QUERIES = ["topk"]
    m.run_adopted = lambda names: {"queries": {}, "total": 0.0}
    m._canary_sec = lambda: 1.0
    m._parallel_canary = lambda s: {"ratio": 1.0}
    m._git_provenance = lambda: {"git_sha": None, "git_dirty": None}
    m.__file__ = str(tmp_path / "bench.py")

    m.main()
    compact = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    full = json.load(open(tmp_path / "BENCH_LOCAL.json"))

    assert compact["value"] == round(sum(compact["queries"].values()), 4)
    assert full["steady_total"] == round(sum(full["steady_queries"].values()), 4)
    assert sorted(compact["queries"]) == ["agg_global", "distinct"]
    assert sorted(full["steady_queries"]) == ["agg_global", "distinct"]
    assert compact["scaling_queries"] == {"topk": full["extra_queries"]["topk"]}
    assert full["scaling_queries"] == compact["scaling_queries"]
