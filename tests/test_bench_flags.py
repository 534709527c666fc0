"""Noise-aware bench mechanics (round-9 VERDICT task 2): the committed
artifact must carry host-load evidence so "regression or host load?" is
answered by the JSON, not by a round of adjudication prose."""

from __future__ import annotations

import bench


def test_bench_lists_name_registry_queries():
    # a renamed registry query fails here, not when the sweep reaches it
    from radient_spark.queries import QUERIES

    assert bench.SWEEP_EXCLUDED <= set(QUERIES)
    assert set(bench.HEADLINE) <= set(QUERIES)
    assert bench.SWEEP_EXCLUDED.isdisjoint(bench.BENCH_QUERIES)
    assert bench.SWEEP_EXCLUDED | set(bench.BENCH_QUERIES) == set(QUERIES)


def test_contamination_threshold():
    # 32-core host: gate at 0.125 * 32 = 4.0
    assert not bench._contaminated(0.3, 32)
    assert not bench._contaminated(4.0, 32)
    assert bench._contaminated(4.01, 32)
    assert bench._contaminated(17.5, 32)
    # small host: absolute floor of 2.0, never sub-core paranoia
    assert not bench._contaminated(1.9, 4)
    assert bench._contaminated(2.1, 4)
    # /proc unavailable: cannot judge, leave unflagged
    assert not bench._contaminated(None, 32)


def test_loadavg_shape():
    la = bench._loadavg()
    # on this container /proc/loadavg exists; contract is 3 floats
    assert la == [] or (len(la) == 3 and all(x >= 0.0 for x in la))


def test_steal_fraction():
    # ticks: user nice system idle iowait irq softirq steal
    before = [100, 0, 50, 1000, 0, 0, 0, 10]
    # busy delta = 700 user + 100 system + 90 steal = 890; idle excluded
    after = [800, 0, 150, 5000, 0, 0, 0, 100]
    frac = bench._steal_fraction(before, after)
    assert abs(frac - 90 / 890) < 1e-9
    # threshold semantics: 10% steal flags, 1% does not
    assert frac > bench._CONTAMINATION_STEAL_FRACTION
    quiet = bench._steal_fraction(before, [1000, 0, 150, 5000, 0, 0, 0, 19])
    assert quiet < bench._CONTAMINATION_STEAL_FRACTION
    # missing /proc or zero busy time: cannot judge
    assert bench._steal_fraction(None, after) is None
    assert bench._steal_fraction(before, None) is None
    assert bench._steal_fraction(before, before) == 0.0


def test_cpu_ticks_shape():
    t = bench._cpu_ticks()
    assert t is None or (len(t) == 8 and all(x >= 0 for x in t))


def test_steal_fraction_excludes_iowait():
    # ADVICE r10: iowait is time the CPU sat free while a task blocked on
    # IO — counting it as busy dilutes the steal signal on IO-heavy
    # sweeps. busy delta here = 100 user + 100 steal (900 iowait and
    # 1000 idle both excluded) -> 50%, not 100/1100.
    before = [0, 0, 0, 0, 0, 0, 0, 0]
    after = [100, 0, 0, 1000, 900, 0, 0, 100]
    assert abs(bench._steal_fraction(before, after) - 0.5) < 1e-9


def test_cpu_ticks_short_line(tmp_path, monkeypatch):
    # A /proc/stat cpu line with <8 fields must yield None, not a later
    # IndexError in _steal_fraction (ADVICE r10).
    p = tmp_path / "stat"
    p.write_text("cpu 1 2 3 4\n")
    real_open = open
    monkeypatch.setattr(
        "builtins.open",
        lambda f, *a, **k: real_open(p if f == "/proc/stat" else f, *a, **k),
    )
    assert bench._cpu_ticks() is None


def test_watch_accepts_clean_and_rejects_contaminated(monkeypatch):
    # watch() must only promote an artifact whose own end-to-end capture
    # says contaminated=false, retrying otherwise.
    outcomes = iter([True, False])  # first sweep contaminated, second clean
    runs = []

    def fake_main():
        c = next(outcomes)
        runs.append(c)
        return {
            "contaminated": c,
            "steal_fraction": 0.2 if c else 0.001,
            "foreign_cpu_fraction": 0.0,
            "loadavg_before": [0.0, 0.0, 0.0],
        }

    monkeypatch.setattr(bench, "main", fake_main)
    monkeypatch.setattr(bench, "_quiet_now", lambda **k: (True, "quiet"))
    out = bench.watch(max_attempts=3, poll_sec=0)
    assert out is not None and out["contaminated"] is False
    assert runs == [True, False]


def test_watch_exhausts(monkeypatch):
    monkeypatch.setattr(
        bench,
        "main",
        lambda: {
            "contaminated": True,
            "steal_fraction": 0.3,
            "foreign_cpu_fraction": 0.0,
            "loadavg_before": [9.0, 9.0, 9.0],
        },
    )
    monkeypatch.setattr(bench, "_quiet_now", lambda **k: (True, "quiet"))
    assert bench.watch(max_attempts=2, poll_sec=0) is None


def test_watch_never_quiet_terminates(monkeypatch):
    # ADVICE r11: the quiet-wait must be bounded — on a never-quiet host
    # watch() forfeits each attempt after max_polls_per_attempt polls and
    # terminates with the exhausted verdict instead of polling forever.
    ran = []
    monkeypatch.setattr(bench, "main", lambda: ran.append(1) or {})
    monkeypatch.setattr(
        bench, "_quiet_now", lambda **k: (False, "steal 50% of capacity")
    )
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    assert bench.watch(max_attempts=2, poll_sec=0, max_polls_per_attempt=3) is None
    assert ran == []  # no sweep ever launched into a dirty window


def test_foreign_fraction_math():
    # (busy - steal - own)/(busy - steal): in-guest neighbor detection
    # (round 11: a concurrent suite run inflated a sweep invisibly to
    # loadavg-before and steal)
    assert abs(bench._foreign_fraction(1000, 50, 900) - 50 / 950) < 1e-12
    assert bench._foreign_fraction(1000, 50, 2000) == 0.0  # slop clamps
    assert bench._foreign_fraction(0, 0, 0) == 0.0
    assert bench._foreign_fraction(None, 0, 0) is None
    assert bench._foreign_fraction(10, None, 0) is None
    assert bench._foreign_fraction(10, 0, None) is None
    # threshold semantics
    assert bench._foreign_fraction(1000, 0, 800) > bench._CONTAMINATION_FOREIGN_FRACTION
    assert bench._foreign_fraction(1000, 0, 950) < bench._CONTAMINATION_FOREIGN_FRACTION


def test_own_tree_ticks_monotone():
    import time

    a = bench._own_tree_ticks()
    assert a is None or a >= 0
    start = time.process_time()
    x = 0
    while time.process_time() - start < 0.2:
        x += 1
    b = bench._own_tree_ticks()
    if a is not None and b is not None:
        assert b >= a


def test_tick_census_shape():
    c = bench._tick_census()
    # (own_tree, kernel) — kernel kworkers flushing our writes are not a
    # neighbor, so they ride the own side of the foreign calculation
    assert c is None or (len(c) == 2 and c[0] >= 0 and c[1] >= 0)


def test_ratio_vs_committed_block(tmp_path):
    # VERDICT r11 #2: every artifact carries a machine-readable
    # no-regression bound vs the newest committed CLEAN artifact.
    import json as _json

    # r9: clean but older; r10: clean and newest -> chosen; r11: newer
    # but contaminated -> skipped
    (tmp_path / "BENCH_local_r9.json").write_text(
        _json.dumps({"contaminated": False, "sf": 0.1, "queries": {"qa": 99.0}})
    )
    (tmp_path / "BENCH_local_r10.json").write_text(
        _json.dumps(
            {
                "contaminated": False,
                "sf": 0.1,
                "queries": {"qa": 2.0, "qb": 4.0, "qd": 1.0},
                "queries_warm_min": {"qa": 1.0},  # warm-min wins over sweep
            }
        )
    )
    (tmp_path / "BENCH_local_r11.json").write_text(
        _json.dumps({"contaminated": True, "sf": 0.1, "queries": {"qa": 50.0}})
    )
    # r12: clean and newest but at a DIFFERENT sf -> skipped (a cross-sf
    # ratio is meaningless)
    (tmp_path / "BENCH_local_r12.json").write_text(
        _json.dumps({"contaminated": False, "sf": 0.001, "queries": {"qa": 0.1}})
    )
    best = {"qa": 1.5, "qb": 2.0, "qc": 7.0}  # qc has no committed twin
    out = bench._ratio_vs_committed(best, 0.1, ref_dir=str(tmp_path))
    assert out["reference"] == "BENCH_local_r10.json"
    assert out["per_query"] == {"qa": 1.5, "qb": 0.5}
    assert out["median"] == 1.0
    assert out["n"] == 2

    # no clean artifact anywhere -> None, never a crash
    for p in tmp_path.glob("BENCH_local_r*.json"):
        p.write_text(_json.dumps({"contaminated": True, "queries": {}}))
    assert bench._ratio_vs_committed(best, 0.1, ref_dir=str(tmp_path)) is None


def test_plan_sha_stable_and_config_sensitive(spark, sf_dir):
    # VERDICT r11 #7: plan fingerprints detect plan regressions
    # independently of timing. Same query twice -> same sha (exprId
    # renumbering normalized out); a forced join-strategy config change
    # -> different sha.
    from radient_spark.queries import QUERIES

    fn, _ = QUERIES["q13_customer_order_counts"]
    a = bench._plan_sha(fn(spark, sf_dir))
    b = bench._plan_sha(fn(spark, sf_dir))
    assert a is not None and a == b

    # lambda-API variables (x_<n>) and RDD ids come from session-wide
    # counters, so the same query built twice renames them
    from pyspark.sql import functions as F

    def lam():
        return spark.range(10).select(
            F.transform(F.array("id", "id"), lambda x: x + 1)
        )

    def rdd():
        return spark.createDataFrame(
            spark.sparkContext.parallelize([(1,)]), "k int"
        )

    for build in (lam, rdd):
        a2 = bench._plan_sha(build())
        assert a2 is not None and a2 == bench._plan_sha(build())

    # a frame persisted and probed while building caches an executed
    # adaptive plan, whose query stage and codegen span numbers follow
    # the order its stages finished: only the numbering may change
    import re
    from types import SimpleNamespace as NS

    def with_text(txt):
        utils = NS(explainString=lambda qe, mode: txt)
        jvm = NS(org=NS(apache=NS(spark=NS(sql=NS(api=NS(python=NS(
            PythonSQLUtils=utils)))))))
        return NS(sparkSession=NS(_jvm=jvm), _jdf=NS(queryExecution=lambda: None))

    counts = spark.range(1000).selectExpr("id % 7 AS g").groupBy("g").count()
    counts = counts.persist()
    counts.stat.approxQuantile("count", [0.5], 0.01)
    probed = counts.join(spark.range(7).withColumnRenamed("id", "g"), "g")
    jvm = spark._jvm
    txt = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    counts.unpersist()
    assert "QueryStage" in txt and "[codegen id : " in txt
    stage = r"(QueryStage\nOutput \[\d+\]: \[[^\n]*\]\nArguments: )(\d+)"
    renumbered = re.sub(r"(\[codegen id : )(\d+)", lambda m: m[1] + str(99 - int(m[2])), txt)
    renumbered = re.sub(stage, lambda m: m[1] + str(99 - int(m[2])), renumbered)
    assert renumbered != txt
    assert bench._plan_sha(with_text(renumbered)) == bench._plan_sha(with_text(txt))
    # which operators share a codegen span is structure: merging spans
    # moves the sha
    merged = re.sub(r"\[codegen id : \d+", "[codegen id : 1", txt)
    assert bench._plan_sha(with_text(merged)) != bench._plan_sha(with_text(txt))

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c = bench._plan_sha(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert c is not None and c != a
