"""Plan-regression pins for the generate-filter inlining pathology
(tools/plan_audit.py is the full-catalog gate; this is the fast
in-suite subset over the queries that were actually pathological
before their fences landed, plus exact-count pins for a sample of
the adjudicated allowlist)."""

import pytest

from featurestore_spark.queries import QUERIES
from tools.plan_audit import ALLOWLIST, flagged_filters

SF = "/root/testdata/sf0.001"

# queries whose plans carried DUPLICATED HOF evaluations before the
# r12 fences — a regression here means a fence was dropped
FENCED_CLEAN = [
    # r14: the crawl-frontier audit funnel cleared via the
    # crawl_pipeline keep_stages fence (the verdict fold no longer
    # re-inlines into a Filter per funnel branch)
    "q_crawl_frontier",
    # r13: the IVF pair cleared via the native array cast (no HOF to
    # duplicate) — pinned clean alongside the fenced queries
    "q_ivf_topk",
    "q_ivf_serve",
    "q_lid_classify",
    "q_nb_classify",
    "q_quality_classify",
    "q_main_content",
    "q_sitemap",
    "q_bm25_topk",
    "q_bm25_index_topk",
    "q_domain_pagerank",
    "q_url_dedup",
    "q_decontaminate",
    "q_boilerplate",
    "q_ngram_novelty",
    "q_dsir_weights",
]

# adjudicated single-eval predicates: pinned at their exact counts so
# growth is visible (sample — the tool covers the full allowlist).
# (r14: q_crawl_frontier moved to FENCED_CLEAN — the audit-mode fence
# cleared its 4 adjudicated fold-in-Filter entries.)
ALLOWED_SAMPLE = ["q_web_funnel", "q_fetch_schedule"]


def _flags(spark, name):
    plan = (
        QUERIES[name]
        .spark(spark, SF)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    return flagged_filters(plan)


@pytest.mark.parametrize("name", FENCED_CLEAN)
def test_fenced_query_has_no_hof_filters(spark, name):
    assert _flags(spark, name) == 0, (
        f"{name}: an HOF expression re-appeared inside a Filter — "
        "a plan_fence was probably dropped (see tools/plan_audit.py)"
    )


@pytest.mark.parametrize("name", ALLOWED_SAMPLE)
def test_adjudicated_query_stays_at_allowlist_count(spark, name):
    assert _flags(spark, name) == ALLOWLIST[name], (
        f"{name}: HOF-carrying Filter count moved off its adjudicated "
        "value — re-adjudicate in tools/plan_audit.py"
    )


def test_bench_flag_for_solo_selection_rule():
    """VERDICT r13 #3: the mechanized suite-noise adjudication flags a
    query for an automatic solo re-measurement only when BOTH signals
    fire — >1.2x vs the previous sidecar AND a suite_noise entry this
    run. A steady regression (no noise entry) or a noisy-but-stable
    query must not be re-measured away; queries new to the sidecar
    have no baseline to flag against."""
    from bench import flag_for_solo

    timings = {"a": 2.5, "b": 2.5, "c": 2.5, "d": 2.5}
    noise = {"a": 1.4, "c": 1.3, "d": 1.5}
    prev = {"a": 1.0, "b": 1.0, "c": 2.4}
    # a: moved 2.5x AND noisy -> flagged
    # b: moved 2.5x but both passes agreed -> genuine, NOT flagged
    # c: noisy but only 1.04x vs prev -> stable, NOT flagged
    # d: noisy but absent from prev sidecar -> no baseline, NOT flagged
    assert flag_for_solo(timings, noise, prev) == ["a"]
    assert flag_for_solo(timings, noise, {}) == []


def test_bench_prev_baseline_requires_same_run_shape(tmp_path):
    """The worst-movers digest and the solo re-runs compare against the
    previous sidecar only when it was written at the same scale factor
    and core count; any other sidecar reads as no baseline."""
    import json

    from bench import prev_baseline

    sidecar = tmp_path / "bench_full.json"
    assert prev_baseline(str(sidecar), 0.1, 32) == ({}, 0.0)
    sidecar.write_text(json.dumps({
        "sf": 0.1, "default_parallelism": 32,
        "queries": {"q": 1.5}, "tpch_control_wall": 11.9,
    }))
    assert prev_baseline(str(sidecar), 0.1, 32) == ({"q": 1.5}, 11.9)
    assert prev_baseline(str(sidecar), 0.001, 32) == ({}, 0.0)
    assert prev_baseline(str(sidecar), 0.1, 4) == ({}, 0.0)
